"""RuleIR -> Spark SQL expression text.

Turns a list of :class:`RuleIR` into the text of the engine's match
projections:

- a shared *extraction plan* (which once-per-event columns any rule needs:
  JSON flatten map, Parse_IP positional cache, per-type hash columns,
  the v4 halves of every ip source) — the Spark analog of the
  reference's parse-once caching (reference
  src/processors/engine.c:736-806);
- a per-rule *cheap predicate* (prefilters + content + meta_content
  + pcre + json matchers + event_id + alert_time — everything evaluable
  before field extraction), evaluation order mirroring the engine's
  cheap-to-expensive discipline (reference
  doc/source/high-performance.rst:79-94, src/processors/engine.c:272-276);
- a per-rule *alert struct* carrying the final match boolean (cheap AND
  flow AND localhost-corrected extraction) plus all extracted fields the
  sinks need (reference Send_Alert src/send-alert.c:50-119);
- driver-side correlation specs (threshold/after/xbits) and routing
  metadata consumed by :mod:`sagan_spark.pipeline.correlate` / ``route``.

Everything is SQL text that :meth:`SaganSparkEngine.match_hits` turns
into Columns with one ``F.expr``/``SELECT`` per projection, so building
the plan costs a constant number of py4j round trips, whatever the rule
count (a Column tree cost ~290 per rule).  The text keeps the shape
rules of :mod:`sagan_spark.functions.textmatch` (flat AND lists,
balanced OR trees, every literal through ``lit``, every column through
``ident``), and no rule's expression repeats a long operand: every ip
value that comparisons read is projected once per row per *ip source*
(the rule's json_map key and Parse_IP position for that side, see
:meth:`RuleCompiler.ip_source`) and referenced by column name.  Spark's
parser caches its decisions per JVM, and long repeated operands inside
parenthesized groups grew that cache by tens of MB per rule.

The rule fan-out is columnar: all rules become parallel boolean columns
inside one projection, so Catalyst CSEs shared subexpressions and
whole-stage codegen fuses the entire ruleset into one pass over the data
— there is no per-rule loop at execution time.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from sagan_spark.functions import textmatch as tm
from sagan_spark.functions.extract import (
    DEFAULT_SAGAN_PORT,
    hash_regex,
    int_to_biased_hilo,
)
from sagan_spark.functions.textmatch import all_of, any_of, ident, isin, lit, when
from sagan_spark.rules.ir import CidrGroup, PortGroup, RuleIR


@dataclass
class EngineConfig:
    """Engine-level knobs (reference etc/sagan.yaml 'sagan-core')."""

    sagan_port: int = DEFAULT_SAGAN_PORT  # reference src/config-yaml.c:227
    sagan_host: str = "0.0.0.0"
    # substring ignore-list applied pre-engine (F14, reference src/ignore.c:31-50)
    ignore_list: list[str] = field(default_factory=list)
    # enrichment build sides (J1/J2/J4): compiled once on the driver,
    # inlined as literal-array probes (see pipeline/enrich.py for the
    # broadcast-join scale path when feeds outgrow plan inlining)
    blacklist_cidrs: list[str] = field(default_factory=list)
    geoip_ranges: list[tuple[str, str]] = field(default_factory=list)  # (cidr, CC)
    intel_sets: dict[str, list[str]] = field(default_factory=dict)  # type -> entries
    # protocol.map analogs (J5/P5, reference src/protocol-map.c): keyword
    # -> proto, probed case-insensitively in entry order, 0 on miss
    protocol_map_message: dict[str, int] = field(
        default_factory=lambda: {"tcp": 6, "udp": 17, "icmp": 1}
    )
    protocol_map_program: dict[str, int] = field(default_factory=dict)
    # J3 bluedot static intel snapshot (reference src/processors/bluedot.c
    # live HTTP + cache; here a frozen feed): type -> {indicator: category}
    # with types ip_reputation / file_hash / url / filename / ja3
    bluedot_intel: dict[str, dict[str, str]] = field(default_factory=dict)
    # skew: sample the correlation key histogram and give hot
    # (sid, track-key) groups dedicated shuffle slots (pipeline/skew.py)
    hot_key_isolation: bool = False
    # offload gate (reference src/offload.c): callable
    # (location, [payload, ...]) -> [bool, ...] evaluated Arrow-batched
    # on candidate rows of rules carrying `offload:`.  None = use the
    # urllib default (one POST per payload, response must contain
    # "true", connection failure = False — the reference's libcurl
    # behavior).  Tests/offline runs inject a fake.
    offload_poster: object = None


@dataclass
class EventCols:
    """SQL text of the event columns the compiler binds against: the
    canonical frame's columns, plus the engine's extraction columns in
    the phase-2 binding."""

    event_key: str = ident("event_key")  # unique per event (url); deterministic tiebreaker
    ts: str = ident("ts")  # event time (warc_ts)
    host: str = ident("host")  # syslog_host analog
    program: str = ident("program")
    facility: str = ident("facility")
    level: str = ident("level")
    tag: str = ident("tag")
    priority: str = ident("priority")  # syslog_priority (reference src/sagan.h:387)
    message: str = ident("message")  # the text all matching runs on
    json: str | None = None  # map<string,string> (flattened)
    ips: str | None = None  # array<struct<ip,port,hi,lo>>
    ip_proto: str | None = None  # proto token from Parse_IP
    hash_cols: dict[str, str] = field(default_factory=dict)  # md5/sha1/sha256
    # SHARED v4 (hi, lo) halves of the host fallback and of each json_map
    # ip key, projected once per row by the engine (one regex parse per
    # source; see RuleCompiler.v4_projection)
    host_v4: tuple[str, str] | None = None
    jm_v4: dict[str, tuple[str, str]] = field(default_factory=dict)
    # per non-host ip source: (resolved ip string, hi, lo) columns,
    # projected once per row (RuleCompiler.ip_source_projection)
    ip_cols: dict[tuple, tuple[str, str, str]] = field(default_factory=dict)


# ---------------------------------------------------------------------------
# per-rule building blocks
# ---------------------------------------------------------------------------


def _json_value(cols: EventCols, key: str) -> str:
    return f"try_element_at({cols.json}, {lit(key)})"


def _json_map_key(r: RuleIR, fld: str) -> str | None:
    for jm in r.json_maps:
        if jm.field == fld:
            return jm.key
    return None


def _json_map_value(r: RuleIR, cols: EventCols, fld: str) -> str | None:
    key = _json_map_key(r, fld)
    if cols.json is None or key is None:
        return None
    return _json_value(cols, key)


def _rule_program(r: RuleIR, cols: EventCols) -> str:
    """Per-rule view of the program: json_map 'program' override
    (reference overrides syslog_program from the decoded JSON before
    the program check, src/processors/engine.c:323-488)."""
    jm = _json_map_value(r, cols, "program")
    return f"coalesce({jm}, {cols.program})" if jm is not None else cols.program


def _rule_message(r: RuleIR, cols: EventCols) -> str:
    """Per-rule view of the message: json_map 'message' override
    (reference src/processors/engine.c:323-488) then append_program
    (reference src/processors/engine.c:593-627, 'msg | program')."""
    msg = cols.message
    for jm in r.json_maps:
        if jm.field == "message" and cols.json is not None:
            msg = f"coalesce({_json_value(cols, jm.key)}, {msg})"
    if r.append_program:
        prog = _rule_program(r, cols)
        msg = when(
            f"{prog} IS NOT NULL AND {prog} != ''", f"concat({msg}, ' | ', {prog})", msg
        )
    return msg


def _parsed_hit(cols: EventCols, pos: int) -> str | None:
    """lookup_cache[pos-1] when status==true (engine.c:812-843); null
    when out of range."""
    return f"try_element_at({cols.ips}, {pos})" if pos else None


def _active_ip(ip: str) -> str:
    """The complement of _localhost_fix's replace condition: a string
    that survives as the final ip (non-null, non-empty, not localhost —
    reference is_notlocalhost src/util.c:1398-1460)."""
    return f"{ip} IS NOT NULL AND {ip} != '' AND NOT (startswith({ip}, '127.') OR {ip} = '::1')"


def _localhost_fix(ip: str, host: str) -> str:
    """Never emit localhost as src/dst — replace with syslog_host
    (reference src/processors/engine.c:856-877)."""
    return when(
        f"{ip} IS NULL OR {ip} = '' OR startswith({ip}, '127.') OR {ip} = '::1'", host, ip
    )


def _b64_decode(v: str) -> str:
    """P10: decode a base64 JSON value before matching; null on invalid
    input (reference src/json-content.c:79-84 — the C quietly matches
    the decode buffer; try_to_binary keeps ANSI mode from throwing)."""
    return f"decode(try_to_binary({v}, 'base64'), 'UTF-8')"


def _json_predicates(r: RuleIR, cols: EventCols) -> str:
    """json_content / json_strstr / json_pcre / json_meta_content
    (reference src/json-content.c:47-172, src/json-pcre.c:46-103,
    src/json-meta-content.c).  Missing key => rule fails, even for
    negated matches (reference src/json-content.c:157-163)."""
    if cols.json is None:
        if r.json_contents or r.json_pcres or r.json_meta_contents:
            return "false"
        return "true"
    terms = []
    for jc in r.json_contents:
        v = _json_value(cols, jc.key)
        val = _b64_decode(v) if r.json_decode_base64 else v
        hay = f"lower({val})" if jc.nocase else val
        m = f"contains({hay}, {lit(jc.value)})" if jc.strstr else f"{hay} = {lit(jc.value)}"
        m = f"NOT {m}" if jc.negated else m
        terms += [f"{v} IS NOT NULL", f"coalesce({m}, false)"]
    for jp in r.json_pcres:
        v = _json_value(cols, jp.key)
        val = _b64_decode(v) if r.json_decode_base64_pcre else v
        terms.append(f"coalesce(rlike({val}, {lit(jp.python_flags_pattern)}), false)")
    for jm in r.json_meta_contents:
        v = _json_value(cols, jm.key)
        val = _b64_decode(v) if r.json_decode_base64_meta else v
        hay = f"lower({val})" if jm.nocase else val
        # default strcmp EQUALITY; json_meta_contains -> substring
        # (reference Search_Case src/search-type.c:39-67 via
        # src/json-meta-content.c:146, flag src/rules.c:2285-2295)
        any_hit = any_of(
            f"contains({hay}, {lit(x)})" if jm.strstr else f"{hay} = {lit(x)}"
            for x in jm.literals
        )
        m = f"NOT {any_hit}" if jm.negated else any_hit
        terms += [f"{v} IS NOT NULL", f"coalesce({m}, false)"]
    return all_of(terms)


def _cidr_group_predicate(hi: str, lo: str, groups: list[CidrGroup]) -> str:
    """CIDR membership on biased (hi, lo) 128-bit halves.

    Positive entries OR together; negated entries are AND NOT
    (reference Check_Flow src/flow.c:48-504)."""
    from sagan_spark.pipeline.enrich import range_test

    def in_range(g: CidrGroup) -> str:
        bounds = (*int_to_biased_hilo(g.lo), *int_to_biased_hilo(g.hi))
        return range_test(hi, lo, *(lit(b) for b in bounds))

    positives = [g for g in groups if not g.negated]
    terms = [any_of(in_range(g) for g in positives)] if positives else []
    terms += [f"NOT coalesce({in_range(g)}, false)" for g in groups if g.negated]
    return all_of(terms)


def _port_group_predicate(port: str, groups: list[PortGroup]) -> str:
    def between(g: PortGroup) -> str:
        return f"{port} >= {g.lo} AND {port} <= {g.hi}"

    positives = [g for g in groups if not g.negated]
    terms = [any_of(between(g) for g in positives)] if positives else []
    terms += [f"NOT coalesce({between(g)}, false)" for g in groups if g.negated]
    return all_of(terms)


class RuleCompiler:
    """Compile a ruleset once on the driver; reuse across batches."""

    def __init__(self, rules: list[RuleIR], config: EngineConfig | None = None):
        self.rules = rules
        self.config = config or EngineConfig()

    # -- extraction plan ----------------------------------------------------

    @property
    def needs_json(self) -> bool:
        return any(r.needs_json for r in self.rules)

    @property
    def needs_parse_ip(self) -> bool:
        return any(r.uses_ip_cache for r in self.rules)

    @property
    def needed_hashes(self) -> set[str]:
        return {r.parse_hash for r in self.rules if r.parse_hash}

    def hash_extraction_cols(self, msg: str) -> dict[str, str]:
        """Built-in regexp_extract equivalents of Parse_Hash (JVM-side)
        (reference src/parsers/hash.c:41-153)."""
        return {
            h: f"regexp_extract({msg}, {lit(hash_regex(h))}, 1)"
            for h in self.needed_hashes
        }

    # -- predicates ----------------------------------------------------------

    def cheap_predicate(self, r: RuleIR, cols: EventCols) -> str:
        """Everything evaluable without Parse_IP, in engine order
        (reference src/processors/engine.c:492-787)."""
        msg = _rule_message(r, cols)
        terms = [
            f"{cols.message} IS NOT NULL",  # F13
            f"length({cols.message}) > 0",
            tm.program_predicate(_rule_program(r, cols), r.programs),  # F1
            tm.isin_predicate(cols.facility, r.facilities),  # F2
            tm.isin_predicate(cols.level, r.levels),
            tm.isin_predicate(cols.tag, r.tags),
            tm.isin_predicate(cols.priority, r.syslog_priorities),
        ]
        if r.contents:
            terms.append(tm.content_predicate(msg, r.contents))  # F3
        if r.meta_contents:
            terms.append(tm.meta_content_predicate(msg, r.meta_contents))  # F5
        if r.pcres:
            terms.append(tm.pcre_predicate(msg, r.pcres))  # F4
        terms.append(_json_predicates(r, cols))  # F6-F8
        if r.event_ids:
            decoded = self._decoded_event_id(r, cols)
            terms.append(tm.event_id_predicate(msg, decoded, r.event_ids))  # F9
        if r.alert_time is not None:
            terms.append(tm.alert_time_predicate(cols.ts, r.alert_time))  # F11
        return all_of(terms)

    def _decoded_event_id(self, r: RuleIR, cols: EventCols) -> str:
        jm = _json_map_value(r, cols, "event_id")
        return jm if jm is not None else "''"

    # -- shared extraction columns (projected once per row) -----------------

    @property
    def ip_json_map_keys(self) -> list[str]:
        """Distinct json_map keys feeding src_ip/dst_ip across the
        ruleset — the engine projects one shared v4 (hi, lo) column
        pair per key (plus one for the host fallback)."""
        return sorted(
            {
                jm.key
                for r in self.rules
                for jm in r.json_maps
                if jm.field in ("src_ip", "dst_ip")
            }
        )

    @staticmethod
    def ip_source(r: RuleIR, side: str) -> tuple[str | None, int]:
        """Where the rule's ``side`` ("src"/"dst") ip comes from: its
        json_map key (or None) and its Parse_IP position (0: none).
        ``(None, 0)`` is the syslog host alone."""
        return _json_map_key(r, f"{side}_ip"), max(getattr(r, f"parse_{side}_ip_pos"), 0)

    @property
    def ip_sources(self) -> list[tuple[str | None, int]]:
        """The ruleset's distinct ip sources other than the host alone;
        rules and sides that share one read the same projected columns."""
        found = {self.ip_source(r, side) for r in self.rules for side in ("src", "dst")}
        found.discard((None, 0))
        return sorted(found, key=lambda s: (s[0] or "", s[1]))

    def v4_projection(self, cols: EventCols) -> list[str]:
        """``expr AS name`` items of the shared v4 halves: ONE string
        parse per row per distinct ip string source (host fallback + each
        json_map ip key), named as ``cols.host_v4`` / ``cols.jm_v4``."""
        from sagan_spark.pipeline.enrich import v4_hilo_cols

        sources = [(cols.host_v4, cols.host)] + [
            (cols.jm_v4[k], _json_value(cols, k)) for k in self.ip_json_map_keys
        ]
        return [
            f"{expr} AS {name}"
            for names, ip in sources
            for expr, name in zip(v4_hilo_cols(ip), names)
        ]

    def ip_source_projection(self, cols: EventCols) -> list[str]:
        """``expr AS name`` items of every ip source's final string and
        (hi, lo) halves, named as ``cols.ip_cols``.  Each value is
        null-safe, so evaluating it on a row no rule matches raises no
        error; rules read them by name instead of repeating the
        expression in every comparison and alert field."""
        items = []
        for src, names in cols.ip_cols.items():
            jm_key, pos = src
            jm = _json_value(cols, jm_key) if jm_key is not None else None
            hit = _parsed_hit(cols, pos)
            hit_ip = f"{hit}.{ident('ip')}" if hit is not None else None
            ip = [c for c in (jm, hit_ip) if c is not None]
            resolved = _localhost_fix(f"coalesce({', '.join(ip)}, {cols.host})", cols.host)
            hi, lo = self._ip_bits(jm, jm_key, hit, cols)
            items += [f"{e} AS {n}" for e, n in zip((resolved, hi, lo), names)]
        return items

    def _ip_bits(self, jm: str | None, jm_key: str | None, hit: str | None,
                 cols: EventCols) -> tuple[str, str]:
        """(hi, lo) of the FINAL resolved ip string with the positional
        hit's halves as the non-v4 fallback — semantically
        coalesce(v4_hilo(localhost_fix(coalesce(jm, hit.ip, host))),
        hit.hi/lo), but built as branches over the SHARED v4 columns
        (cols.host_v4 / cols.jm_v4) so no string parse is repeated per
        source.  Key identity: for an active hit, v4_hilo(hit.ip) IS
        (hit.hi, hit.lo) when hit.ip is v4 (same mapped-base+bias
        formula, extract.ip_to_int), and NULL when v6 — either way the
        coalesce resolves to the hit's own halves.  Inlining 8
        regexp_extract per rule side here instead blew the
        whole-stage-codegen budget and cost 4x end-to-end (round 2)."""
        jm_v4 = cols.jm_v4[jm_key] if jm is not None else None
        hit_ip = f"{hit}.{ident('ip')}" if hit is not None else None

        def side(part: int) -> str:
            host_half = cols.host_v4[part]
            if hit is None:
                return when(_active_ip(jm), jm_v4[part], host_half) if jm else host_half
            hit_half = f"{hit}.{ident('hi' if part == 0 else 'lo')}"
            # final-string-is-host branch: host's v4 bits, else the hit
            # fallback (bug-compatible with the coalesce form: a
            # localhost hit's halves leak through when host is not v4)
            fb = f"coalesce({host_half}, {hit_half})"
            if jm is None:
                return when(_active_ip(hit_ip), hit_half, fb)
            # jm active but not v4 (e.g. v6): the hit's halves are
            # bits of a DIFFERENT address unless the strings agree —
            # only borrow them on equality, else NULL (fail-closed,
            # like a hostname; reference IP2Bit parses the resolved
            # v6 itself, a path we take only via the positional hit)
            return (
                f"CASE WHEN {_active_ip(jm)} THEN coalesce({jm_v4[part]}, "
                f"{when(f'{jm} = {hit_ip}', hit_half)}) "
                f"WHEN {jm} IS NULL AND {_active_ip(hit_ip)} THEN {hit_half} "
                f"ELSE {fb} END"
            )

        return side(0), side(1)

    # -- extraction (per rule, evaluated on candidate subset) ----------------

    def extraction_exprs(self, r: RuleIR, cols: EventCols) -> dict[str, str]:
        """Final per-rule field values, replicating engine.c:788-921 order:
        json_map/normalize wins; else Parse_IP positional cache; else
        syslog_host. default_src/dst_port overrides a Parse_IP port when no
        json port was decoded (port_*_is_valid only set by decode);
        default_proto overrides everything.

        The ip strings and their hi/lo bits come from the shared
        ip-source columns (host alone: the host column, whose localhost
        fix is itself).  hi/lo feed flow/blacklist/geoip checks: derived
        from the FINAL ip string (reference IP2Bit on the resolved
        value, engine.c:852) — json_map values and dotted-quad host
        fallbacks get real bits; the positional hit's precomputed halves
        cover v6.  A non-IP final string (hostname) leaves NULL halves:
        positive CIDR groups fail, negated ones pass — the same outcomes
        as the reference's zeroed-bits fallback."""
        out: dict[str, str] = {}
        hits = {}
        for side in ("src", "dst"):
            src = self.ip_source(r, side)
            if src == (None, 0):
                ip, hi, lo = cols.host, *cols.host_v4
            else:
                ip, hi, lo = cols.ip_cols[src]
            out[f"{side}_ip"], out[f"{side}_hi"], out[f"{side}_lo"] = ip, hi, lo
            hits[side] = _parsed_hit(cols, src[1])

        def port_expr(side: str, default_port: int) -> str:
            hit = hits[side]
            if default_port:  # default overrides Parse_IP port (engine.c:905-918)
                rest = lit(default_port)
            elif hit is not None:
                rest = f"coalesce({hit}.{ident('port')}, {lit(self.config.sagan_port)})"
            else:
                rest = lit(self.config.sagan_port)
            jm = _json_map_value(r, cols, f"{side}_port")
            return f"coalesce(try_cast({jm} AS INT), {rest})" if jm is not None else rest

        out["src_port"] = port_expr("src", r.default_src_port)
        out["dst_port"] = port_expr("dst", r.default_dst_port)

        # proto, replicating engine.c:893-921 assignment order exactly:
        # Parse_IP literal token -> parse_proto(message) overwrites (0 on
        # miss, proto.c:51-107) -> parse_proto_program(program) overwrites
        # -> default_proto overwrites unconditionally when set
        # json_map proto wins over the Parse_IP literal token when both
        # exist (reference: normalization always overrides parse_*
        # unless the decode failed, engine.c:794-806)
        jm_proto = _json_map_value(r, cols, "proto")
        if cols.ip_proto is not None and r.needs_parse_ip:
            base = f"coalesce({cols.ip_proto}, 0)"
        else:
            base = "0"
        proto = f"coalesce(try_cast({jm_proto} AS INT), {base})" if jm_proto is not None else base
        if r.parse_proto and self.config.protocol_map_message:
            proto = self._proto_probe(cols.message, self.config.protocol_map_message)
        if r.parse_proto_program and (
            self.config.protocol_map_program or self.config.protocol_map_message
        ):
            pm = self.config.protocol_map_program or self.config.protocol_map_message
            proto = self._proto_probe(_rule_program(r, cols), pm)
        if r.default_proto:
            proto = lit(r.default_proto)
        out["proto"] = proto

        jm_user = _json_map_value(r, cols, "username")
        out["username"] = jm_user if jm_user is not None else "''"

        decoded = self._decoded_event_id(r, cols)
        if r.event_ids:
            msg = _rule_message(r, cols)
            out["event_id"] = tm.event_id_extract(msg, decoded, r.event_ids)
        else:
            out["event_id"] = decoded

        for h in ("md5", "sha1", "sha256"):
            if r.parse_hash == h and h in cols.hash_cols:
                out[h] = cols.hash_cols[h]
            else:
                jm_h = _json_map_value(r, cols, h)
                out[h] = jm_h if jm_h is not None else "''"
        return out

    @staticmethod
    def _proto_probe(col: str, keyword_map: dict[str, int]) -> str:
        """Delegates to the single shared probe (enrich.proto_probe_col)
        so the two call sites citing proto.c:51-107 cannot diverge."""
        from sagan_spark.pipeline.enrich import proto_probe_col

        return proto_probe_col(col, keyword_map)

    def flow_predicate(self, r: RuleIR, ext: dict[str, str]) -> str:
        """Rule header nets/ports/proto gate (reference src/flow.c:48-504).

        An 'any' group is always true.  Non-any groups require the field
        to have been extracted (null hi/lo fails, like the reference
        failing on unresolvable ips)."""
        f = r.flow
        terms = []
        for side, nets in (("src", f.src_nets), ("dst", f.dst_nets)):
            if nets:
                pred = _cidr_group_predicate(ext[f"{side}_hi"], ext[f"{side}_lo"], nets)
                terms.append(f"coalesce({pred}, false)")
        if f.src_ports:
            terms.append(_port_group_predicate(ext["src_port"], f.src_ports))
        if f.dst_ports:
            terms.append(_port_group_predicate(ext["dst_port"], f.dst_ports))
        if f.proto:
            terms.append(f"{ext['proto']} = {lit(f.proto)}")
        return all_of(terms)

    # -- enrichment gates (J1/J2/J4; reference engine.c:1128-1360) -----------

    def _compiled_blacklist(self):
        from sagan_spark.pipeline.enrich import compile_cidrs

        if not hasattr(self, "_bl_ranges"):
            self._bl_ranges = compile_cidrs(self.config.blacklist_cidrs)
        return self._bl_ranges

    def _compiled_geoip(self, codes: list[str]):
        from sagan_spark.pipeline.enrich import compile_cidrs

        # memoized per code tuple like _compiled_blacklist — a 100k-range
        # feed would otherwise re-parse per country_code rule per compile
        key = tuple(codes)
        cache = getattr(self, "_geoip_cache", None)
        if cache is None:
            cache = self._geoip_cache = {}
        if key not in cache:
            sel = [(c, cc) for c, cc in self.config.geoip_ranges if cc.upper() in codes]
            cache[key] = compile_cidrs([c for c, _ in sel], [cc for _, cc in sel])
        return cache[key]

    @staticmethod
    def _any_parsed_ip_in(ips: str, entries: list[str]) -> str:
        if not entries:
            return "false"
        return f"coalesce(exists({ips}, {ident('_h')} -> {isin(ident('_h', 'ip'), entries)}), false)"

    def enrichment_predicate(self, r: RuleIR, ext: dict[str, str],
                             cols: EventCols) -> str:
        """AND of the rule's blacklist / zeek-intel / country gates —
        literal-array probes, fully codegen'd (no join, no shuffle)."""
        from sagan_spark.pipeline.enrich import (
            any_parsed_ip_in_ranges,
            in_ranges,
            in_set,
            substring_set_hit,
        )

        terms = []
        if r.blacklist:
            ranges = self._compiled_blacklist()
            hits = []
            for mode in r.blacklist:
                if mode == "by_src":
                    hits.append(in_ranges(ext["src_hi"], ext["src_lo"], ranges))
                elif mode == "by_dst":
                    hits.append(in_ranges(ext["dst_hi"], ext["dst_lo"], ranges))
                elif mode == "all" and cols.ips is not None:
                    hits.append(any_parsed_ip_in_ranges(cols.ips, ranges))
            terms.append(any_of(hits))
        for itype in r.zeek_intel:
            entries = self.config.intel_sets.get(itype, [])
            if itype == "src_ipaddr":
                terms.append(in_set(ext["src_ip"], entries))
            elif itype == "dst_ipaddr":
                terms.append(in_set(ext["dst_ip"], entries))
            elif itype == "both_ipaddr":
                terms += [in_set(ext["src_ip"], entries), in_set(ext["dst_ip"], entries)]
            elif itype == "all_ipaddr" and cols.ips is not None:
                terms.append(self._any_parsed_ip_in(cols.ips, entries))
            elif itype == "file_hash":
                terms.append(any_of(
                    in_set(ext[h], entries, nocase=True) for h in ("md5", "sha1", "sha256")
                ))
            else:  # domain / url / user_name / software / ... substring scan
                terms.append(substring_set_hit(cols.message, entries))
        if r.bluedot is not None:
            terms.append(self._bluedot_predicate(r, ext, cols))
        if r.country_code is not None:
            cc = r.country_code
            ranges = self._compiled_geoip(cc.codes)
            side = "src" if cc.track == "by_src" else "dst"
            in_cc = in_ranges(ext[f"{side}_hi"], ext[f"{side}_lo"], ranges)
            terms.append(f"NOT {in_cc}" if cc.negated else in_cc)
        return all_of(terms)

    def _bluedot_predicate(self, r: RuleIR, ext: dict[str, str],
                           cols: EventCols) -> str:
        """J3 bluedot gate (reference engine probe
        src/processors/engine.c:1176-1289; category compare
        Sagan_Bluedot_Cat_Compare).  The live HTTP cache becomes a static
        snapshot (EngineConfig.bluedot_intel): the category filter runs
        on the DRIVER — each rule reduces to a literal-set membership
        probe over the indicators whose category is in the rule's list,
        fully codegen'd like J2."""
        from sagan_spark.pipeline.enrich import in_set, substring_set_hit

        bd = r.bluedot
        feed = self.config.bluedot_intel.get(bd.btype, {})
        wanted = [ind for ind, cat in feed.items() if cat.lower() in bd.categories]
        if not wanted:
            return "false"
        if bd.btype == "ip_reputation":
            hits = []
            if bd.track in ("by_src", "both"):
                hits.append(in_set(ext["src_ip"], wanted))
            if bd.track in ("by_dst", "both"):
                hits.append(in_set(ext["dst_ip"], wanted))
            if bd.track == "all" and cols.ips is not None:
                hits.append(self._any_parsed_ip_in(cols.ips, wanted))
            elif bd.track == "all":
                hits += [in_set(ext["src_ip"], wanted), in_set(ext["dst_ip"], wanted)]
            return any_of(hits)
        if bd.btype == "file_hash":
            return any_of(
                in_set(ext[h], wanted, nocase=True) for h in ("md5", "sha1", "sha256")
            )
        # url / filename / ja3: the canonical frame carries no dedicated
        # column — substring scan of the message, like the J2 fallback
        return substring_set_hit(cols.message, wanted)

    # -- alert struct ---------------------------------------------------------

    def match_expr(self, r: RuleIR, cols: EventCols, cheap: str,
                   ext: dict[str, str] | None = None) -> str:
        """Full per-rule match: cheap AND flow AND enrichment gates."""
        ext = ext if ext is not None else self.extraction_exprs(r, cols)
        terms = [cheap, self.flow_predicate(r, ext)]
        if (
            r.blacklist
            or r.zeek_intel
            or r.bluedot is not None
            or r.country_code is not None
        ):
            terms.append(self.enrichment_predicate(r, ext, cols))
        return all_of(terms)

    def alert_element(self, r: RuleIR, cols: EventCols, cheap: str) -> str:
        """when(match, struct<...>) — null when the rule does not match,
        so array_compact+explode materializes extraction fields ONLY for
        matching rules (typically ~1 of N per event, not all N)."""
        ext = self.extraction_exprs(r, cols)
        return when(self.match_expr(r, cols, cheap, ext), self.alert_struct_body(r, ext))

    def alert_struct_body(self, r: RuleIR, ext: dict[str, str]) -> str:
        track_thr = self.track_key_expr(r.threshold.track, ext) if r.threshold else "''"
        track_aft = self.track_key_expr(r.after.track, ext) if r.after else "''"
        fields = [
            ("rule_idx", lit(r.position)),
            ("sid", lit(r.sid)),
            ("rev", lit(r.rev)),
            ("src_ip", ext["src_ip"]),
            ("src_port", f"CAST({ext['src_port']} AS INT)"),
            ("dst_ip", ext["dst_ip"]),
            ("dst_port", f"CAST({ext['dst_port']} AS INT)"),
            ("proto", f"CAST({ext['proto']} AS INT)"),
            *((f, f"coalesce({ext[f]}, '')")
              for f in ("username", "event_id", "md5", "sha1", "sha256")),
            ("track_threshold", track_thr),
            ("track_after", track_aft),
        ]
        return "named_struct(" + ", ".join(f"{lit(n)}, {v}" for n, v in fields) + ")"

    @staticmethod
    def track_key_expr(track: list[str], ext: dict[str, str]) -> str:
        """'src|sport|dst|dport|user' with untracked fields empty/0 —
        byte-identical to the reference's hash_string
        (reference src/threshold.c:111, src/after.c:108)."""
        # coalesce: format_string renders a NULL username as the literal
        # text 'null' — the reference hashes the empty string
        # (threshold.c:111), and 'null' would collide with a real user
        # named "null"
        src = ext["src_ip"] if "by_src" in track else "''"
        dst = ext["dst_ip"] if "by_dst" in track else "''"
        user = f"coalesce({ext['username']}, '')" if "by_username" in track else "''"
        sport = f"CAST({ext['src_port']} AS BIGINT)" if "by_srcport" in track else "0"
        dport = f"CAST({ext['dst_port']} AS BIGINT)" if "by_dstport" in track else "0"
        return f"format_string('%s|%d|%s|%d|%s', {src}, {sport}, {dst}, {dport}, {user})"

    # -- ruleset-level helpers -------------------------------------------------

    def ignore_predicate(self, message: str) -> str:
        """F14 ignore-list pre-drop (reference src/ignore.c:31-50):
        drop the line when ANY listed substring occurs."""
        return any_of(f"contains({message}, {lit(x)})" for x in self.config.ignore_list)
