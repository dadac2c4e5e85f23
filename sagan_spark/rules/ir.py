"""RuleIR — the compiled in-memory form of a Sagan rule.

The reference stores each parsed rule in a flat C struct
(``_Rule_Struct``, reference src/rules.h:102-407) filled by a
4000-line option loop (reference src/rules.c:102-4125).  Here the IR is
a set of small dataclasses; the Spark compiler
(:mod:`sagan_spark.rules.compiler`) turns a list of these into Catalyst
Column expressions + correlation/routing specs.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class ContentSpec:
    """One ``content:`` literal with its modifiers.

    Matches reference semantics at src/content.c:42-179:
    offset/depth/distance/within slice the *message* (not relative to the
    previous match position), ``nocase`` lowercases, leading ``!`` negates.
    """

    literal: str
    negated: bool = False
    nocase: bool = False
    offset: int = 0
    depth: int = 0
    distance: int = 0
    within: int = 0


@dataclass
class PcreSpec:
    """One ``pcre:"/regex/flags"`` (reference src/rules.c:3008-3100).

    ``flags`` is the raw trailing flag string (i, s, m, x supported).
    """

    pattern: str
    flags: str = ""

    @property
    def python_flags_pattern(self) -> str:
        """Inline-flag form usable by both java.util.regex and python re."""
        inline = "".join(ch for ch in self.flags if ch in "ismx")
        return f"(?{inline}){self.pattern}" if inline else self.pattern


@dataclass
class MetaContentSpec:
    """``meta_content: "pre %sagan% post", $VAR;`` — OR over expanded
    literals, AND across meta_contents (reference src/meta-content.c:51-224).
    Each literal is template with %sagan% replaced by one list item
    (Replace_Sagan, reference src/util.c:919-959)."""

    literals: list[str]
    negated: bool = False
    nocase: bool = False
    offset: int = 0
    depth: int = 0
    distance: int = 0
    within: int = 0


@dataclass
class JsonContentSpec:
    """``json_content: "key","value"`` (reference src/json-content.c:47-172).

    strstr=True -> substring match (json_strstr), else exact equality.
    Missing key => rule fails (even when negated the reference returns
    false on missing key, src/json-content.c:157-163).
    """

    key: str
    value: str
    negated: bool = False
    nocase: bool = False
    strstr: bool = False


@dataclass
class JsonMetaContentSpec:
    """``json_meta_content: "key", "tmpl %sagan%", $LIST`` — meta_content
    semantics against one JSON key's value (reference
    src/json-meta-content.c, parse src/rules.c:2449+).  Missing key =>
    rule fails.

    strstr=False (default) compares each literal with strcmp EQUALITY
    (reference Search_Case src/search-type.c:39-67 with type=false);
    the ``json_meta_contains`` modifier (src/rules.c:2285-2295) switches
    to substring search."""

    key: str
    literals: list[str]
    negated: bool = False
    nocase: bool = False
    strstr: bool = False


@dataclass
class JsonPcreSpec:
    """``json_pcre: "key","/regex/flags"`` (reference src/json-pcre.c:46-103)."""

    key: str
    pattern: str
    flags: str = ""

    @property
    def python_flags_pattern(self) -> str:
        inline = "".join(ch for ch in self.flags if ch in "ismx")
        return f"(?{inline}){self.pattern}" if inline else self.pattern


@dataclass
class JsonMapSpec:
    """``json_map: "field","key"`` — overwrite an event field from the
    flattened JSON before matching (reference src/processors/engine.c:323-488,
    type constants src/rules.h:29-45)."""

    field: str  # src_ip,dst_ip,src_port,dst_port,username,message,program,event_id,proto,md5,...
    key: str


@dataclass
class PortGroup:
    """One port test from the rule header: lo==hi for exact."""

    lo: int
    hi: int
    negated: bool = False


@dataclass
class CidrGroup:
    """One network test from the rule header; lo/hi are inclusive integer
    bounds of the range (IPv4 mapped into the v6 integer space like the
    reference's 16-byte ip_bits, src/sagan.h:395-409)."""

    lo: int
    hi: int
    negated: bool = False


@dataclass
class FlowSpec:
    """Compiled rule header ``src_net sport -> dst_net dport``
    (reference src/flow.c:48-504, parse src/rules.c:516-937)."""

    src_nets: list[CidrGroup] = field(default_factory=list)  # empty => any
    src_ports: list[PortGroup] = field(default_factory=list)
    dst_nets: list[CidrGroup] = field(default_factory=list)
    dst_ports: list[PortGroup] = field(default_factory=list)
    proto: int = 0  # 0=any, 1/6/17


@dataclass
class ThresholdSpec:
    """``threshold: type limit|suppress, track by_..., count N, seconds T``
    (reference src/threshold.c:54-234, parse src/rules.c:3292-3325)."""

    ttype: str  # "limit" | "suppress"
    track: list[str]  # subset of by_src,by_dst,by_username,by_srcport,by_dstport
    count: int
    seconds: int


@dataclass
class AfterSpec:
    """``after: track by_..., count N, seconds T``
    (reference src/after.c:51-229; '&'-combined track src/rules.c:3415-3451)."""

    track: list[str]
    count: int
    seconds: int


@dataclass
class XbitSpec:
    """``xbits: set|unset|isset|isnotset, name X, track ip_src|ip_dst|ip_pair
    [, expire N]`` (reference src/xbit.c:54-105, src/xbit-mmap.c).

    Flexbits (reference src/flexbit-mmap.c) reuse this spec with track
    ``flex_auto`` (set side: key shape chosen per condition) or
    ``flex_by_src|flex_by_dst|flex_both|flex_reverse|flex_none|
    flex_username`` (condition side)."""

    action: str  # set|unset|isset|isnotset
    name: str
    track: str  # ip_src | ip_dst | ip_pair | flex_*
    expire: int = 0


@dataclass
class BluedotSpec:
    """``bluedot: type ip_reputation, track by_src|by_dst|both|all,
    [mdate_effective_period N unit | cdate_effective_period N unit |
    none], cat1&cat2;`` or ``bluedot: type ja3|file_hash|url|filename,
    categories;`` (reference parse src/rules.c:3742-3965; engine probe
    src/processors/engine.c:1176-1289).

    In the Spark engine the live HTTP cache becomes a static intel
    snapshot (EngineConfig.bluedot_intel: type -> {indicator: category});
    a rule matches when the probed indicator's category is in
    ``categories``.  The effective-period fields are cache-freshness
    knobs in the reference — parsed for fidelity, no-op against a static
    snapshot."""

    btype: str  # ip_reputation | ja3 | file_hash | url | filename
    track: str = "by_src"  # by_src | by_dst | both | all (ip_reputation)
    categories: list[str] = field(default_factory=list)
    mdate_period: int = 0
    cdate_period: int = 0


@dataclass
class CountrySpec:
    """``country_code: track by_src|by_dst, is|isnot CC,CC``
    (reference src/processors/engine.c:1047-1124, compare loop
    src/geoip.c:277-305)."""

    track: str  # by_src | by_dst
    codes: list[str]
    negated: bool = False  # True for isnot


@dataclass
class TimeSpec:
    """``alert_time: days 0123456, hours 0800-1700``
    (reference src/aetas.c:48-143, parse src/rules.c:3146-3251).
    days: set of 0..6 (0=Sunday, matching localtime tm_wday);
    hour range as HHMM ints, rollover allowed (start > end)."""

    days: set[int]
    start: int
    end: int


@dataclass
class RuleIR:
    """One compiled rule (reference _Rule_Struct, src/rules.h:102-407)."""

    sid: int
    rev: int = 1
    msg: str = ""
    action: str = "alert"  # alert | drop | pass
    classtype: str = ""
    priority: int = 0  # 0 => take from classification map
    reference: list[str] = field(default_factory=list)

    # prefilters (reference src/processors/engine.c:492-581)
    programs: list[str] = field(default_factory=list)  # glob alternatives
    facilities: list[str] = field(default_factory=list)
    levels: list[str] = field(default_factory=list)
    tags: list[str] = field(default_factory=list)
    syslog_priorities: list[str] = field(default_factory=list)

    contents: list[ContentSpec] = field(default_factory=list)
    pcres: list[PcreSpec] = field(default_factory=list)
    meta_contents: list[MetaContentSpec] = field(default_factory=list)
    json_contents: list[JsonContentSpec] = field(default_factory=list)
    json_pcres: list[JsonPcreSpec] = field(default_factory=list)
    json_meta_contents: list["JsonMetaContentSpec"] = field(default_factory=list)
    json_maps: list[JsonMapSpec] = field(default_factory=list)
    # P10: decode the JSON value before compare (reference
    # src/json-content.c:79-84, src/json-pcre.c:73-78; flags
    # src/rules.h:293-295)
    json_decode_base64: bool = False
    json_decode_base64_pcre: bool = False
    json_decode_base64_meta: bool = False
    event_ids: list[str] = field(default_factory=list)

    flow: FlowSpec = field(default_factory=FlowSpec)
    alert_time: TimeSpec | None = None

    # extraction requests (engine.c:797-921)
    parse_src_ip_pos: int = 0  # 1-based position into Parse_IP cache; 0 = off
    parse_dst_ip_pos: int = 0
    parse_hash: str = ""  # md5 | sha1 | sha256
    # parse_port (reference src/rules.c:960-964, rules.h:244): parsed into
    # s_find_port but the current reference engine has no consumer — the
    # port rides the Parse_IP positional cache (engine.c:818,837).  Parsed
    # here for option-surface parity; same no-op behavior.
    parse_port: bool = False
    parse_proto: bool = False
    parse_proto_program: bool = False
    default_proto: int = 0
    default_src_port: int = 0
    default_dst_port: int = 0

    threshold: ThresholdSpec | None = None
    after: AfterSpec | None = None
    xbits: list[XbitSpec] = field(default_factory=list)

    # flexbit noalert/noeve suppression flags (reference src/rules.h:199-200)
    flags: list[str] = field(default_factory=list)

    # A12: ruleset to load when this rule fires (reference
    # src/processors/dynamic-rules.c:61-189); batch analog = two-pass run
    dynamic_load: str = ""

    # enrichment gates (J1/J2/J3/J4; reference engine.c:1128-1360)
    blacklist: list[str] = field(default_factory=list)  # by_src|by_dst|all
    zeek_intel: list[str] = field(default_factory=list)  # src_ipaddr|dst_ipaddr|both_ipaddr|all_ipaddr|file_hash|domain|url|user_name
    bluedot: BluedotSpec | None = None
    country_code: CountrySpec | None = None

    # K6: route this rule's alerts to the external-program sink
    # (reference src/rules.c:3680-3705, external_flag/external_program)
    external_program: str = ""
    # K5: e-mail target for this rule (reference src/rules.c:2735);
    # carried as routing metadata — SMTP delivery is out of core scope
    email: str = ""
    # offload: remote HTTP classifier gate (reference src/rules.c:3709-3725
    # option parse, src/offload.c Offload(), engine call engine.c:772-786):
    # POST "host|facility|priority|level|tag|date|time|program|message" to
    # this location; the rule continues only if the response contains
    # "true".  Empty = no offload.
    offload: str = ""

    # flexbits_pause/xbits_pause/_upause (reference src/rules.c:984-1032):
    # per-rule delays before bit set/unset take effect.  Parsed so real
    # rulesets don't silently lose options; the event-time replay walk
    # applies set/unset at event order, so a pause would shift the
    # effective set time — carried for future use, counted not dropped.
    flexbit_pause: int = 0
    flexbit_upause: int = 0
    xbit_pause: int = 0
    xbit_upause: int = 0

    # options the parser did not recognize (strict=False only)
    unknown_options: list[str] = field(default_factory=list)

    # original rule text (reference signature_copy, src/rules.c:364) —
    # emitted as EVE alert.rule (src/json-handler.c:214)
    raw: str = ""
    # raw `metadata:` option value (reference metadata_json, emitted in
    # EVE after the alert block, src/json-handler.c:224-231)
    metadata: str = ""

    append_program: bool = False  # P9: match against "message | program"

    # ordinal position in the loaded ruleset (pass-rule short circuit F15)
    position: int = 0

    @property
    def needs_parse_ip(self) -> bool:
        return self.parse_src_ip_pos > 0 or self.parse_dst_ip_pos > 0

    @property
    def uses_ip_cache(self) -> bool:
        """True when the rule reads the Parse_IP positional cache at all
        — positional extraction, or an 'all parsed IPs' enrichment probe
        (reference Sagan_Blacklist_IPADDR_All engine.c:1164; zeek
        all_ipaddr; bluedot track all)."""
        return (
            self.needs_parse_ip
            or "all" in self.blacklist
            or "all_ipaddr" in self.zeek_intel
            or (self.bluedot is not None and self.bluedot.track == "all")
        )

    @property
    def is_condition(self) -> bool:
        """True when the rule carries an xbit/flexbit isset or isnotset:
        a condition rule, routed only when every condition holds."""
        return any(x.action in ("isset", "isnotset") for x in self.xbits)

    @property
    def needs_json(self) -> bool:
        return bool(
            self.json_contents
            or self.json_pcres
            or self.json_meta_contents
            or self.json_maps
        )
