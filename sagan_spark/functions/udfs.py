"""Arrow-batched pandas UDFs wrapping the extraction primitives.

These are the only Python-side operators in the engine's hot path, and
they are evaluated once per event (never per rule) and only on the
candidate subset that already passed the cheap JVM-side prefilters —
mirroring the reference's parse-once caching
(reference src/processors/engine.c:797-806).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sagan_spark.functions.extract import (
    _V4_MAPPED_BASE,
    DEFAULT_SAGAN_PORT,
    MAX_PARSE_IP,
    int_to_biased_hilo,
    json_flatten,
    parse_ip,
    port_from_tail,
)

_BIAS = 1 << 63

# array<struct> of positional IP hits; hi/lo are biased 64-bit halves of
# the 128-bit address for CIDR range predicates (see extract.int_to_biased_hilo)
IP_HIT_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("ip", T.StringType()),
            T.StructField("port", T.IntegerType()),
            T.StructField("hi", T.LongType()),
            T.StructField("lo", T.LongType()),
        ]
    )
)

PARSE_IP_RESULT_TYPE = T.StructType(
    [
        T.StructField("ips", IP_HIT_TYPE),
        T.StructField("proto", T.IntegerType()),
    ]
)


# --- two-tier Parse_IP ------------------------------------------------------
#
# Tier 1 (ASCII-bytes dot-probe): scrub via bytes.translate (~5x the
# dict-based str.translate), then jump straight to '.'-containing
# tokens with C-level find() and classify each with the WALK'S OWN
# branch guards — the per-token Python of the scalar spec runs only on
# the ~1-3 dotted tokens per row, never the other 30.  Fully handles
# the DOMINANT forms: stand-alone IPv4 (incl. the 63-char port
# lookahead), trailing-period IPv4, IPv4:port, iface:IPv4, and the
# tcp/udp/icmp proto token.
#
# Tier 2 (the faithful full token walk, extract.parse_ip — the scalar
# SPEC and test oracle) runs only on rows tier 1 can't prove
# equivalent for:
#   non-ASCII      -> byte/char positions diverge; the walk's unicode
#                     handling is the spec (rare among rule-candidate
#                     log lines)
#   '#'            -> v4#port / inet#v4 / v6#port forms (ip.c:556-637)
#   v6-shaped      -> a whole token of [0-9a-fA-F.:] containing '::'
#   token             or >=6 colons — the only shapes ipaddress can
#                     accept (full form 7 colons, v4-mapped tail 6,
#                     anything shorter needs '::'); log timestamps
#                     ('2026:03:14:07') no longer false-mark
#
# The split is exactness-preserving by construction: tier 1 reuses the
# walk's branch guards and helpers (_v4_int, _atoi, port_from_tail) on
# the same scrubbed text, and a randomized parity test
# (tests/test_extract.py) pins batch == scalar.

from sagan_spark.functions.extract import (  # noqa: E402
    _SCRUB,
    _atoi,
    _v4_int,
)

_SCRUB_B = _SCRUB.encode()
_SCRUB_BYTES_TABLE = bytes.maketrans(_SCRUB_B, b" " * len(_SCRUB_B))


def _proto_scan(low: bytes) -> int:
    """Last exact tcp/udp/icmp token of a lowered scrubbed row (the
    walk's overwrite order: rightmost wins), 0 if none.  rfind +
    byte-boundary checks — scrub chars are already spaces in b2, so
    token-exact means space-or-edge on both sides.  ~6x cheaper than
    the greedy '^.*(tcp|udp|icmp)' regex this replaces."""
    best = -1
    val = 0
    n = len(low)
    for pat, code in ((b"tcp", 6), (b"udp", 17), (b"icmp", 1)):
        lp = len(pat)
        pos = low.rfind(pat)
        while pos > best:
            if (pos == 0 or low[pos - 1] == 32) and (
                pos + lp == n or low[pos + lp] == 32
            ):
                best = pos
                val = code
                break
            pos = low.rfind(pat, 0, pos)
    return val


# v6-shaped whole tokens (see header): hex/dot/colon runs only.  The
# '::' test must allow COLONS in the leading run — '2001:db8::1'
# carries its '::' mid-token, after a single-colon group.
_V6_DCOLON_RE_B = re.compile(rb"(?:^|(?<= ))[0-9a-fA-F.:]*::")
_V6_COLON6_RE_B = re.compile(rb"(?:^|(?<= ))(?:[0-9a-fA-F.]*:){6}")

_LO_BASE = _V4_MAPPED_BASE - _BIAS  # v4-mapped lo-half bias constant
_HI_V4 = -_BIAS  # v4-mapped 128-bit ints never touch the hi half


def _v4_int_b(tok: bytes) -> int | None:
    """bytes twin of extract._v4_int — same accept set (dotted quad,
    no leading-zero octets, 0-255, exactly 4 parts); bytes.isdigit is
    ASCII-only by definition, so the unicode-digit guard is free."""
    parts = tok.split(b".")
    if len(parts) != 4:
        return None
    v = 0
    for p in parts:
        lp = len(p)
        if lp == 0 or lp > 3 or not p.isdigit() or (lp > 1 and p[0] == 48):
            return None
        o = int(p)
        if o > 255:
            return None
        v = (v << 8) | o
    return v


def _fast_row(b2: bytes, sagan_port: int) -> tuple[list, int]:
    """Tier-1 kernel over a marker-free scrubbed ASCII row: probe
    dot-TRIPLES (three '.' each within 4 bytes — the only spacing a
    dotted quad allows), then classify the enclosing token with the
    walk's own branch guards (ip.c:255-552 token order preserved).
    Lone dots (version numbers, file names, sentence ends) cost one or
    two C-level find() calls and no slicing."""
    low = b2.lower()
    proto = _proto_scan(low)
    hits: list = []
    nl = len(b2)
    pos = 0
    find = b2.find
    while True:
        d = find(b".", pos)
        if d < 0:
            break
        # dot-triple proximity gate: octets are 1-3 bytes wide
        d2 = find(b".", d + 1, d + 5)
        if d2 < 0:
            pos = d + 1
            continue
        d3 = find(b".", d2 + 1, d2 + 5)
        if d3 < 0:
            pos = d2 + 1
            continue
        le = find(b" ", d)
        if le < 0:
            le = nl
        if d3 >= le:
            # triple crossed a token boundary: this token holds <3
            # dots, so no branch can hit — skip it whole, the next
            # token's own dots get probed fresh
            pos = le + 1
            continue
        ls = b2.rfind(b" ", 0, d) + 1
        pos = le + 1  # one classification per token
        tok = b2[ls:le]
        nd = tok.count(b".")
        nc = tok.count(b":")
        # "needs proper encoding" gate (ip.c:255); no '#' in this tier
        if (nc < 2 and nd < 3) or nd > 4:
            continue
        if nd == 3 and nc == 0:
            # stand-alone IPv4 (ip.c:270-435) + port lookahead
            v4 = _v4_int_b(tok)
            if v4 is not None:
                port = sagan_port
                if low.find(b"port", le) >= 0:
                    # exact 63-char single-space-joined tail (ip.c:291);
                    # with no space runs in the window the raw slice IS
                    # the joined form — skip the split/join
                    if b2.find(b"  ", le, le + 65) < 0:
                        tail = b2[le + 1 : le + 64]
                    else:
                        tail = b" ".join(
                            t for t in b2[le + 1 :].split(b" ") if t
                        )[:63]
                    port = port_from_tail(tail.decode(), sagan_port)
                hits.append(
                    {"ip": tok.decode(), "port": port, "hi": _HI_V4,
                     "lo": v4 + _LO_BASE}
                )
        elif nd == 4 and tok.endswith(b"."):
            # trailing-period IPv4 (ip.c:439-472), no lookahead
            v4 = _v4_int_b(tok[:-1])
            if v4 is not None:
                hits.append(
                    {"ip": tok[:-1].decode(), "port": sagan_port,
                     "hi": _HI_V4, "lo": v4 + _LO_BASE}
                )
        elif nc == 1 and nd == 3:
            # IPv4:PORT or IFACE:IPv4 (ip.c:476-552)
            left, _, right = tok.partition(b":")
            v4 = _v4_int_b(left)
            if v4 is not None:
                # digits-only right (the dominant ':port' shape) skips
                # the atoi regex; signs/garbage take the spec helper
                if right.isdigit() and len(right) <= 18:
                    p = int(right) & 0xFFFF
                else:
                    p = _atoi(right.decode())
                hits.append(
                    {"ip": left.decode(),
                     "port": p if p != 0 else sagan_port,
                     "hi": _HI_V4, "lo": v4 + _LO_BASE}
                )
            elif right and (v4 := _v4_int_b(right)) is not None:
                hits.append(
                    {"ip": right.decode(), "port": sagan_port,
                     "hi": _HI_V4, "lo": v4 + _LO_BASE}
                )
        # nc > 2 v6 forms are impossible here (tier-2 marker); other
        # shapes yield nothing in the walk either
        if len(hits) >= MAX_PARSE_IP:
            # the walk stops scanning at the cap, so proto must only
            # see tokens up to and including the breaking one
            proto = _proto_scan(low[:le])
            break
    return hits, proto


def _walk_row(raw: str, sagan_port: int) -> tuple[list, int]:
    """Tier 2: the scalar spec, dict-form result."""
    hits, pr = parse_ip(raw, sagan_port)
    row = []
    for h in hits:
        hi, lo = int_to_biased_hilo(h.ip_int)
        row.append({"ip": h.ip, "port": h.port, "hi": hi, "lo": lo})
    return row, pr


def parse_ip_batch(
    texts: pd.Series, sagan_port: int = DEFAULT_SAGAN_PORT
) -> tuple[pd.Series, pd.Series]:
    """Two-tier Parse_IP over an Arrow batch.

    Returns (ips, proto) Series aligned to ``texts.index``: ips is a
    list of {'ip','port','hi','lo'} dicts per row (reference hit order,
    capped at MAX_PARSE_IP), proto the 6/17/1/0 protocol code.
    Byte-equal to the scalar spec ``extract.parse_ip`` on every row —
    tier assignment never changes the result, only who computes it.

    Hot-path notes: ONE fused loop, ASCII-bytes kernels, no per-TOKEN
    Python in tier 1, and none of pandas' object-dtype .str machinery
    (.str ops on object arrays are the same Python loop with
    Series/MultiIndex construction on top; extractall alone cost more
    than the whole scalar walk when this path was first benchmarked
    against it)."""
    orig_index = texts.index
    n = len(texts)
    texts_np = texts.to_numpy()

    ips_arr = np.empty(n, dtype=object)
    proto_arr = np.zeros(n, dtype=np.int32)

    # localize hot names; the tier-2 marker checks are inlined (a
    # function call per row costs as much as the checks themselves):
    # memchr substring/count gates keep the regexes off marker-free
    # rows — the common case runs zero regex here
    table = _SCRUB_BYTES_TABLE
    dcolon = _V6_DCOLON_RE_B.search
    colon6 = _V6_COLON6_RE_B.search
    # per-batch memo: duplicate messages dominate real log streams
    # (repeated syslog/cron lines) and web corpora (boilerplate — the
    # reason the dedup ops exist); parse is deterministic per message,
    # the result objects are read-only downstream, and the cap bounds
    # memory on all-unique batches
    memo: dict = {}
    memo_get = memo.get
    for i in range(n):
        raw = texts_np[i]
        if raw is None or raw != raw or not raw:  # None / NaN / ''
            ips_arr[i] = []
            continue
        cached = memo_get(raw)
        if cached is not None:
            ips_arr[i], proto_arr[i] = cached
            continue
        try:
            b2 = raw.encode("ascii").translate(table)
        except UnicodeEncodeError:
            res = _walk_row(raw, sagan_port)
        else:
            if (
                b"#" in b2
                or (b"::" in b2 and dcolon(b2))
                or (b2.count(b":") >= 6 and colon6(b2))
            ):
                res = _walk_row(raw, sagan_port)
            else:
                res = _fast_row(b2, sagan_port)
        ips_arr[i], proto_arr[i] = res
        if len(memo) < 65536:
            memo[raw] = res

    return (
        pd.Series(ips_arr, index=orig_index),
        pd.Series(proto_arr, index=orig_index),
    )


def make_parse_ip_udf(sagan_port: int = DEFAULT_SAGAN_PORT):
    """pandas UDF: text -> struct<ips: array<struct>, proto: int>;
    ``sagan_port`` is the port of an address the text gives none for."""

    @F.pandas_udf(PARSE_IP_RESULT_TYPE)
    def parse_ip_udf(texts: pd.Series) -> pd.DataFrame:
        ips, proto = parse_ip_batch(texts, sagan_port)
        return pd.DataFrame({"ips": ips, "proto": proto})

    # The function IS deterministic; the flag is an optimizer barrier.
    # Without it CollapseProject inlines the UDF column through the
    # candidate filter and the plan evaluates Parse_IP TWICE — once
    # over ALL rows below the filter, once over candidates above it
    # (seen in the physical plan as two ArrowEvalPython nodes).
    return parse_ip_udf.asNondeterministic()


# the def name surfaces in the ArrowEvalPython plan node — keep the
# json_flatten prefix the plan-shape regression tests key on
def json_flatten_map(texts: pd.Series) -> pd.Series:
    """text -> map<string,string> of dotted keys (reference
    src/parsers/json.c:40-134).

    The '{ in first 3 chars' detection gate
    (reference src/processors/engine.c:250-263) runs vectorized so
    non-JSON rows (the vast majority of any log corpus) never enter
    per-row Python."""
    out = pd.Series([{}] * len(texts), index=texts.index, dtype=object)
    mask = texts.str.slice(0, 3).str.contains("{", regex=False, na=False)
    if mask.any():
        out[mask] = texts[mask].map(json_flatten)
    return out


# deterministic in fact; the flag is an optimizer barrier so the flatten
# column is computed once and carried, not inlined and re-evaluated above
# the candidate filter (see make_parse_ip_udf)
json_flatten_udf = F.pandas_udf(
    json_flatten_map, T.MapType(T.StringType(), T.StringType())
).asNondeterministic()
