"""Enrichment lookups (J1-J7): broadcast-side-small probes, Spark-first.

Every reference "join" is a probe of a small in-memory table per event:
blacklist CIDR arrays (reference src/processors/blacklist.c:70-230),
Zeek/Bro intel sets (src/processors/zeek-intel.c:74,507-800), GeoIP
country ranges (src/geoip.c:93+), the protocol map
(src/protocol-map.c + src/parsers/proto.c:51-107), and the
classification map (src/classifications.c).

Two physical strategies, chosen by build-side size:

- **literal-array exists** (default for <= a few thousand entries): the
  lookup becomes a SQL expression over a literal array of structs —
  stays inside whole-stage codegen, no join, no row duplication, no
  shuffle.  This is the exact analog of the reference's per-thread
  in-memory array probe.
- **broadcast range/semi join** (the scale path): entries as a
  DataFrame, `F.broadcast` + range or equality condition; Catalyst
  turns it into BroadcastNestedLoopJoin / BroadcastHashJoin.  Used when
  intel feeds are too large to inline in the plan.

IPs compare in the 128-bit biased (hi, lo) space shared with the flow
compiler (see functions.extract.int_to_biased_hilo), so IPv4 and IPv6
entries live in one table like the reference's 16-byte ip_bits
(src/sagan.h:395-409).
"""

from __future__ import annotations

import ipaddress
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sagan_spark.functions.extract import int_to_biased_hilo, ip_to_int
from sagan_spark.functions.textmatch import any_of, ident, isin, lit, when
from sagan_spark.session import local_frame


# ---------------------------------------------------------------------------
# build-side compilation
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class IpRange:
    """One CIDR / range entry in biased (hi, lo) halves."""

    lo_hi: int
    lo_lo: int
    hi_hi: int
    hi_lo: int
    label: str = ""


def compile_cidrs(entries: list[str], labels: list[str] | None = None) -> list[IpRange]:
    """'1.2.3.0/24' or bare ip -> inclusive biased ranges
    (reference blacklist loader src/processors/blacklist.c:118-230)."""
    out = []
    for i, e in enumerate(entries):
        net = ipaddress.ip_network(e.strip(), strict=False)
        lo = ip_to_int(str(net.network_address))
        hi = lo + net.num_addresses - 1
        lh, ll = int_to_biased_hilo(lo)
        hh, hl = int_to_biased_hilo(hi)
        out.append(IpRange(lh, ll, hh, hl, labels[i] if labels else e))
    return out


def ranges_df(spark, ranges: list[IpRange]) -> DataFrame:
    return local_frame(
        spark,
        [(r.lo_hi, r.lo_lo, r.hi_hi, r.hi_lo, r.label) for r in ranges],
        "lo_hi long, lo_lo long, hi_hi long, hi_lo long, label string",
    )


# ---------------------------------------------------------------------------
# literal-array strategy (small build side, zero shuffle)
# ---------------------------------------------------------------------------


def _range_struct_array(ranges: list[IpRange]) -> str:
    return "array(" + ", ".join(
        f"named_struct('lo_hi', {lit(r.lo_hi)}, 'lo_lo', {lit(r.lo_lo)}, "
        f"'hi_hi', {lit(r.hi_hi)}, 'hi_lo', {lit(r.hi_lo)})"
        for r in ranges
    ) + ")"


# inet_pton's dotted-quad accept set: 0-255 per octet, no leading
# zeros.  THE one v4 accept regex — decode's host sniffing and the
# engine's shared ip-bits parse must agree (and both mirror
# extract._v4_int's Python-side accept set) or the decoder's
# malformed_host counting silently diverges from the gates.
V4_OCTET_RE = "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9][0-9]|[0-9])"
V4_RE = f"^{V4_OCTET_RE}(\\.{V4_OCTET_RE}){{3}}$"


def v4_hilo_cols(ip: str) -> tuple[str, str]:
    """JVM-side biased (hi, lo) of a dotted-quad IPv4 STRING expression —
    null/null when the string is not a valid IPv4 (hostname, IPv6,
    empty).  Mirrors extract.ip_to_int + int_to_biased_hilo for the v4
    case (v4-mapped base 0xFFFF00000000, bias 2^63): lets flow /
    blacklist / geoip gates see real bits for IPs that arrived via
    json_map or the syslog-host fallback, where no Parse_IP positional
    hit exists (reference computes ip bits from the FINAL ip string,
    engine.c:852 IP2Bit).  Accept set matches extract._v4_int: exactly
    four parts, 0-255, no leading-zero octets.

    ONE anchored regex + ONE split per input — this runs once per row
    per DISTINCT ip source (host fallback, each json_map key), projected
    as shared columns by the engine; it must NOT appear in per-rule
    expressions (23 rules x 8 regexp_extract blew the
    whole-stage-codegen budget and cost 4x end-to-end)."""
    valid = f"rlike({ip}, {lit(V4_RE)})"
    # flat GetArrayItem arithmetic, NOT aggregate(): higher-order
    # lambdas are codegen-fallback and the streaming planner inlines
    # this expression into every consumer — an aggregate() here wedged
    # the streaming restart test (interpreted eval per inlined copy)
    parts = f"split({ip}, {lit(chr(92) + '.')})"
    v4 = " + ".join(
        f"CAST({parts}[{k}] AS BIGINT) * {1 << (8 * (3 - k))}" for k in range(3)
    ) + f" + CAST({parts}[3] AS BIGINT)"
    # 2^63 itself overflows a Java long literal — add the (valid) MIN
    hi = when(valid, lit(-(1 << 63)), "CAST(NULL AS BIGINT)")
    lo = when(valid, f"{lit(0xFFFF00000000)} + ({v4}) + {lit(-(1 << 63))}",
              "CAST(NULL AS BIGINT)")
    return hi, lo


def range_test(hi: str, lo: str, lo_hi: str, lo_lo: str, hi_hi: str, hi_lo: str) -> str:
    """``(hi, lo)`` within the inclusive biased range ``[(lo_hi, lo_lo),
    (hi_hi, hi_lo)]`` — the one range comparison behind the flow CIDR
    groups and the literal-array probes."""
    return (
        f"({hi} > {lo_hi} OR {hi} = {lo_hi} AND {lo} >= {lo_lo}) "
        f"AND ({hi} < {hi_hi} OR {hi} = {hi_hi} AND {lo} <= {hi_lo})"
    )


def in_ranges(hi: str, lo: str, ranges: list[IpRange]) -> str:
    """J1/J4 probe: biased-128-bit ip within ANY range — pure codegen
    (reference probe Sagan_Blacklist_IPADDR, engine.c:1147-1174)."""
    if not ranges:
        return "false"
    fields = (ident("_r", f) for f in ("lo_hi", "lo_lo", "hi_hi", "hi_lo"))
    return (
        f"coalesce(exists({_range_struct_array(ranges)}, "
        f"{ident('_r')} -> {range_test(hi, lo, *fields)}), false)"
    )


def any_parsed_ip_in_ranges(ips: str, ranges: list[IpRange]) -> str:
    """J1 'all' variant: probe every Parse_IP cache entry
    (reference Sagan_Blacklist_IPADDR_All, engine.c:1164)."""
    if not ranges:
        return "false"
    probe = in_ranges(ident("_h", "hi"), ident("_h", "lo"), ranges)
    return f"coalesce(exists({ips}, {ident('_h')} -> {probe}), false)"


def in_set(value: str, entries: list[str], nocase: bool = False) -> str:
    """J2 exact-set probe (ADDR/FILE_HASH/USER_NAME/... intel types)."""
    if nocase:
        return isin(f"lower({value})", [e.lower() for e in entries])
    return isin(value, entries)


def substring_set_hit(message: str, entries: list[str]) -> str:
    """J2 substring-type probe (DOMAIN/URL/SOFTWARE intel scan the whole
    message, reference zeek-intel.c:507-800)."""
    return any_of(f"contains({message}, {lit(e)})" for e in entries)


def proto_probe_col(col: str, keyword_to_proto: dict[str, int]) -> str:
    """First protocol-map keyword found in `col` wins, 0 on miss —
    case-insensitive like the reference's strcasestr scan
    (reference Parse_Proto src/parsers/proto.c:51-107).  The single
    shared implementation behind J5/P5 and the compiler's
    parse_proto/parse_proto_program options."""
    if not keyword_to_proto:
        return "0"
    branches = " ".join(
        f"WHEN contains(lower({col}), {lit(kw.lower())}) THEN {lit(proto)}"
        for kw, proto in keyword_to_proto.items()
    )
    return f"CASE {branches} ELSE 0 END"


# ---------------------------------------------------------------------------
# broadcast-join strategy (large build side)
# ---------------------------------------------------------------------------


def tag_by_range_join(events: DataFrame, hi: str, lo: str,
                      ranges: DataFrame, how: str = "inner") -> DataFrame:
    """J1/J4 at scale: broadcast range join; one output row per
    (event, matching range).  Use leftsemi to just filter."""
    cond = (
        ((F.col(hi) > ranges.lo_hi) | ((F.col(hi) == ranges.lo_hi) & (F.col(lo) >= ranges.lo_lo)))
        & ((F.col(hi) < ranges.hi_hi) | ((F.col(hi) == ranges.hi_hi) & (F.col(lo) <= ranges.hi_lo)))
    )
    return events.join(F.broadcast(ranges), cond, how)
