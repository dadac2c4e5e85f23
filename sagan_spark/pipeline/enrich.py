"""Enrichment lookups (J1-J7): broadcast-side-small probes, Spark-first.

Every reference "join" is a probe of a small in-memory table per event:
blacklist CIDR arrays (reference src/processors/blacklist.c:70-230),
Zeek/Bro intel sets (src/processors/zeek-intel.c:74,507-800), GeoIP
country ranges (src/geoip.c:93+), the protocol map
(src/protocol-map.c + src/parsers/proto.c:51-107), and the
classification map (src/classifications.c).

Two physical strategies, chosen by build-side size:

- **literal-array exists** (default for <= a few thousand entries): the
  lookup becomes a Column expression over a literal array of structs —
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

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sagan_spark.functions.extract import int_to_biased_hilo, ip_to_int
from sagan_spark.functions.textmatch import any_of
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


def _range_struct_array(ranges: list[IpRange]) -> Column:
    return F.array(
        *[
            F.struct(
                F.lit(r.lo_hi).alias("lo_hi"),
                F.lit(r.lo_lo).alias("lo_lo"),
                F.lit(r.hi_hi).alias("hi_hi"),
                F.lit(r.hi_lo).alias("hi_lo"),
            )
            for r in ranges
        ]
    )


# inet_pton's dotted-quad accept set: 0-255 per octet, no leading
# zeros.  THE one v4 accept regex — decode's host sniffing and the
# engine's shared ip-bits parse must agree (and both mirror
# extract._v4_int's Python-side accept set) or the decoder's
# malformed_host counting silently diverges from the gates.
V4_OCTET_RE = "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9][0-9]|[0-9])"
V4_RE = f"^{V4_OCTET_RE}(\\.{V4_OCTET_RE}){{3}}$"


def v4_hilo_cols(ip: Column) -> tuple[Column, Column]:
    """JVM-side biased (hi, lo) of a dotted-quad IPv4 STRING column —
    null/null when the string is not a valid IPv4 (hostname, IPv6,
    empty).  Mirrors extract.ip_to_int + int_to_biased_hilo for the v4
    case (v4-mapped base 0xFFFF00000000, bias 2^63): lets flow /
    blacklist / geoip gates see real bits for IPs that arrived via
    json_map or the syslog-host fallback, where no Parse_IP positional
    hit exists (reference computes ip bits from the FINAL ip string,
    engine.c:852 IP2Bit).  Accept set matches extract._v4_int: exactly
    four parts, 0-255, no leading-zero octets.

    ONE anchored regex + ONE split/aggregate per input — this runs once
    per row per DISTINCT ip source (host fallback, each json_map key),
    materialized as shared columns by the engine; it must NOT appear in
    per-rule expression trees (23 rules x 8 regexp_extract blew the
    whole-stage-codegen budget and cost 4x end-to-end)."""
    valid = ip.rlike(V4_RE)
    # flat GetArrayItem arithmetic, NOT F.aggregate: higher-order
    # lambdas are codegen-fallback and the streaming planner inlines
    # this expression into every consumer — an aggregate() here wedged
    # the streaming restart test (interpreted eval per inlined copy)
    parts = F.split(ip, r"\.")
    v4 = (
        parts[0].cast("long") * F.lit(16777216)
        + parts[1].cast("long") * F.lit(65536)
        + parts[2].cast("long") * F.lit(256)
        + parts[3].cast("long")
    )
    v = F.lit(0xFFFF00000000) + v4
    null_l = F.lit(None).cast("long")
    # 2^63 itself overflows a Java long literal — add the (valid) MIN
    hi = F.when(valid, F.lit(-(1 << 63))).otherwise(null_l)
    lo = F.when(valid, v + F.lit(-(1 << 63))).otherwise(null_l)
    return hi, lo


def in_ranges(hi: Column, lo: Column, ranges: list[IpRange]) -> Column:
    """J1/J4 probe: biased-128-bit ip within ANY range — pure codegen
    (reference probe Sagan_Blacklist_IPADDR, engine.c:1147-1174)."""
    if not ranges:
        return F.lit(False)
    arr = _range_struct_array(ranges)
    ge = lambda r: (hi > r.lo_hi) | ((hi == r.lo_hi) & (lo >= r.lo_lo))  # noqa: E731
    le = lambda r: (hi < r.hi_hi) | ((hi == r.hi_hi) & (lo <= r.hi_lo))  # noqa: E731
    return F.coalesce(F.exists(arr, lambda r: ge(r) & le(r)), F.lit(False))


def any_parsed_ip_in_ranges(ips: Column, ranges: list[IpRange]) -> Column:
    """J1 'all' variant: probe every Parse_IP cache entry
    (reference Sagan_Blacklist_IPADDR_All, engine.c:1164)."""
    if not ranges:
        return F.lit(False)
    return F.coalesce(
        F.exists(ips, lambda h: in_ranges(h.getField("hi"), h.getField("lo"), ranges)),
        F.lit(False),
    )


def in_set(value: Column, entries: list[str], nocase: bool = False) -> Column:
    """J2 exact-set probe (ADDR/FILE_HASH/USER_NAME/... intel types)."""
    if not entries:
        return F.lit(False)
    if nocase:
        return F.lower(value).isin([e.lower() for e in entries])
    return value.isin(entries)


def substring_set_hit(message: Column, entries: list[str]) -> Column:
    """J2 substring-type probe (DOMAIN/URL/SOFTWARE intel scan the whole
    message, reference zeek-intel.c:507-800)."""
    return any_of(message.contains(F.lit(e)) for e in entries)


def proto_probe_col(col: Column, keyword_to_proto: dict[str, int]) -> Column:
    """First protocol-map keyword found in `col` wins, 0 on miss —
    case-insensitive like the reference's strcasestr scan
    (reference Parse_Proto src/parsers/proto.c:51-107).  The single
    shared implementation behind J5/P5 and the compiler's
    parse_proto/parse_proto_program options."""
    low = F.lower(col)
    expr = F.lit(0)
    # later entries must not override earlier hits: build reversed
    for kw, proto in reversed(list(keyword_to_proto.items())):
        expr = F.when(low.contains(F.lit(kw.lower())), F.lit(proto)).otherwise(expr)
    return expr


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
