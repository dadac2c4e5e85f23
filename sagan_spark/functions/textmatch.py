"""Catalyst Column builders for the Sagan text-match predicates.

Everything in this module compiles to built-in Spark expressions
(whole-stage-codegen'd, JVM-side) — no Python in the hot path.  The
slicing arithmetic replicates the reference byte-for-byte:

- content offset/depth/distance/within: reference src/content.c:42-179
- meta_content: reference src/meta-content.c:51-224
- pcre flags: reference src/rules.c:3008-3100, match src/pcre-s.c:39-68
- program glob: reference Wildcard src/util.c:970-1010,
  engine src/processors/engine.c:492-509
- event_id framing: reference src/event-id.c:61-126
- alert_time: reference src/aetas.c:48-143

NOTE: the reference operates on *bytes* (strlen); these expressions
operate on Spark string codepoints.  For ASCII/latin-1 payloads the two
are identical; multi-byte UTF-8 text shifts offset arithmetic.  The test
corpus pins ASCII.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from sagan_spark.rules.ir import (
    ContentSpec,
    MetaContentSpec,
    PcreSpec,
    TimeSpec,
)

# large-but-safe substring length (avoids int overflow inside pos+len)
_MAXLEN = 1 << 30


def any_of(terms) -> Column:
    """OR of the ``terms`` Columns (False when there are none), built
    pairwise as a balanced tree of depth ceil(log2 n).  A left-deep
    ``x = x | term`` chain of ~1,000 terms (one per rule, per ignore-list
    entry, per intel entry) overflows the JVM stack when Spark builds the
    plan.  OR is associative, so the grouping changes no result."""
    terms = list(terms)
    if not terms:
        return F.lit(False)
    while len(terms) > 1:
        paired = [a | b for a, b in zip(terms[::2], terms[1::2])]
        terms = paired + terms[len(paired) * 2:]
    return terms[0]


def _slice_like_c(
    msg: Column,
    offset: int,
    depth: int,
    distance: int,
    within: int,
    prev_depth: int,
) -> Column:
    """Replicate the reference's alter_content slicing (src/content.c:57-117).

    - offset!=0: if strlen(msg) > offset -> msg[offset:], else ""     (c:65-88)
    - depth!=0:  truncate to depth+1 chars (strlcpy size depth+2)     (c:92-99)
    - distance!=0: *overwrites* the above from the whole message:
      msg[prev_depth+distance+1:]; within!=0 truncates to `within`
      chars (strlcpy size within+1)                                   (c:101-117)
    - within without distance is ignored (c: within nested in distance)
    """
    if distance != 0:
        start = prev_depth + distance + 1  # 0-based chars dropped from front
        length = within if within != 0 else _MAXLEN
        return F.substring(msg, start + 1, length)

    if offset != 0:
        base = F.when(
            F.length(msg) > offset, F.substring(msg, offset + 1, _MAXLEN)
        ).otherwise(F.lit(""))
    else:
        base = msg
    if depth != 0:
        base = F.substring(base, 1, depth + 1)
    return base


def content_predicate(msg: Column, specs: list[ContentSpec]) -> Column:
    """AND over all content literals of a rule (reference src/content.c:42-179)."""
    pred = F.lit(True)
    for z, c in enumerate(specs):
        prev_depth = specs[z - 1].depth if z > 0 else 0
        sliced = _slice_like_c(msg, c.offset, c.depth, c.distance, c.within, prev_depth)
        hay = F.lower(sliced) if c.nocase else sliced
        m = hay.contains(F.lit(c.literal))  # literal pre-lowercased on parse
        pred = pred & (~m if c.negated else m)
    return pred


def _java_quote(lit: str) -> str:
    """Quote a literal for use inside a Java regex (Pattern.quote logic)."""
    return "\\Q" + lit.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def meta_content_predicate(msg: Column, specs: list[MetaContentSpec]) -> Column:
    """AND across meta_contents; OR (negated: NOR) within one container
    (reference src/meta-content.c:51-224)."""
    pred = F.lit(True)
    for z, mspec in enumerate(specs):
        prev_depth = specs[z - 1].depth if z > 0 else 0
        sliced = _slice_like_c(
            msg, mspec.offset, mspec.depth, mspec.distance, mspec.within, prev_depth
        )
        hay = F.lower(sliced) if mspec.nocase else sliced
        if len(mspec.literals) <= 8:
            any_hit = any_of(hay.contains(F.lit(lit)) for lit in mspec.literals)
        else:
            # one alternation regex: still contains-semantics (rlike = find())
            alt = "|".join(_java_quote(x) for x in mspec.literals)
            any_hit = hay.rlike(alt)
        pred = pred & (~any_hit if mspec.negated else any_hit)
    return pred


def pcre_predicate(msg: Column, specs: list[PcreSpec]) -> Column:
    """ALL pcres must match anywhere in the message
    (reference src/pcre-s.c:39-68: pcre_exec, unanchored)."""
    pred = F.lit(True)
    for p in specs:
        pred = pred & msg.rlike(p.python_flags_pattern)
    return pred


def glob_to_regex(glob: str) -> str:
    """Shell-style '*'/'?' glob -> anchored Java regex
    (reference Wildcard src/util.c:970-1010 — full-string, case-sensitive)."""
    out = []
    for ch in glob:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return "^(?:" + "".join(out) + ")$"


def program_predicate(program: Column, globs: list[str]) -> Column:
    """'|'-separated glob alternatives vs syslog_program
    (reference src/processors/engine.c:492-509)."""
    if not globs:
        return F.lit(True)
    if not any("*" in g or "?" in g for g in globs):
        return program.isin(globs)
    alts = [glob_to_regex(g)[4:-2] for g in globs]  # strip ^(?: ... )$
    return program.rlike("^(?:" + "|".join(alts) + ")$")


def isin_predicate(col: Column, values: list[str]) -> Column:
    """facility/level/tag exact '|'-alternative match
    (reference src/processors/engine.c:511-581)."""
    if not values:
        return F.lit(True)
    return col.isin(values)


def event_id_predicate(
    msg: Column, decoded_event_id: Column, ids: list[str]
) -> Column:
    """reference src/event-id.c:61-126: if a JSON/liblognorm event_id was
    decoded, exact-compare against the list; otherwise search ' <id>: '
    within the first 9 chars of the message (strlcpy size 10)."""
    if not ids:
        return F.lit(True)
    head = F.substring(msg, 1, 9)
    traditional = any_of(head.contains(F.lit(f" {i}: ")) for i in ids)
    has_decoded = decoded_event_id.isNotNull() & (decoded_event_id != "")
    return F.when(has_decoded, decoded_event_id.isin(ids)).otherwise(traditional)


def event_id_extract(msg: Column, decoded_event_id: Column, ids: list[str]) -> Column:
    """The event_id value recorded on match (reference src/event-id.c:98-100)."""
    if not ids:
        return decoded_event_id
    head = F.substring(msg, 1, 9)
    expr = None
    for i in ids:
        cond = head.contains(F.lit(f" {i}: "))
        expr = F.when(cond, F.lit(i)) if expr is None else expr.when(cond, F.lit(i))
    traditional = expr.otherwise(F.lit(""))
    has_decoded = decoded_event_id.isNotNull() & (decoded_event_id != "")
    return F.when(has_decoded, decoded_event_id).otherwise(traditional)


def alert_time_predicate(ts: Column, spec: TimeSpec) -> Column:
    """Day-of-week set + HHMM range with midnight rollover
    (reference src/aetas.c:48-143; tm_wday 0=Sunday)."""
    dow = F.dayofweek(ts) - 1  # Spark: 1=Sunday -> 0=Sunday like tm_wday
    hhmm = F.hour(ts) * 100 + F.minute(ts)
    day_ok = dow.isin(list(spec.days))
    if spec.start <= spec.end:
        time_ok = (hhmm >= spec.start) & (hhmm <= spec.end)
    else:  # rollover past midnight (aetas.c:121-139)
        time_ok = (hhmm >= spec.start) | (hhmm <= spec.end)
    return day_ok & time_ok
