"""Spark SQL expression text for the Sagan text-match predicates.

Every function here returns the text of one Spark SQL expression,
which the engine turns into Columns with one ``F.expr`` or ``SELECT``
per projection (wrap the text in ``F.expr`` to use it as a Column): a
ruleset of any size then costs the driver a constant number of py4j
round trips, where building Column trees cost a few hundred per rule.
The expressions are built-ins (whole-stage-codegen'd, JVM-side), with
no Python in the hot path.  The slicing arithmetic
replicates the reference byte-for-byte:

- content offset/depth/distance/within: reference src/content.c:42-179
- meta_content: reference src/meta-content.c:51-224
- pcre flags: reference src/rules.c:3008-3100, match src/pcre-s.c:39-68
- program glob: reference Wildcard src/util.c:970-1010,
  engine src/processors/engine.c:492-509
- event_id framing: reference src/event-id.c:61-126
- alert_time: reference src/aetas.c:48-143

Shape rules for the emitted text, which keep Spark's parser fast and
its per-JVM parser cache small: every string literal goes through
:func:`lit` and every column name through :func:`ident`; an AND list is
emitted flat and an OR list through :func:`any_of`'s balanced tree,
never as a left-deep parenthesized chain.  Each function's text is
safe as an operand of AND and OR (an OR comes back parenthesized); only
single terms and parenthesized ORs are negated with a bare ``NOT``.

NOTE: the reference operates on *bytes* (strlen); these expressions
operate on Spark string codepoints.  For ASCII/latin-1 payloads the two
are identical; multi-byte UTF-8 text shifts offset arithmetic.  The test
corpus pins ASCII.
"""

from __future__ import annotations

import re

from sagan_spark.rules.ir import (
    ContentSpec,
    MetaContentSpec,
    PcreSpec,
    TimeSpec,
)

# large-but-safe substring length (avoids int overflow inside pos+len)
_MAXLEN = 1 << 30
_INT_MIN, _INT_MAX = -(1 << 31), (1 << 31) - 1
# the two characters whose meaning inside a quoted SQL string depends on
# spark.sql.parser.escapedStringLiterals: spelled as chr() calls instead
_SPECIAL = re.compile(r"(['\\])")


def lit(value) -> str:
    """The SQL literal for a Python ``str``, ``int``, ``bool`` or ``None``
    — the one way this package quotes a value into expression text.

    A string reads back unchanged under either value of
    ``spark.sql.parser.escapedStringLiterals``: a quote or backslash
    inside it is spliced in as ``chr(39)``/``chr(92)`` through
    ``concat``, which constant-folds to the same literal.  An int
    outside the 32-bit range gets the ``L`` (BIGINT) suffix, as
    ``F.lit`` would type it."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        return str(value) if _INT_MIN <= value <= _INT_MAX else f"{value}L"
    if not _SPECIAL.search(value):
        return f"'{value}'"
    pieces = (
        f"chr({ord(p)})" if _SPECIAL.fullmatch(p) else f"'{p}'"
        for p in _SPECIAL.split(value) if p
    )
    return f"concat({', '.join(pieces)})"


def ident(*path: str) -> str:
    """A backticked column reference; several names make a field path
    (``ident("_a", "sid")`` reads field ``sid`` of column ``_a``)."""
    return ".".join("`" + p.replace("`", "``") + "`" for p in path)


def all_of(terms) -> str:
    """AND of the ``terms``, emitted flat (``true`` when there are none;
    ``true`` terms are dropped).  For a rule's handful of conjuncts."""
    terms = [t for t in terms if t != "true"]
    return " AND ".join(terms) if terms else "true"


def any_of(terms) -> str:
    """OR of the ``terms`` (``false`` when there are none), grouped
    pairwise as a balanced tree of depth ceil(log2 n).  A left-deep
    chain of ~1,000 terms (one per rule, per ignore-list entry, per
    intel entry) overflows the JVM stack when Spark builds the plan, and
    a deeply parenthesized one fails to parse.  OR is associative, so
    the grouping changes no result."""
    terms = list(terms)
    if not terms:
        return "false"
    while len(terms) > 1:
        paired = [f"({a} OR {b})" for a, b in zip(terms[::2], terms[1::2])]
        terms = paired + terms[len(paired) * 2:]
    return terms[0]


def when(cond: str, value: str, otherwise: str | None = None) -> str:
    """``CASE WHEN cond THEN value [ELSE otherwise] END``."""
    tail = f" ELSE {otherwise}" if otherwise is not None else ""
    return f"CASE WHEN {cond} THEN {value}{tail} END"


def isin(col: str, values) -> str:
    """``col IN (values)``; ``false`` for no values (Spark cannot parse
    an empty ``IN ()``)."""
    values = list(values)
    if not values:
        return "false"
    return f"{col} IN ({', '.join(lit(v) for v in values)})"


def _slice_like_c(
    msg: str,
    offset: int,
    depth: int,
    distance: int,
    within: int,
    prev_depth: int,
) -> str:
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
        return f"substring({msg}, {start + 1}, {length})"

    base = msg
    if offset != 0:
        base = when(
            f"length({msg}) > {offset}", f"substring({msg}, {offset + 1}, {_MAXLEN})", "''"
        )
    if depth != 0:
        base = f"substring({base}, 1, {depth + 1})"
    return base


def content_predicate(msg: str, specs: list[ContentSpec]) -> str:
    """AND over all content literals of a rule (reference src/content.c:42-179)."""
    terms = []
    for z, c in enumerate(specs):
        prev_depth = specs[z - 1].depth if z > 0 else 0
        sliced = _slice_like_c(msg, c.offset, c.depth, c.distance, c.within, prev_depth)
        hay = f"lower({sliced})" if c.nocase else sliced
        m = f"contains({hay}, {lit(c.literal)})"  # literal pre-lowercased on parse
        terms.append(f"NOT {m}" if c.negated else m)
    return all_of(terms)


def _java_quote(literal: str) -> str:
    """Quote a literal for use inside a Java regex (Pattern.quote logic)."""
    return "\\Q" + literal.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def meta_content_predicate(msg: str, specs: list[MetaContentSpec]) -> str:
    """AND across meta_contents; OR (negated: NOR) within one container
    (reference src/meta-content.c:51-224)."""
    terms = []
    for z, mspec in enumerate(specs):
        prev_depth = specs[z - 1].depth if z > 0 else 0
        sliced = _slice_like_c(
            msg, mspec.offset, mspec.depth, mspec.distance, mspec.within, prev_depth
        )
        hay = f"lower({sliced})" if mspec.nocase else sliced
        if len(mspec.literals) <= 8:
            any_hit = any_of(f"contains({hay}, {lit(x)})" for x in mspec.literals)
        else:
            # one alternation regex: still contains-semantics (rlike = find())
            alt = "|".join(_java_quote(x) for x in mspec.literals)
            any_hit = f"rlike({hay}, {lit(alt)})"
        terms.append(f"NOT {any_hit}" if mspec.negated else any_hit)
    return all_of(terms)


def pcre_predicate(msg: str, specs: list[PcreSpec]) -> str:
    """ALL pcres must match anywhere in the message
    (reference src/pcre-s.c:39-68: pcre_exec, unanchored)."""
    return all_of(f"rlike({msg}, {lit(p.python_flags_pattern)})" for p in specs)


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


def program_predicate(program: str, globs: list[str]) -> str:
    """'|'-separated glob alternatives vs syslog_program
    (reference src/processors/engine.c:492-509)."""
    if not globs:
        return "true"
    if not any("*" in g or "?" in g for g in globs):
        return isin(program, globs)
    alts = [glob_to_regex(g)[4:-2] for g in globs]  # strip ^(?: ... )$
    return f"rlike({program}, {lit('^(?:' + '|'.join(alts) + ')$')})"


def isin_predicate(col: str, values: list[str]) -> str:
    """facility/level/tag exact '|'-alternative match
    (reference src/processors/engine.c:511-581)."""
    return isin(col, values) if values else "true"


def _has_decoded(decoded_event_id: str) -> str:
    return f"{decoded_event_id} IS NOT NULL AND {decoded_event_id} != ''"


def event_id_predicate(msg: str, decoded_event_id: str, ids: list[str]) -> str:
    """reference src/event-id.c:61-126: if a JSON/liblognorm event_id was
    decoded, exact-compare against the list; otherwise search ' <id>: '
    within the first 9 chars of the message (strlcpy size 10)."""
    if not ids:
        return "true"
    head = f"substring({msg}, 1, 9)"
    traditional = any_of(f"contains({head}, {lit(f' {i}: ')})" for i in ids)
    return when(
        _has_decoded(decoded_event_id), isin(decoded_event_id, ids), traditional
    )


def event_id_extract(msg: str, decoded_event_id: str, ids: list[str]) -> str:
    """The event_id value recorded on match (reference src/event-id.c:98-100)."""
    if not ids:
        return decoded_event_id
    head = f"substring({msg}, 1, 9)"
    branches = " ".join(
        f"WHEN contains({head}, {lit(f' {i}: ')}) THEN {lit(i)}" for i in ids
    )
    traditional = f"CASE {branches} ELSE '' END"
    return when(_has_decoded(decoded_event_id), decoded_event_id, traditional)


def alert_time_predicate(ts: str, spec: TimeSpec) -> str:
    """Day-of-week set + HHMM range with midnight rollover
    (reference src/aetas.c:48-143; tm_wday 0=Sunday)."""
    day_ok = isin(f"dayofweek({ts}) - 1", list(spec.days))  # Spark 1=Sunday
    hhmm = f"hour({ts}) * 100 + minute({ts})"
    if spec.start <= spec.end:
        time_ok = f"{hhmm} >= {spec.start} AND {hhmm} <= {spec.end}"
    else:  # rollover past midnight (aetas.c:121-139)
        time_ok = f"({hhmm} >= {spec.start} OR {hhmm} <= {spec.end})"
    return all_of([day_ok, time_ok])
