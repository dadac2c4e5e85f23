"""The SQL text the compiler emits: every literal goes through
``textmatch.lit`` and must read back unchanged whatever the parser's
string-escape mode, and every regex the rules carry must select the
same rows through the emitted predicate as through Python's ``regex``
(java.util.regex and ``regex`` agree on the constructs below; ``\\K``
is left out because java.util.regex has no ``\\K``, and ``\\Q...\\E``
is exercised through the meta_content alternation, because ``regex``
has none)."""

from __future__ import annotations

import regex
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sagan_spark.functions.textmatch import (
    ident,
    lit,
    meta_content_predicate,
    pcre_predicate,
)
from sagan_spark.rules.ir import MetaContentSpec, PcreSpec

TRICKY = ["'", "\\", "\n", "\\E", "\\Q", "é", "日本", '"', "`", "{", "}", "%s", "--", "/*"]
text_st = st.lists(
    st.one_of(st.sampled_from(TRICKY), st.text(max_size=3)), max_size=6
).map("".join)


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    strings=st.lists(text_st, min_size=1, max_size=8),
    ints=st.lists(st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1), max_size=3),
)
def test_literals_read_back_in_both_escape_modes(spark, strings, ints):
    values = [*strings, *ints, True, None]
    key = "spark.sql.parser.escapedStringLiterals"
    before = spark.conf.get(key)
    try:
        for mode in ("false", "true"):
            spark.conf.set(key, mode)
            row = spark.range(1).select(
                *[F.expr(lit(v)).alias(f"c{i}") for i, v in enumerate(values)]
            ).first()
            assert list(row) == values, mode
    finally:
        spark.conf.set(key, before)


MESSAGES = [
    "fe80::1ff:fe23:4567:890a link up",
    "FE80::ABCD seen",
    "Failed password for root from 10.0.0.1",
    '{"event": {"user": "u42"}}',
    "user u7 only",
    "it's on now",
    "it's off",
    "path C:\\Windows\\system32 loaded",
    "abc",
    "ac",
    "12345x",
    "naïve café 日本語 ok",
    "literal a.b here",
    "literal axb here",
    "quote 'q' and back \\E end",
    "",
]

EXTRA_PATTERNS = [
    PcreSpec("(?>a|ab)c"),  # atomic: never backtracks into "ab"
    PcreSpec("(?>ab|a)c"),
    PcreSpec("[0-9]++x"),  # possessive
    PcreSpec("[0-9]++5"),  # possessive: can never match
    PcreSpec("it's (on|off)"),
    PcreSpec("C:\\\\Windows\\\\(system32)"),
    PcreSpec("caf\u00e9 \u65e5\u672c"),
    PcreSpec("back \\\\E"),
]

META_LITERALS = ["zz1", "zz2", "zz3", "zz4", "it's", "back \\E", "a.b", "日本語", "C:\\Win"]


def _frame(spark):
    return spark.createDataFrame(list(enumerate(MESSAGES)), "id int, message string")


def test_pcre_rows_match_python_regex(spark, fixture_rules):
    """The fixture ruleset's pcre and json_pcre patterns, the generated
    rules' firing pcre and the constructs above select the same rows
    through the emitted ``pcre_predicate`` as through ``regex`` (ASCII
    classes and case folding, as java.util.regex defaults to)."""
    specs = [p for r in fixture_rules for p in r.pcres]
    specs += [PcreSpec(jp.pattern, jp.flags) for r in fixture_rules for jp in r.json_pcres]
    assert len(specs) == 2
    specs += [PcreSpec("Failed password for \\w+"), *EXTRA_PATTERNS]
    rows = _frame(spark).select(
        "id", *[F.expr(pcre_predicate(ident("message"), [p])).alias(f"p{i}") for i, p in enumerate(specs)]
    ).collect()
    for i, p in enumerate(specs):
        got = {r.id for r in rows if r[f"p{i}"]}
        want = {
            k for k, m in enumerate(MESSAGES)
            if regex.search(p.python_flags_pattern, m, flags=regex.ASCII)
        }
        assert got == want, p.python_flags_pattern
    assert {r.id for r in rows if r["p2"]} == {2}  # the pcre that fires


def test_meta_content_alternation_quotes_every_literal(spark):
    """More than 8 meta_content literals compile to one ``\\Q...\\E``
    alternation regex: each literal, quote, backslash, ``\\E`` and
    non-ASCII included, must match exactly where it occurs."""
    spec = MetaContentSpec(literals=META_LITERALS)
    pred = F.expr(meta_content_predicate(ident("message"), [spec]))
    got = {r.id for r in _frame(spark).filter(pred).collect()}
    want = {k for k, m in enumerate(MESSAGES) if any(x in m for x in META_LITERALS)}
    assert got == want
    assert len(want) >= 5
