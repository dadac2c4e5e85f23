"""Property-based equivalence: the Catalyst Column implementations vs
the pure-Python oracle transliteration, over randomized inputs
(SURVEY §5 — the C-quirk arithmetic must agree everywhere, not just on
hand-picked cases)."""

from __future__ import annotations

import string

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from sagan_spark.rules.ir import ContentSpec
from tests.oracle import _content_ok, _slice

ASCII = string.ascii_lowercase + string.digits + " .:#"

msg_st = st.text(alphabet=ASCII, min_size=0, max_size=60)
lit_st = st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=6)
small = st.integers(min_value=0, max_value=40)


@pytest.fixture(scope="module")
def batch_eval(spark):
    """Evaluate content_predicate for many (msg, spec) cases in ONE Spark
    job (per-example Spark jobs would be prohibitively slow)."""
    from pyspark.sql import functions as F

    from sagan_spark.functions.textmatch import content_predicate, ident

    def run(cases):
        # cases: list of (msg, specs) with identical spec shape per call
        rows = [(i, m) for i, (m, _) in enumerate(cases)]
        df = spark.createDataFrame(rows, "i long, msg string")
        out = {}
        # group cases by identical spec tuple to batch evaluation
        by_spec = {}
        for i, (m, specs) in enumerate(cases):
            key = tuple((c.literal, c.negated, c.nocase, c.offset, c.depth, c.distance, c.within) for c in specs)
            by_spec.setdefault(key, []).append(i)
        for key, idxs in by_spec.items():
            specs = [ContentSpec(*k) for k in key]
            sub = df.filter(F.col("i").isin(idxs))
            got = sub.select("i", F.expr(content_predicate(ident("msg"), specs)).alias("ok")).collect()
            for r in got:
                out[r.i] = bool(r.ok)
        return out

    return run


@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    data=st.lists(
        st.tuples(msg_st, lit_st, small, small, small, small, st.booleans(), st.booleans()),
        min_size=1,
        max_size=12,
    )
)
def test_content_slicing_matches_oracle(batch_eval, data):
    cases = []
    for msg, lit, off, dep, dist, win, neg, nocase in data:
        spec = ContentSpec(
            lit.lower() if nocase else lit,
            negated=neg, nocase=nocase, offset=off, depth=dep,
            distance=dist, within=win,
        )
        cases.append((msg, [spec]))
    got = batch_eval(cases)
    for i, (msg, specs) in enumerate(cases):
        want = _content_ok(msg, specs)
        assert got[i] == want, (msg, specs[0])


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    msg=msg_st,
    a=st.tuples(lit_st, small, small),
    b=st.tuples(lit_st, small, small),
)
def test_two_content_chain_matches_oracle(batch_eval, msg, a, b):
    """distance/within measured from the PREVIOUS literal's depth
    (reference src/content.c:101-117) — the chained case."""
    specs = [
        ContentSpec(a[0], offset=a[1], depth=a[2]),
        ContentSpec(b[0], distance=b[1], within=b[2]),
    ]
    got = batch_eval([(msg, specs)])
    assert got[0] == _content_ok(msg, specs)


def test_parse_ip_fast_v4_equals_ipaddress():
    """_v4_int must accept exactly what ipaddress.IPv4Address accepts."""
    import ipaddress

    from sagan_spark.functions.extract import _v4_int

    cases = [
        "1.2.3.4", "0.0.0.0", "255.255.255.255", "256.1.1.1", "1.2.3",
        "1.2.3.4.5", "01.2.3.4", "1.02.3.4", "a.b.c.d", "1..2.3", "",
        "10.0.0.0", "192.168.001.1", "12.34.56.789", "1.2.3.04",
    ]
    for tok in cases:
        try:
            want = int(ipaddress.IPv4Address(tok))
        except Exception:
            want = None
        assert _v4_int(tok) == want, tok


@given(
    st.text(
        alphabet=st.characters(
            whitelist_categories=("Nd", "Po", "Ll"),
            whitelist_characters=".0123456789²³٢",
        ),
        max_size=18,
    )
)
@settings(max_examples=300, deadline=None)
def test_v4_int_equals_ipaddress_on_arbitrary_tokens(tok):
    """Property form of the accept-set claim, covering the Unicode-digit
    class that crashed the round-1 implementation (str.isdigit() is True
    for '²'/'٢' but int() rejects or mis-parses them)."""
    import ipaddress

    from sagan_spark.functions.extract import _v4_int

    try:
        want = int(ipaddress.IPv4Address(tok))
    except Exception:
        want = None
    assert _v4_int(tok) == want, repr(tok)
