"""Content/meta/pcre slicing: Spark Catalyst expressions vs the
independent pure-Python oracle, over an edge-case zoo + random cases.

Covers the reference's arithmetic quirks (SURVEY §7.5): depth's +1
truncation, distance measured from whole-message length minus the
previous literal's depth, offset >= message length => empty.
"""

import random

import pytest
from pyspark.sql import functions as F

from sagan_spark.functions.textmatch import alert_time_predicate, content_predicate, ident
from sagan_spark.rules.ir import ContentSpec, TimeSpec
from tests.oracle import _content_ok

MSG = "Failed password for admin from 10.1.2.3 port 2222 ssh2"

CASES = [
    [ContentSpec("Failed")],
    [ContentSpec("failed")],  # case-sensitive miss
    [ContentSpec("failed", nocase=True)],
    [ContentSpec("password", offset=7)],
    [ContentSpec("password", offset=8)],  # off-by-one: slice starts at 'assword'
    [ContentSpec("Failed", offset=9999)],  # offset beyond message => empty
    [ContentSpec("Failed", depth=5)],  # depth+1 chars = 'Failed' -> hit
    [ContentSpec("Failed", depth=4)],  # 5 chars = 'Faile' -> miss
    [ContentSpec("ssh2", negated=True)],
    [ContentSpec("gibberish", negated=True)],
    [ContentSpec("Failed", depth=10), ContentSpec("from", distance=10)],
    [ContentSpec("Failed", depth=10), ContentSpec("from", distance=10, within=30)],
    [ContentSpec("Failed", depth=10), ContentSpec("from", distance=10, within=5)],
    [ContentSpec("Failed"), ContentSpec("admin", distance=500)],  # start past end
    [ContentSpec("x", offset=len(MSG))],  # offset == len -> empty
    [ContentSpec("x", offset=len(MSG) - 1)],  # 1-char slice
]


@pytest.fixture(scope="module")
def run_both(spark):
    def _run(msg: str, specs):
        df = spark.createDataFrame([(msg,)], "message string")
        got = df.select(F.expr(content_predicate(ident("message"), specs)).alias("m")).first().m
        want = _content_ok(msg, specs)
        return got, want

    return _run


@pytest.mark.parametrize("specs", CASES)
def test_content_zoo(run_both, specs):
    got, want = run_both(MSG, specs)
    assert got == want, f"{[s.__dict__ for s in specs]}: spark={got} oracle={want}"


def test_content_random_property(spark):
    rng = random.Random(7)
    msgs = [MSG, "short", "a" * 40, " leading space msg with words here"]
    rows, spec_sets = [], []
    for _ in range(120):
        msg = rng.choice(msgs)
        specs = []
        for _k in range(rng.randint(1, 3)):
            lit = rng.choice(["Failed", "pass", "a", "word", "zz", " "])
            specs.append(
                ContentSpec(
                    lit if not rng.random() < 0.3 else lit.lower(),
                    negated=rng.random() < 0.2,
                    nocase=rng.random() < 0.2,
                    offset=rng.choice([0, 0, 3, 7, 39, 41, 100]),
                    depth=rng.choice([0, 0, 4, 10, 60]),
                    distance=rng.choice([0, 0, 0, 2, 10, 100]),
                    within=rng.choice([0, 0, 5, 30]),
                )
            )
        # nocase lowercases the needle at parse time — mirror that here
        for s in specs:
            if s.nocase:
                s.literal = s.literal.lower()
        spec_sets.append((msg, specs))

    # one Spark job: row i evaluates predicate i on its own message
    df = spark.createDataFrame(
        [(i, m) for i, (m, _) in enumerate(spec_sets)], "id int, message string"
    )
    proj = [F.col("id")] + [
        F.expr(content_predicate(ident("message"), specs)).alias(f"c{i}")
        for i, (_, specs) in enumerate(spec_sets)
    ]
    rows = {r["id"]: r for r in df.select(*proj).collect()}
    for i, (msg, specs) in enumerate(spec_sets):
        got = rows[i][f"c{i}"]
        want = _content_ok(msg, specs)
        assert got == want, f"msg={msg!r} specs={[s.__dict__ for s in specs]}"


# 2026-01-05 is a Monday (tm_wday 1)
@pytest.mark.parametrize(
    "days,start,end,want",
    [
        ({1}, 800, 1700, True),
        ({0, 2}, 800, 1700, False),
        ({1}, 930, 1700, True),
        ({1}, 931, 1700, False),
        ({1}, 2200, 600, False),  # rollover past midnight
        ({1}, 2200, 930, True),
        (set(), 800, 1700, False),  # `alert_time: days , hours ...` parses to no days
    ],
)
def test_alert_time_predicate(spark, days, start, end, want):
    df = spark.createDataFrame([("2026-01-05 09:30:00",)], "ts string")
    pred = alert_time_predicate("CAST(`ts` AS TIMESTAMP)", TimeSpec(days=days, start=start, end=end))
    assert df.select(F.expr(pred).alias("m")).first().m is want
