"""Streaming ledger twins of time_rollup / active_users
(streaming/rollup.py): the drained multi-batch ledger serves results
bit-identical to the batch ops, a replayed batch is idempotent
(dynamic partition overwrite), and cross-batch duplicate (day, key)
pairs count once."""

from __future__ import annotations

import datetime as dt

import pytest

from sagan_spark.ops.funnel import active_users
from sagan_spark.ops.rollup import time_rollup
from sagan_spark.streaming.rollup import (
    actives_from_ledger,
    merge_actives_batch,
    merge_rollup_batch,
    rollup_from_ledger,
    start_actives_query,
    start_rollup_query,
)

BASE = dt.datetime(2024, 3, 1, 12, 0, 0)


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string,"
        " value double, ts timestamp"
    )


def _rows(n=200, seed_skip=0):
    out = []
    for i in range(n):
        out.append((
            i + seed_skip, (i * 7) % 13, ["view", "click", "buy"][i % 3],
            (i % 50) / 7.0, BASE + dt.timedelta(minutes=i * 37 % 5000),
        ))
    return out


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_rollup_ledger_matches_batch_and_is_idempotent(spark, tmp_path):
    ev = _events(spark, _rows())
    half1, half2 = _events(spark, _rows()[:120]), _events(spark, _rows()[120:])
    ledger = str(tmp_path / "ledger")
    merge_rollup_batch(half1, 0, ledger, 60)
    merge_rollup_batch(half2, 1, ledger, 60)
    got = rollup_from_ledger(spark, ledger, (60, 3600, 86400))
    want = time_rollup(ev, (60, 3600, 86400))
    assert _sorted_rows(got) == _sorted_rows(want)
    # replaying batch 1 (foreachBatch at-least-once) changes nothing
    merge_rollup_batch(half2, 1, ledger, 60)
    assert _sorted_rows(
        rollup_from_ledger(spark, ledger, (60, 3600, 86400))
    ) == _sorted_rows(want)


def test_actives_ledger_matches_batch_cross_batch_dedup(spark, tmp_path):
    ev = _events(spark, _rows())
    # overlapping halves: the same (day, key) pairs appear in BOTH
    # batches — the serve-side distinct must count them once
    half1, half2 = _events(spark, _rows()[:150]), _events(spark, _rows()[100:])
    ledger = str(tmp_path / "ledger")
    merge_actives_batch(half1, 0, ledger)
    merge_actives_batch(half2, 1, ledger)
    got = actives_from_ledger(spark, ledger, window_days=7)
    want = active_users(ev, window_days=7)
    assert _sorted_rows(got) == _sorted_rows(want)
    merge_actives_batch(half2, 1, ledger)  # replay: idempotent
    assert _sorted_rows(
        actives_from_ledger(spark, ledger, window_days=7)
    ) == _sorted_rows(want)


def test_streaming_drain_end_to_end(spark, tmp_path):
    ev = _events(spark, _rows())
    inp = str(tmp_path / "in")
    ev.repartition(3).write.parquet(inp)
    q = start_rollup_query(
        spark, inp, str(tmp_path / "rl"), str(tmp_path / "rc"),
        resolutions=(60, 3600), max_files_per_trigger=1,
    )
    assert q.awaitTermination(120)
    q2 = start_actives_query(
        spark, inp, str(tmp_path / "al"), str(tmp_path / "ac"),
        max_files_per_trigger=1,
    )
    assert q2.awaitTermination(120)
    # multiple micro-batches actually happened
    n_parts = len([
        p for p in (tmp_path / "rl").iterdir() if p.name.startswith("batch_id=")
    ])
    assert n_parts >= 2, f"expected a multi-batch drain, got {n_parts}"
    assert _sorted_rows(
        rollup_from_ledger(spark, str(tmp_path / "rl"), (60, 3600))
    ) == _sorted_rows(time_rollup(ev, (60, 3600)))
    assert _sorted_rows(
        actives_from_ledger(spark, str(tmp_path / "al"), 7)
    ) == _sorted_rows(active_users(ev, 7))


def test_actives_ledger_window_guard(spark, tmp_path):
    ledger = str(tmp_path / "ledger")
    merge_actives_batch(_events(spark, _rows()[:10]), 0, ledger)
    with pytest.raises(ValueError):
        actives_from_ledger(spark, ledger, window_days=0)


def test_quantiles_ledger_matches_batch(spark, tmp_path):
    from sagan_spark.ops.quantiles import quantile_rollup
    from sagan_spark.streaming.rollup import (
        merge_quantiles_batch,
        quantiles_from_ledger,
    )

    ev = _events(spark, _rows())
    half1, half2 = _events(spark, _rows()[:120]), _events(spark, _rows()[120:])
    ledger = str(tmp_path / "ledger")
    merge_quantiles_batch(half1, 0, ledger)
    merge_quantiles_batch(half2, 1, ledger)
    got = quantiles_from_ledger(spark, ledger)
    want = quantile_rollup(ev)
    assert _sorted_rows(got) == _sorted_rows(want)
    merge_quantiles_batch(half2, 1, ledger)  # replay: idempotent
    assert _sorted_rows(quantiles_from_ledger(spark, ledger)) == _sorted_rows(want)


def test_ledgers_read_before_first_batch_are_empty(spark, tmp_path):
    """A serving read before the first micro-batch has written returns
    an empty frame with the batch op's schema instead of raising."""
    from sagan_spark.ops.quantiles import quantile_rollup
    from sagan_spark.streaming.rollup import quantiles_from_ledger

    ev = _events(spark, _rows(10))
    missing = str(tmp_path / "no_ledger_yet")
    for got, want in [
        (rollup_from_ledger(spark, missing, (60, 3600)), time_rollup(ev, (60, 3600))),
        (actives_from_ledger(spark, missing, 7), active_users(ev, 7)),
        (quantiles_from_ledger(spark, missing), quantile_rollup(ev)),
    ]:
        assert got.collect() == []
        assert [(f.name, f.dataType) for f in got.schema] == [
            (f.name, f.dataType) for f in want.schema
        ]
