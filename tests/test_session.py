"""``session.run_concurrently``: the one write fan-out of batch
``write_sinks`` and both streaming stages."""

from __future__ import annotations

import threading
import time
import warnings

import pytest

from sagan_spark.session import run_concurrently


def test_runs_every_action_on_its_own_thread(spark, tmp_path):
    threads = set()

    def write(i):
        threads.add(threading.get_ident())
        spark.range(i + 1).write.parquet(str(tmp_path / f"w{i}"))

    run_concurrently(spark, [lambda i=i: write(i) for i in range(3)])
    assert len(threads) == 3
    assert [spark.read.parquet(str(tmp_path / f"w{i}")).count() for i in range(3)] == [1, 2, 3]
    run_concurrently(spark, [])


def test_failure_waits_for_the_others_then_reraises(spark):
    done = threading.Event()

    def slow():
        time.sleep(0.5)
        done.set()

    def fail():
        raise ValueError("boom")

    def fail_later():
        time.sleep(0.2)
        raise RuntimeError("second")

    with pytest.raises(ValueError, match="boom"):
        run_concurrently(spark, [fail_later, fail, slow])
    assert done.is_set()


def test_workers_inherit_local_properties_without_warning(spark):
    """The job description and ``callSite.short`` set by the caller (the
    benchmark's spans, ``materialize``'s call site) reach every worker
    thread's jobs, and wrapping with the session raises no tag
    warning."""
    sc = spark.sparkContext
    seen = []

    def probe():
        seen.append(
            (sc.getLocalProperty("spark.job.description"), sc.getLocalProperty("callSite.short"))
        )
        spark.range(2).count()

    sc.setJobDescription("fan-out span")
    sc.setLocalProperty("callSite.short", "fan-out site")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            run_concurrently(spark, [probe, probe])
    finally:
        sc.setJobDescription(None)
        sc.setLocalProperty("callSite.short", None)
    assert seen == [("fan-out span", "fan-out site")] * 2
    assert not [w for w in caught if "will not be inherited" in str(w.message)]
