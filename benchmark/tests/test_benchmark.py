"""The benchmark's own tests, on a tiny corpus.

    python -m pytest benchmark/tests -q

They pin that BENCHMARK.json and the runner agree on every metric and
unit, that one run prints every declared metric, and that the output
check rejects a corrupted sink.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent.parent
REPO = HERE.parent
sys.path[:0] = [str(HERE), str(REPO)]

import inputs  # noqa: E402
import run  # noqa: E402


def _declared() -> dict:
    return json.loads((REPO / "BENCHMARK.json").read_text())


def test_benchmark_json_matches_runner():
    spec = _declared()
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def _run(*args: str) -> dict:
    """Run the benchmark from the repository root; return its result line."""
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), *args],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize(
    "workload,trace",
    [("fixture_batch", 0), ("fixture_batch", 1), ("live_stream", 0), ("live_stream", 1)],
)
def test_every_metric_present_with_its_unit(workload, trace):
    result = _run(
        "--workload", workload, "--seed", "3", "--seconds", "0",
        "--trace", str(trace), "--rows", "400",
    )
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from workloads import start_spark

    s = start_spark(tmp_path_factory.mktemp("spark"), cores=2, trace=False)
    yield s
    s.stop()


def test_check_rejects_a_corrupted_sink(spark, tmp_path):
    from workloads import batch_job

    table = inputs.corpus(300, seed=5)
    corpus = inputs.write_corpus(table, tmp_path / "pages.parquet")
    expected = inputs.expected_routes(table, inputs.parse("fixture"))
    out = tmp_path / "sinks"
    batch_job(spark, "fixture", corpus, out)
    eve = out / "alerts_eve"
    assert inputs.check_routes(eve, expected) is None

    # drop one routed row from one part file of the sink
    part = max(eve.glob("part-*.parquet"), key=lambda p: pq.read_metadata(p).num_rows)
    t = pq.read_table(part)
    pq.write_table(t.slice(1), part)
    problem = inputs.check_routes(eve, expected)
    assert problem is not None and "missing=1" in problem

    # a duplicated row is caught too, although the set is complete again
    pq.write_table(t, part)
    pq.write_table(t.slice(0, 1), eve / "part-dup.parquet")
    problem = inputs.check_routes(eve, expected)
    assert problem is not None and "duplicate_rows=1" in problem
