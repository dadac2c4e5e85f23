"""sagan_spark benchmark: one workload, one seed, one JSON result line.

    python3 benchmark/run.py --workload fixture_batch --seed 1 --seconds 10 --trace 0
    python3 benchmark/run.py --workload live_stream   --seed 1 --seconds 10 --trace 1
    python3 benchmark/run.py --workload fixture_batch --seed 1 --cores 1    # single-threaded baseline

Run from the repository root.  Inputs are generated from ``--seed``;
the program under test only sees the generated parquet files.  Every
run checks its written EVE sink against the pure-Python reference
model (tests/oracle.py).  ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer ones.  The last stdout line is the result;
the full record (environment, metrics, details) also lands in
``.bench_work/runs/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from datetime import datetime, timezone
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
sys.path[:0] = [str(HERE), str(REPO)]

WORKLOADS = {
    # the flagship: match, correlation and route all do real work
    "fixture_batch": {"kind": "batch", "ruleset": "fixture", "rows": 5_000},
    # driver-side plan build and codegen of a wide projection dominate;
    # not in BENCHMARK.json (one run needs about 80 s, see README)
    "wide_ruleset_batch": {"kind": "batch", "ruleset": "wide300", "rows": 5_000},
    # open loop into the continuous streaming query: after a warm-up
    # file, one file is due every tick_s, longer than a micro-batch and
    # the no-data batch after it take, so each file is a batch of its own
    "live_stream": {
        "kind": "stream", "ruleset": "fixture", "warmup_rows": 500,
        "rows_per_file": 2_000, "tick_s": 15.0, "min_files": 1,
    },
}

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "routed_rows_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "parser.s": "s",
    "plan.build_s": "s",
    "plan.optimize_s": "s",
    "scan.s": "s",
    "scan.rows": "count",
    "scan.bytes": "bytes",
    "match.s": "s",
    "match.candidate_rows": "count",
    "match.candidate_ratio": "ratio",
    "match.rows_out": "count",
    "match.py_rows": "count",
    "match.py_bytes_sent": "bytes",
    "match.py_bytes_recv": "bytes",
    "match.py_init_s": "s",
    "match.py_run_s": "s",
    "correlate.s": "s",
    "correlate.jobs": "count",
    "correlate.replay_rows": "count",
    "correlate.suppressed_rows": "count",
    "correlate.shuffle_bytes": "bytes",
    "correlate.skew": "ratio",
    "route.s": "s",
    "route.jobs": "count",
    "route.join_shuffle_bytes": "bytes",
    "route.rows_out": "count",
    "route.write_bytes": "bytes",
    "stream.batches": "count",
    "stream.batch_s": "s",
    "stream.plan_s": "s",
    "stream.addbatch_s": "s",
    "stream.rows_per_batch": "count",
    "stream.state_rows": "count",
    "stream.state_bytes": "bytes",
    "stream.backlog_files": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.scheduler_delay_s": "s",
    "gen.files": "count",
    "gen.events": "count",
    "gen.late_s": "s",
    "trace.job_s": "s",
    "trace.overhead_s": "s",
    "trace.coverage": "ratio",
}


#: a batch run measures at least this many jobs
MIN_JOBS = 2

#: per-layer rows of the streaming path and its load generator, which
#: a batch workload does not run
NOT_RUN_IN_BATCH = {k: 0 for k in PER_LAYER if k.startswith(("stream.", "gen."))}
#: per-layer rows of the traced batch job, which a stream run does not
#: run (its batch layers are those of fixture_batch)
NOT_RUN_IN_STREAM = {
    k: 0 for k in PER_LAYER if not k.startswith(("stream.", "gen.", "spark."))
}


class Run:
    """Counts, output checks and timings of one benchmark invocation."""

    def __init__(self, args, work: Path) -> None:
        self.args, self.work = args, work
        self.spec = WORKLOADS[args.workload]
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.detail: dict = {}
        self.spark = None

    def check(self, eve: Path, expected: set) -> bool:
        import inputs

        problem = inputs.check_routes(eve, expected)
        if problem:
            self.errors.append(f"{eve.parent.name}: {problem}")
        return problem is None

    def start_spark(self):
        from measure import PeakRss
        from workloads import start_spark

        self.spark = start_spark(self.work, self.args.cores, bool(self.args.trace))
        self.rss = PeakRss(self.spark.sparkContext._gateway.proc.pid)
        return self.spark

    def close(self) -> None:
        """Stop sampling memory and end the session with all its processes."""
        from workloads import stop_spark

        if self.spark is not None:
            self.rss.stop()
            spark, self.spark = self.spark, None
            stop_spark(spark)

    def batch_job(self, spark, corpus: Path, expected: set, name: str, counted=True) -> float:
        """One checked batch job; its wall time from parse_rules to the
        last sink committed."""
        from workloads import batch_job, reset

        out = reset(self.work / "out" / name)
        spark.catalog.clearCache()
        t = time.perf_counter()
        ok = True
        try:
            batch_job(spark, self.spec["ruleset"], corpus, out)
        except Exception:  # a failed job is counted and reported; the run goes on
            self.errors.append(traceback.format_exc(limit=4))
            ok = False
        wall = time.perf_counter() - t
        ok = ok and self.check(out / "alerts_eve", expected)
        if counted:
            self.attempted += 1
            self.failed += not ok
        shutil.rmtree(out, ignore_errors=True)
        return wall

    def traced_pass(self, spark, corpus: Path, expected: set):
        """An untraced and a traced job over ``corpus`` in a warm JVM."""
        from workloads import reset, traced_job

        untraced_s = self.batch_job(spark, corpus, expected, "untraced")
        out = reset(self.work / "out" / "traced")
        spark.catalog.clearCache()
        traced = traced_job(spark, self.spec["ruleset"], corpus, out)
        self.attempted += 1
        self.failed += not self.check(out / "alerts_eve", expected)
        return untraced_s, traced

    def layers_of_pass(self, log, untraced_s: float, traced, routed: int) -> dict:
        from workloads import batch_layers

        layers, detail = batch_layers(log, *traced, routed=routed)
        layers["trace.overhead_s"] = layers["trace.job_s"] - untraced_s
        self.detail |= detail | {"untraced_job_s": untraced_s}
        return layers

    # -- workloads -----------------------------------------------------------

    def batch(self) -> dict:
        import inputs
        from measure import EventLog, tail

        args = self.args
        t = time.perf_counter()
        table = inputs.corpus(args.rows or self.spec["rows"], args.seed)
        gen_s = time.perf_counter() - t
        rules = inputs.parse(self.spec["ruleset"])
        expected = inputs.expected_routes(table, rules)

        t = time.perf_counter()
        spark = self.start_spark()
        corpus = inputs.write_corpus(table, self.work / "pages.parquet")
        # the cold job: session, Python workers, code generation, JIT
        self.batch_job(spark, corpus, expected, "warmup", counted=False)
        setup_s = gen_s + time.perf_counter() - t
        self.detail |= {"events": table.num_rows, "routed_rows": len(expected)}

        if args.trace:
            untraced_s, traced = self.traced_pass(spark, corpus, expected)
            self.close()
            log = EventLog(self.work / "eventlog")
            return self.layers_of_pass(log, untraced_s, traced, len(expected)) | NOT_RUN_IN_BATCH

        walls, peaks = [], []
        self.rss.take_window()
        t_end = time.perf_counter() + args.seconds
        while len(walls) < MIN_JOBS or time.perf_counter() < t_end:
            walls.append(self.batch_job(spark, corpus, expected, f"job{len(walls)}"))
            peaks.append(self.rss.take_window())
        self.close()
        job_s = statistics.median(walls)
        tail_s, tail_pct = tail(walls)
        self.detail |= {
            "job_walls_s": walls,
            "job_peak_rss_mb": peaks,
            "latency_samples": len(walls),
            "latency_tail_percentile": tail_pct,
        }
        return {
            "setup_s": setup_s,
            "job_s": job_s,
            "routed_rows_per_s": len(expected) / job_s,
            # each job is one request of a closed loop with a single client
            "latency_p50_s": job_s,
            "latency_tail_s": tail_s,
            "peak_rss_mb": statistics.median(peaks),
        }

    def stream(self) -> dict:
        import inputs
        from measure import EventLog
        from workloads import STREAM_LATENCY_LIMIT_S, LiveStream, stream_end_to_end, stream_layers

        args, spec = self.args, self.spec
        n_fed = max(spec["min_files"], math.ceil(args.seconds / spec["tick_s"]))
        sizes = [spec["warmup_rows"]] + [spec["rows_per_file"]] * n_fed
        t = time.perf_counter()
        table = inputs.corpus(sum(sizes), args.seed)
        parts = inputs.cut_at_ts_boundaries(table, sizes)
        gen_s = time.perf_counter() - t
        rules = inputs.parse(spec["ruleset"])
        # the live query does not route xbit-condition rules
        cond = set(inputs.condition_sids(rules))
        expected = {
            (url, sid) for url, sid in inputs.expected_routes(table, rules) if sid not in cond
        }
        # rows routed from the fed files, not from the warm-up file
        fed_urls = {url for part in parts[1:] for url in part.column("url").to_pylist()}
        routed = sum(url in fed_urls for url, _ in expected)

        t = time.perf_counter()
        spark = self.start_spark()
        live = LiveStream(spark, rules, self.work)
        live.warm_up(parts[0])
        setup_s = gen_s + time.perf_counter() - t

        self.rss.take_window()
        live.feed(parts[1:], spec["tick_s"])
        live = live.stop()
        peak = self.rss.take_window()
        ok = self.check(live["out"] / "alerts_eve", expected)
        self.attempted += len(live["files"])
        self.failed += sum(
            not ok or f["latency"] is None or f["latency"] > STREAM_LATENCY_LIMIT_S
            for f in live["files"]
        )
        self.detail |= {"events": table.num_rows, "routed_rows": routed}
        self.close()
        if args.trace:
            return stream_layers(live, EventLog(self.work / "eventlog")) | NOT_RUN_IN_STREAM
        e2e, detail = stream_end_to_end(live, routed)
        self.detail |= detail | {
            "files": [
                {k: f[k] for k in ("name", "rows", "batch", "latency")} for f in live["files"]
            ],
        }
        return e2e | {"setup_s": setup_s, "peak_rss_mb": peak}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                    help="Spark local[N] (default: every core this process may use)")
    ap.add_argument("--rows", type=int, default=0,
                    help="batch corpus rows (default: the workload's own size)")
    args = ap.parse_args()

    try:
        import pyspark  # noqa: F401
        import sagan_spark  # noqa: F401
        import tests.oracle  # noqa: F401
    except ImportError as e:
        print(f"benchmark: the program under test is not importable here: {e}", file=sys.stderr)
        return 2

    from measure import Environment

    root = Path.cwd() / ".bench_work"
    work = root / f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # every scratch file of Spark, the JVM and the Python workers stays
    # inside the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")

    env = Environment()
    run = Run(args, work)
    t_start = time.perf_counter()
    try:
        values = run.stream() if run.spec["kind"] == "stream" else run.batch()
    finally:
        run.close()
        shutil.rmtree(work, ignore_errors=True)
    units = PER_LAYER if args.trace else END_TO_END
    missing = set(units) - set(values)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    result = {
        "correct": run.attempted > 0 and not run.errors,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "finished_utc": datetime.now(timezone.utc).isoformat(timespec="seconds"),
        "environment": env.finish(args.cores),
        "result": result,
        "wall_s": time.perf_counter() - t_start,
        "detail": run.detail,
        "errors": run.errors,
    }
    (root / "runs").mkdir(parents=True, exist_ok=True)
    stamp = record["finished_utc"].replace(":", "")
    (root / "runs" / f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}.json").write_text(
        json.dumps(record, indent=1, default=str) + "\n"
    )
    for err in run.errors:
        print(f"benchmark: {err}", file=sys.stderr)
    print(json.dumps({"environment": record["environment"]}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
