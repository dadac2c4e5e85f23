"""Rule-count scaling probe: how does the columnar rule fan-out hold
up as the ruleset grows toward reference-production size?

The bench fixture set is 23 rules; real deployments of the reference
load thousands (its default `max-threads`/rule files assume so).  The
engine's plan is one boolean column per rule (`_c{i}` cheap predicate,
then a WHEN-gated match expr), so ruleset size grows the PROJECTION
WIDTH, not the row count — the thing to measure is Catalyst
analysis/codegen time and any whole-stage-codegen fallback, not data
throughput.

Each rule count runs in its own subprocess (fresh JVM — janino/JIT
state cannot leak between sizes).  The rules are the benchmark's
generated ruleset (``benchmark.inputs.wide_rules_text``), a production
mix: ~10% fire against the corpus (real rulesets mostly don't fire),
shapes rotate over plain content / content+nocase / pcre / threshold /
after so the correlation stages see load too.

Per size it reports the driver's graph build (``plan_build_sec``) with
the py4j round trips made during it (``plan_build_py4j_calls``), the
physical planning of that graph (``optimize_sec``: optimizer, codegen
planning, no execution), the first execution and a steady re-execution.
The session takes its core count from ``SPARK_GRAFT_CPUS``.

Usage:  python tools/bench_rulecount.py [--rows 200000] [--sizes 23,100,300]
        python tools/bench_rulecount.py --single <n_rules> --rows N  (internal)
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

def run_single(n_rules: int, rows: int) -> None:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from benchmark.inputs import wide_rules_text
    from fixtures.vars import VARIABLES
    from sagan_spark.data.pages import write_pages
    from sagan_spark.pipeline.engine import SaganSparkEngine
    from sagan_spark.pipeline.route import (
        assemble_alerts,
        eve_view,
        rule_metadata_df,
    )
    from sagan_spark.rules.parser import parse_rules
    from sagan_spark.session import build_spark, py4j_calls

    pages_path = f"/tmp/sagan_spark_bench/pages_{rows}.parquet"
    if not Path(pages_path).exists():
        Path(pages_path).parent.mkdir(parents=True, exist_ok=True)
        write_pages(pages_path, n_rows=rows)

    spark = build_spark(app=f"rules{n_rules}", driver_memory="8g")
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.monotonic()
    rules = parse_rules(wide_rules_text(n_rules), VARIABLES)
    t_parse = time.monotonic() - t0

    pages = spark.read.parquet(pages_path)
    pages.count()  # warm scan outside the timed window

    # driver-side DataFrame graph construction only: run() executes its
    # barriers eagerly, so the plan timed here is the match graph and
    # the route graph over it
    def build():
        meta = rule_metadata_df(spark, rules)
        engine = SaganSparkEngine(rules)
        frame = engine.frame_from_pages(pages)
        graph = eve_view(assemble_alerts(engine.match_hits(frame), meta, events=frame))
        return meta, engine, frame, graph

    t1 = time.monotonic()
    (meta, engine, frame, graph), calls = py4j_calls(spark, build)
    t_plan = time.monotonic() - t1

    t_opt = time.monotonic()
    graph._jdf.queryExecution().executedPlan()
    t_opt = time.monotonic() - t_opt

    def execute(routed) -> int:
        # a noop write of the EVE view materializes every routed column
        # (count() would let Catalyst prune part of the route layer)
        obs = Observation("routed")
        routed.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
            "overwrite"
        ).save()
        return obs.get["rows"]

    # analysis + codegen + execution: run()'s barriers, then the route
    t2 = time.monotonic()
    result = engine.run(frame)
    routed = eve_view(assemble_alerts(result.alerts(), meta, events=frame))
    n_routed = execute(routed)
    t_exec = time.monotonic() - t2

    # steady-state second execution of the route over run()'s pins:
    # per-process compile cost amortized
    t3 = time.monotonic()
    n2 = execute(routed)
    t_steady = time.monotonic() - t3
    assert n2 == n_routed
    result.release()

    print(
        json.dumps(
            {
                "n_rules": n_rules,
                "rows": rows,
                "routed_rows": n_routed,
                "parse_sec": round(t_parse, 3),
                "plan_build_sec": round(t_plan, 3),
                "plan_build_py4j_calls": calls,
                "optimize_sec": round(t_opt, 3),
                "first_exec_sec": round(t_exec, 3),
                "steady_exec_sec": round(t_steady, 3),
            }
        )
    )
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=200_000)
    ap.add_argument("--sizes", default="23,100,300")
    ap.add_argument("--single", type=int, default=0)
    args = ap.parse_args()

    if args.single:
        run_single(args.single, args.rows)
        return

    results = []
    for n in [int(s) for s in args.sizes.split(",")]:
        out = subprocess.run(
            [
                sys.executable,
                __file__,
                "--single",
                str(n),
                "--rows",
                str(args.rows),
            ],
            capture_output=True,
            text=True,
            cwd=REPO,
            check=True,
        )
        line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
        results.append(json.loads(line))
        print(line, flush=True)

    print(json.dumps({"metric": "rule-count scaling", "results": results}))


if __name__ == "__main__":
    main()
