"""Batch pipeline entry point for spark-submit.

    spark-submit --py-files sagan_spark.zip jobs/run_batch.py \
        --input  <pages table: iceberg table name or parquet path> \
        --rules  fixtures/ruleset.rules \
        --vars   fixtures/vars.conf \
        --output /warehouse/sagan_alerts \
        [--format iceberg|parquet] [--metrics /warehouse/sagan_metrics]

(tests/test_spark_submit.py runs exactly this, from a directory where
the repo is not importable — imports resolve from the shipped zip.)

Reads the Common-Crawl-style pages table (url, warc_ts, html, text,
lang), runs parse -> enrich -> route -> aggregate, fans out to the
per-sink tables (K1-K4/K7), and writes per-partition lineage + run
counters to the metrics table (A11; north_rule requirement).

On a cluster the session comes from spark-submit's conf (executors,
shuffle partitions, AQE); builder settings here only fill local-run
gaps.  Resume: sink writes are overwrite-mode (re-runs replace, never
duplicate); with --metrics set, a completion marker row lands in
``<metrics>/runs`` after the sinks commit, and a re-run with the same
--run-id that finds its marker exits without rewriting anything —
lineage/counters land in run_id partitions written with dynamic
partition OVERWRITE, so even a crash-retry of an unfinished run-id
rewrites its own partition instead of appending a duplicate.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

# direct `python jobs/...` runs: repo root on sys.path (spark-submit
# --py-files covers the cluster case)
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import uuid

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--rules", required=True)
    ap.add_argument("--vars", default="")
    ap.add_argument("--output", required=True)
    ap.add_argument("--metrics", default="")
    ap.add_argument("--format", default="parquet", choices=["parquet", "iceberg"])
    # pages = Common-Crawl-style table (url/warc_ts/html/text/lang);
    # pipe  = raw '|'-framed syslog text lines (reference S5 feed);
    # json  = raw JSON lines (reference S6 feed; key mapping in --json-map
    #         as field=key1,key2 pairs separated by ';')
    ap.add_argument("--input-format", default="pages", choices=["pages", "pipe", "json"])
    ap.add_argument("--json-map", default="message=%JSON%")
    ap.add_argument("--run-id", default=uuid.uuid4().hex[:12])
    args = ap.parse_args()

    spark = (
        SparkSession.builder.appName("sagan_spark_batch")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )

    from sagan_spark.pipeline.engine import SaganSparkEngine
    from sagan_spark.pipeline.metrics import partition_lineage, run_counters
    from sagan_spark.pipeline.route import assemble_alerts, rule_metadata_df, write_sinks
    from sagan_spark.rules.parser import parse_rules

    variables = {}
    if args.vars:
        for line in open(args.vars):
            line = line.strip()
            if line and not line.startswith("#") and "=" in line:
                k, _, v = line.partition("=")
                variables[k.strip()] = v.strip()

    rules = parse_rules(open(args.rules).read(), variables)

    # resume guard: a completed run-id already has its marker -> no-op
    if args.metrics:
        try:
            runs = spark.read.format(args.format).load(f"{args.metrics}/runs")
            if runs.filter(runs.run_id == args.run_id).head(1):
                print({"run_id": args.run_id, "skipped": "already completed"})
                spark.stop()
                return
        except Exception:
            pass  # no runs table yet — first run

    engine = SaganSparkEngine(rules)
    if args.input_format == "pipe":
        from sagan_spark.pipeline.decode import decode_pipe_frame

        frame = decode_pipe_frame(spark.read.text(args.input), line_col="value")
    elif args.input_format == "json":
        from sagan_spark.pipeline.decode import decode_json_frame

        mapping = {}
        for pair in args.json_map.split(";"):
            if "=" in pair:
                fld, _, keys = pair.partition("=")
                mapping[fld.strip()] = [k.strip() for k in keys.split(",") if k.strip()]
        frame = decode_json_frame(spark.read.text(args.input), mapping, line_col="value")
    else:
        if args.format == "iceberg":
            pages = spark.read.format("iceberg").load(args.input)
        else:
            pages = spark.read.parquet(args.input)
        frame = engine.frame_from_pages(pages)

    if args.metrics:
        # dynamic-partition OVERWRITE keyed by run_id: a crash-retry of
        # the same run-id rewrites its own partition instead of
        # appending a second copy (the completion marker alone cannot
        # make appends idempotent — lineage lands before the marker)
        lineage = partition_lineage(frame, run_id=args.run_id)
        (
            lineage.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("run_id")
            .format(args.format)
            .save(f"{args.metrics}/lineage")
        )

    result = engine.run(frame)
    alerts = result.alerts()
    cond_sids = [r.sid for r in rules if r.is_condition]
    assembled = assemble_alerts(
        alerts, rule_metadata_df(spark, rules), events=frame,
        xbit_condition_sids=cond_sids,
    )
    paths = write_sinks(assembled, args.output, fmt=args.format, rules=rules)

    if args.metrics:
        from pyspark.sql import functions as F

        counters = run_counters(result.hits).withColumn("run_id", F.lit(args.run_id))
        (
            counters.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("run_id")
            .format(args.format)
            .save(f"{args.metrics}/counters")
        )
        # completion marker LAST: its presence certifies the sinks above
        # committed, making a same-run-id retry a no-op
        marker = spark.createDataFrame([(args.run_id,)], "run_id string")
        marker.write.mode("append").format(args.format).save(f"{args.metrics}/runs")
    result.release()

    print({"run_id": args.run_id, "sinks": paths})
    spark.stop()


if __name__ == "__main__":
    main()
