"""Streaming pipeline entry point for spark-submit.

    spark-submit --py-files sagan_spark.zip jobs/run_stream.py \
        --input  <pages table directory> \
        --rules  fixtures/ruleset.rules \
        --vars   fixtures/vars.conf \
        --output /warehouse/sagan_alerts \
        --checkpoint /warehouse/sagan_ckpt \
        [--watermark "10 minutes"] [--continuous]

(tests/test_spark_submit.py runs this, from a directory where the
repo is not importable — imports resolve from the shipped zip.)

readStream -> stateless match -> foreachBatch: after/threshold through
the batch replay seeded from the previous micro-batch's snapshot store
under --output, then the sink fan-out.  --watermark is the allowed event
lateness: state older than it (plus the rule's window) leaves the
snapshot.  Restarting with the same --checkpoint and --output resumes
state and sink offsets exactly-once (the reference's
mmap-survives-restart property, reference src/sagan-defs.h:185-208).
Default trigger is availableNow (drain-and-stop); --continuous keeps
the query running for live tailing.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

# direct `python jobs/...` runs: repo root on sys.path (spark-submit
# --py-files covers the cluster case)
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--rules", required=True)
    ap.add_argument("--vars", default="")
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--watermark", default="10 minutes")
    ap.add_argument("--continuous", action="store_true")
    args = ap.parse_args()

    spark = (
        SparkSession.builder.appName("sagan_spark_stream")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )

    from sagan_spark.pipeline.engine import SaganSparkEngine
    from sagan_spark.rules.parser import parse_rules
    from sagan_spark.streaming import StreamingSaganEngine, pages_stream_frame

    variables = {}
    if args.vars:
        for line in open(args.vars):
            line = line.strip()
            if line and not line.startswith("#") and "=" in line:
                k, _, v = line.partition("=")
                variables[k.strip()] = v.strip()

    rules = parse_rules(open(args.rules).read(), variables)
    has_cond = any(
        x.action in ("isset", "isnotset") for r in rules for x in r.xbits
    )
    seng = StreamingSaganEngine(
        rules, watermark=args.watermark, enable_xbits=has_cond
    )
    if has_cond and not args.continuous:
        # drain-ordered chained pipeline (stage A then xbit stage B)
        seng.run_pipeline_with_xbits(
            lambda: SaganSparkEngine.frame_from_pages(
                pages_stream_frame(spark, args.input)
            ),
            args.output,
            args.checkpoint,
        )
    else:
        frame = SaganSparkEngine.frame_from_pages(pages_stream_frame(spark, args.input))
        q = seng.start_sink_query(
            frame,
            args.output,
            args.checkpoint,
            trigger_available_now=not args.continuous,
        )
        q.awaitTermination()
    spark.stop()


if __name__ == "__main__":
    main()
