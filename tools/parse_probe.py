"""Cold-parse probe: what the fixture ruleset's match projection costs a
fresh driver JVM.

Starts a new session, builds ``SaganSparkEngine.match_hits`` for the
fixture ruleset three times over a small pages corpus (nothing is
executed), then collects garbage and reads the driver JVM's heap.  The
first build pays the parser's and analyzer's cold start; the live heap
after GC shows what stays behind (Spark keeps the SQL parser's decision
cache per JVM, so an expression shape that is expensive to parse also
leaves memory behind).

Usage:  python tools/parse_probe.py
Prints one JSON line: first and later build seconds, heap used and
committed after GC (MB).
"""

from __future__ import annotations

import json
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

BUILDS = 3


def main() -> None:
    from fixtures.vars import VARIABLES
    from sagan_spark.data.pages import write_pages
    from sagan_spark.pipeline.engine import SaganSparkEngine
    from sagan_spark.rules.parser import parse_rules
    from sagan_spark.session import build_spark

    spark = build_spark(app="parse_probe", cores=2, driver_memory="2g")
    spark.sparkContext.setLogLevel("ERROR")
    rules = parse_rules((REPO / "fixtures" / "ruleset.rules").read_text(), VARIABLES)
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/pages.parquet"
        write_pages(path, n_rows=2_000)
        frame = SaganSparkEngine.frame_from_pages(spark.read.parquet(path))
        builds = []
        for _ in range(BUILDS):
            t0 = time.perf_counter()
            SaganSparkEngine(rules).match_hits(frame)
            builds.append(round(time.perf_counter() - t0, 3))

    jvm = spark.sparkContext._jvm
    for _ in range(3):
        jvm.java.lang.System.gc()
        time.sleep(0.5)
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    print(json.dumps({
        "first_build_s": builds[0],
        "later_builds_s": builds[1:],
        "heap_used_after_gc_mb": round(heap.getUsed() / 2**20, 1),
        "heap_committed_mb": round(heap.getCommitted() / 2**20, 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
