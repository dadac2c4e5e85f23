"""SparkSession factory with engine-appropriate defaults."""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor, as_completed
from pathlib import Path

import pyarrow as pa
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# repo root (parent of the sagan_spark package) — local-mode Python workers
# inherit PYTHONPATH from the driver env; on a real cluster the package
# ships via `spark-submit --py-files` instead (see jobs/)
_PKG_ROOT = str(Path(__file__).resolve().parent.parent)


def _ensure_worker_pythonpath() -> None:
    pp = os.environ.get("PYTHONPATH", "")
    if _PKG_ROOT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{_PKG_ROOT}{os.pathsep}{pp}" if pp else _PKG_ROOT
    # one BLAS/OpenMP thread per Python worker: N workers each spawning an
    # N-thread spinning BLAS pool oversubscribes the box N-fold and can
    # INVERT scaling (measured 20x CPU inflation at local[32])
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS"):
        os.environ.setdefault(var, "1")


def build_spark(
    app: str = "sagan_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "16g",
    extra: dict | None = None,
) -> SparkSession:
    """A local-mode session with the engine's tuned defaults.  ``extra``
    overrides/adds spark confs AFTER them (tools use it to e.g.
    re-enable the UI for metrics scraping).

    Python workers start from :mod:`sagan_spark.pydaemon`, PySpark's
    daemon with the per-task re-read of every zip directory on the
    worker's ``sys.path`` skipped, which otherwise costs each Python
    task 0.2-0.3 s before its function runs.  The daemon module must be
    importable when the daemon starts, which the repo root on
    ``PYTHONPATH`` ensures here.  The ``jobs/`` entry points keep
    PySpark's daemon: under ``spark-submit --py-files`` the package
    reaches a worker's ``sys.path`` only per task, after the daemon has
    started."""
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or cores
    _ensure_worker_pythonpath()
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        # engine caches are short-lived scratch (hits between correlation
        # branches): columnar compression costs more CPU than the memory
        # it saves on a 128 GiB box
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
        # the late-materialization join (alerts x events on event_key) has
        # no use for sorted output — shuffled-hash beats sort-merge's
        # 20M-row sorts; executors have the memory for the hash side
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # split scans finely enough that local parallelism saturates from
        # the SCAN itself — the engine then skips its saturation
        # repartition (a full corpus-wide exchange of message strings).
        # On a real cluster Iceberg's split planning plays this role.
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # fewer, larger Arrow batches through the pandas-UDF hot path
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        # the fused N-rule projection generates ~7k-bytecode methods at
        # the default split threshold (1024) — big enough that HotSpot
        # tiers them up late, so the first pass over a partition runs
        # interpreted.  Splitting at 256 keeps every generated method
        # small enough to JIT early: measured (200k-row match stage,
        # local[32]) the second run drops 12.9->7.2 s and steady state
        # is unchanged (6.3 vs 6.8 s); at 100 TB the warmup is amortized
        # but a long tail of short tasks still benefits from fast tier-up
        .config("spark.sql.codegen.methodSplitThreshold", "256")
        # workers fork from a daemon that keeps zip directories across
        # tasks: 0.2-0.3 s less per Python task (see sagan_spark.pydaemon)
        .config("spark.python.daemon.module", "sagan_spark.pydaemon")
        # per-Column-call site capture (error-message enrichment) costs two
        # extra py4j round trips + a Python stack walk on EVERY DataFrame
        # API call — at production ruleset sizes plan construction makes
        # hundreds of thousands of such calls, so this is a measurable
        # slice of driver-side plan-build time (tools/bench_rulecount.py)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def materialize(df: DataFrame, name: str) -> DataFrame:
    """Compute ``df`` now and return a frame that reads the stored rows:
    the one way the package pins a frame.  Its lineage is cut, so later
    plans analyse a ``LogicalRDD`` leaf instead of the whole tree below
    it (the match projection, the replays, an op's earlier rounds).

    A reliable ``checkpoint`` when the SparkContext has a checkpoint dir
    (``spark.checkpoint.dir`` or ``setCheckpointDir``): it survives
    executor loss.  Otherwise an executor-local ``localCheckpoint``.
    The jobs carry the call site ``materialize <name>`` in the event
    log.  Free the pin with :func:`release` once nothing reads it (Spark
    deletes no checkpoint files by itself): an op frees its own
    intermediate pins, and those its returned frame reads belong to
    its caller."""
    sc = df.sparkSession.sparkContext
    prev = sc.getLocalProperty("callSite.short")
    sc.setLocalProperty("callSite.short", f"materialize {name}")
    try:
        if sc.getCheckpointDir() is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)
    finally:
        sc.setLocalProperty("callSite.short", prev)


def release(df: DataFrame) -> None:
    """Free a :func:`materialize` pin; ``df`` cannot be read afterwards.
    ``df.unpersist()`` does not reach a checkpoint: a local one drops the
    blocks of its RDD, a reliable one deletes its checkpoint files."""
    rdd = df._jdf.queryExecution().analyzed().rdd()
    path = rdd.getCheckpointFile()
    if path.isDefined():
        sc = df.sparkSession.sparkContext
        hpath = sc._jvm.org.apache.hadoop.fs.Path(path.get())
        hpath.getFileSystem(sc._jsc.hadoopConfiguration()).delete(hpath, True)
    else:
        rdd.unpersist(False)


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A small driver-built table (``rows`` of Python values, ``schema``
    in DDL) as a ``LocalRelation``: the rows go to the JVM as one Arrow
    table, and Spark plans a ``LocalTableScan`` that needs no Python
    job, where ``createDataFrame(list)`` builds a Python RDD whose every
    read runs a Python stage.  The package's one way to make such a
    table."""
    names = StructType.fromDDL(schema).fieldNames()
    columns = zip(*rows) if rows else [()] * len(names)
    table = pa.table([pa.array(c) for c in columns], names=names)
    return spark.createDataFrame(table, schema)


def py4j_calls(spark: SparkSession, build) -> tuple[object, int]:
    """``build()``'s result and the py4j round trips the driver made
    while it ran: the gateway client's ``send_command`` is wrapped with
    a counter for the call and restored afterwards, also when ``build``
    raises."""
    client = spark.sparkContext._gateway._gateway_client
    send, calls = client.send_command, 0

    def counting(*args, **kwargs):
        nonlocal calls
        calls += 1
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        result = build()
    finally:
        del client.send_command  # back to the class's method
    return result, calls


def run_concurrently(spark: SparkSession, actions: list) -> None:
    """Run zero-argument Spark ``actions`` at once, one driver thread
    each, wait for every one of them, then re-raise the failure that
    happened first.  The engine's one write fan-out: a batch job's sink
    writes and a micro-batch's sink, staging and snapshot writes are
    each a few small jobs that the default FIFO scheduler runs side by
    side, so their fixed per-job overheads overlap instead of adding up.

    Each thread starts with the caller's local properties and session
    tags (``inheritable_thread_target(spark)``): the job description,
    ``callSite.short`` and a streaming query's ids and job group reach
    every write's jobs."""
    with ThreadPoolExecutor(max_workers=max(len(actions), 1)) as pool:
        finished = list(
            as_completed(pool.submit(inheritable_thread_target(spark)(a)) for a in actions)
        )
    for future in finished:
        future.result()
