"""Structured Streaming mode: the reference's live pipeline re-expressed.

The reference is a pure streaming engine — FIFO input, worker pool,
mmap'd correlation state that survives restarts because it is a file
(reference src/input-plugins/fifo.c:62, src/sagan-defs.h:185-208,
src/ipc.c).  The Spark form is one query:

- source: ``readStream`` over the pages table directory (Iceberg/parquet);
- stateless match: the one plan batch builds too
  (:meth:`SaganSparkEngine.match_hits` has no streaming branch; the
  extraction UDFs keep their evaluate-once barrier because no stateful
  operator sits in the stream plan — correlation runs in foreachBatch);
- correlation: each ``foreachBatch`` micro-batch runs the step batch
  ``run()`` runs, ``correlate.correlate`` — after/threshold, the
  xbit/flexbit walk, the condition gate — seeded from the previous
  micro-batch's snapshot stores, and writes its own: ``corr_state``
  (after/threshold machines), ``xbit_state`` (the bits) and
  ``chain_corr_state`` (chain machines).  All state is in these
  snapshots; nothing else carries across micro-batches;
- sinks: the same micro-batch writes the same per-sink tables as batch,
  with the streaming checkpoint providing exactly-once resume.

State leaves a snapshot once no event the stream may still replay can
tell it apart from no state: a machine key whose anchor is more than its
window, or a bit that is expired, before its own latest event in the
micro-batch or the floor.  The floor is the newest anchor of the
previous snapshots (the ``_newest`` marker each snapshot write leaves
beside its rows, read without a job; a snapshot without the marker
gives -inf) minus ``watermark``, the allowed lateness.  Any event within
the lateness gap-resets a dropped key (after.c:132-137,
threshold.c:141-146) and sees a dropped bit expired, so dropping is
*semantics-preserving*.  A bit with expire 0 stays, as the reference
keeps it (src/ipc.c:78-200).  An event later than the lateness replays
against the state the previous micro-batch kept, as every event does.
Each store keeps the ``batch_id=s_<N>`` partitions of the last two
micro-batches, so a retry of micro-batch N re-reads N-1's.

One fan-out per micro-batch, the shape batch ``route.write_sinks`` has
too: the assembled alert set is materialized once
(``session.materialize``), then every independent write of the
micro-batch — its sink views and its snapshot writes — runs at once
(``session.run_concurrently``).  Each write keeps its ``batch_id``
dynamic partition overwrite, so a micro-batch retried after any one of
them failed rewrites what it wrote.

Every state machine here is the one core in
:mod:`sagan_spark.pipeline.machines` that batch runs too, through the
same ``mapInPandas`` bodies; this module only reads and writes their
snapshots.  A stream checkpointed before the single query (stage A/B
checkpoints, a staged set store) must restart on a fresh checkpoint
and base path.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sagan_spark.pipeline.correlate import STATE_ANCHORS, STATE_SCHEMAS, correlate
from sagan_spark.pipeline.engine import EVENT_COLS, SaganSparkEngine
from sagan_spark.rules.compiler import EngineConfig
from sagan_spark.rules.ir import RuleIR
from sagan_spark.session import materialize, release, run_concurrently

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)

def pages_stream_frame(spark: SparkSession, path: str) -> DataFrame:
    """readStream over a pages-table directory (S1/S2 streaming analog)."""
    return spark.readStream.schema(PAGES_SCHEMA).parquet(path)


def _idempotent_write(df: DataFrame, path: str, batch_id: int, writer_id: str = "a") -> None:
    """Idempotent foreachBatch write: the batch's rows land in a
    ``batch_id=<writer>_<N>`` partition via dynamic partition
    overwrite, so a replayed micro-batch (restart after mid-write
    failure) rewrites its own partition instead of appending
    duplicates.  ``writer_id`` is ``a`` for a sink, ``s`` for a
    snapshot."""
    (
        df.withColumn("batch_id", F.lit(f"{writer_id}_{batch_id}"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


#: seconds per CalendarInterval unit — every unit Spark's withWatermark
#: accepts (interval strings are case-insensitive and allow singular or
#: plural: '1 week', '500 milliseconds', '10 Minutes' are all valid).
_INTERVAL_UNIT_SECS = {
    "microsecond": 1e-6,
    "millisecond": 1e-3,
    "second": 1.0,
    "minute": 60.0,
    "hour": 3600.0,
    "day": 86400.0,
    "week": 604800.0,
}


def _interval_secs(interval: str) -> float:
    """Parse a Spark CalendarInterval delay string to seconds with the
    same grammar Spark's withWatermark accepts: case-insensitive
    singular/plural units, an optional leading 'interval' keyword, and
    MULTI-UNIT forms ('1 hour 30 minutes') — so a watermark Spark
    accepts never crashes a micro-batch.  Raises ValueError on
    anything Spark would also reject."""
    parts = interval.strip().split()
    if parts and parts[0].lower() == "interval":
        parts = parts[1:]
    if not parts or len(parts) % 2 != 0:
        raise ValueError(
            f"watermark {interval!r}: expected '[interval] <n> <unit> "
            f"[<n> <unit> ...]' (units: {sorted(_INTERVAL_UNIT_SECS)})"
        )
    total = 0.0
    for n_str, unit in zip(parts[::2], parts[1::2]):
        try:
            n = float(n_str)
        except ValueError:
            raise ValueError(
                f"watermark {interval!r}: bad number {n_str!r}"
            ) from None
        key = unit.lower()
        if key.endswith("s") and key[:-1] in _INTERVAL_UNIT_SECS:
            key = key[:-1]
        if key not in _INTERVAL_UNIT_SECS:
            raise ValueError(
                f"watermark {interval!r}: unknown unit {unit!r} "
                f"(units: {sorted(_INTERVAL_UNIT_SECS)})"
            )
        total += n * _INTERVAL_UNIT_SECS[key]
    return total


def _fs_for(spark: SparkSession, path_str: str):
    """Hadoop FileSystem for a path — works for file://, hdfs://, s3a://
    alike (os-level glob/rmtree would silently no-op on cluster storage,
    letting the bounded stores grow forever)."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path


def _read_store_or_none(spark: SparkSession, path: str):
    """Read a parquet store; None when it does not exist yet or holds no
    data files (an empty snapshot, all partitions pruned).  Any OTHER
    failure raises: treating a transient FS/corruption error as "no
    store" would silently reset streaming state and permanently diverge
    from batch (over-alert thresholds, re-suppress afters, missed bit
    checks)."""
    from pyspark.errors import AnalysisException

    fs, p = _fs_for(spark, path)
    if not fs.exists(p):
        return None
    try:
        return spark.read.option("basePath", path).parquet(path)
    except AnalysisException as e:
        # Prefer the structured error condition (getCondition from Spark
        # 4.0, which deprecates getErrorClass; getErrorClass from 3.4);
        # fall back to the legacy message text so a benign empty store
        # never raises on an older runtime — exception-string formats
        # drift across versions, error classes do not.
        get = getattr(e, "getCondition", None) or getattr(e, "getErrorClass", None)
        klass = get() if get else None
        empty_classes = {"UNABLE_TO_INFER_SCHEMA", "PATH_NOT_FOUND"}
        if klass in empty_classes:
            return None
        if klass is None and (
            "UNABLE_TO_INFER_SCHEMA" in str(e)
            or "PATH_NOT_FOUND" in str(e)
            or "Unable to infer schema" in str(e)
            or "Path does not exist" in str(e)
        ):
            return None
        raise


def _snapshot_dirs(spark: SparkSession, path: str) -> tuple:
    """(Hadoop FileSystem, {batch number: partition path}) of a snapshot
    store — Hadoop-FS-based so it also works on hdfs://, s3a://, etc."""
    fs, base = _fs_for(spark, path)
    dirs = {}
    if fs.exists(base):
        for d in fs.listStatus(base):
            name = d.getPath().getName()
            if not name.startswith("batch_id="):
                continue
            try:
                dirs[int(name.rsplit("_", 1)[1])] = d.getPath()
            except ValueError:
                continue
    return fs, dirs


def _prune_old_corr_snapshots(spark: SparkSession, path: str, batch_id: int) -> None:
    """Keep only the current and previous batch's state snapshots: a
    replayed batch N re-reads N-1, nothing ever reads older — without
    this the store grows one partition per micro-batch forever."""
    fs, dirs = _snapshot_dirs(spark, path)
    for b, d in dirs.items():
        if b < batch_id - 1:
            fs.delete(d, True)


#: name of the floor marker in a snapshot partition: the newest anchor
#: of the snapshot's rows, as text.  Spark's file index skips names that
#: start with ``_``, so reading the partition never sees it.
_NEWEST = "_newest"


def _read_prev_snapshot(
    spark: SparkSession, path: str, batch_id: int, schema: str, lateness: float
) -> tuple:
    """``(rows, floor)`` of the latest snapshot partition written BEFORE
    this batch — retry-safe: a replayed batch N finds N-1's even if a
    half-written N partition exists.  The store is listed once, and the
    rows are read with their known ``schema`` (``correlate.STATE_SCHEMAS``),
    so no job infers it.

    ``rows`` is None when there is no such partition or it holds no
    rows.  ``floor`` is the oldest event time this micro-batch may still
    replay: the newest anchor of the snapshot (its ``_newest`` marker,
    see :func:`_write_corr_snapshot`) minus the allowed ``lateness``.
    Every anchor is the time of an event an earlier micro-batch held, so
    any later event within the lateness is no older.  Like Spark's own
    watermark the floor lags one micro-batch: this micro-batch's events
    do not raise it, so an event later than the lateness still replays
    against the state the previous micro-batch kept.  The floor is -inf
    without a previous snapshot, for an empty one, and for one written
    before snapshots carried the marker: that micro-batch then evicts a
    key only by its own latest event, as a first micro-batch does."""
    fs, dirs = _snapshot_dirs(spark, path)
    prev = [b for b in dirs if b < batch_id]
    if not prev:
        return None, float("-inf")
    part = dirs[max(prev)]
    names = {f.getPath().getName() for f in fs.listStatus(part)}
    floor = float("-inf")
    if _NEWEST in names:
        jio = spark._jvm.java.io
        marker = spark._jvm.org.apache.hadoop.fs.Path(part, _NEWEST)
        reader = jio.BufferedReader(jio.InputStreamReader(fs.open(marker), "UTF-8"))
        try:
            floor = float(reader.readLine()) - lateness
        finally:
            reader.close()
    if not any(name[0] not in "._" for name in names):
        return None, floor
    return spark.read.schema(schema).parquet(part.toString()), floor


def _write_corr_snapshot(
    spark: SparkSession, df: DataFrame, path: str, batch_id: int, anchor: str = "utime"
) -> None:
    """Write this batch's snapshot partition, then prune older ones.  The
    partition directory is made even when no key survived, so the next
    batch seeds from this empty snapshot, not from an older one.

    The write observes the newest ``anchor`` of its rows (an SQL
    expression, ``correlate.STATE_ANCHORS``) and leaves it in the partition's
    ``_newest`` marker, which the next micro-batch turns into its floor
    (:func:`_read_prev_snapshot`) without a job of its own.  An empty
    snapshot gets no marker."""
    store = path.rstrip("/").rsplit("/", 1)[-1]
    newest = Observation(f"{store}_newest_{batch_id}")
    _idempotent_write(
        df.observe(newest, F.max(F.expr(anchor)).alias("v")), path, batch_id, writer_id="s"
    )
    fs, part = _fs_for(spark, f"{path}/batch_id=s_{batch_id}")
    fs.mkdirs(part)
    value = newest.get["v"]
    if value is not None:
        out = fs.create(spark._jvm.org.apache.hadoop.fs.Path(part, _NEWEST), True)
        try:
            out.write(str(value).encode())
        finally:
            out.close()
    _prune_old_corr_snapshots(spark, path, batch_id)


class StreamingSaganEngine:
    """Streaming wrapper around the batch-compiled ruleset."""

    def __init__(
        self,
        rules: list[RuleIR],
        config: EngineConfig | None = None,
        watermark: str = "10 minutes",
        enable_xbits: bool = False,
    ):
        self.cond_sids = [r.sid for r in rules if r.is_condition]
        if self.cond_sids and not enable_xbits:
            raise NotImplementedError(
                f"sids {self.cond_sids}: xbit conditions need the bit store "
                "snapshots — use start_query (or batch SaganSparkEngine.run)"
            )
        self.engine = SaganSparkEngine(rules, config)
        self.rules = rules
        # fail on a malformed watermark HERE, not mid-stream at the
        # first floor inside foreachBatch
        _interval_secs(watermark)
        self.watermark = watermark

    def _watermark_secs(self) -> float:
        """self.watermark in seconds — the allowed event lateness, the
        snapshot eviction lag.  Accepts every interval spelling Spark's
        withWatermark accepts (validated at construction)."""
        return _interval_secs(self.watermark)

    def _start(
        self,
        hits: DataFrame,
        rules: list[RuleIR],
        base_path: str,
        checkpoint: str,
        sinks: list[str] | None,
        available_now: bool,
    ):
        """Start the append-mode ``foreachBatch`` query that correlates
        ``hits`` by ``rules`` and writes the sinks and snapshots under
        ``base_path``, checkpointed at ``checkpoint``; ``available_now``
        drains what is there and stops.

        Each micro-batch persists its hits, reads the previous snapshot
        of every store and the floor their markers give, and runs
        ``correlate.correlate`` on them.  It materializes the assembled
        survivors once; one concurrent fan-out then writes the sink views
        and this micro-batch's snapshots, which read the replays the
        materialization cached.

        Exactly-once on restart: each micro-batch's output lands in a
        ``batch_id=N`` partition written with dynamic partition
        OVERWRITE, so a batch replayed after a mid-write failure
        rewrites its own partition instead of appending duplicates
        (foreachBatch alone is only at-least-once)."""
        from sagan_spark.pipeline.route import assemble_alerts, rule_metadata_df, sink_views

        cond_sids = [r.sid for r in rules if r.is_condition]
        lateness = self._watermark_secs()

        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            spark = batch_df.sparkSession
            cached = batch_df.persist()
            persisted, assembled = [cached], None
            try:
                paths = {store: f"{base_path}/{store}" for store in STATE_ANCHORS}
                prev = {
                    s: _read_prev_snapshot(spark, p, batch_id, STATE_SCHEMAS[s], lateness)
                    for s, p in paths.items()
                }
                state = {s: rows for s, (rows, _) in prev.items() if rows is not None}
                floor = max(f for _, f in prev.values())
                flagged, snapshots = correlate(cached, rules, state, floor, cache=persisted)
                # flexbit-noalert sids stay in `routed`: the whole-alert
                # drop happens per sink via route.sink_suppressions
                routed = flagged.filter(
                    ~F.col("suppressed_after") & ~F.col("suppressed_threshold") & F.col("xbit_ok")
                ).drop("xbit_ok")
                meta = rule_metadata_df(spark, self.rules)
                assembled = materialize(
                    assemble_alerts(routed, meta, xbit_condition_sids=cond_sids), "assembled"
                )
                writes = [
                    partial(_idempotent_write, view, f"{base_path}/{sink}", batch_id)
                    for sink, view in sink_views(assembled, self.rules, sinks)
                ]
                writes += [
                    partial(_write_corr_snapshot, spark, rows, paths[s], batch_id, STATE_ANCHORS[s])
                    for s, rows in snapshots.items()
                ]
                run_concurrently(spark, writes)
            finally:
                if assembled is not None:
                    release(assembled)
                for df in persisted:
                    df.unpersist()

        writer = (
            hits.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint)
            .foreachBatch(write_batch)
        )
        return (writer.trigger(availableNow=True) if available_now else writer).start()

    def start_query(
        self,
        frame: DataFrame,
        base_path: str,
        checkpoint: str,
        sinks: list[str] | None = None,
        trigger_available_now: bool = True,
    ):
        """The streaming pipeline: every rule routes through one query
        (:meth:`_start`).  ``trigger_available_now`` drains what the input
        holds and stops; False keeps the query running for live tailing.
        ``frame``: the streaming canonical frame
        (``SaganSparkEngine.frame_from_pages(pages_stream_frame(...))``)."""
        # carry the full event columns: a stream cannot re-join its own
        # source at sink time (late materialization is batch-only)
        hits = self.engine.match_hits(frame, passthrough=EVENT_COLS)
        return self._start(hits, self.rules, base_path, checkpoint, sinks, trigger_available_now)

    def start_sink_query(
        self,
        frame: DataFrame,
        base_path: str,
        checkpoint: str,
        sinks: list[str] | None = None,
        trigger_available_now: bool = True,
    ):
        """:meth:`start_query` over the rules without an xbit condition
        only: a condition rule's hits are not routed."""
        hits = self.engine.match_hits(frame, passthrough=EVENT_COLS)
        if self.cond_sids:
            hits = hits.filter(~F.col("sid").isin(self.cond_sids))
        plain = [r for r in self.rules if not r.is_condition]
        return self._start(hits, plain, base_path, checkpoint, sinks, trigger_available_now)

    def run_pipeline_with_xbits(
        self,
        frame_factory,
        base_path: str,
        checkpoint_base: str,
        sinks: list[str] | None = None,
        timeout: int = 300,
    ) -> None:
        """Drain what the input holds through :meth:`start_query` and
        stop; raises TimeoutError when that takes over ``timeout`` s.
        ``frame_factory``: () -> a fresh streaming canonical frame."""
        q = self.start_query(frame_factory(), base_path, checkpoint_base, sinks=sinks)
        if not q.awaitTermination(timeout):
            q.stop()
            raise TimeoutError(f"the query did not drain within {timeout}s")
