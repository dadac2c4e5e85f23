"""Structured Streaming mode: the reference's live pipeline re-expressed.

The reference is a pure streaming engine — FIFO input, worker pool,
mmap'd correlation state that survives restarts because it is a file
(reference src/input-plugins/fifo.c:62, src/sagan-defs.h:185-208,
src/ipc.c).  The Spark form:

- source: ``readStream`` over the pages table directory (Iceberg/parquet);
- stateless match: the one plan batch builds too
  (:meth:`SaganSparkEngine.match_hits` has no streaming branch; the
  extraction UDFs keep their evaluate-once barrier because no stateful
  operator sits in the stream plan — correlation runs in foreachBatch);
- correlation: each ``foreachBatch`` micro-batch runs the batch
  after/threshold step (``correlate.apply_after_threshold``) seeded from
  the previous micro-batch's snapshot store, and writes its own.  A key
  whose anchor is more than its window before the floor — the previous
  snapshot's newest anchor minus ``watermark`` (the allowed lateness) —
  leaves the snapshot: any event within the lateness gap-resets it
  (after.c:132-137, threshold.c:141-146), so dropping it is
  *semantics-preserving*.  The snapshot write observes its own newest
  anchor and leaves it in a ``_newest`` marker beside the rows, so the
  next micro-batch reads its floor without a job (a snapshot without
  the marker gives floor -inf);
- sinks: the same micro-batch writes the same per-sink tables as batch,
  with the streaming checkpoint providing exactly-once resume.

One fan-out per micro-batch, the shape batch ``route.write_sinks`` has
too: the assembled alert set is materialized once
(``session.materialize``), then every independent write of the
micro-batch — its sink views, its staged-set write, its snapshot
writes — runs at once (``session.run_concurrently``).  Each write keeps
its ``batch_id`` dynamic partition overwrite, so a micro-batch retried
after any one of them failed rewrites what it wrote.

Every state machine here — after/threshold counters, the xbit/flexbit
bit store, chain verdict gating — is the one core in
:mod:`sagan_spark.pipeline.machines` that batch runs too, through the
same ``mapInPandas`` bodies; this module only carries their state across
micro-batches (snapshot stores, staged set stores).

xbit/flexbit **conditions** run as a chained two-query pipeline
(``run_pipeline_with_xbits``).  Stage A routes stateless+stateful rules
and stages its setters' set/unset walk events (``correlate.setter_events``)
into a time-bucketed store.  Stage B resolves every condition rule through
the batch walk (``correlate.resolve_xbits``): each micro-batch replays its
checks and chain ops together with the staged events and the chain
machines' seeds in one ordered pass, and stages the chain sets that fired
for later micro-batches.  Its verdicts then pass batch ``run()``'s
condition gate (``correlate.gate_after_threshold``: after/threshold over
condition-PASSING rows only, engine.c:999-1024 vs 1373-1389; the walk's
flags for chain rules), seeded and snapshotted by the same micro-batch
wrapper as stage A's step.  Each snapshot store keeps the
``batch_id=s_<N>`` partitions of the last two micro-batches, so a retry
of micro-batch N re-reads N-1's.  No batch-only rule combinations
remain.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sagan_spark.pipeline.correlate import (
    _XBIT_WALK_COLS,
    CORR_STATE_COLS,
    _corr_spec_map,
    apply_after_threshold,
    chain_components,
    gate_after_threshold,
    hit_events,
    resolve_xbits,
    setter_events,
    ts_seconds_d,
)
from sagan_spark.pipeline.engine import EVENT_COLS, SaganSparkEngine
from sagan_spark.pipeline.machines import GATED
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


def _idempotent_write(
    df: DataFrame,
    path: str,
    batch_id: int,
    extra_partition: str | None = None,
    writer_id: str = "a",
) -> None:
    """Idempotent foreachBatch write: the batch's rows land in a
    ``batch_id=<writer>_<N>`` partition via dynamic partition
    overwrite, so a replayed micro-batch (restart after mid-write
    failure) rewrites its own partition instead of appending
    duplicates.  ``writer_id`` namespaces the partition when two
    queries (the chained pipeline's stage A and B) share one sink
    path — without it their equal batch numbers would clobber each
    other."""
    parts = ["batch_id"] + ([extra_partition] if extra_partition else [])
    (
        df.withColumn("batch_id", F.lit(f"{writer_id}_{batch_id}"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*parts)
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
    accepts never crashes the sweep mid-stream.  Raises ValueError on
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
    letting the 'physically bounded' stores grow forever)."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path


def _read_store_or_none(spark: SparkSession, path: str):
    """Read a staged parquet store; None when it does not exist yet or
    holds no data files (all partitions swept/pruned).  Any OTHER
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


def _sweep_dead_buckets(
    spark: SparkSession,
    path: str,
    bucket_secs: int,
    max_expire: int,
    min_live_ts: float,
) -> list[str]:
    """Physically delete staged-set bucket dirs that no live check can
    see: every set in bucket b has set_ts < (b+1)*bucket_secs, so the
    bucket is dead once (b+1)*bucket_secs + max_expire <= min_live_ts.
    Permanent sets (bucket -1) are never swept — the reference keeps
    them until the IPC store wraps too (src/ipc.c:78-200)."""
    fs, base = _fs_for(spark, path)
    removed: list[str] = []
    if not fs.exists(base):
        return removed
    for batch_dir in fs.listStatus(base):
        if not batch_dir.isDirectory():
            continue
        if not batch_dir.getPath().getName().startswith("batch_id="):
            continue
        for bdir in fs.listStatus(batch_dir.getPath()):
            name = bdir.getPath().getName()
            if "=" not in name:
                continue
            try:
                b = int(name.rsplit("=", 1)[1])
            except ValueError:
                continue
            if b >= 0 and (b + 1) * bucket_secs + max_expire <= min_live_ts:
                fs.delete(bdir.getPath(), True)
                removed.append(str(bdir.getPath()))
    return removed


def _stage_sets(
    events: DataFrame, path: str, batch_id: int, bucket_secs: int, writer_id: str
) -> None:
    """Write ungated walk events to the staged set store, one partition
    per time bucket of their set time.  A permanent op (expire 0) lands in
    bucket -1, which the sweep never deletes — the reference keeps it
    until the IPC store wraps too (src/ipc.c:78-200)."""
    bucket = F.when(F.col("expire") == 0, F.lit(-1)).otherwise(
        F.floor(F.col("ts_d") / F.lit(bucket_secs))
    )
    _idempotent_write(
        events.withColumn("set_bucket", bucket.cast("long")),
        path,
        batch_id,
        extra_partition="set_bucket",
        writer_id=writer_id,
    )


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


def _prev_snapshot_dir(spark: SparkSession, path: str, batch_id: int) -> tuple:
    """(Hadoop FileSystem, the latest snapshot partition written BEFORE
    this batch, or None) — retry-safe: a replayed batch N finds N-1's
    even if a half-written N partition exists."""
    fs, dirs = _snapshot_dirs(spark, path)
    prev = [b for b in dirs if b < batch_id]
    return fs, (dirs[max(prev)] if prev else None)


def _read_prev_corr_state(spark: SparkSession, path: str, batch_id: int):
    """Latest correlation state snapshot written before this batch
    (:func:`_prev_snapshot_dir`); None when there is none or it holds no
    rows."""
    _, prev = _prev_snapshot_dir(spark, path, batch_id)
    return _read_store_or_none(spark, str(prev)) if prev is not None else None


def _read_prev_floor(spark: SparkSession, path: str, batch_id: int, lateness: float) -> float:
    """The oldest event time this micro-batch may still replay: the
    newest anchor of the previous snapshot (its ``_newest`` marker, see
    :func:`_write_corr_snapshot`) minus the allowed ``lateness``.

    Every anchor is the time of an event an earlier micro-batch held, so
    any later event within the lateness is no older.  Like Spark's own
    watermark the floor lags one micro-batch: this micro-batch's events
    do not raise it, so an event later than the lateness still replays
    against the state the previous micro-batch kept.

    -inf without a previous snapshot, for an empty one, and for one
    written before snapshots carried the marker: that micro-batch then
    evicts a key only by its own latest event, as a first micro-batch
    does."""
    fs, prev = _prev_snapshot_dir(spark, path, batch_id)
    if prev is None:
        return float("-inf")
    marker = spark._jvm.org.apache.hadoop.fs.Path(prev, _NEWEST)
    if not fs.exists(marker):
        return float("-inf")
    jio = spark._jvm.java.io
    reader = jio.BufferedReader(jio.InputStreamReader(fs.open(marker), "UTF-8"))
    try:
        return float(reader.readLine()) - lateness
    finally:
        reader.close()


def _write_corr_snapshot(
    spark: SparkSession, df: DataFrame, path: str, batch_id: int, anchor: str = "utime"
) -> None:
    """Write this batch's snapshot partition, then prune older ones.  The
    partition directory is made even when no key survived, so the next
    batch seeds from this empty snapshot, not from an older one.

    The write observes the newest ``anchor`` of its rows (``utime``; a
    ``cstate`` row holds its anchor in ``expire``) and leaves it in the
    partition's ``_newest`` marker, which the next micro-batch turns into
    its floor (:func:`_read_prev_floor`) without a job of its own.  An
    empty snapshot gets no marker."""
    store = path.rstrip("/").rsplit("/", 1)[-1]
    newest = Observation(f"{store}_newest_{batch_id}")
    _idempotent_write(
        df.observe(newest, F.max(anchor).alias("v")), path, batch_id, writer_id="s"
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


def _replay_micro_batch(
    spark: SparkSession,
    hits: DataFrame,
    rules: list[RuleIR],
    state_path: str,
    batch_id: int,
    lateness: float,
    persisted: list,
    writes: list,
    step,
) -> DataFrame:
    """One micro-batch of after/threshold: the batch ``step``
    (``correlate.apply_after_threshold``, or the condition gate
    ``correlate.gate_after_threshold``) seeded from the previous snapshot
    in ``state_path``, up to that snapshot's floor
    (:func:`_read_prev_floor`).  Returns the rows of ``hits`` that
    neither machine suppressed.

    The replay output stays a lazy cache on ``persisted`` for the caller
    to release: the caller's materialized assembled frame computes it
    once, and this batch's snapshot write — appended to ``writes`` for
    the caller's one concurrent fan-out — reads the cached rows."""
    seed = _read_prev_corr_state(spark, state_path, batch_id)
    floor = _read_prev_floor(spark, state_path, batch_id, lateness)
    flagged, replayed = step(hits, rules, seed=seed, floor=floor)
    if replayed is not None:
        replayed = replayed.persist()
        persisted.append(replayed)
        writes.append(
            partial(
                _write_corr_snapshot,
                spark,
                replayed.filter(F.col("kind") == "s").select(*CORR_STATE_COLS),
                state_path,
                batch_id,
            )
        )
    return flagged.filter(~F.col("suppressed_after") & ~F.col("suppressed_threshold"))


def _start_foreach_batch(hits: DataFrame, checkpoint: str, write_batch, available_now: bool):
    """Start an append-mode ``foreachBatch`` query over ``hits``,
    checkpointed at ``checkpoint``; ``available_now`` drains what is
    there and stops."""
    writer = (
        hits.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(write_batch)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


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
                f"sids {self.cond_sids}: xbit conditions need the chained "
                "pipeline — use run_pipeline_with_xbits (or batch "
                "SaganSparkEngine.run)"
            )
        self.engine = SaganSparkEngine(rules, config)
        self.rules = rules
        # fail on a malformed watermark HERE, not mid-stream at the
        # first staged-store sweep inside foreachBatch
        _interval_secs(watermark)
        self.watermark = watermark

    def _watermark_secs(self) -> float:
        """self.watermark in seconds — the allowed event lateness: the
        staged-store sweep lag and the snapshot eviction lag.  Accepts
        every interval spelling Spark's withWatermark accepts (validated
        at construction)."""
        return _interval_secs(self.watermark)

    # -- staged xbit set-store layout -----------------------------------------

    def _max_expire(self) -> int:
        """Largest expire across setter xbits (0 when all permanent)."""
        return max(
            (x.expire for r in self.rules for x in r.xbits if x.action in ("set", "unset")),
            default=0,
        )

    def _bucket_secs(self) -> int:
        """Time-bucket width for the staged set store — buckets older
        than (min live check ts - max expire) physically prune."""
        return max(3600, self._max_expire())

    def start_sink_query(
        self,
        frame: DataFrame,
        base_path: str,
        checkpoint: str,
        sinks: list[str] | None = None,
        trigger_available_now: bool = True,
    ):
        """foreachBatch fan-out to the per-sink tables (K7).

        Each micro-batch persists its hits, runs after/threshold through
        the batch step seeded from the previous micro-batch's
        ``corr_state_a`` snapshot, and materializes the assembled
        survivors.  One concurrent fan-out then writes the sink views,
        its setters' staged walk events and its own ``corr_state_a``
        snapshot, which reads the replay the materialization cached.

        Exactly-once on restart: each micro-batch's output lands in a
        ``batch_id=N`` partition written with dynamic partition
        OVERWRITE, so a batch replayed after a mid-write failure
        rewrites its own partition instead of appending duplicates
        (foreachBatch alone is only at-least-once)."""
        from sagan_spark.pipeline.route import assemble_alerts, rule_metadata_df, sink_views

        rules = self.rules
        # condition rules' after/threshold runs AFTER the xbit gate, in
        # stage B (engine.c:999-1024 vs 1373-1389)
        plain_rules = [r for r in rules if not r.is_condition]
        bucket_secs = self._bucket_secs()
        # carry the full event columns: a stream cannot re-join its own
        # source at sink time (late materialization is batch-only)
        hits = self.engine.match_hits(frame, passthrough=EVENT_COLS)
        if self.cond_sids:
            # condition rules route through the chained xbit query
            hits = hits.filter(~F.col("sid").isin(self.cond_sids))

        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            spark = batch_df.sparkSession
            cached = batch_df.persist()
            persisted, writes, assembled = [cached], [], None
            try:
                # flexbit-noalert sids stay in `routed` on purpose: their
                # set/unset events must still stage for chained checks
                # (the reference sets bits before the Send_Alert gate,
                # engine.c:1415-1436) — the whole-alert drop happens per
                # sink via route.sink_suppressions
                routed = _replay_micro_batch(
                    spark, cached, plain_rules, f"{base_path}/corr_state_a", batch_id,
                    self._watermark_secs(), persisted, writes, apply_after_threshold,
                )
                meta = rule_metadata_df(spark, rules)
                assembled = materialize(assemble_alerts(routed, meta), "assembled")
                for sink, view in sink_views(assembled, rules, sinks):
                    writes.append(
                        partial(
                            _idempotent_write, view, f"{base_path}/{sink}", batch_id,
                            writer_id="a",
                        )
                    )
                # setter rules' surviving alerts stage their set/unset
                # walk events for the chained xbit query (engine.c:
                # 1415-1427: sets happen only after after/threshold)
                sets = setter_events(assembled, rules)
                if sets is not None:
                    writes.append(
                        partial(
                            _stage_sets, sets, f"{base_path}/xbit_sets", batch_id,
                            bucket_secs, "a",
                        )
                    )
                run_concurrently(spark, writes)
            finally:
                if assembled is not None:
                    release(assembled)
                for df in persisted:
                    df.unpersist()

        return _start_foreach_batch(hits, checkpoint, write_batch, trigger_available_now)

    def start_xbit_query(
        self,
        frame: DataFrame,
        base_path: str,
        checkpoint: str,
        sinks: list[str] | None = None,
        trigger_available_now: bool = True,
    ):
        """Stage B of the chained pipeline: route xbit-CONDITION rules.

        Every micro-batch runs the batch walk (``correlate.resolve_xbits``)
        over one event frame:

        - this batch's checks and chain set/unsets
          (``correlate.hit_events``);
        - the staged set store: stage A's setter events and earlier
          micro-batches' fired chain ops, all walk events, minus this
          batch's own ``c_<batch_id>`` partition (a replayed batch
          re-derives it);
        - ``cseed`` rows restoring the chain rules' after/threshold
          machines from the previous micro-batch's ``chain_corr_state``
          snapshot.

        The walk's fired chain ops and its ``cstate`` snapshot persist for
        the next micro-batch.  The verdicts then pass the step batch
        ``run()`` calls too, ``correlate.gate_after_threshold``, seeded from
        and snapshotted to ``corr_state_b`` like stage A's step: a
        condition-failing or suppressed hit is not routed.  As in stage A,
        the assembled alerts are materialized once and one concurrent
        fan-out writes the sink views, the fired-chain staging, the
        ``chain_corr_state`` and the ``corr_state_b`` snapshots; the
        staged-store sweep runs after all of them have finished.

        Cross-query propagation is drain-ordered: with availableNow run
        stage A to completion first (sets staged), then stage B — exact
        parity with batch.  In continuous mode sets become visible one
        micro-batch later (documented eventual consistency).

        Scale: the staged store is partitioned by time bucket — each
        micro-batch reads only buckets still visible to its earliest
        check (partition pruning) and sweeps dead buckets afterwards, so
        the store stays bounded by (max expire window + bucket width) of
        live data instead of growing with stream lifetime."""
        from sagan_spark.pipeline.route import assemble_alerts, rule_metadata_df, sink_views

        rules = self.rules
        bucket_secs = self._bucket_secs()
        max_expire = self._max_expire()
        sets_path = f"{base_path}/xbit_sets"
        chain_state_path = f"{base_path}/chain_corr_state"
        chain_rules, _ = chain_components(rules)
        chain_corr_specs = _corr_spec_map(chain_rules)
        seed_bit = F.lit(None).cast("string")
        for r in chain_rules:
            seed_bit = F.when(F.col("csid") == r.sid, F.lit(r.xbits[0].name)).otherwise(
                seed_bit
            )

        hits = self.engine.match_hits(frame, passthrough=EVENT_COLS).filter(
            F.col("sid").isin(self.cond_sids)
        )

        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            spark = batch_df.sparkSession
            cached = batch_df.persist()
            persisted, writes, assembled = [cached], [], None
            try:
                min_chk = cached.agg(F.min(ts_seconds_d(F.col("ts")))).first()[0]
                events = hit_events(cached, rules)
                sets = _read_store_or_none(spark, sets_path)  # None: nothing staged yet
                if sets is not None:
                    sets = sets.filter(F.col("batch_id") != f"c_{batch_id}")
                    if min_chk is not None:
                        # partition-prune buckets no check in this batch can see
                        live_from = int((min_chk - max_expire) // bucket_secs)
                        sets = sets.filter(
                            (F.col("set_bucket") < 0) | (F.col("set_bucket") >= live_from)
                        )
                    events = events.unionByName(sets.select(*_XBIT_WALK_COLS))
                prev = (
                    _read_prev_corr_state(spark, chain_state_path, batch_id)
                    if chain_corr_specs
                    else None
                )
                if prev is not None:
                    # named after a bit of the owning rule, a seed
                    # replays in its component's walk partition
                    events = events.unionByName(
                        prev.withColumn("kind", F.lit("cseed")).withColumn(
                            "bit_name", seed_bit
                        )
                    )
                chain_floor = _read_prev_floor(
                    spark, chain_state_path, batch_id, self._watermark_secs()
                )
                flagged, walk_out = resolve_xbits(cached, events, rules, chain_floor)
                walk_out = walk_out.persist()
                persisted.append(walk_out)
                if chain_rules:
                    fired = walk_out.filter(F.col("kind").isin(*set(GATED.values())))
                    writes.append(
                        partial(
                            _stage_sets, fired.select(*_XBIT_WALK_COLS), sets_path,
                            batch_id, bucket_secs, "c",
                        )
                    )
                if chain_corr_specs:
                    # a cseed row holds its anchor in `expire`
                    writes.append(
                        partial(
                            _write_corr_snapshot,
                            spark,
                            walk_out.filter(F.col("kind") == "cstate").select(*_XBIT_WALK_COLS),
                            chain_state_path,
                            batch_id,
                            "expire",
                        )
                    )
                # the batch condition gate, seeded from corr_state_b
                routed = _replay_micro_batch(
                    spark, flagged, rules, f"{base_path}/corr_state_b", batch_id,
                    self._watermark_secs(), persisted, writes, gate_after_threshold,
                ).filter(F.col("xbit_ok")).drop("xbit_ok")
                meta = rule_metadata_df(spark, rules)
                assembled = materialize(
                    assemble_alerts(routed, meta, xbit_condition_sids=self.cond_sids),
                    "assembled",
                )
                for sink, view in sink_views(assembled, rules, sinks):
                    writes.append(
                        partial(
                            _idempotent_write, view, f"{base_path}/{sink}", batch_id,
                            writer_id="b",
                        )
                    )
                run_concurrently(spark, writes)
            finally:
                if assembled is not None:
                    release(assembled)
                for df in persisted:
                    df.unpersist()
            if min_chk is not None and max_expire > 0:
                # sweep against a watermark-lagged floor, not this
                # batch's own min: stage B applies no watermark to its
                # checks, so a later batch may legitimately carry an
                # event up to `watermark` older than anything seen here
                # — deleting buckets it still probes would flip its
                # isset verdicts vs the batch walk
                _sweep_dead_buckets(
                    spark,
                    sets_path,
                    bucket_secs,
                    max_expire,
                    min_chk - self._watermark_secs(),
                )

        return _start_foreach_batch(hits, checkpoint, write_batch, trigger_available_now)

    def run_pipeline_with_xbits(
        self,
        frame_factory,
        base_path: str,
        checkpoint_base: str,
        sinks: list[str] | None = None,
        timeout: int = 300,
    ) -> None:
        """Drain-ordered chained pipeline: stage A (stateless+stateful
        rules, sinks + set staging) runs to completion, then stage B
        (xbit condition rules) — batch-exact for availableNow drains.

        ``frame_factory``: () -> fresh streaming canonical frame (each
        query needs its own source instance)."""
        qa = self.start_sink_query(
            frame_factory(), base_path, f"{checkpoint_base}/stage_a", sinks=sinks
        )
        if not qa.awaitTermination(timeout):
            # starting stage B against a half-staged set store would
            # silently break the documented drain-ordered batch parity
            qa.stop()
            raise TimeoutError(
                f"stage A did not drain within {timeout}s; aborting before "
                "stage B reads an incomplete staged set store"
            )
        qb = self.start_xbit_query(
            frame_factory(), base_path, f"{checkpoint_base}/stage_b", sinks=sinks
        )
        if not qb.awaitTermination(timeout):
            qb.stop()
            raise TimeoutError(f"stage B did not drain within {timeout}s")
