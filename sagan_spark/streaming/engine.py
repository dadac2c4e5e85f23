"""Structured Streaming mode: the reference's live pipeline re-expressed.

The reference is a pure streaming engine — FIFO input, worker pool,
mmap'd correlation state that survives restarts because it is a file
(reference src/input-plugins/fifo.c:62, src/sagan-defs.h:185-208,
src/ipc.c).  The Spark form:

- source: ``readStream`` over the pages table directory (Iceberg/parquet);
- stateless match: the exact same compiled plan as batch
  (:meth:`SaganSparkEngine.match_hits` — pandas UDFs and the columnar
  rule fan-out are streaming-safe because they are narrow);
- correlation: each ``foreachBatch`` micro-batch runs the batch
  after/threshold step (``correlate.apply_after_threshold``) seeded from
  the previous micro-batch's snapshot store, and writes its own.  A key
  whose anchor is more than its window before the previous snapshot's
  newest anchor minus ``watermark`` (the allowed lateness) leaves the
  snapshot: any event within the lateness gap-resets it (after.c:132-137,
  threshold.c:141-146), so dropping it is *semantics-preserving*;
- sinks: the same micro-batch fans out to the same per-sink tables as
  batch, with the streaming checkpoint providing exactly-once resume.

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
for later micro-batches.  after/threshold ON a non-chain condition rule
also runs in stage B, on condition-PASSING rows only (engine.c:999-1024 vs
1373-1389), through the same seeded step as stage A.  Each snapshot
store keeps the ``batch_id=s_<N>`` partitions of the last two
micro-batches, so a retry of micro-batch N re-reads N-1's.  No
batch-only rule combinations remain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sagan_spark.pipeline.correlate import (
    _XBIT_WALK_COLS,
    CORR_STATE_COLS,
    _corr_spec_map,
    apply_after_threshold,
    chain_components,
    hit_events,
    resolve_xbits,
    setter_events,
    ts_seconds_d,
)
from sagan_spark.pipeline.engine import EVENT_COLS, SaganSparkEngine
from sagan_spark.pipeline.machines import GATED
from sagan_spark.rules.compiler import EngineConfig
from sagan_spark.rules.ir import RuleIR

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


def _read_prev_corr_state(spark: SparkSession, path: str, batch_id: int):
    """Latest correlation state snapshot written BEFORE this batch
    (retry-safe: a replayed batch N reads N-1's snapshot even if a
    half-written N partition exists); None when there is none or it
    holds no rows."""
    _, dirs = _snapshot_dirs(spark, path)
    prev = [b for b in dirs if b < batch_id]
    return _read_store_or_none(spark, str(dirs[max(prev)])) if prev else None


def _write_corr_snapshot(spark: SparkSession, df: DataFrame, path: str, batch_id: int) -> None:
    """Write this batch's snapshot partition, then prune older ones.  The
    partition directory is made even when no key survived, so the next
    batch seeds from this empty snapshot, not from an older one."""
    _idempotent_write(df, path, batch_id, writer_id="s")
    fs, part = _fs_for(spark, f"{path}/batch_id=s_{batch_id}")
    fs.mkdirs(part)
    _prune_old_corr_snapshots(spark, path, batch_id)


def _snapshot_floor(seed: DataFrame | None, lateness: float, utime: str = "utime") -> float:
    """The oldest event time a later micro-batch may still replay: the
    newest anchor (``utime`` column) in the previous micro-batch's
    snapshot ``seed``, minus the allowed ``lateness``; -inf without one.

    Every anchor is the time of an event an earlier micro-batch held, so
    any later event within the lateness is no older.  Like Spark's own
    watermark the floor lags one micro-batch: this micro-batch's events
    do not raise it, so an event later than the lateness still replays
    against the state the previous micro-batch kept."""
    newest = seed.agg(F.max(utime)).first()[0] if seed is not None else None
    return float("-inf") if newest is None else newest - lateness


def _replay_micro_batch(
    spark: SparkSession,
    hits: DataFrame,
    rules: list[RuleIR],
    state_path: str,
    batch_id: int,
    lateness: float,
    persisted: list,
    exclude_sids: list[int] | None = None,
) -> DataFrame:
    """One micro-batch of after/threshold: the batch step, seeded from the
    previous snapshot in ``state_path``, writing this batch's snapshot
    there with the :func:`_snapshot_floor` of that seed.  Returns the rows
    of ``hits`` that neither machine suppressed.  The replay output is
    cached once (the snapshot write and the flags both read it) and goes
    on ``persisted`` for the caller to release."""
    seed = _read_prev_corr_state(spark, state_path, batch_id)
    flagged, replayed = apply_after_threshold(
        hits,
        rules,
        exclude_sids=exclude_sids,
        seed=seed,
        floor=_snapshot_floor(seed, lateness),
    )
    if replayed is not None:
        replayed = replayed.persist()
        persisted.append(replayed)
        _write_corr_snapshot(
            spark,
            replayed.filter(F.col("kind") == "s").select(*CORR_STATE_COLS),
            state_path,
            batch_id,
        )
    return flagged.filter(~F.col("suppressed_after") & ~F.col("suppressed_threshold"))


class StreamingSaganEngine:
    """Streaming wrapper around the batch-compiled ruleset."""

    def __init__(
        self,
        rules: list[RuleIR],
        config: EngineConfig | None = None,
        watermark: str = "10 minutes",
        enable_xbits: bool = False,
    ):
        self.cond_sids = [
            r.sid for r in rules if any(x.action in ("isset", "isnotset") for x in r.xbits)
        ]
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
        ``corr_state_a`` snapshot (and writes its own), routes the
        survivors to the sinks and stages its setters' walk events.

        Exactly-once on restart: each micro-batch's output lands in a
        ``batch_id=N`` partition written with dynamic partition
        OVERWRITE, so a batch replayed after a mid-write failure
        rewrites its own partition instead of appending duplicates
        (foreachBatch alone is only at-least-once)."""
        from sagan_spark.pipeline.route import (
            SINK_BUILDERS,
            apply_sink_suppression,
            assemble_alerts,
            rule_metadata_df,
            sink_suppressions,
        )

        rules = self.rules
        sink_names = sinks or list(SINK_BUILDERS)
        suppress = sink_suppressions(rules)
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
            persisted = [cached]
            try:
                # flexbit-noalert sids stay in `routed` on purpose: their
                # set/unset events must still stage for chained checks
                # (the reference sets bits before the Send_Alert gate,
                # engine.c:1415-1436) — the whole-alert drop happens per
                # sink via route.sink_suppressions
                # condition rules' after/threshold runs AFTER the xbit
                # gate, in stage B (engine.c:999-1024 vs 1373-1389)
                routed = _replay_micro_batch(
                    spark, cached, rules, f"{base_path}/corr_state_a", batch_id,
                    self._watermark_secs(), persisted, exclude_sids=self.cond_sids,
                )
                meta = rule_metadata_df(spark, rules)
                assembled = assemble_alerts(routed, meta).persist()
                persisted.append(assembled)
                for sink in sink_names:
                    _idempotent_write(
                        SINK_BUILDERS[sink](
                            apply_sink_suppression(assembled, sink, suppress)
                        ),
                        f"{base_path}/{sink}",
                        batch_id,
                        writer_id="a",
                    )
                # setter rules' surviving alerts stage their set/unset
                # walk events for the chained xbit query (engine.c:
                # 1415-1427: sets happen only after after/threshold)
                sets = setter_events(assembled, rules)
                if sets is not None:
                    _stage_sets(sets, f"{base_path}/xbit_sets", batch_id, bucket_secs, "a")
            finally:
                for df in persisted:
                    df.unpersist()

        writer = (
            hits.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint)
            .foreachBatch(write_batch)
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

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
        the next micro-batch.  after/threshold on a non-chain condition
        rule then runs on condition-PASSING rows only (engine.c:999-1024
        vs 1373-1389), through stage A's seeded step on ``corr_state_b``.

        Cross-query propagation is drain-ordered: with availableNow run
        stage A to completion first (sets staged), then stage B — exact
        parity with batch.  In continuous mode sets become visible one
        micro-batch later (documented eventual consistency).

        Scale: the staged store is partitioned by time bucket — each
        micro-batch reads only buckets still visible to its earliest
        check (partition pruning) and sweeps dead buckets afterwards, so
        the store stays bounded by (max expire window + bucket width) of
        live data instead of growing with stream lifetime."""
        from sagan_spark.pipeline.route import (
            SINK_BUILDERS,
            apply_sink_suppression,
            assemble_alerts,
            rule_metadata_df,
            sink_suppressions,
        )

        rules = self.rules
        cond_rules = [r for r in rules if r.sid in self.cond_sids]
        sink_names = sinks or list(SINK_BUILDERS)
        suppress = sink_suppressions(rules)
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
            persisted = [cached]
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
                # a cseed row holds its anchor in `expire`
                chain_floor = _snapshot_floor(prev, self._watermark_secs(), "expire")
                flagged, walk_out = resolve_xbits(cached, events, rules, chain_floor)
                walk_out = walk_out.persist()
                persisted.append(walk_out)
                if chain_rules:
                    fired = walk_out.filter(F.col("kind").isin(*set(GATED.values())))
                    _stage_sets(
                        fired.select(*_XBIT_WALK_COLS), sets_path, batch_id, bucket_secs, "c"
                    )
                if chain_corr_specs:
                    _write_corr_snapshot(
                        spark,
                        walk_out.filter(F.col("kind") == "cstate").select(*_XBIT_WALK_COLS),
                        chain_state_path,
                        batch_id,
                    )
                    # a suppressed chain hit neither alerts nor sets
                    # (engine.c:1402-1427)
                    flagged = flagged.filter(
                        ~F.col("chain_sup_after") & ~F.col("chain_sup_thr")
                    )
                routed = flagged.filter(F.col("xbit_ok")).drop(
                    "xbit_ok", "chain_sup_after", "chain_sup_thr"
                )

                # chain rules' machines ran inside the walk; this serves
                # the other condition rules, on condition-PASSING rows
                # only (engine.c:1373-1389)
                routed = _replay_micro_batch(
                    spark, routed, cond_rules, f"{base_path}/corr_state_b", batch_id,
                    self._watermark_secs(), persisted, exclude_sids=list(chain_corr_specs),
                )
                meta = rule_metadata_df(spark, rules)
                assembled = assemble_alerts(
                    routed, meta, xbit_condition_sids=self.cond_sids
                ).persist()
                persisted.append(assembled)
                for sink in sink_names:
                    _idempotent_write(
                        SINK_BUILDERS[sink](
                            apply_sink_suppression(assembled, sink, suppress)
                        ),
                        f"{base_path}/{sink}",
                        batch_id,
                        writer_id="b",
                    )
            finally:
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

        writer = (
            hits.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint)
            .foreachBatch(write_batch)
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

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
