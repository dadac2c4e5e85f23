"""Structured Streaming mode: the reference's live pipeline re-expressed.

The reference is a pure streaming engine — FIFO input, worker pool,
mmap'd correlation state that survives restarts because it is a file
(reference src/input-plugins/fifo.c:62, src/sagan-defs.h:185-208,
src/ipc.c).  The Spark form:

- source: ``readStream`` over the pages table directory (Iceberg/parquet);
- stateless match: the exact same compiled plan as batch
  (:meth:`SaganSparkEngine.match_hits` — pandas UDFs and the columnar
  rule fan-out are streaming-safe because they are narrow);
- correlation: ``applyInPandasWithState`` keyed (sid, track-key), state =
  the after/threshold counters, timeout = event-time TTL.  Dropping
  state after ``seconds`` of silence is *semantics-preserving*: the gap
  reset (after.c:132-137, threshold.c:141-146) makes a stale counter
  indistinguishable from a fresh one;
- sinks: ``foreachBatch`` fan-out to the same per-sink tables as batch,
  with the streaming checkpoint providing exactly-once resume.

Every state machine here — after/threshold counters, the xbit/flexbit
bit store, chain verdict gating — is the one core in
:mod:`sagan_spark.pipeline.machines` that batch runs too; the functions
below only translate row formats and carry its state across
micro-batches (GroupState JSON, snapshot stores, staged set stores).

xbit/flexbit **conditions** run as a chained two-query pipeline
(``run_pipeline_with_xbits``).  Stage A routes stateless+stateful rules
and stages its setters' set/unset walk events (``correlate.setter_events``)
into a time-bucketed store.  Stage B resolves every condition rule through
the batch walk (``correlate.resolve_xbits``): each micro-batch replays its
checks and chain ops together with the staged events and the chain
machines' seeds in one ordered pass, and stages the chain sets that fired
for later micro-batches.  after/threshold ON a non-chain condition rule
also runs in stage B, on condition-PASSING rows only (engine.c:999-1024 vs
1373-1389), with state seeded from the previous micro-batch's snapshot
(idempotent batch-id partitions; a retry reads the prior batch's
snapshot).  No batch-only rule combinations remain.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from sagan_spark.pipeline.correlate import (
    _XBIT_WALK_COLS,
    _corr_spec_map,
    chain_components,
    corr_group_key,
    corr_window_secs,
    hit_events,
    resolve_xbits,
    setter_events,
    ts_seconds_d,
    ts_seconds_l,
)
from sagan_spark.pipeline.engine import EVENT_COLS, SaganSparkEngine
from sagan_spark.pipeline.machines import GATED, CorrMachines
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

# per-(sid, track-key) counters serialized as JSON: the mmap'd
# _After2_IPC/_Threshold2_IPC slots (reference src/sagan.h:605-664)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("a_state", T.StringType()),
        T.StructField("t_state", T.StringType()),
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
        # Prefer the structured error class (Spark >= 3.4); fall back to
        # the legacy message text so a benign empty store never raises on
        # an older runtime — exception-string formats drift across
        # versions, error classes do not.
        klass = e.getErrorClass() if hasattr(e, "getErrorClass") else None
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


_CORR_B_OUT_SCHEMA = (
    "kind string, sid long, corr_group string, event_key string, "
    "suppressed_after boolean, suppressed_threshold boolean, "
    "machine string, mkey string, cnt long, utime long"
)


def _prune_old_corr_snapshots(spark: SparkSession, path: str, batch_id: int) -> None:
    """Keep only the current and previous batch's state snapshots: a
    replayed batch N re-reads N-1, nothing ever reads older — without
    this the store grows one partition per micro-batch forever.
    Hadoop-FS-based so it also prunes on hdfs://, s3a://, etc."""
    fs, base = _fs_for(spark, path)
    if not fs.exists(base):
        return
    for d in fs.listStatus(base):
        name = d.getPath().getName()
        if not name.startswith("batch_id="):
            continue
        try:
            b = int(name.rsplit("_", 1)[1])
        except ValueError:
            continue
        if b < batch_id - 1:
            fs.delete(d.getPath(), True)


def _read_prev_corr_state(spark: SparkSession, path: str, batch_id: int):
    """Latest stage-B correlation state snapshot written BEFORE this
    batch (retry-safe: a replayed batch N reads N-1's snapshot even if a
    half-written N partition exists)."""
    df = _read_store_or_none(spark, path)
    if df is None:  # first batch: no state yet
        return None
    df = df.withColumn(
        "_bnum", F.regexp_extract("batch_id", r"_(\d+)$", 1).cast("long")
    ).filter(F.col("_bnum") < batch_id)
    mx = df.agg(F.max("_bnum")).first()[0]
    if mx is None:
        return None
    return df.filter(F.col("_bnum") == mx).drop("batch_id", "_bnum")


def _make_seeded_replay(specs: dict[int, dict], max_secs: int):
    """Per-(sid, corr_group) after/threshold replay through the core's
    ``CorrMachines`` (pipeline/machines.py), keyed by the bare track key
    and seeded from the previous micro-batch's snapshot ('s' rows).  Runs
    on xbit-condition-PASSING rows only (engine.c:1373-1389).  Emits one
    'e' flag row per event plus the group's surviving 's' state rows
    (``CorrMachines.snapshot``: eviction against each key's own latest
    event, ``max_secs`` horizon)."""

    def replay(pdf: pd.DataFrame) -> pd.DataFrame:
        sid = int(pdf["sid"].iloc[0])
        grp = pdf["corr_group"].iloc[0]
        spec = specs.get(sid)
        machines = CorrMachines()
        st = pdf[pdf["kind"] == "s"]
        for machine, key, cnt, utime in zip(st["machine"], st["mkey"], st["cnt"], st["utime"]):
            machines.seed(machine, key, cnt, utime)
        ev = pdf[pdf["kind"] == "e"].sort_values(["ts_us", "event_key"], kind="mergesort")
        rows = []
        for ek, t, ak, tk in zip(
            ev["event_key"], ev["ts_epoch"], ev["track_after"], ev["track_threshold"]
        ):
            sup_a, sup_t = machines.step(spec, int(t), ak, tk) if spec else (False, False)
            rows.append(("e", sid, grp, ek, sup_a, sup_t, "", "", 0, 0))
        rows += [
            ("s", sid, grp, "", None, None, machine, key, cnt, utime)
            for machine, key, cnt, utime in machines.snapshot(max_secs)
        ]
        return pd.DataFrame(
            rows,
            columns=[
                "kind", "sid", "corr_group", "event_key", "suppressed_after",
                "suppressed_threshold", "machine", "mkey", "cnt", "utime",
            ],
        )

    return replay


def _make_group_replay(specs: dict[int, dict], max_secs: int, out_cols: list[str]):
    """``applyInPandasWithState`` body for stage-A after/threshold: one
    (sid, corr_group) group's micro-batch replayed in canonical order
    through the core's ``CorrMachines``, keyed by the bare track key.
    The GroupState holds the snapshot as JSON ``{key: [count, utime]}``
    per machine and times out ``max_secs`` after the group's latest
    event: past that a silent key's counters equal fresh state."""

    def replay(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        spec = specs.get(int(key[0]))
        machines = CorrMachines()
        if state.exists:
            for machine, blob in zip("at", state.get):
                for k, (cnt, utime) in json.loads(blob).items():
                    machines.seed(machine, k, cnt, utime)
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ["ts", "event_key"], kind="mergesort"
        )
        ts_epoch = (pdf["ts"].astype("int64") // 1_000_000_000).to_numpy()
        flags = [
            machines.step(spec, int(t), ak, tk) if spec else (False, False)
            for t, ak, tk in zip(
                ts_epoch, pdf["track_after"].to_numpy(), pdf["track_threshold"].to_numpy()
            )
        ]
        pdf["suppressed_after"] = [f[0] for f in flags]
        pdf["suppressed_threshold"] = [f[1] for f in flags]
        snap: dict = {"a": {}, "t": {}}
        for machine, k, cnt, utime in machines.snapshot(max_secs):
            snap[machine][k] = [cnt, utime]
        state.update((json.dumps(snap["a"]), json.dumps(snap["t"])))
        state.setTimeoutTimestamp((int(ts_epoch.max(initial=0)) + max_secs + 1) * 1000)
        yield pdf[out_cols]

    return replay


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

    # -- stateful correlation --------------------------------------------------

    def _corr_specs(self) -> dict[int, dict]:
        # stage A machines: condition rules' after/threshold runs AFTER
        # the xbit gate in stage B (engine.c:999-1024 vs 1373-1389)
        return _corr_spec_map(
            [r for r in self.rules if r.sid not in self.cond_sids]
        )

    def _watermark_secs(self) -> float:
        """self.watermark in seconds — the allowed event lateness, used
        as the staged-store sweep lag.  Accepts every interval spelling
        Spark's withWatermark accepts (validated at construction)."""
        return _interval_secs(self.watermark)

    def alerts_stream(self, frame: DataFrame) -> DataFrame:
        """frame: streaming canonical event frame -> streaming alert rows."""
        # carry the full event columns: a stream cannot re-join its own
        # source at sink time (late materialization is batch-only)
        hits = self.engine.match_hits(frame, passthrough=EVENT_COLS)
        if self.cond_sids:
            # condition rules route through the chained xbit query
            hits = hits.filter(~F.col("sid").isin(self.cond_sids))
        specs = self._corr_specs()
        if not specs:
            return hits.withColumn("suppressed_after", F.lit(False)).withColumn(
                "suppressed_threshold", F.lit(False)
            )

        corr_sids = list(specs)
        plain = (
            hits.filter(~F.col("sid").isin(corr_sids))
            .withColumn("suppressed_after", F.lit(False))
            .withColumn("suppressed_threshold", F.lit(False))
        )
        corr = hits.filter(F.col("sid").isin(corr_sids))

        # both-after+threshold rules group per shared track key when the
        # two machines key identically (see correlate.corr_group_key —
        # only a mixed-track both-rule needs the per-sid funnel)
        corr = corr.withWatermark("ts", self.watermark).withColumn(
            "corr_group", corr_group_key(specs)
        )

        base_fields = [f for f in corr.schema.fields if f.name != "corr_group"]
        out_struct = T.StructType(
            base_fields
            + [
                T.StructField("suppressed_after", T.BooleanType()),
                T.StructField("suppressed_threshold", T.BooleanType()),
            ]
        )
        out_cols = [f.name for f in out_struct.fields]
        replayed = corr.groupBy("sid", "corr_group").applyInPandasWithState(
            _make_group_replay(specs, corr_window_secs(specs), out_cols),
            outputStructType=out_struct,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
        return replayed.unionByName(plain)

    def routed_alerts(self, frame: DataFrame) -> DataFrame:
        """Correlation-surviving alert rows.  flexbit-noalert sids stay
        IN this stream on purpose: their set/unset events must still
        stage for chained checks (the reference sets bits before the
        Send_Alert gate, engine.c:1415-1436) — the whole-alert drop
        happens per sink via route.sink_suppressions."""
        alerts = self.alerts_stream(frame)
        return alerts.filter(~F.col("suppressed_after") & ~F.col("suppressed_threshold"))

    # -- sinks -----------------------------------------------------------------

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

        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            spark = batch_df.sparkSession
            meta = rule_metadata_df(spark, rules)
            assembled = assemble_alerts(batch_df, meta).persist()
            try:
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
                assembled.unpersist()

        writer = (
            self.routed_alerts(frame)
            .writeStream.outputMode("append")
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
        vs 1373-1389), seeded from ``corr_state_b``.

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
        # chain rules' machines ran inside the walk; the seeded replay
        # below serves the other condition rules
        corr_specs_b = _corr_spec_map(
            [r for r in cond_rules if r.sid not in chain_corr_specs]
        )
        seed_bit = F.lit(None).cast("string")
        for r in chain_rules:
            seed_bit = F.when(F.col("csid") == r.sid, F.lit(r.xbits[0].name)).otherwise(
                seed_bit
            )

        hits = self.engine.match_hits(frame, passthrough=EVENT_COLS).filter(
            F.col("sid").isin(self.cond_sids)
        )

        def seeded_corr(
            spark: SparkSession, routed: DataFrame, batch_id: int, persisted: list
        ) -> DataFrame:
            """after/threshold ON non-chain condition rules: counters
            advance only on condition-PASSING rows (engine.c:1373-1389),
            replayed per (sid, track-key) with state seeded from the
            previous micro-batch's snapshot (idempotent batch-id
            partitions — a replayed batch N re-reads N-1's snapshot)."""
            corr_sids_b = list(corr_specs_b)
            # rows arrive with False placeholder flags (set before
            # writeStream) — drop them so the replay's verdicts are the
            # only columns with these names after the join
            corr_rows = routed.filter(F.col("sid").isin(corr_sids_b)).drop(
                "suppressed_after", "suppressed_threshold"
            )
            plain_rows = routed.filter(~F.col("sid").isin(corr_sids_b))
            state_path = f"{base_path}/corr_state_b"
            narrow = corr_rows.select(
                F.lit("e").alias("kind"),
                F.col("sid"),
                corr_group_key(corr_specs_b).alias("corr_group"),
                "event_key",
                ts_seconds_l(F.col("ts")).alias("ts_epoch"),
                F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
                "track_after",
                "track_threshold",
                F.lit("").alias("machine"),
                F.lit("").alias("mkey"),
                F.lit(0).cast("long").alias("cnt"),
                F.lit(0).cast("long").alias("utime"),
            )
            prev = _read_prev_corr_state(spark, state_path, batch_id)
            if prev is not None:
                narrow = narrow.unionByName(
                    prev.select(
                        F.lit("s").alias("kind"),
                        "sid",
                        "corr_group",
                        F.lit("").alias("event_key"),
                        F.lit(0).cast("long").alias("ts_epoch"),
                        F.lit(0).cast("long").alias("ts_us"),
                        F.lit("").alias("track_after"),
                        F.lit("").alias("track_threshold"),
                        "machine",
                        "mkey",
                        "cnt",
                        "utime",
                    )
                )
            replayed = (
                narrow.groupBy("sid", "corr_group")
                .applyInPandas(
                    _make_seeded_replay(corr_specs_b, corr_window_secs(corr_specs_b)),
                    schema=_CORR_B_OUT_SCHEMA,
                )
                .persist()
            )
            persisted.append(replayed)
            _idempotent_write(
                replayed.filter(F.col("kind") == "s").select(
                    "sid", "corr_group", "machine", "mkey", "cnt", "utime"
                ),
                state_path,
                batch_id,
                writer_id="s",
            )
            _prune_old_corr_snapshots(spark, state_path, batch_id)
            flags = replayed.filter(F.col("kind") == "e").select(
                "sid",
                "event_key",
                "suppressed_after",
                "suppressed_threshold",
            )
            survivors = (
                corr_rows.join(flags, ["sid", "event_key"])
                .filter(~F.col("suppressed_after") & ~F.col("suppressed_threshold"))
                .select(*plain_rows.columns)
            )
            return plain_rows.unionByName(survivors)

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
                if chain_corr_specs:
                    prev = _read_prev_corr_state(spark, chain_state_path, batch_id)
                    if prev is not None:
                        # named after a bit of the owning rule, a seed
                        # replays in its component's walk partition
                        events = events.unionByName(
                            prev.withColumn("kind", F.lit("cseed")).withColumn(
                                "bit_name", seed_bit
                            )
                        )
                flagged, walk_out = resolve_xbits(cached, events, rules)
                walk_out = walk_out.persist()
                persisted.append(walk_out)
                if chain_rules:
                    fired = walk_out.filter(F.col("kind").isin(*set(GATED.values())))
                    _stage_sets(
                        fired.select(*_XBIT_WALK_COLS), sets_path, batch_id, bucket_secs, "c"
                    )
                if chain_corr_specs:
                    # idempotent: a replayed batch N re-reads N-1's
                    # snapshot and rewrites its own
                    _idempotent_write(
                        walk_out.filter(F.col("kind") == "cstate").select(*_XBIT_WALK_COLS),
                        chain_state_path,
                        batch_id,
                        writer_id="s",
                    )
                    _prune_old_corr_snapshots(spark, chain_state_path, batch_id)
                    # a suppressed chain hit neither alerts nor sets
                    # (engine.c:1402-1427)
                    flagged = flagged.filter(
                        ~F.col("chain_sup_after") & ~F.col("chain_sup_thr")
                    )
                routed = flagged.filter(F.col("xbit_ok")).drop(
                    "xbit_ok", "chain_sup_after", "chain_sup_thr"
                )

                if corr_specs_b:
                    routed = seeded_corr(spark, routed, batch_id, persisted)
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
            hits.withColumn("suppressed_after", F.lit(False))
            .withColumn("suppressed_threshold", F.lit(False))
            .writeStream.outputMode("append")
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
