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
(``run_pipeline_with_xbits``): stage A routes stateless+stateful rules
and stages set/unset events into a time-bucketed store; stage B replays
condition rules against it.  Plain keyed bits resolve by a last-write-
wins range join; funnel flexbits (``correlate.xbit_layout``) and chained
bits (one rule checks bit A and sets bit B) replay through the core's
walk per bit / per component, fired chain sets persisting to the staged
store.  after/threshold ON a condition rule also runs in stage B, on
condition-PASSING rows only (engine.c:999-1024 vs 1373-1389), with state
seeded from the previous micro-batch's snapshot (idempotent batch-id
partitions; a retry reads the prior batch's snapshot).  No batch-only
rule combinations remain.
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
    _corr_spec_map,
    chain_components,
    corr_group_key,
    corr_window_secs,
    flex_check_key,
    flex_shape,
    is_flexbit,
    setter_variants,
    ts_seconds_d,
    ts_seconds_l,
    xbit_key_expr,
    xbit_layout,
)
from sagan_spark.pipeline.engine import EVENT_COLS, SaganSparkEngine
from sagan_spark.pipeline.machines import GATED, BitStore, CorrMachines, XbitWalk
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


_CHAIN_WALK_COLS = [
    "kind", "event_key", "sid", "entry", "ok",
    "bit_name", "bit_key", "ts_d", "seq", "expire",
    "shape", "e_src", "e_dst", "e_user",
    "suppressed_after", "suppressed_threshold",
]

_CHAIN_WALK_SCHEMA = (
    "kind string, event_key string, sid long, entry int,"
    " ok boolean, bit_name string, bit_key string,"
    " ts_d double, seq long, expire long,"
    " shape string, e_src string, e_dst string,"
    " e_user string, suppressed_after boolean,"
    " suppressed_threshold boolean"
)


def _make_chain_walk(chain_corr_specs: dict[int, dict], max_corr_secs: int):
    """Stage-B component walk for chained xbits: staged sets plus this
    batch's checks and verdict-gated chain set/unsets, replayed in order
    through the core's ``XbitWalk`` (pipeline/machines.py) — the walk
    batch ``correlate.apply_xbits`` runs.  'f*' kinds carry (shape,
    e_src, e_dst, e_user).  Output rows by ``kind``:

    - 'v': one condition entry's raw bit state (`ok` = bit active; the
      isnotset negation happens in the verdict expression);
    - 'fired_set' / 'fired_unset' / 'fired_fset' / 'fired_funset': gated
      sets that fired, for the staged store;
    - 'cflags': a chain hit's after/threshold flags;
    - 'cstate': the machines' surviving snapshot (machine in bit_name,
      key in bit_key, count in seq, utime in expire), fed back next
      micro-batch as 'cseed' rows that sort before every event.

    ``chain_corr_specs``: after/threshold specs of CHAIN rules — their
    counters run on condition-passing events only and gate both the set
    and the alert (engine.c:1370-1427); ``max_corr_secs`` is the
    snapshot's eviction horizon."""

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        w = XbitWalk(chain_corr_specs)
        for pdf in batches:
            out: list[tuple] = []
            for (
                kind, name, key, ts_d, ek, seq, expire, sid, entry, want_set,
                ver_id, shape, esrc, edst, euser, a_key, t_key,
            ) in zip(
                pdf["kind"], pdf["bit_name"], pdf["bit_key"], pdf["ts_d"],
                pdf["event_key"], pdf["seq"], pdf["expire"], pdf["sid"],
                pdf["entry"], pdf["want_set"], pdf["ver_id"],
                pdf["shape"], pdf["e_src"], pdf["e_dst"], pdf["e_user"],
                pdf["a_key"], pdf["t_key"],
            ):
                if kind == "cseed":
                    # shape carries the machine id, seq the count, expire
                    # the utime
                    w.machines.seed(shape, (int(sid), key), seq, expire)
                    continue
                result, flags = w.step(
                    kind, name, key, ts_d, expire, shape, (esrc, edst, euser),
                    ver_id, want_set, sid, a_key, t_key,
                )
                if flags is not None:
                    out.append(
                        ("cflags", ver_id.rsplit("#", 1)[0], int(sid), -1,
                         None, "", "", ts_d, 0, 0, "", "", "", "",
                         flags[0], flags[1])
                    )
                if kind in ("check", "fcheck"):
                    out.append(
                        ("v", ek, int(sid), int(entry), result, name, key,
                         ts_d, seq, expire, "", "", "", "", None, None)
                    )
                elif result:
                    # plain chain sets carry blank tuple columns
                    out.append(
                        ("fired_" + GATED[kind], ek, None, -1, False, name, key,
                         ts_d, seq, expire, shape, esrc, edst, euser, None, None)
                    )
            yield pd.DataFrame(out, columns=_CHAIN_WALK_COLS)

        if chain_corr_specs:
            rows = [
                ("cstate", "", int(sid), -1, None, machine, mkey, 0.0,
                 int(cnt), int(utime), "", "", "", "", None, None)
                for machine, (sid, mkey), cnt, utime in w.machines.snapshot(max_corr_secs)
            ]
            if rows:
                yield pd.DataFrame(rows, columns=_CHAIN_WALK_COLS)

    return walk


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
    return df.filter(F.col("_bnum") == mx).select(
        "sid", "corr_group", "machine", "mkey", "cnt", "utime"
    )


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


def _make_funnel_walk(col_name: str):
    """``mapInPandas`` body for one non-chain funnel flexbit: its staged
    fset/funset events and this batch's fchecks replayed in order over
    the core's flat tuple store (``BitStore``); emits (event_key,
    ``col_name`` = bit active) per check."""

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bits = BitStore()
        for pdf in batches:
            ids, active_out = [], []
            for kind, shape, ts_d, expire, esrc, edst, euser, hit_id in zip(
                pdf["kind"], pdf["shape"], pdf["ts_d"], pdf["expire"],
                pdf["e_src"], pdf["e_dst"], pdf["e_user"], pdf["hit_id"],
            ):
                active = bits.apply(kind, "", "", ts_d, expire, shape, (esrc, edst, euser))
                if kind == "fcheck":
                    ids.append(hit_id)
                    active_out.append(active)
            yield pd.DataFrame({"event_key": ids, col_name: active_out})

    return walk


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
                "pipeline — use start_pipeline_with_xbits (or batch "
                "SaganSparkEngine.run)"
            )
        # after/threshold ON a condition rule runs in stage B, seeded
        # across micro-batches from a snapshotted state store (the
        # reference order: condition gate first, then the counters —
        # engine.c:999-1024 vs 1373-1389)
        # chained xbits (condition + set on one rule) run in stage B's
        # component walk, gated sets persisting to the staged store —
        # chain_components() validates the supported surface
        if enable_xbits:
            chain_components(rules)
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
        # setter rules' surviving alerts also stage their set/unset events
        # for the chained xbit query (engine.c:1415-1427: sets happen only
        # after after/threshold survival), in the batch walk's storage
        # forms (correlate.xbit_layout)
        shapes_by_bit, funnel_bits = xbit_layout(rules)
        # (sid, xbit, pos, bit_name, key_expr, funnel?)
        setters = []
        for r in rules:
            if r.sid in self.cond_sids:
                continue
            for x in r.xbits:
                if x.action not in ("set", "unset"):
                    continue
                if is_flexbit(x.track) and x.name in funnel_bits:
                    # funnel: one full-tuple event, no per-shape copies
                    setters.append((r.sid, x, r.position, x.name, F.lit(""), True))
                    continue
                for bit_name, key in setter_variants(x, shapes_by_bit):
                    setters.append((r.sid, x, r.position, bit_name, key, False))

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
                all_sets = None
                for sid, x, pos, bit_name, key, funnel in setters:
                    set_ts = ts_seconds_d(F.col("ts"))
                    bucket = (
                        F.floor(set_ts / F.lit(bucket_secs)).cast("long")
                        if x.expire
                        else F.lit(-1).cast("long")  # permanent: never pruned
                    )
                    kind = ("f" + x.action) if funnel else x.action
                    shape = (flex_shape(x.track) or "") if funnel else ""
                    sets = assembled.filter(F.col("sid") == sid).select(
                        F.lit(bit_name).alias("bit_name"),
                        key.alias("bit_key"),
                        set_ts.alias("set_ts"),
                        F.col("event_key").alias("set_event_key"),
                        F.lit(pos * 2 + 1).alias("set_seq"),
                        F.lit(x.expire).alias("expire"),
                        F.lit(kind).alias("kind"),
                        F.lit(shape).alias("shape"),
                        (F.col("src_ip") if funnel else F.lit("")).alias("e_src"),
                        (F.col("dst_ip") if funnel else F.lit("")).alias("e_dst"),
                        (
                            F.coalesce(F.col("username"), F.lit(""))
                            if funnel
                            else F.lit("")
                        ).alias("e_user"),
                        bucket.alias("set_bucket"),
                    )
                    all_sets = sets if all_sets is None else all_sets.unionByName(sets)
                if all_sets is not None:
                    _idempotent_write(
                        all_sets,
                        f"{base_path}/xbit_sets",
                        batch_id,
                        extra_partition="set_bucket",
                        writer_id="a",
                    )
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

        Condition-candidate hits stream from the source; the staged set
        events (written by stage A's sink query) are re-read per
        micro-batch as the static side of a range join: a bit is set for
        a check at (ts, event_key, seq) iff some staged set sits strictly
        earlier in the batch replay order and inside its expire window —
        exactly the batch walk's semantics for set-only bits
        (correlate.apply_xbits; constant per-(rule,xbit) expire makes
        any-set-in-window == latest-set-active).

        Cross-query propagation is drain-ordered: with availableNow run
        stage A to completion first (sets staged), then stage B — exact
        parity with batch.  In continuous mode sets become visible one
        micro-batch later (documented eventual consistency).

        Scale: the staged store is partitioned by time bucket — each
        micro-batch reads only buckets still visible to its earliest
        check (partition pruning) and sweeps dead buckets afterwards, so
        the store stays bounded by (max expire window + bucket width) of
        live data instead of growing with stream lifetime.  A check's
        verdict is the LATEST staged set/unset before it in replay
        order: live set => bit set (mirrors the batch walk's
        last-write-wins state)."""
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
        _, funnel_bits = xbit_layout(rules)
        # chained xbits (a condition AND a set/unset on one rule): their
        # member bits walk per component inside the micro-batch, gated
        # sets that fired persist to the staged store for later batches
        chain_rules_b, chain_bit_comp = chain_components(rules)
        chain_set_specs = [
            (r.sid, x, r.position)
            for r in chain_rules_b
            for x in r.xbits
            if x.action in ("set", "unset")
        ]
        member_bits = set(chain_bit_comp)
        # chain rules carrying after/threshold: counters run INSIDE the
        # walk (condition-passing events only, one machine instance
        # gating both set and alert — engine.c:1370-1427), state seeded
        # across micro-batches from a snapshot store
        chain_corr_specs = _corr_spec_map(chain_rules_b)
        max_corr_secs = corr_window_secs(chain_corr_specs)
        # route a rule's machine seeds to its component's walk partition
        chain_route_bit = {
            r.sid: r.xbits[0].name
            for r in chain_rules_b
            if r.sid in chain_corr_specs
        }

        hits = self.engine.match_hits(frame, passthrough=EVENT_COLS).filter(
            F.col("sid").isin(self.cond_sids)
        )
        # one (condition, hit) row per xbit condition on the rule
        cond_specs = [
            (r.sid, x, r.position)
            for r in cond_rules
            for x in r.xbits
            if x.action in ("isset", "isnotset")
        ]

        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            spark = batch_df.sparkSession
            batch_df = batch_df.persist()
            min_chk = batch_df.agg(F.min(ts_seconds_d(F.col("ts")))).first()[0]
            sets_path = f"{base_path}/xbit_sets"
            sets = _read_store_or_none(spark, sets_path)  # None: nothing staged yet
            if sets is not None and min_chk is not None:
                # partition-prune buckets no check in this batch can see
                live_from = int((min_chk - max_expire) // bucket_secs)
                sets = sets.filter(
                    (F.col("set_bucket") < 0) | (F.col("set_bucket") >= live_from)
                )
            flag_cols = []
            member_entries = []
            for i, (sid, x, pos) in enumerate(cond_specs):
                col_name = f"_set{i}"
                if x.name in member_bits:
                    # chain-component bit (plain OR flexbit): the
                    # per-condition join cannot see same-batch
                    # verdict-gated sets — walk instead (even with an
                    # empty store: an isnotset-gated chain can fire
                    # with no prior sets at all)
                    member_entries.append((i, sid, x, pos, col_name))
                    continue
                if sets is None:
                    batch_df = batch_df.withColumn(col_name, F.lit(False))
                    flag_cols.append((sid, x.action, col_name))
                    continue
                shape = flex_shape(x.track)
                if shape is not None and x.name in funnel_bits:
                    # funnel bit: replay the flat-tuple-store walk over
                    # (staged fset/funset events + this batch's checks),
                    # one ordered pass per bit — exactly the batch
                    # apply_xbits funnel path
                    staged = sets.filter(
                        (F.col("bit_name") == x.name)
                        & F.col("kind").isin("fset", "funset")
                    ).select(
                        "kind",
                        "shape",
                        F.col("set_ts").alias("ts_d"),
                        F.col("set_event_key").alias("event_key"),
                        F.col("set_seq").alias("seq"),
                        "expire",
                        "e_src",
                        "e_dst",
                        "e_user",
                        F.lit(None).cast("string").alias("hit_id"),
                    )
                    checks = batch_df.filter(F.col("sid") == sid).select(
                        F.lit("fcheck").alias("kind"),
                        F.lit(shape).alias("shape"),
                        ts_seconds_d(F.col("ts")).alias("ts_d"),
                        F.col("event_key"),
                        F.lit(pos * 2).cast("int").alias("seq"),
                        F.lit(0).alias("expire"),
                        F.col("src_ip").alias("e_src"),
                        F.col("dst_ip").alias("e_dst"),
                        F.coalesce(F.col("username"), F.lit("")).alias("e_user"),
                        F.col("event_key").alias("hit_id"),
                    )
                    events = staged.unionByName(checks).repartition(1)

                    verdicts = (
                        events.sortWithinPartitions("ts_d", "event_key", "seq")
                        .mapInPandas(
                            _make_funnel_walk(col_name),
                            schema=f"event_key string, {col_name} boolean",
                        )
                    )
                    batch_df = batch_df.join(
                        verdicts.filter(F.col(col_name)), "event_key", "left"
                    ).withColumn(col_name, F.coalesce(F.col(col_name), F.lit(False)))
                    flag_cols.append((sid, x.action, col_name))
                    continue
                if shape is not None:
                    bit_name, key = f"{x.name}#{shape}", flex_check_key(shape)
                else:
                    bit_name, key = x.name, xbit_key_expr(x.track)
                s = sets.filter(F.col("bit_name") == bit_name)
                probe = batch_df.filter(F.col("sid") == sid).select(
                    F.col("event_key").alias("chk_event_key"),
                    key.alias("bit_key"),
                    ts_seconds_d(F.col("ts")).alias("chk_ts"),
                    F.lit(pos * 2).alias("chk_seq"),
                )
                # strict replay-order precedence (ts, event_key, seq)
                before = (
                    (F.col("set_ts") < F.col("chk_ts"))
                    | (
                        (F.col("set_ts") == F.col("chk_ts"))
                        & (
                            (F.col("set_event_key") < F.col("chk_event_key"))
                            | (
                                (F.col("set_event_key") == F.col("chk_event_key"))
                                & (F.col("set_seq") < F.col("chk_seq"))
                            )
                        )
                    )
                )
                # last-write-wins: the LATEST staged set/unset before the
                # check decides (the batch walk's state[k] overwrite)
                last = (
                    probe.join(F.broadcast(s), ["bit_key"])
                    .filter(before)
                    .groupBy("chk_event_key")
                    .agg(
                        F.max_by(
                            F.struct("kind", "set_ts", "expire"),
                            F.struct("set_ts", "set_event_key", "set_seq"),
                        ).alias("last"),
                        F.max("chk_ts").alias("chk_ts"),
                    )
                )
                hit_keys = (
                    last.filter(
                        (F.col("last.kind") == "set")
                        & (
                            (F.col("last.expire") == 0)
                            | (F.col("chk_ts") - F.col("last.set_ts") < F.col("last.expire"))
                        )
                    )
                    .select(F.col("chk_event_key").alias("event_key"))
                    .withColumn(col_name, F.lit(True))
                )
                batch_df = batch_df.join(hit_keys, "event_key", "left").withColumn(
                    col_name, F.coalesce(F.col(col_name), F.lit(False))
                )
                flag_cols.append((sid, x.action, col_name))

            walk_out = None
            if member_entries:
                _null_l = F.lit(None).cast("long")
                _null_str = F.lit(None).cast("string")
                _blank_tuple = [
                    F.lit("").alias("shape"),
                    F.lit("").alias("e_src"),
                    F.lit("").alias("e_dst"),
                    F.lit("").alias("e_user"),
                ]

                def _event_tuple(shape: str):
                    return [
                        F.lit(shape).alias("shape"),
                        F.col("src_ip").alias("e_src"),
                        F.col("dst_ip").alias("e_dst"),
                        F.coalesce(F.col("username"), F.lit("")).alias("e_user"),
                    ]

                def _hit_events(sid, x, pos, entry, a_key, t_key):
                    check = x.action in ("isset", "isnotset")
                    flex = is_flexbit(x.track)
                    if check:
                        kind = "fcheck" if flex else "check"
                    else:
                        kind = ("cf" if flex else "c") + x.action
                    return batch_df.filter(F.col("sid") == sid).select(
                        F.lit(kind).alias("kind"),
                        F.lit(x.name).alias("bit_name"),
                        (F.lit("") if flex else xbit_key_expr(x.track)).alias("bit_key"),
                        ts_seconds_d(F.col("ts")).alias("ts_d"),
                        F.col("event_key"),
                        F.lit(pos * 2 + (0 if check else 1)).cast("long").alias("seq"),
                        F.lit(0 if check else x.expire).cast("long").alias("expire"),
                        F.col("sid"),
                        F.lit(entry).cast("int").alias("entry"),
                        F.lit(x.action == "isset").alias("want_set"),
                        F.concat_ws(
                            "#", F.col("event_key"), F.col("sid").cast("string")
                        ).alias("ver_id"),
                        *(_event_tuple(flex_shape(x.track) or "") if flex else _blank_tuple),
                        a_key.alias("a_key"),
                        t_key.alias("t_key"),
                    )

                parts = [
                    _hit_events(sid, x, pos, i, _null_str, _null_str)
                    for i, sid, x, pos, _ in member_entries
                ] + [
                    _hit_events(
                        sid, x, pos, -1,
                        *(
                            (F.col("track_after"), F.col("track_threshold"))
                            if sid in chain_corr_specs
                            else (_null_str, _null_str)
                        ),
                    )
                    for sid, x, pos in chain_set_specs
                ]
                ev = parts[0]
                for p in parts[1:]:
                    ev = ev.unionByName(p)
                if sets is not None:
                    # staged member-bit sets: stage A's + PRIOR batches'
                    # fired chain sets (this batch's own stale c_ retry
                    # partition excluded — the walk re-derives them)
                    staged = (
                        sets.filter(
                            F.col("bit_name").isin(list(member_bits))
                            & F.col("kind").isin("set", "unset", "fset", "funset")
                            & (F.col("batch_id") != f"c_{batch_id}")
                        ).select(
                            F.col("kind"),
                            F.col("bit_name"),
                            F.col("bit_key"),
                            F.col("set_ts").alias("ts_d"),
                            F.col("set_event_key").alias("event_key"),
                            F.col("set_seq").cast("long").alias("seq"),
                            F.col("expire").cast("long").alias("expire"),
                            _null_l.alias("sid"),
                            F.lit(-1).cast("int").alias("entry"),
                            F.lit(False).alias("want_set"),
                            F.lit("").alias("ver_id"),
                            F.col("shape"),
                            F.col("e_src"),
                            F.col("e_dst"),
                            F.col("e_user"),
                            _null_str.alias("a_key"),
                            _null_str.alias("t_key"),
                        )
                    )
                    ev = ev.unionByName(staged)
                chain_state_path = f"{base_path}/chain_corr_state"
                if chain_corr_specs:
                    # seed the walk's machines from the previous
                    # micro-batch's snapshot, routed to the owning
                    # rule's component partition via its first bit
                    prev_cs = _read_prev_corr_state(
                        spark, chain_state_path, batch_id
                    )
                    if prev_cs is not None:
                        route_expr = F.lit(None).cast("string")
                        for csid, rbit in chain_route_bit.items():
                            route_expr = F.when(
                                F.col("sid") == csid, F.lit(rbit)
                            ).otherwise(route_expr)
                        seeds = (
                            prev_cs.filter(
                                F.col("sid").isin(list(chain_corr_specs))
                            ).select(
                                F.lit("cseed").alias("kind"),
                                route_expr.alias("bit_name"),
                                F.col("mkey").alias("bit_key"),
                                F.lit(float("-1e18")).alias("ts_d"),
                                F.lit("").alias("event_key"),
                                F.col("cnt").cast("long").alias("seq"),
                                F.col("utime").cast("long").alias("expire"),
                                F.col("sid"),
                                F.lit(-1).cast("int").alias("entry"),
                                F.lit(False).alias("want_set"),
                                F.lit("").alias("ver_id"),
                                F.col("machine").alias("shape"),
                                F.lit("").alias("e_src"),
                                F.lit("").alias("e_dst"),
                                F.lit("").alias("e_user"),
                                _null_str.alias("a_key"),
                                _null_str.alias("t_key"),
                            )
                        )
                        ev = ev.unionByName(seeds)
                comp_expr = F.lit("")
                for bit, comp in chain_bit_comp.items():
                    comp_expr = F.when(
                        F.col("bit_name") == bit, F.lit(comp)
                    ).otherwise(comp_expr)
                n_comps = max(1, len(set(chain_bit_comp.values())))
                walk_out = (
                    ev.withColumn("comp", comp_expr)
                    .repartition(n_comps, "comp")
                    .sortWithinPartitions("ts_d", "event_key", "seq")
                    .mapInPandas(
                        _make_chain_walk(chain_corr_specs, max_corr_secs),
                        schema=_CHAIN_WALK_SCHEMA,
                    )
                    .persist()
                )
                for i, sid, x, pos, col_name in member_entries:
                    flags = walk_out.filter(
                        (F.col("kind") == "v") & (F.col("entry") == i)
                    ).select("event_key", F.col("ok").alias(col_name))
                    batch_df = batch_df.join(flags, "event_key", "left").withColumn(
                        col_name, F.coalesce(F.col(col_name), F.lit(False))
                    )
                    flag_cols.append((sid, x.action, col_name))
                fired = walk_out.filter(
                    F.col("kind").isin(
                        "fired_set", "fired_unset", "fired_fset", "fired_funset"
                    )
                )
                fired_rows = fired.select(
                    "bit_name",
                    "bit_key",
                    F.col("ts_d").alias("set_ts"),
                    F.col("event_key").alias("set_event_key"),
                    F.col("seq").cast("int").alias("set_seq"),
                    F.col("expire").cast("int").alias("expire"),
                    # fired_set -> set, fired_fset -> fset, ...
                    F.regexp_replace(F.col("kind"), "^fired_", "").alias("kind"),
                    F.col("shape"),
                    F.col("e_src"),
                    F.col("e_dst"),
                    F.col("e_user"),
                    F.when(F.col("expire") == 0, F.lit(-1))
                    .otherwise(F.floor(F.col("ts_d") / F.lit(bucket_secs)))
                    .cast("long")
                    .alias("set_bucket"),
                )
                _idempotent_write(
                    fired_rows,
                    sets_path,
                    batch_id,
                    extra_partition="set_bucket",
                    writer_id="c",
                )
                if chain_corr_specs:
                    # persist the walk's machine snapshot for the next
                    # micro-batch (idempotent: a replayed batch N
                    # re-reads N-1's snapshot and rewrites its own)
                    _idempotent_write(
                        walk_out.filter(F.col("kind") == "cstate").select(
                            "sid",
                            F.lit("").alias("corr_group"),
                            F.col("bit_name").alias("machine"),
                            F.col("bit_key").alias("mkey"),
                            F.col("seq").alias("cnt"),
                            F.col("expire").alias("utime"),
                        ),
                        chain_state_path,
                        batch_id,
                        writer_id="s",
                    )
                    _prune_old_corr_snapshots(spark, chain_state_path, batch_id)

            verdict = F.lit(True)
            for sid, action, col_name in flag_cols:
                ok = F.col(col_name) if action == "isset" else ~F.col(col_name)
                verdict = verdict & F.when(F.col("sid") == sid, ok).otherwise(F.lit(True))

            routed = batch_df.filter(verdict).drop(*[c for _, _, c in flag_cols])
            if walk_out is not None and chain_corr_specs:
                # chain rules' after/threshold verdicts come from the
                # walk's machines: drop suppressed hits from the alert
                # path (their gated sets never fired either —
                # engine.c:1402-1427)
                chain_sup = (
                    walk_out.filter(
                        (F.col("kind") == "cflags")
                        & (
                            F.col("suppressed_after")
                            | F.col("suppressed_threshold")
                        )
                    ).select("sid", "event_key")
                )
                routed = routed.join(chain_sup, ["sid", "event_key"], "left_anti")

            # after/threshold ON condition rules: counters advance only
            # on condition-PASSING rows (engine.c:1373-1389), replayed
            # per (sid, track-key) with state seeded from the previous
            # micro-batch's snapshot (idempotent batch-id partitions —
            # a replayed batch N re-reads N-1's snapshot).  Chain rules'
            # machines already ran inside the walk — excluded here.
            corr_specs_b = _corr_spec_map(
                [r for r in cond_rules if r.sid not in chain_corr_specs]
            )
            if corr_specs_b:
                corr_sids_b = list(corr_specs_b)
                # rows arrive with False placeholder flags (set before
                # writeStream) — drop them so the replay's verdicts are
                # the only columns with these names after the join
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
                    .filter(
                        ~F.col("suppressed_after") & ~F.col("suppressed_threshold")
                    )
                    .select(*plain_rows.columns)
                )
                routed = plain_rows.unionByName(survivors)

            meta = rule_metadata_df(spark, rules)
            assembled = assemble_alerts(
                routed, meta, xbit_condition_sids=self.cond_sids
            ).persist()
            try:
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
                assembled.unpersist()
                batch_df.unpersist()
                if corr_specs_b:
                    replayed.unpersist()
                if walk_out is not None:
                    walk_out.unpersist()
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
