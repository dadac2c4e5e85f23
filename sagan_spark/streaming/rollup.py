"""Incremental (streaming) forms of the batch analytics rollups that
have no per-key bounded state shape — multi-resolution
``time_rollup`` and DAU/WAU ``active_users`` — as ``foreachBatch``
LEDGER jobs (VERDICT r4 'missing' #5 / next-round task #7).

Why foreachBatch rather than a stateful operator: both products are
corpus-wide aggregates whose per-batch contribution is a small
DECOMPOSABLE partial — fine-bucket count/sum/min/max partials for the
rollup (integer adds/folds merge exactly in any order), distinct
(day, key) pairs for actives (distinct-of-union == union-of-
distincts).  So each micro-batch writes its partial to a ledger
partition keyed by ``batch_id``, and the serving read merges the
ledger and runs the SAME batch tail (ops/rollup.cascade /
ops/funnel.actives_from_daykeys).  The result is therefore
BIT-IDENTICAL to running the batch op over all events seen so far —
the FULL-oracle property the streaming_rollup / streaming_actives
gates pin against the events_rollup / events_actives oracles.

Idempotent resume (the jobs/run_corpus ledger idiom): the writer uses
dynamic partition overwrite on ``batch_id`` — when Structured
Streaming replays a batch after a crash (foreachBatch is
at-least-once), the replay REWRITES the same partition instead of
appending a duplicate, so the ledger never double-counts (pinned in
tests/test_streaming_rollup.py by merging the same batch twice).

Reference analog: the engine's periodic stats rollup
(src/sagan-stats.c) emits interval partials exactly so downstream
consumers can sum them — the same partial-merge contract, here with
exact integer algebra and crash-safe partition semantics.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sagan_spark.ops.funnel import actives_from_daykeys, daykeys
from sagan_spark.ops.rollup import (
    cascade,
    check_resolutions,
    fine_rollup,
    merge_fine,
)
from sagan_spark.streaming.engine import _read_store_or_none


def _read_ledger(spark: SparkSession, ledger_dir: str, empty_schema: str) -> DataFrame:
    """Every batch partition of a ledger, or an empty frame of the
    partial's schema when no micro-batch has written yet (so a serving
    read before the first batch returns an empty result, not an
    error)."""
    ledger = _read_store_or_none(spark, ledger_dir)
    if ledger is None:
        return spark.createDataFrame([], empty_schema)
    return ledger.drop("batch_id")


def _write_ledger_partition(partial: DataFrame, batch_id: int,
                            ledger_dir: str) -> None:
    """Write one batch's partial to ``ledger_dir/batch_id=N``,
    overwriting ONLY that partition (dynamic overwrite) so a replayed
    batch is idempotent."""
    (
        partial.withColumn("batch_id", F.lit(int(batch_id)))
        .write.partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(ledger_dir)
    )


# ---------------------------------------------------------------------------
# time_rollup ledger
# ---------------------------------------------------------------------------

def merge_rollup_batch(batch_df: DataFrame, batch_id: int, ledger_dir: str,
                       base_sec: int, key_col: str = "event_type",
                       ts_col: str = "ts",
                       value_col: str = "value") -> None:
    """foreachBatch body: this batch's finest-resolution partial
    (ops/rollup.fine_rollup — map-side combining, a few rows per
    (key, bucket) regardless of batch size) lands in its own ledger
    partition."""
    _write_ledger_partition(
        fine_rollup(batch_df, base_sec, key_col, ts_col, value_col),
        batch_id, ledger_dir,
    )


def rollup_from_ledger(spark: SparkSession, ledger_dir: str,
                       resolutions: Sequence[int] = (60, 3600, 86400),
                       ) -> DataFrame:
    """Serve the rollup from the ledger: merge fine partials across
    batch partitions (exact) and cascade — bit-identical to
    time_rollup over the union of all ingested events."""
    res = check_resolutions(resolutions)
    fine = merge_fine(_read_ledger(
        spark, ledger_dir,
        "key string, _sg_fb long, n_events long, sum_milli long,"
        " min_milli long, max_milli long",
    ))
    return cascade(fine, res)


def start_rollup_query(spark: SparkSession, input_dir: str, ledger_dir: str,
                       checkpoint: str, resolutions: Sequence[int] =
                       (60, 3600, 86400), key_col: str = "event_type",
                       ts_col: str = "ts", value_col: str = "value",
                       max_files_per_trigger: int | None = None,
                       trigger_available_now: bool = True):
    """File-source runner (the start_burst_query shape): stream an
    events parquet directory into the rollup ledger with checkpointed,
    idempotent resume.  ``max_files_per_trigger`` splits the drain
    into several micro-batches (exercises the multi-partition merge
    path)."""
    res = check_resolutions(resolutions)
    schema = spark.read.parquet(input_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    events = reader.parquet(input_dir)
    writer = (
        events.writeStream.foreachBatch(
            lambda df, bid: merge_rollup_batch(
                df, bid, ledger_dir, res[0], key_col, ts_col, value_col
            )
        )
        .option("checkpointLocation", checkpoint)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# active_users ledger
# ---------------------------------------------------------------------------

def merge_actives_batch(batch_df: DataFrame, batch_id: int, ledger_dir: str,
                        key_col: str = "user_id",
                        ts_col: str = "ts") -> None:
    """foreachBatch body: this batch's distinct (day, key) pairs land
    in their own ledger partition (within-batch dedup here,
    cross-batch dedup at read — distinct is idempotent under union)."""
    _write_ledger_partition(
        daykeys(batch_df, key_col, ts_col), batch_id, ledger_dir
    )


def actives_from_ledger(spark: SparkSession, ledger_dir: str,
                        window_days: int = 7) -> DataFrame:
    """Serve DAU/WAU from the ledger: cross-batch distinct, then the
    SAME tail as the batch op — bit-identical to active_users over
    the union of all ingested events."""
    if window_days < 1:
        raise ValueError(f"window_days must be >= 1, got {window_days}")
    dk = _read_ledger(spark, ledger_dir, "_sg_day long, _sg_k long").select(
        "_sg_day", "_sg_k"
    ).distinct()
    return actives_from_daykeys(dk, window_days)


def start_actives_query(spark: SparkSession, input_dir: str, ledger_dir: str,
                        checkpoint: str, key_col: str = "user_id",
                        ts_col: str = "ts",
                        max_files_per_trigger: int | None = None,
                        trigger_available_now: bool = True):
    """File-source runner for the actives ledger (start_rollup_query
    shape)."""
    schema = spark.read.parquet(input_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    events = reader.parquet(input_dir)
    writer = (
        events.writeStream.foreachBatch(
            lambda df, bid: merge_actives_batch(
                df, bid, ledger_dir, key_col, ts_col
            )
        )
        .option("checkpointLocation", checkpoint)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# quantile ledger
# ---------------------------------------------------------------------------

def merge_quantiles_batch(batch_df: DataFrame, batch_id: int,
                          ledger_dir: str, key_col: str = "event_type",
                          value_col: str = "value") -> None:
    """foreachBatch body: this batch's (key, value) count histogram
    (ops/quantiles.value_hist — additive partial) lands in its own
    ledger partition."""
    from sagan_spark.ops.quantiles import value_hist

    _write_ledger_partition(
        value_hist(batch_df, key_col, value_col), batch_id, ledger_dir
    )


def quantiles_from_ledger(spark: SparkSession, ledger_dir: str,
                          quantiles_ppm=(500000, 950000, 990000),
                          key_col: str = "event_type",
                          value_col: str = "value") -> DataFrame:
    """Serve exact per-key quantiles from the ledger: merge histogram
    partials (integer adds) and run the SAME tail as the batch op —
    bit-identical to quantile_rollup over all ingested events."""
    from sagan_spark.ops.quantiles import merge_value_hist, quantiles_from_hist

    hist = merge_value_hist(
        _read_ledger(
            spark, ledger_dir, f"{key_col} string, {value_col} double, _sg_c long"
        ),
        key_col, value_col,
    )
    return quantiles_from_hist(hist, quantiles_ppm, key_col, value_col)


def start_quantiles_query(spark: SparkSession, input_dir: str,
                          ledger_dir: str, checkpoint: str,
                          key_col: str = "event_type",
                          value_col: str = "value",
                          max_files_per_trigger: int | None = None,
                          trigger_available_now: bool = True):
    """File-source runner for the quantile ledger (start_rollup_query
    shape)."""
    schema = spark.read.parquet(input_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    events = reader.parquet(input_dir)
    writer = (
        events.writeStream.foreachBatch(
            lambda df, bid: merge_quantiles_batch(
                df, bid, ledger_dir, key_col, value_col
            )
        )
        .option("checkpointLocation", checkpoint)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
