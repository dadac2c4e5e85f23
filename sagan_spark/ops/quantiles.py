"""Exact per-key quantiles without a per-key corpus sort.

The log-analytics staple: p50/p95/p99 of a measure per key (latency
per endpoint, bytes per host, score per rule).  The naive spelling —
``percentile(value) OVER (PARTITION BY key)`` or a per-key sort —
funnels a hot key's full event set into one task, the skew class this
repo eliminates everywhere (dedup_paragraphs, stratified_sample,
sessionize).

Shape here (the lm_buckets histogram idiom, `ops/lmscore.py`,
generalized to arbitrary quantiles):

1. events collapse map-side to a VALUE HISTOGRAM — one row per
   (key, distinct value) via ``groupBy().count()`` — so a hot key is
   partial-aggregated before the shuffle and the frame is bounded by
   per-key value cardinality, not event count;
2. a cumulative window runs over that histogram only (ordered by
   value — unique within a key by construction, so the frame is
   deterministic);
3. each requested quantile is the classic lower empirical quantile
   (inverse CDF, type 1): the SMALLEST value whose ascending
   cumulative count ``cum`` satisfies ``cum >= ceil(q * n)`` —
   integer-exact as ``cum * 1_000_000 >= q_ppm * n`` (no float
   interpolation, so the result is always an observed value and the
   DuckDB oracle replays it bit-for-bit).  ``q_ppm = 1_000_000`` is
   the max, ``500_000`` the median.

Quantiles arrive as a tiny literal frame and broadcast-join onto the
histogram, so N quantiles cost one scan, not N.  Overflow headroom:
``cum * 10^6`` stays under int64 through 9 x 10^12 events per key.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sagan_spark.session import local_frame


def value_hist(events: DataFrame, key_col: str = "event_type",
               value_col: str = "value") -> DataFrame:
    """The (key, value, _sg_c) histogram quantiles run on — ADDITIVE
    across disjoint event subsets (counts sum), which is what lets the
    streaming ledger (streaming/rollup.py) accumulate it per batch and
    still serve exact quantiles."""
    return (
        events.filter(F.col(value_col).isNotNull())
        .groupBy(key_col, value_col)
        .agg(F.count(F.lit(1)).alias("_sg_c"))
    )


def merge_value_hist(partials: DataFrame, key_col: str = "event_type",
                     value_col: str = "value") -> DataFrame:
    """Merge histogram partials from disjoint event subsets (exact
    integer adds in any order)."""
    return partials.groupBy(key_col, value_col).agg(
        F.sum("_sg_c").alias("_sg_c")
    )


def quantile_rollup(events: DataFrame,
                    quantiles_ppm: Sequence[int] = (500000, 950000, 990000),
                    key_col: str = "event_type",
                    value_col: str = "value") -> DataFrame:
    """One row per (key, q_ppm): (key, q_ppm, n_events, q_value) where
    ``q_value`` is the lower empirical quantile of ``value_col`` and
    ``n_events`` the key's non-NULL value count.  NULL values are
    dropped; a key with no non-NULL values is absent."""
    return quantiles_from_hist(
        value_hist(events, key_col, value_col), quantiles_ppm,
        key_col, value_col,
    )


def quantiles_from_hist(hist: DataFrame,
                        quantiles_ppm: Sequence[int] = (500000, 950000,
                                                        990000),
                        key_col: str = "event_type",
                        value_col: str = "value") -> DataFrame:
    """The quantile tail over a merged value histogram (shared by the
    batch op and the streaming ledger reader)."""
    spark = hist.sparkSession
    w_cum = (
        Window.partitionBy(key_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(key_col)
    cum = hist.select(
        key_col,
        value_col,
        F.sum("_sg_c").over(w_cum).alias("_sg_cum"),
        F.sum("_sg_c").over(w_all).alias("_sg_n"),
    )
    qs = local_frame(
        spark, [(int(q),) for q in quantiles_ppm], "q_ppm long"
    )
    return (
        cum.join(F.broadcast(qs))
        .filter(
            F.col("_sg_cum") * F.lit(1_000_000)
            >= F.col("q_ppm") * F.col("_sg_n")
        )
        .groupBy(key_col, "q_ppm")
        .agg(
            F.max("_sg_n").alias("n_events"),
            F.min(value_col).alias("q_value"),
        )
    )


def percentile_features(docs: DataFrame, score_col: str,
                        group_col: str = "lang",
                        id_col: str = "doc_id") -> DataFrame:
    """Per-row percentile of an integer score WITHIN its group — the
    rank-normalization step that turns raw quality/LM scores into
    comparable [0, 1e6] features across languages/sources (CCNet
    ranks per language before bucketing, Wenzek arXiv:1911.00359
    §3.3; mixture recipes compare cross-source after exactly this
    normalization).

    Integer spec, replayable bit-for-bit: ``pct_ppm = (10^6 *
    n_below) div (n_group - 1)`` with ``n_below`` = rows of the group
    scoring strictly less (ties share a value — identical to SQL
    ``percent_rank`` through rank-1 == n_below); 0 for single-row
    groups.  NULL scores are dropped (no rank on an unmeasured row).

    Skew shape (the quantile_rollup histogram idiom): the corpus
    collapses map-side to a (group, score) histogram; the ONLY window
    is the cumulative count over that bounded frame (scores arrive
    quantized — milli-units, lengths, ranks — so per-group
    cardinality is bounded); verdicts broadcast back via a hash join
    on (group, score).  A Zipf-hot group never funnels raw rows into
    one sorting task.  Returns the input rows + ``n_below`` +
    ``pct_ppm``.
    """
    g, s = F.col(group_col), F.col(score_col)
    base = docs.filter(s.isNotNull())
    hist = base.groupBy(group_col, score_col).agg(
        F.count(F.lit(1)).alias("_sg_c")
    )
    w = Window.partitionBy(group_col).orderBy(score_col)
    whole = Window.partitionBy(group_col)
    ranked = (
        hist.withColumn(
            "n_below",
            F.coalesce(
                F.sum("_sg_c").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("long"),
            ),
        )
        .withColumn("_sg_n", F.sum("_sg_c").over(whole))
        .drop("_sg_c")
    )
    joined = base.join(ranked, [group_col, score_col])
    pct = F.when(
        F.col("_sg_n") > 1,
        F.expr("(1000000 * n_below) div (_sg_n - 1)"),
    ).otherwise(F.lit(0).cast("long"))
    return joined.withColumn("pct_ppm", pct).drop("_sg_n")
