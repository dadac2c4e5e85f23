"""Benchmark decontamination and duplicated-span detection for
training-data pipelines over the `documents` table.

Two corpus hygiene operators every LLM data pipeline runs before
training:

- :func:`contamination_hits` / :func:`decontaminate` — the n-gram
  overlap filter of Brown et al., "Language Models are Few-Shot
  Learners" (arXiv:2005.14165, Appendix C): a training document is
  contaminated when it shares any 13-token n-gram with a held-out
  benchmark/eval set (whole entry for benchmark items shorter than
  n tokens).
- :func:`duplicated_spans` — the exact-substring duplication signal
  of Lee et al., "Deduplicating Training Data Makes Language Models
  Better" (arXiv:2107.06499): for each document, the fraction of its
  n-token windows that occur (as exact token spans) in at least one
  OTHER document corpus-wide.  Their suffix-array construction is
  replaced by the Spark-native hashed-window groupBy — same signal,
  no global sort.

Tokenization on both sides is the same deterministic normalization:
lowercase, split on non-alphanumeric runs, drop empties — cheap,
engine-agnostic, and exactly mirrorable in the DuckDB oracle.

Scale notes (100 TB posture):
- Shingles are md5-hashed BEFORE any shuffle so nothing wider than a
  32-char digest crosses the wire (xxhash64 is the documented drop-in
  when oracle mirrorability is not needed — same trade recorded for
  MinHash-LSH).
- :func:`contamination_hits` broadcasts the benchmark side: eval sets
  are tiny (10^3-10^6 shingles) next to the corpus, so the join is a
  map-side hash probe on every doc partition — no corpus shuffle at
  all; the only exchange is the final per-doc aggregation of HITS
  (a vanishingly small subset of the corpus).
- :func:`duplicated_spans` is two map-side-combining aggregations
  (gram counts, then per-doc rollup).  A boilerplate span repeated
  10^9 times lands on one reducer only as a single (hash, count)
  pair — counts combine map-side; no per-key row sort anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sagan_spark.session import materialize

TOKEN_SPLIT_RE = "[^a-z0-9]+"


def _tokens(col):
    """Normalized token array: lowercase, non-alphanumeric separators,
    no empties."""
    return F.filter(
        F.split(F.lower(col), TOKEN_SPLIT_RE), lambda x: x != ""
    )


def _shingles(toks, n: int):
    """Distinct n-token shingles (space-joined).  Texts with fewer
    than n tokens contribute their whole token sequence as one
    shingle (the Brown et al. short-item rule); empty texts contribute
    nothing.  ``sequence`` would generate a DESCENDING range when
    size < n, so the short case is an explicit branch."""
    full = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, F.lit(n))),
        )
    )
    return (
        F.when(F.size(toks) >= n, full)
        .when(F.size(toks) > 0, F.array(F.concat_ws(" ", toks)))
        .otherwise(F.array().cast("array<string>"))
    )


def contamination_hits(docs: DataFrame, benchmark: DataFrame, n: int = 13,
                       text_col: str = "text", id_col: str = "doc_id",
                       bench_text_col: str = "text",
                       bench_id_col: str = "bench_id") -> DataFrame:
    """Per-document contamination evidence vs a benchmark table.

    Returns one row per CONTAMINATED document: (doc_id,
    n_hit_shingles = distinct overlapping n-grams, n_bench_docs =
    distinct benchmark entries hit).  Clean documents do not appear —
    at corpus scale the hit set is the small output, and
    :func:`decontaminate` turns it into a per-doc flag when a full
    projection is wanted.
    """
    doc_sh = docs.select(
        F.col(id_col),
        F.explode(_shingles(_tokens(F.col(text_col)), n)).alias("shingle"),
    ).select(id_col, F.md5("shingle").alias("h"))
    bench_sh = (
        benchmark.select(
            F.col(bench_id_col),
            F.explode(_shingles(_tokens(F.col(bench_text_col)), n)).alias(
                "shingle"
            ),
        )
        .select(bench_id_col, F.md5("shingle").alias("h"))
        .distinct()
    )
    return (
        doc_sh.join(F.broadcast(bench_sh), "h")
        .groupBy(id_col)
        .agg(
            F.countDistinct("h").alias("n_hit_shingles"),
            F.countDistinct(bench_id_col).alias("n_bench_docs"),
        )
    )


def decontaminate(docs: DataFrame, benchmark: DataFrame, n: int = 13,
                  text_col: str = "text", id_col: str = "doc_id",
                  bench_text_col: str = "text",
                  bench_id_col: str = "bench_id") -> DataFrame:
    """``docs`` plus a ``contaminated`` flag column (left join against
    :func:`contamination_hits`).  Filter ``~contaminated`` for the
    training corpus; keep the flag for audit lineage."""
    hits = contamination_hits(
        docs, benchmark, n, text_col, id_col, bench_text_col, bench_id_col
    ).select(id_col, F.lit(True).alias("contaminated"))
    return docs.join(hits, id_col, "left").withColumn(
        "contaminated", F.coalesce(F.col("contaminated"), F.lit(False))
    )


def remove_duplicated_spans(docs: DataFrame, n: int = 20,
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            keep_first: bool = False) -> DataFrame:
    """ExactSubstr-style span REMOVAL (Lee et al. arXiv:2107.06499 §4.1):
    where :func:`duplicated_spans` measures, this edits — every token
    position covered by an n-token window whose exact span occurs in
    >= 2 DISTINCT documents is dropped, and the surviving tokens are
    re-joined.

    ``keep_first=False`` (default) removes ALL copies — the
    deterministic, order-free hygiene form (Lee et al.'s released
    dedup tool offers the same mode).  ``keep_first=True`` follows the
    paper byte-for-byte in spirit: the FIRST corpus occurrence of each
    duplicated window — min struct(doc_id, position), the
    dedup_paragraphs first-occurrence idiom — keeps its tokens; only
    the other occurrences are removed.  Caveat (inherent to
    overlapping windows, documented): a token inside a kept occurrence
    can still be dropped when a DIFFERENT duplicated window whose
    keeper lives elsewhere also covers it.

    Returns (doc_id, n_tokens, n_removed, cleaned_text) for EVERY
    input document; docs with < n tokens pass through untouched
    (n_removed = 0, cleaned_text = normalized token join).

    Scale notes (100 TB posture):
    - the duplicated-hash set and per-doc start-position lists are the
      only shuffled data; both combine map-side (countDistinct partial,
      collect_set of ints).  A boilerplate span repeated 10^9 times is
      one (hash, count) pair on the wire.
    - token editing happens INSIDE a higher-order ``filter`` over the
      already-loaded token array — no positional explode of the corpus,
      no per-doc sort, no Python.
    - the corpus is shuffled once: the doc_id join of start-lists back
      onto the docs (start-lists exist only for docs that contain a
      duplicated window, so AQE can demote the join to broadcast when
      duplication is rare).
    """
    out, pos = _remove_duplicated_spans(docs, n, text_col, id_col, keep_first)
    pos.persist()  # the op's dominant cost: read twice, computed once
    out = materialize(out, "remove_duplicated_spans")
    pos.unpersist()
    return out


def _remove_duplicated_spans(docs: DataFrame, n: int, text_col: str, id_col: str,
                             keep_first: bool) -> tuple[DataFrame, DataFrame]:
    """The lazy plan of :func:`remove_duplicated_spans`: (result, window positions)."""
    toks = _tokens(F.col(text_col))
    base = docs.select(F.col(id_col), toks.alias("toks"))
    win = F.when(
        F.size("toks") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - F.lit(n - 1)),
            lambda i: F.struct(
                i.alias("i"),
                F.md5(F.concat_ws(" ", F.slice("toks", i, F.lit(n)))).alias("h"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<i:int,h:string>>"))
    pos = base.select(F.col(id_col), F.explode(win).alias("w")).select(
        id_col, F.col("w.i").alias("i"), F.col("w.h").alias("h")
    )
    if keep_first:
        # per duplicated hash, the keeper occurrence — min(struct) is
        # the same map-side-combining first-occurrence aggregation as
        # dedup_paragraphs (never a window over the occurrence stream)
        dup_k = (
            pos.groupBy("h")
            .agg(
                F.countDistinct(id_col).alias("nd"),
                F.min(
                    F.struct(F.col(id_col).alias("d"), F.col("i").alias("i"))
                ).alias("k"),
            )
            .filter(F.col("nd") >= 2)
            .select("h", "k")
        )
        starts = (
            pos.join(dup_k, "h")
            .filter(
                ~((F.col(id_col) == F.col("k.d")) & (F.col("i") == F.col("k.i")))
            )
            .groupBy(id_col)
            .agg(F.collect_set("i").alias("_starts"))
        )
    else:
        dup_h = (
            pos.groupBy("h")
            .agg(F.countDistinct(id_col).alias("nd"))
            .filter(F.col("nd") >= 2)
            .select("h")
        )
        starts = (
            pos.join(dup_h, "h")
            .groupBy(id_col)
            .agg(F.collect_set("i").alias("_starts"))
        )
    kept = F.filter(
        "toks",
        lambda x, idx: ~F.exists(
            "_starts", lambda s: (s <= idx + 1) & (idx + 1 < s + n)
        ),
    )
    out = (
        base.join(starts, id_col, "left")
        .withColumn(
            "_starts", F.coalesce("_starts", F.array().cast("array<int>"))
        )
        .select(
            F.col(id_col),
            F.size("toks").cast("long").alias("n_tokens"),
            (F.size("toks") - F.size(kept)).cast("long").alias("n_removed"),
            F.concat_ws(" ", kept).alias("cleaned_text"),
        )
    )
    return out, pos


def duplicated_spans(docs: DataFrame, n: int = 20,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-document duplicated-span statistics (Lee et al. signal).

    A window = n consecutive tokens at one position.  A window is
    duplicated when the same token span occurs in >= 2 DISTINCT
    documents (occurrences inside one document do not count — that is
    :func:`~sagan_spark.ops.webclean.repetition_stats`' job).

    Returns (doc_id, n_windows, n_dup_windows, dup_frac) for every
    document; docs with fewer than n tokens have n_windows = 0 and
    dup_frac = 0.0.
    """
    out, pos = _duplicated_spans(docs, n, text_col, id_col)
    pos.persist()  # the op's dominant cost: read twice, computed once
    out = materialize(out, "duplicated_spans")
    pos.unpersist()
    return out


def _duplicated_spans(docs: DataFrame, n: int, text_col: str,
                      id_col: str) -> tuple[DataFrame, DataFrame]:
    """The lazy plan of :func:`duplicated_spans`: (result, window positions)."""
    toks = _tokens(F.col(text_col))
    # positional windows (NOT distinct — the per-doc denominator is
    # window positions, per the paper's duplicated-token fraction)
    win = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, F.lit(n))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pos = docs.select(
        F.col(id_col), F.explode_outer(win).alias("span")
    ).select(id_col, F.md5("span").alias("h"))
    # corpus-wide distinct-doc count per span hash; only the >= 2
    # survivors ship to the join (the duplicated set is the small one)
    dup_h = (
        pos.groupBy("h")
        .agg(F.countDistinct(id_col).alias("n_docs"))
        .filter((F.col("n_docs") >= 2) & F.col("h").isNotNull())
        .select("h", F.lit(1).alias("is_dup"))
    )
    # one pass over pos: the h-join reuses the groupBy's partitioning,
    # then a single per-doc rollup derives totals AND dup counts
    out = (
        pos.join(dup_h, "h", "left")
        .groupBy(id_col)
        .agg(
            F.count("h").alias("n_windows"),  # count(h) skips null rows
            F.coalesce(F.sum("is_dup"), F.lit(0)).alias("n_dup_windows"),
        )
        .select(
            id_col,
            "n_windows",
            "n_dup_windows",
            F.round(
                F.when(
                    F.col("n_windows") > 0,
                    F.col("n_dup_windows") / F.col("n_windows"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_frac"),
        )
    )
    return out, pos
