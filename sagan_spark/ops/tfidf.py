"""TF-IDF keyword extraction: top-k characteristic terms per document.

The training-data staple between raw token counts (`ops/textstats.py
vocab_stats`) and model-based scoring (`ops/webclean.py
hashed_linear_score`): rank each document's terms by how much more
often they appear in THIS document than across the corpus — keyword
tagging, topic bucketing, near-dup explanation.

Scale shape:

1. tokens explode once; per-(doc, token) counts partial-aggregate
   map-side (within-doc repetition is absorbed before any exchange);
2. the corpus side (term_freq/doc_freq per token) is capped to a
   ``max_vocab``-term vocabulary by total term frequency — sklearn's
   ``max_features`` semantics — via TakeOrdered, never a global sort,
   which makes it BROADCASTABLE BY CONSTRUCTION: the fact-side join
   on `token` is a broadcast hash join, so the hot-token skew class
   (one partition receiving "the"'s 10^12 per-doc rows under a
   hash-shuffle join) cannot occur;
3. the corpus doc count arrives as a broadcast 1-row frame;
4. doc length and the final rank are per-``doc_id`` windows — one
   shared exchange, partitions bounded by a document's distinct-term
   count, never by corpus-wide term popularity.

Scoring is the linear-idf form, one IEEE double chain replayed
operation-for-operation in the oracle (the `sample_temperature`
precedent): ``tfidf = ((tf * 1000.0) * n_docs / df) / doc_len`` —
term share of the document times the inverse corpus document share,
milli-scaled.  The classic ``log`` idf is a one-line swap
(``F.log(n_docs / df)``), deliberately NOT the gate form: cross-engine
``ln`` differs in the last ulp (Java intrinsic vs libm), the same
reason `ops/lmscore.py` keeps integer milli-probabilities.  Linear
idf preserves the per-document contrast this operator exists for.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sagan_spark.ops.textstats import TOKEN_RE
from sagan_spark.session import local_frame


def tfidf_topk(docs: DataFrame, k: int = 5, max_vocab: int = 65536,
               text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Top-``k`` terms per document by linear-idf TF-IDF over the
    ``max_vocab``-term corpus vocabulary: (doc_id, token, tf, df,
    tfidf_milli, rank).  Ties rank by token ascending; documents with
    no in-vocabulary token are absent."""
    toks = docs.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), F.lit(0))
        ).alias("token"),
    )
    per_doc = toks.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).alias("tf")
    )
    # vocabulary cap = vocab_stats' (term_freq desc, token) TakeOrdered,
    # but derived from per_doc so the corpus explodes exactly once
    vocab = (
        per_doc.groupBy("token")
        .agg(
            F.sum("tf").alias("_sg_term_freq"),
            F.count(F.lit(1)).alias("doc_freq"),
        )
        .orderBy(F.desc("_sg_term_freq"), F.asc("token"))
        .limit(int(max_vocab))
        .select("token", "doc_freq")
    )
    n_docs = per_doc.agg(
        F.count_distinct(F.col(id_col)).alias("n_docs")
    )

    w_doc = Window.partitionBy(id_col)
    scored = (
        per_doc.join(F.broadcast(vocab), "token")
        .join(F.broadcast(n_docs))
        .withColumn("_sg_len", F.sum("tf").over(w_doc))
        .withColumn(
            "tfidf_milli",
            (F.col("tf").cast("double") * F.lit(1000.0))
            * F.col("n_docs") / F.col("doc_freq") / F.col("_sg_len"),
        )
    )
    w_rank = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf_milli"), F.asc("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= F.lit(int(k)))
        .select(
            id_col,
            "token",
            "tf",
            F.col("doc_freq").alias("df"),
            "tfidf_milli",
            "rank",
        )
    )


def bm25_topk(docs: DataFrame, queries: Sequence[tuple[int, str]],
              k: int = 10, k1: float = 1.2, b: float = 0.75,
              text_col: str = "text", id_col: str = "doc_id",
              salt_buckets: int = 64) -> DataFrame:
    """BM25 ranked retrieval: top-``k`` documents per query as
    (query_id, doc_id, score_milli, rank).

    ``queries`` is a driver-side list of (query_id, query_text) —
    a query workload is small by definition, so the query-token table
    is broadcast and ONLY tokens that appear in some query ever leave
    the per-doc aggregation: df/idf are computed on the semi-joined
    sliver, never the full vocabulary.

    Scoring uses the linear idf ``n_docs / df`` (same cross-engine
    rationale as :func:`tfidf_topk`; the classic
    ``ln((N-df+0.5)/(df+0.5)+1)`` is a one-line swap) and the standard
    saturation ``tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))``.  Each
    (query, doc, token) term is floored to integer milli-units BEFORE
    the per-(query, doc) sum, so the sum is order-independent — the
    float-summation nondeterminism fix from `ops/lmscore.py`.

    The per-query top-k is the skew-safe two-stage form: a query whose
    tokens hit 10^11 documents must not funnel them into one sorting
    task, so candidates first rank within (query_id, doc-hash salt
    bucket) partitions — each bounded to ~1/``salt_buckets`` of the
    candidate set — and only the <= k*salt_buckets stage-1 survivors
    meet the global per-query window.  Any global top-k row is top-k
    within its bucket, so the two stages are exactly equivalent to the
    single global window the oracle runs.
    """
    spark = docs.sparkSession
    qtok_rows = []
    import re as _re
    tok_re = _re.compile(TOKEN_RE)
    for qid, qtext in queries:
        for tok in dict.fromkeys(tok_re.findall(qtext)):
            qtok_rows.append((int(qid), tok))
    qtoks = local_frame(spark, qtok_rows, "query_id int, token string")
    qtok_set = sorted({t for _, t in qtok_rows})

    # doc length = the token-array size, computed WITHOUT explode or
    # aggregation (sum-of-tf over the per-doc counts is identical by
    # construction); dl > 0 reproduces "has at least one token"
    doclen = docs.select(
        F.col(id_col),
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), F.lit(0))
        ).cast("long").alias("dl"),
    ).filter(F.col("dl") > 0)
    corpus = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    # tf over the query-token sliver only: the literal isin filter sits
    # directly under the explode, so the count aggregation (and every
    # row that reaches a shuffle) covers query tokens, never the full
    # vocabulary
    per_doc = (
        docs.select(
            F.col(id_col),
            F.explode(
                F.regexp_extract_all(
                    F.col(text_col), F.lit(TOKEN_RE), F.lit(0)
                )
            ).alias("token"),
        )
        .filter(F.col("token").isin(qtok_set))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    qdf = per_doc.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    matched = (
        per_doc.join(F.broadcast(qtoks), "token")
        .join(F.broadcast(qdf), "token")
        .join(doclen, id_col)
        .join(F.broadcast(corpus))
    )
    sat = (
        F.col("tf").cast("double") * F.lit(k1 + 1.0)
        / (
            F.col("tf").cast("double")
            + F.lit(k1)
            * (
                F.lit(1.0 - b)
                + F.lit(b) * F.col("dl").cast("double") / F.col("avgdl")
            )
        )
    )
    term_milli = F.floor(
        F.lit(1000.0) * (F.col("n_docs").cast("double") / F.col("df")) * sat
    )
    scored = matched.groupBy("query_id", id_col).agg(
        F.sum(term_milli).alias("score_milli")
    )
    from sagan_spark.ops.topk import topk_per_group

    return topk_per_group(
        scored, ["query_id"],
        [F.desc("score_milli"), F.asc(id_col)],
        k=k, salt_on=id_col, salt_buckets=salt_buckets,
    ).select("query_id", id_col, "score_milli", "rank")
