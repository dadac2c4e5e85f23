"""Corpus-curation contract queries (dedup / text / ANN / sampling families).

Split out of __spark_entry__.py (r5); see its docstring for the
contract rules.  Verbatim builder bodies — one gate per operator,
column aliases matched pairwise with the oracle.
"""

from __future__ import annotations

import os  # noqa: F401

from collections.abc import Callable  # noqa: F401
from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from sagan_spark.contracts.common import _docs, _drain, _emb, _ev, _ship_package  # noqa: E501
from sagan_spark.session import materialize

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.ops.dedup import exact_dup_groups

    docs = _docs(spark, sf_dir)
    g = exact_dup_groups(docs)
    return g.agg(
        F.count(F.lit(1)).alias("n_dup_groups"),
        F.coalesce(F.sum("dup_count"), F.lit(0)).cast("long").alias("n_dup_docs"),
    )


def q_dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup (ops/dedup.soft_dedup_weights, exact mode): every
    doc kept, weighted 1e6 div copies — one map-side-combining digest
    count + one join back."""
    from sagan_spark.ops.dedup import soft_dedup_weights

    return soft_dedup_weights(_docs(spark, sf_dir))


def q_dedup_paragraphs_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-doc paragraph dedup (ops/dedup.dedup_paragraphs_within):
    scan-level array codegen, first occurrence kept in order.  Each
    doc gets a copy of its first paragraph appended so the drop path
    is exercised on every row."""
    from sagan_spark.ops.dedup import dedup_paragraphs_within

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(
            "\n\n", F.col("text"), F.split(F.col("text"), "\n\n")[0]
        ).alias("text"),
    )
    out = dedup_paragraphs_within(docs)
    return out.select(
        "doc_id", F.md5("clean_text").alias("clean_md5"),
        "n_paragraphs", "n_dropped",
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.ops.dedup import minhash_lsh_pairs

    docs = _docs(spark, sf_dir)
    return minhash_lsh_pairs(docs, k=8, n_bands=4)


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.ops.dedup import ngram_jaccard_pairs

    docs = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(docs, k=8, n_bands=4, threshold=0.3)
    return pairs.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup (numpy-vectorized pandas-UDF bit math).  Full
    oracle parity: the DuckDB twin replays the 64-bit FNV+splitmix gram
    hash with HUGEINT mul-mod emulation (see oracle_sql)."""
    from sagan_spark.ops.dedup import simhash_near_dups

    docs = _docs(spark, sf_dir)
    return simhash_near_dups(docs, k=4, max_hamming=8)


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.ops.dedup import embedding_cosine_dups

    emb = _emb(spark, sf_dir).filter(F.col("vec_id") < 200)
    pairs = embedding_cosine_dups(emb, threshold=0.3)
    return pairs.select("id_a", "id_b", F.round("cosine", 5).alias("cosine"))


def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed embedding dedup — the 100 TB scale path (per-bucket
    candidates instead of crossJoin).  Pinned against a pure-Python
    twin in tests/test_dedup_ops.py AND a full DuckDB oracle (the
    hyperplane literals are deterministic driver constants frozen into
    the oracle SQL, same replay pattern as ann_lsh_topk)."""
    from sagan_spark.ops.dedup import embedding_lsh_dups

    emb = _emb(spark, sf_dir).filter(F.col("vec_id") < 200)
    pairs = embedding_lsh_dups(emb, threshold=0.3, n_planes=4, n_tables=4, dim=64)
    return pairs.select("id_a", "id_b", F.round("cosine", 5).alias("cosine"))


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540): cluster-then-prune
    semantic dedup over the embeddings table — centroid assignment,
    (cent_sim asc, id asc) ordering, and the within-cluster cosine
    prune, run with the deterministic pretrained codebook
    (fixed_centroids) so the DuckDB oracle replays every step from the
    SAME centroid literals.  The k-means TRAINING path stays pinned by
    the pure-Python twin in tests/test_dedup_ops.py."""
    from sagan_spark.ops.dedup import semdedup
    from sagan_spark.ops.similarity import fixed_centroids

    emb = _emb(spark, sf_dir).filter(F.col("vec_id") < 200)
    return semdedup(emb, threshold=0.3, centroids=fixed_centroids(16, 64))


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.ops.similarity import brute_force_topk

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    out = brute_force_topk(emb, queries, k=5)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 5).alias("cosine"), "rank"
    )


def q_ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-k over int8-quantized embeddings (FAISS-SQ8-style):
    scan-level fixed-point quantization, exact integer dot products —
    the 4x-narrower embedding store for 100 TB vector search."""
    from sagan_spark.ops.similarity import quantized_topk

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    out = quantized_topk(emb, queries, k=5)
    return out.select(
        "query_id", "neighbor_id",
        F.round("cosine_q", 5).alias("cosine_q"), "rank",
    )


def q_classifier_calibrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-rate calibration: the largest score threshold keeping >=40%
    of the corpus, from a bounded score histogram (never a corpus
    window) — the step between classifier training and filtering."""
    from sagan_spark.ops.webclean import calibrate_keep_threshold, hashed_linear_score

    scores = hashed_linear_score(_docs(spark, sf_dir), n_buckets=1 << 18)
    return calibrate_keep_threshold(scores, keep_ppm=400000)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF/LSH-bucketed ANN (scale path) — rows-only oracle check."""
    from sagan_spark.ops.similarity import lsh_topk

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    out = lsh_topk(emb, queries, k=5, n_planes=6, n_tables=3, dim=64)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 5).alias("cosine"), "rank"
    )


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the LSH ANN path against the exact top-5 — the
    in-engine quality measurement run before trusting the approximate
    path at scale (the minhash_calibration discipline applied to
    vector search).  Composes two already-oracled ops; the oracle is
    the same composition of their SQL."""
    from sagan_spark.ops.similarity import brute_force_topk, lsh_topk

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, k=5).select("query_id", "neighbor_id")
    approx = lsh_topk(emb, queries, k=5, n_planes=6, n_tables=3, dim=64).select(
        "query_id", "neighbor_id"
    )
    inter = (
        exact.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        exact.select("query_id").distinct()
        .join(inter, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
            (F.coalesce(F.col("n_hit"), F.lit(0)) / F.lit(5.0)).alias("recall"),
        )
    )


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN — centroid lists + n_probe rerank, run
    with a deterministic pretrained codebook (fixed_centroids) so the
    DuckDB oracle replays assignment/probe/rerank with the SAME
    centroid literals.  The k-means TRAINING path stays pinned by its
    pure-Python twin in tests/test_dedup_ops.py."""
    from sagan_spark.ops.similarity import fixed_centroids, ivf_topk

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    out = ivf_topk(
        emb, queries, k=5, n_centroids=16, n_probe=4, dim=64,
        centroids=fixed_centroids(16, 64),
    )
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 5).alias("cosine"), "rank"
    )


def q_html_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> visible-text extraction over a BYTE column
    (ops/htmltext.py): documents are wrapped in a deterministic markup
    scaffold (script/style/comment/entity traps included), UTF-8
    encoded to binary — the pages table's ``html: binary`` shape — and
    the declared regex-chain spec extracts the text back.  Pure
    whole-stage codegen; the oracle applies the SAME chain
    (html_text_sql, one source of truth) to the same scaffold."""
    from sagan_spark.ops.htmltext import extract_text

    docs = _docs(spark, sf_dir)
    scaffold = F.concat(
        F.lit("<html><head><title>"),
        F.col("source"),
        F.lit('</title><script type="x">var a = 1 < 2;</script>'),
        F.lit("<style>p { color: red }</style></head><body><!-- id "),
        F.col("doc_id").cast("string"),
        F.lit(" --><h1>"),
        F.col("source"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit(" &amp;lt; &nbsp;done</p></body></html>"),
    )
    pages = docs.select("doc_id", F.encode(scaffold, "UTF-8").alias("html"))
    return extract_text(pages).select("doc_id", "text_extracted")


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.ops.textstats import lang_id

    docs = _docs(spark, sf_dir)
    return lang_id(docs).groupBy("pred_lang").agg(F.count(F.lit(1)).alias("n"))


def _langid_trained_weights() -> list[tuple[str, str, int]]:
    """The VENDORED 26-language model table
    (sagan_spark.ops.langid_data — public frequency-list derivation,
    provenance in its module docstring; replaced the r4 stand-in).
    ONE source of truth for the Spark DataFrame and the oracle's
    VALUES literal."""
    from sagan_spark.ops.langid_data import langid_weight_rows

    return langid_weight_rows()


def q_text_langid_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained lang-id over the vendored public-data model (the
    default a user gets from load_langid_weights); real-sentence
    accuracy is pinned separately in tests/test_langid_vendored.py."""
    from sagan_spark.ops.langid_data import load_langid_weights
    from sagan_spark.ops.textstats import lang_id

    return lang_id(
        _docs(spark, sf_dir), marker_weights=load_langid_weights(spark)
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.ops.textstats import quality_score

    docs = _docs(spark, sf_dir)
    return quality_score(docs)


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.ops.textstats import token_counts

    docs = _docs(spark, sf_dir)
    return token_counts(docs)


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.ops.textstats import fingerprint

    docs = _docs(spark, sf_dir)
    return fingerprint(docs, k=16)


def q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.ops.textstats import vocab_stats

    docs = _docs(spark, sf_dir)
    return vocab_stats(docs, top_n=100)


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per document by linear-idf TF-IDF
    over a frequency-capped (broadcastable) corpus vocabulary; the
    IEEE double chain is replayed operation-for-operation in the
    oracle (the `sample_temperature` precedent)."""
    from sagan_spark.ops.tfidf import tfidf_topk

    docs = _docs(spark, sf_dir)
    return tfidf_topk(docs, k=5, max_vocab=65536)


# BM25 gate workload: fixed query strings over the documents table's
# vocabulary (mix of hot tokens, rare tokens, and one absent token so
# the zero-df / no-match paths are exercised); the oracle VALUES list
# is generated from this same constant with the same tokenizer.
BM25_QUERIES = [
    (1, "fast hash join"),
    (2, "window agg scan"),
    (3, "slow vector stream"),
    (4, "customer order warehouse"),
]


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval, linear-idf, integer-milli term scores,
    skew-safe two-stage per-query top-k (salted local rank, then the
    global rank over the bounded survivor set)."""
    from sagan_spark.ops.tfidf import bm25_topk

    docs = _docs(spark, sf_dir)
    return bm25_topk(docs, BM25_QUERIES, k=10)


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.ops.packing import pack_sequences

    docs = _docs(spark, sf_dir)
    return pack_sequences(docs, max_tokens=2048, n_shards=32)


def q_pack_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.ops.packing import pack_chunk_stats

    docs = _docs(spark, sf_dir)
    return pack_chunk_stats(docs, max_tokens=2048, n_shards=32)


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style overlapping retrieval chunks
    (ops/packing.chunk_documents): scan-level sequence/explode/substr,
    no shuffle.  Chunks are md5'd so the compare stays narrow; start
    offsets + lengths pin the window arithmetic exactly."""
    from sagan_spark.ops.packing import chunk_documents

    ch = chunk_documents(_docs(spark, sf_dir), chunk_chars=200, overlap=40)
    return ch.select(
        "doc_id", "chunk_id", "char_start", "chunk_len",
        F.md5(F.col("chunk")).alias("chunk_md5"),
    )


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: payload byte length + content digest
    (decode kernels stubbed; batch plumbing real, see ops/multimodal.py)."""
    from sagan_spark.ops.multimodal import attach_binary, decode_metadata

    docs = _docs(spark, sf_dir)
    meta = decode_metadata(attach_binary(docs))
    return meta.select("id", "n_bytes", "content_sha")


def q_multimodal_meta_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode path: per-doc JPEG byte streams are synthesized
    in-plan (unhex'd SOI/APP0/SOF0/EOI with doc_id-derived 16-bit
    dimensions) and decoded by the registry's pure-stdlib JPEG SOF
    kernel (ops/kernels.jpeg_decode — VERDICT r4 task #2) inside the
    Arrow-batched mapInPandas stage.  The oracle replays the
    dimension arithmetic directly; byte-level kernel behavior
    (markers, fill bytes, malformed streams) carries its own exact
    twins in tests/test_kernels.py."""
    from sagan_spark.ops.multimodal import decode_metadata

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    w = (did % 1920 + 1).cast("long")
    h = (did % 1080 + 1).cast("long")
    hexstr = F.concat(
        F.lit("FFD8FFE000104A46494600010100000100010000FFC0001108"),
        F.lpad(F.hex(h), 4, "0"), F.lpad(F.hex(w), 4, "0"),
        F.lit("03011100021101031101FFD9"),
    )
    media = docs.select(
        did.alias("id"),
        F.unhex(hexstr).alias("payload"),
        F.lit("image/jpeg").alias("media_type"),
    )
    return decode_metadata(media, kernel="registry").select(
        "id", "n_bytes", "width", "height", "n_frames"
    )


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sample plumbing: every-30th frame index per media item
    (n_frames derived deterministically by the stub decoder)."""
    from sagan_spark.ops.multimodal import attach_binary, decode_metadata, frame_sample_plan

    docs = _docs(spark, sf_dir)
    meta = decode_metadata(attach_binary(docs))
    frames = frame_sample_plan(meta, every_n=30)
    return frames.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.max("frame_idx").cast("long").alias("last_idx"),
    )


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize target dims from the decoded metadata."""
    from sagan_spark.ops.multimodal import attach_binary, decode_metadata, resize_plan

    docs = _docs(spark, sf_dir)
    meta = decode_metadata(attach_binary(docs))
    return resize_plan(meta, max_w=224, max_h=224).select(
        "id", "width", "height", "out_w", "out_h"
    )


def q_multimodal_features_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition: multimodal payload -> stub feature vectors -> exact
    cosine top-k (the real 100 TB shape: decode feeds the ANN ops
    unchanged).  Rows-only gate (the PRNG stub is not SQL-expressible);
    determinism pinned in tests/test_multimodal.py."""
    from sagan_spark.ops.multimodal import attach_binary, extract_features
    from sagan_spark.ops.similarity import brute_force_topk

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 100)
    emb = extract_features(attach_binary(docs), dim=16).withColumnRenamed("id", "vec_id")
    queries_df = emb.filter(F.col("vec_id") < 3)
    out = brute_force_topk(emb, queries_df, k=3)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 5).alias("cosine"), "rank"
    )


def q_dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup canonicalization: Jaccard-verified pairs -> connected
    components -> (canonical_id, cluster_size) per cluster."""
    from sagan_spark.ops.dedup import near_dup_clusters

    docs = _docs(spark, sf_dir)
    return near_dup_clusters(docs, k=8, n_bands=4, threshold=0.3)


def q_dedup_cluster_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract as dedup_cluster_canonical, executed via the
    SOCC'14 large-star/small-star rounds (``cc_method="star"``) — puts
    the O(log n) deep-graph CC path under the driver's oracle gate.
    The recursive-CTE oracle is method-agnostic (component = min
    reachable id), so both execution strategies must hash-match it."""
    from sagan_spark.ops.dedup import near_dup_clusters

    docs = _docs(spark, sf_dir)
    return near_dup_clusters(docs, k=8, n_bands=4, threshold=0.3, cc_method="star")


def q_dedup_drop_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus dedup drop list: every clustered doc except its cluster's
    min-id canonical."""
    from sagan_spark.ops.dedup import near_dup_drop_list

    docs = _docs(spark, sf_dir)
    return near_dup_drop_list(docs, k=8, n_bands=4, threshold=0.3)


def q_webclean_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.ops.webclean import repetition_metrics

    docs = _docs(spark, sf_dir)
    return repetition_metrics(docs)


def q_webclean_top_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.ops.webclean import top_ngram_char_frac

    docs = _docs(spark, sf_dir)
    return top_ngram_char_frac(docs, n=2)


def q_webclean_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.ops.webclean import pii_scrub

    docs = _docs(spark, sf_dir)
    return pii_scrub(docs).select("doc_id", "n_emails", "n_ips", "clean_len")


def q_webclean_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.ops.webclean import filter_verdict

    docs = _docs(spark, sf_dir)
    return filter_verdict(docs)


def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.ops.dedup import dedup_paragraphs

    return dedup_paragraphs(_docs(spark, sf_dir)).select(
        "doc_id", "clean_text", "n_paragraphs", "n_dropped"
    )


def q_webclean_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.ops.webclean import gopher_quality_filters

    return gopher_quality_filters(_docs(spark, sf_dir))


def q_webclean_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-linear quality-classifier inference, synthetic-weights
    mode (the no-join codegen path; trained-weights mode is the same
    plan plus one broadcast join, pinned in tests/test_webclean.py)."""
    from sagan_spark.ops.webclean import hashed_linear_score

    return hashed_linear_score(_docs(spark, sf_dir), n_buckets=1 << 18)


def _labeled_docs(docs: DataFrame) -> DataFrame:
    """documents + a deterministic reference/crawl label: sources
    src0..src9 play the reference corpus (positive), src10..src19 the
    raw crawl (negative) — the SAME expression runs in the oracle."""
    return docs.withColumn(
        "is_ref", F.substring(F.col("source"), 4, 10).cast("long") < 10
    )


def q_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier TRAINING (GPT-3 App. A reference-vs-crawl
    labels): one map-side-combining groupBy over the hashed token
    stream -> bounded (bucket, weight_milli, pos/neg counts) model."""
    from sagan_spark.ops.webclean import train_quality_classifier

    return train_quality_classifier(
        _labeled_docs(_docs(spark, sf_dir)), label_col="is_ref"
    )


def q_webclean_classifier_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end train -> broadcast -> score: the trained-weights
    inference path of hashed_linear_score fed by train_quality_classifier
    on the same corpus (self-scoring; a real pipeline trains on a
    held-out reference and scores the crawl)."""
    from sagan_spark.ops.webclean import hashed_linear_score, train_quality_classifier

    docs = _docs(spark, sf_dir)
    model = train_quality_classifier(_labeled_docs(docs), label_col="is_ref")
    return hashed_linear_score(
        docs, weights=model.select("bucket", "weight_milli")
    )


def _benchmark_from_docs(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic eval set: every 97th document with >=30
    tokens contributes tokens 6..30 as one benchmark entry — guarantees
    real 13-gram overlap for the gate while the SAME expression builds
    the oracle's bench table."""
    from sagan_spark.ops.decontam import _tokens

    d = docs.select("doc_id", _tokens(F.col("text")).alias("toks")).filter(
        (F.col("doc_id") % 97 == 0) & (F.size("toks") >= 30)
    )
    return d.select(
        F.col("doc_id").alias("bench_id"),
        F.concat_ws(" ", F.slice("toks", 6, 25)).alias("text"),
    )


def q_decontam_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (Brown et al. arXiv:2005.14165 App. C):
    13-gram overlap vs a deterministic synthetic eval set; broadcast
    benchmark side, no corpus shuffle before the hit aggregation."""
    from sagan_spark.ops.decontam import contamination_hits

    docs = _docs(spark, sf_dir)
    return contamination_hits(docs, _benchmark_from_docs(docs), n=13)


def q_decontam_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc contamination flag (decontaminate = left join against
    contamination_hits, coalesced to false) — the filter-side
    projection a training pipeline actually applies."""
    from sagan_spark.ops.decontam import decontaminate

    docs = _docs(spark, sf_dir)
    return decontaminate(docs, _benchmark_from_docs(docs)).select(
        "doc_id", "contaminated"
    )


def q_dedup_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-span fraction (Lee et al. arXiv:2107.06499):
    13-token windows occurring in >=2 distinct docs corpus-wide."""
    from sagan_spark.ops.decontam import duplicated_spans

    return duplicated_spans(_docs(spark, sf_dir), n=13)


def _docs_with_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + a deterministic synthetic url (the testdata table
    carries no url column; the SAME expression runs in the oracle)."""
    docs = _docs(spark, sf_dir)
    tld = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(".co.uk"))
        .when(F.col("doc_id") % 3 == 1, F.lit(".com"))
        .otherwise(F.lit(".org"))
    )
    return docs.withColumn(
        "url",
        F.concat(
            F.lit("https://www."), F.col("source"), tld,
            F.lit("/p/"), F.col("doc_id").cast("string"),
        ),
    )


def q_url_domain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.ops.urltools import domain_rollup

    return domain_rollup(_docs_with_url(spark, sf_dir))


def q_url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.ops.urltools import blocklist_filter

    return blocklist_filter(
        _docs_with_url(spark, sf_dir), ["src1.com", "src0.co.uk"]
    ).select("doc_id", "url")


def q_dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated-span REMOVAL (Lee et al.
    arXiv:2107.06499 §4.1): tokens covered by a corpus-duplicated
    13-token window are dropped and the text re-joined — the editing
    counterpart of dedup_duplicated_spans' measurement."""
    from sagan_spark.ops.decontam import remove_duplicated_spans

    return remove_duplicated_spans(_docs(spark, sf_dir), n=13)


def q_dedup_span_removal_keepone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span removal in keep-one mode (Lee et al. §4.1 faithful): the
    first corpus occurrence — min struct(doc_id, position) — of each
    duplicated 13-token window keeps its tokens."""
    from sagan_spark.ops.decontam import remove_duplicated_spans

    return remove_duplicated_spans(_docs(spark, sf_dir), n=13, keep_first=True)


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot incremental dedup: the corpus is split into a
    'previously admitted' digest set (doc_id % 4 == 0) and a new batch
    (the rest); novel_docs admits the min-id row per unseen digest."""
    from sagan_spark.ops.dedup import novel_docs

    docs = _docs(spark, sf_dir)
    seen = (
        docs.filter(F.col("doc_id") % 4 == 0)
        .select(F.md5("text").alias("content_hash"))
        .distinct()
    )
    batch = docs.filter(F.col("doc_id") % 4 != 0)
    return novel_docs(batch, seen)


def q_dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-incremental NEAR-dup screen
    (ops/dedup.novel_docs_minhash): the new batch (doc_id % 3 != 0)
    anti-joins the seen corpus's persisted (band, sig) table — no
    re-pairing of history.  Short docs carry no signatures and pass."""
    from sagan_spark.ops.dedup import minhash_signatures, novel_docs_minhash

    docs = _docs(spark, sf_dir)
    seen = docs.filter(F.col("doc_id") % 3 == 0)
    batch = docs.filter(F.col("doc_id") % 3 != 0)
    return novel_docs_minhash(batch, minhash_signatures(seen)).select("doc_id")


def q_dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered incremental dedup: the same seen/batch split
    as dedup_incremental, but the batch probes a bounded Bloom 1-bit
    relation first so only maybe-seen digests pay the digest-vs-digest
    anti-join.  m_bits is deliberately tiny (4096) so the
    false-positive branch is exercised at gate scale: FPs survive the
    probe, reach the exact anti-join, and are admitted there — the
    output is row-identical to dedup_incremental (a Bloom filter built
    from ``seen`` itself has no false negatives), so the two gates
    share one oracle."""
    from sagan_spark.ops.dedup import novel_docs_bloom

    docs = _docs(spark, sf_dir)
    seen = (
        docs.filter(F.col("doc_id") % 4 == 0)
        .select(F.md5("text").alias("content_hash"))
        .distinct()
    )
    batch = docs.filter(F.col("doc_id") % 4 != 0)
    return novel_docs_bloom(batch, seen, m_bits=4096, k=3)


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event gap sessionization (gap 4 h, daily buckets): each
    event labeled with its session's start timestamp.  The two-phase
    bucket decomposition is bit-equal to the oracle's global per-key
    window — every event-level window is partitioned by (key, bucket)
    so a hot key never funnels one sorting task."""
    from sagan_spark.ops.sessions import sessionize

    return sessionize(_ev(spark, sf_dir), gap_sec=14400, bucket_sec=86400)


def q_events_session_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level rollup over q_events_sessionize: one row per
    (user, session) with event count and duration — a pure
    map-side-combining aggregation (the session label is a value, not
    a rank, so no further window is needed)."""
    from sagan_spark.ops.sessions import session_rollup

    return session_rollup(_ev(spark, sf_dir), gap_sec=14400, bucket_sec=86400)


def q_events_session_rollup_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same session rollup via Spark's built-in session_window
    aggregation — one oracle serves both spellings, so this gate
    proves the two-phase decomposition == the engine-native op."""
    from sagan_spark.ops.sessions import session_rollup_native

    return session_rollup_native(_ev(spark, sf_dir), gap_sec=14400)


def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-event sessionization (applyInPandasWithState,
    event-time timeout eviction) drained over the events table with
    availableNow — and, unlike the threshold smoke, a FULL-oracle
    gate: one drained batch holds each key's whole history, so the
    assignment must equal the global-window oracle bit-for-bit (the
    same SQL as events_sessionize).  Cross-chunk/restart parity is
    pinned in tests/test_sessions_streaming.py."""
    import shutil
    import tempfile

    _ship_package(spark)
    from sagan_spark.streaming.sessions import start_session_query

    work = tempfile.mkdtemp(prefix="sagan_sess_contract_")
    try:
        inp = f"{work}/in"
        os.makedirs(inp)
        shutil.copy(f"{sf_dir}/events.parquet", f"{inp}/events.parquet")
        q = start_session_query(
            spark, inp, f"{work}/out", f"{work}/ckpt", gap_sec=14400
        )
        _drain(q)
        out = spark.read.parquet(f"{work}/out")
        return materialize(out, "streaming_sessionize")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view -> click -> purchase funnel, per user: chained
    min-aggregations on the key (no window, no per-key sort) — stage i
    is the earliest event of its type at-or-after stage i-1."""
    from sagan_spark.ops.funnel import funnel_stages

    return funnel_stages(_ev(spark, sf_dir), ["view", "click", "purchase"])


def q_events_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel summary: users surviving through each stage."""
    from sagan_spark.ops.funnel import funnel_counts

    return funnel_counts(_ev(spark, sf_dir), ["view", "click", "purchase"])


def q_events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-activity-day cohorts x day offset, integer epoch-day
    arithmetic (div, never float division)."""
    from sagan_spark.ops.funnel import cohort_retention

    return cohort_retention(_ev(spark, sf_dir))


def q_events_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key event-rate burst detection (daily buckets, trailing
    7-day baseline, factor 2.0, min 3 events): the adaptive-baseline
    generalization of the reference's fixed `threshold: count N,
    seconds T` counters.  Events collapse map-side to one row per
    (key, non-empty bucket); the only window is an integer RANGE
    frame over that counts frame, so a hot key's partition is its
    non-empty-bucket count, never its event count."""
    from sagan_spark.ops.bursts import detect_bursts

    return detect_bursts(
        _ev(spark, sf_dir),
        bucket_sec=86400,
        trailing_buckets=7,
        factor_milli=2000,
        min_count=3,
    )


def q_streaming_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming burst detection (applyInPandasWithState trailing-k
    ring state, event-time timeout eviction) drained over the events
    table with availableNow — a FULL-oracle gate: one drained batch
    holds each key's whole bucket history, so the flags must equal
    the batch RANGE-frame oracle bit-for-bit (same SQL as
    events_bursts).  Cross-chunk/eviction parity is pinned in
    tests/test_bursts_streaming.py."""
    import shutil
    import tempfile

    _ship_package(spark)
    from sagan_spark.streaming.bursts import start_burst_query

    work = tempfile.mkdtemp(prefix="sagan_burst_contract_")
    try:
        inp = f"{work}/in"
        os.makedirs(inp)
        shutil.copy(f"{sf_dir}/events.parquet", f"{inp}/events.parquet")
        q = start_burst_query(
            spark, inp, f"{work}/out", f"{work}/ckpt",
            bucket_sec=86400, trailing_buckets=7,
            factor_milli=2000, min_count=3,
        )
        _drain(q)
        out = spark.read.parquet(f"{work}/out")
        return materialize(out, "streaming_bursts")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def q_events_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p95/p99 of `value` per event_type via the value
    histogram: the cumulative window runs over one row per (key,
    distinct value), never the raw events, and the quantile is the
    integer-exact lower empirical quantile (cum * 1e6 >= q_ppm * n)
    — always an observed value, no float interpolation."""
    from sagan_spark.ops.quantiles import quantile_rollup

    return quantile_rollup(
        _ev(spark, sf_dir), quantiles_ppm=(500000, 950000, 990000)
    )


def q_dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over CCNet-normalized text.  The corpus is the
    documents table UNION a mangled twin per doc (uppercased, digits
    scrambled via translate, punctuation/whitespace noise appended,
    doc_id offset by 10^6) — so every non-NULL doc forms a normalized
    group with its twin while remaining distinct under plain md5; the
    SAME mangling expression runs in the oracle."""
    from sagan_spark.ops.dedup import normalized_dup_groups

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    variants = docs.select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.concat(
            F.lit("  "),
            F.translate(F.upper("text"), "0123456789", "9876543210"),
            F.lit(" ?!*  ,, "),
        ).alias("text"),
    )
    return normalized_dup_groups(docs.unionByName(variants))


def q_dedup_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-granularity corpus dedup: the SAME min-struct
    aggregation as dedup_paragraphs with sep='. ' (a declared crude
    sentence boundary) — repeated sentences keep their first corpus
    occurrence; finer-grained than the paragraph pass, coarser than
    the 13-token span removal (the three exact-dedup granularities of
    the Lee et al. arXiv:2107.06499 family)."""
    from sagan_spark.ops.dedup import dedup_paragraphs

    return dedup_paragraphs(_docs(spark, sf_dir), sep=". ")


def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease + type/token ratio per doc — pure codegen
    regexp counts, scan-level projection, no shuffle."""
    from sagan_spark.ops.textstats import readability

    return readability(_docs(spark, sf_dir))


def q_text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc corpus-unique-shingle census
    (ops/textstats.novelty_scores): two map-side-combining aggs off
    the shared shingle frame, no fact-fact join, no window."""
    from sagan_spark.ops.textstats import novelty_scores

    return novelty_scores(_docs(spark, sf_dir), k=8)


def _docs_with_messy_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + a deliberately messy synthetic url (mixed-case
    scheme/host, default and non-default ports, tracking params,
    fragments, a non-authority mailto form) — the SAME expression runs
    in the oracle."""
    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    tld = (
        F.when(did % 3 == 0, F.lit(".co.uk"))
        .when(did % 3 == 1, F.lit(".com"))
        .otherwise(F.lit(".org"))
    )
    port = (
        F.when(did % 5 == 0, F.lit(":443"))
        .when(did % 5 == 1, F.lit(":8080"))
        .otherwise(F.lit(""))
    )
    qs = (
        F.when(did % 3 == 0, F.lit("?utm_source=x&b=2&a=1"))
        .when(did % 3 == 1, F.lit("?a=1&fbclid=zz"))
        .otherwise(F.lit(""))
    )
    frag = F.when(did % 7 == 0, F.lit("#sec2")).otherwise(F.lit(""))
    url = F.concat(
        F.lit("HTTPS://WWW."), F.upper("source"), tld, port,
        F.lit("/p/"), (did % 50).cast("string"), qs, frag,
    )
    url = F.when(
        did % 11 == 0, F.concat(F.lit("mailto:user@"), F.col("source"), F.lit(".com"))
    ).otherwise(url)
    return docs.withColumn("url", url)


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical URL per document: lowercased scheme/host, default
    port dropped, tracking params removed, params sorted, fragment
    stripped; non-authority URLs pass through."""
    from sagan_spark.ops.urltools import url_canonicalize

    return _docs_with_messy_url(spark, sf_dir).select(
        "doc_id", url_canonicalize(F.col("url")).alias("canonical_url")
    )


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level exact dedup: min-doc_id winner per canonical URL (the
    messy-url corpus collides on purpose: path is doc_id % 50)."""
    from sagan_spark.ops.urltools import dedup_by_url

    return dedup_by_url(_docs_with_messy_url(spark, sf_dir))


def q_url_surt_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURT-key shard census (ops/urltools.surt_shard_census): host
    labels reversed behind the index sort key, md5-hash shard
    assignment, no-authority URLs audited in shard -1.  One scan +
    one n_shards-row map-side-combining agg."""
    from sagan_spark.ops.urltools import surt_shard_census

    return surt_shard_census(_docs_with_messy_url(spark, sf_dir), n_shards=8)


def q_sample_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget selection (ops/sampling.budget_select): best
    scores first until the token budget fills, exact boundary via the
    (score, hash-cell) histogram — never a corpus-global sort.  The
    synthetic score (doc_id mod 7) is tie-heavy on purpose so the
    boundary cell machinery is exercised."""
    from sagan_spark.ops.sampling import budget_select

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(7)).cast("long").alias("score"),
        F.length("text").cast("long").alias("n_tokens"),
    )
    return budget_select(docs, token_budget=25_000).select(
        "doc_id", "score", "n_tokens"
    )


#: mixture gate knobs — shared by the two gate callables and the
#: oracle CTE below (es is deliberately untargeted -> dropped; ro is
#: targeted but absent from the corpus -> allocates nothing)
_MIX_TARGET = {"en": 500_000, "de": 250_000, "fr": 150_000,
               "zh": 50_000, "ro": 50_000}
_MIX_BUDGET = 400


def _mix_quota_cte(avail_sql: str = "count(*)",
                   budget: int | None = None) -> str:
    """The water-filling allocation (ops/sampling.mixture_quotas)
    replayed as one window chain over the tiny per-group frame —
    integer sort key, prefix-min saturation walk, truncating `//`
    division (both engines truncate; operands non-negative; HUGEINT
    products mirror the op's DECIMAL(38,0) discipline).
    ``avail_sql`` picks the allocation unit (rows by default, a
    weight sum for the token-budget gate)."""
    share = " ".join(
        f"WHEN '{g}' THEN {s}" for g, s in _MIX_TARGET.items()
    )
    b = _MIX_BUDGET if budget is None else budget
    return (
        f"w0 AS (SELECT lang, {avail_sql} AS n_avail,"
        f" CAST(CASE lang {share} END AS BIGINT) AS share"
        " FROM documents GROUP BY 1),"
        " w1 AS (SELECT *, CAST((CAST(n_avail AS HUGEINT) * 1000000)"
        " // share AS BIGINT) AS k FROM w0"
        "  WHERE share IS NOT NULL),"
        " w2 AS (SELECT *, coalesce(sum(n_avail) OVER (ORDER BY k, lang"
        "   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
        "   AS cum_avail,"
        "  sum(share) OVER () - coalesce(sum(share) OVER (ORDER BY k, lang"
        "   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
        "   AS share_after FROM w1),"
        " w3 AS (SELECT *, CASE WHEN CAST(n_avail AS HUGEINT)"
        " * share_after <="
        f"  CAST(({b} - cum_avail) AS HUGEINT) * share"
        " THEN 1 ELSE 0 END AS cond FROM w2),"
        " w4 AS (SELECT *, min(cond) OVER (ORDER BY k, lang"
        "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1"
        "  AS saturated FROM w3),"
        f" w5 AS (SELECT *, {b} - sum(CASE WHEN saturated THEN n_avail"
        "  ELSE 0 END) OVER () AS r, sum(CASE WHEN NOT saturated THEN share"
        "  ELSE 0 END) OVER () AS s FROM w4),"
        " q AS (SELECT lang, n_avail, share, saturated,"
        "  CAST(CASE WHEN saturated THEN n_avail"
        "  ELSE least(CAST(n_avail AS HUGEINT),"
        "   (CAST(r AS HUGEINT) * share) // s) END AS BIGINT) AS quota"
        "  FROM w5)"
    )


def q_sample_mixture_quotas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling mixture allocation (ops/sampling.mixture_quotas):
    the per-group (n_avail, share, saturated, quota) frame itself —
    the budget split a multi-source training mixer reads.  The gate
    target saturates different group subsets at sf0.01 vs sf0.1, so
    both walk branches are exercised at both scales."""
    from sagan_spark.ops.sampling import mixture_quotas

    return mixture_quotas(_docs(spark, sf_dir), _MIX_TARGET, _MIX_BUDGET)


def q_sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture selection (ops/sampling.mixture_sample): exactly the
    allocated quota per group in deterministic hash order; saturated
    groups keep all rows scan-level, capped groups go through the
    shared slack-prefiltered exact-rank core.  The oracle replays the
    allocation CTE + the NAIVE global rank window the slack
    composition is provably equivalent to."""
    from sagan_spark.ops.sampling import mixture_sample

    return mixture_sample(
        _docs(spark, sf_dir), _MIX_TARGET, _MIX_BUDGET
    ).select("doc_id", "lang")


def q_sample_mixture_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-denominated mixture selection (ops/sampling.
    mixture_budget_select): water-fill a 120k-char budget across the
    mixture shares (sum(n_chars) availability — saturates 3 of 4
    groups at sf0.01, none at sf0.1), then per-group prefix fill in
    hash order via the budget_select digit decomposition.  The oracle
    replays the naive per-group cumulative window the decomposition
    is provably equivalent to."""
    from sagan_spark.ops.sampling import mixture_budget_select

    docs = _docs(spark, sf_dir)
    return mixture_budget_select(
        docs, _MIX_TARGET, 120_000, token_col="n_chars"
    ).select("doc_id", "lang")


def q_sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.ops.sampling import deterministic_sample

    return deterministic_sample(_docs(spark, sf_dir), 0.25, salt="s1").select(
        "doc_id", "lang"
    )


def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.ops.sampling import train_holdout_split

    return train_holdout_split(_docs(spark, sf_dir), 0.2).select("doc_id", "split")


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.ops.sampling import stratified_sample

    return stratified_sample(_docs(spark, sf_dir), {"en": 50, "de": 10}).select(
        "doc_id", "lang"
    )


def q_sample_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registered-domain cap (skew-safe: over-cap domains only,
    slack-rate pre-filter, bounded rank window) — cap 5 over the
    synthetic-url corpus (~60 domains, ~8 docs each at sf0.01)."""
    from sagan_spark.ops.sampling import domain_quota_sample

    return domain_quota_sample(_docs_with_url(spark, sf_dir), 5).select(
        "doc_id", "domain"
    )


