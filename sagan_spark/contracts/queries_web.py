"""Web-graph, crawl, events and streaming contract queries.

Split out of __spark_entry__.py (r5); see its docstring for the
contract rules.  Verbatim builder bodies — one gate per operator,
column aliases matched pairwise with the oracle.
"""

from __future__ import annotations

import os  # noqa: F401

from collections.abc import Callable  # noqa: F401
from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from sagan_spark.contracts.common import _docs, _drain, _ship_package  # noqa: E501
from sagan_spark.session import materialize, release

def _anchor_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scaffolded pages for the anchor ops (q_link_extract
    discipline), one of every claimed form per doc: an absolute
    double-quoted link carrying the text's first 12 chars as anchor,
    a single-quoted ROOT-RELATIVE link and an unquoted second-
    attribute RELATIVE link (both must now resolve and extract), an
    absolute link with a whitespace-padded anchor (trim path), one
    with inner markup in the anchor body (tag-strip path), one with
    an EMPTY anchor (drop path), a fragment-only link and a no-href
    span (drop paths)."""
    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    html = F.concat(
        F.lit('<html><body><a href="https://'), F.col("source"),
        F.lit(".com/p/"), (did % 7).cast("string"),
        F.lit('" class="x">'), F.substring(F.col("text"), 1, 12),
        F.lit("</a><a href='/rel'>Root Rel</a>"
              "<a rel=nofollow href=../up/"), (did % 3).cast("string"),
        F.lit('>Up Link</a><a href="https://ref'), (did % 5).cast("string"),
        F.lit('.org/">  Read More  </a><a href="https://x'),
        (did % 2).cast("string"),
        F.lit('.com/b"><b>Bold</b> Text</a><a href="https://empty'),
        (did % 3).cast("string"),
        F.lit('.net/"></a><a href="#top">Top</a>'
              '<a name="no-href">Plain</a><p>'), F.col("text"),
        F.lit("</p></body></html>"),
    )
    return docs.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.encode(html, "UTF-8").alias("html"),
    )


def q_anchor_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src_url, dst_url, anchor) triples: scan-level two-group regex
    extraction, positional zip_with pairing, empty anchors dropped."""
    from sagan_spark.ops.anchors import extract_anchors

    return extract_anchors(_anchor_pages(spark, sf_dir))


def q_anchor_domain_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END anchor mining: scaffolded html → anchor extraction →
    per-target-registered-domain (lowercased) anchor counts → salted
    two-stage top-10 (ops/topk.py) — oracle runs the plain global
    window the two-stage form is equivalent to."""
    from sagan_spark.ops.anchors import anchor_domain_topk, extract_anchors

    return anchor_domain_topk(
        extract_anchors(_anchor_pages(spark, sf_dir)), k=10
    )


def q_link_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-HTML href edge extraction + resolution over scaffolded
    html (q_text_extract scaffold discipline — the testdata table
    carries no html column, so one is built from text + doc_id
    arithmetic).  The scaffold exercises every extraction form the op
    claims: double/single/unquoted values, href not the first
    attribute, tag case, a newline inside the tag, an entity in the
    value, relative + root-relative + scheme-relative references
    (resolved against the page url via ops/urlresolve), and the drop
    set (fragment-only, mailto, data-href decoy, empty value).  The
    oracle CONSTRUCTS the expected edge set from the same arithmetic
    — extraction mechanics carry their own urljoin-twin pytest."""
    from sagan_spark.ops.linkgraph import extract_links

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    html = F.concat(
        F.lit('<html><body><a href="https://'), F.col("source"),
        F.lit(".com/p/"), (did % 7).cast("string"), F.lit('">x</a>'),
        F.lit("<A HREF='http://ref"), (did % 5).cast("string"),
        F.lit(".org/q?a=1&amp;b=2'>y</A>"),
        F.lit('<a class="c" href=../up/'), (did % 3).cast("string"),
        F.lit(">z</a><a\nhref=\"//cdn"), (did % 2).cast("string"),
        F.lit('.example/lib.js">w</a><a href="/abs/'),
        (did % 11).cast("string"), F.lit('">r</a>'),
        F.lit('<a href="#top">t</a><a href="mailto:a@b.c">m</a>'
              '<a data-href="https://no.example/">d</a><a href="">e</a><p>'),
        F.col("text"), F.lit("</p></body></html>"),
    )
    pages = docs.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.encode(html, "UTF-8").alias("html"),
    )
    return extract_links(pages)


def q_domain_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END link-graph composition: scaffolded html → href
    extraction → registered-domain edge collapse (self-loops dropped)
    → 5 iterations of deterministic integer PageRank.  The oracle
    constructs the SAME edge multiset directly from the doc_id
    arithmetic (the regex and domain-collapse layers carry their own
    gates: link_extract, url_domain_rollup) and replays the integer
    recurrence as 5 unrolled CTEs — exact BIGINT equality, the point
    of the integer formulation."""
    from sagan_spark.ops.linkgraph import domain_edges, extract_links, pagerank

    docs = _docs(spark, sf_dir)
    html = F.concat(
        F.lit('<a href="https://src'), (F.col("doc_id") % 13).cast("string"),
        F.lit('.example/x">a</a><a href="https://ref'),
        (F.col("doc_id") % 5).cast("string"), F.lit('.org/">b</a>'),
    )
    pages = docs.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.encode(html, "UTF-8").alias("html"),
    )
    return pagerank(domain_edges(extract_links(pages)), iterations=5)


def q_domain_pagerank_resumed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resume-from-checkpoint parity for iterative compute: 3 cold
    iterations, rank table 'persisted' (pagerank's returned pin standing
    in for the snapshot write), then 2 warm-started iterations — the
    integer formulation makes warm(2, cold(3)) BIT-IDENTICAL to
    cold(5), so this gate replays the SAME 5-iteration oracle as
    domain_pagerank."""
    from sagan_spark.ops.linkgraph import domain_edges, extract_links, pagerank

    docs = _docs(spark, sf_dir)
    html = F.concat(
        F.lit('<a href="https://src'), (F.col("doc_id") % 13).cast("string"),
        F.lit('.example/x">a</a><a href="https://ref'),
        (F.col("doc_id") % 5).cast("string"), F.lit('.org/">b</a>'),
    )
    pages = docs.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.encode(html, "UTF-8").alias("html"),
    )
    edges = materialize(domain_edges(extract_links(pages)), "resumed edges")
    snapshot = pagerank(edges, iterations=3)
    out = pagerank(edges, iterations=2, init_ranks=snapshot)
    release(edges)
    release(snapshot)
    return out


def q_link_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic integer HITS over the same scaffolded domain
    graph as domain_pagerank: href extraction → registered-domain
    collapse → 3 L-infinity-normalized hub/authority iterations
    (ops/linkgraph.hits).  The oracle rebuilds the edge multiset from
    the doc_id arithmetic and replays the integer recurrence as
    unrolled CTEs with scalar-subquery maxima — exact BIGINT
    equality."""
    from sagan_spark.ops.linkgraph import domain_edges, extract_links, hits

    docs = _docs(spark, sf_dir)
    html = F.concat(
        F.lit('<a href="https://src'), (F.col("doc_id") % 13).cast("string"),
        F.lit('.example/x">a</a><a href="https://ref'),
        (F.col("doc_id") % 5).cast("string"), F.lit('.org/">b</a>'),
    )
    pages = docs.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.encode(html, "UTF-8").alias("html"),
    )
    return hits(domain_edges(extract_links(pages)), iterations=3)


def q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level corpus profiling (ops/profile.py) over documents
    with a deterministic defect scaffold (the synthetic table has no
    nulls, so doc_id%7 injects them: 0 → NULL text, 1 → empty text) —
    per-column null/empty counts, exact distinct cardinality, and
    integer milli-character length stats in ONE map-side-combining
    scan."""
    from sagan_spark.ops.profile import profile_columns

    docs = _docs(spark, sf_dir)
    scaffold = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.lit(None).cast("string"))
        .when(F.col("doc_id") % 7 == 1, F.lit(""))
        .otherwise(F.col("text"))
        .alias("text_s"),
        "lang",
    )
    return profile_columns(scaffold, ["doc_id", "text_s", "lang"])


def q_encoding_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-health screen over documents with a deterministic
    defect scaffold (the synthetic text is clean ASCII, so each
    doc_id%4 class appends one defect family: mojibake digraph,
    U+FFFD, a C0 control, or nothing)."""
    from sagan_spark.ops.webclean import encoding_quality

    docs = _docs(spark, sf_dir)
    suffix = (
        F.when(F.col("doc_id") % 4 == 0, F.lit(" Ã©tÃ© broken"))
        .when(F.col("doc_id") % 4 == 1, F.lit(" bad � char"))
        .when(F.col("doc_id") % 4 == 2, F.lit(" ctl \x07 here"))
        .otherwise(F.lit(""))
    )
    scaffold = docs.select(
        "doc_id", F.concat(F.col("text"), suffix).alias("text")
    )
    return encoding_quality(scaffold)


def q_lm_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed bigram LM trained on the deterministic holdout half of
    the corpus (the md5 'split' sample — the reference-corpus role of
    CCNet's LM filter), scoring ALL documents."""
    from sagan_spark.ops.lmscore import lm_likelihood, lm_train_bigrams
    from sagan_spark.ops.sampling import deterministic_sample

    docs = _docs(spark, sf_dir)
    ref = deterministic_sample(docs, 0.5, salt="split")
    lm = lm_train_bigrams(ref, n_buckets=1 << 18)
    return lm_likelihood(docs, lm)


def q_domain_lm_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain LM prior (ops/lmscore.domain_lm_prior): the CCNet
    per-domain perplexity table — average lm_score_ppm per registered
    domain over the synthetic url scaffold (same holdout-trained
    bigram model as lm_likelihood; NULL-skipping integer mean)."""
    from sagan_spark.ops.lmscore import domain_lm_prior, lm_train_bigrams
    from sagan_spark.ops.sampling import deterministic_sample

    docs = _docs(spark, sf_dir)
    ref = deterministic_sample(docs, 0.5, salt="split")
    lm = lm_train_bigrams(ref, n_buckets=1 << 18)
    tld = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(".co.uk"))
        .when(F.col("doc_id") % 3 == 1, F.lit(".com"))
        .otherwise(F.lit(".org"))
    )
    with_url = docs.withColumn(
        "url",
        F.concat(
            F.lit("https://www."), F.col("source"), tld,
            F.lit("/p/"), F.col("doc_id").cast("string"),
        ),
    )
    return domain_lm_prior(with_url, lm)


def q_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained bigram LM model TABLES as a first-class artifact
    (kind='pair'|'prefix', bucket, n) — training is one map-side-
    combining groupBy per table, output bounded by n_buckets; the
    same model lm_likelihood consumes via two broadcast joins."""
    from sagan_spark.ops.lmscore import lm_train_bigrams
    from sagan_spark.ops.sampling import deterministic_sample

    docs = _docs(spark, sf_dir)
    ref = deterministic_sample(docs, 0.5, salt="split")
    lm = lm_train_bigrams(ref, n_buckets=1 << 18)
    pairs = lm.pairs.select(
        F.lit("pair").alias("kind"),
        F.col("pair_bucket").alias("bucket"),
        F.col("pair_count").cast("long").alias("n"),
    )
    prefixes = lm.prefixes.select(
        F.lit("prefix").alias("kind"),
        F.col("prefix_bucket").alias("bucket"),
        F.col("prefix_count").cast("long").alias("n"),
    )
    return pairs.unionByName(prefixes)


def q_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 rule set over documents with a deterministic defect
    scaffold: each doc_id%5 class appends one page-level tell (bad
    word / lorem ipsum / curly brace / a javascript line / nothing)
    so every boolean column carries both values at sf0.01."""
    from sagan_spark.ops.webclean import c4_filters

    docs = _docs(spark, sf_dir)
    suffix = (
        F.when(F.col("doc_id") % 5 == 0, F.lit("\nwatch porn here now."))
        .when(F.col("doc_id") % 5 == 1, F.lit("\nfiller lorem ipsum text."))
        .when(F.col("doc_id") % 5 == 2, F.lit("\ncode { snippet } sample."))
        .when(F.col("doc_id") % 5 == 3, F.lit("\nenable javascript to view."))
        .otherwise(F.lit(""))
    )
    scaffold = docs.select(
        "doc_id", F.concat(F.col("text"), suffix).alias("text")
    )
    return c4_filters(scaffold)


def q_lm_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail terciles per language: lang_id supplies
    the language, the 'split'-holdout bigram LM supplies the score,
    lm_buckets cuts exact per-language terciles off the score
    histogram (no corpus-wide sort)."""
    from sagan_spark.ops.lmscore import (
        lm_buckets,
        lm_likelihood,
        lm_train_bigrams,
    )
    from sagan_spark.ops.sampling import deterministic_sample
    from sagan_spark.ops.textstats import lang_id

    docs = _docs(spark, sf_dir)
    ref = deterministic_sample(docs, 0.5, salt="split")
    lm = lm_train_bigrams(ref, n_buckets=1 << 18)
    scored = lm_likelihood(docs, lm).select("doc_id", "lm_score_ppm")
    langs = lang_id(docs).select(
        "doc_id", F.col("pred_lang").alias("lang")
    )
    return lm_buckets(langs.join(scored, "doc_id"))


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (ops/dsir.py): the md5 'dsir_target'
    quarter of the corpus plays the high-quality target distribution,
    the full corpus is the raw distribution, every document gets the
    integer target-vs-raw contrast score."""
    from sagan_spark.ops.dsir import dsir_train, dsir_weights
    from sagan_spark.ops.sampling import deterministic_sample

    docs = _docs(spark, sf_dir)
    target = deterministic_sample(docs, 0.25, salt="dsir_target")
    model = dsir_train(target, docs, n_buckets=1 << 16)
    return dsir_weights(docs, model)


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy top-100 selection over the DSIR weights — the resampling
    step at temperature 0 (deterministic; md5 tiebreak)."""
    from sagan_spark.ops.dsir import dsir_topk

    return dsir_topk(q_dsir_weights(spark, sf_dir), 100)


def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n^alpha temperature mixing over the 20 synthetic sources
    (alpha .5, expected 150 of 500 docs at sf0.01) — rates land well
    inside (0,1) so both the hex-threshold and the keep-all sentinel
    paths stay exercised by unit tests, the gate pins the rate math."""
    from sagan_spark.ops.sampling import temperature_mix

    return temperature_mix(_docs(spark, sf_dir), budget=150, alpha=0.5).select(
        "doc_id", "source"
    )


def q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.ops.webclean import corpus_prep

    return corpus_prep(_docs(spark, sf_dir))


def q_corpus_prep_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.ops.webclean import corpus_prep_yield

    return corpus_prep_yield(_docs(spark, sf_dir))


def q_webclean_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency boilerplate line removal (ops/webclean.
    remove_boilerplate_lines, the CCNet line-dedup step): documents
    are wrapped in a deterministic multi-line page — a nav bar shared
    by every page, a newsletter footer shared by a third of them, a
    unique per-page visitor line, a whitespace-only layout line, and a
    per-source copyright — so the gate exercises drop (df >= 2), keep
    (unique lines), and blank-preservation paths.  The oracle builds
    the SAME page with || and replays the document-frequency rule."""
    from sagan_spark.ops.webclean import remove_boilerplate_lines

    docs = _docs(spark, sf_dir)
    page = F.concat_ws(
        "\n",
        F.col("text"),
        F.lit("Home | About | Contact"),
        F.when(
            F.col("doc_id") % 3 == 0, F.lit("Subscribe to our newsletter")
        ).otherwise(F.concat(F.lit("Visitor note "), F.col("doc_id").cast("string"))),
        F.lit("  "),
        F.concat(F.lit("(c) "), F.col("source"), F.lit(" Media Group")),
    )
    pages = docs.select("doc_id", page.alias("text"))
    return remove_boilerplate_lines(pages, min_docs=2)


def q_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-token-pair counts (ops/textstats.bpe_pair_stats, the
    BPE merge statistic) over the raw documents table — the word-salad
    corpus repeats tokens heavily, so the top-100 table is dense."""
    from sagan_spark.ops.textstats import bpe_pair_stats

    return bpe_pair_stats(_docs(spark, sf_dir), top_n=100)


def q_link_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle count + clustering coefficient
    (ops/linkgraph.triangle_stats, Suri & Vassilvitskii WWW'11
    degree-oriented wedges) over a deterministic domain graph: a
    13-cycle of s-domains cross-linked to 5 r-hubs — dense in
    triangles, plus duplicate/reversed edges the undirected
    normalization must collapse.  The oracle replays the exact
    (degree, node) orientation with SQL row-value comparisons."""
    from sagan_spark.ops.linkgraph import triangle_stats

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    edges = docs.select(
        F.concat(F.lit("s"), (did % 13).cast("string")).alias("src"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit("s"), ((did % 13 + 1) % 13).cast("string")),
        )
        .otherwise(F.concat(F.lit("r"), (did % 5).cast("string")))
        .alias("dst"),
    )
    return triangle_stats(edges)


def _triangles_oracle_sql() -> str:
    return (
        "WITH raw AS (SELECT 's' || CAST(doc_id % 13 AS VARCHAR) AS src,"
        " CASE WHEN doc_id % 3 = 0 THEN"
        " 's' || CAST((doc_id % 13 + 1) % 13 AS VARCHAR)"
        " ELSE 'r' || CAST(doc_id % 5 AS VARCHAR) END AS dst"
        " FROM documents),"
        " und AS (SELECT DISTINCT least(src, dst) AS a,"
        "  greatest(src, dst) AS b FROM raw"
        "  WHERE least(src, dst) <> greatest(src, dst)),"
        " deg AS (SELECT node, count(*) AS degree FROM ("
        "  SELECT a AS node FROM und UNION ALL SELECT b FROM und)"
        "  GROUP BY 1),"
        " ranked AS (SELECT u.a, u.b, da.degree AS da, db.degree AS db"
        "  FROM und u JOIN deg da ON da.node = u.a"
        "  JOIN deg db ON db.node = u.b),"
        " oriented AS (SELECT"
        "  CASE WHEN (da, a) < (db, b) THEN a ELSE b END AS lo,"
        "  CASE WHEN (da, a) < (db, b) THEN b ELSE a END AS hi,"
        "  CASE WHEN (da, a) < (db, b) THEN db ELSE da END AS hid"
        "  FROM ranked),"
        " wedges AS (SELECT w1.lo AS p, w1.hi AS x, w2.hi AS y"
        "  FROM oriented w1 JOIN oriented w2 ON w1.lo = w2.lo"
        "  AND (w1.hid, w1.hi) < (w2.hid, w2.hi)),"
        " tris AS (SELECT w.p, w.x, w.y FROM wedges w"
        "  JOIN oriented o ON o.lo = w.x AND o.hi = w.y),"
        " pn AS (SELECT node, count(*) AS n_triangles FROM ("
        "  SELECT p AS node FROM tris UNION ALL SELECT x FROM tris"
        "  UNION ALL SELECT y FROM tris) GROUP BY 1)"
        " SELECT d.node, d.degree,"
        " CAST(coalesce(pn.n_triangles, 0) AS BIGINT) AS n_triangles,"
        " CAST(CASE WHEN d.degree >= 2 THEN"
        "  (2000000 * coalesce(pn.n_triangles, 0))"
        "  // (d.degree * (d.degree - 1)) ELSE 0 END AS BIGINT)"
        "  AS clustering_ppm"
        " FROM deg d LEFT JOIN pn ON pn.node = d.node"
    )


def q_frontier_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-scheduled frontier (ops/linkgraph.frontier_schedule
    over ops/robotstxt.crawl_delays): {source}.com domains declare a
    Crawl-delay derived from the source name, .org/.example domains
    fall back to the 3s default; fetch offset = (rank-1)*delay.  The
    oracle replays the frontier chain + the delay extraction."""
    from sagan_spark.ops.linkgraph import frontier_candidates, frontier_schedule
    from sagan_spark.ops.robotstxt import crawl_delays

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    # relative third link, q_frontier_candidates discipline
    html = F.concat(
        F.lit('<a href="https://'), F.col("source"), F.lit(".com/p/"),
        (did % 7).cast("string"),
        F.lit('">x</a><a href="https://ref'), (did % 5).cast("string"),
        F.lit('.org/">y</a><a href=/p/'), (did % 97).cast("string"),
        F.lit(">z</a>"),
    )
    pages = docs.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example/p/"),
            did.cast("string"),
        ).alias("url"),
        F.encode(html, "UTF-8").alias("html"),
    )
    robots = docs.select("source").distinct().select(
        F.concat(F.col("source"), F.lit(".com")).alias("domain"),
        F.concat(
            F.lit("User-agent: *\nCrawl-delay: "),
            (F.length("source") % 5 + 1).cast("string"),
            F.lit("\nDisallow: /private\n"),
        ).alias("robots_txt"),
    )
    return frontier_schedule(
        frontier_candidates(pages, k=5),
        crawl_delays(robots),
        default_delay_sec=3,
    )


def q_robots_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap: directive discovery from robots.txt bodies
    (ops/robotstxt.robots_sitemaps): case-insensitive field name,
    surrounding group lines ignored, comment lines skipped by the
    anchored multiline match, doc_id%3==2 files carry none."""
    from sagan_spark.ops.robotstxt import robots_sitemaps

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    body = F.concat(
        F.lit("User-agent: *\nDisallow: /private\n"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit("Sitemap: https://"), F.col("source"),
                F.lit(".com/sitemap.xml\n# Sitemap: https://ignored.example/x\n"),
            ),
        )
        .when(
            did % 3 == 1,
            F.concat(
                F.lit("sitemap:   https://"), F.col("source"),
                F.lit(".com/s1.xml\r\nSITEMAP: https://"), F.col("source"),
                F.lit(".com/s2.xml\n"),
            ),
        )
        .otherwise(F.lit("")),
        F.lit("Allow: /\n"),
    )
    robots = docs.select(F.col("source").alias("domain"), body.alias("robots_txt"))
    return robots_sitemaps(robots)


def _robots_sitemaps_oracle_sql() -> str:
    from sagan_spark.ops.robotstxt import robots_sitemaps_sql

    body = (
        "('User-agent: *' || chr(10) || 'Disallow: /private' || chr(10)"
        " || CASE WHEN doc_id % 3 = 0 THEN"
        "  'Sitemap: https://' || source || '.com/sitemap.xml' || chr(10)"
        "  || '# Sitemap: https://ignored.example/x' || chr(10)"
        " WHEN doc_id % 3 = 1 THEN"
        "  'sitemap:   https://' || source || '.com/s1.xml'"
        "  || chr(13) || chr(10)"
        "  || 'SITEMAP: https://' || source || '.com/s2.xml' || chr(10)"
        " ELSE '' END || 'Allow: /' || chr(10))"
    )
    inner = f"(SELECT source AS domain, {body} AS rt FROM documents)"
    return robots_sitemaps_sql("rt", inner)


def q_corpus_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive shard integrity manifest
    (ops/profile.shard_checksums) over the full documents table —
    modular 60-bit digest sums, independent shard window."""
    from sagan_spark.ops.profile import shard_checksums

    return shard_checksums(_docs(spark, sf_dir), n_shards=16)


def q_doc_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed sparse-feature export (ops/textstats.doc_features):
    4096 buckets (collisions forced so per-bucket counts exceed 1),
    deterministic 'bucket:count' serialization, bucket-ascending."""
    from sagan_spark.ops.textstats import doc_features

    return doc_features(_docs(spark, sf_dir), n_buckets=4096)


def q_link_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node link reciprocity (ops/linkgraph.link_reciprocity):
    the scaffold mixes mutual s-chain edges (i->i+1 from one doc
    class, i->i-1 from another — reciprocated when both classes hit
    the pair) with one-way r-spokes that can never reciprocate."""
    from sagan_spark.ops.linkgraph import link_reciprocity

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    edges = docs.select(
        F.concat(F.lit("s"), (did % 10).cast("string")).alias("src"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit("s"), ((did % 10 + 1) % 10).cast("string")),
        )
        .when(
            did % 3 == 1,
            F.concat(F.lit("s"), ((did % 10 + 9) % 10).cast("string")),
        )
        .otherwise(F.concat(F.lit("r"), (did % 5).cast("string")))
        .alias("dst"),
    )
    return link_reciprocity(edges)


def q_score_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group rank normalization (ops/quantiles.percentile_features)
    of document length within each language — pct_ppm =
    (1e6·n_below) div (n-1) off the (lang, score) histogram; the
    oracle replays the naive rank window (rank-1 == n_below) the
    histogram composition is provably equivalent to."""
    from sagan_spark.ops.quantiles import percentile_features

    docs = _docs(spark, sf_dir).select(
        "doc_id", "lang", F.col("n_chars").alias("score")
    )
    return percentile_features(docs, "score", group_col="lang").select(
        "doc_id", "lang", "score", "n_below", "pct_ppm"
    )


def q_events_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU rollup (ops/funnel.active_users):
    exact distinct counts off the collapsed (day, key) frame — no
    countDistinct over raw events; carry-forward days appear with
    dau=0."""
    from sagan_spark.ops.funnel import active_users

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return active_users(ev, window_days=7)


def q_events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-window funnel (ops/funnel.funnel_stages with
    max_gap_sec=7200): stage i must land within 2h of stage i-1 or
    the chain breaks — the sparse synthetic event stream (~11h mean
    inter-event gap per user) breaks most chains, exercising the
    constraint.  Greedy walk, replayed verbatim by the oracle."""
    from sagan_spark.ops.funnel import funnel_stages

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return funnel_stages(
        ev, ["view", "click", "purchase"], max_gap_sec=7200
    )


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution continuous-aggregate cascade (ops/rollup.
    time_rollup): minute/hour/day per-event_type count/sum/min/max in
    integer milli-units; coarser levels aggregate the finest rollup
    (one raw scan, exchange-reused), the oracle recomputes every level
    from raw — equality proves the cascade exact."""
    from sagan_spark.ops.rollup import time_rollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return time_rollup(ev, resolutions=(60, 3600, 86400))


def _rollup_oracle_sql() -> str:
    def lvl(r: int) -> str:
        ru = r * 1_000_000
        return (
            f"SELECT CAST({r} AS BIGINT) AS resolution_sec,"
            ' event_type AS "key",'
            f" (epoch_us(ts) // {ru}) * {ru} AS bucket_us,"
            " count(*) AS n_events, CAST(sum(m) AS BIGINT) AS sum_milli,"
            " min(m) AS min_milli, max(m) AS max_milli"
            " FROM (SELECT event_type, ts,"
            "  CAST(floor(value * 1000) AS BIGINT) AS m FROM events"
            "  WHERE ts IS NOT NULL)"
            " GROUP BY 2, 3"
        )

    return " UNION ALL ".join(lvl(r) for r in (60, 3600, 86400))


_ASOF_BASE_US = 1_704_067_200_000_000  # 2024-01-01 UTC
_DAY_US = 86_400_000_000


def _asof_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic slowly-changing dimension over the events table's
    user space: 3 'plan version' snapshots per user (base day =
    user_id%10, then +7d/+14d), users divisible by 5 carry NO
    snapshots (no-match path), and users divisible by 7 duplicate the
    k=1 timestamp at k=2 (tie path: max payload must win)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    users = ev.select("user_id").distinct().filter(F.col("user_id") % 5 != 0)
    k = F.col("k")
    off = F.when(
        (k == 2) & (F.col("user_id") % 7 == 0), F.lit(0)
    ).otherwise((k - 1).cast("long") * F.lit(7 * _DAY_US))
    snap_us = (
        F.lit(_ASOF_BASE_US)
        + (F.col("user_id") % 10) * F.lit(_DAY_US)
        + off
    )
    return users.select(
        "user_id", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k")
    ).select(
        "user_id",
        F.timestamp_micros(snap_us).alias("ts"),
        F.concat(F.lit("v"), k.cast("string")).alias("snapshot"),
    )


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of enrichment, broadcast-dimension shape (ops/asof.
    asof_join_compact): each event picks the latest snapshot at-or-
    before its timestamp from a per-key sorted struct array — NO
    shuffle on the event side.  The scaffold dimension exercises
    no-snapshot users, before-first-snapshot events, and equal-ts
    snapshot ties."""
    from sagan_spark.ops.asof import asof_join_compact

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "ts"
    )
    return asof_join_compact(ev, _asof_dim(spark, sf_dir)).select(
        "event_id", "user_id", "right_ts_us", "snapshot"
    )


def q_events_asof_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME as-of join through the large-dimension two-phase
    bucket decomposition (ops/asof.asof_join, 3-day buckets forcing
    cross-bucket carry) — the oracle is IDENTICAL to events_asof's,
    proving the skew-safe shape bit-equal to the broadcast shape."""
    from sagan_spark.ops.asof import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "ts"
    )
    return asof_join(
        ev, _asof_dim(spark, sf_dir), bucket_sec=3 * 86400
    ).select("event_id", "user_id", "right_ts_us", "snapshot")


def _asof_oracle_sql() -> str:
    """Global-definition replay: LEFT JOIN on (key, ts_r <= ts), the
    winner ranked by (ts_r desc, payload desc) — exactly the
    max(struct) spec of ops/asof.py."""
    return (
        "WITH u AS (SELECT DISTINCT user_id FROM events"
        " WHERE user_id % 5 <> 0),"
        " d AS (SELECT user_id, make_timestamp("
        f"{_ASOF_BASE_US} + (user_id % 10) * {_DAY_US}"
        " + CASE WHEN k = 2 AND user_id % 7 = 0 THEN 0"
        f" ELSE (k - 1) * {7 * _DAY_US} END) AS ts,"
        " 'v' || CAST(k AS VARCHAR) AS snapshot"
        " FROM u CROSS JOIN unnest([1, 2, 3]) AS t(k)),"
        " j AS (SELECT e.event_id, e.user_id, epoch_us(d.ts)"
        " AS right_ts_us, d.snapshot, row_number() OVER ("
        " PARTITION BY e.event_id ORDER BY d.ts DESC, d.snapshot DESC)"
        " AS rn FROM events e LEFT JOIN d"
        " ON d.user_id = e.user_id AND d.ts <= e.ts)"
        " SELECT event_id, user_id, right_ts_us, snapshot FROM j"
        " WHERE rn = 1"
    )


def q_streaming_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming as-of enrichment (streaming/asof.start_asof_query):
    the compact broadcast probe as a stream-static join, drained over
    the events table with availableNow — a FULL-oracle gate sharing
    events_asof's global-definition SQL (stateless per event, so
    chunking cannot change the answer)."""
    import shutil
    import tempfile

    _ship_package(spark)
    from sagan_spark.streaming.asof import start_asof_query

    work = tempfile.mkdtemp(prefix="sagan_asof_contract_")
    try:
        inp = f"{work}/in"
        os.makedirs(inp)
        shutil.copy(f"{sf_dir}/events.parquet", f"{inp}/events.parquet")
        q = start_asof_query(
            spark, inp, f"{work}/out", f"{work}/ckpt",
            dim=_asof_dim(spark, sf_dir),
        )
        _drain(q)
        out = spark.read.parquet(f"{work}/out").select(
            "event_id", "user_id", "right_ts_us", "snapshot"
        )
        return materialize(out, "streaming_asof")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def q_vocab_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-of-frequencies census (ops/textstats.vocab_spectrum):
    one map-side-combining token count, then a tiny rollup grouped by
    frequency — the Zipf/Heaps curve corpus QA reads.  No window, no
    join."""
    from sagan_spark.ops.textstats import vocab_spectrum

    return vocab_spectrum(_docs(spark, sf_dir))


def q_html_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML structural census + link density (ops/htmlstats.py): the
    deterministic scaffold injects every counted shape — a script
    whose string literal contains a tag (raw census must count it), a
    style block, quoted and uppercase anchors, a nested-markup anchor
    body, an entity in anchor text, an <abbr> trap that must NOT count
    as <a>, an <img>, and (doc_id%4==0) a trailing unclosed anchor
    that must contribute zero anchor chars.  The oracle applies the
    SAME census (ops.htmlstats.html_stats_sql, one source of truth)
    to the same scaffold string."""
    from sagan_spark.ops.htmlstats import html_stats

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    html = F.concat(
        F.lit('<html><head><script src=x>var a="<b>";</script>'
              "<style>p{color:red}</style></head><body>"
              '<a href="/h">Home &amp; Garden</a>'),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit("<A HREF=y><b>Bold</b> link "),
                (did % 5).cast("string"), F.lit("</A>"),
            ),
        ).otherwise(F.lit("")),
        F.lit('<img src=i><abbr>np</abbr><p>'), F.col("text"),
        F.lit("</p>"),
        F.when(did % 4 == 0, F.lit('<a href="tail">dangling'))
        .otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    pages = docs.select(
        F.col("doc_id"), F.encode(html, "UTF-8").alias("html")
    )
    return html_stats(pages, id_col="doc_id")


def q_outlink_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-page outlink-shape census (ops/htmlstats.outlink_census):
    the scaffold mixes an internal absolute link (same host as the
    page), an external one repeated (distinct-host dedup), a rotating
    ref{n}.org target, and a relative link — exercising every
    counter."""
    from sagan_spark.ops.htmlstats import outlink_census

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    html = F.concat(
        F.lit('<a href="https://'), F.col("source"), F.lit(".example/p/"),
        (did % 9).cast("string"),
        F.lit('">self</a><a href="https://ext.com/x">e1</a>'
              '<a href="https://ext.com/y">e2</a><a href="https://ref'),
        (did % 5).cast("string"),
        F.lit('.org/">r</a><a href="/rel/path">rel</a><p>'),
        F.col("text"), F.lit("</p>"),
    )
    pages = docs.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example/p/"),
            did.cast("string"),
        ).alias("url"),
        F.encode(html, "UTF-8").alias("html"),
    )
    return outlink_census(pages)


def _outlink_oracle_sql() -> str:
    from sagan_spark.ops.htmlstats import outlink_census_sql

    scaffold = (
        "('<a href=\"https://' || source || '.example/p/'"
        " || CAST(doc_id % 9 AS VARCHAR)"
        " || '\">self</a><a href=\"https://ext.com/x\">e1</a>"
        "<a href=\"https://ext.com/y\">e2</a><a href=\"https://ref'"
        " || CAST(doc_id % 5 AS VARCHAR)"
        " || '.org/\">r</a><a href=\"/rel/path\">rel</a><p>'"
        " || text || '</p>')"
    )
    inner = (
        "(SELECT 'https://' || source || '.example/p/'"
        " || CAST(doc_id AS VARCHAR) AS url,"
        f" {scaffold} AS h FROM documents)"
    )
    return outlink_census_sql("h") + f" FROM {inner}"


def q_charset_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset sniffing (ops/htmlmeta.charset_sniff): BOM > transport
    header > meta, with a deterministic scaffold covering every
    branch — doc_id%4 picks the BOM (UTF-8 / UTF-16LE / UTF-16BE /
    none; the UTF-16 branches must NOT be decoded), doc_id%3 the meta
    declaration (modern charset= / legacy http-equiv / none), and
    doc_id%5 the header charset.  The oracle applies the SAME sniff
    (ops.htmlmeta.charset_sql) to the same unhex||encode bytes."""
    from sagan_spark.ops.htmlmeta import charset_sniff

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    bom_hex = (
        F.when(did % 4 == 0, F.lit("EFBBBF"))
        .when(did % 4 == 1, F.lit("FFFE"))
        .when(did % 4 == 2, F.lit("FEFF"))
        .otherwise(F.lit(""))
    )
    body = F.concat(
        F.lit("<html><head>"),
        F.when(did % 3 == 0, F.lit('<meta charset="UTF-8">'))
        .when(
            did % 3 == 1,
            F.lit("<META HTTP-EQUIV='Content-Type'"
                  " CONTENT='text/html; charset=windows-1252'>"),
        )
        .otherwise(F.lit("")),
        F.lit("</head><body>"), F.col("text"), F.lit("</body></html>"),
    )
    headers = (
        F.when(
            did % 5 == 0,
            F.lit("Content-Type: text/html; charset=ISO-8859-1\r\nX-Y: z"),
        )
        .when(did % 5 == 1, F.lit("Content-Type: text/plain"))
        .otherwise(F.lit(None).cast("string"))
    )
    pages = docs.select(
        F.col("doc_id"),
        F.concat(F.unhex(bom_hex), F.encode(body, "UTF-8")).alias("html"),
        headers.alias("headers"),
    )
    return charset_sniff(pages, headers_col="headers", id_col="doc_id")


def q_frontier_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier mining (ops/linkgraph.frontier_candidates):
    scaffolded html carries three absolute links per page — a shared
    {source}.com target (hot, high n_refs), a ref{n}.org target, and
    a {source}.example target colliding with the CRAWLED url space so
    the anti-join actually removes rows.  Per-domain top-5 by citation
    count via the shared salted two-stage top-k; the oracle replays
    the chain with the plain global window it is provably equivalent
    to."""
    from sagan_spark.ops.linkgraph import frontier_candidates

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    # third link is ROOT-RELATIVE and unquoted: it resolves against
    # the page url to the same {source}.example/p/{n} target space as
    # before, proving relative navigation enters the frontier
    html = F.concat(
        F.lit('<a href="https://'), F.col("source"), F.lit(".com/p/"),
        (did % 7).cast("string"),
        F.lit('">x</a><a href="https://ref'), (did % 5).cast("string"),
        F.lit('.org/">y</a><a href=/p/'), (did % 97).cast("string"),
        F.lit(">z</a>"),
    )
    pages = docs.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example/p/"),
            did.cast("string"),
        ).alias("url"),
        F.encode(html, "UTF-8").alias("html"),
    )
    return frontier_candidates(pages, k=5)


def q_parse_sitemap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap parsing (ops/sitemap.parse_sitemap): doc_id%13==0 pages
    are <sitemapindex> files (child-sitemap rows, kind='sitemap'),
    the rest <urlset> files carrying an entity-escaped loc with
    lastmod+priority, a loc-only entry, an UPPERCASE-tag entry, and a
    loc-less entry that must drop.  The oracle applies the SAME spec
    (ops.sitemap.sitemap_sql) to the same scaffold."""
    from sagan_spark.ops.sitemap import parse_sitemap

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    urlset = F.concat(
        F.lit('<?xml version="1.0"?><urlset><url><loc> https://'),
        F.col("source"), F.lit(".com/p?id="), (did % 50).cast("string"),
        F.lit("&amp;v=2 </loc><lastmod>2026-01-"),
        F.lpad((did % 28 + 1).cast("string"), 2, "0"),
        F.lit("</lastmod><priority>0."), (did % 10).cast("string"),
        F.lit("</priority></url><url><loc>https://"), F.col("source"),
        F.lit(".com/q/"), (did % 7).cast("string"),
        F.lit("</loc></url><URL><LOC>https://"), F.col("source"),
        F.lit(".com/up</LOC></URL>"
              "<url><lastmod>2026-02-01</lastmod></url></urlset>"),
    )
    index = F.concat(
        F.lit("<sitemapindex><sitemap><loc>https://"), F.col("source"),
        F.lit(".com/sitemap1.xml</loc><lastmod>2026-02-03</lastmod>"
              "</sitemap><sitemap><loc>https://"), F.col("source"),
        F.lit(".com/sitemap2.xml</loc></sitemap></sitemapindex>"),
    )
    xml = F.when(did % 13 == 0, index).otherwise(urlset)
    pages = docs.select("doc_id", F.encode(xml, "UTF-8").alias("html"))
    return parse_sitemap(pages, id_col="doc_id")


def _sitemap_oracle_sql() -> str:
    from sagan_spark.ops.sitemap import sitemap_sql

    urlset = (
        "'<?xml version=\"1.0\"?><urlset><url><loc> https://' || source"
        " || '.com/p?id=' || CAST(doc_id % 50 AS VARCHAR)"
        " || '&amp;v=2 </loc><lastmod>2026-01-'"
        " || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')"
        " || '</lastmod><priority>0.' || CAST(doc_id % 10 AS VARCHAR)"
        " || '</priority></url><url><loc>https://' || source"
        " || '.com/q/' || CAST(doc_id % 7 AS VARCHAR)"
        " || '</loc></url><URL><LOC>https://' || source"
        " || '.com/up</LOC></URL>"
        "<url><lastmod>2026-02-01</lastmod></url></urlset>'"
    )
    index = (
        "'<sitemapindex><sitemap><loc>https://' || source"
        " || '.com/sitemap1.xml</loc><lastmod>2026-02-03</lastmod>"
        "</sitemap><sitemap><loc>https://' || source"
        " || '.com/sitemap2.xml</loc></sitemap></sitemapindex>'"
    )
    inner = (
        f"(SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN {index}"
        f" ELSE {urlset} END AS x FROM documents)"
    )
    return sitemap_sql("x", inner, id_sql="doc_id")


def q_robots_directives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots meta-directive screen (ops/htmltext.robots_directives)
    over a BYTE html column: pages are wrapped in a deterministic
    scaffold where doc_id mod classes inject the three tag shapes —
    double-quoted "noindex, nofollow", uppercase-attr 'none', and a
    bare-value nofollow with trailing space — plus the no-tag default,
    so all four directive paths are exercised.  The oracle applies the
    SAME spec (ops.htmltext.robots_sql, one source of truth) to the
    same scaffold string."""
    from sagan_spark.ops.htmltext import robots_directives

    docs = _docs(spark, sf_dir)
    tagged = (
        F.when(
            F.col("doc_id") % 7 == 0,
            F.lit('<meta name="robots" content="noindex, nofollow">'),
        )
        .when(F.col("doc_id") % 5 == 0, F.lit("<meta NAME=ROBOTS CONTENT='none'>"))
        .when(F.col("doc_id") % 3 == 0, F.lit("<meta name=robots content=nofollow >"))
        .otherwise(F.lit(""))
    )
    scaffold = F.concat(
        F.lit("<html><head>"),
        tagged,
        F.lit("</head><body><p>"),
        F.col("text"),
        F.lit("</p></body></html>"),
    )
    pages = docs.select("doc_id", F.encode(scaffold, "UTF-8").alias("html"))
    return robots_directives(pages)


def q_html_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured page metadata (ops/htmlmeta.page_metadata) over a
    BYTE html column: the deterministic scaffold injects all five
    fields with doc_id-mod shape variation — quoted/bare/absent lang
    attr, entity-laden title, double-quoted vs single-quoted vs absent
    meta description, alternating og:title, quoted-absolute vs
    bare-relative canonical — so every attr-form alternation and the
    empty-string no-match path are exercised.  The oracle applies the
    SAME spec (ops.htmlmeta.page_meta_sql) to the same scaffold."""
    from sagan_spark.ops.htmlmeta import page_metadata

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    lang_tag = (
        F.when(did % 4 == 0, F.lit('<html lang="en-GB">'))
        .when(did % 4 == 1, F.lit("<HTML LANG=fr>"))
        .when(did % 4 == 2, F.lit("<html data-x=1 lang='de'>"))
        .otherwise(F.lit("<html>"))
    )
    title = F.concat(
        F.lit("<title> "), F.col("source"),
        F.lit(" &amp;lt; Home &nbsp; "), (did % 10).cast("string"),
        F.lit(" </title>"),
    )
    desc = (
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit('<meta name="description" content="Desc '),
                F.col("source"), F.lit(', page">'),
            ),
        )
        .when(did % 3 == 1, F.lit("<meta NAME=description CONTENT='one two  three'>"))
        .otherwise(F.lit(""))
    )
    og = F.when(
        did % 2 == 0,
        F.concat(
            F.lit('<meta property="og:title" content="OG '),
            (did % 5).cast("string"), F.lit('">'),
        ),
    ).otherwise(F.lit(""))
    canon = F.when(
        did % 5 == 0, F.lit("<link REL=canonical HREF=/rel/path>")
    ).otherwise(
        F.concat(
            F.lit('<link rel="canonical" href="https://'), F.col("source"),
            F.lit(".com/c/"), (did % 50).cast("string"), F.lit('">'),
        )
    )
    scaffold = F.concat(
        lang_tag, F.lit("<head>"), title, desc, og, canon,
        F.lit("</head><body><p>x</p></body></html>"),
    )
    pages = docs.select("doc_id", F.encode(scaffold, "UTF-8").alias("html"))
    return page_metadata(pages)


def q_warc_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC record parse (ops/warc.parse_warc) over per-row record
    bytes built deterministically from documents: doc_id-mod classes
    vary the WARC type, the HTTP status line (200 vs 404, HTTP/1.1 vs
    1.0), and the payload Content-Type; the body is the document text
    itself (NULL text → NULL record → NULL fields, the corrupt-record
    path).  The oracle applies the SAME parse (ops.warc.warc_sql) to
    the same record string."""
    from sagan_spark.ops.warc import parse_warc

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    wtype = F.when(did % 6 == 0, F.lit("request")).otherwise(F.lit("response"))
    status = F.when(did % 5 == 0, F.lit("HTTP/1.0 404 Not Found")).otherwise(
        F.lit("HTTP/1.1 200 OK")
    )
    mime = (
        F.when(did % 3 == 0, F.lit("text/html; charset=UTF-8"))
        .when(did % 3 == 1, F.lit("text/plain"))
        .otherwise(F.lit("application/json"))
    )
    rec = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: "), wtype,
        F.lit("\r\nWARC-Record-ID: <urn:uuid:"), did.cast("string"),
        F.lit(">\r\nWARC-Date: 2026-08-"),
        F.lpad((did % 28 + 1).cast("string"), 2, "0"),
        F.lit("T12:00:00Z\r\nWARC-Target-URI: https://"), F.col("source"),
        F.lit(".com/p/"), (did % 50).cast("string"),
        F.lit("\r\nContent-Type: application/http; msgtype=response"
              "\r\nContent-Length: "),
        (F.length("text") + F.lit(60)).cast("string"),
        F.lit("\r\n\r\n"), status,
        F.lit("\r\nContent-Type: "), mime,
        F.lit("\r\nContent-Length: "), F.length("text").cast("string"),
        F.lit("\r\n\r\n"), F.col("text"),
    )
    records = docs.select("doc_id", F.encode(rec, "UTF-8").alias("warc"))
    return parse_warc(records).select(
        "doc_id", "warc_type", "record_id", "target_uri", "warc_date",
        "content_length", "http_status", "mime", "body_len",
        F.substring("body", 1, 64).alias("body_prefix"),
    )


def q_dedup_edit_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification of LSH candidates
    (ops/dedup.edit_verify_pairs): JVM levenshtein over 512-char
    prefixes gated to >= 2 shared bands (the quadratic kernel runs
    only on likely duplicates), integer sim_ppm, keep >= 0.8 — the
    byte-level verify family next to jaccard/containment."""
    from sagan_spark.ops.dedup import edit_verify_pairs

    return edit_verify_pairs(
        _docs(spark, sf_dir), k=8, n_bands=4, prefix_chars=128,
        min_shared_bands=2,
    )


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided shingle containment on LSH candidates
    (ops/dedup.containment_pairs): catches the short-doc-quoted-in-
    long-doc shape Jaccard misses.  Same candidate CTEs as the
    ngram_jaccard oracle; containments projected instead."""
    from sagan_spark.ops.dedup import containment_pairs

    docs = _docs(spark, sf_dir)
    pairs = containment_pairs(docs, k=8, n_bands=4, threshold=0.5)
    return pairs.select(
        "doc_a", "doc_b",
        F.round("containment_a", 6).alias("containment_a"),
        F.round("containment_b", 6).alias("containment_b"),
    )


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining (ops/collocations.pmi_collocations):
    adjacent-bigram lift over the corpus, min_count=5 — the word-salad
    corpus repeats phrases heavily, so the table is dense."""
    from sagan_spark.ops.collocations import pmi_collocations

    return pmi_collocations(_docs(spark, sf_dir), min_count=5)


def _robots_body_sql_case(key: str) -> str:
    """The three robots.txt body shapes keyed by length(source) % 3 —
    ONE literal table drives the Spark CASE and the SQL CASE."""
    bodies = _ROBOTS_BODIES
    return (
        f"CASE ({key}) % 3"
        f" WHEN 0 THEN {_sq(bodies[0])}"
        f" WHEN 1 THEN {_sq(bodies[1])}"
        f" ELSE {_sq(bodies[2])} END"
    )


def _sq(s: str) -> str:
    return "'" + s.replace("'", "''").replace("\n", "' || chr(10) || '") + "'"


# shape 0: star group after a specific-agent group (applies filtering);
# shape 1: multi-UA run + comments + empty Disallow (dropped) + tie case;
# shape 2: no star group at all (everything allowed for us)
_ROBOTS_BODIES = [
    "# robots for shape 0\nUser-agent: badbot\nDisallow: /\n\n"
    "User-agent: *\nDisallow: /p/1\nAllow: /p/12\nDisallow: /q/\n",
    "User-agent: googlebot\nUser-agent: *\n# mixed run\n"
    "Disallow:\nAllow: /p/1\nDisallow: /p/12\nDisallow: /ok\n",
    "User-agent: badbot\nDisallow: /p/\nDisallow: /ok/\n",
]


def q_robots_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt crawl-permission screen (ops/robotstxt): per-domain
    robots bodies (three shapes by length(source) % 3 — see
    _ROBOTS_BODIES: group applicability, multi-UA runs, comments,
    empty Disallow, longest-match ties in both directions, and a
    domain with no applicable group) parsed into rules, then every
    page URL screened by longest-prefix match with Allow winning
    ties.  The oracle replays the same parse + screen
    (ops.robotstxt.robots_rules_sql / robots_screen_sql) over the
    same synthetic bodies and urls."""
    from sagan_spark.ops.robotstxt import parse_robots, url_robots_screen

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    robots = (
        docs.select(F.lower("source").alias("src")).distinct()
        .select(
            F.concat(F.col("src"), F.lit(".com")).alias("domain"),
            F.when(F.length("src") % 3 == 0, F.lit(_ROBOTS_BODIES[0]))
            .when(F.length("src") % 3 == 1, F.lit(_ROBOTS_BODIES[1]))
            .otherwise(F.lit(_ROBOTS_BODIES[2])).alias("robots_txt"),
        )
    )
    path = (
        F.when(did % 4 == 0, F.lit("/p/1"))
        .when(did % 4 == 1, F.lit("/p/12"))
        .when(did % 4 == 2, F.concat(F.lit("/q/"), (did % 9).cast("string")))
        .otherwise(F.concat(F.lit("/ok/"), (did % 9).cast("string")))
    )
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.lower("source"), F.lit(".com"), path
        ).alias("url"),
    )
    rules = parse_robots(robots)
    return url_robots_screen(pages, rules)


def _snapshots(spark: SparkSession, sf_dir: str):
    """Two synthetic crawl snapshots from documents: old drops
    doc_id%10==0, new drops doc_id%7==0 and rewrites text for
    doc_id%3==0; urls collide (doc_id % 400) so the min-digest
    multi-capture collapse is exercised.  SAME expressions in the
    oracle."""
    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".com/p/"),
        (did % 400).cast("string"),
    )
    base = docs.select(url.alias("url"), "text", "doc_id")
    old = base.filter(did % 10 != 0).select("url", "text")
    new = base.filter(did % 7 != 0).select(
        "url",
        F.when(did % 3 == 0, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")).alias("text"),
    )
    return old, new


def q_crawl_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-URL crawl-snapshot delta (ops/crawldiff.snapshot_diff):
    added/removed/changed/unchanged verdicts over two synthetic
    snapshots."""
    from sagan_spark.ops.crawldiff import snapshot_diff

    old, new = _snapshots(spark, sf_dir)
    return snapshot_diff(old, new)


def q_crawl_diff_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verdict rollup of the snapshot diff (ops/crawldiff.diff_counts)."""
    from sagan_spark.ops.crawldiff import diff_counts

    old, new = _snapshots(spark, sf_dir)
    return diff_counts(old, new)


def q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH precision calibration (ops/dedup.minhash_calibration): the
    (n_shared_bands × exact-jaccard-decile) joint over candidate
    pairs — integer decile, map-side rollup."""
    from sagan_spark.ops.dedup import minhash_calibration

    return minhash_calibration(_docs(spark, sf_dir), k=8, n_bands=4)


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE tokenizer training (ops/bpetrain.bpe_train): 8
    greedy merge rounds over the corpus's word-type frame — the
    double-space rendering makes literal replace() exactly Sennrich's
    left-to-right pairing, so the unrolled-CTE oracle reproduces the
    whole run bit-for-bit."""
    from sagan_spark.ops.bpetrain import bpe_train

    return bpe_train(_docs(spark, sf_dir), rounds=8)


def q_url_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL path-template census (ops/urltools.url_template_mining):
    id-like segments collapse to {n}/{hex} placeholders; synthetic
    paths exercise numeric ids, hex ids, literal pages, multi-id
    paths, and the empty path; domains vary by doc_id%3 TLD so
    n_domains counts real PSL registered domains."""
    from sagan_spark.ops.urltools import url_template_mining

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    tld = (
        F.when(did % 3 == 0, F.lit(".co.uk"))
        .when(did % 3 == 1, F.lit(".com"))
        .otherwise(F.lit(".org"))
    )
    path = (
        F.when(did % 6 == 0,
               F.concat(F.lit("/product/"), (did % 40).cast("string"),
                        F.lit("/view")))
        .when(did % 6 == 1,
              F.concat(F.lit("/product/"), (did % 40).cast("string")))
        .when(did % 6 == 2,
              F.concat(F.lit("/u/"),
                       F.substring(F.md5(did.cast("string")), 1, 12)))
        .when(did % 6 == 3, F.lit("/about"))
        .when(did % 6 == 4,
              F.concat(F.lit("/blog/"), (did % 5).cast("string"),
                       F.lit("/"), (did % 97).cast("string")))
        .otherwise(F.lit(""))
    )
    pages = docs.select(
        F.concat(
            F.lit("https://"), F.col("source"), tld, path
        ).alias("url")
    )
    return url_template_mining(pages, min_urls=2)


def q_cm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch calibration (ops/sketch.cm_heavy_hitters):
    estimates vs exact counts over the corpus token stream, width 512
    so collisions actually occur (est > exact rows prove the sketch is
    doing sketch things); probes = the distinct tokens of every 101st
    document."""
    from sagan_spark.ops.sketch import cm_heavy_hitters
    from sagan_spark.ops.textstats import TOKEN_RE

    docs = _docs(spark, sf_dir)
    toks = F.explode(
        F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), F.lit(0))
    ).alias("key")
    items = docs.select(toks)
    probes = docs.filter(F.col("doc_id") % 101 == 0).select(toks).distinct()
    return cm_heavy_hitters(items, probes, width=512, depth=4)


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-token estimate per source
    (ops/sketch.hll_distinct, p=10) calibrated against the exact
    distinct — integer-only registers and estimate, no IEEE chain."""
    from sagan_spark.ops.sketch import hll_distinct
    from sagan_spark.ops.textstats import TOKEN_RE

    docs = _docs(spark, sf_dir)
    items = docs.select(
        F.col("source").alias("grp"),
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), F.lit(0))
        ).alias("key"),
    )
    return hll_distinct(items, p=10)


def q_web_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end WARC→page ingest (ops/webpipeline.ingest_pipeline):
    framing parse, HTTP/MIME route flags, robots meta screen, text +
    metadata extraction, and the first-failing-reason keep verdict —
    ONE codegen pass.  The record scaffold varies status (404s), MIME
    (application/pdf rows), robots (noindex rows), and body length
    (short texts) so every reason branch fires; NULL text exercises
    the corrupt-record path.  The oracle composes the per-stage
    fragments (warc_sql / html_text_sql / meta_field_sqls /
    robots_noindex_sql) over the same scaffold."""
    from sagan_spark.ops.webpipeline import ingest_pipeline

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    robots = F.when(
        did % 7 == 0, F.lit('<meta name="robots" content="noindex">')
    ).otherwise(F.lit(""))
    body = F.concat(
        F.lit('<html lang="en"><head><title>T '), F.col("source"),
        F.lit("</title>"), robots,
        F.lit("</head><body><p>"), F.col("text"),
        F.lit("</p></body></html>"),
    )
    status = F.when(did % 5 == 0, F.lit("HTTP/1.0 404 Not Found")).otherwise(
        F.lit("HTTP/1.1 200 OK")
    )
    mime = F.when(did % 3 == 2, F.lit("application/pdf")).otherwise(
        F.lit("text/html")
    )
    rec = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://"),
        F.col("source"), F.lit(".com/p/"), (did % 50).cast("string"),
        F.lit("\r\n\r\n"), status,
        F.lit("\r\nContent-Type: "), mime,
        F.lit("\r\n\r\n"), body,
    )
    records = docs.select("doc_id", F.encode(rec, "UTF-8").alias("warc"))
    return ingest_pipeline(records)


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE encoding under the corpus-trained tokenizer
    (ops/bpetrain.bpe_encode): per-doc word and piece counts via ONE
    join against the vocab-bounded segmentation table — the sizing
    statistic packing/cost estimation need."""
    from sagan_spark.ops.bpetrain import bpe_encode

    return bpe_encode(_docs(spark, sf_dir), rounds=8)


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index materialization (ops/invindex.inverted_index),
    max_postings=10 so the word-salad corpus exercises the hot-term
    cap: df_count keeps the TRUE document frequency while postings
    keep only the top-10 by (tf DESC, doc_id)."""
    from sagan_spark.ops.invindex import inverted_index

    return inverted_index(_docs(spark, sf_dir), max_postings=10)




def _staged_events_dir(spark: SparkSession, sf_dir: str, work: str,
                       n_files: int = 3) -> str:
    """Stage the events table as ``n_files`` parquet files so an
    availableNow drain with maxFilesPerTrigger=1 processes REAL
    multiple micro-batches (each ledger partition then covers a
    different event subset)."""
    inp = f"{work}/in"
    (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .repartition(n_files)
        .write.parquet(inp)
    )
    return inp


def q_streaming_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental multi-resolution rollup (streaming/rollup.py):
    three micro-batches write fine-bucket partials to per-batch
    ledger partitions (idempotent dynamic overwrite); the serve read
    merges partials and cascades — the exact-integer decomposability
    makes the result bit-identical to the batch cascade, so this is a
    FULL-oracle gate on the SAME SQL as events_rollup.  Replay
    idempotence is pinned in tests/test_streaming_rollup.py."""
    import shutil
    import tempfile

    from sagan_spark.streaming.rollup import (
        rollup_from_ledger,
        start_rollup_query,
    )

    work = tempfile.mkdtemp(prefix="sagan_roll_contract_")
    try:
        inp = _staged_events_dir(spark, sf_dir, work)
        q = start_rollup_query(
            spark, inp, f"{work}/ledger", f"{work}/ckpt",
            resolutions=(60, 3600, 86400), max_files_per_trigger=1,
        )
        _drain(q)
        out = rollup_from_ledger(
            spark, f"{work}/ledger", resolutions=(60, 3600, 86400)
        )
        return materialize(out, "streaming_rollup")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def q_streaming_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental DAU/WAU (streaming/rollup.py actives ledger):
    per-batch distinct (day, key) partials, cross-batch distinct at
    serve time, then the SAME tail as active_users — FULL-oracle on
    the events_actives SQL."""
    import shutil
    import tempfile

    from sagan_spark.streaming.rollup import (
        actives_from_ledger,
        start_actives_query,
    )

    work = tempfile.mkdtemp(prefix="sagan_act_contract_")
    try:
        inp = _staged_events_dir(spark, sf_dir, work)
        q = start_actives_query(
            spark, inp, f"{work}/ledger", f"{work}/ckpt",
            max_files_per_trigger=1,
        )
        _drain(q)
        out = actives_from_ledger(spark, f"{work}/ledger", window_days=7)
        return materialize(out, "streaming_actives")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def q_streaming_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact quantiles (streaming/rollup.py quantile
    ledger): per-batch (key, value) histogram partials merge by
    integer addition, the serve read runs the shared quantile tail —
    FULL-oracle on the events_quantiles SQL."""
    import shutil
    import tempfile

    from sagan_spark.streaming.rollup import (
        quantiles_from_ledger,
        start_quantiles_query,
    )

    work = tempfile.mkdtemp(prefix="sagan_q_contract_")
    try:
        inp = _staged_events_dir(spark, sf_dir, work)
        q = start_quantiles_query(
            spark, inp, f"{work}/ledger", f"{work}/ckpt",
            max_files_per_trigger=1,
        )
        _drain(q)
        out = quantiles_from_ledger(
            spark, f"{work}/ledger", quantiles_ppm=(500000, 950000, 990000)
        )
        return materialize(out, "streaming_quantiles")
    finally:
        shutil.rmtree(work, ignore_errors=True)
