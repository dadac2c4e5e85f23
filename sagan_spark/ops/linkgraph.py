"""Link-graph operators: href extraction from raw ``html`` and a
deterministic integer-arithmetic PageRank over the (domain) link
graph.

Web-curation pipelines rank crawl domains by link centrality before
per-document quality filters run (Page et al. 1999; Common Crawl
publishes exactly this domain-level ranking).  The reference engine's
analog is its enrichment joins — a per-event reputation lookup
(src/processors/blacklist.c, bluedot) — here the reputation TABLE
itself is computed from the corpus.

Determinism: PageRank is normally float power-iteration, which no
two engines (or partition orders) sum identically.  This
implementation does ALL arithmetic in scaled 64-bit integers —
``rank`` starts at ``scale`` (micro-units of 1.0), each edge
contributes ``rank div outdeg``, the damped update is
``(1000-d)·scale div 1000 + d·Σcontrib div 1000`` — integer addition
is exact in any order, so the result is bit-identical across engines,
partitionings, and cluster sizes, and the DuckDB oracle replays it
with an unrolled-CTE twin.  Pick ``scale`` so
``n_nodes · scale · 1000`` stays under 2^63 (the default 10^6 is safe
to ~10^9 nodes).

Scale shape (100 TB posture):
- ``extract_links`` is a scan-level projection (decode + one regex
  pass + explode) — no shuffle.
- ``pagerank``: outdegrees are computed ONCE (map-side-combining
  count) and pre-joined to the edge list; each iteration is then one
  join (ranks on src) + one partial-aggregating groupBy(dst) — two
  shuffles per iteration, the minimum for unbucketed input (bucket
  edges by src to drop the join shuffle on a real deployment).  Hot
  dst nodes (every page links to google.com) partial-aggregate
  map-side before the shuffle.  ``materialize`` per iteration cuts
  the lineage chain exactly like ops/dedup.connected_components.
- Dangling nodes (appear only as dst) receive rank but emit none —
  the standard "lost mass" simplification; redistribute externally if
  the true eigenvector is needed.
- Duplicate (src,dst) pairs act as edge weights (a page linking twice
  votes twice); ``.distinct()`` the edge list first for simple-graph
  semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sagan_spark.session import materialize, release

#: real-HTML href matcher (the ops/htmlstats.py attribute-alternation
#: idiom): any attribute order, any of double-quoted / single-quoted /
#: unquoted values, case-insensitive, whitespace/newlines inside the
#: tag.  The attribute name must be preceded by a delimiter so
#: ``data-href=`` never matches.  Three capture groups — exactly one
#: is non-empty per match (group 1 dquote, 2 squote, 3 unquoted);
#: RE2-compatible (no lookaround), the same string runs in DuckDB.
HREF_RE = (
    r"(?is)<a[ \t\r\n\f](?:[^>]*?[ \t\r\n\f\"'])?href[ \t\r\n\f]*=[ \t\r\n\f]*"
    r"(?:\"([^\"]*)\"|'([^']*)'|([^ \t\r\n\f>\"'][^ \t\r\n\f>]*))"
)


def _decoded_html(pages: DataFrame, html_col: str):
    html = F.col(html_col)
    return (
        F.decode(html, "UTF-8")
        if dict(pages.dtypes)[html_col] == "binary"
        else html
    )


def raw_hrefs(decoded) -> "F.Column":
    """Array of raw href attribute values in document order: three
    group-extractions over ONE pattern, positionally zipped, the one
    non-empty alternative picked per match.  An explicitly empty
    ``href=""`` is indistinguishable from the unmatched-group '' and
    is dropped by callers (an empty href is a self-reference — link
    noise, not an edge)."""
    g1 = F.regexp_extract_all(decoded, F.lit(HREF_RE), F.lit(1))
    g2 = F.regexp_extract_all(decoded, F.lit(HREF_RE), F.lit(2))
    g3 = F.regexp_extract_all(decoded, F.lit(HREF_RE), F.lit(3))
    z = F.arrays_zip(g1.alias("d"), g2.alias("s"), g3.alias("u"))
    return F.transform(
        z,
        lambda m: F.when(m["d"] != "", m["d"])
        .when(m["s"] != "", m["s"])
        .otherwise(m["u"]),
    )


def extract_links(pages: DataFrame, html_col: str = "html",
                  url_col: str = "url") -> DataFrame:
    """(src url, dst link) edge list from the raw html byte column —
    scan-level: one three-group regex pass (:func:`raw_hrefs`),
    explode, entity-decode + whitespace-trim each value
    (ops/urlresolve.href_value), RESOLVE relative references against
    the page url (ops/urlresolve.resolve_url — urljoin semantics, so
    ``href="../x"`` and ``href='//cdn.example/y'`` become real
    edges), and keep http(s) results only.  Binary ``html`` is UTF-8
    decoded (the pages-table contract, BASELINE.json input_hint).
    Rows with no links drop out."""
    from sagan_spark.ops.urlresolve import href_value, resolve_url

    refs = (
        pages.select(
            F.col(url_col).alias("src_url"),
            F.explode(raw_hrefs(_decoded_html(pages, html_col))).alias(
                "_href"
            ),
        )
        .select("src_url", href_value(F.col("_href")).alias("_ref"))
        # empty href = self-reference, '#…' = same-page navigation —
        # neither is an edge
        .where((F.col("_ref") != "") & ~F.col("_ref").startswith("#"))
    )
    return refs.select(
        "src_url",
        resolve_url(F.col("src_url"), F.col("_ref")).alias("dst_url"),
    ).where(F.col("dst_url").rlike(r"^https?://"))


def domain_edges(links: DataFrame, src_col: str = "src_url",
                 dst_col: str = "dst_url") -> DataFrame:
    """Collapse a url-level edge list to registered-domain granularity
    (drops intra-domain self-loops): the input to :func:`pagerank`."""
    from sagan_spark.ops.urltools import registered_domain, url_host

    e = links.select(
        registered_domain(url_host(F.col(src_col))).alias("src"),
        registered_domain(url_host(F.col(dst_col))).alias("dst"),
    )
    return e.where(F.col("src") != F.col("dst"))


def _edges_and_nodes(edges: DataFrame, src_col: str, dst_col: str,
                     op: str) -> tuple[DataFrame, DataFrame]:
    """The edge list as (_sg_src, _sg_dst) and its distinct node set,
    both materialized: the op reads the edges more than once, and their
    producer (link extraction, the PSL domain ladder) is expensive."""
    e = materialize(
        edges.select(F.col(src_col).alias("_sg_src"), F.col(dst_col).alias("_sg_dst")),
        f"{op} edges",
    )
    nodes = materialize(
        e.select(F.col("_sg_src").alias("node"))
        .union(e.select(F.col("_sg_dst").alias("node")))
        .distinct(),
        f"{op} nodes",
    )
    return e, nodes


def pagerank(edges: DataFrame, iterations: int = 5,
             damping_milli: int = 850, scale: int = 1_000_000,
             src_col: str = "src", dst_col: str = "dst",
             init_ranks: DataFrame | None = None) -> DataFrame:
    """Deterministic integer PageRank: returns (node, rank) with
    ``rank`` in micro-units of ``scale`` (un-normalized — every node
    starts at ``scale``; divide by node count for the probability
    form).  All arithmetic is 64-bit integer (see module docstring),
    so results are exact and order-independent.

    ``init_ranks`` (optional, a (node, rank) frame) WARM-STARTS the
    iteration — the resume-from-checkpoint contract of the north
    star: because every step is exact integer arithmetic,
    ``pagerank(e, k, init_ranks=pagerank(e, j))`` is BIT-IDENTICAL to
    ``pagerank(e, j + k)`` on any cluster size — an interrupted
    long-running ranking job persists its rank table and continues,
    no drift (pinned by the ``domain_pagerank_resumed`` gate, which
    replays the same cold-run oracle).  Nodes missing from
    ``init_ranks`` re-enter at ``scale``, matching the cold start."""
    if not 0 <= damping_milli <= 1000:
        raise ValueError(f"damping_milli must be in [0,1000], got {damping_milli}")
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0, got {iterations}")
    ed, nodes = _edges_and_nodes(edges, src_col, dst_col, "pagerank")
    outdeg = ed.groupBy(F.col("_sg_src").alias("node")).agg(
        F.count(F.lit(1)).alias("_sg_outdeg")
    )
    # outdegree rides along with every edge from the start: the
    # per-iteration loop joins ranks only
    e = materialize(
        ed.join(outdeg.withColumnRenamed("node", "_sg_src"), "_sg_src"),
        "pagerank edges+outdeg",
    )
    release(ed)
    base = (1000 - damping_milli) * scale // 1000
    if init_ranks is None:
        ranks = nodes.select("node", F.lit(scale).cast("long").alias("rank"))
    else:
        ranks = nodes.join(
            init_ranks.select("node", F.col("rank").cast("long").alias("_sg_r0")),
            "node",
            "left",
        ).select(
            "node",
            F.coalesce(F.col("_sg_r0"), F.lit(scale).cast("long")).alias("rank"),
        )
    for i in range(iterations):
        contribs = (
            e.join(ranks.withColumnRenamed("node", "_sg_src"), "_sg_src")
            .select(
                F.col("_sg_dst").alias("node"),
                F.expr("rank div _sg_outdeg").alias("_sg_c"),
            )
            .groupBy("node")
            .agg(F.sum("_sg_c").alias("_sg_s"))
        )
        prev, ranks = ranks, nodes.join(contribs, "node", "left").select(
            "node",
            (
                F.lit(base).cast("long")
                + F.expr(f"({damping_milli} * coalesce(_sg_s, 0L)) div 1000")
            ).alias("rank"),
        )
        ranks = materialize(ranks, "pagerank ranks")
        if i:
            release(prev)
    release(e)
    if iterations:  # without an iteration the returned ranks read `nodes`
        release(nodes)
    return ranks


def hits(edges: DataFrame, iterations: int = 3, scale: int = 1_000_000,
         src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Deterministic integer HITS (Kleinberg 1999): returns
    (node, hub, auth) with both scores in units of ``scale``.

    The float algorithm L2-normalizes each half-step; no two engines
    sum the squares identically, so this implementation normalizes by
    the MAXIMUM instead (L-infinity): after each raw sum the scores
    are rescaled ``raw * scale div max(raw)`` — max and sum of 64-bit
    integers are exact in any aggregation order, so the result is
    bit-identical across partitionings and cluster sizes (the same
    contract as :func:`pagerank`, replayed by the DuckDB oracle as
    unrolled CTEs with scalar-subquery maxima).  The L-inf-normalized
    iteration converges to the same principal eigenvectors, just
    scaled so the top hub / top authority sit at exactly ``scale``.

    Overflow bound: a raw sum is at most ``n_edges * scale`` — with
    the default micro-unit scale, safe to ~9 * 10^12 edges; lower
    ``scale`` for denser graphs.

    Scale shape (100 TB posture): per iteration the authority step is
    one join (hubs on src) + one partial-aggregating groupBy(dst) and
    the hub step mirrors it on the other key — four shuffles per
    iteration on unbucketed input (bucket the edge list by src to
    halve that).  The per-step maximum is a global scalar aggregate
    whose 1-row result is broadcast back — no driver round-trip in
    the plan beyond the scalar itself.  Hot authorities (every page
    links to the same domain) partial-aggregate map-side.  Duplicate
    (src,dst) pairs act as edge weights, as in :func:`pagerank`;
    ``materialize`` per iteration cuts lineage.
    """
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0, got {iterations}")
    e, nodes = _edges_and_nodes(edges, src_col, dst_col, "hits")

    def _rescale(raw: DataFrame, col: str) -> DataFrame:
        # raw * scale div max(raw): the 1-row max is broadcast, never
        # collected; greatest(1) guards the all-zero edgeless corner
        mx = raw.agg(F.greatest(F.max(col), F.lit(1).cast("long")).alias("_sg_mx"))
        out = raw.crossJoin(F.broadcast(mx)).select(
            "node", F.expr(f"({col} * {scale}L) div _sg_mx").alias(col)
        )
        return materialize(out, f"hits {col}")

    hubs = nodes.select("node", F.lit(scale).cast("long").alias("hub"))
    auths = nodes.select("node", F.lit(0).cast("long").alias("auth"))
    for i in range(iterations):
        a_raw = (
            e.join(hubs.withColumnRenamed("node", "_sg_src"), "_sg_src")
            .groupBy(F.col("_sg_dst").alias("node"))
            .agg(F.sum("hub").alias("_sg_a"))
        )
        prev_auths, auths = auths, _rescale(
            nodes.join(a_raw, "node", "left").select(
                "node", F.coalesce(F.col("_sg_a"), F.lit(0).cast("long")).alias("auth")
            ),
            "auth",
        )
        h_raw = (
            e.join(auths.withColumnRenamed("node", "_sg_dst"), "_sg_dst")
            .groupBy(F.col("_sg_src").alias("node"))
            .agg(F.sum("auth").alias("_sg_h"))
        )
        prev_hubs, hubs = hubs, _rescale(
            nodes.join(h_raw, "node", "left").select(
                "node", F.coalesce(F.col("_sg_h"), F.lit(0).cast("long")).alias("hub")
            ),
            "hub",
        )
        if i:
            release(prev_auths)
            release(prev_hubs)
    release(e)
    if iterations:  # without an iteration the returned scores read `nodes`
        release(nodes)
    return hubs.join(auths, "node").select("node", "hub", "auth")


def frontier_schedule(frontier: DataFrame, delays: DataFrame,
                      default_delay_sec: int = 1) -> DataFrame:
    """Politeness-scheduled fetch plan: assign each frontier URL a
    per-domain fetch offset — rank r fetches at
    ``(r - 1) · crawl_delay`` seconds after the domain's window opens,
    so a domain is hit at most once per declared ``Crawl-delay``
    (ops/robotstxt.crawl_delays; ``default_delay_sec`` when the domain
    declares none).  This closes the crawl loop operationally:
    robots rules say WHAT may be fetched, sitemaps/frontier say what
    SHOULD be, the schedule says WHEN.

    Pure composition: one join on the domain key (delays is
    domain-count sized; AQE-splittable) + scan-level integer
    arithmetic.  Returns the frontier rows + ``delay_sec`` +
    ``fetch_offset_sec``."""
    if default_delay_sec < 0:
        raise ValueError(
            f"default_delay_sec must be >= 0, got {default_delay_sec}"
        )
    d = delays.select("domain", "crawl_delay_sec")
    out = frontier.join(d, "domain", "left").withColumn(
        "delay_sec",
        F.coalesce(
            F.col("crawl_delay_sec"), F.lit(int(default_delay_sec)).cast("long")
        ),
    ).drop("crawl_delay_sec")
    return out.withColumn(
        "fetch_offset_sec", (F.col("rank") - 1) * F.col("delay_sec")
    )


def triangle_stats(edges: DataFrame, src_col: str = "src",
                   dst_col: str = "dst") -> DataFrame:
    """Per-node triangle count + integer clustering coefficient over
    the UNDIRECTED simple graph induced by an edge list — the local
    link-density signal (tight community vs link farm vs star spam)
    web-graph analyses read next to PageRank/HITS.

    Skew posture — the canonical "curse of the last reducer" fix
    (Suri & Vassilvitskii WWW'11): wedges are generated on edges
    ORIENTED from lower to higher (degree, node) rank, so a
    celebrity node (10^8-degree google.com) generates NO wedges from
    its high side — every node's oriented out-degree is O(sqrt(m)) —
    and the triangle join probes oriented edges only.  All joins are
    plain hash joins on node/pair keys (AQE-splittable); no window
    anywhere.

    Determinism: the undirected edge set is the DISTINCT
    lexicographically-normalized pair set (self-loops dropped,
    direction and multiplicity ignored); orientation compares
    ``struct(degree, node)`` — a total order, so the wedge set and
    every count are engine- and partitioning-independent.
    ``clustering_ppm = (2e6 · triangles) div (d·(d-1))`` in exact
    integer ppm (0 for degree < 2).

    Returns (node, degree, n_triangles, clustering_ppm).
    """
    a, b = F.col(src_col), F.col(dst_col)
    und = (
        edges.select(
            F.least(a, b).alias("_sg_a"), F.greatest(a, b).alias("_sg_b")
        )
        .filter(F.col("_sg_a") != F.col("_sg_b"))
        .filter(F.col("_sg_a").isNotNull() & F.col("_sg_b").isNotNull())
        .distinct()
    )
    deg = (
        und.select(F.col("_sg_a").alias("node"))
        .unionAll(und.select(F.col("_sg_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    ranked = (
        und.join(deg.withColumnRenamed("node", "_sg_a"), "_sg_a")
        .withColumnRenamed("degree", "_sg_da")
        .join(deg.withColumnRenamed("node", "_sg_b"), "_sg_b")
        .withColumnRenamed("degree", "_sg_db")
    )
    ra = F.struct(F.col("_sg_da").alias("d"), F.col("_sg_a").alias("n"))
    rb = F.struct(F.col("_sg_db").alias("d"), F.col("_sg_b").alias("n"))
    oriented = ranked.select(
        F.when(ra < rb, F.col("_sg_a")).otherwise(F.col("_sg_b")).alias("lo"),
        F.when(ra < rb, ra).otherwise(rb).alias("lo_r"),
        F.when(ra < rb, F.col("_sg_b")).otherwise(F.col("_sg_a")).alias("hi"),
        F.when(ra < rb, rb).otherwise(ra).alias("hi_r"),
    )
    w1 = oriented.select(
        F.col("lo").alias("_sg_p"),
        F.col("hi").alias("_sg_x"),
        F.col("hi_r").alias("_sg_xr"),
    )
    w2 = oriented.select(
        F.col("lo").alias("_sg_p"),
        F.col("hi").alias("_sg_y"),
        F.col("hi_r").alias("_sg_yr"),
    )
    wedges = w1.join(w2, "_sg_p").filter(F.col("_sg_xr") < F.col("_sg_yr"))
    closing = oriented.select(
        F.col("lo").alias("_sg_x"), F.col("hi").alias("_sg_y")
    )
    tris = wedges.join(closing, ["_sg_x", "_sg_y"]).select(
        "_sg_p", "_sg_x", "_sg_y"
    )
    per_node = (
        tris.select(F.col("_sg_p").alias("node"))
        .unionAll(tris.select(F.col("_sg_x").alias("node")))
        .unionAll(tris.select(F.col("_sg_y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .withColumn("n_triangles", F.coalesce("n_triangles", F.lit(0).cast("long")))
        .withColumn(
            "clustering_ppm",
            F.when(
                F.col("degree") >= 2,
                F.expr("(2000000 * n_triangles) div (degree * (degree - 1))"),
            ).otherwise(F.lit(0).cast("long")),
        )
    )


def link_reciprocity(edges: DataFrame, src_col: str = "src",
                     dst_col: str = "dst") -> DataFrame:
    """Per-node link reciprocity: of a node's DISTINCT out-neighbors,
    the ppm whose reverse edge exists — the mutual-linking signal
    (genuine communities reciprocate; link farms and spam rings point
    one way; Garlaschelli & Loffredo PRL 93, 268701 define the
    network-level version this is the per-node decomposition of).

    Multiplicity and self-loops are ignored (distinct normalized
    pairs); a node appears iff it has at least one out-neighbor.
    ``reciprocity_ppm = (10^6 * n_mutual) div n_out`` — exact integer
    arithmetic.  Shape: one distinct, one self-semi-join on the
    reversed pair set, two map-side-combining counts — all plain hash
    joins on (src, dst) pairs, AQE-splittable, no window.
    """
    d = (
        edges.select(F.col(src_col).alias("_sg_a"), F.col(dst_col).alias("_sg_b"))
        .filter(
            F.col("_sg_a").isNotNull()
            & F.col("_sg_b").isNotNull()
            & (F.col("_sg_a") != F.col("_sg_b"))
        )
        .distinct()
    )
    rev = d.select(
        F.col("_sg_b").alias("_sg_a"), F.col("_sg_a").alias("_sg_b")
    )
    mutual = d.join(rev, ["_sg_a", "_sg_b"], "left_semi")
    n_out = d.groupBy(F.col("_sg_a").alias("node")).agg(
        F.count(F.lit(1)).alias("n_out")
    )
    n_mut = mutual.groupBy(F.col("_sg_a").alias("node")).agg(
        F.count(F.lit(1)).alias("n_mutual")
    )
    return (
        n_out.join(n_mut, "node", "left")
        .withColumn("n_mutual", F.coalesce("n_mutual", F.lit(0).cast("long")))
        .withColumn(
            "reciprocity_ppm", F.expr("(1000000 * n_mutual) div n_out")
        )
    )


def frontier_candidates(pages: DataFrame, k: int = 10,
                        html_col: str = "html",
                        url_col: str = "url") -> DataFrame:
    """Crawl-frontier mining: the top-``k`` DISCOVERED-but-uncrawled
    URLs per registered domain, ranked by citation count — the
    "what to fetch next" list a crawl scheduler reads from each
    snapshot (Cho et al. WWW'98 frontier ordering by backlink count;
    Common Crawl seeds successive snapshots exactly this way).  The
    reference engine's analog is its dynamic-rule feedback loop
    (src/processors/dynamic-rules.c): output of one pass becomes input
    configuration of the next.

    Pipeline: href extraction (:func:`extract_links`) → canonicalize
    targets (ops/urltools.url_canonicalize) → citation count → anti-
    join against the canonicalized crawled set → per-domain top-k.
    Returns (domain, url, n_refs, rank), rank 1-based by
    (n_refs desc, url asc) — a total order, so the cut is
    deterministic.

    Scale shape (100 TB posture):
    - citation counts are ONE map-side-combining groupBy on the
      canonical url (a url cited from 10^9 pages collapses per task
      before the exchange); duplicate links from one page vote twice,
      the :func:`pagerank` edge-weight convention.
    - the crawled-set anti-join keys on the same canonical url —
      shuffle hash join, AQE-splittable on hot keys; on a bucketed
      Iceberg layout both sides co-locate and the exchange drops out.
    - the per-domain cut is the shared salted two-stage top-k
      (ops/topk.topk_per_group): a domain with 10^8 frontier
      candidates never funnels one sorting task.
    """
    from sagan_spark.ops.topk import topk_per_group
    from sagan_spark.ops.urltools import (
        registered_domain,
        url_canonicalize,
        url_host,
    )

    edges = extract_links(pages, html_col=html_col, url_col=url_col)
    counts = (
        edges.select(url_canonicalize(F.col("dst_url")).alias("url"))
        .groupBy("url")
        .agg(F.count(F.lit(1)).alias("n_refs"))
    )
    crawled = pages.select(url_canonicalize(F.col(url_col)).alias("url"))
    frontier = counts.join(crawled, "url", "left_anti").withColumn(
        "domain", registered_domain(url_host(F.col("url")))
    )
    return topk_per_group(
        frontier,
        ["domain"],
        [F.desc("n_refs"), F.asc("url")],
        k,
        salt_on="url",
    ).select("domain", "url", "n_refs", "rank")
