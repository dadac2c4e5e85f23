"""Deduplication operators for large-scale training-data pipelines.

All operators are pure DataFrame compositions (JVM-side, codegen'd)
except SimHash, which is an Arrow-batched pandas UDF (bit-level math).

Scale design notes (100 TB posture):
- exact dedup: single hash-shuffle on a 128-bit digest, partial
  aggregation map-side; never materializes text twice.
- MinHash LSH: shingle explode is narrow (flatMap-like); the only wide
  ops are the per-(doc, band) min-agg and the band-bucket self-join.
  Band signatures are tiny (doc_id + 2 strings), so the join input is
  orders of magnitude smaller than the corpus.
- candidate pairs use doc_id < doc_id ordering to halve the join and
  avoid self-pairs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sagan_spark.session import materialize, release


def exact_dup_groups(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate clusters by full-content digest (hash-groupBy).

    Returns (content_hash, dup_count, min_doc_id) for groups with >1 doc.
    """
    return (
        docs.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min(id_col).alias("keeper_id"),
        )
        .filter(F.col("dup_count") > 1)
    )


def normalize_for_dedup(col):
    """CCNet-style dedup normalization (Wenzek arXiv:1911.00359 §3.1;
    Lee arXiv:2107.06499 normalizes similarly before hashing):
    lowercase, every digit -> 0, strip everything that is not a
    letter / number / whitespace, collapse whitespace runs, trim.
    Pure codegen — four regexp_replace passes whose patterns are
    valid in BOTH Java regex and RE2 (`\\p{L}`/`\\p{N}` unicode
    categories, ASCII `\\s` in each), so the DuckDB oracle runs the
    byte-identical expression chain with the 'g' flag.  Case-fold
    corner cases that differ across engines (dotted-I, sharp-s full
    folds) are out of the contract envelope — web-corpus text is
    overwhelmingly inside it."""
    x = F.lower(col)
    x = F.regexp_replace(x, r"\p{N}", "0")
    x = F.regexp_replace(x, r"[^\p{L}\p{N}\s]", "")
    x = F.regexp_replace(x, r"\s+", " ")
    return F.trim(x)


def normalized_dup_groups(docs: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """:func:`exact_dup_groups` over the dedup-normalized text: docs
    differing only in case, digits, punctuation, or whitespace layout
    collapse into one group.  Same single-digest-shuffle plan — the
    normalization runs map-side inside the scan projection."""
    return (
        docs.select(
            F.md5(normalize_for_dedup(F.col(text_col))).alias("content_hash"),
            F.col(id_col),
        )
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min(id_col).alias("keeper_id"),
        )
        .filter(F.col("dup_count") > 1)
    )


def novel_docs(new_docs: DataFrame, seen: DataFrame,
               text_col: str = "text", id_col: str = "doc_id",
               digest_col: str = "content_hash") -> DataFrame:
    """Cross-snapshot incremental dedup: the rows of ``new_docs`` that
    survive dedup against an existing corpus digest table AND against
    the batch itself.

    Web corpora are built snapshot by snapshot (Common-Crawl style);
    re-deduplicating the whole corpus per snapshot is O(corpus) — the
    production shape is an append-only digest table carried between
    runs and an anti-join of each new batch against it.  ``seen`` is a
    1-column DataFrame of previously-admitted digests (same md5-of-text
    digest as :func:`exact_dup_groups`, so the two ops share one seen
    set).  Within the batch, the min-``id_col`` row per digest wins —
    a map-side-combining aggregation, never a window, so a digest
    repeated 10^9 times in one batch combines to a single pair before
    the shuffle.

    Returns (doc_id, content_hash): the rows to admit; union the
    content_hash column onto ``seen`` for the next snapshot.

    Scale notes: one digest shuffle for the in-batch winner agg; the
    seen-side anti-join shuffles on the same digest key (co-partitioned
    with the agg output, so AQE reuses the exchange; a bucketed/Iceberg
    seen table keyed on the digest makes the join storage-partitioned).
    """
    d = new_docs.select(
        F.md5(F.col(text_col)).alias(digest_col), F.col(id_col)
    )
    first = d.groupBy(digest_col).agg(
        F.min(id_col).alias(id_col)
    )
    return first.join(
        seen.select(F.col(seen.columns[0]).alias(digest_col)),
        digest_col,
        "left_anti",
    ).select(id_col, digest_col)


def _bloom_positions(digest, m_bits: int, k: int) -> list:
    """The k deterministic Bloom probe positions of a digest: 60-bit
    md5 of ``'bloom{i}|' + digest`` mod m_bits — the same
    ('0x'||substr(md5(..),1,15))::BIGINT idiom every hashed op here
    uses, so the oracle replays it exactly."""
    return [
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"bloom{i}|"), digest)), 1, 15),
                16,
                10,
            ).cast("long")
            % m_bits
        )
        for i in range(k)
    ]


def bloom_bits(seen: DataFrame, m_bits: int = 1 << 20, k: int = 3) -> DataFrame:
    """The 1-bits of a Bloom filter over a seen-digest table, AS A
    RELATION: one ``bit: long`` row per distinct set position
    (<= m_bits rows, typically far fewer — it is the bitmap in
    relational form, so Catalyst can broadcast it like any other small
    table instead of shipping an opaque blob).  Deterministic by
    construction (md5-derived positions, no seeds, no RNG) — the same
    filter rebuilds bit-identically on any cluster, and a snapshot
    pipeline persists it next to the seen table and unions new bits
    per round (set-union == relational union distinct)."""
    digest = F.col(seen.columns[0])
    return (
        seen.select(F.explode(F.array(*_bloom_positions(digest, m_bits, k))).alias("bit"))
        .distinct()
    )


def novel_docs_bloom(new_docs: DataFrame, seen: DataFrame,
                     m_bits: int = 1 << 20, k: int = 3,
                     bits: DataFrame | None = None,
                     text_col: str = "text", id_col: str = "doc_id",
                     digest_col: str = "content_hash") -> DataFrame:
    """:func:`novel_docs` with a Bloom pre-filter — EXACTLY the same
    rows out (a Bloom filter built from ``seen`` itself has no false
    negatives), but the expensive digest-vs-digest anti-join only sees
    the batch rows whose k probe positions are ALL set.

    Why this matters at 100 TB: the seen table is O(corpus) — 10^10+
    digests after a year of snapshots — and ``novel_docs`` shuffles the
    batch against it every round.  The Bloom 1-bit relation is bounded
    by m_bits REGARDLESS of corpus size (2^27 bits ~= a few-hundred-MB
    relation worst case, broadcastable or cheap to shuffle), so the
    mostly-novel common case (a fresh crawl snapshot) resolves almost
    entirely map-side: definitely-novel digests skip the seen join,
    only the maybe-seen sliver (true dups + the false-positive rate
    ~(1-e^{-kn/m})^k) pays for it.  ``bits`` accepts the persisted
    1-bit relation from the previous round; by default it is built
    from ``seen`` in-query.

    Mechanics: per-digest k positions (codegen md5 math), ONE distinct
    probe join against the bit relation, all-k-present => candidate;
    candidates anti-join ``seen`` as before; the definite-novel rest
    unions straight through.  Probe-position collisions (pos_i ==
    pos_j) are handled by counting DISTINCT positions per digest, not
    assuming k."""
    if bits is None:
        bits = bloom_bits(seen, m_bits=m_bits, k=k)
    d = new_docs.select(F.md5(F.col(text_col)).alias(digest_col), F.col(id_col))
    first = d.groupBy(digest_col).agg(F.min(id_col).alias(id_col))
    probe = first.select(
        digest_col,
        F.explode(F.array(*_bloom_positions(F.col(digest_col), m_bits, k))).alias(
            "bit"
        ),
    ).distinct()
    counts = probe.groupBy(digest_col).agg(F.count(F.lit(1)).alias("_n_pos"))
    hits = (
        probe.join(bits, "bit", "left_semi")
        .groupBy(digest_col)
        .agg(F.count(F.lit(1)).alias("_n_hit"))
    )
    maybe = (
        counts.join(hits, digest_col, "left")
        .filter(F.col("_n_hit") == F.col("_n_pos"))
        .select(digest_col)
    )
    flagged = first.join(
        maybe.withColumn("_maybe", F.lit(True)), digest_col, "left"
    )
    definite_novel = flagged.filter(F.col("_maybe").isNull()).select(
        id_col, digest_col
    )
    candidates = flagged.filter(F.col("_maybe").isNotNull()).select(
        digest_col, id_col
    )
    survivors = candidates.join(
        seen.select(F.col(seen.columns[0]).alias(digest_col)),
        digest_col,
        "left_anti",
    ).select(id_col, digest_col)
    return definite_novel.unionByName(survivors)


def shingle_df(docs: DataFrame, k: int = 8, text_col: str = "text",
               id_col: str = "doc_id", distinct: bool = True) -> DataFrame:
    """Character k-gram shingles per document.

    ``distinct=False`` skips the dedup shuffle — correct whenever the
    consumer is duplicate-insensitive (min-aggregates: min over the
    multiset equals min over the set), which saves a corpus-sized
    exchange in the MinHash path."""
    seq = F.sequence(F.lit(1), F.greatest(F.length(F.col(text_col)) - (k - 1), F.lit(1)))
    sh = F.transform(seq, lambda i: F.col(text_col).substr(i, F.lit(k)))
    out = (
        docs.select(F.col(id_col), F.explode(sh).alias("shingle"))
        .filter(F.length("shingle") == k)
    )
    return out.distinct() if distinct else out


def minhash_band_signatures(shingles: DataFrame, n_bands: int = 4,
                            id_col: str = "doc_id") -> DataFrame:
    """(doc_id, band, sig): per band, the integer min of the first 60
    bits of md5(band_seed || shingle) — a valid min-hash family (md5
    with a per-band seed is a uniform ordering of the shingle
    universe; truncating to a 60-bit prefix preserves that ordering up
    to astronomically-unlikely prefix ties, which merely pick a
    different-but-still-uniform min).

    Signatures are BIGINT, not the md5 hex string: the band self-join
    then shuffles 8-byte longs instead of 32-char strings (~5x
    narrower exchange at corpus scale) and the groupBy agg state is 4
    longs per doc.  The identical construction stays ANSI-SQL
    expressible for the DuckDB oracle as
    ``('0x' || substr(md5('b0|' || shingle), 1, 15))::BIGINT``.

    The per-shingle hot loop is md5 + min ONLY: hex→int (``conv``) and
    the 15-char prefix truncation both happen ONCE per (doc, band),
    AFTER the min-agg — on fixed-width lowercase hex, lexicographic
    min == numeric min, so ``conv(substr(min(hex))) ==
    min(conv(substr(hex)))``.  Running ``conv`` per shingle×band made
    the whole op 1.38× slower, and even the per-shingle ``substring``
    allocation cost another 1.11× (interleaved A/B pair-ratio medians,
    sf0.1; tools/scaling_results.json).  The agg state is 4 hex
    strings per doc (map-side combined — negligible vs the shingle
    stream); the self-join exchange stays 8-byte longs.
    """
    bands = [
        F.min(F.md5(F.concat(F.lit(f"b{b}|"), F.col("shingle")))).alias(f"sig{b}")
        for b in range(n_bands)
    ]
    wide = shingles.groupBy(id_col).agg(*bands)
    stacked = wide.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.conv(F.substring(F.col(f"sig{b}"), 1, 15), 16, 10)
                    .cast("long")
                    .alias("sig"),
                )
                for b in range(n_bands)
            ])
        ).alias("bs"),
    ).select(id_col, F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    return stacked


def minhash_signatures(docs: DataFrame, k: int = 8, n_bands: int = 4,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """(doc_id, band, sig) minhash-LSH signature table for a corpus —
    the artifact a snapshot pipeline PERSISTS between rounds (union
    each round's table; n_bands longs per doc, orders of magnitude
    smaller than the text).  Composition of the shared shingle frame
    (distinct skipped — the min-agg is duplicate-insensitive) and
    :func:`minhash_band_signatures`."""
    return minhash_band_signatures(
        shingle_df(docs, k, text_col, id_col, distinct=False),
        n_bands, id_col,
    )


def novel_docs_minhash(new_docs: DataFrame, seen_sigs: DataFrame,
                       k: int = 8, n_bands: int = 4,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Snapshot-incremental NEAR-dup screen: keep only new documents
    that do not LSH-collide (share >= 1 band signature) with the
    carried seen-corpus signature table — the near-dup completion of
    the exact-digest :func:`novel_docs` / :func:`novel_docs_bloom`
    family.  A crawl's next snapshot runs this against last round's
    persisted :func:`minhash_signatures` output instead of
    re-pairing the whole history.

    One-sided errors mirror LSH itself: a band collision is only a
    CANDIDATE signal, so this screen over-drops near-miss collisions
    at the usual LSH false-positive rate (tune k/n_bands with
    :func:`minhash_calibration`); docs shorter than k chars carry no
    signatures and always pass.

    Scale shape (100 TB posture): the batch side is O(new batch), the
    history side O(seen corpus) but 8-byte rows keyed (band, sig) —
    the join is AQE-splittable on hot signatures (boilerplate bands),
    and the id-keyed anti-join back is co-partitioned with the
    batch."""
    sigs = minhash_signatures(new_docs, k, n_bands, text_col, id_col)
    # no distinct() anywhere: semi- and anti-joins are insensitive to
    # right-side duplicates, so deduplicating (band, sig) or the hit
    # ids would only add corpus-sized shuffles
    hits = sigs.join(
        seen_sigs.select("band", "sig"), ["band", "sig"], "left_semi"
    ).select(id_col)
    return new_docs.join(hits, id_col, "left_anti")


def minhash_lsh_pairs(docs: DataFrame, k: int = 8, n_bands: int = 4,
                      text_col: str = "text", id_col: str = "doc_id",
                      shingles: DataFrame | None = None) -> DataFrame:
    """Candidate near-duplicate pairs: docs sharing any band signature.

    Returns (doc_a, doc_b, n_shared_bands), doc_a < doc_b.

    ``shingles``: pre-computed shingle frame to reuse (the caller may
    already have shingled the corpus — don't shingle twice).  The
    signature min-agg is duplicate-insensitive, so the default path
    skips the distinct() shuffle entirely: explode -> partial min
    map-side -> one narrow-ish agg exchange.
    """
    sh = shingles if shingles is not None else shingle_df(
        docs, k, text_col, id_col, distinct=False
    )
    sig = minhash_band_signatures(sh, n_bands, id_col)
    a = sig.select(F.col(id_col).alias("doc_a"), "band", "sig")
    b = sig.select(F.col(id_col).alias("doc_b"), "band", "sig")
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def edit_verify_pairs(docs: DataFrame, k: int = 8, n_bands: int = 4,
                      prefix_chars: int = 512,
                      min_sim_ppm: int = 800_000,
                      min_shared_bands: int = 1,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Edit-distance verification of LSH candidate pairs: normalized
    Levenshtein similarity over the first ``prefix_chars`` characters
    — the byte-level second opinion next to Jaccard (shingle multiset)
    and containment (one-sided overlap): transpositions, small edits
    and truncations that shred shingle sets barely move edit distance
    (Lee et al. arXiv:2107.06499 compare exactly these verify
    families).

    ``sim_ppm = 10^6 * (maxlen - dist) div maxlen`` over the prefixes
    (exact integers; both engines implement unit-cost Levenshtein
    identically); ``keep = sim_ppm >= min_sim_ppm``.  Identical empty
    prefixes verify at 10^6 by convention (maxlen floor of 1).

    Scale shape: candidates come from the banded LSH join (never
    all-pairs); ONE join back to the docs table fetches both prefixes
    (AQE-splittable; the prefix cap bounds the O(len^2) Levenshtein
    kernel per pair at 512^2 cell visits JVM-side — raise it
    knowingly).  ``min_shared_bands`` pre-gates the candidate set
    (>= 2 cuts the single-band-collision tail, the dominant pair mass
    on boilerplate-heavy corpora — pay the quadratic kernel only for
    likely duplicates).  No window, no Python.

    Returns (doc_a, doc_b, n_shared_bands, sim_ppm, keep).
    """
    if prefix_chars < 1:
        raise ValueError(f"prefix_chars must be >= 1, got {prefix_chars}")
    pairs = minhash_lsh_pairs(docs, k, n_bands, text_col, id_col).filter(
        F.col("n_shared_bands") >= int(min_shared_bands)
    )
    pref = docs.select(
        F.col(id_col),
        F.substring(F.coalesce(F.col(text_col), F.lit("")), 1, prefix_chars)
        .alias("_sg_t"),
    )
    j = (
        pairs.join(
            pref.select(
                F.col(id_col).alias("doc_a"), F.col("_sg_t").alias("_sg_ta")
            ),
            "doc_a",
        )
        .join(
            pref.select(
                F.col(id_col).alias("doc_b"), F.col("_sg_t").alias("_sg_tb")
            ),
            "doc_b",
        )
    )
    maxlen = F.greatest(
        F.length("_sg_ta"), F.length("_sg_tb"), F.lit(1)
    ).cast("long")
    dist = F.levenshtein("_sg_ta", "_sg_tb").cast("long")
    out = j.select(
        "doc_a",
        "doc_b",
        "n_shared_bands",
        maxlen.alias("_sg_m"),
        dist.alias("_sg_d"),
    ).select(
        "doc_a",
        "doc_b",
        "n_shared_bands",
        F.expr("(1000000 * (_sg_m - _sg_d)) div _sg_m").alias("sim_ppm"),
    )
    return out.withColumn("keep", F.col("sim_ppm") >= F.lit(int(min_sim_ppm)))


def _candidate_overlap_counts(docs: DataFrame, k: int, n_bands: int,
                              text_col: str, id_col: str) -> DataFrame:
    """(doc_a, doc_b, n_shared_bands, n_inter, n_a, n_b) over LSH
    candidate pairs — the shared exact-overlap core of
    :func:`ngram_jaccard_pairs`, :func:`containment_pairs`, and
    :func:`minhash_calibration` (scale path: the O(n^2) work is
    bounded by bucket collisions, not corpus size).

    The corpus is shingled ONCE: the distinct shingle frame feeds the
    LSH candidate generation, the per-doc sizes, and the intersection
    join.  The result is materialized so the corpus-sized shingle cache
    is unpersisted before returning."""
    # persist: signatures, sizes and the intersection each read it
    sh = shingle_df(docs, k, text_col, id_col, distinct=True).persist()
    pairs = minhash_lsh_pairs(docs, k, n_bands, text_col, id_col, shingles=sh)
    # only docs that appear in a candidate pair matter downstream: on a
    # realistic corpus candidates are a sliver of the corpus, so the
    # semi-join cuts the intersection-join input by orders of magnitude
    cand_docs = (
        pairs.select(F.col("doc_a").alias(id_col))
        .unionByName(pairs.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    sh_cand = sh.join(cand_docs, id_col, "leftsemi")
    sizes = sh_cand.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    # intersection size via join on shingle, restricted to candidate pairs
    sa = sh_cand.select(F.col(id_col).alias("doc_a"), F.col("shingle"))
    sb = sh_cand.select(F.col(id_col).alias("doc_b"), F.col("shingle"))
    # n_shared_bands rides in the grouping key (functionally dependent
    # on the pair — same group cardinality, no extra join)
    inter_counts = (
        pairs.join(sa, "doc_a").join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b", "n_shared_bands")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n").alias("n_b"))
    out = materialize(
        inter_counts.join(na, "doc_a").join(nb, "doc_b"), "overlap counts"
    )
    sh.unpersist()
    return out


def ngram_jaccard_pairs(docs: DataFrame, k: int = 8, n_bands: int = 4,
                        threshold: float = 0.5, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Exact n-gram Jaccard on LSH candidate pairs only.  Returns
    (doc_a, doc_b, jaccard) above threshold."""
    counts = _candidate_overlap_counts(docs, k, n_bands, text_col, id_col)
    return (
        counts.withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_calibration(docs: DataFrame, k: int = 8, n_bands: int = 4,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Measure-don't-guess for the LSH knobs: the joint distribution
    of band agreement vs EXACT similarity over candidate pairs —
    (n_shared_bands, jaccard_decile, n_pairs).

    Reading it: rows with high band agreement but low jaccard deciles
    are the false-positive cost (wasted exact-verify work — lengthen
    shingles or require more shared bands); a pile-up at decile 9-10
    with 1 shared band says the bands are redundant and fewer would
    do.  Recall beyond candidates is invisible by construction (pairs
    sharing NO band never materialize) — that side is tuned
    analytically from the (1-(1-s^r)^b) curve, this table calibrates
    the precision side with corpus-real data.

    ``jaccard_decile = (10·n_inter) div (n_a + n_b - n_inter)`` —
    64-bit integer division, exact in both engines (10 = identical
    jaccard 1.0; no float boundary).  Output is at most
    ``n_bands × 11`` rows; the rollup combines map-side."""
    counts = _candidate_overlap_counts(docs, k, n_bands, text_col, id_col)
    decile = F.expr("(10 * n_inter) div (n_a + n_b - n_inter)")
    return (
        counts.select("n_shared_bands", decile.alias("jaccard_decile"))
        .groupBy("n_shared_bands", "jaccard_decile")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def containment_pairs(docs: DataFrame, k: int = 8, n_bands: int = 4,
                      threshold: float = 0.8, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """One-sided shingle containment on LSH candidate pairs:
    ``containment(A in B) = |A ∩ B| / |A|`` — the asymmetric
    near-duplicate signal Jaccard misses.  A short document quoted
    wholesale inside a long one (syndicated article + boilerplate
    wrapper, quoted post + thread) has high containment in ONE
    direction but a small Jaccard (the union is dominated by the long
    side), so a Jaccard-thresholded dedup keeps both copies (Broder
    1997 §2 defines both resemblance and containment for exactly this
    reason).

    Returns (doc_a, doc_b, containment_a, containment_b) for candidate
    pairs where EITHER direction is >= ``threshold``; ``containment_a``
    is how much of doc_a's shingle set lies inside doc_b's.  Candidate
    recall comes from the same MinHash band scheme as the Jaccard path
    (a fully-contained SHORT doc can evade band collision when the
    long side's extra shingles steal every band minimum — the standard
    LSH-for-containment caveat; raise ``n_bands`` to tighten recall).
    Same scale shape as :func:`ngram_jaccard_pairs`: one shingle
    frame, candidate semi-join, exact counts only on collisions."""
    counts = _candidate_overlap_counts(docs, k, n_bands, text_col, id_col)
    ca = F.col("n_inter") / F.col("n_a")
    cb = F.col("n_inter") / F.col("n_b")
    return (
        counts.withColumn("containment_a", ca)
        .withColumn("containment_b", cb)
        .filter(
            (F.col("containment_a") >= threshold)
            | (F.col("containment_b") >= threshold)
        )
        .select("doc_a", "doc_b", "containment_a", "containment_b")
    )


SIMHASH_TYPE = T.LongType()

# gram-hash constants: FNV-1a style polynomial over codepoints with a
# splitmix64 finalizer — chosen because every step vectorizes to uint64
# numpy ops AND has an obvious pure-Python scalar twin (tests/oracle)
_FNV_PRIME = 0x100000001B3
_FNV_OFFSET = 0xCBF29CE484222325
_MIX1 = 0xBF58476D1CE4E5B9
_MIX2 = 0x94D049BB133111EB
_U64 = (1 << 64) - 1


def simhash_scalar(text: str, k: int = 4) -> int:
    """Pure-Python SimHash spec (the oracle the vectorized UDF must
    equal).  Bit j of the output is the majority vote of bit j across
    the gram-hashes of the doc's DISTINCT character k-grams."""
    if not text:
        return 0
    hashes = set()
    for i in range(max(len(text) - (k - 1), 1)):
        g = text[i : i + k]
        if len(g) < k and len(text) >= k:
            continue
        h = _FNV_OFFSET
        for ch in g:
            h = ((h ^ ord(ch)) * _FNV_PRIME) & _U64
        h ^= h >> 30
        h = (h * _MIX1) & _U64
        h ^= h >> 27
        h = (h * _MIX2) & _U64
        h ^= h >> 31
        hashes.add(h)
    n = len(hashes)
    v = 0
    for j in range(64):
        c = sum((h >> j) & 1 for h in hashes)
        if c * 2 >= n:
            v |= 1 << j
    return v - (1 << 64) if v >= 1 << 63 else v


def simhash_udf(k: int = 4):
    """64-bit SimHash over character k-gram hashes, fully numpy-vectorized
    per document (Arrow-batched): codepoints -> sliding windows ->
    polynomial hash -> splitmix finalizer -> bit-majority, no per-
    character Python.  Equals :func:`simhash_scalar` bit-for-bit
    (pinned by tests)."""
    import numpy as np

    def _doc(t: str) -> int:
        if not t:
            return 0
        cp = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
        if len(cp) < k:
            win = cp[None, :]  # single short gram (scalar spec: whole text)
        else:
            win = np.lib.stride_tricks.sliding_window_view(cp, k)
        with np.errstate(over="ignore"):
            h = np.full(len(win), _FNV_OFFSET, dtype=np.uint64)
            prime = np.uint64(_FNV_PRIME)
            for j in range(win.shape[1]):
                h = (h ^ win[:, j]) * prime
            h ^= h >> np.uint64(30)
            h *= np.uint64(_MIX1)
            h ^= h >> np.uint64(27)
            h *= np.uint64(_MIX2)
            h ^= h >> np.uint64(31)
        h = np.unique(h)  # distinct grams (dedup on 64-bit gram hash)
        n = len(h)
        # bit-majority: (n, 64) bit matrix column sums
        bits = (h[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)
        counts = bits.sum(axis=0)
        v = int(((counts * 2 >= n).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum())
        return v - (1 << 64) if v >= 1 << 63 else v

    @F.pandas_udf(SIMHASH_TYPE)
    def _simhash(texts: pd.Series) -> pd.Series:
        return pd.Series([_doc(t) for t in texts], dtype="int64")

    return _simhash


def simhash_near_dups(docs: DataFrame, k: int = 4, max_hamming: int = 3,
                      text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Near-dup pairs by SimHash hamming distance via the block trick:
    the 64-bit hash splits into ``max_hamming + 1`` equal-width blocks
    — any pair within ``max_hamming`` agrees on at least ONE block
    (pigeonhole), so the n² join becomes one equi-join per block with
    exact-hamming rerank.  A single-block variant silently missed every
    pair whose differing bits fell in the banded block."""
    sh = docs.select(
        F.col(id_col), simhash_udf(k)(F.col(text_col)).alias("simhash")
    ).persist()
    n_blocks = max_hamming + 1
    width = 64 // n_blocks
    mask = (1 << width) - 1
    out = None
    for blk in range(n_blocks):
        block_val = F.shiftrightunsigned("simhash", blk * width).bitwiseAND(
            F.lit(mask)
        )
        banded = sh.withColumn("block", block_val)
        a = banded.select(
            F.col(id_col).alias("doc_a"), F.col("simhash").alias("h_a"), "block"
        )
        b = banded.select(
            F.col(id_col).alias("doc_b"), F.col("simhash").alias("h_b"), "block"
        )
        p = a.join(b, "block").filter(F.col("doc_a") < F.col("doc_b")).select(
            "doc_a", "doc_b", "h_a", "h_b"
        )
        out = p if out is None else out.unionByName(p)
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    result = materialize(
        out.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .distinct(),  # a pair can collide in several blocks
        "simhash pairs",
    )
    sh.unpersist()
    return result


def embedding_lsh_dups(emb: DataFrame, threshold: float = 0.95,
                       n_planes: int = 8, n_tables: int = 4, dim: int = 64,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Embedding near-dup pairs — the 100 TB scale path.

    Random-hyperplane LSH buckets the corpus (n_tables independent
    bucketings); candidate pairs form only INSIDE a bucket, then exact
    cosine + threshold reranks.  The all-pairs product of
    :func:`embedding_cosine_dups` becomes a per-bucket product: with B
    buckets per table the join cost drops ~B× per table.  Recall is
    tunable (more tables / fewer planes = higher recall); the pure-
    Python twin in tests pins the exact candidate set.

    Returns (id_a, id_b, cosine), id_a < id_b, deduplicated across
    tables.
    """
    from sagan_spark.ops.similarity import _dot, _hyperplanes, _norm, lsh_bucket_expr

    n = emb.select(
        F.col(id_col), F.col(vec_col), _norm(F.col(vec_col)).alias("nrm")
    )
    cands = None
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, t)
        be = lsh_bucket_expr(F.col(vec_col), planes)
        bk = n.withColumn("bucket", be)
        a = bk.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"),
            F.col("nrm").alias("n_a"), "bucket",
        )
        b = bk.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"),
            F.col("nrm").alias("n_b"), "bucket",
        )
        pair = (
            a.join(b, "bucket")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "v_a", "v_b", "n_a", "n_b")
        )
        cands = pair if cands is None else cands.unionByName(pair)
    cands = cands.dropDuplicates(["id_a", "id_b"])
    dot = _dot(F.col("v_a"), F.col("v_b"))
    return (
        cands.withColumn("cosine", dot / (F.col("n_a") * F.col("n_b")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_cosine_dups(emb: DataFrame, threshold: float = 0.95,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Embedding near-dup pairs by cosine similarity.

    Brute-force all-pairs form — the small-corpus / oracle baseline.
    Use :func:`embedding_lsh_dups` at scale (bucketed candidates, no
    cross product).
    """
    norm = F.sqrt(F.aggregate(vec_col, F.lit(0.0), lambda a, x: a + x * x))
    n = emb.select(F.col(id_col), F.col(vec_col), norm.alias("nrm"))
    a = n.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"), F.col("nrm").alias("n_a"))
    b = n.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"), F.col("nrm").alias("n_b"))
    dot = F.aggregate(F.zip_with("v_a", "v_b", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", dot / (F.col("n_a") * F.col("n_b")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def semdedup(emb: DataFrame, threshold: float = 0.95, n_centroids: int = 16,
             sample_n: int = 256, iters: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             centroids: list[list[float]] | None = None) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540): semantic dedup by
    clustering embeddings and pruning within-cluster cosine duplicates.
    Returns the ids to DROP (one ``id_col`` column); anti-join against
    the corpus to materialize the deduplicated table.

    The paper's algorithm: k-means-cluster the embeddings; inside each
    cluster, order items and drop every item whose cosine similarity to
    ANY earlier item reaches ``threshold`` (the upper-triangular-matrix
    trick — no transitive closure).  Ordering is ascending similarity
    to the assigned centroid, so the survivor of each duplicate set is
    the example LEAST like its centroid — the paper's
    diversity-preserving keep rule.  Ties break on id (deterministic).

    Scale shape: centroid assignment is one narrow JVM projection over
    literal centroid arrays (no shuffle, same form as
    :func:`~sagan_spark.ops.similarity.ivf_topk`); the only wide op is
    the self-join keyed on centroid, whose per-cluster quadratic cost
    is the algorithm's stated budget — ``n_centroids`` must grow with
    the corpus to keep clusters small (the paper uses 50k clusters for
    LAION).  Inject pretrained ``centroids`` in production (and for the
    oracle, which replays assignment from the same literals); otherwise
    spherical k-means trains driver-side on a deterministic
    ``sample_n``-row sample, pinned by the pure-Python twin in tests.
    """
    from sagan_spark.ops.similarity import _dot, _norm, _train_centroids

    import numpy as np

    if centroids is None:
        sample = [
            row[0]
            for row in emb.orderBy(id_col).limit(sample_n).select(vec_col).collect()
        ]
        centroids = _train_centroids(sample, n_centroids, iters)
    cnorms = [float(np.linalg.norm(c)) or 1.0 for c in centroids]
    # per-centroid cosine numerators (dot / |c|); the common 1/|v|
    # factor is applied once after the argmax (it cannot change it)
    cos_arr = F.array(*[
        _dot(F.col(vec_col), F.array(*[F.lit(float(x)) for x in c])) / F.lit(cn)
        for c, cn in zip(centroids, cnorms)
    ])
    assigned = (
        emb.select(
            F.col(id_col), F.col(vec_col), _norm(F.col(vec_col)).alias("nrm")
        )
        .withColumn("_cd", cos_arr)
        .withColumn(
            "centroid",
            F.expr("array_position(_cd, array_max(_cd))").cast("int") - 1,
        )
        .withColumn("cent_sim", F.array_max("_cd") / F.col("nrm"))
        .drop("_cd")
    )
    a = assigned.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"),
        F.col("nrm").alias("n_a"), "centroid", F.col("cent_sim").alias("s_a"),
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"),
        F.col("nrm").alias("n_b"), "centroid", F.col("cent_sim").alias("s_b"),
    )
    a_earlier = (F.col("s_a") < F.col("s_b")) | (
        (F.col("s_a") == F.col("s_b")) & (F.col("id_a") < F.col("id_b"))
    )
    return (
        a.join(b, "centroid")
        .filter(a_earlier)
        .withColumn(
            "cosine",
            _dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b")),
        )
        .filter(F.col("cosine") >= F.lit(float(threshold)))
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )


# ---------------------------------------------------------------------------
# near-dup cluster canonicalization: pairs -> connected components ->
# one canonical doc per cluster (the step that turns pair detection
# into an actual corpus dedup)
# ---------------------------------------------------------------------------


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SOCC'14 §3): every node links each strictly
    LARGER neighbor to the minimum of its closed neighborhood.  Input
    and output are distinct directed edge frames ``(hi, lo)`` with
    ``hi > lo`` (m <= u < v guarantees the output orientation)."""
    sym = edges.unionByName(
        edges.select(F.col("lo").alias("hi"), F.col("hi").alias("lo"))
    ).select(F.col("hi").alias("u"), F.col("lo").alias("v"))
    mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round (SOCC'14 §3): every node links its SMALLER
    neighbors (and itself) to the minimum of that down-neighborhood.
    Input/output: distinct ``(hi, lo)`` edges, ``hi > lo``."""
    mins = edges.groupBy("hi").agg(F.min("lo").alias("m"))
    centers = mins.select("hi", F.col("m").alias("lo"))
    others = (
        edges.join(mins, "hi")
        .filter(F.col("lo") != F.col("m"))
        .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
    )
    return centers.unionByName(others).distinct()


def connected_components_star(pairs: DataFrame, a_col: str = "doc_a",
                              b_col: str = "doc_b",
                              max_iter: int = 25) -> DataFrame:
    """(node, component) by alternating large-star/small-star rounds
    (Kiveris et al., SOCC'14) — the deep-graph scale path: O(log n)
    rounds regardless of graph diameter, vs the propagation loop's
    O(diameter).  Same contract as :func:`connected_components`:
    component = min reachable node id.

    Each round is two bounded shuffles over the CURRENT edge set, which
    only ever shrinks toward one star edge per non-root node — no
    frontier blow-up.  Convergence = the edge set is a fixed point of a
    full round (stars are fixed points of both operations; the paper
    proves the alternation reaches them).  Fixed-point detection is two
    subtract-probes (exact, not a hash heuristic); each round
    ``materialize``s its edge set so the plan stays O(1) per round.
    """
    # eagerly materialized: `nodes` is consumed by the FINAL join, and
    # a lazy frame there would re-run the (typically expensive) pairs
    # pipeline once per downstream action of the result
    nodes = materialize(
        pairs.select(F.col(a_col).alias("node"))
        .unionByName(pairs.select(F.col(b_col).alias("node")))
        .distinct(),
        "cc_star nodes",
    )
    edges = materialize(
        pairs.select(
            F.greatest(F.col(a_col), F.col(b_col)).alias("hi"),
            F.least(F.col(a_col), F.col(b_col)).alias("lo"),
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct(),
        "cc_star edges",
    )
    for _ in range(max_iter):
        new_edges = materialize(_small_star(_large_star(edges)), "cc_star edges")
        stable = (
            new_edges.subtract(edges).limit(1).count() == 0
            and edges.subtract(new_edges).limit(1).count() == 0
        )
        release(edges)
        edges = new_edges
        if stable:
            star = edges.select(F.col("hi").alias("node"), F.col("lo").alias("comp"))
            return nodes.join(star, "node", "left").select(
                "node", F.coalesce("comp", "node").alias("comp")
            )
    release(nodes)
    release(edges)
    raise RuntimeError(
        f"connected_components_star did not converge in {max_iter} rounds"
    )


def connected_components(pairs: DataFrame, a_col: str = "doc_a",
                         b_col: str = "doc_b", max_iter: int = 25,
                         method: str = "propagation") -> DataFrame:
    """(node, component) for every node in the pair set; component =
    min node id reachable.  Iterative min-label propagation: each round
    joins current labels across the (symmetrized) edge set and keeps
    the per-node min — one shuffle per round, converging in
    O(graph diameter) rounds.  Near-dup graphs are unions of LSH-bucket
    cliques, so the diameter is small (pairs within a bucket are 1 hop
    apart; chains only form across buckets); the loop checks actual
    convergence (no label changed) instead of trusting that, and
    raises if ``max_iter`` rounds don't settle.  Each round
    ``materialize``s the label frame: the plan would otherwise double
    per iteration and overwhelm the optimizer at 10+ rounds.

    For adversarially deep graphs (long chains at 100TB) pass
    ``method="star"``: the large-star/small-star alternation of Kiveris
    et al., "Connected Components in MapReduce and Beyond" (SOCC'14) —
    same (node, component) contract, O(log n) rounds independent of
    diameter (:func:`connected_components_star`).
    """
    if method == "star":
        return connected_components_star(pairs, a_col, b_col, max_iter)
    if method != "propagation":
        raise ValueError(f"unknown method {method!r}; use 'propagation' or 'star'")
    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .unionByName(pairs.select(F.col(b_col).alias("u"), F.col(a_col).alias("v")))
        .distinct()
        .persist()
    )
    labels = materialize(
        edges.groupBy("u")
        .agg(F.least(F.min("v"), F.first("u")).alias("comp"))
        .select(F.col("u").alias("node"), F.least("comp", "node").alias("comp")),
        "cc labels",
    )
    for _ in range(max_iter):
        # neighbor's current label, pulled across each edge
        nbr = (
            edges.join(labels.withColumnRenamed("node", "v"), "v")
            .groupBy("u")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        new_labels = materialize(
            labels.join(nbr, labels.node == nbr.u, "left").select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
                ).alias("comp"),
            ),
            "cc labels",
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        release(labels)
        labels = new_labels
        if changed == 0:
            edges.unpersist()
            return labels
    edges.unpersist()
    release(labels)
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def near_dup_clusters(docs: DataFrame, k: int = 8, n_bands: int = 4,
                      threshold: float = 0.5, text_col: str = "text",
                      id_col: str = "doc_id",
                      cc_method: str = "propagation") -> DataFrame:
    """Near-duplicate clusters from *verified* pairs: one row per
    cluster, ``(canonical_id, cluster_size)`` — canonical = min doc_id
    (deterministic, join-free tie-break).

    Clustering runs on exact-Jaccard-verified pairs
    (:func:`ngram_jaccard_pairs`), NOT raw LSH candidates: with few
    bands a single shared band is a weak signal, and transitively
    closing unverified candidates welds the corpus into one giant
    cluster.  Verification first keeps components honest; only docs in
    at least one verified pair ever shuffle — singletons are implicitly
    their own cluster and never leave the scan.
    """
    pairs = ngram_jaccard_pairs(docs, k, n_bands, threshold, text_col, id_col)
    comps = connected_components(pairs, "doc_a", "doc_b", method=cc_method)
    return (
        comps.groupBy("comp")
        .agg(F.count(F.lit(1)).cast("long").alias("cluster_size"))
        .select(F.col("comp").cast("long").alias("canonical_id"), "cluster_size")
    )


def near_dup_drop_list(docs: DataFrame, k: int = 8, n_bands: int = 4,
                       threshold: float = 0.5, text_col: str = "text",
                       id_col: str = "doc_id",
                       cc_method: str = "propagation") -> DataFrame:
    """doc_ids to DROP to deduplicate the corpus: every clustered doc
    except its cluster's canonical (min id), clusters built on
    Jaccard-verified pairs (see :func:`near_dup_clusters`).  anti-join
    this against the corpus to materialize the deduplicated table."""
    pairs = ngram_jaccard_pairs(docs, k, n_bands, threshold, text_col, id_col)
    comps = connected_components(pairs, "doc_a", "doc_b", method=cc_method)
    return (
        comps.filter(F.col("node") != F.col("comp"))
        .select(F.col("node").cast("long").alias(id_col))
    )


def dedup_paragraphs_within(docs: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            sep: str = "\n\n") -> DataFrame:
    """WITHIN-document paragraph dedup: drop repeats of a paragraph
    inside the same document, keeping each first occurrence in order —
    the intra-doc boilerplate collapse (repeated nav blocks, cookie
    banners pasted per section) that runs BEFORE the corpus-wide pass
    (:func:`dedup_paragraphs`), shrinking what that pass must shuffle.

    Returns (doc_id, clean_text, n_paragraphs, n_dropped); NULL text
    keeps the :func:`dedup_paragraphs` convention (NULL clean_text,
    zero counts).

    Scale shape (100 TB posture): pure scan-level array codegen — no
    shuffle, no window, no Python.  ``array_distinct`` preserves
    first-occurrence order in Spark (pinned by test) and is O(n) per
    row; the whole operator rides the corpus scan."""
    import re as _re

    paras = F.split(F.col(text_col), _re.escape(sep))
    kept = F.array_distinct(paras)
    return docs.select(
        F.col(id_col),
        F.when(F.col(text_col).isNotNull(), F.array_join(kept, sep))
        .alias("clean_text"),
        F.coalesce(F.size(paras), F.lit(0)).cast("long").alias("n_paragraphs"),
        F.coalesce(F.size(paras) - F.size(kept), F.lit(0))
        .cast("long").alias("n_dropped"),
    )


def soft_dedup_weights(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       clusters: DataFrame | None = None) -> DataFrame:
    """Per-document sampling weight ``1e6 / n_copies`` — SOFT dedup:
    instead of dropping duplicates (the drop-list ops), keep every row
    and downweight it so a document duplicated a million times
    contributes the same expected training mass as a unique one.  The
    standard alternative when the sampler (not the corpus writer)
    owns the distribution — e.g. feeding :func:`~sagan_spark.ops.
    sampling.temperature_mix`-style pipelines, where dropping would
    discard provenance variety the mixer may still want.

    Default counts EXACT copies (md5 digest groups, the
    :func:`exact_dup_groups` key); pass ``clusters`` — any
    (node, comp) frame, e.g. :func:`connected_components` over
    verified near-dup pairs — to weight by NEAR-dup cluster size
    instead (docs absent from ``clusters`` count as singletons).
    Returns the input ids plus (n_copies, weight_ppm); weights are
    integer ppm (1e6 div n), exact in any engine.

    Scale shape (100 TB posture): one map-side-combining count (hot
    digests absorb before the shuffle) + one join back on the digest
    (exact mode: AQE-splittable; cluster mode: two id-keyed joins,
    co-partitioned with the corpus)."""
    if clusters is None:
        digest = F.md5(F.col(text_col))
        d = docs.select(F.col(id_col), digest.alias("_sg_dig"))
        sizes = d.groupBy("_sg_dig").agg(
            F.count(F.lit(1)).cast("long").alias("n_copies")
        )
        out = d.join(sizes, "_sg_dig").drop("_sg_dig")
    else:
        sizes = clusters.groupBy("comp").agg(
            F.count(F.lit(1)).cast("long").alias("n_copies")
        )
        membership = clusters.join(sizes, "comp").select(
            F.col("node").alias(id_col), "n_copies"
        )
        out = (
            docs.select(id_col)
            .join(membership, id_col, "left")
            .withColumn("n_copies", F.coalesce("n_copies", F.lit(1).cast("long")))
        )
    return out.select(
        F.col(id_col),
        F.col("n_copies"),
        F.expr("1000000 div n_copies").cast("long").alias("weight_ppm"),
    )


def dedup_paragraphs(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", sep: str = "\n\n") -> DataFrame:
    """Corpus-wide EXACT paragraph dedup (the inter-document repetition
    removal step of MassiveText/RefinedWeb-style pipelines): every
    repeated paragraph keeps only its FIRST occurrence in (doc_id,
    position) order; each doc's surviving paragraphs reassemble in
    their original order.  Returns one row per input doc — (doc_id,
    clean_text, n_paragraphs, n_dropped); a NULL-text doc comes back
    with NULL clean_text and zero counts, never silently vanishes.
    ``sep`` is a literal string (regex-escaped before the split).

    Plan (100 TB posture): global first-occurrence is an AGGREGATION,
    not a window — ``groupBy(para).agg(min(struct(doc_id, idx)))`` then
    a join back.  min(struct) is algebraic, so map-side partial
    aggregation absorbs hot keys: a boilerplate paragraph ("All rights
    reserved.") repeated 10^8-10^9 times across a web corpus reduces to
    one row per mapper before the shuffle, where the earlier
    row_number() window funneled every copy into ONE task and sorted
    there.  The join back re-shuffles on the paragraph key; the firsts
    side is unique per key, so AQE skew-join splits a hot left
    partition freely.  DELIBERATE TRADE: the self-join scans and
    explodes the corpus TWICE (the window form read it once) — two
    embarrassingly-parallel scans of (id, text) columns are bounded and
    cheap at any scale, a single hot-key sort partition is not; the
    plan-shape test pins both sides of this choice.  Whitespace-only paragraphs (regex \\s* — spaces,
    tabs, newlines, same class the tokenizers here use) are always kept
    — dropping "empty" separators would silently reflow unrelated text —
    and each carries a UNIQUE per-row join key ('b:'-prefixed, disjoint
    from the 'p:'-prefixed text keys): "" would otherwise be the
    hottest key in the corpus and funnel every consecutive-separator
    blank into one task.
    """
    import re as _re

    paras = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), _re.escape(sep))).alias("idx", "para"),
    )
    blank = F.col("para").rlike(r"^\s*$")
    # disjoint key spaces: a blank's synthetic key can never equal a
    # real paragraph's text key
    jkey = F.when(
        blank,
        F.concat(F.lit("b:"), F.col(id_col).cast("string"), F.lit(":"), F.col("idx")),
    ).otherwise(F.concat(F.lit("p:"), F.col("para")))
    keyed = paras.withColumn("_jkey", jkey)
    occ = F.struct(F.col(id_col), F.col("idx"))
    firsts = (
        keyed.filter(~blank).groupBy("_jkey").agg(F.min(occ).alias("_first"))
    )
    kept = (
        keyed.join(firsts, "_jkey", "left")
        # blanks never match (unique synthetic keys) -> NULL _first -> kept
        .withColumn("_keep", F.col("_first").isNull() | (occ == F.col("_first")))
        .drop("_jkey", "_first")
    )
    deduped = kept.groupBy(id_col).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_keep"),
                            F.struct(F.col("idx"), F.col("para")),
                        )
                    )
                ),
                lambda s: s.getField("para"),
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_paragraphs"),
        F.sum(F.when(~F.col("_keep"), 1).otherwise(0)).cast("long").alias("n_dropped"),
    )
    # NULL-text docs explode to zero rows — restore them (no reason to
    # lose a doc here; the quality gates own NULL routing)
    return (
        docs.select(id_col)
        .join(deduped, id_col, "left")
        .withColumn("n_paragraphs", F.coalesce("n_paragraphs", F.lit(0)))
        .withColumn("n_dropped", F.coalesce("n_dropped", F.lit(0)))
    )
