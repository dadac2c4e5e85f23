"""Iterative BPE tokenizer training (Sennrich arXiv:1508.07909 §3.2)
— the merge-rule list a training-data pipeline derives from its own
corpus.  `ops.textstats.bpe_pair_stats` exposes one round's inner
statistic; this operator runs the actual training loop: R rounds of
(count adjacent symbol pairs over word types, weighted by word
frequency) → (merge the argmax pair everywhere) → repeat, emitting
the ordered merge table that IS a BPE tokenizer.

Scale shape (100 TB posture): the corpus is touched ONCE — a
map-side-combining word count whose output is the word-TYPE frame
(vocabulary-bounded, ~10^7-10^8 rows for web text, independent of
corpus row count).  Every training round runs over that frame only:
pair counts are a vocab-bounded explode + map-side-combining sum, the
argmax is a single min(struct) aggregate (no sort), the merge
application is a broadcast of the 1-row winner + three literal string
replaces, and lineage is cut per round with ``materialize`` (the
pagerank discipline) so the plan never grows with R.

Engine-exact greedy merge WITHOUT folds or lookahead (the part string
replace normally gets wrong): Sennrich's reference implementation
merges occurrences left to right, skipping overlaps.  A plain
replace-all over a single-space rendering misses every occurrence
that shares a boundary space with the previous match ("a b a b" →
only one merge).  Rendering the sequence with DOUBLE spaces between
symbols and single-space padding makes leftmost non-overlapping
replace-all EXACTLY the greedy pairing: each match consumes one space
from each flanking gap and the replacement restores it, so back-to-
back occurrences keep their own leading space ("a  b  a  b" merges
both; "a  a  a" merges the first pair only — byte-for-byte Sennrich
greedy).  Both engines' literal replace() is the same leftmost scan,
so the DuckDB oracle (:func:`bpe_train_sql`, R unrolled CTE layers)
reproduces the whole training run bit-for-bit.

Determinism: ties in the argmax break on (left ASC, right ASC) —
min(struct(-count, left, right)) on the Spark side, ORDER BY count
DESC, left, right LIMIT 1 on the oracle side.  ``rounds`` must be
small relative to the corpus's distinct-pair count (a round with no
remaining pairs would propagate an empty winner); web corpora are
nowhere near that regime at practical R.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sagan_spark.session import materialize, release

END_OF_WORD = "</w>"


def _word_seqs(docs: DataFrame, text_col: str) -> DataFrame:
    """(seq, cnt) word-type frame: each distinct token rendered as
    single-space-separated characters + the end-of-word symbol,
    weighted by corpus frequency."""
    from sagan_spark.ops.textstats import TOKEN_RE

    words = docs.select(
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), F.lit(0))
        ).alias("word")
    )
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    seq = F.concat(
        F.regexp_replace(F.col("word"), "(.)", "$1 "), F.lit(END_OF_WORD)
    )
    return counts.select(seq.alias("seq"), "cnt")


def _pair_counts(seqs: DataFrame) -> DataFrame:
    """(left, right, c): adjacent-symbol pair counts over the word-type
    frame, weighted by word frequency."""
    l = F.split(F.col("seq"), " ")
    n = F.size(l)
    pairs = F.zip_with(
        F.slice(l, 1, n - 1),
        F.slice(l, 2, n - 1),
        lambda a, b: F.struct(a.alias("left"), b.alias("right")),
    )
    return (
        seqs.where(n >= 2)
        .select(F.explode(pairs).alias("p"), "cnt")
        .groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right"))
        .agg(F.sum("cnt").alias("c"))
    )


def _apply_merge(seqs: DataFrame, best: DataFrame) -> DataFrame:
    """Replace every greedy occurrence of the winning pair: double the
    gaps, pad, literal-replace ' L  R ' -> ' LR ', collapse back."""
    doubled = F.concat(
        F.lit(" "), F.replace(F.col("seq"), F.lit(" "), F.lit("  ")),
        F.lit(" "),
    )
    left, right = F.col("merge_left"), F.col("merge_right")
    pat = F.concat(F.lit(" "), left, F.lit("  "), right, F.lit(" "))
    rep = F.concat(F.lit(" "), left, right, F.lit(" "))
    merged = F.trim(
        F.replace(F.replace(doubled, pat, rep), F.lit("  "), F.lit(" "))
    )
    return seqs.crossJoin(F.broadcast(best)).select(
        merged.alias("seq"), "cnt"
    )


def _train_loop(docs: DataFrame, rounds: int,
                text_col: str) -> tuple[list[DataFrame], DataFrame]:
    """THE greedy-merge loop (argmax tie-break + merge application),
    shared by the merge-table and segmentation-table views so the two
    cannot drift: returns (per-round merge-row pins, final seqs pin),
    which the caller owns; superseded seqs pins are released."""
    seqs = materialize(_word_seqs(docs, text_col), "bpe_train seqs")
    merges = []
    for r in range(1, int(rounds) + 1):
        best = materialize(
            _pair_counts(seqs)
            .agg(
                F.min(
                    F.struct(
                        (-F.col("c")).alias("nc"),
                        F.col("left").alias("left"),
                        F.col("right").alias("right"),
                    )
                ).alias("m")
            )
            .select(
                F.lit(r).alias("merge_round"),
                F.col("m.left").alias("merge_left"),
                F.col("m.right").alias("merge_right"),
                (-F.col("m.nc")).alias("pair_count"),
            ),
            "bpe_train merge",
        )
        merges.append(best)
        prev, seqs = seqs, materialize(_apply_merge(seqs, best), "bpe_train seqs")
        release(prev)
    return merges, seqs


def bpe_train(docs: DataFrame, rounds: int = 8,
              text_col: str = "text") -> DataFrame:
    """(merge_round, merge_left, merge_right, pair_count): the ordered
    merge-rule table after ``rounds`` of greedy BPE over the corpus."""
    merges, seqs = _train_loop(docs, rounds, text_col)
    release(seqs)
    return reduce(DataFrame.unionByName, merges)


def bpe_train_seqs(docs: DataFrame, rounds: int = 8,
                   text_col: str = "text") -> DataFrame:
    """The final word-type segmentation table after ``rounds`` merges:
    (word, seq, n_pieces) — the applying side of the tokenizer.  The
    per-word piece sequence IS the encoding of every occurrence of
    that word, so encoding a corpus is a broadcast/shuffle join
    against this vocab-bounded table, never a per-document merge
    walk."""
    merges, seqs = _train_loop(docs, rounds, text_col)
    for m in merges:
        release(m)
    # recover the surface word from its segmentation: pieces joined,
    # end-of-word marker dropped (cheaper than threading the word
    # column through the merge rounds)
    word = F.replace(
        F.replace(F.col("seq"), F.lit(" "), F.lit("")), F.lit(END_OF_WORD),
        F.lit(""),
    )
    return seqs.select(
        word.alias("word"),
        F.col("seq"),
        F.size(F.split(F.col("seq"), " ")).cast("long").alias("n_pieces"),
    )


def bpe_encode(docs: DataFrame, rounds: int = 8, text_col: str = "text",
               id_col: str = "doc_id",
               seg: DataFrame | None = None) -> DataFrame:
    """(id, n_words, n_pieces): per-document BPE token counts under a
    tokenizer trained on the SAME corpus — the sizing statistic
    sequence-packing and cost estimation need.  One corpus-sized
    explode + ONE join against the vocab-bounded segmentation table
    (broadcastable for real vocabularies) + a map-side-combining
    rollup.

    ``seg``: a precomputed :func:`bpe_train_seqs` table (or a persisted
    copy of one) — pass it when the pipeline also wants the merge
    table, so training runs once instead of once per consumer."""
    if seg is None:
        seg = bpe_train_seqs(docs, rounds, text_col)
    from sagan_spark.ops.textstats import TOKEN_RE

    toks = docs.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), F.lit(0))
        ).alias("word"),
    )
    return (
        toks.join(seg.select("word", "n_pieces"), "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_pieces").alias("n_pieces"),
        )
    )


def bpe_encode_sql(table: str = "documents", rounds: int = 8) -> str:
    """:func:`bpe_encode` in ANSI SQL: the shared CTE tower's final
    segmentation layer joined back to the corpus token stream."""
    from sagan_spark.ops.textstats import TOKEN_RE

    return (
        f"{_bpe_cte_tower(table, rounds)},"
        f" seg AS (SELECT replace(replace(seq, ' ', ''), '</w>', '')"
        f" AS word, CAST(len(str_split(seq, ' ')) AS BIGINT) AS n_pieces"
        f" FROM s{int(rounds)}),"
        " tk AS (SELECT doc_id, unnest(regexp_extract_all(text,"
        f" '{TOKEN_RE}')) AS word FROM {table})"
        " SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,"
        " CAST(sum(n_pieces) AS BIGINT) AS n_pieces"
        " FROM tk JOIN seg ON tk.word = seg.word GROUP BY doc_id"
    )


def _bpe_cte_tower(table: str, rounds: int) -> str:
    """The R unrolled training layers (shared by train and encode
    oracles): per round, pair counts, the (count DESC, left, right)
    argmax, and the double-space greedy replace."""
    from sagan_spark.ops.textstats import TOKEN_RE

    parts = [
        "WITH s0 AS MATERIALIZED (SELECT"
        " regexp_replace(word, '(.)', '\\1 ', 'g') || '</w>' AS seq,"
        " CAST(count(*) AS BIGINT) AS cnt FROM ("
        f"SELECT unnest(regexp_extract_all(text, '{TOKEN_RE}')) AS word"
        f" FROM {table}) GROUP BY word)"
    ]
    for r in range(1, int(rounds) + 1):
        p, prev = f"p{r}", f"s{r - 1}"
        parts.append(
            f"{p} AS MATERIALIZED (SELECT u.a AS left_s, u.b AS right_s,"
            " CAST(sum(cnt) AS BIGINT) AS c FROM ("
            " SELECT cnt, unnest(list_transform(range(1, len(l)),"
            "  i -> struct_pack(a := l[i], b := l[i+1]))) AS u"
            " FROM (SELECT str_split(seq, ' ') AS l, cnt"
            f"  FROM {prev}))"
            " GROUP BY 1, 2)"
        )
        parts.append(
            f"b{r} AS MATERIALIZED (SELECT left_s, right_s, c FROM {p}"
            " ORDER BY c DESC, left_s, right_s LIMIT 1)"
        )
        parts.append(
            f"s{r} AS MATERIALIZED (SELECT trim(replace(replace("
            " ' ' || replace(seq, ' ', '  ') || ' ',"
            f" (SELECT ' ' || left_s || '  ' || right_s || ' ' FROM b{r}),"
            f" (SELECT ' ' || left_s || right_s || ' ' FROM b{r})),"
            " '  ', ' ')) AS seq, cnt"
            f" FROM {prev})"
        )
    return ", ".join(parts)


def bpe_train_sql(table: str = "documents", rounds: int = 8) -> str:
    """The SAME training run in ANSI SQL — byte-identical merges."""
    unions = " UNION ALL ".join(
        f"SELECT {r} AS merge_round, left_s AS merge_left,"
        f" right_s AS merge_right, c AS pair_count FROM b{r}"
        for r in range(1, int(rounds) + 1)
    )
    return _bpe_cte_tower(table, rounds) + " " + unions
