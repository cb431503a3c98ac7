"""Exact substring-duplication detection and scrub (token n-gram form).

Implements the exact-substring deduplication strategy of Lee et al. 2022
("Deduplicating Training Data Makes Language Models Better" — public paper):
find every corpus position whose length-``n`` token window also occurs
somewhere else (another document, or elsewhere in the same one), merge the
overlapping windows into maximal duplicated spans, and optionally scrub the
redundant spans while keeping exactly one canonical copy of each duplicated
window.  No reference analogue (the reference ships no substring-dedup
surface; its nearest op is exact whole-row dedup) — this is north-star
LLM-pipeline infrastructure, sibling to the MinHash/SimHash family in
``operators/dedup.py``.

The paper's single-node implementation builds a corpus-wide suffix array; a
suffix array over 100 TB is neither buildable nor queryable on a cluster.
The Spark-first equivalent keys everything on POSITIONAL n-gram hashes and
stays inside linear relational operators:

1. Per document, hash each token once (``token_int``, md5-based) and roll
   the ``n`` token hashes at every start position into one int64 gram hash —
   the identical ``(acc*31 + h) % SHINGLE_MOD`` fold the MinHash shingler
   uses, so the SQL oracle mirrors it exactly.  All expression work, no
   Python; ``posexplode`` yields ``(id, pos, gram_hash)`` — |tokens| rows,
   the same linear blow-up as any inverted-index build.
2. ONE map-side-combinable ``groupBy(gram_hash)`` computes each gram's
   occurrence count and canonical first occurrence (min of a packed
   ``id * 2^24 + pos`` int64 — pack, don't struct-min, so the aggregate
   stays a plain long min that partial-aggregates on the map side).
3. ONE hash join back on ``gram_hash`` marks the redundant occurrences
   (``keep_first=True``: every occurrence except the canonical one;
   ``keep_first=False``: every occurrence of any gram seen >= 2 times).
   A hot gram (boilerplate phrase) is a 1:N join against one winner row —
   no quadratic pair blow-up anywhere, unlike a naive self-join on hash.
4. Per-document windows (partitioned by id — bounded by document length,
   not corpus size) merge overlapping/adjacent windows into maximal spans
   via plain gaps-and-islands: a new island starts where
   ``pos > lag(pos) + n``; with fixed-length windows the running max end IS
   ``lag(pos) + n``, so one ``lag`` suffices.

Cost: one explode (linear), one combinable aggregate, one equi-join, one
per-doc window + per-doc groupBy.  Would-it-hold-at-100-TB: yes — every
shuffle key is an int64 hash or the document id; the only skew surface is
the winner aggregate, which partial-aggregates before the shuffle.

Two deliberate trade-offs, visible in ``explain``:

- The gram stream is COMPUTED TWICE (once into the winner aggregate, once
  into the join probe side).  Persisting it instead would materialize
  |tokens| rows — at 100 TB of text that is hundreds of TB of state for
  what is otherwise a streaming expression pass; recomputing is the same
  call the two-pass prefix scan makes.
- Winner selection is groupBy+join, NOT ``min over (partition by gh)``:
  the window form is one-pass but puts every occurrence of a gram in one
  task, and boilerplate grams in web corpora reach 10^8+ occurrences.
  The aggregate partial-combines map-side and the 1:N join back
  replicates the one winner row — both skew-immune.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ironbeam_spark.scale import ensure_min_parallelism

__all__ = [
    "positional_token_ngrams",
    "duplicated_ngram_spans",
    "scrub_duplicated_spans",
    "packed_occurrence",
    "POS_PACK_BITS",
]

# canonical-occurrence packing: id * 2^24 + pos.  24 bits of position caps
# documents at 16,777,216 tokens (far beyond any pretraining document) and
# leaves 39 bits for the id — ~5.5e11 documents, comfortably past 100 TB of
# text.  Guarded at runtime by packed_occurrence; widen here if either
# bound ever binds.
POS_PACK_BITS = 24


def packed_occurrence(id_col: str, pos_col: str) -> Column:
    """``id * 2^POS_PACK_BITS + pos`` with the documented bounds ENFORCED
    per row: a NULL id (e.g. a non-numeric id column cast to long under
    non-ANSI mode), a negative or >= 2^39 id, or a position >= 2^24 raises
    instead of silently colliding packed keys — a collision would elect
    wrong winners and an all-NULL pack would return zero spans for a
    corpus full of duplicates, with no error either way.  Expression-only
    (one branch per row, stays in codegen): no extra pass, no shuffle."""
    idl = F.col(id_col).cast("long")
    bad = (
        idl.isNull()
        | (idl < 0)
        | (idl >= F.lit(1 << (63 - POS_PACK_BITS)))
        | (F.col(pos_col) < 0)
        | (F.col(pos_col) >= F.lit(1 << POS_PACK_BITS))
    )
    return F.when(
        bad,
        F.raise_error(
            F.concat(
                F.lit(
                    "packed_occurrence: id must be numeric in [0, 2^39) and "
                    "pos in [0, 2^24); got id="
                ),
                F.coalesce(F.col(id_col).cast("string"), F.lit("NULL")),
                F.lit(" pos="),
                F.coalesce(F.col(pos_col).cast("string"), F.lit("NULL")),
            )
        ).cast("long"),
    ).otherwise(idl * F.lit(1 << POS_PACK_BITS) + F.col(pos_col).cast("long"))


def positional_token_ngrams(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
) -> DataFrame:
    """``(id, pos, gh)``: the int64 rolling hash of the ``n``-token window
    starting at 0-based token position ``pos``, one row per start position.

    Gram identity is the same fold as ``dedup.hashed_word_shingles`` —
    ``acc = h(t_i); acc = (acc*31 + h(t_{i+j})) % SHINGLE_MOD`` — but kept
    POSITIONAL (no distinct, no sort): span merging needs every occurrence.
    The per-token hash array is let-bound so the md5 pass runs once per row
    even though each of the ~|tokens| windows reads ``n`` elements.

    The gram fold is an interpreted higher-order expression (never enters
    whole-stage codegen), so its parallelism is the SOURCE SPLIT COUNT —
    serial on a single-file input.  The narrow (id, text) projection
    therefore goes through :func:`~ironbeam_spark.scale.ensure_min_parallelism`:
    with fewer partitions than the default parallelism it is round-robin
    repartitioned up to it, and both downstream gram branches hang off that
    ONE exchange (ReusedExchange), so the corpus text shuffles once and the
    fold runs wide.  At real scale a 100 TB parquet corpus already has
    thousands of splits, and the projection passes through unchanged."""
    from ironbeam_spark.functions.hof import let_
    from ironbeam_spark.functions.text import token_int, tokens
    from ironbeam_spark.operators.dedup import SHINGLE_MOD

    if n < 2:
        raise ValueError("positional_token_ngrams: n must be >= 2")

    base = ensure_min_parallelism(docs.select(F.col(id_col), F.col(text_col)))

    token_hashes = F.transform(tokens(text_col), lambda t: token_int(t))

    def build(tis):
        def gram_at(i):
            acc = F.get(tis, i - 1).cast("long")
            for j in range(1, n):
                acc = (acc * F.lit(31) + F.get(tis, i + F.lit(j) - 1)) % F.lit(
                    SHINGLE_MOD
                )
            return acc

        # guard: F.sequence(1, 0) is the DESCENDING [1, 0] in Spark — without
        # it a <n-token text fabricates grams from out-of-range gets
        return F.when(
            F.size(tis) >= n,
            F.transform(F.sequence(F.lit(1), F.size(tis) - F.lit(n - 1)), gram_at),
        ).otherwise(F.array().cast("array<bigint>"))

    return base.select(
        F.col(id_col), F.posexplode(let_(token_hashes, build)).alias("pos", "gh")
    )


def duplicated_ngram_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    keep_first: bool = True,
) -> DataFrame:
    """Maximal duplicated token spans per document:
    ``(id, start_tok, end_tok)`` with 0-based token indices, end exclusive.

    A position is duplicated when its ``n``-token window occurs >= 2 times
    corpus-wide (cross-document AND within-document repeats both count, as
    in Lee et al.).  With ``keep_first=True`` (the paper's keep-one
    semantics) the canonical first occurrence of each gram — minimal
    ``(id, pos)`` — is NOT marked, so scrubbing the returned spans leaves
    one copy of every duplicated window in the corpus.  ``keep_first=False``
    marks every occurrence (audit mode: "show me all duplicated text").

    Requires a NUMERIC non-negative id (packed ordering); positions are
    capped at ``2^POS_PACK_BITS`` tokens per document."""
    grams = positional_token_ngrams(docs, id_col, text_col, n)

    packed = grams.withColumn("_pk", packed_occurrence(id_col, "pos"))

    stats = packed.groupBy("gh").agg(
        F.min("_pk").alias("_win"), F.count(F.lit(1)).alias("_cnt")
    )

    joined = packed.join(stats, "gh")
    if keep_first:
        # _cnt >= 2 is implied: a singleton's only occurrence IS the winner
        hits = joined.where(F.col("_pk") != F.col("_win"))
    else:
        hits = joined.where(F.col("_cnt") >= 2)
    hits = hits.select(id_col, "pos")

    # gaps-and-islands over per-document positions.  All windows have the
    # same length n, so the running max end is lag(pos) + n and adjacency
    # (next window starting exactly where the previous ends) merges too —
    # contiguous duplicated text is one span.
    w = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(
        F.lag("pos").over(w).isNull()
        | (F.col("pos") > F.lag("pos").over(w) + F.lit(n)),
        F.lit(1),
    ).otherwise(F.lit(0))
    islands = hits.withColumn("_brk", brk).withColumn(
        "_isl", F.sum("_brk").over(w)
    )
    return (
        islands.groupBy(id_col, "_isl")
        .agg(
            F.min("pos").cast("long").alias("start_tok"),
            (F.max("pos") + F.lit(n)).cast("long").alias("end_tok"),
        )
        .drop("_isl")
    )


def scrub_duplicated_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    out_col: str = "text_clean",
) -> DataFrame:
    """Remove every redundant duplicated span (keep-first semantics), return
    ``(id, out_col, n_tokens, n_removed)``.

    The scrubbed text is the space-join of the surviving tokens — i.e.
    whitespace-NORMALIZED relative to the input (``tokens`` drops empty
    splits), which is what every downstream tokenizer sees anyway.  Two
    extra linear steps on top of :func:`duplicated_ngram_spans`: one per-doc
    span collect (bounded by document length) and one broadcast-free left
    join back to the corpus on the id."""
    spans = duplicated_ngram_spans(docs, id_col, text_col, n, keep_first=True)
    per_doc = spans.groupBy(id_col).agg(
        F.sort_array(F.collect_list(F.struct("start_tok", "end_tok"))).alias(
            "_spans"
        )
    )

    from ironbeam_spark.functions.hof import let_
    from ironbeam_spark.functions.text import tokens

    joined = docs.join(per_doc, id_col, "left").withColumn(
        "_spans",
        F.coalesce(
            "_spans",
            F.array().cast("array<struct<start_tok:bigint,end_tok:bigint>>"),
        ),
    )

    def build(ts):
        # two-arg filter lambda: x = token, i = its 0-based position
        kept = F.filter(
            ts,
            lambda x, i: ~F.exists(
                F.col("_spans"),
                lambda s: (i >= s["start_tok"]) & (i < s["end_tok"]),
            ),
        )
        return F.struct(
            F.concat_ws(" ", kept).alias("_clean"),
            F.size(ts).cast("long").alias("_nt"),
            (F.size(ts) - F.size(kept)).cast("long").alias("_nr"),
        )

    out = joined.withColumn("_o", let_(tokens(text_col), build))
    return out.select(
        id_col,
        F.col("_o._clean").alias(out_col),
        F.col("_o._nt").alias("n_tokens"),
        F.col("_o._nr").alias("n_removed"),
    )
