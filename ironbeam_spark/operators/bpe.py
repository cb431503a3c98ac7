"""Byte-pair-encoding tokenizer induction (north-star extension — no
reference analogue; the reference has no tokenizer surface at all).

Public algorithm: Sennrich et al. 2016, *Neural Machine Translation of
Rare Words with Subword Units* — iteratively merge the most frequent
adjacent symbol pair.  The classic implementations (subword-nmt, GPT-2's
tokenizer) train on the **word histogram**, not the raw corpus, and so
does this one — which is exactly what makes the algorithm scale:

- One corpus-sized shuffle builds ``(word, count)`` — bounded by corpus
  vocabulary (10⁶–10⁸ rows at 100 TB), orders of magnitude smaller than
  the corpus itself.
- Every merge round then runs over the histogram only: one
  explode-pairs → weighted count aggregation (partial+final), one
  bounded ``limit(1)`` action for the arg-max pair (a single row to the
  driver per round — the same driver-size class as k-means centers), and
  one pure-expression fold applying the merge to each word's symbol
  array.  Lineage is truncated per ``CheckpointPolicy`` (the same
  mechanism as ``dedup_components``) so plan size stays O(1) across
  rounds.
- Segmentation (:func:`bpe_segment`) applies the trained merge ranks
  with the standard lowest-rank-first loop — inherently per-word
  sequential, so it runs as one ``mapInArrow`` pass over the corpus (the
  sanctioned Python tier), never row-at-a-time.

Merge application uses the standard left-to-right non-overlapping
greedy semantics (``a a a`` under merge ``(a, a)`` → ``aa a``), and the
arg-max tie-break is (count desc, pair lexicographic asc) — fully
deterministic, so training is reproducible run to run and engine to
engine.  End-of-word is marked with the classic ``</w>`` sentinel.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ironbeam_spark.functions.text import tokens

__all__ = ["bpe_train", "bpe_segment", "apply_merge_expr"]

EOW = "</w>"


def _word_symbols(w: Column) -> Column:
    """Word → initial symbol array: one symbol per character + ``</w>``."""
    return F.concat(
        F.split(w, ""),
        F.array(F.lit(EOW)),
    )


def apply_merge_expr(syms: Column, a: str, b: str) -> Column:
    """Pure-Catalyst left-to-right non-overlapping merge of adjacent pair
    ``(a, b)`` → ``a||b`` over a symbol array: a single ``aggregate`` fold
    carrying (out, carry) state — no UDF, no extra shuffle."""
    merged = F.lit(a + b)
    la, lb = F.lit(a), F.lit(b)

    def step(acc: Column, s: Column) -> Column:
        carry = acc["carry"]
        return (
            F.when(
                carry.isNull(),
                F.struct(acc["out"].alias("out"), s.alias("carry")),
            )
            .when(
                (carry == la) & (s == lb),
                F.struct(
                    F.concat(acc["out"], F.array(merged)).alias("out"),
                    F.lit(None).cast("string").alias("carry"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(acc["out"], F.array(carry)).alias("out"),
                    s.alias("carry"),
                )
            )
        )

    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("carry"),
    )
    return F.aggregate(
        syms,
        init,
        step,
        lambda acc: F.when(
            acc["carry"].isNull(), acc["out"]
        ).otherwise(F.concat(acc["out"], F.array(acc["carry"]))),
    )


def bpe_train(
    docs: DataFrame,
    text_col: str,
    num_merges: int,
    min_pair_count: int = 2,
    checkpoint_policy=None,
) -> list[tuple[str, str]]:
    """Train ``num_merges`` BPE merges on the corpus' word histogram.
    Returns the ordered merge list ``[(a, b), ...]`` (rank = position).
    Stops early when no pair reaches ``min_pair_count``."""
    from ironbeam_spark.operators.checkpoint import CheckpointPolicy

    policy = checkpoint_policy or CheckpointPolicy.every_n(8)
    hist = (
        docs.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(_word_symbols(F.col("w")).alias("syms"), "n")
    )
    hist = hist.localCheckpoint(eager=True)  # histogram reused every round

    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs = (
            hist.where(F.size("syms") >= 2)
            .select(
                "n",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("syms") - 1),
                        lambda i: F.struct(
                            F.get(F.col("syms"), i - 1).alias("a"),
                            F.get(F.col("syms"), i).alias("b"),
                        ),
                    )
                ).alias("p"),
            )
            .groupBy("p")
            .agg(F.sum("n").alias("cnt"))
        )
        top = (
            pairs.orderBy(F.col("cnt").desc(), F.col("p.a"), F.col("p.b"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] < min_pair_count:
            break
        a, b = top[0]["p"]["a"], top[0]["p"]["b"]
        merges.append((a, b))
        hist = policy.checkpoint(
            hist.select(apply_merge_expr(F.col("syms"), a, b).alias("syms"), "n")
        )
    return merges


def bpe_segment(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Segment every document with trained merges (standard lowest-rank-
    first application per word) — one ``mapInArrow`` pass, ``id_col``
    passed through as its input Arrow array.  Returns
    ``(id, n_words, n_bpe_tokens, first_tokens)`` where ``first_tokens``
    is the pipe-joined segmentation of the first word (a stable probe of
    the merge table's effect)."""
    ranks = {pair: i for i, pair in enumerate(merges)}

    def seg_word(word: str, cache: dict) -> list[str]:
        if word in cache:
            return cache[word]
        syms = list(word) + [EOW]
        while len(syms) >= 2:
            best, best_i = None, -1
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best is None or r < best):
                    best, best_i = r, i
            if best is None:
                break
            a, b = merges[best]
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        cache[word] = syms
        return syms

    def run(batches: Iterator) -> Iterator:
        import pyarrow as pa

        cache: dict = {}
        for rb in batches:
            n_words, n_toks, firsts = [], [], []
            for text in rb.column(1).to_pylist():
                segs = [seg_word(w, cache) for w in (text or "").split(" ") if w]
                n_words.append(len(segs))
                n_toks.append(sum(map(len, segs)))
                firsts.append("|".join(segs[0]) if segs else "")
            yield pa.RecordBatch.from_arrays(
                [rb.column(0), pa.array(n_words, pa.int64()),
                 pa.array(n_toks, pa.int64()), pa.array(firsts, pa.string())],
                names=[id_col, "n_words", "n_bpe_tokens", "first_tokens"],
            )

    id_dt = docs.schema[id_col].dataType.simpleString()
    return docs.select(id_col, text_col).mapInArrow(
        run,
        f"{id_col} {id_dt}, n_words long, n_bpe_tokens long, first_tokens string",
    )
