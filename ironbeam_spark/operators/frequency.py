"""Approximate heavy hitters (frequent items) with bounded memory.

Exact per-element counts (``count_per_element`` + top-k, reference
``src/combiners/count.rs`` / ``topk.rs``) shuffle one row per *distinct*
item — fine until the domain is billions of tokens/URLs at 100 TB.  This
module adds the sketch tier the reference lacks: a **mergeable Misra-Gries
summary** (Agarwal et al., "Mergeable Summaries", PODS'12) with capacity
``m``, written as a :class:`MisraGries` CombineFn and run through the
``combine_globally`` tree (the result stays a lazy DataFrame):

- per partition: exact-count each Arrow batch (``pyarrow.compute``), merge
  into the running summary, trim to ``m`` entries by subtracting the
  (m+1)-th largest count from all and dropping the non-positive — the
  classic MG step, with the subtracted offsets accumulated as the summary's
  error bound;
- merge: same sum+trim over the per-partition summaries, as a two-level
  tree — an intermediate 32-task merge round, then a final
  ``repartition(1)`` over ≤ 32 pickled summaries.

Guarantees (the testable contract): for every item, ``est ≤ true_count ≤
est + err``, and any item with ``true_count > err`` is present in the
output — with ``err`` bounded by roughly ``n/(m+1)`` per merge level.  Both
are asserted against exact counts in the suite query's within-guarantee
booleans and in pytest.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ironbeam_spark.operators.combinefn import CombineFn, combine_globally

__all__ = ["MisraGries", "approx_heavy_hitters", "cms_estimates", "collocations_pmi"]


def _trim(counts: dict, m: int) -> tuple[dict, int]:
    """Keep < m+1 entries: subtract the (m+1)-th largest count from all,
    drop non-positive.  Returns (trimmed, subtracted_offset)."""
    if len(counts) <= m:
        return counts, 0
    pivot = sorted(counts.values(), reverse=True)[m]
    return {k: v - pivot for k, v in counts.items() if v > pivot}, pivot


_NAN = float("nan")


class MisraGries(CombineFn):
    """Misra-Gries summary of column ``col`` with capacity ``m``.  The
    accumulator is ``(counts, err)``; null items are never counted, NaN is
    one item.  Output: ``hh`` (``array<struct<item, est>>``) and ``err``."""

    def __init__(self, col: str, m: int):
        self.col, self.m = col, m

    def create_accumulator(self):
        return {}, 0

    def add_batch(self, acc, batch):
        import pyarrow.compute as pc

        # one batch's exact counts are a summary with err 0
        vc = pc.value_counts(pc.drop_null(batch.column(self.col)))
        exact = dict(zip(vc.field("values").to_pylist(), vc.field("counts").to_pylist()))
        return self.merge_accumulators([acc, (exact, 0)])

    def merge_accumulators(self, accs):
        counts: Counter = Counter()
        for part, _ in accs:
            # NaN != NaN: key every NaN by one object, as Spark groups them
            counts.update({_NAN if k != k else k: c for k, c in part.items()})
        counts, off = _trim(counts, self.m)
        return counts, sum(e for _, e in accs) + off

    def extract_output(self, acc):
        counts, err = acc
        return {"hh": [{"item": k, "est": v} for k, v in counts.items()], "err": err}


def approx_heavy_hitters(df: DataFrame, item_col: str, m: int = 256) -> DataFrame:
    """Frequent-items summary of ``item_col``: ≤ m rows ``(item, est, err)``
    with ``est ≤ true_count ≤ est + err`` for present items and every item
    of ``true_count > err`` guaranteed present.  Memory is O(m) per task and
    the shuffle moves one pickled summary per partition — never one row per
    distinct item.

    The merge is ``combine_globally``'s two-level tree (the reference's
    O(log n) Rayon reduction, ``src/runner.rs:802-810``): an intermediate
    32-task merge round so no single task ever sees more than ~P/32
    summaries, then the final single-partition merge.  MG summaries are
    mergeable at any fan-in (sum + trim, offsets accumulate into ``err``),
    so the guarantee survives every level."""
    item_type = df.schema[item_col].dataType.simpleString()
    summary = combine_globally(
        df.select(item_col),
        MisraGries(item_col, m),
        f"hh array<struct<item:{item_type},est:bigint>>, err bigint",
    )
    return summary.select(F.inline("hh"), "err")


def cms_estimates(
    df: DataFrame,
    item_col: str,
    keys: DataFrame,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Count-Min Sketch point-count estimates (Cormode & Muthukrishnan '05;
    public algorithm).  Returns ``(item, est)`` for every row of ``keys``
    (a one-column DataFrame of items to query), with the CMS guarantee
    ``true_count ≤ est ≤ true_count + ε·N`` (ε ≈ e/width, prob 1−(1/2)^depth).

    Sketch build is one linear pass + one aggregation whose key space is
    the FIXED ``depth × width`` grid — never one row per distinct item, the
    property that survives a 100 TB stream with a billion-key domain:

    - explode each item into ``depth`` (row, bucket) pairs with
      ``bucket_d = md5_int(d || '|' || item) % width`` (deterministic md5
      arithmetic — an external engine reproduces the exact same sketch);
    - ``groupBy(row, bucket).count()`` → the sketch table (≤ depth·width
      rows, broadcastable);
    - estimates = query keys hashed the same way, broadcast-joined against
      the sketch, ``min`` over the depth rows.

    Exactly mirrorable in SQL (same md5 buckets + group-by + min), so the
    suite query's oracle verifies the SKETCH ITSELF, not just a property.
    """
    from ironbeam_spark.functions.text import token_int

    if depth < 1 or width < 1:
        raise ValueError("depth and width must be >= 1")
    rows = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("_d")
    bucket = lambda item: F.pmod(  # noqa: E731
        token_int(F.concat(F.col("_d").cast("string"), F.lit("|"), item)),
        F.lit(width),
    )
    sketch = (
        df.select(F.col(item_col).alias("_item"))
        .select("_item", rows)
        .select("_d", bucket(F.col("_item")).alias("_b"))
        .groupBy("_d", "_b")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    # keys is "a one-column DataFrame of items" — accept any column name
    key_col = keys.columns[0]
    q = keys.select(F.col(key_col).alias("item")).distinct().select(
        "item", rows
    ).select("item", "_d", bucket(F.col("item")).alias("_b"))
    return (
        q.join(F.broadcast(sketch), on=["_d", "_b"], how="left")
        # a bucket no stream item ever hit has count 0, not null
        .withColumn("_c", F.coalesce(F.col("_c"), F.lit(0)))
        .groupBy("item")
        .agg(F.min("_c").cast("long").alias("est"))
    )


def collocations_pmi(
    docs: "DataFrame",
    text_col: str,
    min_count: int = 5,
    top_k: int = 20,
) -> "DataFrame":
    """Top-k adjacent-bigram collocations by pointwise mutual information.

    PMI = log( p(ab) / (p(a)·p(b)) ) ranks the same as its argument, so the
    score emitted is the RATIO itself — ``(c_ab·N) / (c_a·c_b)`` as one
    int64·int64 product per side and a single double division.  IEEE +,*,/
    are correctly rounded in both the JVM and DuckDB (only log differs by
    ulps, SCALE.md), so the score is bit-exact cross-engine and the top-k
    boundary can't flap.  Overflow bound: ``c_ab·N < 2^63`` — holds while
    ``count(commonest bigram) · count(all tokens)`` stays under 9.2e18; at
    a 10^13-token corpus that means bigrams up to ~9·10^5 occurrences,
    beyond which pre-divide by gcd or go to the log form.

    Plan: two linear explodes (tokens, adjacent pairs), combinable counts,
    two hash joins on the token key (vocabulary-sized, not corpus-sized),
    one 1-row broadcast total (lazy — no driver collect), TakeOrdered
    top-k.  Ties at
    the cut break on the bigram text itself, so results are deterministic.
    """
    from pyspark.sql import functions as F

    from ironbeam_spark.functions.hof import let_
    from ironbeam_spark.functions.text import tokens

    toks = tokens(F.lower(F.col(text_col)))

    def build(ts):
        return F.when(
            F.size(ts) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(ts) - 1),
                lambda i: F.struct(
                    F.get(ts, i - 1).alias("a"), F.get(ts, i).alias("b")
                ),
            ),
        ).otherwise(
            F.array().cast("array<struct<a:string,b:string>>")
        )

    uni = (
        docs.select(F.explode(toks).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # 1-row total as a LAZY broadcast cross-join, not a driver collect: an
    # eager collect would force a full tokenize+count job at plan-build
    # time, and the literal would hide the subtree from Catalyst — as one
    # plan, the three uses of `uni` hang off a single ReusedExchange (same
    # pattern as ngram_lm's totals)
    n_tokens = F.broadcast(
        uni.agg(F.coalesce(F.sum("c"), F.lit(0)).alias("_nt"))
    )

    pairs = (
        docs.select(F.explode(let_(toks, build)).alias("bg"))
        .select(F.col("bg.a").alias("a"), F.col("bg.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= F.lit(int(min_count)))
    )
    scored = (
        pairs.join(uni.select(F.col("t").alias("a"), F.col("c").alias("c_a")), "a")
        .join(uni.select(F.col("t").alias("b"), F.col("c").alias("c_b")), "b")
        .crossJoin(n_tokens)
        .select(
            "a", "b", "c_ab",
            (
                (F.col("c_ab") * F.col("_nt")).cast("double")
                / (F.col("c_a") * F.col("c_b")).cast("double")
            ).alias("pmi_ratio"),
        )
    )
    return scored.orderBy(
        F.col("pmi_ratio").desc(), "a", "b"
    ).limit(int(top_k))
