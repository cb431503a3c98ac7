"""Deterministic seeded sampling (reference §2.6 sampling,
``src/combiners/sampling.rs:12-188``, ``src/helpers/sampling.rs``).

The reference's ``PriorityReservoir`` is Efraimidis–Spirakis A-ExpJ with a
SplitMix64-seeded RNG: every element gets a priority, the sample is the top-k
by priority, and the same seed yields the same sample under sequential or
parallel execution.  We reproduce that *contract* (fixed-size, seed-
deterministic, execution-order-independent) with a distributed-friendly
priority:

    priority(row) = md5(seed || '|' || key)

Top-k by (priority, key) compiles to ``TakeOrderedAndProject`` — per-partition
bounded heaps + driver merge, O(n log k), no full sort, no shuffle of the
data.  Unit-weight A-ExpJ is exactly "top-k by a per-element hash-random
priority", so the statistical behavior matches; the bitstream differs from
SplitMix64 (declared engine-local determinism, SURVEY §7 hard-list item 1 —
exact bit-parity with the Rust RNG is not a portable contract).  Bonus over
the reference: the priority is *content-keyed*, so the sample is stable under
repartitioning, insertion order, and engine version.

``sample_fraction`` is the Bernoulli variant: keep iff the first 12 hex chars
of the priority, as a 48-bit integer, fall below ``fraction · 2^48`` — pure
filter, no ordering, no state, mirrors to SQL exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["priority", "sample_reservoir", "sample_fraction", "sample_per_key", "training_mix", "train_val_test_split", "leakage_safe_split", "dsir_importance_weights", "weighted_systematic_sample", "contrastive_negatives"]


def priority(seed: int, key: Column) -> Column:
    """Deterministic per-element priority: md5 over (seed, element key)."""
    return F.md5(F.concat_ws("|", F.lit(str(seed)), key.cast("string")))


def sample_reservoir(
    df: DataFrame, k: int, seed: int, key_col: str
) -> DataFrame:
    """Fixed-size deterministic sample (reference ``sample_reservoir(k, seed)``,
    ``src/helpers/sampling.rs:43``)."""
    p = priority(seed, F.col(key_col))
    return (
        df.withColumn("_priority", p)
        .orderBy(F.col("_priority"), F.col(key_col))
        .limit(k)
        .drop("_priority")
    )


def sample_per_key(
    df: DataFrame, k: int, seed: int, keys: list[str], id_col: str
) -> DataFrame:
    """Per-key fixed-size sample (reference ``sample_per_key``,
    ``src/helpers/sampling.rs:164``): window row_number over the hash
    priority — one shuffle, bounded per-group state."""
    from pyspark.sql import Window as W

    p = priority(seed, F.col(id_col))
    w = W.partitionBy(*keys).orderBy(p, F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def sample_fraction(df: DataFrame, fraction: float, seed: int, key_col: str) -> DataFrame:
    """Deterministic Bernoulli sample (reference ``sample_globally``,
    ``src/helpers/sampling.rs:90``): pure filter on the hash priority, no
    state — the scale path for 'give me ~0.1% of 100 TB'."""
    threshold = int(fraction * (1 << 48))
    h48 = F.conv(F.substring(priority(seed, F.col(key_col)), 1, 12), 16, 10).cast("long")
    return df.where(h48 < F.lit(threshold))


def training_mix(
    df: DataFrame,
    source_col: str,
    weights: dict[str, float],
    seed: int,
    key_col: str,
    default_weight: float = 0.0,
) -> DataFrame:
    """Deterministic dataset mixing for training pipelines: keep each row
    with its source's sampling rate — a per-source Bernoulli on the same
    stateless md5 priority as :func:`sample_fraction`, so the mix is exactly
    reproducible under any partitioning and re-run.

    This is the standard "recipe" step of assembling a training corpus
    (web 10%, books 100%, code 50%, …) expressed as one codegen filter:
    no shuffle, no state, embarrassingly parallel over 100 TB.  Unknown
    sources fall back to ``default_weight`` (0 ⇒ dropped).
    """
    two48 = 1 << 48
    thr = F.lit(int(default_weight * two48)).cast("long")
    for src, w in sorted(weights.items()):
        thr = F.when(F.col(source_col) == src, F.lit(int(w * two48)).cast("long")).otherwise(thr)
    h48 = F.conv(F.substring(priority(seed, F.col(key_col)), 1, 12), 16, 10).cast("long")
    return df.where(h48 < thr)


def train_val_test_split(
    df: DataFrame,
    key_col: str,
    seed: int,
    train: float = 0.8,
    val: float = 0.1,
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment — the corpus-freeze step of a
    training pipeline.  Each row's bucket is its stateless md5 priority
    (same family as :func:`sample_fraction`): reproducible under any
    partitioning, any re-run, any engine (the SQL oracle applies the same
    arithmetic), and rows with the same ``key_col`` always land in the same
    split — which is what prevents leakage when the key is a content hash
    or document id.  One codegen projection: no shuffle, no state.

    ``train`` and ``val`` are fractions of the 48-bit hash space; the rest
    is test.  Returns ``df`` plus ``split_col`` ∈ {'train','val','test'}."""
    if not (0 < train < 1 and 0 <= val < 1 and train + val < 1):
        raise ValueError(f"invalid split fractions train={train} val={val}")
    two48 = 1 << 48
    h48 = F.conv(F.substring(priority(seed, F.col(key_col)), 1, 12), 16, 10).cast("long")
    t_thr = F.lit(int(train * two48)).cast("long")
    v_thr = F.lit(int((train + val) * two48)).cast("long")
    split = (
        # explicit null-key policy: concat_ws would silently hash a null key
        # as the bare seed (co-assigning ALL null keys to one seed-dependent
        # split), while the SQL mirror's '||' yields NULL -> CASE falls to
        # 'test'.  Pin the SQL behavior so both engines agree.
        F.when(F.col(key_col).isNull(), F.lit("test"))
        .when(h48 < t_thr, F.lit("train"))
        .when(h48 < v_thr, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn(split_col, split)


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    seed: int,
    train: float = 0.8,
    val: float = 0.1,
    split_col: str = "split",
    group_col: str = "group_key",
) -> DataFrame:
    """Group-aware train/val/test split: every member of a near-duplicate
    GROUP lands in the same split, so an eval doc can never have a
    near-copy in train.  :func:`train_val_test_split` keyed on the doc id
    co-assigns only EXACT-key duplicates; near-dups (paraphrases, boiler-
    plate variants, the pairs a MinHash miner emits) straddle splits and
    leak — the standard contamination failure in LM eval.

    ``pairs`` is a near-dup pair table (``id_a``/``id_b``, e.g. from
    :func:`~ironbeam_spark.operators.dedup.minhash_dedup_pairs`).  Groups
    are its connected components
    (:func:`~ironbeam_spark.operators.dedup.dedup_components` — min-id
    canonical label, O(log diameter) pointer-jumping rounds); unpaired
    docs form singleton groups keyed by their own id.  The split is then
    the same stateless md5-bucket assignment as
    :func:`train_val_test_split`, applied to the GROUP key — one extra
    left join over the (tiny) component table, everything else identical.

    Returns ``docs`` plus ``group_col`` (the component label / own id) and
    ``split_col``.  Deterministic under any partitioning; exact-oracle-able
    (recursive-CTE reachability + identical hash arithmetic).
    """
    from ironbeam_spark.operators.dedup import dedup_components

    comp = dedup_components(pairs).withColumnRenamed("node", id_col)
    joined = docs.join(comp, on=id_col, how="left").withColumn(
        group_col, F.coalesce(F.col("component"), F.col(id_col))
    ).drop("component")
    return train_val_test_split(
        joined, group_col, seed=seed, train=train, val=val, split_col=split_col
    )


def dsir_importance_weights(
    docs: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    buckets: int = 256,
    ngram: int = 2,
) -> DataFrame:
    """DSIR-style importance weighting for data selection (public algorithm
    family: Xie et al. 2023, *Data Selection for Language Models via
    Importance Resampling* — hashed n-gram features, importance weights =
    target/raw distribution ratios).

    Features are hashed word ``ngram``\\ s bucketed mod ``buckets``; both
    distributions use add-one smoothing (``p(f) = (c_f + 1) /
    (total + buckets)``).  The per-document weight is the **ratio sum**
    ``Σ_f p_target(f)/p_raw(f)`` over the document's feature occurrences —
    the rational member of the scoring family (the paper's log-likelihood
    ratio is the same ranking signal through a monotone per-feature
    transform; ``ln`` differs by 1 ulp between JVM and DuckDB libm, so the
    log form cannot be exact-oracled — same documented trade as
    ``q_bm25_rational``).  The sum folds over the (feature, ratio) pairs in
    sorted order, so the doubles are bit-reproducible cross-engine.

    Plan shape, built for a 100 TB raw corpus:

    - one scan of raw + target to count features (partial+final agg,
      shuffle bounded by ``buckets``);
    - totals ride a constant-key **BroadcastHashJoin** (never a scalar
      BNLJ), the ≤ ``buckets``-row ratio table broadcasts onto the
      exploded features;
    - per-doc aggregation is the only |corpus|-sized shuffle.

    Returns ``(id, n_feats, dsir_weight)`` — one row per raw doc;
    feature-less docs weigh 0.0."""
    from ironbeam_spark.functions.hof import let_
    from ironbeam_spark.functions.text import token_int, tokens
    from ironbeam_spark.operators.dedup import SHINGLE_MOD

    def feats(df: DataFrame, with_id: bool = True) -> DataFrame:
        # let_-bind the md5 token-hash array (same reason as
        # dedup.hashed_word_shingles): every size()/get() reference below
        # would otherwise embed its own copy of the md5 pass, and these
        # interpreted lambdas re-evaluate per reference — on a 100 TB raw
        # scan that multiplies the dominant hashing work several-fold
        token_hashes = F.transform(tokens(text_col), lambda t: token_int(t))

        def build(tis: Column) -> Column:
            def at(i: Column) -> Column:
                acc = F.get(tis, i - 1).cast("long")
                for j in range(1, ngram):
                    acc = (acc * F.lit(31) + F.get(tis, i + F.lit(j) - 1)) % F.lit(
                        SHINGLE_MOD
                    )
                return acc % F.lit(buckets)

            return F.when(
                F.size(tis) >= ngram,
                F.transform(
                    F.sequence(F.lit(1), F.size(tis) - F.lit(ngram - 1)), at
                ),
            ).otherwise(F.array().cast("array<bigint>"))

        ex = F.explode(let_(token_hashes, build)).alias("_f")
        # the target side is counted only — requiring id_col there would
        # reject any target corpus whose schema lacks the raw corpus's id
        # column (round-6 ADVICE); any frame with text_col works as target
        return df.select(F.col(id_col), ex) if with_id else df.select(ex)

    raw_f = feats(docs)
    tgt_f = feats(target, with_id=False)

    def counts(fdf: DataFrame, name: str) -> DataFrame:
        return fdf.groupBy("_f").agg(F.count(F.lit(1)).alias(name))

    B = F.lit(float(buckets))
    raw_c = counts(raw_f, "_cr").withColumn("_k", F.lit(1))
    tgt_c = counts(tgt_f, "_ct")
    raw_tot = raw_f.groupBy(F.lit(1).alias("_k")).agg(
        F.count(F.lit(1)).alias("_tr")
    )
    tgt_tot = tgt_f.groupBy(F.lit(1).alias("_k")).agg(
        F.count(F.lit(1)).alias("_tt")
    )
    ratio = (
        raw_c.join(tgt_c, on="_f", how="left")
        .join(F.broadcast(raw_tot), on="_k")
        # LEFT join: an EMPTY target produces zero total rows, and an inner
        # join here would silently drop every ratio row (zeroing weights
        # AND n_feats); with tt=0 the smoothing degenerates to the uniform
        # p_t = 1/buckets, which is the sensible no-information answer
        .join(F.broadcast(tgt_tot), on="_k", how="left")
        .select(
            "_f",
            (
                (
                    (F.coalesce(F.col("_ct"), F.lit(0)) + F.lit(1)).cast("double")
                    / (F.coalesce(F.col("_tt"), F.lit(0)) + B)
                )
                / (
                    (F.col("_cr") + F.lit(1)).cast("double") / (F.col("_tr") + B)
                )
            ).alias("_ratio"),
        )
    )
    per_doc = (
        raw_f.join(F.broadcast(ratio), on="_f")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.aggregate(
                F.sort_array(F.collect_list(F.struct("_f", "_ratio"))),
                F.lit(0.0),
                lambda acc, x: acc + x["_ratio"],
            ).alias("dsir_weight"),
        )
    )
    return (
        docs.select(id_col)
        .join(per_doc, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce(F.col("n_feats"), F.lit(0)).alias("n_feats"),
            F.coalesce(F.col("dsir_weight"), F.lit(0.0)).alias("dsir_weight"),
        )
    )


def contrastive_negatives(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    k: int = 5,
    seed: int = 7,
    pool_margin: int = 16,
    anchor_col: str = "id_a",
    positive_col: str = "id_b",
) -> DataFrame:
    """Contrastive training triples from a near-dup pair table:
    ``(anchor, positive, negatives array)`` — one row per input pair, with
    up to ``k`` seeded negatives drawn from a SHARED candidate pool (the
    in-batch-negatives contract used when training embedding / retrieval
    models on mined duplicate pairs).

    Scale shape — the naive spelling ranks every (anchor, candidate) pair
    and is quadratic; this one is linear: ONE global seeded priority sort
    picks a pool of ``k + 1 + pool_margin`` candidate ids (a bounded
    driver-side collect, same class as the PQ codebooks), every anchor
    filters that broadcast pool against its OWN dup-partner set (a
    collect_set aggregate over the pair table — bounded by the anchor's
    duplicate degree) in a pure array expression, and takes the first
    ``k`` survivors in pool-priority order.  No join against the corpus,
    no per-anchor shuffle beyond the partner aggregate.

    An anchor whose exclusions (itself + its partners) exceed
    ``pool_margin + 1`` gets FEWER than ``k`` negatives — deterministic
    and visible in the output rather than silently re-sampling; raise
    ``pool_margin`` for corpora with large duplicate groups.  Practical
    ceiling: the collected pool becomes an ``array(...)`` LITERAL embedded
    in every task's serialized plan (not a broadcast variable), so
    ``k + 1 + pool_margin`` should stay in the 10^3-10^4 range — beyond
    that, plan size and per-task eval cost of the linear array filter both
    grow with the pool, and a dup group that large means the duplicate
    graph, not the sampler, needs attention first.  Enforced at 100_000
    as a hard sanity cap.
    ``pairs`` is treated as undirected: both endpoints' partner sets
    exclude each other.

    NULL-id policy: NULL ids are excluded from the candidate pool up
    front — ``concat_ws`` in :func:`priority` would silently hash a NULL
    id as the bare seed (diverging from a SQL mirror's ``||``, which
    yields NULL), and a NULL could never be emitted anyway (``c !=
    anchor`` evaluates to NULL), so admitting one would waste a pool slot
    invisibly.  Same explicit-policy contract as
    :func:`train_val_test_split`.
    """
    if k < 1:
        raise ValueError(f"contrastive_negatives: k must be >= 1, got {k}")
    pool_size = k + 1 + pool_margin
    if pool_size > 100_000:
        raise ValueError(
            f"contrastive_negatives: pool of k+1+pool_margin={pool_size} ids "
            "exceeds the 100000 sanity cap — the pool is embedded as an "
            "array literal in every task's plan; shrink pool_margin or "
            "shrink the duplicate groups driving it"
        )
    id_type = dict(docs.dtypes)[id_col]
    # bounded scalar collect (pool_size rows of one id column), in priority
    # order — the pool IS a seeded reservoir sample, so reuse its single
    # definition of the priority/tie-break spelling
    pool_rows = sample_reservoir(
        docs.select(id_col).where(F.col(id_col).isNotNull()),
        pool_size,
        seed,
        id_col,
    ).collect()
    pool_arr = F.array(*[F.lit(r[id_col]) for r in pool_rows]).cast(
        f"array<{id_type}>"
    )
    partners = (
        pairs.select(F.col(anchor_col).alias("anchor"), F.col(positive_col).alias("_b"))
        .unionByName(
            pairs.select(F.col(positive_col).alias("anchor"), F.col(anchor_col).alias("_b"))
        )
        .groupBy("anchor")
        .agg(F.collect_set("_b").alias("_excl"))
    )
    anchors = pairs.select(
        F.col(anchor_col).alias("anchor"), F.col(positive_col).alias("positive")
    )
    empty = F.array().cast(f"array<{id_type}>")
    return anchors.join(partners, on="anchor", how="left").select(
        "anchor",
        "positive",
        F.slice(
            F.filter(
                pool_arr,
                lambda c: (c != F.col("anchor"))
                & ~F.array_contains(F.coalesce(F.col("_excl"), empty), c),
            ),
            1,
            k,
        ).alias("negatives"),
    )


def weighted_systematic_sample(
    df: DataFrame,
    k: int,
    seed: int,
    order_cols: list[str],
    weight_col: str,
) -> DataFrame:
    """Seeded systematic sampling with probability proportional to size
    (Madow 1949, the classic PPS design — public statistics literature; no
    reference analogue, whose sampling surface is uniform-weight only,
    src/combiners/sampling.rs).

    ``k`` equally-spaced probes walk the cumulative-weight line ``[0, W)``
    from a seeded offset: probe ``j`` sits at ``(o + floor(j*W/k)) mod W``.
    A row whose weight interval contains a probe is selected; a row heavier
    than the stride ``W/k`` can catch several probes — ``multiplicity``
    reports how many (the PPS-with-replacement contract).  Same seed, same
    data, same sample — independent of partitioning and execution order.

    Scale shape: the cumulative line comes from the two-pass prefix scan
    (:func:`~ironbeam_spark.operators.scan.global_running_sum` — never a
    single-partition window); probes join intervals through BUCKETS of the
    mean stride, so a row explodes into ``weight/stride + 1`` buckets and
    the total bucket stream is ``~k + n`` rows — an equi-join, never a
    range cross-join.  ``W`` and the seeded offset are one bounded 1-row
    scalar (same class as the BM25 stats row).  Exactness: weights must be
    integral (same contract as the prefix scan); every probe position is
    exact int64 arithmetic — ``floor(j*W/k)`` is computed as
    ``j*(W div k) + (j*(W mod k)) div k`` so nothing overflows even at
    ``W ~ 10^15`` tokens, and the md5-seeded offset mirrors to SQL
    verbatim.

    Rows with non-positive weight are never selected (dropped up front).
    Returns the selected rows (all input columns) + ``multiplicity``.
    """
    import hashlib

    if k <= 0:
        raise ValueError("weighted_systematic_sample: k must be positive")
    from ironbeam_spark.operators.scan import global_running_sum

    pos = df.where(F.col(weight_col) > 0)
    cum = global_running_sum(pos, order_cols, weight_col, "_cum")
    null_key = F.lit(False)
    for c in order_cols:
        null_key = null_key | F.col(c).isNull()
    total = pos.agg(
        F.sum(weight_col).cast("long").alias("w"),
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.struct(*order_cols)).alias("nd"),
        F.count_if(null_key).alias("nulls"),
    ).collect()
    # the final hit attachment is pos.join(hits, on=order_cols): duplicate
    # keys would FAN OUT (inflated multiplicities) and NULL keys would
    # silently drop — global_running_sum only checks this when the input
    # has payload columns, so enforce it here unconditionally
    if total[0]["n"] != total[0]["nd"] or total[0]["nulls"]:
        raise ValueError(
            "weighted_systematic_sample: order_cols must uniquely and "
            f"non-NULL-y key rows (order_cols={list(order_cols)}, "
            f"rows={total[0]['n']}, distinct={total[0]['nd']}, "
            f"null_keys={total[0]['nulls']})"
        )
    w_total = int(total[0]["w"] or 0)
    if w_total == 0:
        return df.withColumn("multiplicity", F.lit(0).cast("long")).limit(0)
    offset = int(hashlib.md5(str(seed).encode()).hexdigest()[:12], 16) % w_total
    stride_b = max(1, w_total // k)  # bucket width ~ mean stride

    spark = df.sparkSession
    # probe_j = (o + floor(j*W/k)) mod W, all exact int64 `div`/`%`
    probe_sql = (
        f"({offset} + id * {w_total // k}"
        f" + id * {w_total % k} div {k}) % {w_total}"
    )
    probes = spark.range(k).select(
        F.expr(probe_sql).cast("long").alias("_t"),
        F.expr(f"({probe_sql}) div {stride_b}").alias("_bkt"),
    )
    start = (F.col("_cum") - F.col(weight_col)).alias("_start")
    spans = cum.select(
        *order_cols,
        start,
        F.col("_cum").alias("_end"),
    ).withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.expr(f"_start div {stride_b}"),
                F.expr(f"(_end - 1) div {stride_b}"),
            )
        ),
    )
    hits = (
        spans.join(probes, on="_bkt")
        .where((F.col("_t") >= F.col("_start")) & (F.col("_t") < F.col("_end")))
        .groupBy(*order_cols)
        .agg(F.count(F.lit(1)).cast("long").alias("multiplicity"))
    )
    return pos.join(hits, on=list(order_cols))
