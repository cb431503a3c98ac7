"""PCollection — a thin, lazy, ironbeam-flavored wrapper over DataFrame.

The reference engine's core abstraction is ``PCollection<T>``: an immutable
lazy handle onto a dataflow DAG (reference ``src/collection.rs:70-96``).
Spark's ``DataFrame`` already *is* that — immutable, lazy, transform-returns-
new — so this wrapper adds only the operator vocabulary, keyed conventions,
and semantics documentation; every method compiles directly to native
DataFrame/Catalyst expressions (never row-at-a-time Python in the hot path).

Conventions
-----------
- A *keyed* collection (reference ``PCollection<(K, V)>``) is a DataFrame in
  which some columns are designated keys.  Keyed operators take
  ``key_cols``/use the keys set by :meth:`PCollection.key_by`.
- ``Option<T>`` maps to nullable columns; tuple-of-Option join outputs map to
  the reference's shapes via plain nullable join columns
  (``src/helpers/joins.rs:543-546``).
- Per-group lists (``group_by_key`` → ``(K, Vec<V>)``,
  ``src/helpers/keyed.rs:213``) have *no defined order* in the reference;
  here we expose ``sort=True`` to make them deterministic (needed for any
  oracle comparison).

Scale notes (100 TB design intent)
----------------------------------
Everything here stays inside Catalyst: fusion, predicate pushdown, partial
aggregation, AQE re-planning are delegated (SURVEY §4: zero custom optimizer
rules needed).  The only operators that leave the JVM are the explicitly
Python-flavored escape hatches (``map_batches``, ``map_values_batches``,
``batch_by_size``), which cross on Arrow (``mapInArrow``/``applyInArrow``).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Sequence
from functools import reduce
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as _types

__all__ = ["PCollection", "from_df", "from_vec", "flatten"]


def _cols(cs: Iterable[str | Column]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in cs]


def from_df(df: DataFrame, key_cols: Sequence[str] = ()) -> "PCollection":
    return PCollection(df, tuple(key_cols))


def from_vec(
    spark: SparkSession, data: list, schema: Any = None
) -> "PCollection":
    """In-memory source (reference ``from_vec``, ``src/helpers/stdlib.rs:64``)."""
    return PCollection(spark.createDataFrame(data, schema=schema))


def flatten(pcs: Sequence["PCollection"]) -> "PCollection":
    """Union-all of N same-schema collections (reference ``flatten``,
    ``src/helpers/flatten.rs:110``). Uses ``unionByName`` so column order is
    irrelevant, as in the reference's type-checked flatten."""
    if not pcs:
        raise ValueError("flatten() needs at least one collection")
    df = reduce(lambda a, b: a.unionByName(b), [p.df for p in pcs])
    return PCollection(df, pcs[0].key_cols)


class PCollection:
    """Lazy, immutable, typed handle over a DataFrame (ref ``src/collection.rs``)."""

    def __init__(self, df: DataFrame, key_cols: tuple[str, ...] = ()):
        self.df = df
        self.key_cols = tuple(key_cols)

    # ------------------------------------------------------------------ core
    def _with(self, df: DataFrame, key_cols: tuple[str, ...] | None = None) -> "PCollection":
        return PCollection(df, self.key_cols if key_cols is None else key_cols)

    @property
    def spark(self) -> SparkSession:
        return self.df.sparkSession

    def to_df(self) -> DataFrame:
        return self.df

    # ------------------------------------------- element-wise (ref §2.2)
    def map(self, *exprs: Column | str, **named: Column) -> "PCollection":
        """Projection (reference ``map``, ``src/helpers/common.rs:44``).

        Expressed as ``select`` so Catalyst fuses adjacent maps
        (CollapseProject == the reference's stateless fusion pass,
        ``src/planner.rs:1251``).
        """
        cols = _cols(exprs) + [c.alias(n) for n, c in named.items()]
        return self._with(self.df.select(*cols))

    def with_column(self, name: str, expr: Column) -> "PCollection":
        return self._with(self.df.withColumn(name, expr))

    def filter(self, cond: Column | str) -> "PCollection":
        """Reference ``filter`` (``src/helpers/common.rs:75``)."""
        return self._with(self.df.filter(cond))

    def flat_map(self, array_expr: Column, alias: str, keep: Sequence[str] = ()) -> "PCollection":
        """1→N expansion via explode (reference ``flat_map``,
        ``src/helpers/common.rs:164``).  ``array_expr`` must be an array
        column expression; ``keep`` lists passthrough columns."""
        cols = _cols(keep) + [F.explode(array_expr).alias(alias)]
        return self._with(self.df.select(*cols))

    def filter_map(self, expr: Column, alias: str, keep: Sequence[str] = ()) -> "PCollection":
        """map+filter-nulls in one (reference ``filter_map``,
        ``src/helpers/stdlib.rs:248``)."""
        cols = _cols(keep) + [expr.alias(alias)]
        return self._with(self.df.select(*cols).filter(F.col(alias).isNotNull()))

    def take(self, n: int) -> "PCollection":
        """Limit with Catalyst pushdown (reference ``take``,
        ``src/helpers/common.rs:113``; plan-level limit ``src/planner.rs:889-900``)."""
        return self._with(self.df.limit(n))

    def first(self) -> "PCollection":
        return self.take(1)

    def to_display_string(self, col: str, alias: str = "display") -> "PCollection":
        """Reference ``to_display_string`` (``src/helpers/display.rs:44``)."""
        return self._with(self.df.select(F.col(col).cast("string").alias(alias)))

    def apply(self, fn: Callable[[DataFrame], DataFrame]) -> "PCollection":
        """Composite transform (reference ``apply_composite``,
        ``src/extensions.rs:13-60``) — a reusable ``DataFrame -> DataFrame``."""
        return self._with(self.df.transform(fn))

    def with_name(self, name: str) -> "PCollection":
        """Label for explain output (reference ``with_name``,
        ``src/helpers/named.rs:96``)."""
        return self._with(self.df.alias(name))

    # --------------------------------------------- predicates (ref §2.3)
    def filter_eq(self, col: str, v: Any) -> "PCollection":
        return self.filter(F.col(col) == F.lit(v))

    def filter_ne(self, col: str, v: Any) -> "PCollection":
        return self.filter(F.col(col) != F.lit(v))

    def filter_lt(self, col: str, v: Any) -> "PCollection":
        return self.filter(F.col(col) < F.lit(v))

    def filter_le(self, col: str, v: Any) -> "PCollection":
        return self.filter(F.col(col) <= F.lit(v))

    def filter_gt(self, col: str, v: Any) -> "PCollection":
        return self.filter(F.col(col) > F.lit(v))

    def filter_ge(self, col: str, v: Any) -> "PCollection":
        return self.filter(F.col(col) >= F.lit(v))

    def filter_range(self, col: str, lo: Any, hi: Any) -> "PCollection":
        """Half-open ``[lo, hi)`` (reference ``filter_range``,
        ``src/helpers/filter.rs:224``)."""
        return self.filter((F.col(col) >= F.lit(lo)) & (F.col(col) < F.lit(hi)))

    def filter_range_inclusive(self, col: str, lo: Any, hi: Any) -> "PCollection":
        return self.filter(F.col(col).between(F.lit(lo), F.lit(hi)))

    # ------------------------------------------------ keyed ops (ref §2.4)
    def key_by(self, *key: str | Column, **named: Column) -> "PCollection":
        """Designate key columns (reference ``key_by``,
        ``src/helpers/keyed.rs:45``).  Computed keys are materialized as
        named columns."""
        df = self.df
        names: list[str] = []
        for k in key:
            if isinstance(k, str):
                names.append(k)
            else:
                raise TypeError("positional keys must be column names; use named= for expressions")
        for n, c in named.items():
            df = df.withColumn(n, c)
            names.append(n)
        return PCollection(df, tuple(names))

    def with_constant_key(self, value: Any, name: str = "key") -> "PCollection":
        """Reference ``with_constant_key`` (``src/helpers/keyed.rs:76``)."""
        return PCollection(self.df.withColumn(name, F.lit(value)), (name,))

    def keys(self) -> "PCollection":
        """Project keys (reference ``keys``, ``src/helpers/keyed.rs:130``)."""
        self._require_keys()
        return PCollection(self.df.select(*self.key_cols), self.key_cols)

    def values(self, *value_cols: str) -> "PCollection":
        """Project values (reference ``values``, ``src/helpers/keyed.rs:153``)."""
        cols = list(value_cols) or [c for c in self.df.columns if c not in self.key_cols]
        return PCollection(self.df.select(*cols))

    def map_values(self, **named: Column) -> "PCollection":
        """Value-only transform, keys preserved (reference ``map_values``,
        ``src/helpers/values.rs:67``; planner flags key_preserving+value_only
        — Catalyst needs no flags, pushdown still applies)."""
        self._require_keys()
        df = self.df
        for n, c in named.items():
            df = df.withColumn(n, c)
        return self._with(df)

    def filter_values(self, cond: Column) -> "PCollection":
        """Reference ``filter_values`` (``src/helpers/values.rs:105``)."""
        return self._with(self.df.filter(cond))

    def kv_swap(self, value_cols: Sequence[str]) -> "PCollection":
        """Swap key and value roles (reference ``kv_swap``,
        ``src/helpers/keyed.rs:279``) — a metadata-only operation here."""
        self._require_keys()
        return PCollection(self.df, tuple(value_cols))

    def group_by_key(self, *value_cols: str, sort: bool = True) -> "PCollection":
        """``(K, V) → (K, list<V>)`` (reference ``group_by_key``,
        ``src/helpers/keyed.rs:213-250``).

        The reference's per-group order is merge-order (effectively
        unspecified); ``sort=True`` (default) makes output deterministic via
        ``sort_array`` — SURVEY §7 hard-list item 3.  At scale this is a
        single hash shuffle; Spark plans partial ``collect_list`` map-side.
        """
        self._require_keys()
        vals = list(value_cols) or [c for c in self.df.columns if c not in self.key_cols]
        aggs = []
        for v in vals:
            a = F.collect_list(v)
            if sort:
                a = F.sort_array(a)
            aggs.append(a.alias(f"{v}_list"))
        return self._with(self.df.groupBy(*self.key_cols).agg(*aggs), self.key_cols)

    def group_into_batches(
        self, n: int, value_col: str, sort: bool = True, keep_batch_id: bool = False
    ) -> "PCollection":
        """``(K, V) → (K, list<V> of size ≤ n)`` (reference
        ``group_into_batches``, ``src/helpers/batches.rs:297``).

        Implemented shuffle-once: a window ``row_number`` assigns each value a
        batch id, then one groupBy emits the chunks.  No driver
        materialization, batches stay distributed.
        """
        from pyspark.sql import Window as W

        self._require_keys()
        order = F.col(value_col) if sort else F.monotonically_increasing_id()
        w = W.partitionBy(*self.key_cols).orderBy(order)
        df = self.df.withColumn(
            "_batch", F.floor((F.row_number().over(w) - F.lit(1)) / F.lit(n))
        )
        out = df.groupBy(*self.key_cols, "_batch").agg(
            F.sort_array(F.collect_list(value_col)).alias(f"{value_col}_batch")
        )
        if keep_batch_id:
            out = out.withColumnRenamed("_batch", "batch_id")
        else:
            out = out.drop("_batch")
        return self._with(out, self.key_cols)

    def _require_keys(self) -> None:
        if not self.key_cols:
            raise ValueError("operation requires key columns; call key_by() first")

    # --------------------------------------------------- joins (ref §2.5)
    def _join(self, other: "PCollection", how: str, on: Sequence[str] | None) -> "PCollection":
        keys = list(on) if on is not None else list(self.key_cols)
        if not keys:
            raise ValueError("join requires key columns")
        # Broadcast hint is left to Catalyst/AQE; callers can pre-wrap with
        # F.broadcast via .hint(). Duplicate non-key columns are suffixed.
        left, right = self.df, other.df
        overlap = (set(left.columns) & set(right.columns)) - set(keys)
        for c in overlap:
            right = right.withColumnRenamed(c, f"{c}_right")
        return PCollection(left.join(right, on=keys, how=how), tuple(keys))

    def join_inner(self, other: "PCollection", on: Sequence[str] | None = None) -> "PCollection":
        """Equi inner join (reference ``join_inner``,
        ``src/helpers/joins.rs:148-252``).  The reference's Bloom semi-join
        pre-filter maps to Spark's runtime Bloom filter + broadcast joins —
        enabled in :mod:`ironbeam_spark.session`."""
        return self._join(other, "inner", on)

    def join_left(self, other: "PCollection", on: Sequence[str] | None = None) -> "PCollection":
        """Reference ``join_left`` (``src/helpers/joins.rs:281-382``);
        ``Option<W>`` ⇒ nullable right columns."""
        return self._join(other, "left", on)

    def join_right(self, other: "PCollection", on: Sequence[str] | None = None) -> "PCollection":
        """Reference ``join_right`` (``src/helpers/joins.rs:411-513``)."""
        return self._join(other, "right", on)

    def join_full(self, other: "PCollection", on: Sequence[str] | None = None) -> "PCollection":
        """Reference ``join_full`` (``src/helpers/joins.rs:543-645``)."""
        return self._join(other, "full_outer", on)

    def join_semi(self, other: "PCollection", on: Sequence[str] | None = None) -> "PCollection":
        """Left-semi join — not a reference operator (its Bloom semi-join is
        internal-only, ``src/bloom_filter.rs``); free in Spark."""
        return self._join(other, "left_semi", on)

    def join_anti(self, other: "PCollection", on: Sequence[str] | None = None) -> "PCollection":
        return self._join(other, "left_anti", on)

    def cogroup(
        self,
        others: "Sequence[PCollection]",
        value_cols: Sequence[Sequence[str]],
        on: Sequence[str],
        sort: bool = True,
    ) -> "PCollection":
        """N-way CoGroupByKey (reference ``cogroup_by_key!``,
        ``src/helpers/co_gbk.rs:305-350``): full-outer group of N sources by
        key → one list column per source.

        Implemented as per-source ``groupBy().collect_list`` (partial agg,
        one shuffle each) then full-outer joins of the *aggregated* (small)
        sides — the scalable plan; missing sides yield empty arrays, matching
        the reference's ``Vec::new()`` for absent keys.
        """
        sides = [self] + list(others)
        aggs = []
        for i, (pc, vcols) in enumerate(zip(sides, value_cols)):
            exprs = []
            for v in vcols:
                a = F.collect_list(v)
                if sort:
                    a = F.sort_array(a)
                exprs.append(a.alias(f"{v}_list_{i}"))
            aggs.append(pc.df.groupBy(*on).agg(*exprs))
        out = reduce(lambda a, b: a.join(b, on=list(on), how="full_outer"), aggs)
        # absent side ⇒ empty list, not null (reference emits empty Vec)
        for i, vcols in enumerate(value_cols):
            for v in vcols:
                c = f"{v}_list_{i}"
                out = out.withColumn(c, F.coalesce(F.col(c), F.array().cast(out.schema[c].dataType)))
        return PCollection(out, tuple(on))

    # --------------------------------------------- aggregation (ref §2.6)
    def agg_per_key(self, *aggs: Column) -> "PCollection":
        """``combine_values`` (reference ``src/helpers/combine.rs:66``) —
        Spark plans partial+final hash aggregation automatically (the
        reference's GBK→Combine lifting pass, ``src/planner.rs:1603``)."""
        self._require_keys()
        return self._with(self.df.groupBy(*self.key_cols).agg(*aggs), self.key_cols)

    def agg_global(self, *aggs: Column) -> "PCollection":
        """``combine_globally`` (reference ``src/helpers/combine_global.rs:50``).
        Emits exactly one row; on empty input Spark's global agg also emits
        the identity row, matching the reference's emit-identity contract."""
        return PCollection(self.df.agg(*aggs))

    def sum_per_key(self, col: str, alias: str | None = None) -> "PCollection":
        """Reference ``sum_per_key`` (``src/helpers/basic.rs:208``)."""
        return self.agg_per_key(F.sum(col).alias(alias or f"sum_{col}"))

    def min_per_key(self, col: str, alias: str | None = None) -> "PCollection":
        return self.agg_per_key(F.min(col).alias(alias or f"min_{col}"))

    def max_per_key(self, col: str, alias: str | None = None) -> "PCollection":
        return self.agg_per_key(F.max(col).alias(alias or f"max_{col}"))

    def average_per_key(self, col: str, alias: str | None = None) -> "PCollection":
        """Reference ``average_per_key`` (``src/helpers/basic.rs:301``)."""
        return self.agg_per_key(F.avg(col).alias(alias or f"avg_{col}"))

    def count_per_key(self, alias: str = "count") -> "PCollection":
        """Reference ``count_per_key`` (``src/helpers/count.rs:116``)."""
        return self.agg_per_key(F.count(F.lit(1)).alias(alias))

    def count_per_element(self, *cols: str, alias: str = "count") -> "PCollection":
        """Reference ``count_per_element`` (``src/helpers/count.rs:72``)."""
        use = list(cols) or self.df.columns
        return PCollection(
            self.df.groupBy(*use).agg(F.count(F.lit(1)).alias(alias)), tuple(use)
        )

    def count_globally(self, alias: str = "count") -> "PCollection":
        return self.agg_global(F.count(F.lit(1)).alias(alias))

    def sum_globally(self, col: str, alias: str | None = None) -> "PCollection":
        return self.agg_global(F.sum(col).alias(alias or f"sum_{col}"))

    def min_globally(self, col: str, alias: str | None = None) -> "PCollection":
        return self.agg_global(F.min(col).alias(alias or f"min_{col}"))

    def max_globally(self, col: str, alias: str | None = None) -> "PCollection":
        return self.agg_global(F.max(col).alias(alias or f"max_{col}"))

    def average_globally(self, col: str, alias: str | None = None) -> "PCollection":
        return self.agg_global(F.avg(col).alias(alias or f"avg_{col}"))

    # distinct family (reference src/helpers/distinct.rs)
    def distinct(self) -> "PCollection":
        """Reference ``distinct`` (``src/helpers/distinct.rs:69``)."""
        return self._with(self.df.distinct())

    def distinct_by(self, *cols: str) -> "PCollection":
        """First-seen-wins dedupe by derived key (reference ``distinct_by``,
        ``src/helpers/distinct.rs:200``).  The reference keeps an arbitrary
        winner; ``dropDuplicates`` matches that contract."""
        return self._with(self.df.dropDuplicates(list(cols)))

    def distinct_count_globally(self, col: str, alias: str = "distinct_count") -> "PCollection":
        return self.agg_global(F.countDistinct(col).alias(alias))

    def distinct_count_per_key(self, col: str, alias: str = "distinct_count") -> "PCollection":
        self._require_keys()
        return self.agg_per_key(F.countDistinct(col).alias(alias))

    def approx_count_distinct(self, col: str, rsd: float = 0.016, alias: str = "approx_distinct") -> "PCollection":
        """HLL++ sketch (reference ``HllApproxDistinctCount``,
        ``src/combiners/distinct.rs:230-389``; default precision 12 ≈ 1.6%
        rsd — we default the same error budget)."""
        return self.agg_global(F.approx_count_distinct(col, rsd).alias(alias))

    def approx_count_distinct_per_key(self, col: str, rsd: float = 0.016, alias: str = "approx_distinct") -> "PCollection":
        self._require_keys()
        return self.agg_per_key(F.approx_count_distinct(col, rsd).alias(alias))

    def approx_quantiles_globally(self, col: str, qs: Sequence[float], alias: str = "quantiles") -> "PCollection":
        """Reference ``approx_quantiles_globally`` (t-digest,
        ``src/helpers/statistical.rs:86``) → Spark ``percentile_approx``
        (GK sketch; same contract, tolerance-banded tests per SURVEY §7)."""
        return self.agg_global(
            F.percentile_approx(col, F.array(*[F.lit(q) for q in qs])).alias(alias)
        )

    def approx_median_globally(self, col: str, alias: str = "median") -> "PCollection":
        return self.agg_global(F.percentile_approx(col, F.lit(0.5)).alias(alias))

    def approx_median_per_key(self, col: str, alias: str = "median") -> "PCollection":
        self._require_keys()
        return self.agg_per_key(F.percentile_approx(col, F.lit(0.5)).alias(alias))

    def to_list_per_key(self, col: str, sort: bool = True, alias: str | None = None) -> "PCollection":
        """Reference ``to_list_per_key`` (``src/helpers/collect_values.rs:119``)."""
        a = F.collect_list(col)
        if sort:
            a = F.sort_array(a)
        return self.agg_per_key(a.alias(alias or f"{col}_list"))

    def to_set_per_key(self, col: str, alias: str | None = None) -> "PCollection":
        """Reference ``to_set_per_key`` (``src/helpers/collect_values.rs:160``).
        Output sorted for determinism (the reference's HashSet is unordered)."""
        return self.agg_per_key(F.sort_array(F.collect_set(col)).alias(alias or f"{col}_set"))

    def to_list_globally(self, col: str, sort: bool = True, alias: str | None = None) -> "PCollection":
        a = F.collect_list(col)
        if sort:
            a = F.sort_array(a)
        return self.agg_global(a.alias(alias or f"{col}_list"))

    def to_set_globally(self, col: str, alias: str | None = None) -> "PCollection":
        return self.agg_global(F.sort_array(F.collect_set(col)).alias(alias or f"{col}_set"))

    def to_dict(self, key_col: str, val_col: str, alias: str = "dict") -> "PCollection":
        """Reference ``to_dict`` (``src/helpers/collect_values.rs:212``;
        ToDict combiner ``src/combiners/collect.rs:207`` — arbitrary winner on
        duplicate keys; here max-value-per-key for determinism).

        Duplicate keys are deduped BEFORE ``map_from_entries`` — Spark's
        default ``spark.sql.mapKeyDedupPolicy=EXCEPTION`` would otherwise
        throw at runtime, diverging from the reference's last-write-wins.
        Entries are (key, value)-sorted and only the last entry per key kept
        (an element survives iff it is the final index or the next entry has
        a different key), so the winner is the max value — deterministic
        under any partitioning."""
        entries = F.sort_array(
            F.collect_list(F.struct(F.col(key_col).alias("k"), F.col(val_col).alias("v")))
        )
        arr = F.col("_entries")
        deduped = F.filter(
            arr,
            lambda e, i: (i == F.size(arr) - 1) | (e["k"] != F.get(arr, i + 1)["k"]),
        )
        return self.agg_global(entries.alias("_entries")).map(
            **{alias: F.map_from_entries(deduped)}
        )

    def latest_per_key(self, ts_col: str, value_col: str, alias: str | None = None) -> "PCollection":
        """Reference ``latest_per_key`` (``src/helpers/latest.rs:100``;
        ``Latest`` combiner ``src/combiners/latest.rs:61-110``): max by
        event-time. ``max_by`` is the exact Spark primitive."""
        self._require_keys()
        return self.agg_per_key(F.max_by(value_col, ts_col).alias(alias or f"latest_{value_col}"))

    def latest_globally(self, ts_col: str, value_col: str, alias: str | None = None) -> "PCollection":
        return self.agg_global(F.max_by(value_col, ts_col).alias(alias or f"latest_{value_col}"))

    # ------------------------------------------- sort / top-k (ref §2.8)
    def top_k_globally(self, k: int, *order: Column) -> "PCollection":
        """Reference ``top_k_globally`` (``src/helpers/topk.rs:69``; bounded-
        heap combiner ``src/combiners/topk.rs``).  ``orderBy().limit(k)``
        compiles to TakeOrderedAndProject — per-partition heap + driver merge,
        the same O(n log k) shape, but distributed."""
        return self._with(self.df.orderBy(*order).limit(k))

    def bottom_k_globally(self, k: int, *order: Column) -> "PCollection":
        return self._with(self.df.orderBy(*[c.asc() for c in order]).limit(k))

    def top_k_per_key(self, k: int, *order: Column) -> "PCollection":
        """Reference ``top_k_per_key`` (``src/helpers/topk.rs:122``).  Window
        ``row_number() <= k`` — one shuffle, no per-group materialization."""
        from pyspark.sql import Window as W

        self._require_keys()
        w = W.partitionBy(*self.key_cols).orderBy(*order)
        out = (
            self.df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .drop("_rn")
        )
        return self._with(out)

    def collect_sorted(self, *order: Column | str) -> list:
        """Reference ``collect_seq_sorted`` (``src/helpers/collect_sorted.rs:41``).
        Spark's range-partitioned sort replaces the driver-side sort."""
        return self.df.orderBy(*order).collect()

    def collect(self) -> list:
        return self.df.collect()

    # ------------------------------------------------- set ops (ref §2.9)
    def union_all(self, other: "PCollection") -> "PCollection":
        return self._with(self.df.unionByName(other.df))

    def intersect(self, other: "PCollection") -> "PCollection":
        return self._with(self.df.intersect(other.df))

    def except_all(self, other: "PCollection") -> "PCollection":
        return self._with(self.df.exceptAll(other.df))

    def checkpoint(self, eager: bool = True) -> "PCollection":
        """Data checkpoint (reference ``CheckpointManager``,
        ``src/checkpoint.rs:68-147`` — which is *progress-only* and re-executes
        from start on recovery; ``df.checkpoint`` persists the actual data and
        truncates lineage, strictly stronger).  Requires
        ``sc.setCheckpointDir``; see also ``local_checkpoint``."""
        return self._with(self.df.checkpoint(eager))

    def local_checkpoint(self, eager: bool = True) -> "PCollection":
        """Executor-local checkpoint: lineage truncation without a reliable
        store — the right tool for iterative jobs on a healthy cluster."""
        return self._with(self.df.localCheckpoint(eager))

    def explain_narrative(self, execute: bool = False) -> str:
        """Optimization narrative (reference ``Plan::explain()``,
        ``src/planner.rs:610``): scans/pushdown/joins/aggregation/codegen
        summary from the physical plan."""
        from ironbeam_spark.plans.explain import plan_report

        return plan_report(self.df, execute=execute).narrative()

    def reshuffle(self, n: int | None = None) -> "PCollection":
        """Explicit repartition barrier (reference ``reshuffle``,
        ``src/helpers/reshuffle.rs:75`` — its doc explicitly cites Spark's
        ``repartition()``)."""
        return self._with(self.df.repartition(n) if n else self.df.repartition())

    def tee(self, cache: bool = True) -> "PCollection":
        """Fan-out reuse point (reference ``tee``, ``src/helpers/tee.rs:54``).
        ``cache=True`` persists so multiple downstream actions share one
        computation — the analogue of the reference's dominator-CSE cache
        (``src/runner.rs:257-337``)."""
        return self._with(self.df.cache() if cache else self.df)

    # ----------------------------------------------------------- batching
    def map_batches(self, fn, schema) -> "PCollection":
        """Per-partition batch transform (reference ``map_batches``,
        ``src/helpers/batches.rs:64``) on ``mapInArrow``: ``fn`` maps an
        iterator of ``pyarrow.RecordBatch`` to ``schema``-shaped batches."""
        return self._with(self.df.mapInArrow(fn, schema))

    def map_values_batches(self, fn, out_schema: str) -> "PCollection":
        """Arity-preserving batch transform of a key's values (reference
        ``map_values_batches``, ``src/helpers/batches.rs:231``):
        ``applyInArrow`` per key group, ``fn(pyarrow.Table) -> pyarrow.Table``
        with keys in ``out_schema``.  Like the reference's ``len(out) ==
        len(chunk)`` assert, a group whose row count changes raises
        ``ValueError``."""
        self._require_keys()

        def apply(table):
            out = fn(table)
            if out.num_rows != table.num_rows:
                raise ValueError(f"map_values_batches: fn returned "
                                 f"{out.num_rows} rows for a group of {table.num_rows}")
            return out

        return self._with(
            self.df.groupBy(*self.key_cols).applyInArrow(apply, out_schema),
            self.key_cols,
        )

    def batch_by_size(
        self, max_bytes: int, size_col: str, alias: str = "batch"
    ) -> "PCollection":
        """Size-bounded batching (reference ``batch_by_size``,
        ``src/helpers/batches.rs:183``): greedy per-partition accumulation —
        a batch closes when adding the next element would exceed
        ``max_bytes``; an oversize element is emitted alone.  ``size_col``
        holds each row's byte size (e.g. ``octet_length(to_json(struct(*)))``).

        Greedy sequential state can't be a window expression; a mapInArrow
        pass appends a batch id to each partition's Arrow batches (O(1)
        state), then one groupBy forms the arrays."""
        df = self.df.withColumn("_pid", F.spark_partition_id())
        cols = df.columns

        def assign(batches):
            import pyarrow as pa

            bid, acc = 0, 0
            for rb in batches:
                bids = []
                for size in rb.column(size_col).to_pylist():
                    if acc > 0 and acc + size > max_bytes:
                        bid, acc = bid + 1, 0
                    acc += size
                    bids.append(bid)
                yield rb.append_column("_bid", pa.array(bids, pa.int64()))

        bid_field = _types.StructField("_bid", _types.LongType())
        assigned = df.mapInArrow(assign, _types.StructType([*df.schema, bid_field]))
        elem = F.struct(*[F.col(c) for c in cols if c != "_pid"])
        out = (
            assigned.groupBy("_pid", "_bid")
            .agg(F.collect_list(elem).alias(alias))
            .drop("_pid", "_bid")
        )
        return self._with(out)

    def batch_elements(self, n: int, alias: str = "batch") -> "PCollection":
        """``PC<T> → PC<list<T>>`` groups of ≤ n consecutive elements per
        partition (reference ``batch_elements``, ``src/helpers/batches.rs:120``).

        Chunking is by definition per-partition, so it needs NO shuffle: a
        ``mapInArrow`` chunker slices each partition's Arrow stream into
        length-n list<struct> rows (carry buffer across Arrow batches; only
        the final chunk per partition may be short).  The plan contains zero
        Exchange (asserted in tests)."""
        df = self.df
        elem_type = _types.StructType(df.schema.fields).simpleString()

        def chunker(batches):
            import pyarrow as pa

            def emit(tbl: "pa.Table") -> "pa.RecordBatch":
                tbl = tbl.combine_chunks()
                struct = pa.StructArray.from_arrays(
                    [tbl.column(i).combine_chunks() for i in range(tbl.num_columns)],
                    names=tbl.column_names,
                )
                lst = pa.ListArray.from_arrays(
                    pa.array([0, len(struct)], type=pa.int32()), struct
                )
                return pa.RecordBatch.from_arrays([lst], [alias])

            buf = None
            for batch in batches:
                tbl = pa.Table.from_batches([batch])
                buf = tbl if buf is None else pa.concat_tables([buf, tbl])
                while buf.num_rows >= n:
                    yield emit(buf.slice(0, n))
                    buf = buf.slice(n)
            if buf is not None and buf.num_rows:
                yield emit(buf)

        return self._with(df.mapInArrow(chunker, f"{alias} array<{elem_type}>"))
