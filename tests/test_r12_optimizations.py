"""Focused equivalence tests for the round-12 optimization internals.

Each optimization that changed an operator's internals gets a direct
identity check here: the optimized path must produce exactly the rows of
the path it replaced (the bench/oracle gates prove end-to-end greenness;
these pin the specific internal equivalence argument each change relies
on, so a future edit that breaks the precondition fails HERE with a
readable name instead of as an oracle diff).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Column
from pyspark.sql import functions as F


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


# -- plancache: memoized construction is pure and holds no data ------------


def test_memo_expr_caches_hashable_and_bypasses_columns(spark):
    from ironbeam_spark.plancache import clear_plan_caches, memo_expr

    clear_plan_caches()
    calls = []

    @memo_expr
    def build(col):
        calls.append(col)
        return F.upper(F.col(col)) if isinstance(col, str) else F.upper(col)

    a1 = build("x")
    a2 = build("x")
    assert a1 is a2, "same hashable args must return the cached tree"
    assert calls == ["x"], "second call must not rebuild"
    b = build("y")
    assert b is not a1, "different args must build a different tree"
    # Column args are unhashable -> transparent bypass, fresh build each time
    c1, c2 = build(F.col("x")), build(F.col("x"))
    assert c1 is not c2
    assert len(calls) == 4


def test_memo_expr_is_lru_bounded(spark, monkeypatch):
    """Inserting past the memo's bound evicts the least recently used
    entry, and a recently used one is still a hit."""
    from ironbeam_spark import plancache

    plancache.clear_plan_caches()
    monkeypatch.setattr(plancache, "_EXPR_MEMO_SIZE", 3)
    calls = []

    @plancache.memo_expr
    def build(name):
        calls.append(name)
        return F.col(name)

    a, b = build("a"), build("b")
    build("c")
    assert build("a") is a  # hit; "a" becomes the most recently used
    build("d")  # past the bound: evicts "b", the least recently used
    assert len(plancache._EXPR_MEMO) == 3
    assert build("a") is a
    assert calls == ["a", "b", "c", "d"]
    assert build("b") is not b  # evicted, so rebuilt
    assert calls == ["a", "b", "c", "d", "b"]
    plancache.clear_plan_caches()


def test_session_memo_plans_hold_no_materialized_state(spark):
    """The memoized base-table scan is a LAZY plan: not persisted, no
    InMemoryRelation — every action recomputes from parquet (the driver
    contract's no-result-caching rule)."""
    from ironbeam_spark.sources.io import read_table

    df1 = read_table(spark, "/root/testdata/sf0.001", "region")
    df2 = read_table(spark, "/root/testdata/sf0.001", "region")
    assert df1 is df2, "per-session scan plan should be memoized"
    assert df1.storageLevel.useMemory is False
    assert df1.storageLevel.useDisk is False
    assert "InMemoryRelation" not in df1._jdf.queryExecution().optimizedPlan().toString()


# -- triangles: input_canonical skips the rewrite+distinct identically ------


def _canon_pairs(spark):
    # canonical (a < b), unique pairs - the frequent_item_pairs contract
    rows = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (1, 4), (5, 6)]
    return spark.createDataFrame(rows, "item1 long, item2 long")


def test_canonical_edges_input_canonical_identity(spark):
    from ironbeam_spark.operators.triangles import canonical_edges

    df = _canon_pairs(spark)
    slow = _rows(canonical_edges(df, "item1", "item2"), "a", "b")
    fast = _rows(canonical_edges(df, "item1", "item2", input_canonical=True), "a", "b")
    assert fast == slow


def test_triangle_count_and_clustering_input_canonical_identity(spark):
    from ironbeam_spark.operators.triangles import node_clustering, triangle_count

    df = _canon_pairs(spark)
    assert (
        triangle_count(df, "item1", "item2", input_canonical=True).collect()
        == triangle_count(df, "item1", "item2").collect()
    )
    cols = ("node", "degree", "n_triangles", "coeff")
    assert _rows(
        node_clustering(df, "item1", "item2", input_canonical=True), *cols
    ) == _rows(node_clustering(df, "item1", "item2"), *cols)


# -- ANN: the cell equi-join emits unique pairs (distinct was a no-op) ------


def test_ivf_pairs_unique_without_distinct(spark):
    from ironbeam_spark.operators.similarity import ivf_ann_topk

    emb = spark.createDataFrame(
        [(i, [float(i % 7 + 1), float((i * 3) % 5 + 1), 1.0]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.5, 0.5, 1.0])]
    out = ivf_ann_topk(emb, emb.filter(F.col("vec_id") < 6), cents, k=50, n_probe=3)
    pairs = out.select("query_id", "neighbor_id")
    assert pairs.count() == pairs.distinct().count()


# -- pagerank: checkpointed tables carry no repartition nobody can read -----


def test_pagerank_edge_plan_has_no_caller_side_repartition(spark):
    """The r12 change removed repartition(key) ahead of localCheckpoint
    (UnknownPartitioning erases it for every consumer). Pin: pagerank's
    source contains no repartition call anymore."""
    import inspect

    from ironbeam_spark.operators import pagerank as pr

    code_lines = [
        ln.split("#", 1)[0] for ln in inspect.getsource(pr.pagerank).splitlines()
    ]
    assert all(".repartition(" not in ln for ln in code_lines)
