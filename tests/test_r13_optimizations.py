"""Focused equivalence tests for the round-13 optimization internals.

Same contract as test_r12_optimizations.py: every optimization that
changed an operator's internals gets a direct identity pin here, so a
future edit that breaks the equivalence argument fails with a readable
name instead of as an oracle diff.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _labels(df):
    rows = [(r.node, r.component) for r in df.collect()]
    return sorted(rows, key=lambda t: tuple((v is None, v) for v in t))


# -- dedup_components: driver-side local solve is bit-identical -------------


def _pairs_df(spark, pairs, ddl="id_a bigint, id_b bigint"):
    return spark.createDataFrame(pairs, ddl)


_GRAPHS = [
    # chain: 1-2-3-4-5 plus an isolated pair
    [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)],
    # star + self-loop + duplicate pair (non-canonical order too)
    [(7, 3), (7, 9), (7, 12), (3, 3), (9, 7), (7, 9)],
    # two components sharing no nodes, reversed ids
    [(100, 2), (2, 50), (60, 61)],
]


@pytest.mark.parametrize("pairs", _GRAPHS)
def test_dedup_components_local_solve_matches_loop(spark, pairs):
    from ironbeam_spark.operators.dedup import dedup_components

    df = _pairs_df(spark, pairs)
    local = dedup_components(df, local_solve_max_edges=10_000)
    loop = dedup_components(df, local_solve_max_edges=0)
    assert _labels(local) == _labels(loop)


def test_dedup_components_local_solve_matches_loop_string_ids(spark):
    from ironbeam_spark.operators.dedup import dedup_components

    pairs = [("aa", "ab"), ("ab", "b"), ("zz", "a'\\q"), ("é", "zz")]
    df = _pairs_df(spark, pairs, "id_a string, id_b string")
    local = dedup_components(df, local_solve_max_edges=10_000)
    loop = dedup_components(df, local_solve_max_edges=0)
    assert _labels(local) == _labels(loop)


def test_dedup_components_local_solve_random_graph(spark):
    import random

    from ironbeam_spark.operators.dedup import dedup_components

    rng = random.Random(13)
    pairs = [
        (rng.randrange(200), rng.randrange(200)) for _ in range(300)
    ]
    df = _pairs_df(spark, pairs)
    local = dedup_components(df, local_solve_max_edges=10_000)
    loop = dedup_components(df, local_solve_max_edges=0)
    assert _labels(local) == _labels(loop)


def test_dedup_components_falls_back_above_bound(spark):
    """A bound smaller than the edge count must take the distributed loop
    (and still produce the same labels)."""
    from ironbeam_spark.operators.dedup import dedup_components

    pairs = [(i, i + 1) for i in range(50)]
    df = _pairs_df(spark, pairs)
    small_bound = dedup_components(df, local_solve_max_edges=5)
    loop = dedup_components(df, local_solve_max_edges=0)
    assert _labels(small_bound) == _labels(loop)
    # the fallback plan is the iterative one, not a literal
    assert "inline([[" not in small_bound._jdf.queryExecution().optimizedPlan().toString()


def test_dedup_components_local_solve_null_endpoint_falls_back(spark):
    """NULL endpoints void the local-solve precondition: the probe must
    fall through to the loop, whose behavior is unchanged."""
    from ironbeam_spark.operators.dedup import dedup_components

    df = _pairs_df(spark, [(1, 2), (None, 3), (2, 4)])
    out = dedup_components(df, local_solve_max_edges=10_000)
    loop = dedup_components(df, local_solve_max_edges=0)
    assert _labels(out) == _labels(loop)


def test_dedup_components_local_solve_plan_is_pure_jvm_literal(spark):
    """The local-solve result is a LocalTableScan after constant folding —
    no Python nodes, nothing persisted, no shuffle: consumers broadcast it."""
    from ironbeam_spark.operators.dedup import dedup_components

    df = _pairs_df(spark, [(1, 2), (2, 3)])
    out = dedup_components(df, local_solve_max_edges=10_000)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # folded literal: Generate inline([...]) over a 1-row Range — no scan,
    # no join, no aggregate survives in the optimized plan
    assert "inline([[" in plan or "LocalRelation" in plan
    for bad in ("Python", "InMemoryRelation", "Exchange", "Join", "Aggregate"):
        assert bad not in plan
    assert out.storageLevel.useMemory is False
    assert _labels(out) == [(1, 1), (2, 1), (3, 1)]


def test_dedup_components_local_solve_empty_pairs(spark):
    from ironbeam_spark.operators.dedup import dedup_components

    df = _pairs_df(spark, [], "id_a bigint, id_b bigint")
    out = dedup_components(df, local_solve_max_edges=10_000)
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == ["node", "component"]
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "bigint",
        "bigint",
    ]


# -- ANN pair scorer: impl='auto' and expr/arrow bit-identity ----------------


def _topk_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _emb(spark):
    from ironbeam_spark.sources.io import read_table
    from tests.conftest import SF_SMOKE

    return read_table(spark, SF_SMOKE, "embeddings")


def test_brute_force_expr_arrow_identical_incl_degenerate(spark):
    from ironbeam_spark.operators.similarity import brute_force_topk

    emb = _emb(spark)
    # inject degenerate corpus rows: zero-norm and empty vectors must never
    # rank on either path (NULL score; expression path uses cosine_safe)
    bad = spark.createDataFrame(
        [(900001, [0.0] * 64), (900002, [])],
        "vec_id long, embedding array<double>",
    )
    corpus = emb.select("vec_id", "embedding").unionByName(bad)
    q = emb.orderBy("vec_id").limit(5)
    a = _topk_rows(brute_force_topk(corpus, q, k=4, impl="expr"))
    b = _topk_rows(brute_force_topk(corpus, q, k=4, impl="arrow"))
    assert a == b and len(a) > 0
    assert not any(r[1] in (900001, 900002) for r in a)


def test_ivf_lsh_expr_arrow_identical(spark):
    from ironbeam_spark.operators.similarity import (
        ivf_ann_topk,
        lsh_ann_topk,
        train_centroids_kmeans,
    )

    emb = _emb(spark)
    q = emb.orderBy("vec_id").limit(10)
    cents = train_centroids_kmeans(emb, k=8)
    assert _topk_rows(ivf_ann_topk(emb, q, cents, k=5, n_probe=2, impl="expr")) == _topk_rows(
        ivf_ann_topk(emb, q, cents, k=5, n_probe=2, impl="arrow")
    )
    planes = [v for _, v in cents[:8]]
    assert _topk_rows(lsh_ann_topk(emb, q, planes, k=5, impl="expr")) == _topk_rows(
        lsh_ann_topk(emb, q, planes, k=5, impl="arrow")
    )


def test_auto_pair_impl_resolution(spark, monkeypatch):
    from ironbeam_spark.operators import similarity
    from ironbeam_spark.operators.similarity import _auto_pair_impl

    emb = _emb(spark)
    pairs = emb.select(F.col("embedding").alias("a")).crossJoin(
        emb.select(F.col("embedding").alias("b"))
    )
    # explicit argument wins over the estimate
    assert _auto_pair_impl(pairs, "expr") == "expr"
    assert _auto_pair_impl(pairs, "arrow") == "arrow"
    # estimate: a tiny threshold forces arrow, a huge one forces expr
    monkeypatch.setattr(similarity, "_SCORER_DEFAULT_BYTES", 1)
    assert _auto_pair_impl(pairs, "auto") == "arrow"
    monkeypatch.setattr(similarity, "_SCORER_DEFAULT_BYTES", 1 << 60)
    assert _auto_pair_impl(pairs, "auto") == "expr"
