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


def _components(df, monkeypatch, max_edges):
    """dedup_components with the local-solve bound set to ``max_edges``:
    10,000 takes the driver solve on these graphs, 0 forces the loop."""
    from ironbeam_spark.operators import dedup

    monkeypatch.setattr(dedup, "_LOCAL_SOLVE_MAX_EDGES", max_edges)
    return dedup.dedup_components(df)


_GRAPHS = [
    # chain: 1-2-3-4-5 plus an isolated pair
    [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)],
    # star + self-loop + duplicate pair (non-canonical order too)
    [(7, 3), (7, 9), (7, 12), (3, 3), (9, 7), (7, 9)],
    # two components sharing no nodes, reversed ids
    [(100, 2), (2, 50), (60, 61)],
]


@pytest.mark.parametrize("pairs", _GRAPHS)
def test_dedup_components_local_solve_matches_loop(spark, pairs, monkeypatch):
    df = _pairs_df(spark, pairs)
    local = _components(df, monkeypatch, 10_000)
    loop = _components(df, monkeypatch, 0)
    assert _labels(local) == _labels(loop)


def test_dedup_components_local_solve_matches_loop_string_ids(spark, monkeypatch):
    pairs = [("aa", "ab"), ("ab", "b"), ("zz", "a'\\q"), ("é", "zz")]
    df = _pairs_df(spark, pairs, "id_a string, id_b string")
    local = _components(df, monkeypatch, 10_000)
    loop = _components(df, monkeypatch, 0)
    assert _labels(local) == _labels(loop)


def test_dedup_components_local_solve_random_graph(spark, monkeypatch):
    import random

    rng = random.Random(13)
    pairs = [
        (rng.randrange(200), rng.randrange(200)) for _ in range(300)
    ]
    df = _pairs_df(spark, pairs)
    local = _components(df, monkeypatch, 10_000)
    loop = _components(df, monkeypatch, 0)
    assert _labels(local) == _labels(loop)


def test_dedup_components_falls_back_above_bound(spark, monkeypatch):
    """A bound smaller than the edge count must take the distributed loop
    (and still produce the same labels)."""
    pairs = [(i, i + 1) for i in range(50)]
    df = _pairs_df(spark, pairs)
    small_bound = _components(df, monkeypatch, 5)
    loop = _components(df, monkeypatch, 0)
    assert _labels(small_bound) == _labels(loop)
    # the fallback plan is the iterative one, not a literal
    assert "inline([[" not in small_bound._jdf.queryExecution().optimizedPlan().toString()


def test_dedup_components_local_solve_null_endpoint_falls_back(spark, monkeypatch):
    """NULL endpoints void the local-solve precondition: the probe must
    fall through to the loop, whose behavior is unchanged."""
    df = _pairs_df(spark, [(1, 2), (None, 3), (2, 4)])
    out = _components(df, monkeypatch, 10_000)
    loop = _components(df, monkeypatch, 0)
    assert _labels(out) == _labels(loop)


def test_dedup_components_local_solve_plan_is_pure_jvm_literal(spark, monkeypatch):
    """The local-solve result is a LocalTableScan after constant folding —
    no Python nodes, nothing persisted, no shuffle: consumers broadcast it."""
    df = _pairs_df(spark, [(1, 2), (2, 3)])
    out = _components(df, monkeypatch, 10_000)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # folded literal: Generate inline([...]) over a 1-row Range — no scan,
    # no join, no aggregate survives in the optimized plan
    assert "inline([[" in plan or "LocalRelation" in plan
    for bad in ("Python", "InMemoryRelation", "Exchange", "Join", "Aggregate"):
        assert bad not in plan
    assert out.storageLevel.useMemory is False
    assert _labels(out) == [(1, 1), (2, 1), (3, 1)]


def test_dedup_components_local_solve_empty_pairs(spark, monkeypatch):
    df = _pairs_df(spark, [], "id_a bigint, id_b bigint")
    out = _components(df, monkeypatch, 10_000)
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == ["node", "component"]
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "bigint",
        "bigint",
    ]


# -- ANN pair scorer: the size rule and expr/arrow bit-identity -------------


def _topk_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _scored_by(monkeypatch, impl, topk, *args, **kwargs):
    """Rows of ``topk(*args, **kwargs)`` with its pair scorer forced to
    ``impl`` through the crossover constant: a 1-byte crossover always picks
    the Arrow scorer, a 2**60-byte one the expression fold."""
    from ironbeam_spark.operators import similarity

    crossover = 1 if impl == "arrow" else 1 << 60
    monkeypatch.setattr(similarity, "_SCORER_DEFAULT_BYTES", crossover)
    return _topk_rows(topk(*args, **kwargs))


def _emb(spark):
    from ironbeam_spark.sources.io import read_table
    from tests.conftest import SF_SMOKE

    return read_table(spark, SF_SMOKE, "embeddings")


def test_brute_force_expr_arrow_identical_incl_degenerate(spark, monkeypatch):
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
    a = _scored_by(monkeypatch, "expr", brute_force_topk, corpus, q, k=4)
    b = _scored_by(monkeypatch, "arrow", brute_force_topk, corpus, q, k=4)
    assert a == b and len(a) > 0
    assert not any(r[1] in (900001, 900002) for r in a)


def test_ivf_lsh_expr_arrow_identical(spark, monkeypatch):
    from ironbeam_spark.operators.similarity import (
        ivf_ann_topk,
        lsh_ann_topk,
        train_centroids_kmeans,
    )

    emb = _emb(spark)
    q = emb.orderBy("vec_id").limit(10)
    cents = train_centroids_kmeans(emb, k=8)
    ivf = (ivf_ann_topk, emb, q, cents)
    assert _scored_by(monkeypatch, "expr", *ivf, k=5, n_probe=2) == _scored_by(
        monkeypatch, "arrow", *ivf, k=5, n_probe=2
    )
    lsh = (lsh_ann_topk, emb, q, [v for _, v in cents[:8]])
    assert _scored_by(monkeypatch, "expr", *lsh, k=5) == _scored_by(
        monkeypatch, "arrow", *lsh, k=5
    )


def test_auto_pair_impl_resolution(spark, monkeypatch):
    from ironbeam_spark.operators import similarity
    from ironbeam_spark.operators.similarity import _auto_pair_impl

    emb = _emb(spark)
    pairs = emb.select(F.col("embedding").alias("a")).crossJoin(
        emb.select(F.col("embedding").alias("b"))
    )
    # estimate: a tiny threshold forces arrow, a huge one forces expr
    monkeypatch.setattr(similarity, "_SCORER_DEFAULT_BYTES", 1)
    assert _auto_pair_impl(pairs) == "arrow"
    monkeypatch.setattr(similarity, "_SCORER_DEFAULT_BYTES", 1 << 60)
    assert _auto_pair_impl(pairs) == "expr"
