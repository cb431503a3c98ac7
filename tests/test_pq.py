"""Product quantization (operators/pq.py): exact parity of the ADC
approximation vs a pure-numpy reference (codes, scores, ranking,
tie-breaks), trained-codebook recall vs the brute-force oracle, and the
fail-fast preconditions.  The testdata embeddings are unit-norm and
near-random — PQ's hardest case (no codebook structure to exploit) — so
the recall bound is deliberately modest; the signal claim is "far above
chance", the exactness claim is bit-level."""

from __future__ import annotations

import random

import numpy as np
import pytest

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ironbeam_spark.operators.pq import (
    _dim_guard,
    _fold_sum,
    _sub,
    _with_codebooks,
    pq_ann_topk,
    pq_codebooks_from_prefix,
    pq_train_codebooks,
)
from ironbeam_spark.operators.similarity import brute_force_topk
from ironbeam_spark.sources.io import read_table
from tests.conftest import SF_SMOKE


def _l2sq(sub: Column, cw: Column) -> Column:
    return _fold_sum(
        F.zip_with(
            sub,
            cw,
            lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
        )
    )


def pq_encode(
    df: DataFrame, vec_col: str, codebooks: list[list[list[float]]]
) -> DataFrame:
    """Expression-path PQ encode, the differential reference for the
    vectorized ``pq_codes_arrow`` / ``ivfpq_corpus_codes_arrow``: append
    ``pq_code_0 .. pq_code_{m-1}`` int columns, per subspace the
    L2-nearest codeword's index (ties → lower index), in one narrow pass of
    ``zip_with``/``aggregate`` folds."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    out = _with_codebooks(_dim_guard(df, vec_col, m * dsub), codebooks)
    for j in range(m):
        sub = _sub(F.col(vec_col), j, dsub)
        # arg-min via array_min over (dist, code) structs: struct ordering
        # compares dist first, then code — the deterministic tie-break
        # plain closure capture is safe: F.transform invokes the lambda
        # immediately while `sub` holds this iteration's value
        cands = F.transform(
            F.col("_pq_cb")[j],
            lambda cw, i: F.struct(
                _l2sq(sub, cw).alias("d"), i.cast("int").alias("c")
            ),
        )
        out = out.withColumn(f"pq_code_{j}", F.array_min(cands)["c"])
    return out.drop("_pq_cb")


def _numpy_ref(X, ids, CB, qids, k):
    """Reference ADC: encode by L2 argmin (lowest code on ties), score by
    codeword sub-dots summed in subspace order, rank desc / id asc."""
    m, ncode, dsub = CB.shape
    codes = np.stack(
        [
            ((X[:, j * dsub : (j + 1) * dsub][:, None, :] - CB[j][None, :, :]) ** 2)
            .sum(-1)
            .argmin(1)
            for j in range(m)
        ],
        axis=1,
    )
    out = {}
    for qi, qid in enumerate(qids):
        q = X[list(ids).index(qid)]
        adc = np.array(
            [CB[j] @ q[j * dsub : (j + 1) * dsub] for j in range(m)]
        )
        rows = []
        for x in range(len(X)):
            if ids[x] == qid:
                continue
            s = 0.0
            for j in range(m):  # fixed subspace order, like the engine
                s = s + adc[j, codes[x, j]]
            rows.append((-s, int(ids[x])))
        rows.sort()
        out[qid] = [(i, -negs) for negs, i in rows[:k]]
    return out


def test_parity_vs_numpy_reference(spark):
    rng = random.Random(3)
    n, d, m, ncode = 60, 8, 4, 4
    data = [(i, [rng.uniform(-1, 1) for _ in range(d)]) for i in range(n)]
    df = spark.createDataFrame(data, "vec_id long, embedding array<double>")
    cb = pq_codebooks_from_prefix(df, "vec_id", "embedding", m=m, ncode=ncode)
    CB = np.array(cb)
    X = np.array([v for _, v in data])
    got = pq_ann_topk(df, df.where("vec_id < 7"), cb, k=5).collect()
    ref = _numpy_ref(X, list(range(n)), CB, list(range(7)), k=5)
    assert len(got) == 7 * 5
    for r in got:
        want_id, want_s = ref[r.query_id][r.rank - 1]
        assert r.neighbor_id == want_id, (r.query_id, r.rank)
        assert abs(r.pq_score - want_s) < 1e-12


def test_encode_tie_breaks_to_lower_code(spark):
    # two identical codewords: the arg-min must pick the lower index
    df = spark.createDataFrame(
        [(1, [0.5, 0.5, 2.0, 2.0])], "vec_id long, embedding array<double>"
    )
    cb = [
        [[0.5, 0.5], [0.5, 0.5]],  # subspace 0: exact tie -> code 0
        [[9.0, 9.0], [2.0, 2.0]],  # subspace 1: code 1 strictly nearer
    ]
    row = pq_encode(df, "embedding", cb).collect()[0]
    assert row.pq_code_0 == 0 and row.pq_code_1 == 1


def test_trained_recall_beats_chance_and_prefix(spark):
    emb = read_table(spark, SF_SMOKE, "embeddings")
    queries = emb.orderBy("vec_id").limit(20)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    trained = pq_train_codebooks(emb, "vec_id", "embedding", m=8, ncode=64)
    approx = {
        (r.query_id, r.neighbor_id)
        for r in pq_ann_topk(emb, queries, trained, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    # chance = k/|corpus| = 5/499 ~ 0.01; measured 0.39 on this corpus
    assert recall >= 0.25, recall


def test_training_is_deterministic(spark):
    emb = read_table(spark, SF_SMOKE, "embeddings")
    a = pq_train_codebooks(emb, "vec_id", "embedding", m=4, ncode=8)
    b = pq_train_codebooks(emb, "vec_id", "embedding", m=4, ncode=8)
    assert a == b
    assert len(a) == 4 and all(len(ws) == 8 for ws in a)


def test_dim_guard_raises_midjob(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    cb = [[[0.0, 0.0]], [[0.0, 0.0]]]  # expects dim 4
    with pytest.raises(Exception, match="vector length"):
        pq_encode(df, "embedding", cb).collect()


def test_validation_errors(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="rectangular"):
        pq_encode(df, "embedding", [[[0.0, 0.0]], [[0.0]]])
    with pytest.raises(ValueError, match="divisible"):
        pq_train_codebooks(df, "vec_id", "embedding", m=3, ncode=1)
    with pytest.raises(ValueError, match="ncode"):
        pq_codebooks_from_prefix(df, "vec_id", "embedding", m=1, ncode=5)


def test_ivfpq_probe_all_cells_equals_full_scan(spark):
    """Probing every cell makes the candidate set the full corpus, so
    IVF-PQ must return exactly the full-scan ADC result — the composition
    adds pruning, never different scoring."""
    from ironbeam_spark.operators.pq import ivfpq_ann_topk

    rng = random.Random(11)
    n, d = 40, 8
    data = [(i, [rng.uniform(-1, 1) for _ in range(d)]) for i in range(n)]
    df = spark.createDataFrame(data, "vec_id long, embedding array<double>")
    cb = pq_codebooks_from_prefix(df, "vec_id", "embedding", m=4, ncode=4)
    cents = [(i, v) for i, v in data[:3]]
    q = df.where("vec_id < 6")
    full = {
        (r.query_id, r.rank): (r.neighbor_id, round(r.pq_score, 12))
        for r in pq_ann_topk(df, q, cb, k=5).collect()
    }
    probed_all = {
        (r.query_id, r.rank): (r.neighbor_id, round(r.pq_score, 12))
        for r in ivfpq_ann_topk(df, q, cents, cb, k=5, n_probe=3).collect()
    }
    assert probed_all == full


def test_ivfpq_candidates_restricted_to_probed_cells(spark):
    """With n_probe=1 every returned neighbor must share the query's
    nearest cell — the pruning is real, not decorative."""
    from ironbeam_spark.operators.pq import ivfpq_ann_topk
    from ironbeam_spark.operators.similarity import ivf_assign_cells

    emb = read_table(spark, SF_SMOKE, "embeddings")
    cents = [
        (int(r.vec_id), list(r.embedding))
        for r in emb.where("vec_id < 8").orderBy("vec_id").collect()
    ]
    cb = pq_codebooks_from_prefix(emb, "vec_id", "embedding", m=4, ncode=8)
    q = emb.where("vec_id < 6")
    got = ivfpq_ann_topk(emb, q, cents, cb, k=5, n_probe=1).collect()
    cells = {
        r.vec_id: r.cell
        for r in ivf_assign_cells(emb, cents, n_probe=1).collect()
    }
    assert len(got) > 0
    for r in got:
        assert cells[r.query_id] == cells[r.neighbor_id], (
            r.query_id,
            r.neighbor_id,
        )


def test_pq_search_join_is_equi_join(spark):
    """The IVF-PQ SEARCH join must be a hash/merge EQUI-join on the cell
    id; the only BroadcastNestedLoopJoins in the plan are the 1-row
    codebook/centroid carrier joins (this is what the scale-killer
    sweep's allowlist entry for q_ann_ivfpq relies on)."""
    import re

    from pyspark.sql import functions as F

    from ironbeam_spark.operators.pq import ivfpq_ann_topk

    emb = read_table(spark, SF_SMOKE, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("centroid")
    )
    cb = pq_codebooks_from_prefix(emb, "vec_id", "embedding", m=4, ncode=8)
    out = ivfpq_ann_topk(emb, emb.filter(F.col("vec_id") < 10), cents, cb)
    out.collect()
    plan = (
        out._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert re.search(r"(HashJoin|SortMergeJoin) \[cell#\d+", plan), plan
    assert "CartesianProduct" not in plan


def test_arrow_corpus_codes_match_expression_path(spark):
    """r12 optimization pin: the vectorized corpus build
    (ivfpq_corpus_codes_arrow) must be BIT-identical to the expression
    path it replaced — ivf_assign_cells(n_probe=1) + pq_encode — on
    random vectors AND the hard cases: zero-norm rows, duplicate
    centroids/codewords (tie-breaks), NaN and NULL elements."""
    from pyspark.sql import functions as F

    from ironbeam_spark.operators.pq import (
        _centroid_list,
        ivfpq_corpus_codes_arrow,
    )
    from ironbeam_spark.operators.similarity import ivf_assign_cells

    rng = random.Random(7)
    d, m, ncode = 8, 4, 4
    data = [(i, [rng.uniform(-1, 1) for _ in range(d)]) for i in range(80)]
    data += [
        (100, [0.0] * d),  # zero norm -> every sim -2.0 -> lowest cell
        (101, list(data[0][1])),  # exact duplicate -> centroid sim tie
        (102, [1.0, None, 0.5, -0.5, 0.25, 0.0, 2.0, -1.0]),  # NULL elem
        (103, [float("nan")] + [0.5] * (d - 1)),  # NaN elem
    ]
    df = spark.createDataFrame(data, "vec_id long, embedding array<double>")
    # centroid 9 duplicates centroid 0's vector: bit-exact sim tie
    cents = [(i, v) for i, v in data[:5]] + [(9, list(data[0][1]))]
    # codebook with a duplicate codeword pair: bit-exact dist tie
    cb = pq_codebooks_from_prefix(df, "vec_id", "embedding", m=m, ncode=ncode)
    cb = [[ws[0]] + ws[:-1] for ws in cb]  # codeword 0 == codeword 1
    cols = ["vec_id", "cell"] + [f"pq_code_{j}" for j in range(m)]
    expr = pq_encode(
        ivf_assign_cells(df, cents, n_probe=1), "embedding", cb
    ).select(*cols)
    for c in cols[1:]:
        expr = expr.withColumn(c, F.col(c).cast("int"))
    arrow = ivfpq_corpus_codes_arrow(df, _centroid_list(cents), cb)
    # names + dtypes (nullability differs: literal centroid cells are
    # non-nullable in the expression plan — plan metadata, not data)
    assert [(f.name, f.dataType) for f in expr.schema] == [
        (f.name, f.dataType) for f in arrow.schema
    ]
    assert expr.exceptAll(arrow).count() == 0
    assert arrow.exceptAll(expr).count() == 0

    # the codes-only variant (pq_ann_topk's corpus pass) on the same frame
    from ironbeam_spark.operators.pq import pq_codes_arrow

    code_cols = ["vec_id"] + [f"pq_code_{j}" for j in range(m)]
    enc_expr = pq_encode(df, "embedding", cb).select(*code_cols)
    for c in code_cols[1:]:
        enc_expr = enc_expr.withColumn(c, F.col(c).cast("int"))
    enc_arrow = pq_codes_arrow(df, cb)
    assert enc_expr.exceptAll(enc_arrow).count() == 0
    assert enc_arrow.exceptAll(enc_expr).count() == 0


def test_arrow_corpus_codes_match_on_real_embeddings(spark):
    """Same pin on the real testdata embeddings via the DataFrame-centroid
    path (exactly the q_ann_ivfpq corpus build)."""
    from pyspark.sql import functions as F

    from ironbeam_spark.operators.pq import (
        _centroid_list,
        ivfpq_corpus_codes_arrow,
    )
    from ironbeam_spark.operators.similarity import ivf_assign_cells

    emb = read_table(spark, SF_SMOKE, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("centroid")
    )
    cb = pq_codebooks_from_prefix(emb, "vec_id", "embedding", m=4, ncode=8)
    cols = ["vec_id", "cell"] + [f"pq_code_{j}" for j in range(4)]
    expr = pq_encode(
        ivf_assign_cells(emb, centroids, n_probe=1), "embedding", cb
    ).select(*cols)
    for c in cols[1:]:
        expr = expr.withColumn(c, F.col(c).cast("int"))
    arrow = ivfpq_corpus_codes_arrow(emb, _centroid_list(centroids), cb)
    assert expr.schema == arrow.schema
    assert expr.exceptAll(arrow).count() == 0
    assert arrow.exceptAll(expr).count() == 0


def test_arrow_corpus_codes_dim_guard(spark):
    """The Arrow build fails fast on malformed vectors with the same
    `pq: vector length` contract as _dim_guard."""
    from ironbeam_spark.operators.pq import ivfpq_corpus_codes_arrow

    cb = [[[0.0, 0.0]], [[0.0, 0.0]]]  # expects dim 4
    cents = [(0, [1.0, 0.0, 0.0, 0.0])]
    short = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="vector length"):
        ivfpq_corpus_codes_arrow(short, cents, cb).collect()
    nul = spark.createDataFrame(
        [(1, None)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="vector length"):
        ivfpq_corpus_codes_arrow(nul, cents, cb).collect()
