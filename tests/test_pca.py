"""Distributed PCA (operators/pca.py) vs numpy."""

from __future__ import annotations

import numpy as np
import pytest

from ironbeam_spark.operators.pca import (
    SCALE_BITS,
    pca_fit,
    pca_project,
    scaled_gram,
)

DIM = 8


def _df(spark, m, parts=None):
    rows = [(i, [float(x) for x in row]) for i, row in enumerate(m)]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    return df.repartition(parts) if parts else df


def _gram_ref(m):
    q = np.floor(np.asarray(m, dtype=np.float64) * (1 << SCALE_BITS) + 0.5)
    q = q.astype(np.int64)
    out = {(0, 0): q.shape[0]}
    for i in range(DIM):
        out[(i + 1, 0)] = int(q[:, i].sum())
        for j in range(i, DIM):
            out[(i + 1, j + 1)] = int((q[:, i] * q[:, j]).sum())
    return out


def test_gram_exact_and_partition_invariant(spark):
    rng = np.random.default_rng(606)
    m = rng.uniform(-0.5, 0.5, size=(300, DIM))
    want = _gram_ref(m)
    for parts in (None, 7):
        got = {
            (r["i"], r["j"]): r["s"]
            for r in scaled_gram(_df(spark, m, parts), "vec", DIM).collect()
        }
        assert got == want


def test_fit_matches_numpy_covariance_eig(spark):
    rng = np.random.default_rng(606)
    # anisotropic data: a dominant direction PCA must find
    base = rng.normal(size=(400, DIM)) * 0.01
    base[:, 2] += rng.normal(size=400) * 0.3
    m = np.clip(base, -0.49, 0.49)
    rows = scaled_gram(_df(spark, m), "vec", DIM).collect()
    comps, evr = pca_fit(rows, DIM, k=3)
    assert comps.shape == (3, DIM)
    # orthonormal
    assert np.allclose(comps @ comps.T, np.eye(3), atol=1e-9)
    # first component is the injected axis (quantization-tolerant)
    assert abs(comps[0, 2]) > 0.99
    assert evr[0] > 0.8 and evr[0] >= evr[1] >= evr[2]
    # matches numpy's eigendecomposition of the float covariance
    cov = np.cov(m.T, bias=True)
    vals = np.sort(np.linalg.eigvalsh(cov))[::-1]
    assert np.allclose(evr[0], vals[0] / vals.sum(), atol=1e-3)


def test_project_is_matmul(spark):
    rng = np.random.default_rng(606)
    m = rng.uniform(-0.4, 0.4, size=(50, DIM))
    rows = scaled_gram(_df(spark, m), "vec", DIM).collect()
    comps, _ = pca_fit(rows, DIM, k=2)
    got = {
        r["id"]: np.array(r["proj"])
        for r in pca_project(_df(spark, m), "vec", comps, "id").collect()
    }
    want = m @ comps.T
    for i in range(50):
        assert np.allclose(got[i], want[i], atol=1e-12)


def test_dim_mismatch_and_tiny_input_rejected(spark):
    with pytest.raises(Exception):
        scaled_gram(
            _df(spark, np.zeros((3, DIM))), "vec", DIM + 1
        ).collect()
    rows = scaled_gram(_df(spark, np.zeros((1, DIM))), "vec", DIM).collect()
    with pytest.raises(ValueError):
        pca_fit(rows, DIM, 2)


def test_project_passes_string_ids_through(spark):
    """The id column keeps its input type: string ids come back as-is."""
    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 2.0])], "doc string, vec array<double>"
    )
    swap = np.array([[0.0, 1.0], [1.0, 0.0]])
    got = {r["id"]: r["proj"] for r in pca_project(df, "vec", swap, "doc").collect()}
    assert got == {"a": [0.0, 1.0], "b": [2.0, 0.0]}
