"""Distributed PCA over embedding columns, exact-gram formulation.

The dimensionality-reduction pass an embedding pipeline runs before
clustering / ANN / visualization (standard linear algebra — public
textbooks; no reference analogue).  The decomposition is tiny (d×d with
d = embedding width); the part that touches 100 TB is the GRAM/mean
accumulation, and that is the part built scale-first and verified
bit-exactly:

1. **Quantize**: each float is mapped to int64 by the deterministic
   half-up rule ``floor(x·2^20 + 0.5)`` computed in float64 — the ONE
   float op both engines perform identically (np.round would be
   banker's-rounding and DuckDB's round() half-away: neither mirrors the
   other, floor(+0.5) mirrors both).
2. **Accumulate**: per Arrow batch, ``qᵀq`` in int64 (bounded: |q| ≤
   2^20, a 10k-row batch keeps products < 2^52), partial cells emitted
   per batch and summed by Spark in DECIMAL(38,0) — exact, order-free,
   commutative: the result is independent of partitioning, which is why
   an exact SQL oracle can exist at all (a float gram re-associates per
   plan).  Shuffle volume is d² cells per batch — metadata-sized.
3. **Decompose**: the d² exact cells collect to the driver (same bounded
   class as the k-means centers), the covariance is formed in float64,
   and ``numpy.linalg.eigh`` yields components — deterministic given the
   exact integer gram.

``project`` applies the components as an Arrow-batched matmul (row-local,
no shuffle).  Sign convention: each component's largest-|loading|
coordinate is made positive (eigh's sign is arbitrary; pin it so results
are reproducible across numpy builds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["scaled_gram", "pca_fit", "pca_project"]

SCALE_BITS = 20


def scaled_gram(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Exact quantized Gram + mean sums: rows ``(i, j, s)`` for the upper
    triangle (1-based, ``j >= i``), plus ``(i, 0, sum_i)`` mean rows and
    one ``(0, 0, n)`` count row."""
    scale = float(1 << SCALE_BITS)

    def per_batch(batches):
        import numpy as np
        import pyarrow as pa

        for rb in batches:
            vecs = rb.column(0).to_pylist()
            if not vecs:
                continue
            m = np.array(vecs, dtype=np.float64)
            if m.shape[1] != dim:
                raise ValueError(
                    f"scaled_gram: expected dim {dim}, got {m.shape[1]}"
                )
            q = np.floor(m * scale + 0.5).astype(np.int64)
            # enforce the overflow precondition instead of assuming it:
            # numpy int64 wraps SILENTLY, so an unnormalized corpus
            # (|x| >> 1) would corrupt the "exact" gram with no error.
            # |q| <= 2^21 keeps per-element products <= 2^42; a 10k-row
            # Arrow batch then sums to <= 2^55, comfortably inside int64.
            amax = int(np.abs(q).max(initial=0))
            if amax > (1 << 21):
                raise ValueError(
                    f"scaled_gram: |quantized value| {amax} exceeds 2^21 "
                    f"(embedding magnitudes must be <= {(1 << 21) / scale:.0f}"
                    "); normalize or rescale the vectors first"
                )
            g = q.T @ q
            iu, ju = np.triu_indices(dim)
            i = np.concatenate([iu + 1, np.arange(1, dim + 1), [0]]).astype(np.int32)
            j = np.concatenate([ju + 1, np.zeros(dim), [0]]).astype(np.int32)
            s = np.concatenate([g[iu, ju], q.sum(axis=0), [q.shape[0]]])
            yield pa.RecordBatch.from_pydict({"i": i, "j": j, "s": s})

    parts = df.select(vec_col).mapInArrow(per_batch, "i int, j int, s long")
    # the cell total stays DECIMAL(38,0): per-row diagonal terms reach
    # ~2^40, so a long total overflows near 10^9 rows — narrowing here
    # would silently destroy the exactness this pass exists for; callers
    # needing int64 cast at their own (known-small) scale
    return (
        parts.groupBy("i", "j")
        .agg(F.sum(F.col("s").cast("decimal(38,0)")).alias("s"))
        .orderBy("i", "j")
    )


def pca_fit(gram_rows, dim: int, k: int):
    """From collected :func:`scaled_gram` rows → ``(components, evr)``:
    a (k, dim) float64 array of sign-pinned principal axes and the
    explained-variance ratios."""
    import numpy as np

    scale = float(1 << SCALE_BITS)
    g = np.zeros((dim, dim))
    mean_s = np.zeros(dim)
    n = 0
    for r in gram_rows:
        i, j, s = r["i"], r["j"], r["s"]
        if i == 0:
            n = int(s)
        elif j == 0:
            mean_s[i - 1] = float(s)
        else:
            g[i - 1, j - 1] = g[j - 1, i - 1] = float(s)
    if n < 2:
        raise ValueError("pca_fit: need at least 2 rows")
    mu = mean_s / (n * scale)
    cov = g / (n * scale * scale) - np.outer(mu, mu)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T
    for c in comps:  # pin eigh's arbitrary sign
        if c[int(np.argmax(np.abs(c)))] < 0:
            c *= -1.0
    total = float(vals.sum())
    evr = [float(vals[o]) / total if total > 0 else 0.0 for o in order]
    return comps, evr


def pca_project(
    df: DataFrame, vec_col: str, components, id_col: str
) -> DataFrame:
    """``(id, proj)`` — row-local Arrow-batched matmul, no shuffle.  ``id``
    is ``id_col`` passed through as its input Arrow array, any type."""
    import numpy as np

    comp = np.asarray(components, dtype=np.float64)

    def per_batch(batches):
        import pyarrow as pa

        for rb in batches:
            if rb.num_rows == 0:
                continue
            m = np.array(rb.column(1).to_pylist(), dtype=np.float64)
            p = m @ comp.T
            proj = pa.array(p.tolist(), pa.list_(pa.float64()))
            yield pa.RecordBatch.from_arrays([rb.column(0), proj], names=["id", "proj"])

    id_dt = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, vec_col).mapInArrow(
        per_batch, f"id {id_dt}, proj array<double>"
    )
