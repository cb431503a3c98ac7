"""Product quantization (PQ) for embedding search — asymmetric distance
computation over compressed codes (Jégou, Douze & Schmid, "Product
Quantization for Nearest Neighbor Search", TPAMI 2011 — public paper).

No reference analogue (the reference has no vector search at all); this
completes the engine's ANN family alongside brute-force (exactness
baseline), LSH / IVF (candidate pruning), and int8 (scalar compression):
PQ is the VECTOR-compression path — the one that makes a 100 TB embedding
corpus scannable.

How it scales:

- A d-dim vector is split into ``m`` subspaces of ``d/m`` dims; each
  subspace has its own tiny codebook of ``ncode`` centroids.  A vector is
  stored as ``m`` small integers — ``m·log2(ncode)`` bits instead of
  ``4d`` bytes (64 dims × float32 = 256 bytes → 4 subspaces × 3 bits ≈
  2 bytes: >100× smaller).  ENCODING is one vectorized narrow
  ``mapInArrow`` pass (no shuffle; :func:`pq_codes_arrow`, or
  :func:`ivfpq_corpus_codes_arrow` with the IVF cell): per subspace,
  ``ncode`` codeword L2 distances as numpy matrix ops per batch and a
  first-occurrence arg-min.
- SEARCH is asymmetric distance computation (ADC): each query precomputes
  one ``m × ncode`` table of exact sub-dot-products against the codebooks
  (expression-only, on the query side — the small side), then every
  corpus CODE row is scored with ``m`` array lookups + ``m-1`` adds.  The
  plan is broadcast(queries+ADC tables) over a scan of the code table —
  a BroadcastNestedLoopJoin by construction, DECLARED at the sweep
  allowlist like ``q_ann_bruteforce``: the scanned side reads ``m`` small
  ints per vector instead of the raw embedding, which is the entire point
  of PQ at 100 TB (the code table for 10^9 vectors fits where the raw
  vectors never will; combine with the IVF cells in
  ``operators/similarity.py`` for sub-scan candidate pruning — classic
  IVF-PQ — when even the code scan is too wide).

Exactness discipline (same contract as the rest of the ANN family): PQ is
an approximation of the dot product, but the approximation itself is
computed bit-exactly — codeword elements are widened to double before any
arithmetic, every sum is a sequential left-fold (``F.aggregate`` here,
``list_sum(list_transform(...))`` in the DuckDB oracle), subspace partial
scores are added in fixed left-to-right order, and arg-min ties break on
the lower code id — so the suite query has an exact value oracle, not a
tolerance band.

Preconditions (fail-fast mid-job, never silent): every vector must have
exactly ``m × dsub`` elements; codebooks must be rectangular.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "pq_codebooks_from_prefix",
    "pq_train_codebooks",
    "pq_ann_topk",
    "pq_codes_arrow",
    "ivfpq_corpus_codes_arrow",
    "ivfpq_ann_topk",
]

def pq_codebooks_from_prefix(
    corpus: DataFrame, id_col: str, vec_col: str, m: int, ncode: int
) -> list[list[list[float]]]:
    """Deterministic codebooks: the ``ncode`` lowest-id corpus vectors,
    each split into ``m`` sub-vectors (same convention as the IVF suite
    query's first-N centroids — reproducible in a static SQL oracle; use
    :func:`pq_train_codebooks` for production codebooks).  Bounded
    collect: exactly ``ncode`` rows."""
    rows = (
        corpus.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy("i")
        .limit(ncode)
        .collect()
    )
    if len(rows) < ncode:
        raise ValueError(f"corpus has {len(rows)} rows < ncode={ncode}")
    d = len(rows[0].v)
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    return [
        [[float(x) for x in r.v[j * dsub : (j + 1) * dsub]] for r in rows]
        for j in range(m)
    ]


def pq_train_codebooks(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    ncode: int,
    sample_n: int = 4096,
    iters: int = 15,
) -> list[list[list[float]]]:
    """Train per-subspace codebooks with plain-L2 Lloyd's on an id-sorted
    bounded sample (PQ quantizes raw sub-vectors, so EUCLIDEAN k-means —
    not the spherical variant ``train_centroids_kmeans`` uses for IVF
    cells).  Same determinism conventions as the IVF trainer: id-sorted
    sample, RNG-free evenly-spaced init, arg-min ties to the lower index,
    empty clusters keep their previous center.  Bounded-sample training is
    the standard PQ recipe at scale (Jégou et al. train on a sample and
    encode the full corpus); the distributed full-corpus step is
    :func:`pq_codes_arrow`, never training."""
    import numpy as np

    rows = (
        corpus.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy("i")
        .limit(sample_n)
        .collect()
    )
    X = np.array([list(r.v) for r in rows], dtype=np.float64)
    if X.ndim != 2 or X.shape[0] < ncode:
        raise ValueError(f"need >= ncode={ncode} sample vectors, got {X.shape}")
    d = X.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    books: list[list[list[float]]] = []
    for j in range(m):
        sub = X[:, j * dsub : (j + 1) * dsub]
        C = sub[np.linspace(0, len(sub) - 1, num=ncode).astype(int)].copy()
        for _ in range(iters):
            dist = ((sub[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            assign = dist.argmin(1)  # ties -> lowest code, deterministic
            for c in range(ncode):
                members = sub[assign == c]
                if len(members):
                    C[c] = members.mean(0)
        books.append([[float(x) for x in row] for row in C])
    return books


def _fold_sum(arr: Column) -> Column:
    # sequential left-fold: ((0+t1)+t2)+... — matches DuckDB list_sum
    return F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)


def _sub(vec: Column, j: int, dsub: int) -> Column:
    return F.slice(vec, j * dsub + 1, dsub)


def _subdot(sub: Column, cw: Column) -> Column:
    return _fold_sum(F.zip_with(sub, cw, lambda x, c: x.cast("double") * c))


def _sql_double(x: float) -> str:
    import math

    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return f"CAST('{'Infinity' if x > 0 else '-Infinity'}' AS DOUBLE)"
    # repr() is the shortest round-trip decimal: Java's parseDouble maps it
    # back to the identical IEEE-754 double, so the literal is bit-exact
    return f"CAST('{x!r}' AS DOUBLE)"


def _with_codebooks(
    df: DataFrame, codebooks: list[list[list[float]]]
) -> DataFrame:
    """Attach the codebooks as ONE broadcast row (``_pq_cb``).

    The row is a pure-JVM literal built from ONE ``F.expr`` string — a
    ``LocalTableScan`` after constant folding.  Neither of the
    alternatives survives profiling (optimization r12): a parallelized
    ``createDataFrame`` makes every downstream ACTION round-trip one
    near-empty Python task per default-parallelism slice (the
    ``local_metadata_df`` lesson), and per-element ``F.lit`` unrolling
    costs one py4j round trip per codeword float at CONSTRUCTION time
    (m·ncode·dsub ≈ 512 trips per invocation here)."""
    dsub = len(codebooks[0][0])
    if any(len(w) != dsub for words in codebooks for w in words):
        raise ValueError("codebooks must be rectangular")
    sql = (
        "array("
        + ",".join(
            "array("
            + ",".join(
                "array(" + ",".join(_sql_double(float(x)) for x in w) + ")"
                for w in words
            )
            + ")"
            for words in codebooks
        )
        + ")"
    )
    cb_df = df.sparkSession.range(1).select(F.expr(sql).alias("_pq_cb"))
    return df.crossJoin(F.broadcast(cb_df))


def _dim_guard(df: DataFrame, vec_col: str, d: int) -> DataFrame:
    return df.where(
        F.when(F.size(F.col(vec_col)) == d, F.lit(True)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"pq: vector length != {d}: got "),
                    F.size(F.col(vec_col)).cast("string"),
                )
            )
        )
    )


def pq_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Top-k neighbors per query by ADC-approximated dot product:
    ``(query_id, neighbor_id, pq_score, rank)``, rank 1..k, score
    descending, ties → lower neighbor id; self-matches excluded.

    Plan shape: encode corpus → codes (narrow); per-query ADC tables
    (narrow, small side); broadcast queries over the code scan; window
    top-k.  The corpus side never carries the raw vectors past encode."""
    from ironbeam_spark.scale import ensure_min_parallelism

    m = len(codebooks)
    code_cols = [f"pq_code_{j}" for j in range(m)]
    # encode is interpreted higher-order-function work (zip_with/aggregate
    # lambdas never enter whole-stage codegen) — the vectorized Arrow pass
    # does the same arg-min decisions per batch, bit-identically (opt r12,
    # guide §4.2; same differential pin as the ivfpq corpus build).
    # Spread it before the single-split scan serializes it, same
    # discipline as brute_force_topk.
    codes = pq_codes_arrow(
        ensure_min_parallelism(corpus), codebooks, id_col, vec_col
    ).withColumnRenamed(id_col, "neighbor_id")
    q = _dim_guard(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        ),
        "q_vec",
        m * len(codebooks[0][0]),
    )
    q = _adc_tables(q, "q_vec", codebooks).drop("q_vec")

    pairs = F.broadcast(q).crossJoin(codes).where(
        F.col("query_id") != F.col("neighbor_id")
    )
    # fixed left-to-right add order — parity with the oracle's pivoted sum
    score: Column = F.element_at(F.col("adc_0"), F.col(code_cols[0]) + 1)
    for j in range(1, m):
        score = score + F.element_at(F.col(f"adc_{j}"), F.col(code_cols[j]) + 1)
    scored = pairs.select("query_id", "neighbor_id", score.alias("pq_score"))
    return _rank_pq(scored, k)


def _rank_pq(scored: DataFrame, k: int) -> DataFrame:
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(
        F.col("pq_score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "pq_score", "rank")
    )


def _adc_tables(q: DataFrame, vec_col: str, codebooks) -> DataFrame:
    """Append ``adc_0 .. adc_{m-1}`` array<double> columns: the query's
    exact sub-dot-product against every codeword (the ADC lookup table)."""
    dsub = len(codebooks[0][0])
    q = _with_codebooks(q, codebooks)
    for j in range(len(codebooks)):
        sub = _sub(F.col(vec_col), j, dsub)
        q = q.withColumn(
            f"adc_{j}",
            F.transform(F.col("_pq_cb")[j], lambda cw: _subdot(sub, cw)),
        )
    return q.drop("_pq_cb")


def _centroid_list(
    centroids,
    cell_id_col: str = "cell",
    centroid_col: str = "centroid",
) -> list[tuple[int, list[float]]]:
    """Materialize the coarse quantizer as an id-sorted driver list.

    Bounded collect by the same contract as :func:`pq_codebooks_from_prefix`:
    the IVF coarse quantizer is |cells| rows (k-means centroids — a few
    dozen to a few thousand at 100 TB), never corpus-sized.  Sorting by
    cell id makes numpy's first-occurrence arg-max reproduce the
    ``(sim desc, cell asc)`` tie rule of ``ivf_assign_cells``."""
    if isinstance(centroids, DataFrame):
        rows = centroids.select(
            F.col(cell_id_col).cast("int").alias("c"),
            F.col(centroid_col).alias("v"),
        ).collect()
        cents = [(int(r.c), [float(x) for x in r.v]) for r in rows]
    else:
        cents = [(int(c), [float(x) for x in v]) for c, v in centroids]
    return sorted(cents, key=lambda t: t[0])


def ivfpq_corpus_codes_arrow(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus-side IVF-PQ build — nearest-cosine cell (``n_probe=1``) plus
    the ``m`` PQ codes — as ONE vectorized ``mapInArrow`` pass:
    ``(id, cell int, pq_code_0..m-1 int)``.

    Bit-identical to ``ivf_assign_cells(corpus, …, n_probe=1)`` followed by
    the expression-path PQ encode (``zip_with``/``aggregate`` folds and an
    ``array_min`` arg-min — kept as the differential reference in
    ``tests/test_pq.py``, which pins this).  The output is
    INTEGERS ONLY, so equality needs matching arg-max/arg-min decisions,
    not matching doubles — and every sum here replays the expression
    path's sequential left-fold exactly (``np.add.accumulate``, elements
    widened to double first), so any sim/dist that ties bit-exactly in one
    path ties in the other:

    - cell: per centroid ``sim = dot/(|x|·|c|)`` in double; an undefined
      quotient (zero-norm, or NaN norms from null/NaN elements — numpy's
      ``den > 0`` is False for NaN exactly where ``try_divide``/coalesce
      lands on a non-positive or poisoned sim) scores ``-2.0``; numpy's
      first-occurrence arg-max over the cell-id-sorted centroid axis IS
      the ``(sim desc, cell asc)`` sort rule.
    - codes: per subspace the sequential-fold L2 to each codeword; NaN
      distances (NaN/null elements) map to ``+inf`` before the arg-min —
      Spark's NaN-greatest ordering — and first-occurrence arg-min is the
      ties-to-lower-code rule.
    - malformed rows fail fast with the same ``pq: vector length`` error
      as ``_dim_guard``; a NULL vector likewise kills the job.

    Out of contract (as for the whole module's arithmetic discipline):
    ±inf elements or magnitudes whose squares overflow double (>~1e154) —
    embedding corpora are unit-scale floats.

    Why this exists (opt r12, guide §4.2): the expression build does ~100
    interpreted fold lambdas per row (8 cosines × 64 dims + 32 L2 × 16
    dims) outside whole-stage codegen; the numpy pass does the same
    arithmetic as a handful of matrix ops per BATCH (measured 2.8× on the
    isolated corpus build at sf0.1, growing with rows/task per the §8
    batch-size curve).  Heavy init (centroid/codeword matrices) happens
    once per task, before the batch loop.  Only (id, vec) crosses the
    boundary."""
    return _codes_arrow(corpus, centroids, codebooks, id_col, vec_col)


def pq_codes_arrow(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ encode alone as the same vectorized pass — ``(id, pq_code_0..m-1
    int)`` — bit-identical to the expression-path encode in
    ``tests/test_pq.py`` (the same arg-min decision
    logic as :func:`ivfpq_corpus_codes_arrow`, minus the cell column; the
    same r12 differential test pins it).  This is the corpus-dominant step
    of :func:`pq_ann_topk` — the compression pass that touches every
    vector once at 100 TB."""
    return _codes_arrow(corpus, None, codebooks, id_col, vec_col)


def _codes_arrow(
    corpus: DataFrame,
    centroids,
    codebooks: list[list[list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    if any(len(w) != dsub for words in codebooks for w in words):
        raise ValueError("codebooks must be rectangular")
    d = m * dsub
    cents = (
        None
        if centroids is None
        else sorted(
            ((int(c), [float(x) for x in v]) for c, v in centroids),
            key=lambda t: t[0],
        )
    )
    code_cols = [f"pq_code_{j}" for j in range(m)]
    id_type = corpus.schema[id_col].dataType.simpleString()

    def build_codes(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        if cents is not None:
            C = np.array([v for _, v in cents], dtype=np.float64)  # (ncell, d)
            cnorm = np.sqrt(np.add.accumulate(C * C, axis=1)[:, -1])
            cid = np.array([c for c, _ in cents], dtype=np.int32)
        CW = np.array(codebooks, dtype=np.float64)  # (m, ncode, dsub)
        ncode = CW.shape[1]
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            col = rb.column(1)
            if col.null_count:
                raise ValueError(f"pq: vector length != {d}: got NULL vector")
            lens = pc.list_value_length(col).to_numpy(zero_copy_only=False)
            if (lens != d).any():
                bad = int(lens[lens != d][0])
                raise ValueError(f"pq: vector length != {d}: got {bad}")
            # element nulls surface as NaN — poisoning folds exactly like
            # the expression path's null products (see docstring)
            X = (
                col.flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64, copy=False)
                .reshape(n, d)
            )
            arrays = [rb.column(0)]
            if cents is not None:
                xnorm = np.sqrt(np.add.accumulate(X * X, axis=1)[:, -1])
                sims = np.empty((n, len(cid)))
                for j in range(len(cid)):
                    dotj = np.add.accumulate(X * C[j], axis=1)[:, -1]
                    den = xnorm * cnorm[j]
                    with np.errstate(divide="ignore", invalid="ignore"):
                        s = dotj / den
                    sims[:, j] = np.where(den > 0, s, -2.0)
                cells = cid[np.argmax(sims, axis=1)]
                arrays.append(pa.array(cells, type=pa.int32()))
            for j in range(m):
                sub = X[:, j * dsub : (j + 1) * dsub]
                dists = np.empty((n, ncode))
                for c in range(ncode):
                    diff = sub - CW[j, c]
                    dists[:, c] = np.add.accumulate(diff * diff, axis=1)[:, -1]
                dists = np.where(np.isnan(dists), np.inf, dists)
                arrays.append(
                    pa.array(np.argmin(dists, axis=1).astype(np.int32),
                             type=pa.int32())
                )
            names = [id_col] + (["cell"] if cents is not None else []) + code_cols
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    fields = [f"{id_col} {id_type}"]
    if cents is not None:
        fields.append("cell int")
    fields += [f"{c} int" for c in code_cols]
    return corpus.select(id_col, vec_col).mapInArrow(
        build_codes, ", ".join(fields)
    )


def ivfpq_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """IVF-PQ — the production ANN shape at 100 TB (Jégou et al. §V:
    coarse inverted lists + residual-free PQ codes): corpus vectors live
    in their nearest IVF cell carrying only their ``m`` PQ code ints;
    each query probes ``n_probe`` cells with its precomputed ADC tables.

    Plan shape: the search join is a plain EQUI-JOIN on cell id — unlike
    :func:`pq_ann_topk`'s declared full code scan, nothing here needs a
    BroadcastNestedLoopJoin allowance — and the corpus side of the join
    carries ``m`` small ints per vector, never the raw embedding.  Cost
    per query: ``n_probe × (corpus/cells)`` code lookups.  ``centroids``
    as in :func:`~ironbeam_spark.operators.similarity.ivf_assign_cells`
    (driver list or DataFrame; cosine assignment, ties to lower cell)."""
    from ironbeam_spark.operators.similarity import ivf_assign_cells
    from ironbeam_spark.scale import ensure_min_parallelism

    m = len(codebooks)
    code_cols = [f"pq_code_{j}" for j in range(m)]
    # corpus build = cell assignment (8 interpreted 64-dim cosines/row) +
    # PQ encode (m·ncode interpreted L2 folds/row), all OUTSIDE whole-stage
    # codegen — the one vectorized Arrow pass does the same arithmetic per
    # BATCH, bit-identically (opt r12, guide §4.2; differential-test-pinned
    # against the expression path).  Spread the corpus first or a
    # single-split scan serializes the whole pass.  _centroid_list is a
    # bounded collect (|cells| rows, the pq_codebooks_from_prefix contract).
    codes = ivfpq_corpus_codes_arrow(
        ensure_min_parallelism(corpus),
        _centroid_list(centroids),
        codebooks,
        id_col,
        vec_col,
    ).withColumnRenamed(id_col, "neighbor_id")
    qcells = ivf_assign_cells(
        queries, centroids, id_col, vec_col, n_probe=n_probe
    ).select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"), "cell")
    q = _adc_tables(
        _dim_guard(qcells, "q_vec", m * len(codebooks[0][0])), "q_vec", codebooks
    ).drop("q_vec")

    # broadcast the QUERY side (probe rows + their ADC tables — small by
    # contract): hash-exchanging the corpus codes on cell id partitions
    # the big side by a |cells|-distinct-value key, a guaranteed-skew
    # shuffle at scale (guide §2.5); the broadcast ships the tables to
    # the codes instead — zero corpus exchanges (opt r12, guide §3.1)
    pairs = F.broadcast(q).join(codes, on="cell").where(
        F.col("query_id") != F.col("neighbor_id")
    )
    score: Column = F.element_at(F.col("adc_0"), F.col(code_cols[0]) + 1)
    for j in range(1, m):
        score = score + F.element_at(F.col(f"adc_{j}"), F.col(code_cols[j]) + 1)
    # no dedup needed: each corpus row lives in exactly ONE cell
    # (n_probe=1 assignment) and a query's probed cells are distinct, so
    # the cell equi-join emits each (query, neighbor) pair at most once —
    # a distinct() here would re-shuffle the largest intermediate for
    # nothing
    scored = pairs.select("query_id", "neighbor_id", score.alias("pq_score"))
    return _rank_pq(scored, k)
