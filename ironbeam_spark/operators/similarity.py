"""Similarity search over embedding columns (north-star extension).

Two tiers, as a production ANN stack on Spark would do it:

- **Brute-force cosine top-k** — the exactness baseline.  Cross join of
  queries × corpus with the (small) query side broadcast, ``row_number ≤ k``
  per query.  Cost is |Q|·|C|; fine when |Q| is small, and the per-pair dot
  product stays inside codegen.
- **LSH-bucketed ANN** — the scale path.  Random-hyperplane signatures
  bucket the corpus; candidates = bucket collisions (equi-join, shuffle-
  partitioned on bucket key), then exact cosine re-rank.  Hyperplanes are
  *data vectors* chosen by id (deterministic, no RNG), which keeps the whole
  pipeline expressible as exact SQL for the oracle.

No FP aggregation across rows anywhere — only per-pair fold-order-fixed dot
products — so results are engine-exact (see functions/vectors.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ironbeam_spark.functions.vectors import cosine_safe, dot, norm
from ironbeam_spark.scale import ensure_min_parallelism

__all__ = [
    "brute_force_topk",
    "arrow_pair_cosine",
    "hyperplane_buckets",
    "lsh_ann_topk",
    "ivf_assign_cells",
    "ivf_ann_topk",
    "train_centroids_kmeans",
    "lsh_near_dup_pairs",
    "semantic_dedup",
]


def train_centroids_kmeans(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_n: int = 4096,
    iters: int = 10,
    distributed: bool | None = None,
) -> list[tuple[int, list[float]]]:
    """Train IVF centroids with spherical k-means (unit vectors, cosine ==
    dot).  Two paths, chosen by corpus size (``distributed`` overrides):

    - **≤ sample_n rows** (the bound is probed with a ``limit(n+1).count()``,
      never a full scan): driver-side numpy Lloyd's over the id-sorted
      sample, RNG-free init (``k`` evenly spaced vectors) — bit-reproducible,
      which the exact-oracle suite queries rely on.
    - **> sample_n rows — the 100 TB default**: ``pyspark.ml.clustering
      .KMeans`` (k-means||, seeded), all data parallel, nothing collected to
      the driver but the ``k`` centers themselves.  Centers are re-normalized
      to the unit sphere and id-ordered lexicographically so the output
      contract ``[(cell_id, centroid), ...]`` is deterministic for a fixed
      input.

    Either way, the expensive step (assigning the full corpus) remains the
    distributed codegen expression in :func:`ivf_assign_cells`.
    """
    import numpy as np

    if distributed is None:
        distributed = df.limit(sample_n + 1).count() > sample_n
    if distributed:
        return _train_centroids_kmeans_ml(df, k, vec_col, iters)

    rows = df.select(id_col, vec_col).orderBy(id_col).limit(sample_n).collect()
    X = np.array([r[1] for r in rows], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    C = X[np.linspace(0, len(X) - 1, num=k).astype(int)].copy()
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)  # ties -> lowest cell, deterministic
        for j in range(k):
            members = X[assign == j]
            if len(members):
                m = members.sum(axis=0)
                norm = np.linalg.norm(m)
                if norm > 1e-12:
                    C[j] = m / norm
    return [(j, [float(x) for x in C[j]]) for j in range(k)]


def _train_centroids_kmeans_ml(
    df: DataFrame, k: int, vec_col: str, iters: int
) -> list[tuple[int, list[float]]]:
    """Distributed spherical k-means via ``pyspark.ml`` (k-means||): rows are
    unit-normalized with a codegen expression before fitting, so Euclidean
    k-means on the sphere ≈ cosine clustering.  Only the ``k`` fitted centers
    cross to the driver."""
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    unit = F.transform(
        F.col(vec_col),
        lambda x: x.cast("double") / F.greatest(norm(F.col(vec_col)), F.lit(1e-12)),
    )
    feats = df.select(array_to_vector(unit).alias("features"))
    model = KMeans(k=k, maxIter=iters, seed=0, initMode="k-means||").fit(feats)
    centers = []
    for c in model.clusterCenters():
        v = np.asarray(c, dtype=np.float64)
        n = np.linalg.norm(v)
        centers.append(v / n if n > 1e-12 else v)
    # ml's center order is fit-internal; lexicographic ids make it stable
    centers.sort(key=lambda v: tuple(v))
    return [(j, [float(x) for x in c]) for j, c in enumerate(centers)]


def arrow_pair_cosine(
    df: DataFrame,
    a_col: str,
    b_col: str,
    keep_cols: list[str],
    out_col: str = "cos_sim",
) -> DataFrame:
    """Arrow-batched exact cosine over two vector columns: ``keep_cols`` +
    ``out_col`` (double).  ``np.add.accumulate`` makes the fold SEQUENTIAL,
    so the doubles are bit-identical to the Catalyst ``aggregate`` fold and
    the SQL oracle's ``list_sum`` while running vectorized C (~10x over the
    interpreted higher-order lambdas on |pairs|-sized inputs).  Degenerate
    rows (null / ragged / empty / null-element / zero-norm) score NULL —
    the :func:`~ironbeam_spark.functions.vectors.cosine_safe` semantics."""
    fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = ", ".join(
        [f"{c} {fields[c]}" for c in keep_cols] + [f"{out_col} double"]
    )

    def score(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        def seq_fold(prod):  # sequential left-fold == F.aggregate order
            return np.add.accumulate(prod, axis=1)[:, -1]

        def as_matrix(col, n):
            # zero-copy list flatten (offset-aware) -> (n, dim) float64;
            # None when the column has null, ragged, zero-length, or
            # null-element vectors (flatten() DROPS null lists, so a
            # blind reshape would silently shift every later row's
            # values; dim 0 would crash the [:, -1] fold; inner nulls
            # would silently convert to NaN)
            if col.null_count:
                return None
            flat_col = col.flatten()
            if flat_col.null_count:
                return None
            lens = pc.list_value_length(col)
            lo, hi = pc.min(lens).as_py(), pc.max(lens).as_py()
            if lo != hi or lo == 0:
                return None
            flat = np.asarray(flat_col, dtype=np.float64)
            return flat.reshape(n, -1)

        def fold_cos(qm, cm):
            # zero-norm rows -> (cos=0.0 placeholder, valid=False);
            # callers turn invalid rows into nulls
            denom = np.sqrt(seq_fold(qm * qm)) * np.sqrt(seq_fold(cm * cm))
            valid = denom > 0
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = seq_fold(qm * cm) / denom
            return np.where(valid, cos, 0.0), valid

        def mixed_batch_cos(qlist, clist, n):
            # degenerate-batch path: null vector, length mismatch,
            # empty vector, null element -> null (cosine undefined).
            # The well-formed rows still score VECTORIZED (grouped by
            # dim) — one bad row must not drop the whole batch to
            # per-row Python.
            out = [None] * n
            ok = [
                i
                for i in range(n)
                if qlist[i] is not None
                and clist[i] is not None
                and len(qlist[i]) == len(clist[i])
                and len(qlist[i]) > 0
                and None not in qlist[i]
                and None not in clist[i]
            ]
            for d in {len(qlist[i]) for i in ok}:
                sel = [i for i in ok if len(qlist[i]) == d]
                qm = np.array([qlist[i] for i in sel], dtype=np.float64)
                cm = np.array([clist[i] for i in sel], dtype=np.float64)
                cos, valid = fold_cos(qm, cm)
                for j, i in enumerate(sel):
                    out[i] = float(cos[j]) if valid[j] else None
            return out

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            qm = as_matrix(rb.column(a_col), n)
            cm = as_matrix(rb.column(b_col), n)
            if qm is not None and cm is not None and qm.shape == cm.shape:
                vals, valid = fold_cos(qm, cm)
                cos = pa.array(vals, type=pa.float64(), mask=~valid)
            else:
                cos = pa.array(
                    mixed_batch_cos(
                        rb.column(a_col).to_pylist(),
                        rb.column(b_col).to_pylist(),
                        n,
                    ),
                    type=pa.float64(),
                )
            yield pa.RecordBatch.from_arrays(
                [rb.column(c) for c in keep_cols] + [cos],
                names=[*keep_cols, out_col],
            )

    return df.mapInArrow(score, out_schema)


# Catalyst-ESTIMATED pair bytes per task above which the Arrow scorer wins.
# Calibrated from the r12 stage-isolated crossover (~3k pairs/task: the
# mapInArrow boundary costs a flat ~11 ms/task vs ~4 µs/pair interpreted)
# times Catalyst's ~6.6 KB/pair size estimate for two 64-dim vector
# columns — r12 measured the estimator on the live join at 20k pairs.
_SCORER_DEFAULT_BYTES = 16 * 1024 * 1024


def _auto_pair_impl(joined: DataFrame) -> str:
    """Pick the scorer for a joined pair frame: the vectorized Arrow scorer
    when the ESTIMATED pair bytes per task clear the measured
    Python-boundary crossover ``_SCORER_DEFAULT_BYTES``, else the
    interpreted expression fold.

    Both scorers are bit-identical after ranking (differential-test
    pinned), so this is purely a throughput choice — the r12 crossover
    measurement showed each side wins by >1.5x on its own side of ~3k
    pairs/task, and a fixed default is wrong at one scale or the other
    (guide §1.2: the bench layout sits at ~600 pairs/task, production
    shards at 10^4-10^6).  The size estimate comes from the optimized
    plan's stats (driver-side, no job).  Estimator failure falls back to
    Arrow — the scale-safe side."""
    try:
        size = int(
            joined._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        par = max(joined.sparkSession.sparkContext.defaultParallelism, 1)
        return "arrow" if size / par >= _SCORER_DEFAULT_BYTES else "expr"
    except Exception:
        return "arrow"


def _score_pairs(joined: DataFrame) -> DataFrame:
    """Cosine-score the ``(query_id, q_vec, neighbor_id, c_vec)`` pairs of
    ``joined`` into ``(query_id, neighbor_id, cos_sim)`` with the scorer
    :func:`_auto_pair_impl` picks."""
    if _auto_pair_impl(joined) == "expr":
        return joined.select(
            "query_id",
            "neighbor_id",
            # cosine_safe (not cosine): degenerate vectors (zero-norm or
            # empty — ivf_assign_cells keeps them in a cell, LSH hashes them
            # to a bucket like any other) score NULL and are dropped by
            # _rank_topk, the same contract as the arrow path; the unsafe
            # quotient would raise DIVIDE_BY_ZERO under ANSI mode
            cosine_safe(F.col("q_vec"), F.col("c_vec")).alias("cos_sim"),
        )
    return arrow_pair_cosine(
        joined.select("query_id", "q_vec", "neighbor_id", "c_vec"),
        "q_vec",
        "c_vec",
        ["query_id", "neighbor_id"],
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared top-k ranking: drop undefined scores (null; or NaN, which
    Spark sorts ABOVE every double under ``desc()``) so degenerate vectors
    can never displace real neighbors, then window row_number <= k."""
    scored = scored.where(
        F.col("cos_sim").isNotNull() & ~F.isnan(F.col("cos_sim"))
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector (self-match
    excluded).

    The joined pairs are scored by one of two bit-identical scorers, picked
    by :func:`_auto_pair_impl` from the plan's estimated pair bytes per
    task (``_SCORER_DEFAULT_BYTES``, the measured crossover: the flat
    Python-boundary cost loses below ~3k pairs/task and wins increasingly
    above it).  The Arrow scorer runs an Arrow-batched ``mapInArrow``
    using ``np.add.accumulate`` — a SEQUENTIAL fold, so the doubles are
    bit-identical to the Catalyst ``aggregate`` fold (and the SQL oracle's
    ``list_sum``) while running vectorized C instead of interpreted
    higher-order lambdas (~10× on the |Q|·|C| hot loop — the baseline's
    cost is genuinely linear in |C|, so the constant IS the scale story).
    The expression scorer is the pure-expression path (``cosine_safe``,
    so degenerate vectors score NULL exactly like the Arrow scorer
    instead of raising under ANSI).  Both share the same plan shape:
    broadcast queries × corpus, window top-k.

    Degenerate rows: null vectors, vectors containing null elements,
    mismatched lengths, empty vectors, and zero-norm vectors all score
    NULL on the arrow path (cosine is undefined for them), and undefined
    scores are dropped before ranking — so a degenerate corpus vector can
    never displace a real neighbor from the top-k.  (Spark sorts IEEE NaN
    ABOVE every double under ``desc()``, so emitting 0/0 NaN — the old
    behavior — silently ranked every degenerate vector #1.)  The
    expression path yields null for null/mismatched vectors but RAISES
    under Spark 4's ANSI mode for zero-norm (double DIVIDE_BY_ZERO) — the
    arrow behavior is the deliberate one for dirty corpora."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = ensure_min_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    joined = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    return _rank_topk(_score_pairs(joined), k)


def _side_array(side_df: DataFrame, id_col: str, vec_col: str, out: str) -> DataFrame:
    """Collapse a small plane/centroid DataFrame into ONE id-sorted array row
    — the broadcastable carrier for the all-DataFrame ANN path.  Nothing is
    collected to the driver; the single row rides a broadcast join."""
    return side_df.select(
        F.struct(
            F.col(id_col).cast("int").alias("pid"), F.col(vec_col).alias("vec")
        ).alias("p")
    ).agg(F.array_sort(F.collect_list("p")).alias(out))


def hyperplane_buckets(
    df: DataFrame,
    planes: list[list[float]] | DataFrame,
    vec_col: str = "embedding",
    out_col: str = "bucket",
    plane_id_col: str = "plane_id",
    plane_vec_col: str = "plane",
) -> DataFrame:
    """Sign-of-dot-product LSH bucket id: bit i = 1 iff dot(v, plane_i) > 0.

    ``planes`` may be a driver-side list (literal codegen expressions — fine
    for ≤ a few dozen planes) or a **DataFrame** ``(plane_id, plane)`` — the
    no-collect path: planes are folded into one array row and broadcast, and
    the bucket is an ``F.aggregate`` over that array.  Same bit semantics
    (bit index = plane_id), so both paths produce identical buckets."""
    if isinstance(planes, DataFrame):
        arr = _side_array(planes, plane_id_col, plane_vec_col, "_planes")
        bucket = F.aggregate(
            F.col("_planes"),
            F.lit(0).cast("long"),
            lambda acc, p: acc
            + F.when(
                dot(F.col(vec_col), p["vec"]) > 0,
                # SQL shiftleft takes a column bit-count (the Python wrapper
                # F.shiftleft only accepts a literal int)
                F.call_function("shiftleft", F.lit(1).cast("long"), p["pid"]),
            ).otherwise(F.lit(0).cast("long")),
        )
        return (
            df.crossJoin(F.broadcast(arr))  # 1-row side: a broadcast, not a blowup
            .withColumn(out_col, bucket)
            .drop("_planes")
        )
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bucket = bucket + F.when(
            dot(F.col(vec_col), plane) > 0, F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return df.withColumn(out_col, bucket)


def ivf_assign_cells(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]] | DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
    cell_id_col: str = "cell",
    centroid_col: str = "centroid",
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its ``n_probe`` nearest
    centroids by cosine (deterministic ties: lower centroid id wins).  Output
    ``(id, vec, cell, cell_rank)`` — one row per probed cell.

    ``centroids`` may be a driver-side list (k-means output or vectors chosen
    by id — the per-row argmax is then a codegen expression over a literal
    array, no join, no shuffle) or a **DataFrame** ``(cell, centroid)`` — the
    no-collect path: centroids fold into one broadcast array row and the
    scoring runs as ``F.transform`` over it.  Identical assignment either
    way."""
    if isinstance(centroids, DataFrame):
        arr = _side_array(centroids, cell_id_col, centroid_col, "_cents")
        cells = F.transform(
            F.col("_cents"),
            lambda c: F.struct(
                # cosine_safe + coalesce: a zero-norm/empty vector gets a
                # defined assignment (lowest cell id at sim -2) instead of
                # an ANSI DIVIDE_BY_ZERO killing the whole job
                F.coalesce(
                    cosine_safe(F.col(vec_col), c["vec"]), F.lit(-2.0)
                ).alias("sim"),
                c["pid"].alias("cell"),
            ),
        )
        base = df.crossJoin(F.broadcast(arr))  # 1-row side
    else:
        scored = [
            (
                cid,
                F.coalesce(
                    cosine_safe(
                        F.col(vec_col), F.array(*[F.lit(float(x)) for x in c])
                    ),
                    F.lit(-2.0),
                ),
            )
            for cid, c in centroids
        ]
        cells = F.array(
            *[F.struct(s.alias("sim"), F.lit(cid).alias("cell")) for cid, s in scored]
        )
        base = df
    # sort by (-sim, cell): nearest first, deterministic on ties
    ranked = F.slice(
        F.array_sort(
            cells, lambda a, b: F.when(a["sim"] > b["sim"], -1).when(a["sim"] < b["sim"], 1).otherwise(a["cell"] - b["cell"]).cast("int")
        ),
        1,
        n_probe,
    )
    out = base.select(
        F.col(id_col),
        F.col(vec_col),
        F.posexplode(ranked).alias("cell_rank", "cell_struct"),
    )
    return out.select(
        id_col, vec_col, F.col("cell_struct.cell").alias("cell"), "cell_rank"
    )


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]] | DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """IVF-style ANN: corpus vectors live in their single nearest cell; each
    query probes its ``n_probe`` nearest cells and exact-ranks only those
    cells' members.  At scale the cell join is an equi-join hash-partitioned
    on cell id — |Q|·|C| becomes |Q|·(corpus/cells)·n_probe.

    Pair scoring picks the interpreted expression fold or the vectorized
    Arrow scorer (bit-identical after ranking) from the measured
    pairs-per-task crossover, see :func:`_auto_pair_impl`.  r12 proved the
    two sides bit-exact on this exact query shape (incl. zero-norm fuzz)
    and measured the flat ~0.35 s Python-boundary cost losing below ~3k
    pairs/task — the rule keeps the expression fold at bench pair counts
    and flips to Arrow at production shard sizes."""
    cb = ivf_assign_cells(corpus, centroids, id_col, vec_col, n_probe=1).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"), "cell"
    )
    qb = ivf_assign_cells(queries, centroids, id_col, vec_col, n_probe=n_probe).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"), "cell"
    )
    joined = (
        # broadcast the QUERY side: the probe set is small by contract
        # (it is what the caller is searching FOR), while hash-exchanging
        # the corpus on cell id partitions the big side by a key with
        # only |cells| distinct values — a guaranteed-skew shuffle at
        # scale (guide §2.5) that the broadcast removes outright along
        # with both exchanges (opt r12, guide §3.1).
        F.broadcast(qb).join(cb, on="cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        # no dedup needed (same argument as ivfpq_ann_topk): each corpus
        # row lives in exactly ONE cell (n_probe=1 assignment) and a
        # query's probed cells are distinct structs of the sorted centroid
        # array, so the cell equi-join emits each (query, neighbor) pair
        # at most once — a distinct() here re-shuffled the largest
        # intermediate for nothing (opt r12, guide §2.4)
    )
    return _rank_topk(_score_pairs(joined), k)


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]] | DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Approximate top-k: only corpus vectors in the query's LSH bucket are
    scored.  Recall loss is the LSH trade-off; at scale this turns |Q|·|C|
    into a bucket-partitioned equi-join.  Pair scoring as in
    :func:`ivf_ann_topk` (same r12 bit-exactness proof and crossover
    measurement; same scorer rule)."""
    qb = hyperplane_buckets(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")),
        planes,
        "q_vec",
    )
    cb = hyperplane_buckets(
        ensure_min_parallelism(corpus).select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")),
        planes,
        "c_vec",
    )
    joined = (
        # query side broadcast: same probe-set-vs-corpus asymmetry (and
        # bucket-key skew argument) as ivf_ann_topk's cell join
        F.broadcast(qb).join(cb, on="bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    return _rank_topk(_score_pairs(joined), k)


def lsh_near_dup_pairs(
    df: DataFrame,
    planes: list[list[float]] | DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 4,
    block_cols: tuple[str, ...] = (),
    sim_col: str = "cos_sim",
) -> DataFrame:
    """Near-duplicate pairs by cosine ≥ ``threshold`` over multi-band
    hyperplane-LSH candidates — the scale-safe replacement for a within-block
    all-pairs self-join.

    The ``len(planes)``-bit sign signature (bit i = dot(v, plane_i) > 0) is
    split into ``bands`` contiguous bit-ranges; two vectors are CANDIDATES
    iff they agree on every bit of at least one band (and on ``block_cols``).
    Candidates come from a (block, band_idx, band_bits) equi-join —
    hash-partitioned, never a cross join — then exact cosine verifies.

    Semantics are candidates ∩ (cos ≥ t): deterministic (planes are data
    vectors, no RNG) and exactly reproducible in SQL, which is what makes an
    external-oracle check possible.  Recall vs the all-pairs ideal follows
    the standard banding curve 1 − (1 − p^r)^b with p = 1 − θ/π; at
    production near-dup thresholds (≥0.8) these defaults give ≥0.95, at
    loose thresholds LSH trades recall for the linear plan shape — that
    trade IS the operator.
    """
    # band arithmetic needs the PLANE COUNT driver-side; for a DataFrame
    # plane set that is one tiny aggregate over a dim-sized table (bounded —
    # the planes themselves never leave the executors).  The bit index IS
    # plane_id (hyperplane_buckets), so ids must be exactly 0..n-1: a gap or
    # offset would leave whole bands permanently zero and silently degrade
    # the candidate join toward all-pairs.
    if isinstance(planes, DataFrame):
        st = planes.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("plane_id").alias("d"),
            F.min("plane_id").alias("lo"),
            F.max("plane_id").alias("hi"),
        ).first()
        n_bits = int(st["n"])
        if not (st["d"] == n_bits and st["lo"] == 0 and st["hi"] == n_bits - 1):
            raise ValueError(
                f"plane_id must be exactly 0..{n_bits - 1} (bit index = "
                f"plane_id); got distinct={st['d']}, min={st['lo']}, max={st['hi']}"
            )
    else:
        n_bits = len(planes)
    if n_bits % bands != 0:
        raise ValueError(f"bands={bands} must divide n_planes={n_bits}")
    width = n_bits // bands
    mask = (1 << width) - 1
    blocks = list(block_cols)

    bk = hyperplane_buckets(
        ensure_min_parallelism(df).select(*blocks, id_col, vec_col), planes, vec_col
    )
    band_keys = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("bucket"), b * width)
                .bitwiseAND(F.lit(mask))
                .cast("long")
                .alias("band_bits"),
            )
            for b in range(bands)
        ]
    )
    banded = bk.select(
        *blocks, id_col, F.explode(band_keys).alias("bk")
    ).select(*blocks, id_col, F.col("bk.band").alias("band"), F.col("bk.band_bits").alias("band_bits"))
    a = banded.alias("a")
    b = banded.alias("b")
    cands = (
        a.join(b, on=[*blocks, "band", "band_bits"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            *blocks,  # carried so verify joins on [*blocks, id] — ids need
            # only be unique within a block, not globally
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    va = df.select(*blocks, F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = df.select(*blocks, F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        cands.join(va, on=[*blocks, "id_a"])
        .join(vb, on=[*blocks, "id_b"])
        # cosine_safe: a zero-norm vector signs to a bucket like any other
        # (every dot is 0 -> all-false signature), so its candidate pairs
        # reach this scoring join; NULL fails the >= threshold filter, so
        # degenerate vectors drop out instead of raising DIVIDE_BY_ZERO
        .withColumn(sim_col, cosine_safe(F.col("_va"), F.col("_vb")))
        .where(F.col(sim_col) >= F.lit(float(threshold)))
        .select("id_a", "id_b", sim_col)
    )


def semantic_dedup(
    df: DataFrame,
    centroids: "list[tuple[int, list[float]]] | DataFrame",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    blocks_per_cell: int = 1,
    checkpoint_policy=None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (public algorithm family:
    Abbas et al. 2023, *SemDeDup: Data-efficient learning at web-scale
    through semantic deduplication* — cluster embeddings, prune
    near-duplicates within each cluster).

    Stages, each a composition of this library's scale-shaped primitives:

    1. **Assign**: every vector goes to its single nearest centroid
       (:func:`ivf_assign_cells`, deterministic ties) — the clustering
       that bounds the quadratic.
    2. **Pair**: within-cell pairwise exact cosine via a cell-partitioned
       equi self-join — |C|² becomes Σ_cells |cell|², and the join is
       hash-partitioned on the cell id.  Never a global all-pairs.  Two
       knobs bound the hot-cell quadratic: more centroids → smaller
       cells, and ``blocks_per_cell`` (B > 1) switches to the classic
       **triangle join**: every member is hashed into one of B blocks,
       each of the B·(B+1)/2 block-pair tasks scores only its two
       blocks' members, so the largest task shrinks from |cell|² to
       (|cell|/B)² at a B× replication of the (id, vector) shuffle —
       each unordered pair still scored exactly once.
    3. **Group**: pairs with ``cos_sim ≥ threshold`` feed
       :func:`~ironbeam_spark.operators.dedup.dedup_components`
       (one-shuffle label-propagation rounds, policy-checkpointed).
    4. **Keep**: the min-id member of each duplicate group survives — the
       same deterministic-winner contract as ``dedup_exact``.

    Returns ``(id, cell, component, keep)`` — one row per input vector;
    ``component`` is the group representative (itself for uniques),
    ``keep`` marks survivors.  Degenerate vectors (undefined cosine)
    never pair, so they are always kept."""
    from ironbeam_spark.operators.dedup import dedup_components

    assigned = ivf_assign_cells(df, centroids, id_col, vec_col, n_probe=1).select(
        F.col(id_col).alias("_sid"), F.col(vec_col).alias("_svec"), "cell"
    )
    a = assigned.select(
        F.col("_sid").alias("id_a"), F.col("_svec").alias("_va"), "cell"
    )
    b = assigned.select(
        F.col("_sid").alias("id_b"), F.col("_svec").alias("_vb"), "cell"
    )
    if blocks_per_cell > 1:
        # triangle join: deterministic block = hash(id) mod B.  A member of
        # block p is the LOW side of tasks (p, q>p) and the HIGH side of
        # tasks (i<p, p); same-block pairs come from the diagonal task.
        # Every unordered cross-block pair meets in exactly one (p, q)
        # task with fixed roles, so no pair is scored twice.
        B = int(blocks_per_cell)
        blk = lambda c: F.pmod(F.hash(c), F.lit(B))  # noqa: E731
        # guard: Spark's sequence(s, e) is DESCENDING when s > e — an
        # unguarded explode would fabricate bogus tasks for edge blocks
        empty = F.array().cast("array<int>")
        lo = a.withColumn("_bp", blk(F.col("id_a"))).withColumn(
            "_bq",
            F.explode(
                F.when(
                    F.col("_bp") + 1 <= F.lit(B - 1),
                    F.sequence(F.col("_bp") + 1, F.lit(B - 1)),
                ).otherwise(empty)
            ),
        )
        hi = b.withColumn("_bq", blk(F.col("id_b"))).withColumn(
            "_bp",
            F.explode(
                F.when(
                    F.col("_bq") >= 1, F.sequence(F.lit(0), F.col("_bq") - 1)
                ).otherwise(empty)
            ),
        )
        cross = lo.join(hi, on=["cell", "_bp", "_bq"]).select(
            F.least("id_a", "id_b").alias("id_a"),
            F.when(F.col("id_a") < F.col("id_b"), F.col("_va"))
            .otherwise(F.col("_vb"))
            .alias("_va"),
            F.greatest("id_a", "id_b").alias("id_b"),
            F.when(F.col("id_a") < F.col("id_b"), F.col("_vb"))
            .otherwise(F.col("_va"))
            .alias("_vb"),
        )
        diag = (
            a.withColumn("_bp", blk(F.col("id_a")))
            .join(b.withColumn("_bp", blk(F.col("id_b"))), on=["cell", "_bp"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "_va", "id_b", "_vb")
        )
        raw_pairs = cross.unionByName(diag)
    else:
        raw_pairs = (
            a.join(b, on="cell")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "_va", "id_b", "_vb")
        )
    # Arrow-vectorized exact cosine over the within-cell pairs: |pairs| is
    # the dominant cost (sum of |cell|^2), and the vectorized fold is
    # ~10x the interpreted lambdas while staying bit-identical to the
    # expression fold — degenerate rows score NULL and never pair.
    pairs = arrow_pair_cosine(
        raw_pairs,
        "_va",
        "_vb",
        ["id_a", "id_b"],
    ).where(
        F.col("cos_sim").isNotNull()
        & ~F.isnan(F.col("cos_sim"))
        & (F.col("cos_sim") >= F.lit(float(threshold)))
    )
    labels = dedup_components(pairs, checkpoint_policy=checkpoint_policy)
    return (
        assigned.join(labels, assigned._sid == labels.node, "left")
        .select(
            F.col("_sid").alias(id_col),
            F.col("cell"),
            F.coalesce(F.col("component"), F.col("_sid")).alias("component"),
            (F.coalesce(F.col("component"), F.col("_sid")) == F.col("_sid")).alias(
                "keep"
            ),
        )
    )
