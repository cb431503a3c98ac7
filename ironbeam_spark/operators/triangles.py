"""Distributed triangle counting — the classic two-equi-join algorithm
with degree orientation (Suri & Vassilvitskii, "Counting Triangles and the
Curse of the Last Reducer", WWW 2011 — public paper).

No reference analogue (the reference has no graph operators); completes the
graph family alongside connected components (``operators/dedup.py``) and
PageRank (``operators/pagerank.py``).  Triangle counts are the standard
graph-quality signal (clustering coefficient, community density) — in a
corpus context they grade co-occurrence graphs like the A-priori pair
output of ``operators/itemsets.py``, which is exactly what the suite query
feeds in.

The curse being avoided: counting wedges at every vertex makes a
degree-10^6 hub emit 10^12 wedge rows into one reducer.  Degree
orientation fixes it — direct every edge from its LOWER-degree endpoint to
the higher (ties to the lower id), so each vertex's OUT-degree is bounded
by O(sqrt(m)); wedges are generated only between out-neighbors, giving
O(m^1.5) total wedge rows regardless of hub degree.  Every stage is an
equi-join or a combinable aggregate:

1. canonicalize + dedup edges (a < b, one ``distinct``),
2. ONE combinable degree aggregate, joined back twice (broadcast when
   small, AQE decides),
3. orient; wedge self-join on the source vertex (per-task cost bounded by
   out-degree², i.e. O(m) per vertex after orientation),
4. close the wedge with a LEFT SEMI join against the canonical edge set.

``orient="id"`` keeps the textbook a<b<c orientation (same count, simpler
plan — the right choice when the graph is known hub-free); ``"degree"``
is the default and the 100 TB answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ironbeam_spark import caches

__all__ = [
    "triangle_count",
    "node_clustering",
    "canonical_edges",
    "materialized_edges",
]


def canonical_edges(
    df: DataFrame, src_col: str, dst_col: str, input_canonical: bool = False
) -> DataFrame:
    """Undirected edge set as ``(a, b)`` with ``a < b``, self-loops
    dropped, ONE ``distinct`` (multi-edges never double-count).

    ``input_canonical=True`` skips the least/greatest rewrite AND the
    ``distinct`` shuffle for inputs that already satisfy the contract
    (``src < dst``, one row per undirected edge) — e.g.
    ``frequent_item_pairs`` output, which is grouped by the ordered pair.
    Passing a non-canonical input with the flag set double-counts
    multi-edges; the flag is a caller promise, not a checked invariant
    (optimization r12, guide §2.4: "a distinct on data that is already
    unique")."""
    a, b = F.col(src_col), F.col(dst_col)
    if input_canonical:
        return df.select(a.alias("a"), b.alias("b"))
    return (
        df.select(
            F.least(a, b).alias("a"), F.greatest(a, b).alias("b")
        )
        .where(F.col("a") < F.col("b"))
        .distinct()
    )


def materialized_edges(
    df: DataFrame, src_col: str, dst_col: str, checkpoint_policy,
    input_canonical: bool = False,
) -> DataFrame:
    """Canonical edge set, lineage-truncated per policy (default =
    AfterEveryBarrier, the :func:`dedup_components` convention).  Lazy
    checkpoint: the first action over the wedge plan materializes it.
    A checkpointed frame is held by :func:`ironbeam_spark.caches.hold`."""
    from ironbeam_spark.operators.checkpoint import CheckpointPolicy

    policy = checkpoint_policy or CheckpointPolicy.after_every_barrier()
    canonical = canonical_edges(df, src_col, dst_col, input_canonical)
    edges = policy.checkpoint(canonical, eager=False)
    if edges is not canonical:  # the policy fired -> checkpoint blocks exist
        caches.hold(edges)
    return edges


def _degrees(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def _closed_wedges(edges: DataFrame, orient: str) -> DataFrame:
    """One row ``(u, a, b)`` per triangle: wedge center ``u`` plus the
    closing edge ``(a, b)`` in canonical id order — each triangle appears
    exactly once (the orientation makes exactly one of its three vertices
    the wedge center)."""
    if orient == "degree":
        deg = _degrees(edges)
        # orient low-degree -> high-degree (ties: lower id): out-degree is
        # then O(sqrt(m)) per vertex — the last-reducer bound
        da = deg.select(F.col("v").alias("a"), F.col("deg").alias("_da"))
        db = deg.select(F.col("v").alias("b"), F.col("deg").alias("_db"))
        oriented = (
            edges.join(da, on="a")
            .join(db, on="b")
            .select(
                F.when(
                    (F.col("_da") < F.col("_db"))
                    | ((F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))),
                    F.struct(F.col("a").alias("u"), F.col("b").alias("w")),
                )
                .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("w")))
                .alias("e")
            )
            .select("e.u", "e.w")
        )
    else:
        oriented = edges.select(F.col("a").alias("u"), F.col("b").alias("w"))
    x = oriented.alias("x")
    y = oriented.alias("y")
    # wedges between OUT-neighbors of u; the x.w < y.w residual emits each
    # unordered pair ONCE, already in canonical (a, b) id order, so the
    # closing edge lookup is a single join against the edge set
    wedges = x.join(
        y, (F.col("x.u") == F.col("y.u")) & (F.col("x.w") < F.col("y.w"))
    ).select(F.col("x.u").alias("u"), F.col("x.w").alias("a"), F.col("y.w").alias("b"))
    return wedges.join(edges, on=["a", "b"], how="left_semi")


def triangle_count(
    df: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    orient: str = "degree",
    checkpoint_policy=None,
    input_canonical: bool = False,
) -> DataFrame:
    """One row ``(n_triangles long)``: the number of unordered vertex
    triples with all three edges present.  Exact; multi-edges, direction,
    and self-loops are canonicalized away first.

    The canonical edge set is read by FIVE plan subtrees (degree aggregate,
    two orientation joins, both sides of the wedge self-join, the closing
    semi-join), so it is policy-checkpointed once — without it Spark
    replays the entire upstream edge construction per subtree (measured 5x
    on the co-occurrence suite query; at 100 TB the upstream is the
    expensive part, the triangle algebra runs on the much smaller edge
    table)."""
    if orient not in ("degree", "id"):
        raise ValueError(f"orient must be 'degree' or 'id', got {orient!r}")
    edges = materialized_edges(
        df, src_col, dst_col, checkpoint_policy, input_canonical
    )
    closed = _closed_wedges(edges, orient)
    return closed.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))


def node_clustering(
    df: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    orient: str = "degree",
    checkpoint_policy=None,
    input_canonical: bool = False,
) -> DataFrame:
    """Per-node triangle counts and local clustering coefficient:
    ``(node, degree, n_triangles, coeff)`` for every vertex with at least
    one edge; ``coeff = triangles / C(degree, 2)`` (0.0 for degree-1
    vertices).  A closed wedge ``(u, a, b)`` credits all three vertices --
    the explode is 3 rows per triangle, then ONE combinable count; the
    coefficient is a single division, so the value oracle stays exact.
    Edges are policy-checkpointed once (see :func:`triangle_count` — here
    a sixth subtree, the final degree join, reads them too)."""
    if orient not in ("degree", "id"):
        raise ValueError(f"orient must be 'degree' or 'id', got {orient!r}")
    edges = materialized_edges(
        df, src_col, dst_col, checkpoint_policy, input_canonical
    )
    closed = _closed_wedges(edges, orient)
    per_node = (
        closed.select(
            F.explode(F.array(F.col("u"), F.col("a"), F.col("b"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("_t"))
    )
    deg = _degrees(edges).select(F.col("v").alias("node"), F.col("deg"))
    possible = (F.col("deg") * (F.col("deg") - 1) / 2).cast("double")
    return deg.join(per_node, on="node", how="left").select(
        "node",
        F.col("deg").cast("long").alias("degree"),
        F.coalesce(F.col("_t"), F.lit(0)).cast("long").alias("n_triangles"),
        F.when(
            F.col("deg") >= 2,
            F.coalesce(F.col("_t"), F.lit(0)).cast("double") / possible,
        )
        .otherwise(F.lit(0.0))
        .alias("coeff"),
    )
