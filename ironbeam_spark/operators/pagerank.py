"""PageRank in exact integer fixed-point arithmetic.

The classic iterative graph centrality (Page et al. 1999 — public paper),
re-expressed so a fixed number of rounds is DETERMINISTIC and bit-exact
cross-engine: ranks are int64 micro-units (``scale`` = 10^12 by default)
and every update is integer ``div``/``%``/``+``/``*`` — no doubles, so
per-node in-contribution sums are order-free and a DuckDB recursive-CTE
oracle replays the rounds exactly.  (Float PageRank sums contributions in
nondeterministic order; its last-ulp wobble can never hash-match.)

Update rule, per round, damping ``d_num/d_den`` (default 85/100):

    contrib(u)  = r(u) div outdeg(u)
    r'(v)       = (d_den - d_num) * (scale div N) div d_den
                  + d_num * sum_in(contrib) div d_den

Truncation note: integer ``div`` floors each step, so total rank decays by
a few units per round — the deliberate price of exactness (same trade as
the scaled-int64 money math in the TPC-H suite); rankings are unaffected.

Scale shape: each round is ONE equi-join (ranks ⋈ edges on src, a 1:N
replication of one rank row per out-edge — skew-immune the same way the
substring winner join is) + ONE map-side-combinable integer sum groupBy +
a left join back to the node list (nodes with no in-edges keep the base
term).  Lineage across rounds is truncated by the reference-shaped
``CheckpointPolicy`` (same machinery as ``dedup_components``).  No
``collect`` anywhere; the driver only counts N once (bounded scalar).

Dangling nodes (outdeg 0) contribute nothing — their rank leaks, the
standard simplification; pass ``symmetrize=True`` (adds each edge's
reverse) to guarantee every node both emits and receives, which is also
what makes the recursive-SQL oracle's node set closed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ironbeam_spark import caches
from ironbeam_spark.operators.checkpoint import CheckpointPolicy

__all__ = ["pagerank"]


def pagerank(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    iterations: int = 5,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**12,
    symmetrize: bool = False,
    checkpoint_policy: CheckpointPolicy | None = None,
) -> DataFrame:
    """``(node, rank)`` after ``iterations`` exact fixed-point rounds.

    ``edges`` is a directed edge list (duplicates are collapsed); node ids
    must be a single column's type on both ends.
    """
    if iterations < 0:
        raise ValueError("pagerank: iterations must be >= 0")
    if not 0 < damping_num < damping_den:
        raise ValueError("pagerank: need 0 < damping_num < damping_den")
    policy = checkpoint_policy or CheckpointPolicy.every_n(2)

    # Uniform malformed-edge policy for BOTH modes: a NULL endpoint is a
    # broken edge, not a node — dropped here so the directed path doesn't
    # fabricate a NULL node with base rank while the symmetrized path
    # (which must drop them anyway: least/greatest would turn (NULL, v)
    # into a fake (v, v) self-loop) silently disagrees.
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    if symmetrize:
        # dedup over CANONICAL pairs BEFORE mirroring — half the distinct's
        # shuffle volume vs distinct-after-union, same edge set: mirrored
        # rows are disjoint from canonical ones (a != b guard keeps a
        # self-loop from appearing twice); NULL endpoints already dropped
        # above (least/greatest IGNORE nulls, so canonicalizing (NULL, v)
        # would otherwise fabricate a (v, v) self-loop)
        canon = e.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        ).distinct()
        # Mirror via per-row explode, NOT unionByName(canon, canon.where(...)):
        # the union's branches each embed the full ``canon`` plan (the
        # edge-derivation join + distinct shuffle), so materializing the
        # edge checkpoint would run that distinct twice.  array_distinct
        # collapses a self-loop's two identical structs to one — exactly
        # the `a != b` guard of the union spelling.  (Opt r12, guide §2.4;
        # same fix as dedup_components' edge symmetrization.)
        e = canon.select(
            F.explode(
                F.array_distinct(
                    F.array(
                        F.struct(F.col("src"), F.col("dst")),
                        F.struct(
                            F.col("dst").alias("src"), F.col("src").alias("dst")
                        ),
                    )
                )
            ).alias("_e")
        ).select(F.col("_e.src").alias("src"), F.col("_e.dst").alias("dst"))
    else:
        e = e.distinct()
    # UNCONDITIONALLY checkpoint the tables every round rejoins (the policy
    # only governs the iterative ranks — routing these through it would
    # leave them un-materialized whenever the policy doesn't fire, and
    # every round would re-derive the edge list from its source joins).
    # KNOWN TRADE (measured, r9 — see SCALE.md "PageRank iteration
    # sizing"): a checkpointed frame scans as ExistingRDD with
    # UnknownPartitioning, so the planner re-exchanges the edge side on
    # src each iteration regardless of how the checkpoint was laid out.
    # That also means a repartition("src") ahead of the checkpoint is a
    # full edge shuffle NO consumer can see (opt r12, measured: removing
    # it cut q_pagerank ~0.9s at sf0.1, interleaved A/B) — so don't.
    # The persist() alternative keeps hashpartitioning(src) visible and
    # elides the per-round exchanges, but re-analyzes the cached frame's
    # full logical tree every iteration — measured 20% SLOWER end-to-end
    # at bench scale, where AQE broadcast-joins these frames and the
    # "saved" exchange is a nearly-free local shuffle read.  Checkpoint
    # wins locally; on a real cluster with billions of nodes (no
    # broadcast), flip e/nodes to .repartition(key).persist() so
    # co-partitioning reaches the planner — the loop is agnostic to which.
    e = caches.hold(e.localCheckpoint(eager=False))

    outdeg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("outdeg")
    )
    if symmetrize:
        # a symmetric edge set means every node appears as a src, so the
        # outdeg aggregate IS the node list (outdeg never NULL) — the
        # separate union+distinct over both endpoint columns and the
        # left join back would be two extra shuffles for the same frame
        # (the checkpoint hides the groupBy's hashpartitioning(node) from
        # the planner — same measured trade as the edge table above)
        nodes = outdeg.localCheckpoint(eager=False)
    else:
        nodes = (
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .distinct()
            .join(outdeg, on="node", how="left")
            .localCheckpoint(eager=False)
        )
    caches.hold(nodes)
    n_nodes = nodes.count()  # bounded scalar: drives the base-rank literal
    if n_nodes == 0:
        return nodes.select("node", F.lit(0).cast("long").alias("rank"))

    init = scale // n_nodes
    base = (damping_den - damping_num) * init // damping_den
    # outdeg rides inside the ranks frame: one join per round (to the
    # edge table), not two — the per-round node-list join would double
    # the shuffle count for a value that never changes
    ranks = nodes.select(
        "node", "outdeg", F.lit(init).cast("long").alias("rank")
    )

    for _ in range(iterations):
        contribs = (
            ranks.where(F.col("outdeg").isNotNull())
            .select("node", F.expr("rank div outdeg").alias("_c"))
            .join(e, on=F.col("node") == F.col("src"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = (
            nodes.join(contribs, on="node", how="left")
            .select(
                "node",
                "outdeg",
                (
                    F.lit(base)
                    + F.expr(
                        f"{damping_num} * coalesce(_in, 0L) div {damping_den}"
                    )
                )
                .cast("long")
                .alias("rank"),
            )
        )
        ranks = policy.checkpoint(ranks)
    return ranks.select("node", "rank")
