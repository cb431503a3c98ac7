"""CheckpointPolicy: the reference's policy layer (src/checkpoint.rs:68-147)
over Spark's localCheckpoint — firing semantics, real lineage truncation,
and dedup_components equivalence under a sparser policy."""

from __future__ import annotations

import pyspark.sql.functions as F

from ironbeam_spark.operators.checkpoint import CheckpointPolicy


def test_policy_firing_semantics():
    p = CheckpointPolicy.never()
    assert [p.should_checkpoint() for _ in range(4)] == [False] * 4

    p = CheckpointPolicy.after_every_barrier()
    assert [p.should_checkpoint() for _ in range(3)] == [True] * 3

    p = CheckpointPolicy.every_n(2)
    assert [p.should_checkpoint() for _ in range(5)] == [
        False, True, False, True, False,
    ]

    p = CheckpointPolicy.time_interval(0.0)  # always elapsed
    assert [p.should_checkpoint() for _ in range(2)] == [True, True]

    p = CheckpointPolicy.time_interval(3600.0)  # never elapses in-test
    assert [p.should_checkpoint() for _ in range(2)] == [False, False]

    p = CheckpointPolicy.hybrid(barriers=True, interval_secs=3600.0)
    assert p.should_checkpoint() is True


def test_policy_truncates_lineage(spark):
    """A fired checkpoint replaces the logical plan with a scan of the
    materialized RDD; a never-policy leaves the join lineage in place."""
    a = spark.range(100).select(F.col("id"), (F.col("id") % 7).alias("k"))
    b = spark.range(50).select(F.col("id").alias("k2"))
    joined = a.join(b, a.k == b.k2).groupBy("k").count()

    kept = CheckpointPolicy.never().checkpoint(joined)
    plan_kept = kept._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" in plan_kept

    cut = CheckpointPolicy.after_every_barrier().checkpoint(joined)
    plan_cut = cut._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan_cut  # lineage gone: plan is a checkpoint scan
    assert sorted(map(tuple, cut.collect())) == sorted(map(tuple, joined.collect()))


def test_dedup_components_policy_equivalence(spark, monkeypatch):
    """dedup_components under EveryN(3) — fewer checkpoints, longer lineage —
    must produce exactly the components of the default AfterEveryBarrier."""
    from ironbeam_spark.operators import dedup
    from ironbeam_spark.operators.dedup import dedup_components

    # two chains and a triangle: {1..4}, {10,11}, {20,21,22}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    # a local-solve bound of 0 forces the iterative loop both times — the
    # policy only governs the loop; the r13 local-solve short circuit
    # (which this toy graph would otherwise take) has its own identity
    # tests in test_r13_optimizations.py
    monkeypatch.setattr(dedup, "_LOCAL_SOLVE_MAX_EDGES", 0)
    base = {(r.node, r.component) for r in dedup_components(pairs).collect()}
    sparse_policy = CheckpointPolicy.every_n(3)
    sparse = {
        (r.node, r.component)
        for r in dedup_components(pairs, checkpoint_policy=sparse_policy).collect()
    }
    assert sparse == base
    assert base == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }
    assert sparse_policy.fired >= 1  # it did checkpoint, just less often
