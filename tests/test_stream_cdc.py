"""Streaming CDC apply (streaming/cdc.py): multi-micro-batch state,
tombstone/resurrection, late-row suppression, batch equivalence."""

from __future__ import annotations

import random
import uuid

import pyspark.sql.functions as F
from pyspark.sql import Window as W

from ironbeam_spark.operators.cdc import apply_changes
from ironbeam_spark.streaming import run_to_memory
from ironbeam_spark.streaming.cdc import stream_apply_changes

SCHEMA = "key long, us long, seq long, op string, val string"


def _run_stream(spark, tmp_path, batches):
    """batches: list[list[rows]] -> converged snapshot dict + emissions.

    Each inner list becomes one parquet file; maxFilesPerTrigger=1 makes
    each file one micro-batch (file order = listing order, so file names
    are zero-padded)."""
    tag = uuid.uuid4().hex[:8]
    src = str(tmp_path / "src")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
            f"{src}/b{i:03d}"
        )
    sdf = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/b*")
    )
    out = stream_apply_changes(
        sdf, ["key"], "us", ["val"], op_col="op", tiebreak_cols=["seq"]
    )
    name = f"t_cdc_{tag}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    t = spark.table(name)
    w = W.partitionBy("key").orderBy(F.col("us").desc(), F.col("seq").desc())
    final = (
        t.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .collect()
    )
    snap = {
        r["key"]: (r["val"], r["us"])
        for r in final
        if not r["_deleted"]
    }
    return snap, t.count()


def _batch_snap(spark, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    got = apply_changes(
        df.withColumn("us", F.col("us") * 1000),  # ns contract
        ["key"], "us", op_col="op", tiebreak_cols=["seq"],
    )
    return {r["key"]: (r["val"], r["_us"]) for r in got.collect()}


def test_tombstone_and_resurrection_across_batches(spark, tmp_path):
    b1 = [(1, 10, 0, "U", "a"), (2, 10, 1, "U", "x")]
    b2 = [(1, 20, 2, "D", None)]          # tombstone key 1
    b3 = [(1, 30, 3, "U", "back")]        # resurrect key 1
    snap, _ = _run_stream(spark, tmp_path, [b1, b2, b3])
    assert snap == {1: ("back", 30), 2: ("x", 10)}


def test_late_row_is_ignored(spark, tmp_path):
    b1 = [(1, 100, 0, "U", "new")]
    b2 = [(1, 50, 1, "U", "late")]  # older than stored winner: no emission
    snap, n_emissions = _run_stream(spark, tmp_path, [b1, b2])
    assert snap == {1: ("new", 100)}
    assert n_emissions == 1  # the late batch emitted nothing


def test_stream_converges_to_batch_apply(spark, tmp_path):
    rng = random.Random(606)
    rows = [
        (rng.randrange(10), rng.randrange(200), i,
         rng.choice(["U", "U", "D"]), rng.choice(["p", "q"]))
        for i in range(120)
    ]
    batches = [rows[0:40], rows[40:80], rows[80:120]]
    snap, _ = _run_stream(spark, tmp_path, batches)
    assert snap == _batch_snap(spark, rows)


def test_bigint_values_stay_exact(spark, tmp_path):
    """A bigint value above 2**53 comes out exact when a NULL of the same
    column shares its group (pandas would hold the column as float64); an
    input bigint the output leaves out (``n``) is dropped as before."""
    schema = "key long, us long, x long, n long"
    rows = [(1, 1, 2**53 + 1, 0), (1, 0, None, 0), (2, 0, None, 0), (2, 1, 2**53 + 3, 0)]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    out = stream_apply_changes(spark.readStream.schema(schema).parquet(src), ["key"], "us", ["x"])
    assert out.dtypes == [("key", "bigint"), ("us", "bigint"), ("x", "bigint"), ("_deleted", "boolean")]
    run_to_memory(out, "t_cdc_exact", "update")
    got = {r.key: (r.us, r.x, r._deleted) for r in spark.table("t_cdc_exact").collect()}
    assert got == {1: (1, 2**53 + 1, False), 2: (1, 2**53 + 3, False)}
