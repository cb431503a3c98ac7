"""Exactly-once foreachBatch sink (streaming/sink.py): multi-batch
content equivalence, replay idempotence, crash-window recovery."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from ironbeam_spark.streaming.sink import IdempotentParquetSink

SCHEMA = "k long, v long"


def _mk_source(spark, src, batches):
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
            f"{src}/b{i:03d}"
        )
    return src


def _run(spark, src, sink, ckpt):
    sdf = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/b*")
    )
    q = (
        sdf.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _content(spark, path):
    return sorted(
        tuple(r) for r in spark.read.parquet(f"{path}/batch-*").collect()
    )


def test_multi_batch_content_and_manifest(spark, tmp_path):
    batches = [[(i, i * 2) for i in range(j * 10, j * 10 + 10)] for j in range(3)]
    src = _mk_source(spark, str(tmp_path / "src"), batches)
    out = str(tmp_path / "out")
    sink = IdempotentParquetSink(out)
    _run(spark, src, sink, str(tmp_path / "ckpt"))
    want = sorted((i, i * 2) for j in range(3) for i in range(j * 10, j * 10 + 10))
    assert _content(spark, out) == want
    assert len(sink.committed_ids()) == 3  # one commit per micro-batch


def test_replayed_batch_is_a_noop(spark, tmp_path):
    out = str(tmp_path)
    sink = IdempotentParquetSink(out)
    df = spark.createDataFrame([(1, 2), (3, 4)], SCHEMA)
    sink(df, 0)
    before = _content(spark, out)
    sink(df, 0)                      # at-least-once replay, same id
    sink(df.limit(1), 0)             # even with different data: id wins
    assert _content(spark, out) == before
    assert sink.committed_ids() == {0}


def test_crash_between_rename_and_manifest_recovers(spark, tmp_path):
    out = str(tmp_path)
    sink = IdempotentParquetSink(out)
    df = spark.createDataFrame([(7, 8)], SCHEMA)
    # simulate: batch dir landed but the manifest append never happened
    df.write.parquet(os.path.join(out, "batch-00000000"))
    assert sink.committed_ids() == set()
    sink(df, 0)                      # replay must converge, not duplicate
    assert _content(spark, out) == [(7, 8)]
    assert sink.committed_ids() == {0}


def test_restart_processes_only_new_batches(spark, tmp_path):
    batches = [[(1, 1)], [(2, 2)]]
    src = _mk_source(spark, str(tmp_path / "src"), batches)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    sink = IdempotentParquetSink(out)
    _run(spark, src, sink, ckpt)
    assert _content(spark, out) == [(1, 1), (2, 2)]
    # new file arrives; restart from the SAME checkpoint
    spark.createDataFrame([(3, 3)], SCHEMA).coalesce(1).write.parquet(
        f"{src}/b002"
    )
    _run(spark, src, sink, ckpt)
    assert _content(spark, out) == [(1, 1), (2, 2), (3, 3)]
    assert len(sink.committed_ids()) == 3


def test_stale_inflight_dirs_swept_on_init(spark, tmp_path):
    # a crash between the parquet write and the rename orphans an
    # .inflight-* dir; a fresh sink on the path must sweep it (round-6
    # review: otherwise every crash-replay cycle leaks a batch copy)
    out = str(tmp_path)
    stale = os.path.join(out, ".inflight-deadbeef")
    os.makedirs(stale)
    with open(os.path.join(out, "_manifest.tmp-deadbeef"), "w") as fh:
        fh.write("0\n")
    sink = IdempotentParquetSink(out)
    assert not os.path.exists(stale)
    assert not os.path.exists(os.path.join(out, "_manifest.tmp-deadbeef"))
    sink(spark.createDataFrame([(1, 2)], SCHEMA), 0)
    assert _content(spark, out) == [(1, 2)]
