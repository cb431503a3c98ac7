"""Per-file Bloom skipping index (sources/bloom_index.py)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from ironbeam_spark.sources.bloom_index import build_bloom_index, prune_files


def _write(spark, tmp, n_files=8, rows_per=200):
    # id-disjoint files: file j holds ids [j*rows_per, (j+1)*rows_per)
    spark.range(n_files * rows_per).withColumn(
        "part", (F.col("id") / rows_per).cast("int")
    ).withColumn("tag", F.concat(F.lit("t"), F.col("id"))).repartitionByRange(
        n_files, "part"
    ).drop("part").write.mode("overwrite").parquet(tmp)
    return tmp


def test_no_false_negatives_and_real_pruning(spark, tmp_path):
    tmp = _write(spark, str(tmp_path))
    build_bloom_index(tmp, spark, "id")
    n_files = len([f for f in os.listdir(tmp) if f.endswith(".parquet")])
    pruned_any = False
    for probe in (0, 777, 1599):
        cand = prune_files(tmp, "id", probe)
        # no false negatives: the file truly holding the row is a candidate
        got = spark.read.parquet(*cand).where(F.col("id") == probe).count()
        assert got == 1, probe
        pruned_any |= len(cand) < n_files
    assert pruned_any  # the index actually skips files for point probes


def test_absent_value_prunes_everything_or_fp_bounded(spark, tmp_path):
    tmp = _write(spark, str(tmp_path), n_files=4, rows_per=100)
    build_bloom_index(tmp, spark, "id")
    cand = prune_files(tmp, "id", 10_000_000)  # never written
    # with m=65536/k=5 over 100 keys per file the fp rate is ~0: all pruned
    assert cand == []


def test_string_column_probe(spark, tmp_path):
    tmp = _write(spark, str(tmp_path), n_files=4, rows_per=50)
    build_bloom_index(tmp, spark, "tag")
    cand = prune_files(tmp, "tag", "t42")
    assert spark.read.parquet(*cand).where(F.col("tag") == "t42").count() == 1
    assert prune_files(tmp, "tag", "absent") == []


def test_sidecar_is_atomic_and_reusable(spark, tmp_path):
    tmp = _write(spark, str(tmp_path), n_files=2, rows_per=20)
    p = build_bloom_index(tmp, spark, "id")
    assert os.path.basename(p) == "_bloom_id.json"
    assert not [f for f in os.listdir(tmp) if f.endswith(".tmp")]
    # underscore prefix: invisible to parquet readers
    assert spark.read.parquet(tmp).count() == 40


def test_null_rows_do_not_poison_int_hashes(spark, tmp_path):
    # pandas coerces nullable int64 batches to float64 ('777' -> '777.0'):
    # the JVM-side string canonicalization must keep integer probes exact
    # even when the column has NULLs (round-6 review — false negative)
    tmp = str(tmp_path)
    spark.createDataFrame(
        [(777,), (None,), (42,)], "v long"
    ).coalesce(1).write.mode("overwrite").parquet(tmp)
    build_bloom_index(tmp, spark, "v")
    files = prune_files(tmp, "v", 777)
    assert files, "file containing 777 was wrongly pruned"
    got = {r["v"] for r in spark.read.parquet(*files).collect()}
    assert 777 in got


def test_partitioned_layout_keys_do_not_collide(spark, tmp_path):
    # hive-partition dirs produce equal basenames across partitions; the
    # sidecar must key by relative path and reconstruct real paths
    tmp = str(tmp_path)
    spark.range(100).withColumn("dt", (F.col("id") % 2).cast("int")).write.mode(
        "overwrite"
    ).partitionBy("dt").parquet(tmp)
    build_bloom_index(tmp, spark, "id")
    for probe in (0, 1, 97):
        files = prune_files(tmp, "id", probe)
        got = {r["id"] for r in spark.read.parquet(*files).collect()}
        assert probe in got, f"probe {probe} lost to key collision"


def test_files_appended_after_build_are_included(spark, tmp_path):
    # a stale sidecar must degrade to LESS pruning, never missing rows
    tmp = str(tmp_path)
    spark.range(10).coalesce(1).write.mode("overwrite").parquet(tmp)
    build_bloom_index(tmp, spark, "id")
    spark.range(1000, 1010).coalesce(1).write.mode("append").parquet(tmp)
    files = prune_files(tmp, "id", 1005)
    got = {r["id"] for r in spark.read.parquet(*files).collect()}
    assert 1005 in got, "appended file invisible behind stale sidecar"
