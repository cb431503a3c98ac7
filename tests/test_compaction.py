"""Small-file compaction (sources/compaction.py)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ironbeam_spark.sources.compaction import compaction_plan, compact_parquet


def _parts(path):
    return sorted(
        e.name
        for e in os.scandir(path)
        if e.is_file()
        and e.name.endswith(".parquet")
        and not e.name.startswith((".", "_"))
    )


def _content(spark, path):
    df = spark.read.parquet(path)
    return sorted(tuple(r) for r in df.collect())


def _write_shattered(spark, tmp, n_rows, n_files):
    spark.range(n_rows).withColumn("v", F.col("id") * 2).repartition(
        n_files
    ).write.mode("overwrite").parquet(tmp)
    return tmp


def test_compaction_preserves_content_and_shrinks_files(spark, tmp_path):
    tmp = _write_shattered(spark, str(tmp_path), 5000, 20)
    before = _content(spark, tmp)
    stats = compact_parquet(spark, tmp, target_bytes=64 << 20)
    assert _content(spark, tmp) == before      # every row, exactly once
    assert stats["files_before"] == 20
    assert stats["files_after"] == 1           # all small -> one bin
    assert stats["rewritten"] == 20
    assert len(_parts(tmp)) == 1
    # no hidden temp litter left behind
    assert not [e for e in os.listdir(tmp) if e.startswith(".compact-")]


def test_large_files_left_untouched(spark, tmp_path):
    tmp = _write_shattered(spark, str(tmp_path), 2000, 4)
    sizes = {
        e.name: e.stat().st_size
        for e in os.scandir(tmp)
        if e.name.endswith(".parquet")
    }
    # threshold below every file size: nothing qualifies as small
    small_cut = min(sizes.values())
    plan = compaction_plan(tmp, target_bytes=64 << 20, small_bytes=small_cut)
    assert plan == []
    names_before = _parts(tmp)
    stats = compact_parquet(
        spark, tmp, target_bytes=64 << 20, small_bytes=small_cut
    )
    assert stats["rewritten"] == 0
    assert _parts(tmp) == names_before  # same physical files


def test_bin_packing_respects_target(spark, tmp_path):
    tmp = _write_shattered(spark, str(tmp_path), 4000, 8)
    sizes = [
        e.stat().st_size
        for e in os.scandir(tmp)
        if e.name.endswith(".parquet")
    ]
    # target fits ~2 files per bin -> ~4 bins, none over target
    target = max(sizes) * 2 + 16
    plan = compaction_plan(tmp, target_bytes=target, small_bytes=target)
    by_path = {
        e.path: e.stat().st_size
        for e in os.scandir(tmp)
        if e.name.endswith(".parquet")
    }
    for bin_paths in plan:
        assert len(bin_paths) > 1
        assert sum(by_path[p] for p in bin_paths) <= target
    before = _content(spark, tmp)
    compact_parquet(spark, tmp, target_bytes=target, small_bytes=target)
    assert _content(spark, tmp) == before


def test_singleton_bins_are_skipped(spark, tmp_path):
    tmp = _write_shattered(spark, str(tmp_path), 1000, 3)
    sizes = [
        e.stat().st_size
        for e in os.scandir(tmp)
        if e.name.endswith(".parquet")
    ]
    # target below any pair: every bin would be a singleton -> empty plan
    assert compaction_plan(tmp, target_bytes=min(sizes) + 1) == []


def test_schema_drift_across_small_files_is_merged(spark, tmp_path):
    # a small-file producer that added a column mid-stream: compaction must
    # mergeSchema, not infer from one footer and silently drop the new
    # column before unlinking the originals (round-6 review)
    tmp = str(tmp_path)
    spark.range(5).coalesce(1).write.mode("append").parquet(tmp)
    spark.range(5, 10).withColumn("extra", F.col("id") * 3).coalesce(
        1
    ).write.mode("append").parquet(tmp)
    compact_parquet(spark, tmp, target_bytes=1 << 30, small_bytes=1 << 20)
    got = sorted(
        (r["id"], r["extra"])
        for r in spark.read.option("mergeSchema", "true").parquet(tmp).collect()
    )
    assert got == [(i, None) for i in range(5)] + [
        (i, i * 3) for i in range(5, 10)
    ]
