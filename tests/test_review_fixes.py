"""Regression tests for the round-6 review findings: silent-loss and
silent-corruption paths that now fail fast or behave correctly."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F


def test_scan_rejects_null_order_keys_with_payload(spark):
    from ironbeam_spark.operators.scan import global_running_sum

    # stamped fallback path (float key — no monotone decimal projection):
    # the rejoin on order_cols would silently DROP the NULL-key row —
    # must fail fast instead
    fdf = spark.createDataFrame(
        [(1.0, 10, "pa"), (None, 20, "pb"), (3.0, 30, "pc")],
        "k double, v long, payload string",
    )
    with pytest.raises(ValueError, match="NULL"):
        global_running_sum(fdf, ["k"], "v", "cum").collect()
    # without payload columns there is no rejoin: NULL keys flow through
    narrow = spark.createDataFrame([(1.0, 10), (None, 20)], "k double, v long")
    assert global_running_sum(narrow, ["k"], "v", "cum").count() == 2
    # the stamped calls above checkpointed slices — honor the release
    # contract so blocks don't bleed into later tests
    from ironbeam_spark.caches import release_all_caches

    release_all_caches()
    # string keys route to the bucketed path since round 7: no rejoin, so
    # NULL keys + payload are legal — NULLS FIRST, payload intact
    sdf = spark.createDataFrame(
        [("a", 10, "pa"), (None, 20, "pb"), ("c", 30, "pc")],
        "k string, v long, payload string",
    )
    srows = {r.k: (r.cum, r.payload)
             for r in global_running_sum(sdf, ["k"], "v", "cum").collect()}
    assert srows == {None: (20, "pb"), "a": (30, "pa"), "c": (60, "pc")}
    # bucketed integral path: no rejoin exists, so NULL keys + payload are
    # legal — NULLS FIRST (bucket -1), payload intact, sums exact
    df = spark.createDataFrame(
        [(1, 10, "a"), (None, 20, "b"), (3, 30, "c")],
        "k long, v long, payload string",
    )
    rows = {r.k: (r.cum, r.payload)
            for r in global_running_sum(df, ["k"], "v", "cum").collect()}
    assert rows == {None: (20, "b"), 1: (30, "a"), 3: (60, "c")}


def test_cdc_null_op_raises_instead_of_deleting(spark):
    from ironbeam_spark.operators.cdc import apply_changes

    # int64 ts is interpreted as NANOS; values must differ after the
    # micros conversion or the winner is a coin flip
    ch = spark.createDataFrame(
        [(1, 100, "U", 5_000_000_000), (1, 200, None, 6_000_000_000)],
        "k long, val long, op string, ts long",
    )
    with pytest.raises(Exception, match="NULL op"):
        apply_changes(ch, ["k"], "ts", op_col="op").collect()


def test_fingerprint_not_forgeable_across_columns(spark):
    from ironbeam_spark.operators.fingerprint import table_diff

    # same concat bytes, different column split — must report 'changed'
    a = spark.createDataFrame([(1, "a\x1fb", "c")], "k long, x string, y string")
    b = spark.createDataFrame([(1, "a", "b\x1fc")], "k long, x string, y string")
    d = {r.k: r.status for r in table_diff(a, b, ["k"], ["x", "y"]).collect()}
    assert d == {1: "changed"}
    # NULL vs the old sentinel byte — must also be 'changed'
    a2 = spark.createDataFrame([(1, None)], "k long, x string")
    b2 = spark.createDataFrame([(1, "\x01")], "k long, x string")
    d2 = {r.k: r.status for r in table_diff(a2, b2, ["k"], ["x"]).collect()}
    assert d2 == {1: "changed"}


def test_compaction_crashed_swap_rolls_forward(spark, tmp_path):
    from ironbeam_spark.sources.compaction import _recover_swaps

    path = str(tmp_path / "ds")
    os.makedirs(path)
    # simulate the post-journal crash state: originals gone, merged parts
    # stranded under the hidden temp dir, journal present
    spark.createDataFrame([(i,) for i in range(10)], "a long").coalesce(
        1
    ).write.parquet(os.path.join(path, ".compact-tok"))
    part = [
        f
        for f in os.listdir(os.path.join(path, ".compact-tok"))
        if f.endswith(".parquet")
    ][0]
    journal = {
        "remove": ["gone-1.parquet", "gone-2.parquet"],  # already unlinked
        "add": [[os.path.join(".compact-tok", part), "compact-tok-00000.parquet"]],
        "tmp_dir": ".compact-tok",
    }
    with open(os.path.join(path, ".compact-journal-tok.json"), "w") as fh:
        json.dump(journal, fh)
    _recover_swaps(path)
    assert spark.read.parquet(path).count() == 10  # rows recovered
    assert not any(f.startswith(".compact") for f in os.listdir(path))


def test_pca_gram_rejects_overflowing_magnitudes(spark):
    from ironbeam_spark.operators.pca import scaled_gram

    big = spark.createDataFrame(
        [(0, [3000.0, 0.0]), (1, [1.0, 1.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="exceeds"):
        scaled_gram(big, "embedding", 2).collect()


def test_weighted_sample_rejects_duplicate_or_null_keys(spark):
    from ironbeam_spark.operators.sampling import weighted_systematic_sample

    dup = spark.createDataFrame([(1, 5), (1, 7)], "k long, w long")
    with pytest.raises(ValueError, match="uniquely"):
        weighted_systematic_sample(dup, k=2, seed=1, order_cols=["k"], weight_col="w")
    nul = spark.createDataFrame([(None, 5), (2, 7)], "k long, w long")
    with pytest.raises(ValueError, match="uniquely"):
        weighted_systematic_sample(nul, k=2, seed=1, order_cols=["k"], weight_col="w")


def test_line_dedup_null_text_counts_zero_lines(spark):
    from ironbeam_spark.operators.line_dedup import line_dedup_keep_first

    docs = spark.createDataFrame(
        [(1, "dup line here\nother"), (2, None)], "doc_id long, text string"
    )
    out = {
        r.doc_id: (r.n_lines, r.n_removed, r.text_clean)
        for r in line_dedup_keep_first(docs, "doc_id", "text").collect()
    }
    assert out[2] == (0, 0, "")
    assert out[1][0] == 2


def test_webdataset_losing_copies_never_regrouped(spark):
    from ironbeam_spark.sources.tar import webdataset_samples

    members = spark.createDataFrame(
        [
            ("b-shard", "s1", "txt", bytearray(b"new")),
            ("a-shard", "s1", "txt", bytearray(b"old")),
            ("a-shard", "s1", "cls", bytearray(b"7")),
        ],
        "shard string, sample string, field string, payload binary",
    )
    rows = webdataset_samples(members).collect()
    assert len(rows) == 1
    fields = {k: bytes(v) for k, v in rows[0].fields.items()}
    # whole-copy winner = lexicographically smallest shard, all fields
    assert fields == {"txt": b"old", "cls": b"7"}
