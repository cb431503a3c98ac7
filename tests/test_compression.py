"""Codec-registry tests: .xz text round-trips, user-registered codecs, and
shard parallelism of the registry sink (reference parity:
``register_codec``, ``src/io/compression.rs:152-320``)."""

from __future__ import annotations

import lzma
import os

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ironbeam_spark.sources.compression import (
    codec_for,
    read_jsonl_compressed,
    read_lines,
    register_codec,
    registered_codecs,
    write_jsonl_compressed,
    write_lines,
)
from ironbeam_spark.sources.io import read_csv, read_jsonl, write_csv, write_jsonl


def _rows(n=50):
    return [Row(id=i, name=f"n{i}", note=f'va"l,{i}') for i in range(n)]


def test_codec_resolution():
    assert codec_for("xz").name == "xz"
    assert codec_for("/a/b/data.jsonl.xz").name == "xz"
    assert codec_for("/a/b/data.unknownext") is None
    assert {"gzip", "bz2", "xz", "none"} <= set(registered_codecs())


def test_jsonl_xz_roundtrip(spark, tmp_path):
    out = str(tmp_path / "docs.jsonl.xz")
    df = spark.createDataFrame(_rows()).repartition(4)
    write_jsonl(df, out, compression="xz")
    shards = [f for f in os.listdir(out) if f.endswith(".xz")]
    assert 1 <= len(shards) <= 4
    # the payload really is xz: stdlib lzma can open a shard directly
    with open(os.path.join(out, shards[0]), "rb") as f:
        assert lzma.decompress(f.read()).decode().startswith("{")
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("note", StringType()),
        ]
    )
    back = read_jsonl(spark, out, schema=schema).df
    assert sorted((r.id, r.name, r.note) for r in back.collect()) == sorted(
        (r.id, r.name, r.note) for r in _rows()
    )


def test_jsonl_xz_schema_inference(spark, tmp_path):
    out = str(tmp_path / "docs.jsonl.xz")
    write_jsonl(spark.createDataFrame(_rows(10)), out, compression="xz")
    back = read_jsonl(spark, out).df  # no schema -> inference path
    assert back.count() == 10
    assert set(back.columns) == {"id", "name", "note"}


def test_csv_xz_roundtrip_with_quoting(spark, tmp_path):
    out = str(tmp_path / "t.csv.xz")
    df = spark.createDataFrame(_rows()).repartition(3)
    write_csv(df, out, compression="xz")
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("note", StringType()),
        ]
    )
    back = read_csv(spark, out, has_headers=True, schema=schema).df
    got = sorted((r.id, r.name, r.note) for r in back.collect())
    assert got == sorted((r.id, r.name, r.note) for r in _rows())


def test_csv_xz_inference(spark, tmp_path):
    out = str(tmp_path / "t.csv.xz")
    write_csv(spark.createDataFrame([Row(a=1, b="x"), Row(a=2, b="y")]), out, compression="xz")
    back = read_csv(spark, out).df
    assert sorted((r.a, r.b) for r in back.collect()) == [(1, "x"), (2, "y")]


def test_csv_xz_nullable_bigint_is_exact(spark, tmp_path):
    """A nullable bigint above 2**53 is written as an integer, so it reads
    back exact and as bigint, with a schema and by inference (one partition:
    the NULL and the big value share a batch)."""
    out = str(tmp_path / "big.csv.xz")
    df = spark.createDataFrame([(5,), (None,), (2**53 + 1,)], "a bigint").coalesce(1)
    write_csv(df, out, compression="xz")
    inferred = read_csv(spark, out).df
    assert inferred.dtypes == [("a", "bigint")]
    for back in (read_csv(spark, out, schema="a bigint").df, inferred):
        assert [r.a for r in back.orderBy("a").collect()] == [None, 5, 2**53 + 1]


def test_register_custom_codec_roundtrip(spark, tmp_path):
    # a toy reversible codec: xor every byte with 0x5A
    def enc(b: bytes) -> bytes:
        return bytes(x ^ 0x5A for x in b)

    register_codec("xor5a", "x5a", enc, enc)
    out = str(tmp_path / "lines.x5a")
    df = spark.range(100).select(F.concat(F.lit("line-"), F.col("id")).alias("value"))
    n_shards = write_lines(df.repartition(5), out, "xor5a")
    assert n_shards >= 1
    back = read_lines(spark, out, "xor5a")
    assert sorted(r.value for r in back.collect()) == sorted(
        f"line-{i}" for i in range(100)
    )
    # raw shard bytes are NOT plaintext
    shard = next(f for f in os.listdir(out) if f.endswith(".x5a"))
    with open(os.path.join(out, shard), "rb") as f:
        assert b"line-" not in f.read()


def test_write_modes(spark, tmp_path):
    out = str(tmp_path / "m.jsonl.xz")
    df = spark.createDataFrame(_rows(10)).coalesce(1)
    write_jsonl_compressed(df, out, "xz")
    with pytest.raises(FileExistsError):
        write_jsonl_compressed(df, out, "xz", mode="error")
    write_jsonl_compressed(df, out, "xz", mode="append")
    schema = "id long, name string, note string"
    assert read_jsonl_compressed(spark, out, schema=schema).count() == 20
    write_jsonl_compressed(df, out, "xz", mode="overwrite")
    assert read_jsonl_compressed(spark, out, schema=schema).count() == 10


def test_unknown_codec_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="codec"):
        read_lines(spark, str(tmp_path / "x.nosuch"))


def test_overwrite_clears_other_codec_shards(spark, tmp_path):
    """overwrite must remove shards of EVERY registered codec: readers
    decode the whole directory with one codec, so a stale shard from a
    previous codec would silently poison the read."""
    out = str(tmp_path / "mixed")
    df1 = spark.range(5).select(F.concat(F.lit("old-"), F.col("id")).alias("value"))
    write_lines(df1.coalesce(1), out, "xz")
    df2 = spark.range(3).select(F.concat(F.lit("new-"), F.col("id")).alias("value"))
    write_lines(df2.coalesce(1), out, "gzip", mode="overwrite")
    assert not [f for f in os.listdir(out) if f.endswith(".xz")]
    got = sorted(r.value for r in read_lines(spark, out, "gzip").collect())
    assert got == [f"new-{i}" for i in range(3)]


def test_crlf_external_file(spark, tmp_path):
    """Externally produced CRLF (and lone-CR) files must parse like
    Spark's native text source: no trailing '\\r' on values."""
    import gzip

    d = tmp_path / "crlf"
    d.mkdir()
    with open(d / "ext.gz", "wb") as f:
        f.write(gzip.compress(b"a,1\r\nb,2\r\nc,3\rd,4\n"))
    got = sorted(r.value for r in read_lines(spark, str(d), "gzip").collect())
    assert got == ["a,1", "b,2", "c,3", "d,4"]


def test_jsonl_schema_skips_blank_lines(spark, tmp_path):
    """Blank lines in external .xz JSONL must be skipped on the explicit-
    schema path (parity with the no-schema path and native read_jsonl) —
    not turned into all-null rows."""
    d = tmp_path / "blanks"
    d.mkdir()
    payload = b'{"id": 1}\n\n{"id": 2}\n   \n{"id": 3}\n\n'
    with open(d / "ext.xz", "wb") as f:
        f.write(lzma.compress(payload))
    schema = StructType([StructField("id", LongType())])
    with_schema = read_jsonl_compressed(spark, str(d), schema=schema, codec="xz")
    assert sorted(r.id for r in with_schema.collect()) == [1, 2, 3]
    inferred = read_jsonl_compressed(spark, str(d), codec="xz")
    assert with_schema.count() == inferred.count() == 3
