"""Arrow IPC (Feather V2) source/sink (sources/arrow_ipc.py).

Interop leg: files we write must open with plain ``pyarrow.ipc`` (the
exact reader HuggingFace datasets / Polars / DuckDB embed), and files
written by plain pyarrow must read back identically through the Spark
source — both directions cross an independent implementation of the
format, the same strategy as the avro Java-interop tests."""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.ipc as ipc
import pyspark.sql.functions as F
import pytest

from ironbeam_spark.sources.arrow_ipc import read_arrow_ipc_py, write_arrow_ipc_py


def _sorted(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_roundtrip_scalars_and_nulls(spark, tmp_path):
    df = spark.createDataFrame(
        [
            (1, "a", 1.5, True, bytearray(b"\x00\xff")),
            (2, None, -2.25, False, None),
            (None, "c", None, None, bytearray(b"")),
        ],
        "id long, s string, v double, flag boolean, blob binary",
    )
    p = str(tmp_path / "scalars")
    n = write_arrow_ipc_py(df, p)
    assert n == 3
    explicit = read_arrow_ipc_py(spark, p, df.schema)
    inferred = read_arrow_ipc_py(spark, p)
    assert explicit.schema == df.schema == inferred.schema
    assert _sorted(explicit) == _sorted(df) == _sorted(inferred)


def test_roundtrip_nested_and_timestamps(spark, tmp_path):
    df = spark.createDataFrame(
        [
            (1, [1, 2, 3], {"k": 1}, "2024-05-01 12:00:00"),
            (2, [], {}, "1969-12-31 23:59:59.000001"),
            (3, None, None, None),
        ],
        "id long, xs array<long>, m map<string,long>, ts_s string",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    p = str(tmp_path / "nested")
    assert write_arrow_ipc_py(df, p) == 3
    back = read_arrow_ipc_py(spark, p, df.schema)
    assert _sorted(back) == _sorted(df)


def test_empty_partitions_write_no_shard(spark, tmp_path):
    df = spark.range(5).repartition(8)
    p = str(tmp_path / "sparse")
    assert write_arrow_ipc_py(df, p) == 5
    shards = glob.glob(os.path.join(p, "*.arrow"))
    assert 0 < len(shards) <= 5  # no footer-only files from empty partitions
    assert not glob.glob(os.path.join(p, ".*.inprogress-*"))  # all temps committed
    assert {r.id for r in read_arrow_ipc_py(spark, p).collect()} == set(range(5))


def test_mode_semantics(spark, tmp_path):
    df = spark.range(3).coalesce(1)
    p = str(tmp_path / "modes")
    write_arrow_ipc_py(df, p)
    with pytest.raises(FileExistsError):
        write_arrow_ipc_py(df, p, mode="error")
    assert write_arrow_ipc_py(df, p, mode="ignore") == 0
    write_arrow_ipc_py(spark.range(3, 6).coalesce(1), p, mode="append")
    assert {r.id for r in read_arrow_ipc_py(spark, p).collect()} == set(range(6))
    write_arrow_ipc_py(df, p, mode="overwrite")
    assert {r.id for r in read_arrow_ipc_py(spark, p).collect()} == {0, 1, 2}


def test_interop_plain_pyarrow_reads_our_shards(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, f"s{i}", float(i) / 4) for i in range(100)], "id long, s string, v double"
    ).coalesce(2)
    p = str(tmp_path / "interop_out")
    write_arrow_ipc_py(df, p)
    rows = []
    for shard in sorted(glob.glob(os.path.join(p, "*.arrow"))):
        t = ipc.open_file(shard).read_all()  # independent reader
        rows += list(zip(*(t.column(c).to_pylist() for c in ("id", "s", "v"))))
    assert sorted(rows) == [(i, f"s{i}", i / 4) for i in range(100)]


def test_interop_reads_plain_pyarrow_file(spark, tmp_path):
    t = pa.table(
        {
            "id": pa.array([1, 2, 3], pa.int64()),
            "s": pa.array(["x", None, "z"]),
            "ts": pa.array([0, 10**6, None], pa.timestamp("us", tz="UTC")),
        }
    )
    p = tmp_path / "external"
    p.mkdir()
    with ipc.new_file(str(p / "data.arrow"), t.schema) as w:
        w.write_table(t)
    back = read_arrow_ipc_py(spark, str(p))
    got = {r.id: (r.s, r.ts) for r in back.collect()}
    assert got[1][0] == "x" and got[2][0] is None
    assert got[2][1].isoformat() == "1970-01-01T00:00:01"
    assert got[3] == ("z", None)


def test_zstd_compressed_shards(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, "abc" * 50) for i in range(2000)], "id long, s string"
    ).coalesce(1)
    plain, comp = str(tmp_path / "plain"), str(tmp_path / "zstd")
    write_arrow_ipc_py(df, plain)
    write_arrow_ipc_py(df, comp, compression="zstd")
    sz = lambda d: sum(os.path.getsize(f) for f in glob.glob(os.path.join(d, "*.arrow")))
    assert sz(comp) < sz(plain)  # codec actually engaged
    assert _sorted(read_arrow_ipc_py(spark, comp)) == _sorted(df)


def test_empty_dir_requires_schema(spark, tmp_path):
    p = tmp_path / "empty"
    p.mkdir()
    with pytest.raises(ValueError, match="empty"):
        read_arrow_ipc_py(spark, str(p))
    # with an explicit schema an empty dir is a valid 0-row frame
    assert read_arrow_ipc_py(spark, str(p), "id long").count() == 0
