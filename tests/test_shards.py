"""The shared shard protocol (``sources/shards.py``) as every partition-
parallel file sink and its reader see it: a crashed attempt's hidden temp
is invisible to the format's reader, overwrite sweeps it, a successful
write leaves no temp behind, a file of another format beside the shards
is never read, and a corrupt shard fails the read with its name."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ironbeam_spark.sources.arrow_ipc import read_arrow_ipc_py, write_arrow_ipc_py
from ironbeam_spark.sources.avro import read_avro_py, write_avro_py
from ironbeam_spark.sources.compression import (
    read_csv_compressed,
    read_lines,
    write_csv_compressed,
    write_lines,
)
from ironbeam_spark.sources.custom import register_msgpack_format
from ironbeam_spark.sources.msgpack import read_msgpack, write_msgpack
from ironbeam_spark.sources.safetensors import (
    read_safetensors_py,
    write_safetensors_py,
)
from ironbeam_spark.sources.tar import read_tar_members, write_tar_shards
from ironbeam_spark.sources.warc import read_warc, write_warc


def _write_custom(df, out, mode):
    register_msgpack_format(df.sparkSession)
    df.select("id", "text").write.format("msgpack").option("path", out).mode(mode).save()


def _read_custom(spark, out):
    return (
        spark.read.format("msgpack").schema("id long, text string")
        .option("path", out).load()
    )


# writer(df, out, mode) and reader(spark, out) -> DataFrame, per sink
SINKS = {
    "avro": (
        lambda df, out, mode: write_avro_py(df.select("id", "text"), out, mode),
        read_avro_py,
    ),
    "arrow_ipc": (
        lambda df, out, mode: write_arrow_ipc_py(df.select("id", "text"), out, mode),
        read_arrow_ipc_py,
    ),
    "msgpack": (
        lambda df, out, mode: write_msgpack(df.select("id", "text"), out, mode=mode),
        lambda spark, out: read_msgpack(spark, out, "id long, text string"),
    ),
    "safetensors": (
        lambda df, out, mode: write_safetensors_py(df, out, "id", "embedding", mode),
        lambda spark, out: read_safetensors_py(spark, out, "id", "embedding"),
    ),
    "warc": (
        lambda df, out, mode: write_warc(
            df, out, uri_col="uri", payload_col="text", compress=True, mode=mode
        ),
        read_warc,
    ),
    "tar": (
        lambda df, out, mode: write_tar_shards(df, out, "id", ["text"], mode),
        read_tar_members,
    ),
    "lines": (
        lambda df, out, mode: write_lines(df.select("text"), out, "gzip", mode),
        lambda spark, out: read_lines(spark, out, "gzip"),
    ),
    "csv_xz": (
        lambda df, out, mode: write_csv_compressed(
            df.select("id", "text"), out, "xz", mode=mode
        ),
        lambda spark, out: read_csv_compressed(
            spark, out, schema="id long, text string", codec="xz"
        ),
    ),
    "custom": (_write_custom, _read_custom),
}

# the format each reader names in its corrupt-shard error (its extension)
FORMAT_NAME = {"arrow_ipc": "arrow", "lines": "gz", "csv_xz": "xz", "custom": "msgpack"}


def _hidden(out):
    return sorted(f for f in os.listdir(out) if f.startswith("."))


def _frame(spark):
    """Four rows in two partitions, with a column for every sink."""
    return spark.range(0, 4, 1, 2).select(
        "id",
        F.concat(F.lit("doc "), F.col("id").cast("string")).alias("text"),
        F.concat(F.lit("http://example.com/"), F.col("id").cast("string")).alias("uri"),
        F.array(F.col("id").cast("float"), F.lit(1.0).cast("float")).alias("embedding"),
    )


@pytest.mark.parametrize("sink", sorted(SINKS))
def test_torn_inprogress_shard_is_invisible(spark, tmp_path, sink):
    """A crashed task's partial write exists only under a dot-prefixed
    temp name: the format's reader never decodes it, overwrite sweeps it,
    and a successful write commits every temp it opened."""
    write, read = SINKS[sink]
    df = _frame(spark)
    out = str(tmp_path / sink)
    write(df, out, "overwrite")
    assert _hidden(out) == []
    # simulate a mid-write death: an undecodable payload under a temp name
    orphan = os.path.join(out, ".part-00099.inprogress-deadbeef")
    with open(orphan, "wb") as f:
        f.write(b"\x1f\x8b\x08torn")
    assert read(spark, out).count() == 4
    write(df, out, "overwrite")
    assert _hidden(out) == []
    assert read(spark, out).count() == 4


def test_failed_encode_leaves_no_temp(spark, tmp_path):
    """An encoder that raises (here: safetensors' ragged-vector check)
    fails the task and removes its temp, so no shard and no temp remain."""
    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0])], "vec_id long, embedding array<float>"
    ).coalesce(1)
    out = str(tmp_path / "ragged")
    with pytest.raises(Exception, match="ragged"):
        write_safetensors_py(ragged, out)
    assert os.listdir(out) == []


@pytest.mark.parametrize("fmt", sorted(SINKS))
def test_foreign_file_is_not_listed(spark, tmp_path, fmt):
    """A file without the format's extension beside the shards (here a
    ``notes.md``) is not a shard: the reader neither decodes it nor takes
    its schema from it."""
    write, read = SINKS[fmt]
    out = str(tmp_path / fmt)
    write(_frame(spark), out, "overwrite")
    with open(os.path.join(out, "notes.md"), "w") as f:
        f.write("# notes on this dataset\n")
    assert read(spark, out).count() == 4


@pytest.mark.parametrize("fmt", sorted(SINKS))
def test_corrupt_shard_names_itself(spark, tmp_path, fmt):
    """Garbage under a final shard name fails the read with one
    ``ValueError`` that names the format and the shard file, never a raw
    codec error and never a short read."""
    write, read = SINKS[fmt]
    out = str(tmp_path / fmt)
    write(_frame(spark), out, "overwrite")
    shard = sorted(f for f in os.listdir(out) if not f.startswith("."))[0]
    with open(os.path.join(out, shard), "wb") as f:
        f.write(b"garbage " * 64)
    with pytest.raises(Exception) as err:
        read(spark, out).collect()
    # a driver-side failure (schema inference) is the ValueError itself;
    # a task-side one arrives wrapped with its traceback
    msg = f"{type(err.value).__name__}: {err.value}"
    assert f"ValueError: {FORMAT_NAME.get(fmt, fmt)}: corrupt shard" in msg
    assert shard in msg
