"""Arrow IPC file (Feather V2) source/sink — the ML-loader interchange format.

No reference counterpart (the reference's format list stops at
csv/jsonl/parquet/avro/msgpack, ``src/helpers/mod.rs``); this is north-star
sources work: Arrow IPC files are the storage layer of the dominant
training-data loaders (HuggingFace ``datasets`` memory-maps exactly this
format) and the cheapest possible interchange with any Arrow-native engine
(DuckDB, Polars, Ray Data) — a 100 TB corpus prepared here can be
memory-mapped by a PyTorch dataloader with zero parse cost.

Spark-first shape, and the *fastest* codec path in the repo: both
directions stay in Arrow end-to-end via ``mapInArrow`` — the write side
streams each partition's record batches straight into a
``pyarrow.ipc.new_file`` writer (no pandas, no Python-object rows; the
only per-row work is pyarrow's own buffer copy), and the read side
memory-maps nothing but yields each file's batches directly as the
operator's output batches, cast once per batch to the session's expected
Arrow schema (timezone/width normalization).  Contrast ``sources/avro.py``
/ ``sources/msgpack.py``, whose codecs necessarily walk Python values.

Scale: one self-contained shard per partition, through the shared shard
protocol (:mod:`ironbeam_spark.sources.shards`: hidden temp + atomic
rename on write; one listing, decode map and corrupt-shard rule on read),
so both sides are embarrassingly parallel with zero shuffle.  A shard is
one IPC *file* (footer + per-batch offsets), so a future split-capable
reader can seek individual batches without parsing the whole shard.
"""

from __future__ import annotations

from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

__all__ = ["read_arrow_ipc_py", "write_arrow_ipc_py"]


def write_arrow_ipc_py(
    df: Any,
    path: str,
    mode: str = "overwrite",
    compression: str | None = None,
) -> int:
    """Partition-parallel Arrow IPC sink: one Feather-V2 shard per non-empty
    partition (``part-NNNNN.arrow``) through the shared shard protocol
    (:mod:`ironbeam_spark.sources.shards`: mode semantics, atomic commit).
    Returns rows written.  ``compression`` is an IPC buffer codec
    (``"zstd"``/``"lz4"``) or None."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from ironbeam_spark.collection import PCollection
    from ironbeam_spark.sources.shards import shard_sink

    d = df.df if isinstance(df, PCollection) else df
    # resolved ONCE on the driver: every shard carries the identical schema
    # (timestamps as tz-aware UTC micros), so readers never reconcile
    # per-shard drift
    arrow_schema = to_arrow_schema(d.schema)

    def encode(batches: Iterator, fh) -> int:
        import pyarrow as pa
        import pyarrow.ipc as ipc

        opts = (
            ipc.IpcWriteOptions(compression=compression) if compression else None
        )
        n = 0
        writer = None
        for batch in batches:
            if batch.num_rows == 0:
                continue
            if writer is None:
                # lazy open: an empty partition encodes nothing and so
                # commits no footer-only shard
                writer = ipc.new_file(fh, arrow_schema, options=opts)
            # cast: Spark hands batches in its own arrow types (e.g. session
            # tz); normalize to the driver-resolved schema before writing
            writer.write_batch(
                pa.Table.from_batches([batch]).cast(arrow_schema).to_batches()[0]
                if batch.schema != arrow_schema
                else batch
            )
            n += batch.num_rows
        if writer is not None:
            writer.close()
        return n

    return shard_sink(d, path, "arrow", mode, encode)[0]


def _decode_shard(_name: str, blob: bytes) -> Iterator:
    import pyarrow as pa
    import pyarrow.ipc as ipc

    reader = ipc.open_file(pa.BufferReader(blob))
    for i in range(reader.num_record_batches):
        yield reader.get_batch(i)


def _footer_schema(local_path: str) -> StructType:
    import pyarrow as pa
    import pyarrow.ipc as ipc
    from pyspark.sql.pandas.types import from_arrow_schema

    with pa.OSFile(local_path, "rb") as fh:
        return from_arrow_schema(ipc.open_file(fh).schema)


def read_arrow_ipc_py(
    spark: SparkSession, path: str, schema: StructType | str | None = None
) -> DataFrame:
    """Read Arrow IPC file(s) (glob ok) through the shared shard source:
    each file's record batches pass straight through ``mapInArrow``.
    Without ``schema`` (required for an empty directory) it comes from
    the first shard's footer."""
    from ironbeam_spark.sources.shards import shard_source

    return shard_source(spark, path, "arrow", _decode_shard, schema or _footer_schema)
