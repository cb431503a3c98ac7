"""Custom source integration (reference ``from_custom_source``,
``src/helpers/custom_source.rs``: user supplies a shard-lister + per-shard
reader; the runner schedules one task per shard).

Spark's native superset is the Python DataSource API (pyspark 4,
``pyspark.sql.datasource``): a ``DataSource`` declares partitions (the
reference's shards) and a per-partition ``read`` — after registration it
composes with the full reader surface (``spark.read.format(name)``,
schema, options, predicate pushdown hooks), which is strictly more than the
reference's trait offers.  :func:`from_custom_source` is the thin parity
shim; :class:`MsgpackDataSource` is a real proof — the msgpack codec from
:mod:`ironbeam_spark.sources.msgpack` exposed as a first-class format, one
input partition per shard file, so ``spark.read.format("msgpack")`` and
``df.write.format("msgpack")`` both work.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

__all__ = ["from_custom_source", "register_msgpack_format", "MsgpackDataSource"]


def from_custom_source(
    spark: SparkSession,
    source_cls: type[DataSource],
    schema: StructType | str | None = None,
    **options: str,
) -> DataFrame:
    """Register ``source_cls`` and read it — the reference's
    ``from_custom_source`` contract (shards → per-shard iterator) mapped to
    the DataSource API (``partitions()`` → ``read(partition)``).  Idempotent
    re-registration; ``options`` go to the source's constructor."""
    spark.dataSource.register(source_cls)
    reader = spark.read.format(source_cls.name())
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


class _MsgpackReader(DataSourceReader):
    """One task per shard file (msgpack has no intra-file split points),
    listed and decoded by the rules of ``msgpack.read_msgpack``."""

    def __init__(self, options: dict, schema: StructType):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("msgpack source requires a path")
        self.schema = schema

    def partitions(self) -> Sequence[InputPartition]:
        from ironbeam_spark.sources.shards import local_shards

        return [InputPartition(f) for f in local_shards(self.path, "msgpack")]

    def read(self, partition: InputPartition) -> Iterator:
        from pyspark.sql.pandas.types import to_arrow_schema

        from ironbeam_spark.sources.msgpack import shard_decoder
        from ironbeam_spark.sources.shards import decode_shard

        with open(partition.value, "rb") as fh:
            blob = fh.read()
        decode, target = shard_decoder(self.schema), to_arrow_schema(self.schema)
        yield from decode_shard("msgpack", partition.value, blob, decode, target)


class _MsgpackCommit(WriterCommitMessage):
    pass


class _MsgpackWriter(DataSourceWriter):
    """The DataSource API drives the tasks here, so this writer uses the
    two halves of :func:`ironbeam_spark.sources.shards.shard_sink`
    directly: the SaveMode check and sweep on the driver, one atomically
    committed ``part-NNNNN.msgpack`` per task."""

    def __init__(self, options: dict, schema: StructType, overwrite: bool):
        from ironbeam_spark.sources.shards import prepare_shard_dir

        self.path = options.get("path")
        if not self.path:
            raise ValueError("msgpack sink requires a path")
        self.token = prepare_shard_dir(
            self.path, "overwrite" if overwrite else "append", (".msgpack",)
        )

    def write(self, iterator: Iterator) -> WriterCommitMessage:
        from pyspark import TaskContext

        from ironbeam_spark.sources.msgpack import pack_records
        from ironbeam_spark.sources.shards import write_shard

        pid = TaskContext.get().partitionId()
        write_shard(
            self.path,
            f"part-{pid:05d}{self.token}.msgpack",
            lambda fh: pack_records(fh, (list(row) for row in iterator)),
        )
        return _MsgpackCommit()


class MsgpackDataSource(DataSource):
    """``spark.read.format("msgpack")`` / ``df.write.format("msgpack")``.

    Read requires an explicit ``.schema(...)`` (msgpack records carry no
    schema, exactly like the reference's serde-typed reads).  Shards are
    byte-concatenable, array- or map-encoded records both decode.
    """

    @classmethod
    def name(cls) -> str:
        return "msgpack"

    def schema(self):
        raise ValueError(
            "msgpack is schemaless: pass an explicit .schema(...) to the reader"
        )

    def reader(self, schema: StructType) -> DataSourceReader:
        return _MsgpackReader(self.options, schema)

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        return _MsgpackWriter(self.options, schema, overwrite)


def register_msgpack_format(spark: SparkSession) -> None:
    """Make ``format("msgpack")`` available on this session (idempotent)."""
    spark.dataSource.register(MsgpackDataSource)
