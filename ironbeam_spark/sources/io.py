"""Sources & sinks (reference §2.1, ``src/helpers/{jsonl,csv,parquet,avro,xml}.rs``).

Everything maps onto Spark's native readers/writers, which already provide
what the reference hand-rolls: glob expansion (``src/io/glob.rs``), partition-
pattern discovery (``year=2024/month=*``), transparent compression codecs
(``src/io/compression.rs``), row-group-sharded parquet reads
(``src/io/parquet.rs``), and parallel sharded writes (``write_*_par``).

At 100 TB the defaults that matter are set here: explicit schemas (no
inference scans over petabytes), ``spark.sql.files.maxPartitionBytes`` left
to Spark's 128 MB splits, and predicate/column pushdown verified by tests
(``tests/test_plans.py``).
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ironbeam_spark.collection import PCollection

__all__ = [
    "read_parquet",
    "write_parquet",
    "read_csv",
    "write_csv",
    "read_jsonl",
    "write_jsonl",
    "read_avro",
    "write_avro",
    "read_xml",
    "write_xml",
    "read_orc",
    "write_orc",
    "read_msgpack",
    "write_msgpack",
    "read_table",
    "read_table_stream",
    "load_tables",
    "TPCH_TABLES",
]

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_parquet(spark: SparkSession, path: str, columns: Sequence[str] | None = None) -> PCollection:
    """Reference ``read_parquet_streaming`` (``src/helpers/parquet.rs:144``).
    Spark's vectorized reader shards by row group and pushes filters/columns
    into the scan; ``columns`` forces early pruning for wide tables."""
    df = spark.read.parquet(path)
    if columns:
        df = df.select(*columns)
    return PCollection(df)


def write_parquet(df: DataFrame | PCollection, path: str, mode: str = "overwrite", partition_by: Sequence[str] = ()) -> None:
    """Reference ``write_parquet`` (``src/helpers/parquet.rs:73``).
    ``partition_by`` gives hive-style layout for partition pruning at scale."""
    d = df.df if isinstance(df, PCollection) else df
    w = d.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


# codecs Spark's text sources decode natively; anything else that IS in the
# codec registry (``sources/compression.py`` — .xz out of the box, plus user
# registrations) routes through the registry read/write path transparently
_SPARK_NATIVE_TEXT_CODECS = {
    "gz", "gzip", "bz2", "bzip2", "deflate", "lz4", "snappy", "zstd", "zst",
}


def _registry_codec(name_or_path: str):
    """The registered codec for a path/name, or None when Spark's native
    codec handling should take it (native wins — JVM-side, no Python hop)."""
    from ironbeam_spark.sources.compression import codec_for

    c = codec_for(name_or_path)
    if c is not None and c.extension not in _SPARK_NATIVE_TEXT_CODECS and c.name != "none":
        return c
    return None


def read_csv(spark: SparkSession, path: str, has_headers: bool = True, schema: Any = None) -> PCollection:
    """Reference ``read_csv`` (``src/helpers/csv.rs:133``); explicit header
    flag mirrored. Schema strongly recommended (inference = extra scan).
    Paths ending in a registry-only codec extension (e.g. ``.xz``) decode
    through the pluggable codec registry."""
    if _registry_codec(path) is not None:
        from ironbeam_spark.sources.compression import read_csv_compressed

        return PCollection(read_csv_compressed(spark, path, has_headers, schema))
    reader = spark.read.option("header", str(has_headers).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return PCollection(reader.csv(path))


def write_csv(
    df: DataFrame | PCollection,
    path: str,
    mode: str = "overwrite",
    header: bool = True,
    compression: str | None = None,
) -> None:
    """Both write paths, native and codec-registry, write one dialect
    (:data:`~ironbeam_spark.sources.compression.CSV_OPTIONS`), which
    :func:`read_csv` reads back exactly."""
    from ironbeam_spark.sources.compression import CSV_OPTIONS, write_csv_compressed

    d = df.df if isinstance(df, PCollection) else df
    if compression and _registry_codec(compression) is not None:
        write_csv_compressed(d, path, compression, header=header, mode=mode)
        return
    w = d.write.mode(mode).option("header", str(header).lower()).options(**CSV_OPTIONS)
    if compression:
        w = w.option("compression", compression)
    w.csv(path)


def read_jsonl(spark: SparkSession, path: str, schema: Any = None) -> PCollection:
    """Reference ``read_jsonl(_streaming)`` (``src/helpers/jsonl.rs:140,209``).
    Spark's JSON source is line-delimited by default and skips blank lines,
    matching the reference's empty-line skip.  Registry-only codec
    extensions (e.g. ``.xz``) decode through the pluggable registry."""
    if _registry_codec(path) is not None:
        from ironbeam_spark.sources.compression import read_jsonl_compressed

        return PCollection(read_jsonl_compressed(spark, path, schema))
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return PCollection(reader.json(path))


def write_jsonl(df: DataFrame | PCollection, path: str, mode: str = "overwrite", compression: str | None = None) -> None:
    """Reference ``write_jsonl_par`` (``src/helpers/jsonl.rs:243``): one shard
    per partition, written in parallel — Spark's native behavior.  A
    registry-only ``compression`` (e.g. ``"xz"`` or a user-registered codec)
    routes through the partition-parallel registry sink."""
    d = df.df if isinstance(df, PCollection) else df
    if compression and _registry_codec(compression) is not None:
        from ironbeam_spark.sources.compression import write_jsonl_compressed

        write_jsonl_compressed(d, path, compression, mode=mode)
        return
    w = d.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.json(path)


_AVRO_NATIVE: bool | None = None


def _avro_native_available(spark: SparkSession) -> bool:
    """True iff the spark-avro jar is on the classpath.  Probed ONCE per
    process (classpath cannot change mid-session) so the pure-Python
    fallback is selected only for a genuinely missing jar — real read/write
    failures (corrupt file, disk full, schema mismatch) propagate instead of
    being silently retried through the fallback codec."""
    global _AVRO_NATIVE
    if _AVRO_NATIVE is None:
        try:
            # Spark's own provider lookup — the authoritative check (a bare
            # Class.forName can see shaded avro classes even when the
            # data source module is not deployed)
            spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
                "avro", spark._jvm.org.apache.spark.sql.internal.SQLConf.get()
            )
            _AVRO_NATIVE = True
        except Exception:
            _AVRO_NATIVE = False
    return _AVRO_NATIVE


def read_avro(spark: SparkSession, path: str, schema=None) -> PCollection:
    """Reference ``read_avro`` (``src/helpers/avro.rs:109``).  Uses the
    native spark-avro reader when its jar is on the classpath (fastest);
    otherwise falls back to the dependency-free pure-Python OCF codec
    (``sources/avro.py`` — implemented from the public Avro spec,
    Java-interop-tested), the same strategy as the msgpack source.  The
    jar probe happens once up front, so errors raised while reading are
    genuine and propagate."""
    if _avro_native_available(spark):
        return PCollection(spark.read.format("avro").load(path))
    from ironbeam_spark.sources.avro import read_avro_py

    return PCollection(read_avro_py(spark, path, schema))


def write_avro(df: DataFrame | PCollection, path: str, mode: str = "overwrite") -> None:
    """Reference ``write_avro`` (``src/helpers/avro.rs:200``).  Native
    spark-avro writer when available (probed once, see
    :func:`_avro_native_available`), else the partition-parallel pure-Python
    OCF sink (one self-contained shard per partition).  Write errors from
    the selected path propagate — no cross-codec retry that could mix
    partial native output with fallback shards in append mode."""
    d = df.df if isinstance(df, PCollection) else df
    if _avro_native_available(d.sparkSession):
        d.write.mode(mode).format("avro").save(path)
        return
    from ironbeam_spark.sources.avro import write_avro_py

    write_avro_py(d, path, mode)


def read_arrow_ipc(spark: SparkSession, path: str, schema=None) -> PCollection:
    """Arrow IPC (Feather V2) source — the training-data-loader interchange
    format (no reference counterpart; north-star sources).  Batches flow
    Arrow-to-Arrow through ``mapInArrow``; see :mod:`sources.arrow_ipc`."""
    from ironbeam_spark.sources.arrow_ipc import read_arrow_ipc_py

    return PCollection(read_arrow_ipc_py(spark, path, schema))


def write_arrow_ipc(
    df: DataFrame | PCollection,
    path: str,
    mode: str = "overwrite",
    compression: str | None = None,
) -> int:
    """Arrow IPC sink: one Feather-V2 shard per partition, atomic rename
    commit; returns rows written.  See :mod:`sources.arrow_ipc`."""
    from ironbeam_spark.sources.arrow_ipc import write_arrow_ipc_py

    return write_arrow_ipc_py(df, path, mode, compression)


def read_safetensors(
    spark: SparkSession,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dtype: str = "float32",
) -> PCollection:
    """safetensors source — the ML ecosystem's tensor-interchange format
    (no reference counterpart; north-star sources).  See
    :mod:`sources.safetensors`."""
    from ironbeam_spark.sources.safetensors import read_safetensors_py

    return PCollection(read_safetensors_py(spark, path, id_col, vec_col, dtype))


def write_safetensors(
    df: DataFrame | PCollection,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
    dtype: str = "float32",
) -> int:
    """safetensors sink: one (ids, embeddings) shard per partition, atomic
    rename commit; returns rows written.  See :mod:`sources.safetensors`."""
    from ironbeam_spark.sources.safetensors import write_safetensors_py

    return write_safetensors_py(df, path, id_col, vec_col, mode, dtype)


def read_xml(spark: SparkSession, path: str, row_tag: str = "row") -> PCollection:
    """Reference ``read_xml`` (``src/helpers/xml.rs:107``). Spark 4 bundles
    the XML source natively."""
    try:
        return PCollection(spark.read.format("xml").option("rowTag", row_tag).load(path))
    except Exception as e:  # pragma: no cover
        raise NotImplementedError("xml source unavailable in this build") from e


def write_xml(df: DataFrame | PCollection, path: str, row_tag: str = "row", mode: str = "overwrite") -> None:
    """Reference ``write_xml(_par)`` (``src/helpers/xml.rs:210,273``) — one
    shard per partition via Spark 4's native XML sink."""
    d = df.df if isinstance(df, PCollection) else df
    try:
        d.write.mode(mode).format("xml").option("rowTag", row_tag).save(path)
    except Exception as e:  # pragma: no cover
        raise NotImplementedError("xml sink unavailable in this build") from e


def read_orc(spark: SparkSession, path: str, columns: Sequence[str] | None = None) -> PCollection:
    """ORC source (no reference counterpart — the other columnar format a
    warehouse migration actually encounters; Spark bundles the vectorized
    reader natively).  Same contract as :func:`read_parquet`: predicate
    pushdown into row-group stripes, ``columns`` for early pruning."""
    df = spark.read.orc(path)
    if columns:
        df = df.select(*columns)
    return PCollection(df)


def write_orc(df: DataFrame | PCollection, path: str, mode: str = "overwrite", partition_by: Sequence[str] = ()) -> None:
    """ORC sink, one stripe-compressed shard per partition; ``partition_by``
    gives hive-style layout, mirroring :func:`write_parquet`."""
    d = df.df if isinstance(df, PCollection) else df
    w = d.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_msgpack(spark: SparkSession, path: str, schema: Any) -> PCollection:
    """Reference ``read_msgpack`` (``src/helpers/msgpack.rs:140``): the
    shared shard source (globs native) decoding each file with the
    dependency-free codec in :mod:`ironbeam_spark.sources.msgpack`."""
    from ironbeam_spark.sources.msgpack import read_msgpack as _read

    return PCollection(_read(spark, path, schema))


def write_msgpack(df: DataFrame | PCollection, path: str, as_arrays: bool = True, mode: str = "overwrite") -> int:
    """Reference ``write_msgpack_par`` (``src/helpers/msgpack.rs:254``): one
    byte-concatenable shard per partition, encoded and written in parallel."""
    from ironbeam_spark.sources.msgpack import write_msgpack as _write

    return _write(df, path, as_arrays=as_arrays, mode=mode)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver test table (TESTDATA.md layout).

    Two runtime confs make timestamp handling robust and oracle-comparable
    regardless of the caller's session timezone:

    - ``nanosAsLong``: the ``events`` table stores TIMESTAMP(NANOS), which
      Spark's vectorized reader rejects; as int64 nanos it stays exact (and
      windowing arithmetic is pure int64 anyway).
    - ``inferTimestampNTZ=false``: ms-precision columns (``l_shipdate``,
      ``o_orderdate``) read as TIMESTAMP whose instant equals the stored
      naive value as-UTC — so ``unix_millis`` matches DuckDB ``epoch_ms``
      bit-for-bit independent of ``spark.sql.session.timeZone``.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # calendar extraction (year()/date_trunc) is session-timezone-sensitive;
    # pin UTC so queries give oracle-identical results under ANY host session
    # (get_spark already sets this, but the harness may pass a bare session)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # The LAZY scan plan is memoized per (session, dir, table): re-building
    # it costs a footer/schema read (~0.1 s) on every query invocation,
    # while the plan object itself carries no materialized state — every
    # action still scans the parquet files.  The conf pins above still run
    # per call (a caller may have flipped session state in between).
    from ironbeam_spark.plancache import session_memo

    return session_memo(
        spark,
        ("read_table", sf_dir, name),
        lambda: spark.read.parquet(f"{sf_dir}/{name}.parquet"),
    )


def read_table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Stream one test table: the streaming twin of :func:`read_table`,
    whose schema (and conf pins) it reuses.  A file stream source must be a
    directory, so the stream reads ``sf_dir`` filtered to ``<name>.parquet``."""
    return (
        spark.readStream.schema(read_table(spark, sf_dir, name).schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )


def load_tables(spark: SparkSession, sf_dir: str, names: Sequence[str] = TPCH_TABLES) -> dict[str, DataFrame]:
    return {n: read_table(spark, sf_dir, n) for n in names}
