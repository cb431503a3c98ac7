"""Pluggable compression-codec registry for text sources/sinks.

Parity target: the reference's ``register_codec`` registry
(``src/io/compression.rs:152-320``), which lets users plug a codec keyed by
file extension and have every text reader/writer pick it up transparently.
Spark covers gzip/bzip2/deflate natively for text formats; this module adds
the rest — ``.xz`` out of the box (stdlib ``lzma``) and any user codec via
:func:`register_codec` — without leaving the DataFrame plane:

- **read**: the shared shard source (:mod:`ironbeam_spark.sources.
  shards`) lists the ``*.<ext>`` shards of the codec and decodes each
  whole shard in one task (the same unit of parallelism Spark's native
  codec path uses for non-splittable codecs like gzip): one ``mapInArrow``
  decompresses and splits lines.
- **write**: the shared shard protocol (:mod:`ironbeam_spark.sources.
  shards`): each partition compresses its lines executor-side and writes
  one ``part-NNNNN.<ext>`` — no driver collect, no single-writer
  bottleneck.

Like every non-splittable codec, one compressed shard = one read task;
write-side parallelism (many shards) is what keeps 100 TB reads parallel.
"""

from __future__ import annotations

import bz2 as _bz2
import gzip as _gzip
import io
import lzma as _lzma
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F

from ironbeam_spark import caches
from ironbeam_spark.sources.shards import shard_sink, shard_source

__all__ = [
    "Codec",
    "register_codec",
    "codec_for",
    "registered_codecs",
    "read_lines",
    "write_lines",
    "read_jsonl_compressed",
    "write_jsonl_compressed",
    "read_csv_compressed",
    "write_csv_compressed",
]


@dataclass(frozen=True)
class Codec:
    """A byte-level compression codec keyed by file extension."""

    name: str
    extension: str  # without the dot, e.g. "xz"
    compress: Callable[[bytes], bytes]
    decompress: Callable[[bytes], bytes]


_REGISTRY: dict[str, Codec] = {}


def register_codec(
    name: str,
    extension: str,
    compress: Callable[[bytes], bytes],
    decompress: Callable[[bytes], bytes],
) -> Codec:
    """Register (or replace) a codec; returns it.  Mirrors the reference's
    ``register_codec`` extension point (``src/io/compression.rs:152``).

    The compress/decompress callables must be importable-free closures or
    module-level functions picklable by cloudpickle — they run executor-side
    inside the shard tasks."""
    c = Codec(name, extension.lstrip("."), compress, decompress)
    _REGISTRY[c.name] = c
    return c


def registered_codecs() -> dict[str, Codec]:
    return dict(_REGISTRY)


def codec_for(name_or_path: str) -> Codec | None:
    """Resolve a codec by registry name or by file extension of a path;
    None when nothing matches (caller falls through to Spark's native
    codec handling)."""
    if name_or_path in _REGISTRY:
        return _REGISTRY[name_or_path]
    ext = name_or_path.rsplit(".", 1)[-1].lower() if "." in name_or_path else ""
    for c in _REGISTRY.values():
        if c.extension == ext:
            return c
    return None


# the one CSV write dialect of both write paths (``write_csv`` and
# :func:`write_csv_compressed`): Spark's defaults keep milliseconds only
# and trim leading/trailing whitespace, so neither would read back exact
CSV_OPTIONS = {
    "timestampFormat": "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "timestampNTZFormat": "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "ignoreLeadingWhiteSpace": "false",
    "ignoreTrailingWhiteSpace": "false",
}


register_codec("gzip", "gz", _gzip.compress, _gzip.decompress)
register_codec("bz2", "bz2", _bz2.compress, _bz2.decompress)
register_codec("xz", "xz", _lzma.compress, _lzma.decompress)
register_codec("none", "txt", lambda b: b, lambda b: b)


def _split_lines(text: str) -> list[str]:
    """Split decompressed text on the same terminators Spark's native
    text/CSV/JSON sources recognize (``\\r\\n``, ``\\r``, ``\\n``) so
    externally produced CRLF files don't leave a trailing ``\\r`` on every
    value (which would corrupt the last CSV column and JSON parses).
    Deliberately NOT ``str.splitlines()`` — that also splits on ``\\v``,
    ``\\f``, ``\\x85``, ``\\u2028`` etc., which Spark treats as data."""
    import re

    lines = re.split(r"\r\n|\r|\n", text)
    if lines and lines[-1] == "":
        lines.pop()
    return lines


def _resolve(path: str, codec: str | None) -> Codec:
    c = codec_for(codec or path)
    if c is None:
        raise ValueError(
            f"no registered codec matches {codec or path!r}; "
            f"registered: {sorted(_REGISTRY)}"
        )
    return c


def _line_decoder(c: Codec, drop_header: bool = False, keep_header: bool = False):
    """One shard's lines as ``value``; ``drop_header`` drops its first
    line, ``keep_header`` also carries that line as ``header``."""

    def decode(_name: str, blob: bytes) -> Iterator:
        import pyarrow as pa

        lines = _split_lines(c.decompress(blob).decode("utf-8"))
        head = ""
        if drop_header and lines:
            head, lines = lines[0], lines[1:]
        cols = {"value": lines}
        if keep_header:
            cols["header"] = [head] * len(lines)
        yield pa.RecordBatch.from_pydict(cols)

    return decode


def read_lines(spark: SparkSession, path: str, codec: str | None = None) -> DataFrame:
    """Lines of the (possibly compressed) ``*.<ext>`` text files at
    ``path`` as a single-column DataFrame ``(value: string)``.  Codec
    resolved from ``codec`` (registry name) or the path's extension; its
    extension picks the files.  Line terminators follow Spark's native
    sources (LF, CRLF, lone CR)."""
    c = _resolve(path, codec)
    return shard_source(spark, path, c.extension, _line_decoder(c), "value string")


def _codec_sink(df: DataFrame, path: str, codec: str, mode: str, head: str = "") -> int:
    """The lines of ``df``'s one string column through the shared shard
    protocol (:mod:`ironbeam_spark.sources.shards`): each partition's
    text, after ``head``, is compressed executor-side into one
    ``part-NNNNN.<ext>``; a NULL line is written empty.  Returns the
    number of shards written.

    ``overwrite`` removes shards of EVERY registered codec extension, not
    just the current one — readers decode every file in the directory with
    one codec, so a leftover shard from a previous codec (or a hand-copied
    ``data.gz``) would silently poison later reads."""
    c = _resolve(path, codec)

    def encode(batches, fh) -> int:
        buf = io.StringIO()
        buf.write(head)
        n = 0
        for batch in batches:
            for line in batch.column(0).to_pylist():
                buf.write("" if line is None else str(line))
                buf.write("\n")
                n += 1
        fh.write(c.compress(buf.getvalue().encode("utf-8")))
        return n

    sweep = tuple({r.extension for r in _REGISTRY.values()})
    return shard_sink(df, path, c.extension, mode, encode, sweep)[1]


def write_lines(
    df: DataFrame, path: str, codec: str, mode: str = "overwrite"
) -> int:
    """Partition-parallel compressed text sink: one ``part-NNNNN.<ext>``
    per partition, compressed executor-side.  ``df`` must have exactly one
    string column.  Returns the number of shards written."""
    if len(df.columns) != 1:
        raise ValueError(f"write_lines wants a single-column frame, got {df.columns}")
    return _codec_sink(df, path, codec, mode)


def read_jsonl_compressed(
    spark: SparkSession, path: str, schema: Any = None, codec: str | None = None
) -> DataFrame:
    """JSONL through the codec registry.  With a schema: pure-DataFrame
    ``from_json`` parse.  Without: schema inference via ``spark.read.json``
    over the decompressed line set (the one sanctioned RDD hop — inference
    at 100 TB should pass an explicit schema anyway)."""
    lines = read_lines(spark, path, codec)
    if schema is not None:
        # blank lines are skipped — parity with the no-schema path and the
        # native read_jsonl (from_json('') would otherwise yield an
        # all-null row per blank line, silently inflating row counts)
        return (
            lines.where(F.length(F.trim("value")) > 0)
            .select(F.from_json("value", schema).alias("j"))
            .select("j.*")
        )
    return spark.read.json(lines.rdd.map(lambda r: r.value))


def write_jsonl_compressed(
    df: DataFrame, path: str, codec: str, mode: str = "overwrite"
) -> int:
    """Each row serialized with ``to_json`` (JVM-side), then the
    partition-parallel compressed sink."""
    cols = [F.col(c) for c in df.columns]
    return write_lines(
        df.select(F.to_json(F.struct(*cols)).alias("value")), path, codec, mode
    )


def read_csv_compressed(
    spark: SparkSession,
    path: str,
    has_headers: bool = True,
    schema: Any = None,
    codec: str | None = None,
) -> DataFrame:
    """CSV through the codec registry.  Every shard carries its own header
    (the write-side contract below), so headers are dropped per-file at
    decompress time, keeping the parse DataFrame-pure.

    Limitation: records are split at line terminators (LF/CRLF/CR) BEFORE
    parsing, so quoted fields with embedded newlines (Spark's
    ``multiLine`` option) are not supported by this codec path — external
    shards using them should go through the native CSV source."""
    c = _resolve(path, codec)
    # only the inference path needs the header text — don't replicate it
    # across every row of the Arrow stream otherwise
    keep = schema is None and has_headers
    lines = shard_source(
        spark, path, c.extension, _line_decoder(c, has_headers, keep),
        "value string, header string" if keep else "value string",
    )
    if schema is not None:
        ddl = schema.toDDL() if hasattr(schema, "toDDL") else schema
        return lines.select(F.from_csv("value", ddl).alias("c")).select("c.*")
    # inference path needs the decoded lines THREE times (header probe,
    # inference scan, final parse) — persist so non-splittable shards
    # decompress once, not per pass.  The cache lives until
    # caches.release_all_caches() (inference at scale should pass a schema).
    lines = caches.hold(lines.persist())
    first_header = lines.first() if keep else None
    rdd = lines.select("value").rdd.map(lambda r: r.value)
    if first_header is not None:
        header_line = first_header.header
        rdd = spark.sparkContext.parallelize([header_line]).union(rdd)
        return spark.read.option("header", "true").option("inferSchema", "true").csv(rdd)
    return spark.read.option("header", "false").option("inferSchema", "true").csv(rdd)


def _csv_field(name: str) -> str:
    """A header field as ``to_csv`` writes a value: quoted when it holds a
    delimiter, a quote or a line break, backslash-escaping ``\\`` and ``"``."""
    if not any(ch in name for ch in ',"\r\n'):
        return name
    return '"' + name.replace("\\", "\\\\").replace('"', '\\"') + '"'


def write_csv_compressed(
    df: DataFrame, path: str, codec: str, header: bool = True, mode: str = "overwrite"
) -> int:
    """CSV lines rendered JVM-side by ``to_csv`` in :data:`CSV_OPTIONS`
    (the dialect of the native ``write_csv``), then compressed
    shard-parallel; each shard carries the header, rendered on the driver
    in the same dialect, so shards stay independently readable (Spark's
    own csv writer contract).

    A row whose only column is NULL is written ``""``, like an empty
    string (``to_csv`` itself fails on that row)."""
    line = F.to_csv(F.struct(*df.columns), CSV_OPTIONS)
    if len(df.columns) == 1:
        line = F.when(F.col(df.columns[0]).isNull(), F.lit('""')).otherwise(line)
    head = ",".join(_csv_field(c) for c in df.columns) + "\n" if header else ""
    return _codec_sink(df.select(line.alias("value")), path, codec, mode, head)
