"""Pluggable compression-codec registry for text sources/sinks.

Parity target: the reference's ``register_codec`` registry
(``src/io/compression.rs:152-320``), which lets users plug a codec keyed by
file extension and have every text reader/writer pick it up transparently.
Spark covers gzip/bzip2/deflate natively for text formats; this module adds
the rest — ``.xz`` out of the box (stdlib ``lzma``) and any user codec via
:func:`register_codec` — without leaving the DataFrame plane:

- **read**: ``binaryFile`` enumerates shards (one row per file, so each
  task decompresses a whole shard — the same unit of parallelism Spark's
  native codec path uses for non-splittable codecs like gzip), then an
  Arrow-batched ``mapInPandas`` decompresses and splits lines.
- **write**: partition-parallel shard sink (same shape as
  ``write_msgpack``): each partition compresses its lines executor-side and
  writes one ``part-NNNNN.<ext>`` — no driver collect, no single-writer
  bottleneck.

Like every non-splittable codec, one compressed shard = one read task;
write-side parallelism (many shards) is what keeps 100 TB reads parallel.
"""

from __future__ import annotations

import bz2 as _bz2
import gzip as _gzip
import io
import lzma as _lzma
import os
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F

from ironbeam_spark import caches

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


def read_lines(spark: SparkSession, path: str, codec: str | None = None) -> DataFrame:
    """Lines of the (possibly compressed) text files at ``path`` as a
    single-column DataFrame ``(value: string)``.  Codec resolved from
    ``codec`` (registry name) or the path's extension.  Line terminators
    follow Spark's native sources (LF, CRLF, lone CR)."""
    c = codec_for(codec or path)
    if c is None:
        raise ValueError(
            f"no registered codec matches {codec or path!r}; "
            f"registered: {sorted(_REGISTRY)}"
        )
    files = spark.read.format("binaryFile").load(path).select("content")

    def decode(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            for blob in pdf["content"]:
                text = c.decompress(bytes(blob)).decode("utf-8")
                yield pd.DataFrame({"value": _split_lines(text)})

    return files.mapInPandas(decode, "value string")


def _shard_extensions() -> tuple[str, ...]:
    return tuple({c.extension for c in _REGISTRY.values()})


def _prepare_shard_dir(
    path: str, mode: str, sweep_suffixes: tuple[str, ...]
) -> str | None:
    """Shared mode semantics for the partition-parallel shard sinks:
    validates ``mode``, sweeps stale shards (every suffix in
    ``sweep_suffixes``) plus orphaned ``.inprogress-`` temps on overwrite,
    raises/ignores per mode, and returns the append token ('' for
    non-append, ``None`` to signal ignore-mode early exit)."""
    import uuid

    modes = {"overwrite", "append", "error", "errorifexists", "ignore"}
    if mode not in modes:
        raise ValueError(f"mode must be one of {sorted(modes)}, got {mode!r}")
    os.makedirs(path, exist_ok=True)
    existing = [f for f in os.listdir(path) if f.endswith(sweep_suffixes)]
    if mode == "overwrite":
        for f in existing + [
            f for f in os.listdir(path)
            if f.startswith(".") and ".inprogress-" in f
        ]:
            os.remove(os.path.join(path, f))
    elif mode in ("error", "errorifexists") and existing:
        raise FileExistsError(f"shards already exist at {path} (mode={mode})")
    elif mode == "ignore" and existing:
        return None
    return f"-{uuid.uuid4().hex[:8]}" if mode == "append" else ""


def _commit_shard(out_dir: str, final_name: str, payload: bytes) -> None:
    """Hidden per-attempt temp + atomic rename (Hadoop's task-commit
    pattern): a mid-write death leaves only an ignored dotfile; racing
    speculative attempts each rename a COMPLETE payload over the same
    final name."""
    import uuid

    tmp = os.path.join(
        out_dir, f".{final_name}.inprogress-{uuid.uuid4().hex[:8]}"
    )
    with open(tmp, "wb") as f:
        f.write(payload)
    os.rename(tmp, os.path.join(out_dir, final_name))


def _shard_sink(df: DataFrame, path: str, codec: str, mode: str, render) -> int:
    """Shared scaffold for the partition-parallel compressed sinks: mode
    semantics, stale-shard cleanup, append-token naming, and the
    per-partition compress-and-write task.  ``render(batches, buf) -> n``
    serializes a partition's pandas batches into ``buf`` and returns the
    row count.

    ``overwrite`` removes shards of EVERY registered codec extension, not
    just the current one — readers decode every file in the directory with
    one codec, so a leftover shard from a previous codec would silently
    poison later reads.

    Shards commit via write-to-hidden-temp + ``os.rename`` (Hadoop's
    task-commit pattern): a task that dies mid-write, or a speculative
    duplicate attempt racing the original, can only ever leave a
    dot-prefixed temp file — which Spark's file index ignores — never a
    torn shard under its final name."""
    c = codec_for(codec)
    if c is None:
        raise ValueError(f"unknown codec {codec!r}; registered: {sorted(_REGISTRY)}")
    ext = c.extension
    # any file with a registered codec extension counts — readers decode
    # EVERY file binaryFile finds, so a hand-copied data.gz is just as able
    # to poison an overwrite-then-read as a stale part- shard
    token = _prepare_shard_dir(
        path, mode, tuple(f".{e}" for e in _shard_extensions())
    )
    if token is None:
        return 0
    out = path

    def write_partition(batches: Iterator) -> Iterator:
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        buf = io.StringIO()
        n = render(batches, buf)
        if n:
            _commit_shard(
                out,
                f"part-{pid:05d}{token}.{ext}",
                c.compress(buf.getvalue().encode("utf-8")),
            )
        yield pd.DataFrame({"written": [n]})

    counts = df.mapInPandas(write_partition, "written long").collect()
    return sum(1 for r in counts if r.written)


def write_lines(
    df: DataFrame, path: str, codec: str, mode: str = "overwrite"
) -> int:
    """Partition-parallel compressed text sink: one ``part-NNNNN.<ext>``
    per partition, compressed executor-side.  ``df`` must have exactly one
    string column.  Returns the number of shards written."""
    if len(df.columns) != 1:
        raise ValueError(f"write_lines wants a single-column frame, got {df.columns}")
    col = df.columns[0]

    def render(batches, buf) -> int:
        n = 0
        for pdf in batches:
            for line in pdf[col]:
                buf.write("" if line is None else str(line))
                buf.write("\n")
                n += 1
        return n

    return _shard_sink(df, path, codec, mode, render)


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
    c = codec_for(codec or path)
    if c is None:
        raise ValueError(f"no registered codec matches {codec or path!r}")
    files = spark.read.format("binaryFile").load(path).select("content")
    drop_header = has_headers

    def make_decode(with_header_col: bool):
        def decode(batches: Iterator) -> Iterator:
            import pandas as pd

            for pdf in batches:
                for blob in pdf["content"]:
                    text = c.decompress(bytes(blob)).decode("utf-8")
                    lines = _split_lines(text)
                    header = ""
                    if drop_header and lines:
                        header = lines[0]
                        lines = lines[1:]
                    if with_header_col:
                        yield pd.DataFrame(
                            {"value": lines, "header": [header] * len(lines)}
                        )
                    else:
                        yield pd.DataFrame({"value": lines})

        return decode

    if schema is not None:
        # schema path never needs the header text — don't replicate it
        # across every row of the Arrow stream
        lines = files.mapInPandas(make_decode(False), "value string")
        if hasattr(schema, "fields"):  # StructType -> "name type, ..." DDL
            ddl = ", ".join(
                f"{f.name} {f.dataType.simpleString()}" for f in schema.fields
            )
        else:
            ddl = schema
        return lines.select(F.from_csv("value", ddl).alias("c")).select("c.*")
    # inference path needs the decoded lines THREE times (header probe,
    # inference scan, final parse) — persist so non-splittable shards
    # decompress once, not per pass.  The cache lives until
    # caches.release_all_caches() (inference at scale should pass a schema).
    lines = caches.hold(
        files.mapInPandas(make_decode(True), "value string, header string").persist()
    )
    first_header = lines.select("header").first()
    rdd = lines.select("value").rdd.map(lambda r: r.value)
    if has_headers and first_header is not None:
        header_line = first_header.header
        rdd = spark.sparkContext.parallelize([header_line]).union(rdd)
        return spark.read.option("header", "true").option("inferSchema", "true").csv(rdd)
    return spark.read.option("header", "false").option("inferSchema", "true").csv(rdd)


def write_csv_compressed(
    df: DataFrame, path: str, codec: str, header: bool = True, mode: str = "overwrite"
) -> int:
    """CSV lines built per-partition with pandas ``to_csv`` (proper quoting)
    then compressed shard-parallel; each shard carries the header so shards
    stay independently readable (Spark's own csv writer contract)."""
    want_header = header

    def render(batches, buf) -> int:
        n = 0
        first = True
        for pdf in batches:
            # Spark's CSV parser defaults to backslash-escaped quotes;
            # pandas defaults to RFC doubled quotes — write Spark's dialect
            pdf.to_csv(
                buf,
                index=False,
                header=want_header and first,
                doublequote=False,
                escapechar="\\",
            )
            first = False
            n += len(pdf)
        return n

    return _shard_sink(df, path, codec, mode, render)
