"""One-file-per-partition shards: the single statement of the directory
protocol every partition-parallel file sink and source in this package
shares (avro, arrow_ipc, msgpack and its ``format("msgpack")``
DataSource, safetensors, warc, tar, and the codec-registry text formats
in ``compression``).  A format supplies only its encoder and decoder;
this module owns the rest.

Write side, :func:`shard_sink`:

- **mode** (DataFrameWriter semantics): ``overwrite`` removes existing
  shards (every suffix the sink names, not only its own extension) and
  orphaned ``.inprogress-`` temps; ``append`` names new shards
  ``part-NNNNN-<token>.<ext>`` with a fresh per-job token, so a prior
  write's ``part-NNNNN`` is never clobbered; ``error``/``errorifexists``
  raises ``FileExistsError`` if shards exist; ``ignore`` then writes
  nothing.
- **one task per partition**: ``mapInArrow`` hands the partition's Arrow
  batches and a binary handle on a hidden per-attempt temp
  (``.part-NNNNN.<ext>.inprogress-<hex>``) to the format's
  ``encode(batches, fh) -> n``.
- **commit**: ``n > 0`` renames the temp to ``part-NNNNN.<ext>``
  (``os.rename`` is atomic on POSIX: Hadoop's task-commit pattern);
  ``n == 0`` removes it, so empty partitions write no shard.  A task that
  dies mid-write, or a speculative attempt racing the original, can only
  ever leave a dot-prefixed temp, which Spark's file index skips — never
  a torn shard under a final name, where a streaming file source would
  take it for a complete file.  Racing attempts each rename a COMPLETE
  payload over the same final name.
- **count**: :func:`shard_sink` returns ``(rows, shards)``: the sum of the
  encoders' ``n`` and the number of shards committed.

Read side, :func:`shard_source`:

- **listing**: ``binaryFile`` with a ``pathGlobFilter`` on the format's
  extensions (a stray ``notes.md`` is not a shard); the file index skips
  the dot-prefixed temps.  :func:`local_shards` is the same rule.
- **decode**: one ``mapInArrow`` (:func:`decode_shards`, also over the
  streaming WARC file stream) calls the format's ``decode(shard_name,
  blob)`` and casts each Arrow batch it yields to the target schema;
  columns go by name, a missing one is null as in Spark's file sources.
- **schema inference** reads the header of the first listed shard, and
  only its path reaches the driver.
- **corrupt shards**: any decode failure fails the read with one
  ``ValueError`` naming the format and the shard; no skip mode.

Targets a POSIX-visible directory; an object-store deployment would swap
``open``/``os.rename`` for an fsspec or Hadoop-FS stream and committer,
with every encoder and decoder unchanged.
"""

from __future__ import annotations

import glob
import os
import uuid
from collections.abc import Callable, Iterator
from typing import BinaryIO

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

__all__ = [
    "shard_sink", "prepare_shard_dir", "write_shard",
    "shard_source", "shard_glob", "local_shards", "decode_shards", "decode_shard",
]

#: a format's shard extension(s), without the dot: ``"avro"``, ``("warc", "warc.gz")``
Ext = str | tuple[str, ...]


def prepare_shard_dir(path: str, mode: str, sweep_suffixes: tuple[str, ...]) -> str | None:
    """Driver-side half of the protocol: validates ``mode``, sweeps stale
    shards (names ending in any of ``sweep_suffixes``) plus orphaned
    ``.inprogress-`` temps on overwrite, raises or ignores per mode, and
    returns the shard-name token ('' except for append, ``None`` when
    ignore-mode should write nothing)."""
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


def write_shard(out_dir: str, final_name: str, encode: Callable[[BinaryIO], int]) -> int:
    """Task-side half of the protocol: ``encode(fh) -> n`` writes into a
    hidden per-attempt temp, which is renamed to ``final_name`` when
    ``n > 0`` and removed otherwise (also when ``encode`` raises).
    Returns ``n``."""
    tmp = os.path.join(out_dir, f".{final_name}.inprogress-{uuid.uuid4().hex[:8]}")
    with open(tmp, "wb") as fh:
        try:
            n = encode(fh)
        except BaseException:
            os.remove(tmp)
            raise
    if n:
        os.rename(tmp, os.path.join(out_dir, final_name))
    else:
        os.remove(tmp)
    return n


def shard_sink(
    df: DataFrame,
    path: str,
    ext: str,
    mode: str,
    encode: Callable[[Iterator, BinaryIO], int],
    sweep_exts: tuple[str, ...] | None = None,
) -> tuple[int, int]:
    """Write ``df`` as one ``part-NNNNN.<ext>`` shard per non-empty
    partition under ``path`` (protocol in the module docstring).
    ``encode(batches, fh) -> n`` serializes one partition's Arrow record
    batches into ``fh`` and returns its count (rows or members; 0 means
    no shard).  ``sweep_exts`` (default ``(ext,)``) are the extensions
    that count as existing shards for the mode checks and the overwrite
    sweep.  Returns ``(rows, shards)``."""
    token = prepare_shard_dir(
        path, mode, tuple(f".{e}" for e in (sweep_exts or (ext,)))
    )
    if token is None:
        return 0, 0

    def task(batches: Iterator) -> Iterator:
        import pyarrow as pa
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        n = write_shard(
            path, f"part-{pid:05d}{token}.{ext}", lambda fh: encode(batches, fh)
        )
        yield pa.RecordBatch.from_pylist(
            [{"n": n}], schema=pa.schema([("n", pa.int64())])
        )

    counts = [r.n for r in df.mapInArrow(task, "n long").collect()]
    return sum(counts), sum(1 for n in counts if n)


# ------------------------------------------------------------------ read side


def _exts(ext: Ext) -> tuple[str, ...]:
    return (ext,) if isinstance(ext, str) else ext


def shard_glob(ext: Ext) -> str:
    """The listing rule as a ``pathGlobFilter``: ``*.{avro}``."""
    return "*.{" + ",".join(_exts(ext)) + "}"


def local_shards(path: str, ext: Ext) -> list[str]:
    """The listing rule for a reader that lists on its own: the files in
    directory (or glob) ``path`` named ``*.<ext>``, minus the dot- and
    underscore-prefixed names Spark's file index skips."""
    found = glob.glob(os.path.join(path, "*") if os.path.isdir(path) else path)
    if not found and not os.path.isdir(path):
        raise FileNotFoundError(f"no such shard path: {path}")
    suffixes = tuple(f".{e}" for e in _exts(ext))
    return sorted(
        p for p in found
        if p.endswith(suffixes) and not os.path.basename(p).startswith("_")
    )


def decode_shard(fmt: str, name: str, blob: bytes, decode: Callable, target) -> Iterator:
    """Task-side read of one shard: each non-empty batch of
    ``decode(name, blob)`` cast to the Arrow schema ``target`` (columns by
    name, a missing one null).  Any failure is the corrupt-shard error."""
    import pyarrow as pa

    try:
        for b in decode(name, blob):
            if not b.num_rows:
                continue
            if not b.schema.equals(target):
                cols = [
                    b.column(f.name) if f.name in b.schema.names else pa.nulls(b.num_rows)
                    for f in target
                ]
                b = pa.RecordBatch.from_arrays(
                    [c.cast(f.type) for c, f in zip(cols, target)], schema=target
                )
            yield b
    except Exception as e:
        raise _corrupt(fmt, name, e) from e


def _corrupt(fmt: str, name: str, e: Exception) -> ValueError:
    return ValueError(f"{fmt}: corrupt shard {name}: {type(e).__name__}: {e}")


def decode_shards(
    files: DataFrame, ext: Ext, decode: Callable, schema: StructType | str
) -> DataFrame:
    """The read-side map over a batch or streaming ``binaryFile`` frame:
    one ``mapInArrow`` running :func:`decode_shard` on each shard."""
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    fmt, target = _exts(ext)[0], to_arrow_schema(schema)

    def task(batches: Iterator) -> Iterator:
        for fb in batches:
            # one shard's bytes at a time: an input batch can hold many
            for name, blob in zip(fb.column(0).to_pylist(), fb.column(1)):
                yield from decode_shard(fmt, name, blob.as_py(), decode, target)

    return files.select("path", "content").mapInArrow(task, schema)


def shard_source(
    spark: SparkSession, path: str, ext: Ext, decode: Callable,
    schema: StructType | str | Callable[[str], StructType],
) -> DataFrame:
    """Read the ``*.<ext>`` shards at ``path`` (directory, file or glob;
    protocol in the module docstring).  ``decode(shard_name, blob)``
    yields a shard's Arrow batches.  ``schema`` is a ``StructType``, DDL,
    or a function reading it from one local shard file's header."""
    fmt = _exts(ext)[0]
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", shard_glob(ext))
        .load(path)
    )
    if callable(schema):
        # only the PATH reaches the driver: a shard can be GBs
        first = files.select("path").limit(1).collect()
        if not first:
            raise ValueError(f"cannot infer {fmt} schema from an empty directory")
        p = first[0].path.removeprefix("file:")
        if "://" in p:
            raise ValueError(f"cannot infer {fmt} schema from remote path {p!r}: pass schema=")
        try:
            schema = schema(p)
        except Exception as e:
            raise _corrupt(fmt, p, e) from e
    return decode_shards(files, ext, decode, schema)
