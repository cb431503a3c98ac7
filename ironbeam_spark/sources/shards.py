"""One-file-per-partition shard sinks: the single statement of the
directory protocol every partition-parallel file sink in this package
shares (avro, arrow_ipc, msgpack and its ``format("msgpack")`` DataSource
writer, safetensors, warc, tar, and the codec-registry text sinks in
``compression``).  A sink supplies only its format's encoder; this module
owns the rest:

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
  ever leave a dot-prefixed temp, which ``binaryFile`` and Spark's file
  index skip — never a torn shard under a final name, where a streaming
  file source would take it for a complete file.  Racing attempts each
  rename a COMPLETE payload over the same final name.
- **count**: :func:`shard_sink` returns ``(rows, shards)``: the sum of the
  encoders' ``n`` and the number of shards committed.

Targets a POSIX-visible directory; an object-store deployment would swap
``open``/``os.rename`` for an fsspec or Hadoop-FS stream and committer,
with every encoder unchanged.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable, Iterator
from typing import BinaryIO

from pyspark.sql import DataFrame

__all__ = ["shard_sink", "prepare_shard_dir", "write_shard"]


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
