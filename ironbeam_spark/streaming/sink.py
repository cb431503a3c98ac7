"""Exactly-once foreachBatch sinks via batch-id idempotence.

Structured Streaming's contract for ``foreachBatch`` is AT-LEAST-once: a
failure between the sink's side effect and the checkpoint commit replays
the same ``batch_id`` with the same data on restart.  Spark's built-in
file sinks dedupe through their own commit log; ANY custom sink (a JDBC
upsert, a vector-store push, this directory sink) must instead make the
side effect idempotent per ``batch_id`` — the production pattern this
module packages (documented Spark semantics; beyond the reference, which
has no streaming sinks at all).

Commit protocol, per batch:

1. already in the manifest? -> replay detected, do nothing (idempotence);
2. write the batch under a hidden temp dir inside the sink;
3. rename the temp dir to ``batch-<id>/`` — one atomic directory rename,
   readers never see partial batches (same hidden-temp discipline as the
   shard sink and the compactor);
4. append the id to the manifest via write-temp + ``os.rename``.

A crash between (3) and (4) replays the batch: step (3) then finds the
final directory already present and re-registers it — the rename target
is removed first, so the worst case is rewriting one batch's files with
identical content, never duplicating rows in the read view.

State on disk is self-describing: ``batch-*/`` directories of parquet +
``_manifest`` of committed ids; read the dataset back with
``spark.read.parquet(*sink.committed_paths())``.  The manifest lists the
committed batch directories, so the read needs no glob: a single glob path
would make Spark probe ``batch-*/_spark_metadata`` for a file-sink log and
log a ``FileNotFoundException`` warning on every read.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame

__all__ = ["IdempotentParquetSink"]


class IdempotentParquetSink:
    """``foreachBatch`` callable with exactly-once directory commits."""

    def __init__(self, path: str) -> None:
        self.path = path
        os.makedirs(path, exist_ok=True)
        # sweep temp debris from crashed attempts: a driver death between
        # the parquet write and the rename orphans an .inflight-* dir (and
        # a manifest .tmp-*), and the replay writes a FRESH uuid — without
        # this, every crash-replay cycle leaks a full batch copy forever.
        # Safe at init: no batch of this sink instance is in flight yet,
        # and concurrent sinks on one path are outside the exactly-once
        # contract (single-query foreachBatch).
        for e in os.scandir(path):
            if e.name.startswith(".inflight-") and e.is_dir():
                shutil.rmtree(e.path, ignore_errors=True)
            elif e.name.startswith("_manifest.tmp-") and e.is_file():
                os.unlink(e.path)

    @property
    def _manifest(self) -> str:
        return os.path.join(self.path, "_manifest")

    def committed_ids(self) -> set[int]:
        try:
            with open(self._manifest) as fh:
                return {int(line) for line in fh if line.strip()}
        except FileNotFoundError:
            return set()

    def _batch_dir(self, batch_id: int) -> str:
        return os.path.join(self.path, f"batch-{batch_id:08d}")

    def committed_paths(self) -> list[str]:
        """The committed batch directories, in batch-id order."""
        return [self._batch_dir(i) for i in sorted(self.committed_ids())]

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in self.committed_ids():
            return  # replayed batch: the side effect already happened
        final = self._batch_dir(batch_id)
        tmp = os.path.join(self.path, f".inflight-{uuid.uuid4().hex}")
        batch_df.write.mode("overwrite").parquet(tmp)
        if os.path.exists(final):
            # crash between rename and manifest append on a previous
            # attempt: replace wholesale, never merge
            shutil.rmtree(final)
        os.rename(tmp, final)
        mtmp = self._manifest + f".tmp-{uuid.uuid4().hex}"
        with open(mtmp, "w") as fh:
            for i in sorted(self.committed_ids() | {batch_id}):
                fh.write(f"{i}\n")
        os.rename(mtmp, self._manifest)
