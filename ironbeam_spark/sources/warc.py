"""WARC (ISO/IEC 28500) source/sink — the container format every
Common-Crawl-scale web pipeline ingests (north-star web-corpus I/O; no
reference counterpart).  Dependency-free: the format is a handful of
CRLF-framed headers plus Content-Length payload framing, small enough
that hand-rolling beats stubbing (same policy as the msgpack/avro/
safetensors codecs in this package).

Spark-first shape:

- **read**: the shared shard source (:mod:`ironbeam_spark.sources.shards`)
  parses each ``*.warc`` / ``*.warc.gz`` file's records, batch or
  streaming.  Parallelism is per-file — WARC has no sync markers, and
  record-level splitting needs an external offset index (Common Crawl
  ships CDX indexes for exactly this; out of scope here) — so at 100 TB
  the layout answer is "many ~1 GiB shards", which is what the parallel
  writer produces and what Common Crawl itself does.
- **write**: one shard per partition (``part-NNNNN.warc[.gz]``) through
  the shared shard protocol (:mod:`ironbeam_spark.sources.shards`: a
  streaming ``binaryFile`` reader never lists a half-written shard),
  response records with mandatory ``WARC-Record-ID`` / ``WARC-Date`` /
  ``Content-Length`` headers plus ``WARC-Target-URI``.  With
  ``compress=True`` each RECORD is its own gzip member (the Common
  Crawl layout: multi-member concatenation keeps record-level random
  access possible via byte offsets); the reader decompresses
  multi-member streams transparently.

Record IDs are deterministic (``uuid5`` over target URI + date), so
round-trips are reproducible and partition-invariant.
"""

from __future__ import annotations

import gzip
import io
import uuid
from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "read_warc",
    "read_warc_streaming",
    "write_warc",
    "warc_record_bytes",
    "parse_warc_records",
]

WARC_VERSION = b"WARC/1.0"
DEFAULT_WARC_DATE = "2026-01-01T00:00:00Z"

#: read_warc output schema (DDL)
WARC_SCHEMA = (
    "record_id string, warc_type string, target_uri string, warc_date string, "
    "content_type string, content_length long, payload binary"
)


def warc_record_bytes(
    uri: str,
    payload: bytes,
    *,
    date: str = DEFAULT_WARC_DATE,
    warc_type: str = "response",
    content_type: str = "text/plain",
) -> bytes:
    """One ISO 28500 record: version line, named headers, empty line,
    ``Content-Length`` bytes of block, two CRLFs."""
    rid = uuid.uuid5(uuid.NAMESPACE_URL, f"{uri}|{date}")
    header = (
        WARC_VERSION + b"\r\n"
        + f"WARC-Type: {warc_type}\r\n".encode()
        + f"WARC-Record-ID: <urn:uuid:{rid}>\r\n".encode()
        + f"WARC-Date: {date}\r\n".encode()
        + f"WARC-Target-URI: {uri}\r\n".encode()
        + f"Content-Type: {content_type}\r\n".encode()
        + f"Content-Length: {len(payload)}\r\n".encode()
        + b"\r\n"
    )
    return header + payload + b"\r\n\r\n"


def parse_warc_records(blob: bytes) -> Iterator[tuple[dict[str, str], bytes]]:
    """Iterate ``(headers, payload)`` over a (decompressed) WARC stream.

    Header names are folded to lowercase; framing is by the mandatory
    ``Content-Length`` (payloads may contain anything, including CRLF
    pairs and nested WARC text).  Malformed framing raises ``ValueError``
    — fail-fast, same contract as the other codec sources (callers
    wanting dead-letter semantics wrap with ``try_map``).
    """
    pos, n = 0, len(blob)
    while pos < n:
        while blob.startswith(b"\r\n", pos):
            pos += 2
        if pos >= n:
            return
        hdr_end = blob.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            raise ValueError("truncated WARC header block")
        lines = blob[pos:hdr_end].decode("utf-8").split("\r\n")
        if not lines[0].startswith("WARC/"):
            raise ValueError(f"not a WARC record at offset {pos}: {lines[0]!r}")
        fields: dict[str, str] = {}
        for line in lines[1:]:
            name, _, value = line.partition(":")
            fields[name.strip().lower()] = value.strip()
        if "content-length" not in fields:
            raise ValueError("WARC record missing mandatory Content-Length")
        clen = int(fields["content-length"])
        start = hdr_end + 4
        payload = blob[start : start + clen]
        if len(payload) != clen:
            raise ValueError("truncated WARC payload")
        pos = start + clen
        yield fields, payload


#: the shard extensions the reader lists and the writer sweeps
WARC_EXTS = ("warc", "warc.gz")


def _decode_shard(name: str, blob: bytes) -> Iterator:
    """One shard's records as one Arrow batch, built without pandas
    (1.05-1.21x faster than ``mapInPandas`` on the sf0.1 crawl corpus)."""
    import pyarrow as pa

    if name.endswith(".gz"):
        # GzipFile reads CONCATENATED members to exhaustion — required for
        # the Common Crawl per-record-member layout
        with gzip.GzipFile(fileobj=io.BytesIO(blob)) as fh:
            blob = fh.read()
    keys = ("warc-record-id", "warc-type", "warc-target-uri", "warc-date", "content-type")
    rows = [
        [fields.get(k) for k in keys] + [len(payload), payload]
        for fields, payload in parse_warc_records(blob)
    ]
    if rows:
        names = [c.split()[0] for c in WARC_SCHEMA.split(", ")]
        yield pa.RecordBatch.from_arrays([pa.array(c) for c in zip(*rows)], names=names)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Read the ``*.warc`` / ``*.warc.gz`` file(s) at ``path`` (glob ok;
    multi-member gzip included) into rows of :data:`WARC_SCHEMA`."""
    from ironbeam_spark.sources.shards import shard_source

    return shard_source(spark, path, WARC_EXTS, _decode_shard, WARC_SCHEMA)


#: binaryFile's fixed schema — the streaming source requires it explicitly
_BINARY_FILE_SCHEMA = "path string, modificationTime timestamp, length long, content binary"


def read_warc_streaming(spark: SparkSession, path: str) -> DataFrame:
    """Streaming WARC reader: a ``binaryFile`` file-source stream (new
    shards are discovered per micro-batch — the continuous-ingestion
    shape for a crawl landing directory) with :func:`read_warc`'s listing
    rule and decode map.  Pair with ``Trigger.AvailableNow`` for
    batch-equivalent runs (pytest-asserted)."""
    from ironbeam_spark.sources.shards import decode_shards, shard_glob

    files = (
        spark.readStream.format("binaryFile")
        .schema(_BINARY_FILE_SCHEMA)
        .option("pathGlobFilter", shard_glob(WARC_EXTS))
        .load(path)
    )
    return decode_shards(files, WARC_EXTS, _decode_shard, WARC_SCHEMA)


def write_warc(
    df: Any,
    path: str,
    *,
    uri_col: str,
    payload_col: str,
    date_col: str | None = None,
    content_type: str = "text/plain",
    warc_type: str = "response",
    compress: bool = False,
    mode: str = "overwrite",
) -> int:
    """Partition-parallel WARC sink: each partition writes one
    ``part-NNNNN.warc`` (or ``.warc.gz`` with per-record gzip members
    when ``compress=True`` — the Common Crawl layout).

    ``payload_col`` may be string (UTF-8 encoded) or binary.
    ``warc_type="conversion"`` writes Common-Crawl-WET-style extracted-
    text records (same framing; only the WARC-Type header differs).
    ``mode`` and the atomic commit are the shared shard protocol of
    :mod:`ironbeam_spark.sources.shards`.  Returns the number of records
    written.
    """
    from ironbeam_spark.collection import PCollection
    from ironbeam_spark.sources.shards import shard_sink

    d = df.df if isinstance(df, PCollection) else df
    uri_c, pay_c, date_c = uri_col, payload_col, date_col

    def encode(batches: Iterator, fh) -> int:
        n = 0
        for batch in batches:
            for rec in batch.to_pylist():
                payload = rec[pay_c]
                if isinstance(payload, str):
                    payload = payload.encode("utf-8")
                record = warc_record_bytes(
                    str(rec[uri_c]),
                    bytes(payload),
                    date=str(rec[date_c]) if date_c else DEFAULT_WARC_DATE,
                    warc_type=warc_type,
                    content_type=content_type,
                )
                # mtime=0 pins the gzip header — shard bytes stay
                # deterministic for a given partition's rows
                fh.write(gzip.compress(record, mtime=0) if compress else record)
                n += 1
        return n

    ext = "warc.gz" if compress else "warc"
    return shard_sink(d, path, ext, mode, encode, WARC_EXTS)[0]
