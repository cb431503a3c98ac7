"""Per-file Bloom-filter skipping index for parquet datasets.

The point-lookup complement of the min/max footer pruning in
``sources/layout.py``: range stats skip files for RANGE predicates on
sorted layouts, but an equality probe on an unsorted high-cardinality
column (``doc_id = X``, ``url = ...``) matches every file's [min, max]
and prunes nothing.  A small Bloom filter per file answers "might this
file contain value v?" with no false negatives — the reader consults the
sidecar and reads only the candidate files.  (The data-skipping design of
modern table formats — public; Spark's own parquet bloom writer exists
but its sidecar-less filters aren't consultable for FILE pruning from the
planner, which is the operation that matters at 100 TB: skipping whole
objects, not row groups.)

Index build is DISTRIBUTED: one pass with ``input_file_name()`` +
``mapInArrow`` builds each file's bit array from the rows of that file
(md5 double-hashing over Arrow batches), then per-file fragments OR together
in a tiny driver-side reduce (``n_files × m/8`` bytes — metadata-sized,
the same class as a file listing).  The sidecar is a plain JSON file next
to the data: engine-neutral, versioned, hash-scheme-pinned.

Bloom math: ``k`` hashes via the Kirsch-Mitzenmacher double-hash
``h1 + i*h2`` over the md5 of the value's canonical string form (same
cross-engine casting contract as ``operators/fingerprint``).  False
positives cost a wasted file read; false negatives cannot happen, which
the property test pins.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["build_bloom_index", "prune_files", "bloom_contains"]

_VERSION = 1


def _hashes(value: str, m_bits: int, k: int) -> list[int]:
    d = hashlib.md5(value.encode()).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:], "big") | 1  # odd: full-period stepping
    return [(h1 + i * h2) % m_bits for i in range(k)]


def _canon(v) -> str:
    # probe-side canonical form, matching the BUILD side's Spark
    # cast-to-string (operators/fingerprint._canon): ints/strings/dates as
    # their plain string form, bools lowercase; timestamps probe as epoch
    # MICROS ints.  Floats/binary are rejected at build time (same
    # contract as fingerprint — float formatting is not cross-engine
    # stable), so they can never be probed.
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _relkey(file_uri: str, root: str) -> str:
    # input_file_name() yields a file: URI; key the sidecar by the path
    # RELATIVE to the dataset root — basename alone collides across
    # hive-partition directories (dt=1/part-0000 vs dt=2/part-0000), and a
    # dict keyed on basenames would silently OR two files' blooms together
    from urllib.parse import unquote, urlparse

    p = urlparse(file_uri)
    path = unquote(p.path) if p.scheme else file_uri
    return os.path.relpath(path, os.path.abspath(root))


def build_bloom_index(
    df_path: str,
    spark,
    column: str,
    m_bits: int = 1 << 16,
    k: int = 5,
) -> str:
    """Build ``<path>/_bloom_<column>.json`` from the parquet files at
    ``df_path``; returns the sidecar path."""
    raw = spark.read.parquet(df_path)
    # canonicalize to STRING on the JVM side (fingerprint's cross-engine
    # cast contract; rejects floats/binary), so the build hashes exactly
    # the string the probe's _canon forms — any other spelling of 777
    # would be a false NEGATIVE, the one failure the format forbids
    from ironbeam_spark.operators.fingerprint import _canon as _canon_expr

    df = raw.select(
        F.input_file_name().alias("_file"),
        _canon_expr(raw, column).alias("_v"),
    )

    def per_batch(batches):
        import pyarrow as pa

        acc: dict[str, bytearray] = {}
        for rb in batches:
            for fname, v in zip(rb.column(0).to_pylist(), rb.column(1).to_pylist()):
                if v is None:
                    continue
                bits = acc.setdefault(fname, bytearray(m_bits // 8))
                for h in _hashes(v, m_bits, k):
                    bits[h >> 3] |= 1 << (h & 7)
        yield pa.RecordBatch.from_arrays(
            [pa.array(list(acc), pa.string()),
             pa.array([bytes(b) for b in acc.values()], pa.binary())],
            names=["file", "bits"],
        )

    frags = df.mapInArrow(per_batch, "file string, bits binary").collect()
    merged: dict[str, bytearray] = {}
    for r in frags:  # tiny: n_files x (m/8) bytes of metadata
        b = merged.setdefault(r["file"], bytearray(m_bits // 8))
        for i, byte in enumerate(r["bits"]):
            b[i] |= byte
    sidecar = {
        "version": _VERSION,
        "column": column,
        "m_bits": m_bits,
        "k": k,
        "hash": "md5-km-doublehash",
        "files": {
            _relkey(f, df_path): bytes(b).hex() for f, b in merged.items()
        },
    }
    out = os.path.join(df_path, f"_bloom_{column}.json")
    tmp = out + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(sidecar, fh)
    os.rename(tmp, out)
    return out


def bloom_contains(bits_hex: str, value, m_bits: int, k: int) -> bool:
    bits = bytes.fromhex(bits_hex)
    for h in _hashes(_canon(value), m_bits, k):
        if not bits[h >> 3] & (1 << (h & 7)):
            return False
    return True


def prune_files(df_path: str, column: str, value) -> list[str]:
    """Files under ``df_path`` that MIGHT contain ``value`` (no false
    negatives).  Read the result with ``spark.read.parquet(*files)``.

    Data files NOT present in the sidecar — appended after the index was
    built — are included unconditionally: a stale sidecar degrades to
    less pruning, never to silently missing rows."""
    with open(os.path.join(df_path, f"_bloom_{column}.json")) as fh:
        side = json.load(fh)
    if side["version"] != _VERSION or side["column"] != column:
        raise ValueError("bloom sidecar mismatch")
    m_bits, k = side["m_bits"], side["k"]
    root = os.path.abspath(df_path)
    on_disk = set()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        for f in filenames:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                on_disk.add(os.path.relpath(os.path.join(dirpath, f), root))
    known = set(side["files"])
    keep = sorted(on_disk - known) + [
        f
        for f, bits in sorted(side["files"].items())
        if f in on_disk and bloom_contains(bits, value, m_bits, k)
    ]
    return [os.path.join(root, f) for f in sorted(keep)]
