"""MessagePack source/sink (reference ``src/helpers/msgpack.rs``,
``src/io/msgpack.rs``).

The reference's contract (``src/io/msgpack.rs:17-26``): a msgpack file is a
flat concatenation of self-delimiting values — one per record, no file
header or sync marker — so shard part-files are byte-concatenable exactly
like JSONL, and records are serde structs encoded compactly **as arrays**
(field order), with map-encoded records as the tolerant alternative.

Spark-first shape:

- **read**: the shared shard source (:mod:`ironbeam_spark.sources.shards`)
  lists the ``*.msgpack`` files (glob patterns work natively, mirroring
  ``read_msgpack``'s glob support, ``src/helpers/msgpack.rs:83-95``), then
  one ``mapInArrow`` decodes each file's bytes into an Arrow batch.
  Parallelism is per-file — msgpack has no row-group/byte-offset splits
  (the reference's streaming reader shards by *record count* for the same
  reason, ``src/io/msgpack.rs:57-70``), so at 100 TB the layout answer is
  "many part files", which is exactly what the parallel writer produces.
- **write**: one shard per partition, encoded executor-side and written in
  parallel (reference ``write_msgpack_par``, ``src/helpers/msgpack.rs:254``)
  through the shared shard protocol (:mod:`ironbeam_spark.sources.shards`),
  deterministic ``part-NNNNN.msgpack`` naming by partition id.

The codec itself is a dependency-free implementation of the public
MessagePack spec (https://github.com/msgpack/msgpack/blob/master/spec.md);
the container has no ``msgpack``/``ormsgpack`` wheel, and the format is
small enough that hand-rolling beats stubbing.
"""

from __future__ import annotations

import io
import struct
from collections.abc import Callable, Iterable, Iterator
from typing import Any, BinaryIO

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

__all__ = [
    "packb",
    "pack_into",
    "pack_records",
    "unpackb_stream",
    "record_row",
    "shard_decoder",
    "read_msgpack",
    "write_msgpack",
]


# ── codec: encoder ──────────────────────────────────────────────────────────

def pack_into(buf: BinaryIO, v: Any) -> None:
    """Append one MessagePack value for ``v`` to ``buf`` (spec families:
    nil/bool/int/float64/str/bin/array/map)."""
    w = buf.write
    if v is None:
        w(b"\xc0")
    elif v is True:
        w(b"\xc3")
    elif v is False:
        w(b"\xc2")
    elif isinstance(v, int):
        if 0 <= v <= 0x7F:
            w(struct.pack("B", v))
        elif -32 <= v < 0:
            w(struct.pack("b", v))
        elif 0 < v:
            if v <= 0xFF:
                w(b"\xcc" + struct.pack("B", v))
            elif v <= 0xFFFF:
                w(b"\xcd" + struct.pack(">H", v))
            elif v <= 0xFFFFFFFF:
                w(b"\xce" + struct.pack(">I", v))
            elif v <= 0xFFFFFFFFFFFFFFFF:
                w(b"\xcf" + struct.pack(">Q", v))
            else:
                raise OverflowError(f"int too large for msgpack: {v}")
        else:
            if v >= -0x80:
                w(b"\xd0" + struct.pack("b", v))
            elif v >= -0x8000:
                w(b"\xd1" + struct.pack(">h", v))
            elif v >= -0x80000000:
                w(b"\xd2" + struct.pack(">i", v))
            elif v >= -0x8000000000000000:
                w(b"\xd3" + struct.pack(">q", v))
            else:
                raise OverflowError(f"int too small for msgpack: {v}")
    elif isinstance(v, float):
        w(b"\xcb" + struct.pack(">d", v))
    elif isinstance(v, str):
        b = v.encode("utf-8")
        n = len(b)
        if n < 32:
            w(struct.pack("B", 0xA0 | n))
        elif n <= 0xFF:
            w(b"\xd9" + struct.pack("B", n))
        elif n <= 0xFFFF:
            w(b"\xda" + struct.pack(">H", n))
        else:
            w(b"\xdb" + struct.pack(">I", n))
        w(b)
    elif isinstance(v, (bytes, bytearray)):
        n = len(v)
        if n <= 0xFF:
            w(b"\xc4" + struct.pack("B", n))
        elif n <= 0xFFFF:
            w(b"\xc5" + struct.pack(">H", n))
        else:
            w(b"\xc6" + struct.pack(">I", n))
        w(bytes(v))
    elif isinstance(v, (list, tuple)):
        n = len(v)
        if n < 16:
            w(struct.pack("B", 0x90 | n))
        elif n <= 0xFFFF:
            w(b"\xdc" + struct.pack(">H", n))
        else:
            w(b"\xdd" + struct.pack(">I", n))
        for x in v:
            pack_into(buf, x)
    elif isinstance(v, dict):
        n = len(v)
        if n < 16:
            w(struct.pack("B", 0x80 | n))
        elif n <= 0xFFFF:
            w(b"\xde" + struct.pack(">H", n))
        else:
            w(b"\xdf" + struct.pack(">I", n))
        for k, x in v.items():
            pack_into(buf, k)
            pack_into(buf, x)
    else:
        raise TypeError(f"cannot msgpack-encode {type(v).__name__}")


def packb(v: Any) -> bytes:
    buf = io.BytesIO()
    pack_into(buf, v)
    return buf.getvalue()


# ── codec: decoder ──────────────────────────────────────────────────────────

class _Unpacker:
    """Sequential decoder over one buffer of concatenated values.

    ``int64_strict`` guards the Spark boundary: the codec itself is
    full-range msgpack (uint64 up to 2**64-1 decodes to a Python int), but
    every Spark read path types integer columns as long (int64), so a
    0xCF value above 2**63-1 would otherwise surface only later as an
    opaque Arrow conversion error.  Strict mode raises at the decode site
    with the byte offset instead.
    """

    def __init__(self, data: bytes, *, int64_strict: bool = False):
        self.d = data
        self.pos = 0
        self.int64_strict = int64_strict

    def eof(self) -> bool:
        return self.pos >= len(self.d)

    def _take(self, n: int) -> bytes:
        b = self.d[self.pos : self.pos + n]
        if len(b) != n:
            raise ValueError(
                f"truncated msgpack value at byte {self.pos} (wanted {n} bytes)"
            )
        self.pos += n
        return b

    def unpack(self) -> Any:
        c = self._take(1)[0]
        if c <= 0x7F:  # positive fixint
            return c
        if c >= 0xE0:  # negative fixint
            return c - 0x100
        if 0x80 <= c <= 0x8F:  # fixmap
            return self._map(c & 0x0F)
        if 0x90 <= c <= 0x9F:  # fixarray
            return self._array(c & 0x0F)
        if 0xA0 <= c <= 0xBF:  # fixstr
            return self._take(c & 0x1F).decode("utf-8")
        if c == 0xC0:
            return None
        if c == 0xC2:
            return False
        if c == 0xC3:
            return True
        if c == 0xC4:
            return self._take(self._take(1)[0])
        if c == 0xC5:
            return self._take(struct.unpack(">H", self._take(2))[0])
        if c == 0xC6:
            return self._take(struct.unpack(">I", self._take(4))[0])
        if c == 0xCA:
            return struct.unpack(">f", self._take(4))[0]
        if c == 0xCB:
            return struct.unpack(">d", self._take(8))[0]
        if c == 0xCC:
            return self._take(1)[0]
        if c == 0xCD:
            return struct.unpack(">H", self._take(2))[0]
        if c == 0xCE:
            return struct.unpack(">I", self._take(4))[0]
        if c == 0xCF:
            v = struct.unpack(">Q", self._take(8))[0]
            if self.int64_strict and v > 0x7FFFFFFFFFFFFFFF:
                raise ValueError(
                    f"uint64 value {v} at byte {self.pos - 9} exceeds int64: "
                    "Spark types integer columns as long; decode with "
                    "unpackb_stream(..., int64_strict=False) for codec-level "
                    "access"
                )
            return v
        if c == 0xD0:
            return struct.unpack("b", self._take(1))[0]
        if c == 0xD1:
            return struct.unpack(">h", self._take(2))[0]
        if c == 0xD2:
            return struct.unpack(">i", self._take(4))[0]
        if c == 0xD3:
            return struct.unpack(">q", self._take(8))[0]
        if c == 0xD9:
            return self._take(self._take(1)[0]).decode("utf-8")
        if c == 0xDA:
            return self._take(struct.unpack(">H", self._take(2))[0]).decode("utf-8")
        if c == 0xDB:
            return self._take(struct.unpack(">I", self._take(4))[0]).decode("utf-8")
        if c == 0xDC:
            return self._array(struct.unpack(">H", self._take(2))[0])
        if c == 0xDD:
            return self._array(struct.unpack(">I", self._take(4))[0])
        if c == 0xDE:
            return self._map(struct.unpack(">H", self._take(2))[0])
        if c == 0xDF:
            return self._map(struct.unpack(">I", self._take(4))[0])
        raise ValueError(f"unsupported msgpack marker 0x{c:02x} at byte {self.pos - 1}")

    def _array(self, n: int) -> list:
        return [self.unpack() for _ in range(n)]

    def _map(self, n: int) -> dict:
        return {self.unpack(): self.unpack() for _ in range(n)}


def unpackb_stream(data: bytes, *, int64_strict: bool = False) -> Iterator[Any]:
    """Yield every concatenated value in ``data`` (the reference's
    ``msgpack_read_loop`` clean-EOF contract, ``src/io/msgpack.rs:88-105``:
    stop exactly at a record boundary, raise mid-record).  Spark read paths
    pass ``int64_strict=True`` so out-of-int64 uint64s fail loudly at the
    decode site instead of as a downstream Arrow error."""
    u = _Unpacker(data, int64_strict=int64_strict)
    while not u.eof():
        yield u.unpack()


# ── Spark read/write ────────────────────────────────────────────────────────

def record_row(rec: Any, names: list[str]) -> dict[str, Any]:
    """One record as a row keyed by ``names``: a map by field name (absent
    keys null), an array by position (the reference encoder's default,
    ``src/io/msgpack.rs:25``).  Both msgpack readers use it."""
    if isinstance(rec, dict):
        return {n: rec.get(n) for n in names}
    if isinstance(rec, (list, tuple)):
        if len(rec) != len(names):
            raise ValueError(f"msgpack record arity {len(rec)} != schema arity {len(names)}")
        return dict(zip(names, rec))
    raise ValueError(f"msgpack record must be array or map, got {type(rec).__name__}")


def shard_decoder(schema: StructType | str) -> Callable:
    """One shard's records as one Arrow batch of ``schema``."""
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    target = to_arrow_schema(schema)

    def decode(_name: str, blob: bytes) -> Iterator:
        import pyarrow as pa

        rows = unpackb_stream(blob, int64_strict=True)
        yield pa.RecordBatch.from_pylist([record_row(r, schema.names) for r in rows], target)

    return decode


def read_msgpack(spark: SparkSession, path: str, schema: StructType | str) -> DataFrame:
    """Read msgpack file(s) (glob ok) into a DataFrame with ``schema``
    through the shared shard source, one Arrow batch per file.  Array- and
    map-encoded records are told apart per record, so mixed files decode."""
    from ironbeam_spark.sources.shards import shard_source

    return shard_source(spark, path, "msgpack", shard_decoder(schema), schema)


def pack_records(fh: BinaryIO, records: Iterable[Any]) -> int:
    """Append each record as one msgpack value to ``fh`` (the flat,
    byte-concatenable shard body); returns the record count."""
    n = 0
    for rec in records:
        pack_into(fh, rec)
        n += 1
    return n


def write_msgpack(
    df: Any,
    path: str,
    *,
    as_arrays: bool = True,
    mode: str = "overwrite",
) -> int:
    """Partition-parallel msgpack sink (reference ``write_msgpack_par``,
    ``src/helpers/msgpack.rs:254``): each partition encodes its rows
    executor-side into one byte-concatenable ``part-NNNNN.msgpack``
    through the shared shard protocol (:mod:`ironbeam_spark.sources.shards`:
    DataFrameWriter mode semantics, atomic commit; appended shards make one
    valid dataset with the old ones by byte concatenation).

    Returns the number of rows written.
    """
    from ironbeam_spark.collection import PCollection
    from ironbeam_spark.sources.shards import shard_sink

    d = df.df if isinstance(df, PCollection) else df
    names = d.columns

    def encode(batches: Iterator, fh) -> int:
        return pack_records(
            fh,
            ([rec[c] for c in names] if as_arrays else rec
             for batch in batches for rec in batch.to_pylist()),
        )

    return shard_sink(d, path, "msgpack", mode, encode)[0]
