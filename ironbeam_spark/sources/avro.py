"""Dependency-free Avro Object Container File source/sink.

Reference parity target: ``read_avro`` / ``write_avro``
(``/root/reference/src/helpers/avro.rs:109-289``).  The sandbox ships no
spark-avro connector jar, so — exactly like the msgpack source
(``sources/msgpack.py``) — the format is implemented from the PUBLIC Avro
1.11 specification (binary encoding + Object Container File framing):

- zigzag varint ints/longs, IEEE little-endian float/double,
  length-prefixed string/bytes, 1-byte boolean, index-prefixed unions,
  block-framed arrays
- OCF: ``Obj\\x01`` magic, metadata map (``avro.schema`` JSON +
  ``avro.codec``), 16-byte sync marker, then blocks of
  ``(record count, byte size, payload, sync)``; ``null`` and ``deflate``
  (raw RFC-1951) codecs both read, ``null`` written

Interop is NOT taken on faith: the test suite round-trips files through the
Avro *Java* reference implementation already on Spark's classpath
(``avro-1.12.1.jar``, driven over py4j) in both directions.

Scale shape mirrors msgpack: one self-contained ``part-NNNNN.avro`` OCF
per partition, written and read through the shared shard protocol
(:mod:`ironbeam_spark.sources.shards`); schema inference reads the first
shard's header alone.  A deployment with the spark-avro jar can flip to
the native reader without changing call sites (``sources/io.read_avro``
tries the jar first).
"""

from __future__ import annotations

import io
import json
import struct
import zlib
from collections.abc import Iterator
from datetime import timezone
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructType,
    TimestampType,
)

MAGIC = b"Obj\x01"

# ---------------------------------------------------------------- primitives


def zigzag_encode(n: int) -> bytes:
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def zigzag_decode(buf: memoryview, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    while True:
        if pos >= len(buf):
            raise _Truncated(f"avro: truncated varint at byte {pos}")
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos


# ------------------------------------------------------------ schema mapping

_PRIMITIVE: dict[type, str] = {
    BooleanType: "boolean",
    IntegerType: "int",
    LongType: "long",
    FloatType: "float",
    DoubleType: "double",
    StringType: "string",
    BinaryType: "bytes",
}


def _avro_type(dt: DataType) -> Any:
    if type(dt) in _PRIMITIVE:
        return _PRIMITIVE[type(dt)]
    if isinstance(dt, TimestampType):
        return {"type": "long", "logicalType": "timestamp-micros"}
    if isinstance(dt, ArrayType):
        return {"type": "array", "items": ["null", _avro_type(dt.elementType)]}
    raise NotImplementedError(f"avro codec does not support Spark type {dt.simpleString()}")


def avro_schema_of(schema: StructType, name: str = "spark_record") -> dict:
    """Avro record schema for a Spark struct; every field nullable
    (``["null", T]``), matching spark-avro's own mapping."""
    return {
        "type": "record",
        "name": name,
        "fields": [
            {"name": f.name, "type": ["null", _avro_type(f.dataType)], "default": None}
            for f in schema.fields
        ],
    }


# ------------------------------------------------------------------ encoding


def _enc_value(out: io.BytesIO, v: Any, atype: Any) -> None:
    if isinstance(atype, list):  # union — index 0 is always "null" here
        if v is None:
            out.write(zigzag_encode(0))
            return
        out.write(zigzag_encode(1))
        _enc_value(out, v, atype[1])
        return
    if isinstance(atype, dict):
        t = atype["type"]
        if t == "array":
            items = atype["items"]
            seq = list(v)
            if seq:
                out.write(zigzag_encode(len(seq)))
                for x in seq:
                    _enc_value(out, x, items)
            out.write(zigzag_encode(0))
            return
        atype = t  # logical types encode as their base primitive
    if atype == "long" or atype == "int":
        out.write(zigzag_encode(int(v)))
    elif atype == "double":
        out.write(struct.pack("<d", float(v)))
    elif atype == "float":
        out.write(struct.pack("<f", float(v)))
    elif atype == "string":
        b = str(v).encode("utf-8")
        out.write(zigzag_encode(len(b)))
        out.write(b)
    elif atype == "bytes":
        b = bytes(v)
        out.write(zigzag_encode(len(b)))
        out.write(b)
    elif atype == "boolean":
        out.write(b"\x01" if v else b"\x00")
    elif atype == "null":
        pass
    else:
        raise NotImplementedError(f"avro encode: unsupported type {atype!r}")


def write_ocf(
    fh: io.BufferedIOBase,
    rows: list[list[Any]],
    schema_json: dict,
    sync: bytes,
    codec: str = "null",
    block_rows: int = 4096,
) -> None:
    """Serialize ``rows`` (positional, matching ``schema_json['fields']``)
    as one Object Container File."""
    assert len(sync) == 16
    field_types = [f["type"] for f in schema_json["fields"]]
    fh.write(MAGIC)
    meta = {
        "avro.schema": json.dumps(schema_json).encode(),
        "avro.codec": codec.encode(),
    }
    fh.write(zigzag_encode(len(meta)))
    for k, v in meta.items():
        kb = k.encode()
        fh.write(zigzag_encode(len(kb)))
        fh.write(kb)
        fh.write(zigzag_encode(len(v)))
        fh.write(v)
    fh.write(zigzag_encode(0))
    fh.write(sync)
    for start in range(0, len(rows), block_rows):
        chunk = rows[start : start + block_rows]
        buf = io.BytesIO()
        for row in chunk:
            for v, t in zip(row, field_types):
                _enc_value(buf, v, t)
        payload = buf.getvalue()
        if codec == "deflate":
            payload = zlib.compress(payload)[2:-4]  # raw RFC-1951
        fh.write(zigzag_encode(len(chunk)))
        fh.write(zigzag_encode(len(payload)))
        fh.write(payload)
        fh.write(sync)


# ------------------------------------------------------------------ decoding


class _Truncated(ValueError):
    pass


def _take(buf: memoryview, pos: int, n: int) -> tuple[memoryview, int]:
    """``buf[pos:pos + n]`` and the position after it; a short read is a
    truncated file, never a silently shorter value."""
    if n < 0 or pos + n > len(buf):
        raise _Truncated(f"avro: truncated at byte {pos} (wanted {n} bytes)")
    return buf[pos : pos + n], pos + n


def _dec_value(buf: memoryview, pos: int, atype: Any) -> tuple[Any, int]:
    if isinstance(atype, list):  # union
        idx, pos = zigzag_decode(buf, pos)
        return _dec_value(buf, pos, atype[idx])
    if isinstance(atype, dict):
        t = atype["type"]
        if t == "array":
            items = atype["items"]
            out = []
            while True:
                count, pos = zigzag_decode(buf, pos)
                if count == 0:
                    return out, pos
                if count < 0:  # spec: negative count precedes a byte size
                    count = -count
                    _, pos = zigzag_decode(buf, pos)
                for _ in range(count):
                    v, pos = _dec_value(buf, pos, items)
                    out.append(v)
        atype = t
    if atype in ("long", "int"):
        return zigzag_decode(buf, pos)
    if atype == "double":
        b, pos = _take(buf, pos, 8)
        return struct.unpack("<d", b)[0], pos
    if atype == "float":
        b, pos = _take(buf, pos, 4)
        return struct.unpack("<f", b)[0], pos
    if atype == "string":
        n, pos = zigzag_decode(buf, pos)
        b, pos = _take(buf, pos, n)
        return str(b, "utf-8"), pos
    if atype == "bytes":
        n, pos = zigzag_decode(buf, pos)
        b, pos = _take(buf, pos, n)
        return bytes(b), pos
    if atype == "boolean":
        b, pos = _take(buf, pos, 1)
        return b[0] == 1, pos
    if atype == "null":
        return None, pos
    raise NotImplementedError(f"avro decode: unsupported type {atype!r}")


def read_ocf(data: bytes) -> tuple[dict, Iterator[dict[str, Any]]]:
    """Parse one OCF; returns (schema_json, record-dict iterator).  The
    embedded writer schema is the source of truth for decode.  A file cut
    anywhere but at a block boundary raises ``ValueError``."""
    if data[:4] != MAGIC:
        raise ValueError("not an Avro Object Container File (bad magic)")
    buf = memoryview(data)
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        count, pos = zigzag_decode(buf, pos)
        if count == 0:
            break
        if count < 0:
            count = -count
            _, pos = zigzag_decode(buf, pos)
        for _ in range(count):
            n, pos = zigzag_decode(buf, pos)
            k, pos = _take(buf, pos, n)
            n, pos = zigzag_decode(buf, pos)
            v, pos = _take(buf, pos, n)
            meta[str(k, "utf-8")] = bytes(v)
    schema_json = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise NotImplementedError(f"avro codec {codec!r} not supported")
    sync, pos = _take(buf, pos, 16)
    names = [f["name"] for f in schema_json["fields"]]
    types = [f["type"] for f in schema_json["fields"]]

    def records() -> Iterator[dict[str, Any]]:
        p = pos
        while p < len(buf):
            n_rec, p = zigzag_decode(buf, p)
            n_bytes, p = zigzag_decode(buf, p)
            payload, p = _take(buf, p, n_bytes)
            marker, p = _take(buf, p, 16)
            if marker != sync:
                raise ValueError("avro block sync marker mismatch (corrupt file)")
            if codec == "deflate":
                payload = zlib.decompress(payload, wbits=-15)
            view = memoryview(payload)
            q = 0
            for _ in range(n_rec):
                rec = {}
                for name, t in zip(names, types):
                    rec[name], q = _dec_value(view, q, t)
                yield rec

    return schema_json, records()


# --------------------------------------------------------- Spark integration


def write_avro_py(df: Any, path: str, mode: str = "overwrite") -> int:
    """Partition-parallel Avro sink: one self-contained OCF shard per
    non-empty partition (``part-NNNNN.avro``) through the shared shard
    protocol (:mod:`ironbeam_spark.sources.shards`: mode semantics,
    atomic commit).  Returns rows written."""
    from ironbeam_spark.collection import PCollection
    from ironbeam_spark.sources.shards import shard_sink

    d = df.df if isinstance(df, PCollection) else df
    schema_json = avro_schema_of(d.schema)
    ts_cols = {f.name for f in d.schema.fields if isinstance(f.dataType, TimestampType)}
    names = d.columns

    def encode(batches: Iterator, fh) -> int:
        import hashlib

        import pyarrow as pa
        from pyspark import TaskContext

        rows: list[list[Any]] = []
        for batch in batches:
            for rec in batch.to_pylist():
                row = []
                for c in names:
                    v = rec[c]
                    if c in ts_cols and v is not None:
                        # datetime → ABSOLUTE epoch micros (avro
                        # timestamp-micros is UTC-instant by spec): tz-aware
                        # values (Arrow carries the session tz) convert via
                        # UTC; naive values are assumed already-UTC
                        if v.tzinfo is not None:
                            v = v.astimezone(timezone.utc).replace(tzinfo=None)
                        ts = pa.scalar(v, type=pa.timestamp("us")).cast(pa.int64())
                        v = ts.as_py()
                    row.append(v)
                rows.append(row)
        # deterministic sync marker (any 16 bytes are spec-legal)
        pid = TaskContext.get().partitionId()
        sync = hashlib.md5(f"{path}:{pid}".encode()).digest()
        write_ocf(fh, rows, schema_json, sync)
        return len(rows)

    return shard_sink(d, path, "avro", mode, encode)[0]


def _decode_shard(_name: str, blob: bytes) -> Iterator:
    import pyarrow as pa

    # timestamps stay epoch micros: the shard source casts them to UTC
    # instants, so they round-trip under any session timezone
    yield pa.RecordBatch.from_pylist(list(read_ocf(blob)[1]))


def _header_schema(local_path: str) -> StructType:
    """One local OCF's Spark schema, read from its header alone."""
    with open(local_path, "rb") as fh:
        head = chunk = fh.read(1 << 16)
        while True:
            try:
                return _spark_schema_of(read_ocf(head)[0])
            except _Truncated:
                if not chunk:
                    raise
                chunk = fh.read(1 << 16)
                head += chunk


def read_avro_py(spark: SparkSession, path: str, schema: StructType | str | None = None) -> DataFrame:
    """Read Avro OCF file(s) (glob ok) through the shared shard source, one
    Arrow batch per file decoded by its embedded writer schema; pass
    ``schema`` to project/order columns (required for an empty directory)."""
    from ironbeam_spark.sources.shards import shard_source

    return shard_source(spark, path, "avro", _decode_shard, schema or _header_schema)


_FROM_AVRO: dict[str, DataType] = {a: t() for t, a in _PRIMITIVE.items()}


def _spark_type_of(atype: Any) -> DataType:
    if isinstance(atype, list):
        non_null = [t for t in atype if t != "null"]
        return _spark_type_of(non_null[0])
    if isinstance(atype, dict):
        if atype.get("logicalType", "").startswith("timestamp"):
            return TimestampType()
        if atype["type"] == "array":
            return ArrayType(_spark_type_of(atype["items"]))
        return _spark_type_of(atype["type"])
    return _FROM_AVRO[atype]


def _spark_schema_of(schema_json: dict) -> StructType:
    from pyspark.sql.types import StructField

    return StructType(
        [StructField(f["name"], _spark_type_of(f["type"]), True) for f in schema_json["fields"]]
    )
