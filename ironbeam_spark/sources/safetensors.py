"""safetensors source/sink for embedding matrices — the tensor-interchange
format of the ML ecosystem (public spec: https://github.com/huggingface/
safetensors — 8-byte little-endian header length, UTF-8 JSON header mapping
tensor name → {dtype, shape, data_offsets}, then one contiguous C-order
little-endian data region; offsets relative to the data region).

No reference counterpart (the reference's format list stops at
csv/jsonl/parquet/avro/msgpack, ``src/helpers/mod.rs``); north-star sources
work alongside ``sources/arrow_ipc.py``: where Arrow IPC carries TABLES to
dataloaders, safetensors carries TENSORS — an embedding matrix exported
here loads in PyTorch/HF with ``safetensors.torch.load_file`` and zero
copies (the format exists precisely to be mmap-safe: no pickle, bounded
header, data region addressed by offsets).

Spark-first shape, the shared shard protocol of
:mod:`ironbeam_spark.sources.shards`: ONE self-contained
``part-NNNNN.safetensors`` per non-empty partition, each holding two
tensors — ``ids`` int64 ``[n]`` and ``embeddings`` float32/float64
``[n, d]`` — read back the same way.  Both directions are embarrassingly
parallel with zero shuffle; the per-row work is one numpy buffer copy
(Arrow list column → C-order matrix), never Python-object rows.

The codec is dependency-free on purpose (the ``safetensors`` package is not
in this container): the spec is ~30 lines of struct/json, and the tests
validate byte-level interop against an independent reference
implementation of the published layout plus header-hygiene checks
(contiguous offsets, exact trailing length — a malformed region raises
ValueError, the dead-letter-able error class, never a numpy crash).
"""

from __future__ import annotations

import json
import struct
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession

__all__ = ["read_safetensors_py", "write_safetensors_py"]

_DTYPES = {"float32": ("F32", 4), "float64": ("F64", 8)}
_HEADER_BUDGET = 100_000_000  # spec recommends bounding the header read


def _pack_file(ids, emb) -> bytes:
    """Serialize one shard per the published layout (ids int64 [n],
    embeddings [n, d]); header JSON is minified like the reference
    writer's output."""
    import numpy as np

    ids_b = np.ascontiguousarray(ids, dtype="<i8").tobytes()
    emb_b = np.ascontiguousarray(emb).tobytes()
    st_dtype = {"<f4": "F32", "<f8": "F64"}[emb.dtype.str]
    header = {
        "ids": {
            "dtype": "I64",
            "shape": [len(ids)],
            "data_offsets": [0, len(ids_b)],
        },
        "embeddings": {
            "dtype": st_dtype,
            "shape": list(emb.shape),
            "data_offsets": [len(ids_b), len(ids_b) + len(emb_b)],
        },
    }
    hj = json.dumps(header, separators=(",", ":")).encode("utf-8")
    return struct.pack("<Q", len(hj)) + hj + ids_b + emb_b


def _unpack_file(blob: bytes) -> tuple[dict, memoryview]:
    """Parse header + return (header dict, data region).  Malformed input
    raises ValueError (the error class the dead-letter wrappers catch)."""
    if len(blob) < 8:
        raise ValueError("safetensors: truncated (no header length)")
    (hlen,) = struct.unpack_from("<Q", blob, 0)
    if hlen > _HEADER_BUDGET or 8 + hlen > len(blob):
        raise ValueError(f"safetensors: header length {hlen} out of bounds")
    try:
        header = json.loads(blob[8 : 8 + hlen].decode("utf-8"))
    except (UnicodeDecodeError, json.JSONDecodeError) as e:
        raise ValueError(f"safetensors: bad header JSON: {e}") from None
    return header, memoryview(blob)[8 + hlen :]


def _tensor(header: dict, data: memoryview, name: str, want_dtype: str):
    import numpy as np

    np_dtypes = {"I64": "<i8", "F32": "<f4", "F64": "<f8"}
    if name not in header:
        raise ValueError(f"safetensors: missing tensor {name!r}")
    t = header[name]
    if t.get("dtype") != want_dtype:
        raise ValueError(
            f"safetensors: {name!r} dtype {t.get('dtype')!r} != {want_dtype!r}"
        )
    lo, hi = t["data_offsets"]
    shape = t["shape"]
    itemsize = int(np_dtypes[want_dtype][-1])
    n_elem = 1
    for s in shape:
        n_elem *= int(s)
    if not (0 <= lo <= hi <= len(data)) or hi - lo != n_elem * itemsize:
        raise ValueError(f"safetensors: {name!r} offsets {lo, hi} inconsistent")
    return np.frombuffer(data[lo:hi], dtype=np_dtypes[want_dtype]).reshape(shape)


def write_safetensors_py(
    df: Any,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
    dtype: str = "float32",
) -> int:
    """Partition-parallel safetensors sink: one shard per non-empty
    partition with tensors ``ids`` (int64) and ``embeddings`` ([n, d],
    ``dtype``).  Returns rows written.  Every vector in a shard must share
    one dimension and contain no nulls — a tensor has no ragged rows, so
    violations FAIL the task (ValueError) rather than writing silently
    corrupt shards.  Mode semantics and the atomic commit are the shared
    shard protocol of :mod:`ironbeam_spark.sources.shards`."""
    from pyspark.sql import functions as F

    from ironbeam_spark.collection import PCollection
    from ironbeam_spark.sources.shards import shard_sink

    if dtype not in _DTYPES:
        raise ValueError(f"dtype must be one of {sorted(_DTYPES)}, got {dtype!r}")
    d = df.df if isinstance(df, PCollection) else df
    d = d.select(
        F.col(id_col).cast("long").alias("_id"), F.col(vec_col).alias("_vec")
    )
    np_dtype = "<f4" if dtype == "float32" else "<f8"

    def encode(batches: Iterator, fh) -> int:
        import numpy as np

        ids_parts, emb_parts, dim = [], [], None
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0)
            vecs = batch.column(1)
            if ids.null_count or vecs.null_count:
                raise ValueError("safetensors: null id or vector")
            flat = vecs.flatten()
            if flat.null_count:
                raise ValueError("safetensors: null element inside a vector")
            offs = vecs.offsets.to_numpy(zero_copy_only=False)
            widths = np.diff(offs)
            if dim is None:
                if len(widths) == 0:
                    continue
                dim = int(widths[0])
            if not (widths == dim).all():
                raise ValueError(
                    f"safetensors: ragged vectors (expected dim {dim}, "
                    f"got {sorted(set(widths.tolist()))})"
                )
            ids_parts.append(ids.to_numpy(zero_copy_only=False).astype("<i8"))
            emb_parts.append(
                flat.to_numpy(zero_copy_only=False)
                .astype(np_dtype)
                .reshape(-1, dim)
            )
        if not ids_parts:
            return 0
        ids_all = np.concatenate(ids_parts)
        fh.write(_pack_file(ids_all, np.concatenate(emb_parts)))
        return len(ids_all)

    return shard_sink(d, path, "safetensors", mode, encode)[0]


def read_safetensors_py(
    spark: SparkSession,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dtype: str = "float32",
) -> DataFrame:
    """Read safetensors shard(s) (glob ok) into ``(id_col long, vec_col
    array<float|double>)`` rows through the shared shard source: one Arrow
    batch per shard (one numpy→Arrow copy, no Python rows)."""
    from ironbeam_spark.sources.shards import shard_source

    if dtype not in _DTYPES:
        raise ValueError(f"dtype must be one of {sorted(_DTYPES)}, got {dtype!r}")
    st_dtype = _DTYPES[dtype][0]

    def decode(_name: str, blob: bytes) -> Iterator:
        import pyarrow as pa

        header, data = _unpack_file(blob)
        ids = _tensor(header, data, "ids", "I64")
        emb = _tensor(header, data, "embeddings", st_dtype)
        if emb.ndim != 2 or len(emb) != len(ids):
            raise ValueError(f"safetensors: embeddings shape {emb.shape} for {len(ids)} ids")
        # fixed-size rows; the shard source casts them to the list column
        vecs = pa.FixedSizeListArray.from_arrays(emb.reshape(-1), emb.shape[1])
        yield pa.RecordBatch.from_arrays([pa.array(ids), vecs], names=[id_col, vec_col])

    spark_schema = f"{id_col} long, {vec_col} array<{'float' if dtype == 'float32' else 'double'}>"
    return shard_source(spark, path, "safetensors", decode, spark_schema)
