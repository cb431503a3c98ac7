"""Seeded generator for the benchmark's input tables.

``ensure_inputs(seed, sf, root)`` writes the ten tables the query registry
reads (``region nation customer supplier part orders lineitem events
documents embeddings``) as one parquet file each under ``root`` and returns
the directory.  The schemas, key domains and value distributions follow the
TPC-H-like test corpus the registry's oracles were written against:

- row counts scale with ``sf`` (lineitem = 6M x sf, orders = 1.5M x sf, ...);
  nation and region are fixed, documents and embeddings have a 500-row floor;
- foreign keys draw uniformly from their parent's key range;
- ``events`` are sorted by ``ts`` over January 2024, with ``event_id`` in
  time order; ``ts`` is TIMESTAMP(MICROS), the unit the corpus's
  ``events.parquet`` stores (the engine's ``nanosAsLong`` read leaves it a
  timestamp);
- 5% of ``documents`` are near-duplicates (another document's text plus
  `` dup``), so the dedup operators find pairs.

The same (seed, sf) always gives byte-identical tables.  Another seed draws
other rows of the same sizes and distributions.  A finished directory holds
``meta.json`` (written last) and is reused; only the four most recently
used directories are kept.  Every table is a single file, because the
streaming queries select their source with ``pathGlobFilter``; large tables
get several row groups, so Spark still splits the first scan across cores.
"""

from __future__ import annotations

import datetime as _dt
import json
import shutil
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 1
_KEEP = 4  # generated directories kept, most recently used first

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_DAY_US = 86_400_000_000
_EPOCH = _dt.datetime(1970, 1, 1)


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf``."""
    n = lambda base, floor=1: max(floor, int(round(base * sf)))  # noqa: E731
    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000),
        "supplier": n(10_000),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": n(50_000, 500),
        "embeddings": n(20_000, 500),
    }


def _us(d: _dt.datetime) -> int:
    return (d - _EPOCH) // _dt.timedelta(microseconds=1)


def _days(rng, lo: _dt.datetime, hi: _dt.datetime, n: int) -> pa.Array:
    span = (hi - lo).days
    us = _us(lo) + rng.integers(0, span + 1, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _build(table: str, rng: np.random.Generator, n: dict[str, int]) -> pa.Table:
    i32, i64 = pa.int32(), pa.int64()
    if table == "region":
        return pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS})
    if table == "nation":
        return pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        )
    if table == "customer":
        k = n["customer"]
        return pa.table(
            {
                "c_custkey": pa.array(np.arange(k), i64),
                "c_name": _names("Customer", k),
                "c_nationkey": pa.array(rng.integers(0, 25, k), i32),
                "c_acctbal": _money(rng, -1000, 10000, k),
                "c_mktsegment": _pick(rng, _SEGMENTS, k),
            }
        )
    if table == "supplier":
        k = n["supplier"]
        return pa.table(
            {
                "s_suppkey": pa.array(np.arange(k), i64),
                "s_name": _names("Supplier", k),
                "s_nationkey": pa.array(rng.integers(0, 25, k), i32),
                "s_acctbal": _money(rng, -1000, 10000, k),
            }
        )
    if table == "part":
        k = n["part"]
        names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
        keys = np.arange(k)
        return pa.table(
            {
                "p_partkey": pa.array(keys, i64),
                "p_name": _pick(rng, names, k),
                "p_brand": _pick(rng, [f"Brand#{b}" for b in range(1, 26)], k),
                "p_type": _pick(rng, _PART_TYPES, k),
                "p_size": pa.array(rng.integers(1, 51, k), i32),
                "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
            }
        )
    if table == "orders":
        k = n["orders"]
        return pa.table(
            {
                "o_orderkey": pa.array(np.arange(k), i64),
                "o_custkey": pa.array(rng.integers(0, n["customer"], k), i64),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], k),
                "o_totalprice": _money(rng, 1000, 500000, k),
                "o_orderdate": _days(
                    rng, _dt.datetime(1995, 1, 1), _dt.datetime(2001, 8, 1), k
                ),
                "o_orderpriority": _pick(rng, _PRIORITIES, k),
            }
        )
    if table == "lineitem":
        k = n["lineitem"]
        return pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n["orders"], k), i64),
                "l_partkey": pa.array(rng.integers(0, n["part"], k), i64),
                "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), i64),
                "l_linenumber": pa.array(rng.integers(1, 8, k), i32),
                "l_quantity": rng.integers(1, 51, k).astype(np.float64),
                "l_extendedprice": _money(rng, 900, 105000, k),
                "l_discount": rng.integers(0, 11, k) / 100.0,
                "l_tax": rng.integers(0, 9, k) / 100.0,
                "l_returnflag": _pick(rng, ["A", "N", "R"], k),
                "l_linestatus": _pick(rng, ["F", "O"], k),
                "l_shipdate": _days(
                    rng, _dt.datetime(1995, 1, 2), _dt.datetime(2001, 11, 4), k
                ),
            }
        )
    if table == "events":
        k = n["events"]
        start = _us(_dt.datetime(2024, 1, 1))
        ts = np.sort(start + rng.integers(0, 30 * _DAY_US, k))
        return pa.table(
            {
                "event_id": pa.array(np.arange(k), i64),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array(
                    rng.integers(0, max(1, round(n["customer"] / 10)), k), i64
                ),
                "event_type": _pick(rng, _EVENT_TYPES, k),
                "value": np.round(rng.exponential(50.0, k), 2),
                "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]),
            }
        )
    if table == "documents":
        k = n["documents"]
        lengths = rng.integers(10, 101, k)
        words = rng.integers(0, len(_WORDS), int(lengths.sum()))
        texts, pos = [], 0
        for ln in lengths:
            texts.append(" ".join(_WORDS[w] for w in words[pos : pos + ln]))
            pos += ln
        dup = rng.choice(k, k // 20, replace=False)
        src = rng.integers(0, k, len(dup))
        for d, s in zip(dup, src):
            if s != d:
                texts[d] = texts[s] + " dup"
        return pa.table(
            {
                "doc_id": pa.array(np.arange(k), i64),
                "text": texts,
                "lang": _pick(rng, _LANGS, k, _LANG_P),
                "source": pa.array([f"src{i % 20}" for i in range(k)]),
                "n_chars": pa.array([len(t) for t in texts], i64),
            }
        )
    if table == "embeddings":
        k = n["embeddings"]
        v = rng.standard_normal((k, 64))
        v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
        return pa.table(
            {
                "vec_id": pa.array(np.arange(k), i64),
                "embedding": pa.FixedSizeListArray.from_arrays(v.ravel(), 64).cast(
                    pa.list_(pa.float32())
                ),
                "label": pa.array(rng.integers(0, 10, k), i32),
            }
        )
    raise ValueError(f"unknown table {table!r}")


def _write(tbl: pa.Table, path: Path) -> None:
    # ~8 row groups on the large tables: each becomes its own scan split
    rg = max(16_384, -(-tbl.num_rows // 8))
    pq.write_table(tbl, path, row_group_size=rg, coerce_timestamps="us")


def ensure_inputs(seed: int, sf: float, root: Path) -> Path:
    """Materialize (or reuse) the tables for ``(seed, sf)`` under ``root``."""
    out = root / f"v{GEN_VERSION}_sf{sf:g}_seed{seed}"
    meta_path = out / "meta.json"
    if meta_path.exists():
        meta_path.touch()
    else:
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir(parents=True)
        n = row_counts(sf)
        sizes = {}
        for i, table in enumerate(TABLES):
            tbl = _build(table, np.random.default_rng([seed, GEN_VERSION, i]), n)
            _write(tbl, out / f"{table}.parquet")
            sizes[table] = {
                "rows": tbl.num_rows,
                "bytes": (out / f"{table}.parquet").stat().st_size,
            }
        meta = {"version": GEN_VERSION, "seed": seed, "sf": sf, "tables": sizes}
        meta_path.write_text(json.dumps(meta, indent=1))
    stale = sorted(
        (p for p in root.glob("v*_sf*_seed*") if p != out),
        key=lambda p: (p / "meta.json").stat().st_mtime
        if (p / "meta.json").exists()
        else 0.0,
    )
    for p in stale[: max(0, len(stale) - (_KEEP - 1))]:
        shutil.rmtree(p, ignore_errors=True)
    return out


def input_stats(data_dir: Path, tables: tuple[str, ...] = TABLES) -> tuple[int, int]:
    """(bytes, rows) of ``tables`` in a generated directory."""
    meta = json.loads((data_dir / "meta.json").read_text())["tables"]
    return (
        sum(meta[t]["bytes"] for t in tables),
        sum(meta[t]["rows"] for t in tables),
    )


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--out", default=str(Path(__file__).resolve().parent / "_work" / "data"))
    args = ap.parse_args()
    t0 = time.perf_counter()
    d = ensure_inputs(args.seed, args.sf, Path(args.out))
    print(d, f"{time.perf_counter() - t0:.2f}s", input_stats(d))
