"""Arrow-surface VALUE compare: Spark ``toArrow()`` vs DuckDB ``.arrow()``.

The four-round q_prefix_scan/q_token_packing lesson, generalized.  The
external gate canonicalizes both engines' results through Arrow/pandas;
``tools/check.py`` compares Python objects after DuckDB's ``fetchall()``
coercions (HUGEINT -> int, DECIMAL -> Decimal-or-float, MAP -> dict), so a
divergence that only exists on the Arrow surface is invisible to it.  The
dtype lint (``tools/oracle_dtypes.py``) closed the TYPE axis; this tool
closes the VALUE axis: both results are fetched AS ARROW TABLES — the same
surface an external dtype-sensitive hash reads — then canonicalized
(columns sorted by name, rows sorted, timestamps normalized to UTC-naive
microseconds, float NaN distinguished from NULL, decimals compared exactly,
lists/structs/maps recursively) and required to match exactly.

A query green here AND in ``tools/check.py`` AND in the dtype lint has no
remaining local-blind-spot class we know of.

Usage: python tools/arrow_check.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import datetime as _dt
import sys
import time
from pathlib import Path

import duckdb
import pyarrow as pa

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from ironbeam_spark.caches import release_all_caches  # noqa: E402
from ironbeam_spark.sources.io import TPCH_TABLES  # noqa: E402
from ironbeam_spark.suite import QUERIES  # noqa: E402

_UTC = _dt.timezone.utc


def _canon_value(v, t: pa.DataType):
    """Canonical, dtype-aware form of one Arrow cell value.

    Strict by design: None is ("null",), NaN is ("nan",) — an engine
    emitting NULL where the other emits NaN must fail here, because a
    dtype-sensitive external hash distinguishes them too.
    """
    if v is None:
        return ("null",)
    if pa.types.is_floating(t):
        # bit-exact float compare; NaN != NULL
        if v != v:
            return ("nan",)
        return ("f", repr(float(v)))
    if pa.types.is_decimal(t):
        # exact decimal value; scale is the dtype lint's axis, so compare
        # the NUMBER (1.10 == 1.1) — a scale mismatch already fails there
        from decimal import Decimal

        return ("dec", str(Decimal(v).normalize()))
    if pa.types.is_timestamp(t):
        # normalize tz-aware -> UTC-naive; both engines' values then agree
        # regardless of session-tz presentation
        if isinstance(v, _dt.datetime) and v.tzinfo is not None:
            v = v.astimezone(_UTC).replace(tzinfo=None)
        return ("ts", v.isoformat(timespec="microseconds"))
    if pa.types.is_date(t):
        return ("date", v.isoformat())
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return ("l", tuple(_canon_value(x, t.value_type) for x in v))
    if pa.types.is_map(t):
        # to_pylist surfaces maps as list[(k, v)]; order is physical — sort
        return (
            "m",
            tuple(
                sorted(
                    (
                        _canon_value(k, t.key_type),
                        _canon_value(x, t.item_type),
                    )
                    for k, x in (v.items() if isinstance(v, dict) else v)
                )
            ),
        )
    if pa.types.is_struct(t):
        return (
            "s",
            tuple(
                (f.name, _canon_value(v.get(f.name), f.type)) for f in t
            ),
        )
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return ("b", bytes(v))
    if pa.types.is_boolean(t):
        return ("bool", bool(v))
    if pa.types.is_integer(t):
        return ("i", int(v))
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return ("str", str(v))
    return (str(t), str(v))


def canon_table(tbl: pa.Table) -> list[tuple]:
    """Order-insensitive canonical rows: columns sorted by name, then rows
    sorted on the canonical tuples themselves."""
    names = sorted(tbl.column_names)
    cols = []
    for n in names:
        col = tbl.column(n)
        t = col.type
        cols.append([_canon_value(v, t) for v in col.to_pylist()])
    return sorted(zip(*cols)) if cols else [() for _ in range(tbl.num_rows)]


def check_query(spark, con, sf_dir: str, name: str) -> bool:
    """Fetch one query from both engines as Arrow, compare, print the verdict."""
    q = QUERIES[name]
    t0 = time.time()
    try:
        s_tbl = q.fn(spark, sf_dir).toArrow()
    except Exception as e:
        print(f"FAIL {name}: spark error: {e}")
        return False
    try:
        d_tbl = con.execute(q.oracle).arrow()
    except Exception as e:
        print(f"FAIL {name}: duckdb error: {e}")
        return False
    msgs = []
    if sorted(s_tbl.column_names) != sorted(d_tbl.column_names):
        msgs.append(
            f"schema: spark={sorted(s_tbl.column_names)} "
            f"duck={sorted(d_tbl.column_names)}"
        )
    elif s_tbl.num_rows != d_tbl.num_rows:
        msgs.append(
            f"rowcount: spark={s_tbl.num_rows} duck={d_tbl.num_rows}"
        )
    else:
        sn, dn = canon_table(s_tbl), canon_table(d_tbl)
        if sn != dn:
            diffs = [(a, b) for a, b in zip(sn, dn) if a != b][:2]
            for a, b in diffs:
                for x, y in zip(a, b):
                    if x != y:
                        msgs.append(f"value: spark={x} duck={y}")
    if msgs:
        print(f"FAIL {name}: " + "; ".join(msgs[:6]))
        return False
    print(f"PASS {name} ({s_tbl.num_rows} rows, {time.time()-t0:.1f}s)")
    return True


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    names = args[1:] or list(QUERIES)

    from ironbeam_spark.session import get_spark

    spark = get_spark("ironbeam-arrow-check")
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    n_pass = n_fail = n_skip = 0
    for name in names:
        q = QUERIES[name]
        if q.oracle is None:
            print(f"skip {name}: rows-only")
            n_skip += 1
            continue
        try:
            ok = check_query(spark, con, sf_dir, name)
        finally:
            # a held frame must not outlive its compare: CacheManager would
            # serve it to a later, structurally equal plan (caches.py)
            release_all_caches()
        n_pass += ok
        n_fail += not ok

    print(f"\n{n_pass} passed, {n_fail} failed, {n_skip} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
