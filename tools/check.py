"""Local replica of the driver's correctness gate.

Runs every suite query on Spark AND its DuckDB oracle at a given sf dir,
then compares: row count, column names, and order-insensitive exact values
(columns sorted by name, rows sorted, floats compared bit-exact with a
loose-tolerance diagnostic on failure).

Usage: python tools/check.py [--bare] [sf_dir] [query_name ...]
(--bare = faithful driver-sim: bare SparkSession, no get_spark confs)
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

import duckdb

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from ironbeam_spark.caches import release_all_caches  # noqa: E402
from ironbeam_spark.session import get_spark  # noqa: E402
from ironbeam_spark.sources.io import TPCH_TABLES  # noqa: E402
from ironbeam_spark.suite import QUERIES  # noqa: E402
from tools.oracle_dtypes import dtype_mismatches, oracle_arrow_schema  # noqa: E402


def normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    """Sort columns by name, then rows — order-insensitive canonical form."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def canon(v):
        if isinstance(v, float):
            return ("f", repr(v))
        if isinstance(v, list):
            return ("l", tuple(canon(x) for x in v))
        if isinstance(v, dict):
            return ("d", tuple(sorted((k, canon(x)) for k, x in v.items())))
        return (type(v).__name__, str(v))

    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def close_enough(a, b) -> bool:
    try:
        return math.isclose(float(a[1]), float(b[1]), rel_tol=1e-9, abs_tol=1e-9)
    except (TypeError, ValueError):
        return False


def check_query(spark, con, sf_dir: str, name: str) -> bool:
    """Run one query, compare it with its DuckDB oracle, print the verdict."""
    q = QUERIES[name]
    t0 = time.time()
    try:
        sdf = q.fn(spark, sf_dir)
        s_cols = sdf.columns
        s_rows = [tuple(r) for r in sdf.collect()]
    except Exception as e:
        print(f"FAIL {name}: spark error: {e}")
        return False
    if q.oracle is None:
        print(f"pass {name}: rows-only ({len(s_rows)} rows, {time.time()-t0:.1f}s)")
        return True
    try:
        rel = con.execute(q.oracle)
        d_cols = [d[0] for d in rel.description]
        d_rows = rel.fetchall()
    except Exception as e:
        print(f"FAIL {name}: duckdb error: {e}")
        return False

    ok = True
    msgs = []
    if sorted(s_cols) != sorted(d_cols):
        ok = False
        msgs.append(f"schema: spark={sorted(s_cols)} duck={sorted(d_cols)}")
    # dtype lint: fetchall() above coerces DuckDB HUGEINT/DECIMAL to
    # Python int, hiding output-typing divergence a dtype-sensitive
    # external hash WILL see (the four-round q_prefix_scan lesson);
    # re-type-check the oracle through Arrow (LIMIT 0 — no re-run)
    try:
        dmm = dtype_mismatches(sdf.schema, oracle_arrow_schema(con, q.oracle))
    except Exception as e:  # never let the probe mask the value verdict
        dmm = [f"dtype probe error: {e}"]
    if dmm:
        ok = False
        msgs.append("dtype: " + "; ".join(dmm))
    if len(s_rows) != len(d_rows):
        ok = False
        msgs.append(f"rowcount: spark={len(s_rows)} duck={len(d_rows)}")
    if ok:
        sn = normalize(s_rows, s_cols)
        dn = normalize(d_rows, d_cols)
        if sn != dn:
            ok = False
            diffs = [
                (a, b)
                for a, b in zip(sn, dn)
                if a != b
            ][:3]
            for a, b in diffs:
                for x, y in zip(a, b):
                    if x != y:
                        tol = "≈" if close_enough(x, y) else "≠"
                        msgs.append(f"value {tol}: spark={x} duck={y}")
    if ok:
        print(f"PASS {name} ({len(s_rows)} rows, {time.time()-t0:.1f}s)")
    else:
        print(f"FAIL {name}: " + "; ".join(msgs[:6]))
    return ok


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--bare"]
    bare = "--bare" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    names = args[1:] or list(QUERIES)

    if bare:
        # faithful driver-sim: the external gate builds a BARE session (none
        # of get_spark's confs); queries must self-defend (read_table pins
        # UTC/nanosAsLong at read time).  Use before shipping each round.
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[32]")
            .config("spark.sql.shuffle.partitions", "32")
            .getOrCreate()
        )
    else:
        spark = get_spark("ironbeam-check")
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    n_pass = n_fail = 0
    for name in names:
        try:
            ok = check_query(spark, con, sf_dir, name)
        finally:
            # a held frame must not outlive its compare: CacheManager would
            # serve it to a later, structurally equal plan (caches.py)
            release_all_caches()
        n_pass += ok
        n_fail += not ok

    print(f"\n{n_pass} passed, {n_fail} failed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
