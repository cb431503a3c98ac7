"""The one differential runner: every suite query against its DuckDB oracle.

A variant is a session (``get_spark``, or a bare one with ``--bare``), a
conf dict applied for the run with ``session.scoped_conf``, and a result
surface:

- ``rows``: both engines' results as Python objects (Spark ``collect()``,
  DuckDB ``fetchall()``), canonicalized by :func:`normalize`;
- ``arrow``: both results as Arrow tables (Spark ``toArrow()``, DuckDB
  ``.arrow()``), canonicalized dtype-sensitively by :func:`canon_table`.
  ``fetchall()`` coerces DuckDB HUGEINT and DECIMAL to Python numbers, so
  a divergence that exists only on the Arrow surface (the four-round
  q_prefix_scan lesson) is invisible to ``rows``.

Both canonical forms are order-insensitive (columns sorted by name, then
rows sorted) and go through the one compare, :func:`diff`.  Each query
also gets the oracle output-dtype lint (``tools/oracle_dtypes.py``), and
the runner owns what the query leaves behind: the query writes its temp
files to a dir of its own; once its result is fetched, the runner releases
every held frame, fails the query if a CacheManager entry or a streaming
checkpoint is left, and removes that dir.

Usage: python tools/check.py [--bare] [--arrow] [sf_dir] [query_name ...]
(--bare = faithful driver-sim: bare SparkSession, no get_spark confs;
--arrow = compare on the Arrow surface instead of rows)
"""

from __future__ import annotations

import datetime as _dt
import math
import os
import shutil
import sys
import tempfile
import time
from contextlib import contextmanager
from pathlib import Path

import duckdb

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from ironbeam_spark.caches import release_all_caches  # noqa: E402
from ironbeam_spark.session import get_spark, scoped_conf  # noqa: E402
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


def _canon_value(v, t):
    """Canonical, dtype-aware form of one Arrow cell value of type ``t``.

    Strict by design: None is ("null",), NaN is ("nan",) — an engine
    emitting NULL where the other emits NaN must fail here, because a
    dtype-sensitive external hash distinguishes them too.
    """
    import pyarrow as pa

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
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
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


def canon_table(tbl) -> list[tuple]:
    """Order-insensitive canonical rows of an Arrow table: columns sorted by
    name, then rows sorted on the canonical tuples themselves."""
    cols = []
    for n in sorted(tbl.column_names):
        col = tbl.column(n)
        cols.append([_canon_value(v, col.type) for v in col.to_pylist()])
    return sorted(zip(*cols)) if cols else [() for _ in range(tbl.num_rows)]


def rows_result(rows: list[tuple], cols: list[str]) -> tuple[list[str], list[tuple]]:
    """A canonical result on the ``rows`` surface: (sorted names, rows)."""
    return sorted(cols), normalize(rows, cols)


def arrow_result(tbl) -> tuple[list[str], list[tuple]]:
    """A canonical result on the ``arrow`` surface: (sorted names, rows)."""
    return sorted(tbl.column_names), canon_table(tbl)


def _spark_result(df, surface: str):
    if surface == "arrow":
        return arrow_result(df.toArrow())
    return rows_result([tuple(r) for r in df.collect()], df.columns)


def _oracle_result(con, sql: str, surface: str):
    rel = con.execute(sql)
    if surface == "arrow":
        return arrow_result(rel.arrow())
    return rows_result(rel.fetchall(), [d[0] for d in rel.description])


def close_enough(a, b) -> bool:
    try:
        return math.isclose(float(a[1]), float(b[1]), rel_tol=1e-9, abs_tol=1e-9)
    except (IndexError, TypeError, ValueError):
        return False


def diff(left, right, labels: tuple[str, str] = ("spark", "duck")) -> list[str]:
    """Every mismatch between two canonical results (empty = equal): the
    column names, the row count and, when both agree, the values of the
    first three differing rows.  ``≈`` marks a pair of values that is
    float-close but not bit-exact (usually FP summation order)."""
    (l_cols, l_rows), (r_cols, r_rows) = left, right
    a, b = labels
    msgs = []
    if l_cols != r_cols:
        msgs.append(f"schema: {a}={l_cols} {b}={r_cols}")
    if len(l_rows) != len(r_rows):
        msgs.append(f"rowcount: {a}={len(l_rows)} {b}={len(r_rows)}")
    if msgs:
        return msgs
    differing = [(x, y) for x, y in zip(l_rows, r_rows) if x != y][:3]
    for x_row, y_row in differing:
        for x, y in zip(x_row, y_row):
            if x != y:
                tol = "≈" if close_enough(x, y) else "≠"
                msgs.append(f"value {tol}: {a}={x} {b}={y}")
    return msgs


@contextmanager
def _owned(spark, problems: list[str]):
    """Run the body as one query that the runner owns: its temp files go to
    a fresh dir, and afterwards its held frames are released.  A
    CacheManager entry or a streaming checkpoint that is still there then
    is appended to ``problems``; the temp dir is removed either way."""
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # entries made before this query are not its own
    tmp = tempfile.mkdtemp(prefix="ironbeam_check_")
    saved, tempfile.tempdir = tempfile.tempdir, tmp
    try:
        yield
    finally:
        tempfile.tempdir = saved
        # a persist that caches.hold does not own outlives its query, and
        # since CacheManager matches plans structurally, the next run of a
        # structurally equal plan would reuse its result (caches.py)
        release_all_caches()
        if not cache_manager.isEmpty():
            problems.append("cache: CacheManager entry left after release")
        # a bounded replay removes its checkpoint when its query ends
        left = [
            os.path.relpath(root, tmp)
            for root, dirs, _ in os.walk(tmp)
            if "offsets" in dirs or "commits" in dirs
        ]
        if left:
            problems.append(f"streaming checkpoints left: {left}")
        shutil.rmtree(tmp, ignore_errors=True)


def run_query(spark, sf_dir: str, name: str, surface: str = "rows", conf=None):
    """Build and fetch one suite query on ``spark`` with ``conf`` set for the
    run.  Returns the DataFrame, its canonical result on ``surface`` and
    what the query left behind (see :func:`_owned`)."""
    problems: list[str] = []
    with scoped_conf(spark, conf or {}), _owned(spark, problems):
        df = QUERIES[name].fn(spark, sf_dir)
        result = _spark_result(df, surface)
    return df, result, problems


def check_query(
    spark, con, sf_dir: str, name: str, surface: str = "rows"
) -> tuple[int, list[str]]:
    """Run one query and its DuckDB oracle on ``surface``.  Returns the
    Spark row count and every problem found (empty = pass)."""
    sql = QUERIES[name].oracle
    df, got, problems = run_query(spark, sf_dir, name, surface)
    msgs = diff(got, _oracle_result(con, sql, surface))
    # dtype lint: the rows surface coerces DuckDB HUGEINT/DECIMAL to Python
    # int, hiding output-typing divergence a dtype-sensitive external hash
    # WILL see; re-type-check the oracle through Arrow (LIMIT 0 — no re-run)
    try:
        mismatches = dtype_mismatches(df.schema, oracle_arrow_schema(con, sql))
        msgs += ["dtype: " + m for m in mismatches]
    except Exception as e:  # never let the probe mask the value verdict
        msgs.append(f"dtype probe error: {e}")
    return len(got[1]), msgs + problems


def oracle_connection(sf_dir: str):
    """A DuckDB connection with one view per TPC-H table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def main() -> int:
    flags = {"--bare", "--arrow"}
    args = [a for a in sys.argv[1:] if a not in flags]
    bare = "--bare" in sys.argv[1:]
    surface = "arrow" if "--arrow" in sys.argv[1:] else "rows"
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
    con = oracle_connection(sf_dir)

    n_pass = n_fail = 0
    for name in names:
        t0 = time.time()
        try:
            n_rows, msgs = check_query(spark, con, sf_dir, name, surface)
        except Exception as e:
            n_rows, msgs = 0, [f"error: {type(e).__name__}: {e}"]
        if msgs:
            print(f"FAIL {name}: " + "; ".join(msgs[:6]))
        else:
            print(f"PASS {name} ({n_rows} rows, {time.time()-t0:.1f}s)")
        n_pass += not msgs
        n_fail += bool(msgs)

    print(f"\n{n_pass} passed, {n_fail} failed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
