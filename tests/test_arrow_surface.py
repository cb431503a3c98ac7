"""The Arrow surface: the registry-wide VALUE sweep as a gated pytest, and
a guard that every Python map of the engine crosses on Arrow.

``tools/arrow_check.py`` closed the last known local blind spot (both
engines fetched AS ARROW TABLES and compared dtype-sensitively — the
strongest local replica of the external gate's hash), but as a
manually-run tool it could silently rot between rounds (the r8 verdict's
ask #3).  This module makes the sweep part of the committed test suite:

    IRONBEAM_ARROW_SWEEP=1 python -m pytest tests/test_arrow_surface.py -q

It is parametrized per query so a failure names the exact query, and
env-gated because the full registry takes several minutes at sf0.001 —
the per-round verification routine (``.claude/skills/verify/SKILL.md``)
runs it once before shipping; the default fast suite skips it.

The guard (:func:`test_python_maps_cross_on_arrow`) is not gated: it scans
the package source for pandas round trips, so a new one fails the fast
suite.
"""

from __future__ import annotations

import ast
import os
from pathlib import Path

import pytest

from tests.conftest import SF_SMOKE

_GATE = os.environ.get("IRONBEAM_ARROW_SWEEP", "").strip().lower() not in (
    "",
    "0",
    "false",
    "no",
)

_sweep_gate = pytest.mark.skipif(
    not _GATE,
    reason="registry-wide Arrow value sweep (~minutes): set "
    "IRONBEAM_ARROW_SWEEP=1 — run once per round before shipping",
)


def _query_names():
    from ironbeam_spark.suite import QUERIES

    return list(QUERIES)


@pytest.fixture(scope="module")
def duck_smoke():
    import duckdb

    from ironbeam_spark.sources.io import TPCH_TABLES

    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    yield con


@_sweep_gate
@pytest.mark.parametrize("name", _query_names())
def test_arrow_surface_value_match(name, spark, duck_smoke):
    from ironbeam_spark.suite import QUERIES
    from tools.arrow_check import canon_table

    q = QUERIES[name]
    if q.oracle is None:
        pytest.skip("rows-only query (no SQL oracle)")
    s_tbl = q.fn(spark, SF_SMOKE).toArrow()
    d_tbl = duck_smoke.execute(q.oracle).arrow()
    assert sorted(s_tbl.column_names) == sorted(d_tbl.column_names)
    assert s_tbl.num_rows == d_tbl.num_rows
    sn, dn = canon_table(s_tbl), canon_table(d_tbl)
    if sn != dn:
        diffs = [(a, b) for a, b in zip(sn, dn) if a != b][:2]
        pytest.fail(f"Arrow-surface value mismatch: {diffs}")


_PKG = Path(__file__).resolve().parent.parent / "ironbeam_spark"


def test_python_maps_cross_on_arrow():
    """No pandas map or conversion is left, and ``applyInPandasWithState``
    is called only by the two stateful streaming kernels with no native
    operator (Spark's Arrow stateful API needs ``google.protobuf``, which
    is not installed)."""
    stateful = []
    for path in sorted(_PKG.rglob("*.py")):
        src = path.read_text()
        rel = path.relative_to(_PKG).as_posix()
        for name in ("mapInPandas(", "applyInPandas(", "pandas_udf", "to_pandas("):
            assert name not in src, f"{rel} uses {name}"
        # every use, named by its top-level definition (None at module level)
        for top in ast.parse(src).body:
            stateful += [
                (rel, getattr(top, "name", None))
                for node in ast.walk(top)
                if isinstance(node, ast.Attribute)
                and node.attr == "applyInPandasWithState"
            ]
    assert sorted(stateful) == [
        ("streaming/cdc.py", "stream_apply_changes"),
        ("streaming/stateful.py", "stream_dedup_first"),
    ]


@pytest.fixture(scope="module", autouse=True)
def _release_caches_after():
    yield
    from ironbeam_spark.caches import release_all_caches

    release_all_caches()
