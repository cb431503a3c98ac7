"""Unit tests for the one compare in ``tools/check.py``: the Arrow-surface
canonicalizer that closes the local blind spot behind the four-round
q_prefix_scan/q_token_packing driver divergence (the rows surface compares
post-fetchall Python objects; the external gate hashes Arrow/pandas), and
``diff`` over both surfaces' canonical results."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pyarrow as pa
import pytest

from tools.check import (
    _canon_value,
    arrow_result,
    canon_table,
    diff,
    rows_result,
)

SURFACES = ("rows", "arrow")

UTC = dt.timezone.utc
CET = dt.timezone(dt.timedelta(hours=2))


def test_float_nan_distinct_from_null():
    t = pa.float64()
    assert _canon_value(None, t) == ("null",)
    assert _canon_value(float("nan"), t) == ("nan",)
    assert _canon_value(None, t) != _canon_value(float("nan"), t)


def test_float_bit_exact():
    t = pa.float64()
    assert _canon_value(0.1, t) == _canon_value(0.1, t)
    # adjacent doubles differ
    import math

    x = 1.0
    assert _canon_value(x, t) != _canon_value(math.nextafter(x, 2.0), t)


def test_timestamp_tz_normalizes_to_utc_naive():
    """A tz-aware timestamp (Spark's TIMESTAMP over Arrow carries tz=UTC)
    and the equal naive instant (DuckDB TIMESTAMP is naive) must agree."""
    naive = dt.datetime(2024, 3, 1, 10, 30, 0, 123456)
    aware_utc = naive.replace(tzinfo=UTC)
    aware_cet = naive.replace(tzinfo=UTC).astimezone(CET)
    t_naive = pa.timestamp("us")
    t_utc = pa.timestamp("us", tz="UTC")
    assert (
        _canon_value(naive, t_naive)
        == _canon_value(aware_utc, t_utc)
        == _canon_value(aware_cet, t_utc)
    )


def test_decimal_compares_by_number_not_scale_representation():
    # scale divergence is the dtype lint's axis; VALUES 1.10 == 1.1
    assert _canon_value(Decimal("1.10"), pa.decimal128(10, 2)) == _canon_value(
        Decimal("1.1"), pa.decimal128(10, 1)
    )
    assert _canon_value(Decimal("1.10"), pa.decimal128(10, 2)) != _canon_value(
        Decimal("1.11"), pa.decimal128(10, 2)
    )


def test_map_order_insensitive():
    t = pa.map_(pa.string(), pa.int64())
    a = _canon_value([("x", 1), ("y", 2)], t)
    b = _canon_value([("y", 2), ("x", 1)], t)
    c = _canon_value({"y": 2, "x": 1}, t)
    assert a == b == c


def test_list_and_struct_recurse():
    lt = pa.list_(pa.float64())
    assert _canon_value([1.5, None], lt) == (
        "l",
        (("f", repr(1.5)), ("null",)),
    )
    st_t = pa.struct([("a", pa.int64()), ("b", pa.string())])
    assert _canon_value({"a": 3, "b": "x"}, st_t) == (
        "s",
        (("a", ("i", 3)), ("b", ("str", "x"))),
    )


def test_canon_table_sorts_columns_and_rows():
    t1 = pa.table({"b": [2, 1], "a": ["y", "x"]})
    t2 = pa.table({"a": ["x", "y"], "b": [1, 2]})
    assert canon_table(t1) == canon_table(t2)


def test_canon_table_catches_int_vs_decimal_values():
    """The original bug class end-to-end: same VALUES, int64 vs
    decimal128 — canonical forms must differ (dtype-sensitive)."""
    ti = pa.table({"v": pa.array([7, 8], pa.int64())})
    td = pa.table({"v": pa.array([Decimal(7), Decimal(8)], pa.decimal128(38, 0))})
    assert canon_table(ti) != canon_table(td)


def _result(tbl, surface):
    """``tbl`` as one engine would hand it to the runner on ``surface``."""
    if surface == "arrow":
        return arrow_result(tbl)
    return rows_result([tuple(r.values()) for r in tbl.to_pylist()], tbl.column_names)


@pytest.mark.parametrize("surface", SURFACES)
def test_diff_equal_results_are_empty(surface):
    t1 = pa.table({"b": [2, 1], "a": ["y", "x"]})
    t2 = pa.table({"a": ["x", "y"], "b": [1, 2]})
    assert diff(_result(t1, surface), _result(t2, surface)) == []


@pytest.mark.parametrize("surface", SURFACES)
def test_diff_reports_schema(surface):
    t1 = pa.table({"a": [1], "b": [2]})
    t2 = pa.table({"a": [1], "c": [2]})
    assert diff(_result(t1, surface), _result(t2, surface)) == [
        "schema: spark=['a', 'b'] duck=['a', 'c']"
    ]


@pytest.mark.parametrize("surface", SURFACES)
def test_diff_reports_rowcount(surface):
    t1 = pa.table({"a": [1, 2]})
    t2 = pa.table({"a": [1, 2, 3]})
    assert diff(_result(t1, surface), _result(t2, surface)) == [
        "rowcount: spark=2 duck=3"
    ]


@pytest.mark.parametrize("surface", SURFACES)
def test_diff_reports_int_vs_decimal_values(surface):
    ti = pa.table({"v": pa.array([7], pa.int64())})
    td = pa.table({"v": pa.array([Decimal(7)], pa.decimal128(38, 0))})
    # the same number in another type: reported, and marked as close
    [msg] = diff(_result(ti, surface), _result(td, surface))
    assert msg.startswith("value ≈: spark=") and "7" in msg, msg


@pytest.mark.parametrize("surface", SURFACES)
def test_diff_reports_nan_vs_null(surface):
    tn = pa.table({"v": pa.array([float("nan")], pa.float64())})
    t0 = pa.table({"v": pa.array([None], pa.float64())})
    [msg] = diff(_result(tn, surface), _result(t0, surface))
    assert msg.startswith("value ≠: spark=") and "nan" in msg, msg


@pytest.mark.parametrize("surface", SURFACES)
def test_diff_marks_float_close_values(surface):
    t1 = pa.table({"v": [0.1 + 0.2]})
    t2 = pa.table({"v": [0.3]})
    [msg] = diff(_result(t1, surface), _result(t2, surface), labels=("l", "r"))
    assert msg.startswith("value ≈: l="), msg


def test_runner_reports_and_removes_what_a_query_leaves(spark):
    """A persist that ``caches.hold`` does not own and a streaming checkpoint
    are both reported, and the query's temp dir is removed either way."""
    import os
    import tempfile

    from tools.check import _owned

    problems = []
    with _owned(spark, problems):
        tmp = tempfile.mkdtemp(prefix="ironbeam_leak_")
        os.makedirs(os.path.join(tmp, "offsets"))
        spark.range(3).persist().count()
    spark.catalog.clearCache()
    assert problems == [
        "cache: CacheManager entry left after release",
        f"streaming checkpoints left: ['{os.path.basename(tmp)}']",
    ]
    assert not os.path.exists(tmp)
    assert tempfile.gettempdir() != os.path.dirname(tmp)
