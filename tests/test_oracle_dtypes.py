"""The oracle output-dtype lint (``tools/oracle_dtypes.py``): its verdict
on every suite query, and its unit tests.

Four rounds of ``q_prefix_scan``/``q_token_packing`` driver-red taught
that value-equal results can still hash-mismatch on TYPE: DuckDB's
Python ``fetchall()`` coerces HUGEINT to ``int`` (so the rows compare
passes) while its Arrow surface types the same column
``decimal128(38,0)`` where Spark emits ``int64``.  The lint requires every
oracle's Arrow schema to canonically equal the Spark result schema,
column by column.  ``tools/check.py`` runs it on every query, next to the
value compare; the registry case here asserts the lint's part of that run
(shared with ``tests/test_suite_oracle.py`` through the ``oracle_check``
fixture, so no query is built twice) and the runner's CacheManager check.
"""

from __future__ import annotations

import duckdb
import pytest

from ironbeam_spark.suite import QUERIES
from tools.oracle_dtypes import (
    arrow_canon,
    dtype_mismatches,
    oracle_arrow_schema,
    spark_canon,
)


@pytest.mark.parametrize("name", list(QUERIES))
def test_oracle_dtypes_match_spark(oracle_check, name):
    drift = [m for m in oracle_check(name) if m.startswith(("dtype", "cache"))]
    assert not drift, f"{name}: " + "; ".join(drift)


def test_lint_fires_on_uncast_hugeint(spark, duck):
    """The deliberately-uncast fixture: an oracle whose output column is a
    raw DuckDB window sum (HUGEINT -> Arrow decimal128(38,0)) MUST be
    flagged against a Spark int64 column — exactly the four-round
    q_prefix_scan signature.  Proves the lint actually fires."""
    uncast = """
    SELECT o_orderkey,
           sum(o_custkey) OVER (ORDER BY o_orderkey
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS running_v
    FROM orders ORDER BY o_orderkey
    """
    sdf = spark.createDataFrame([(1, 2)], "o_orderkey bigint, running_v bigint")
    mm = dtype_mismatches(sdf.schema, oracle_arrow_schema(duck, uncast))
    assert mm and "running_v" in mm[0] and "decimal(38,0)" in mm[0], mm


def test_canonical_tokens_agree_on_shared_space():
    """The two canonicalizers must land the SAME token for types both
    engines produce — otherwise the lint would fail every query."""
    import pyarrow as pa
    from pyspark.sql import types as T

    pairs = [
        (T.LongType(), pa.int64()),
        (T.IntegerType(), pa.int32()),
        (T.DoubleType(), pa.float64()),
        (T.FloatType(), pa.float32()),
        (T.StringType(), pa.string()),
        (T.StringType(), pa.large_string()),
        (T.BooleanType(), pa.bool_()),
        (T.BinaryType(), pa.binary()),
        (T.DateType(), pa.date32()),
        (T.TimestampType(), pa.timestamp("us")),
        (T.DecimalType(38, 0), pa.decimal128(38, 0)),
        (T.ArrayType(T.LongType()), pa.list_(pa.int64())),
        (T.ArrayType(T.StringType()), pa.large_list(pa.large_string())),
    ]
    for sdt, adt in pairs:
        assert spark_canon(sdt) == arrow_canon(adt), (sdt, adt)
    # and the dangerous pairs must NOT collide
    assert spark_canon(T.LongType()) != arrow_canon(pa.decimal128(38, 0))
    assert spark_canon(T.DoubleType()) != arrow_canon(pa.float32())
    assert spark_canon(T.TimestampType()) != arrow_canon(pa.timestamp("ns"))


def test_probe_is_cheap_limit0():
    """The LIMIT 0 wrapper must type-check CTE oracles without running
    them (a syntax regression here would silently double gate cost)."""
    con = duckdb.connect()
    sch = oracle_arrow_schema(
        con, "WITH t AS (SELECT 1::BIGINT AS a) SELECT a, a + 1 AS b FROM t ORDER BY a"
    )
    assert [f.name for f in sch] == ["a", "b"]
    assert arrow_canon(sch.field("a").type) == "int64"
