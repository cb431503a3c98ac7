"""Query registry: name → (engine callable, DuckDB oracle SQL, bench flag).

Single source of truth consumed by ``__spark_entry__.py`` (driver contract)
and ``bench.py``.  Determinism rules (so Spark and DuckDB hash-match):

- Money/exact-decimal aggregates use scaled-int64 arithmetic
  (:mod:`ironbeam_spark.functions.exact`) — FP sum order never matters.
- Any emitted array is sorted (``sort_array`` / ``list_sort``).
- Timestamps in output are epoch millis (bigint) or ISO strings.
- Every computed column is aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ironbeam_spark.collection import PCollection
from ironbeam_spark.sources.io import read_table

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # None => non-SQL-expressible (driver does rows-only check)
    bench: bool = False  # include in bench.py headline set
    doc: str = ""


QUERIES: dict[str, Query] = {}


def query(name: str, oracle: str | None, bench: bool = False, doc: str = ""):
    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # the harness may hand us a bare SparkSession (not from
            # get_spark): ship the package zip so Python-map closures
            # resolve on executor workers regardless of driver cwd
            from ironbeam_spark.session import _ship_package

            _ship_package(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        if name in QUERIES:
            # last-wins would silently shadow one implementation (and which
            # one depends on module import order) — fail loudly instead
            raise ValueError(f"duplicate query registration: {name!r}")
        QUERIES[name] = Query(name, wrapped, oracle, bench, doc)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> PCollection:
    return PCollection(read_table(spark, sf_dir, name))
