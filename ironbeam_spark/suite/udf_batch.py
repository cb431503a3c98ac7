"""UDF-surface queries (SURVEY §2.12): Arrow-batched map, user CombineFn
(UDAF protocol), lifted combine over pre-grouped arrays.

These intentionally exercise the *slow path* (Python) with the exact-integer
discipline that keeps results oracle-comparable: all arithmetic in scaled
int64, one final division.  Production guidance stays "native expressions
first" — the point here is that the protocol surface exists and is correct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ironbeam_spark.operators.combinefn import CombineFn, combine_per_key
from ironbeam_spark.sources.io import read_table
from ironbeam_spark.suite.registry import _t, query


@query(
    "q_map_batches_arrow",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(round(l_extendedprice*100) AS BIGINT)
             * (100 - CAST(round(l_discount*100) AS BIGINT)) / 10000.0 AS disc_price
    FROM lineitem
    WHERE l_quantity >= 30
    ORDER BY l_orderkey, l_linenumber
    """,
    doc="map_batches via mapInArrow: Arrow RecordBatch in, vectorized numpy compute, batch out with the key columns passed through as their input arrays (ref map_batches, src/helpers/batches.rs:64)",
)
def q_map_batches_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 30)

    def batch_fn(batches):
        import numpy as np
        import pyarrow as pa

        for rb in batches:
            # exact cents: floor(x+0.5) == round-half-up for positive values,
            # matching Spark/DuckDB round() on exact-cent doubles
            price_c = np.floor(rb.column("l_extendedprice").to_numpy() * 100 + 0.5).astype("int64")
            disc_c = np.floor(rb.column("l_discount").to_numpy() * 100 + 0.5).astype("int64")
            disc_price = pa.array(price_c * (100 - disc_c) / 10000.0)
            keys = rb.select(["l_orderkey", "l_linenumber"])
            yield keys.append_column("disc_price", disc_price)

    out = li.map_batches(
        batch_fn, "l_orderkey long, l_linenumber int, disc_price double"
    )
    return out.df.orderBy("l_orderkey", "l_linenumber")


def _weighted_avg_price() -> CombineFn:
    """Quantity-weighted average price; accumulator = (Σ price_c·qty, Σ qty)
    in int64 — associative, commutative, exact (the assoc-comm declaration of
    the reference CombineFn, src/collection.rs:343-360).  Defined inside a
    function so cloudpickle ships the class by value (executors may not have
    this package importable)."""

    class WeightedAvgPrice(CombineFn):
        def create_accumulator(self):
            return (0, 0)

        def add_input(self, acc, row):
            pc = int(row["l_extendedprice"] * 100 + 0.5)
            q = int(row["l_quantity"] + 0.5)
            return (acc[0] + pc * q, acc[1] + q)

        def add_batch(self, acc, batch):
            import numpy as np

            pc = np.floor(batch.column("l_extendedprice").to_numpy() * 100 + 0.5).astype("int64")
            q = np.floor(batch.column("l_quantity").to_numpy() + 0.5).astype("int64")
            return (acc[0] + int((pc * q).sum()), acc[1] + int(q.sum()))

        def merge_accumulators(self, accs):
            return (sum(a[0] for a in accs), sum(a[1] for a in accs))

        def extract_output(self, acc):
            return {"wavg_price": acc[0] / (100.0 * acc[1]) if acc[1] else None}

    return WeightedAvgPrice()


@query(
    "q_combinefn_udaf",
    """
    SELECT l_returnflag,
           sum(CAST(round(l_extendedprice*100) AS BIGINT) * CAST(round(l_quantity) AS BIGINT))
             / (100.0 * sum(CAST(round(l_quantity) AS BIGINT))) AS wavg_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="user CombineFn via applyInArrow (iterator form): create/add_batch/merge/extract protocol (ref CombineFn, src/collection.rs:333-360)",
)
def q_combinefn_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    out = combine_per_key(
        li, ["l_returnflag"], _weighted_avg_price(), "l_returnflag string, wavg_price double"
    )
    return out.orderBy("l_returnflag")


@query(
    "q_combine_lifted",
    """
    SELECT c_nationkey,
           CAST(len(bals) AS BIGINT) AS n_customers,
           list_aggregate(bals, 'sum') / 100.0 AS total_acctbal
    FROM (
      SELECT c_nationkey,
             list_sort(list(CAST(round(c_acctbal*100) AS BIGINT))) AS bals
      FROM customer GROUP BY c_nationkey
    )
    ORDER BY c_nationkey
    """,
    doc="combine_values_lifted: aggregate over an already-grouped array with a higher-order fold (ref src/helpers/combine.rs:213)",
)
def q_combine_lifted(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    grouped = cust.key_by("c_nationkey").group_by_key("c_acctbal", sort=False)
    bals = F.sort_array(
        F.transform(F.col("c_acctbal_list"), lambda x: F.round(x * 100).cast("long"))
    )
    return (
        grouped.map(
            "c_nationkey",
            n_customers=F.size(bals).cast("long"),
            total_acctbal=F.aggregate(
                bals, F.lit(0).cast("long"), lambda acc, x: acc + x
            )
            / F.lit(100.0),
        )
        .df.orderBy("c_nationkey")
    )
