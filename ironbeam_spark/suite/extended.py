"""Extended coverage: TPC-H-style multi-join analytics (the scale showcase)
plus the remaining SURVEY §2 operator surface — side-input multimap,
partition!/side outputs, try_map, to_dict, bottom-k per key, latest global,
offset tumbling windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ironbeam_spark import caches
from ironbeam_spark.functions.exact import cents, sum_money
from ironbeam_spark.functions.time import ts_lit
from ironbeam_spark.operators.dead_letter import partition_tags, try_map
from ironbeam_spark.operators.side_inputs import with_side_multimap
from ironbeam_spark.operators.windowing import combine_per_key_and_window, to_epoch_ms
from ironbeam_spark.sources.io import read_table
from ironbeam_spark.suite.registry import _t, query

_DISC_PRICE_SQL = (
    "CAST(round(l_extendedprice*100) AS BIGINT)"
    " * (100 - CAST(round(l_discount*100) AS BIGINT))"
)


# =========================================================================
# TPC-H classics — multi-join plans where broadcast/AQE strategy matters
# =========================================================================


@query(
    "q3_shipping_priority",
    f"""
    SELECT l_orderkey,
           sum({_DISC_PRICE_SQL})/10000.0 AS revenue,
           epoch_ms(o_orderdate) AS orderdate_ms
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND l.l_shipdate > TIMESTAMP '1997-01-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, orderdate_ms, l_orderkey
    LIMIT 10
    """,
    bench=True,
    doc="TPC-H Q3 shipping priority: filtered 3-way join, topk by revenue; customer dim broadcasts, lineitem never moves twice",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = read_table(spark, sf_dir, "orders").where(F.col("o_orderdate") < ts_lit("1997-01-01"))
    li = read_table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > ts_lit("1997-01-01"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg((F.sum(cents("l_extendedprice") * (100 - cents("l_discount"))) / F.lit(10000.0)).alias("revenue"))
        .select("l_orderkey", "revenue", F.unix_millis("o_orderdate").alias("orderdate_ms"))
        .orderBy(F.col("revenue").desc(), "orderdate_ms", "l_orderkey")
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    f"""
    SELECT n_name, sum({_DISC_PRICE_SQL})/10000.0 AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    bench=True,
    doc="TPC-H Q5 local supplier volume: 6-way star join, dims broadcast, one shuffle for the final group",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= ts_lit("1996-01-01")) & (F.col("o_orderdate") < ts_lit("1997-01-01"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg((F.sum(cents("l_extendedprice") * (100 - cents("l_discount"))) / F.lit(10000.0)).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@query(
    "q6_forecast_revenue",
    """
    SELECT sum(CAST(round(l_extendedprice*100) AS BIGINT)
               * CAST(round(l_discount*100) AS BIGINT))/10000.0 AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND CAST(round(l_discount*100) AS BIGINT) BETWEEN 3 AND 6
      AND l_quantity < 24
    """,
    bench=True,
    doc="TPC-H Q6 forecast revenue: pure scan+filter+global agg — the predicate-pushdown showcase (all filters reach the parquet scan)",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= ts_lit("1996-01-01"))
            & (F.col("l_shipdate") < ts_lit("1997-01-01"))
            & cents("l_discount").between(3, 6)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (F.sum(cents("l_extendedprice") * cents("l_discount")) / F.lit(10000.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q10_returned_items",
    f"""
    SELECT c.c_custkey, c.c_name,
           sum({_DISC_PRICE_SQL})/10000.0 AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-07-01'
      AND o.o_orderdate < TIMESTAMP '1996-10-01'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    bench=True,
    doc="TPC-H Q10 returned-item reporting: 4-way join, revenue top-20 (broadcast dims, one agg shuffle)",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= ts_lit("1996-07-01")) & (F.col("o_orderdate") < ts_lit("1996-10-01"))
    )
    li = read_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    nation = read_table(spark, sf_dir, "nation")
    # Aggregate BEFORE the dimension joins: the fact shuffle then carries
    # (custkey, partial sum) instead of dragging c_name/c_acctbal/n_name
    # strings through it, and the broadcast probes run once per customer-
    # with-returns, not once per lineitem.  c_name/c_acctbal/n_name are
    # functionally dependent on c_custkey, so the group set — and every
    # revenue value — is identical to grouping after the joins.
    per_cust = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg((F.sum(cents("l_extendedprice") * (100 - cents("l_discount"))) / F.lit(10000.0)).alias("revenue"))
    )
    return (
        per_cust.join(F.broadcast(cust), per_cust.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q12_shipmode_priority",
    """
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
             AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
             AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
    doc="TPC-H Q12 shipmode/priority: join + conditional CASE aggregation",
)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= ts_lit("1996-01-01")) & (F.col("l_shipdate") < ts_lit("1997-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "q7_volume_shipping",
    f"""
    SELECT supp_nation, cust_nation, l_year, sum(volume) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
             {_DISC_PRICE_SQL}/10000.0 AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7 volume shipping: two-nation disjunction across a 6-way join, per-year revenue",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = read_table(spark, sf_dir, "supplier")
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    n1 = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        joined.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
            (cents("l_extendedprice") * (100 - cents("l_discount")) / F.lit(10000.0)).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("volume").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q19_discounted_revenue",
    f"""
    SELECT sum({_DISC_PRICE_SQL})/10000.0 AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity >= 10 AND l.l_quantity <= 30)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity >= 20 AND l.l_quantity <= 40)
    """,
    doc="TPC-H Q19 discounted revenue: OR'd predicate groups spanning the join — Catalyst pushes the common conjuncts into both scans",
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    grp = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30)
           & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50)
           & F.col("l_quantity").between(20, 40))
    )
    return j.where(grp).agg(
        (F.sum(cents("l_extendedprice") * (100 - cents("l_discount"))) / F.lit(10000.0)).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "q4_order_priority",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="TPC-H Q4 shape: EXISTS → left-semi join, then priority counts (adapted: returned-lineitem predicate; schema has no commit/receipt dates)",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= ts_lit("1996-01-01")) & (F.col("o_orderdate") < ts_lit("1996-04-01"))
    )
    li = read_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q14_promo_revenue",
    f"""
    SELECT 100.0 * sum(CASE WHEN p_type LIKE 'PROMO%' THEN {_DISC_PRICE_SQL} ELSE 0 END)
             / sum({_DISC_PRICE_SQL}) AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
      AND l.l_shipdate < TIMESTAMP '1996-10-01'
    """,
    doc="TPC-H Q14 promo revenue: broadcast part join + conditional ratio, exact int64 sums and one final division",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= ts_lit("1996-09-01")) & (F.col("l_shipdate") < ts_lit("1996-10-01"))
    )
    part = read_table(spark, sf_dir, "part")
    disc = cents("l_extendedprice") * (100 - cents("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type").like("PROMO%"), disc).otherwise(F.lit(0)))
                / F.sum(disc)
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "q18_large_volume_customers",
    """
    SELECT c.c_name, c.c_custkey, o.o_orderkey, epoch_ms(o.o_orderdate) AS orderdate_ms,
           CAST(round(o.o_totalprice*100) AS BIGINT)/100.0 AS totalprice,
           CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    HAVING sum(CAST(round(l_quantity) AS BIGINT)) > 300
    ORDER BY totalprice DESC, o_orderkey
    LIMIT 20
    """,
    bench=True,
    doc="TPC-H Q18 large-volume customers: HAVING post-aggregation filter + top-20 (the reference has no HAVING operator — free as a filter over the agg)",
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    # aggregate lineitem FIRST and apply the HAVING filter before any join:
    # the >300-qty orders are rare, so the join input collapses from every
    # lineitem row to a tiny order set — at 100 TB this is one partial+final
    # agg shuffle instead of a full 3-way join.  No broadcast hint: AQE sees
    # the post-filter size at runtime and picks broadcast itself (measured
    # faster than forcing it, which serializes the agg behind the exchange).
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.round("l_quantity").cast("long")).alias("total_qty"))
        .where(F.col("total_qty") > 300)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.unix_millis("o_orderdate").alias("orderdate_ms"),
            (cents("o_totalprice") / F.lit(100.0)).alias("totalprice"),
            "total_qty",
        )
        .orderBy(F.col("totalprice").desc(), "o_orderkey")
        .limit(20)
    )


# =========================================================================
# Side inputs (multimap), side outputs (partition!), try_map
# =========================================================================


@query(
    "q_side_multimap",
    """
    WITH mm AS (
      SELECT s_nationkey, list_sort(list(s_name)) AS nation_suppliers
      FROM supplier GROUP BY s_nationkey
    )
    SELECT c.c_custkey,
           CAST(coalesce(len(mm.nation_suppliers), 0) AS BIGINT) AS n_suppliers,
           coalesce(mm.nation_suppliers[1], '') AS first_supplier
    FROM customer c LEFT JOIN mm ON c.c_nationkey = mm.s_nationkey
    WHERE c.c_custkey <= 300
    ORDER BY c.c_custkey
    """,
    doc="broadcast multimap side input: key → sorted value list, pre-aggregated before broadcast (ref map_with_side_multimap, src/helpers/side_inputs.rs:355)",
)
def q_side_multimap(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer").where(F.col("c_custkey") <= 300)
    supp = read_table(spark, sf_dir, "supplier")
    out = with_side_multimap(
        cust, supp, on="c_nationkey", side_key="s_nationkey",
        collect_col="s_name", out_col="nation_suppliers",
    )
    return out.select(
        "c_custkey",
        F.coalesce(F.size("nation_suppliers"), F.lit(0)).cast("long").alias("n_suppliers"),
        F.coalesce(F.element_at("nation_suppliers", 1), F.lit("")).alias("first_supplier"),
    ).orderBy("c_custkey")


@query(
    "q_partition_tags",
    """
    WITH tagged AS (
      SELECT CASE WHEN l_returnflag = 'R' THEN 'returned'
                  WHEN l_linestatus = 'O' THEN 'open'
                  ELSE 'closed' END AS tag, *
      FROM lineitem
    )
    SELECT tag, CAST(count(*) AS BIGINT) AS n,
           sum(CAST(round(l_extendedprice*100) AS BIGINT))/100.0 AS volume
    FROM tagged GROUP BY tag ORDER BY tag
    """,
    doc="partition!/side outputs: classify once (cached), one filtered output per tag (ref partition! macro, src/helpers/partition.rs:335)",
)
def q_partition_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    tag = (
        F.when(F.col("l_returnflag") == "R", F.lit("returned"))
        .when(F.col("l_linestatus") == "O", F.lit("open"))
        .otherwise(F.lit("closed"))
    )
    parts = partition_tags(li, tag, ["closed", "open", "returned"])
    outs = [
        p.agg(F.count(F.lit(1)).alias("n"), sum_money("l_extendedprice", "volume"))
        .select(F.lit(t).alias("tag"), "n", "volume")
        for t, p in parts.items()
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("tag")


@query(
    "q_try_map",
    """
    SELECT event_id,
           CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) = 50
                THEN NULL
                ELSE CAST(round(value*100) AS BIGINT)
                     / (CAST(json_extract_string(props, '$.k') AS BIGINT) - 50) END AS scaled,
           CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) = 50
                THEN 'div_by_zero' ELSE NULL END AS error
    FROM events
    WHERE event_id < 2000
    ORDER BY event_id
    """,
    doc="try_map: Result<O,E> stream — output NULL on error rows, error NULL on ok rows (ref try_map, src/helpers/try_process.rs:67)",
)
def q_try_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").where(F.col("event_id") < 2000)
    k = F.get_json_object("props", "$.k").cast("long")
    out = try_map(
        ev,
        {"scaled": cents("value") / (k - 50)},
        F.when(k == 50, F.lit("div_by_zero")).otherwise(F.lit(None).cast("string")),
    )
    return out.select("event_id", "scaled", "error").orderBy("event_id")


# =========================================================================
# to_dict / bottom-k per key / latest global (SURVEY §2.4, §2.6)
# =========================================================================


@query(
    "q_to_dict",
    """
    SELECT to_json(map_from_entries(list_sort(list({'key': event_type, 'value': n}))))
             AS type_counts
    FROM (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type
    )
    """,
    doc="to_dict terminal: keyed PC → map, entries key-sorted for determinism (ref ToDict combiner, src/combiners/collect.rs:207)",
)
def q_to_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    counts = ev.key_by("event_type").count_per_key(alias="n")
    # serialize the map as JSON: both engines render sorted entries
    # identically, giving the value-hash a stable scalar to compare
    d = counts.to_dict("event_type", "n", alias="type_counts")
    return d.map(F.to_json(F.col("type_counts")).alias("type_counts")).df


@query(
    "q_bottom_k_per_key",
    """
    SELECT c_nationkey, c_custkey, c_acctbal
    FROM (
      SELECT c_nationkey, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal, c_custkey) AS rn
      FROM customer
    ) WHERE rn <= 3
    ORDER BY c_nationkey, c_acctbal, c_custkey
    """,
    doc="bottom_k_per_key via window row_number ≤ k (ref BottomK, src/combiners/topk.rs:23)",
)
def q_bottom_k_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").key_by("c_nationkey")
    out = cust.top_k_per_key(3, F.col("c_acctbal").asc(), F.col("c_custkey").asc())
    return out.df.select("c_nationkey", "c_custkey", "c_acctbal").orderBy(
        "c_nationkey", "c_acctbal", "c_custkey"
    )


@query(
    "q_latest_global",
    """
    SELECT arg_max(event_id, ts) AS latest_event_id,
           arg_max(event_type, ts) AS latest_event_type,
           max(epoch_ms(ts)) AS latest_ms
    FROM events
    """,
    doc="latest_globally = max_by(value, ts) (ref Latest combiner, src/combiners/latest.rs:61)",
)
def q_latest_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    ts_ms = to_epoch_ms(ev, "ts")  # dtype-aware (TIMESTAMP or int64 nanos)
    return ev.agg(
        F.max_by("event_id", ts_ms).alias("latest_event_id"),
        F.max_by("event_type", ts_ms).alias("latest_event_type"),
        F.max(ts_ms).alias("latest_ms"),
    )


# =========================================================================
# Offset tumbling window (ref Window::tumble offset semantics)
# =========================================================================


@query(
    "q_tumble_offset",
    """
    SELECT user_id,
           90000 + (epoch_ms(ts) - 90000) // 600000 * 600000 AS window_start,
           CAST(count(*) AS BIGINT) AS n,
           sum(CAST(round(value*100) AS BIGINT))/100.0 AS sum_value
    FROM events
    WHERE user_id < 20
    GROUP BY user_id, (epoch_ms(ts) - 90000) // 600000
    ORDER BY user_id, window_start
    """,
    doc="tumbling window with non-zero offset: start = offset + floor((ts-offset)/size)*size (ref Window::tumble, src/window.rs:85-96)",
)
def q_tumble_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").where(F.col("user_id") < 20)
    out = combine_per_key_and_window(
        ev,
        "ts",
        600_000,
        ["user_id"],
        F.count(F.lit(1)).alias("n"),
        sum_money("value", "sum_value"),
        offset_ms=90_000,
    )
    return out.orderBy("user_id", "window_start")


# =========================================================================
# TPC-H long tail — ratio aggregates, decorrelated subqueries, EXISTS chains
# (adapted to the testdata schema: no partsupp / comment / receipt columns;
# each keeps the reference query's operator shape. Ref: ironbeam examples of
# composite pipelines, e.g. examples/wordcount + join/groupBy combinators.)
# =========================================================================


@query(
    "q8_market_share",
    f"""
    SELECT o_year,
           CAST(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END) AS DOUBLE)
             / CAST(sum(volume) AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
             {_DISC_PRICE_SQL} AS volume,
             n2.n_name AS nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      JOIN region r ON n1.n_regionkey = r.r_regionkey
      JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'AMERICA'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1998-01-01'
        AND p.p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
    doc="TPC-H Q8 market share: 8-way join, ratio of conditional sum over total per year; exact int64 sums so the double ratio is bit-stable",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    li = read_table(spark, sf_dir, "lineitem")
    supp = read_table(spark, sf_dir, "supplier")
    orders = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= ts_lit("1996-01-01")) & (F.col("o_orderdate") < ts_lit("1998-01-01"))
    )
    cust = read_table(spark, sf_dir, "customer")
    n1 = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    region = read_table(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    volume = cents("l_extendedprice") * (100 - cents("l_discount"))
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == region.r_regionkey)
        .join(F.broadcast(n2), supp.s_nationkey == F.col("n2_key"))
    )
    return (
        joined.select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            volume.alias("volume"),
            "nation",
        )
        .groupBy("o_year")
        .agg(
            (
                F.sum(F.when(F.col("nation") == "NATION_3", F.col("volume")).otherwise(F.lit(0))).cast("double")
                / F.sum("volume").cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query(
    "q9_product_profit",
    f"""
    SELECT nation, o_year, sum(amount)/10000.0 AS sum_profit
    FROM (
      SELECT n.n_name AS nation,
             CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
             {_DISC_PRICE_SQL}
               - CAST(round(p.p_retailprice*100) AS BIGINT)
                 * CAST(round(l.l_quantity) AS BIGINT) * 100 AS amount
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE p.p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    bench=True,
    doc="TPC-H Q9 product-type profit (retailprice stands in for ps_supplycost — no partsupp table): LIKE-filtered 5-way join, per nation-year margin",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    li = read_table(spark, sf_dir, "lineitem")
    supp = read_table(spark, sf_dir, "supplier")
    orders = read_table(spark, sf_dir, "orders")
    nation = read_table(spark, sf_dir, "nation")
    amount = cents("l_extendedprice") * (100 - cents("l_discount")) - cents("p_retailprice") * F.round(
        "l_quantity"
    ).cast("long") * F.lit(100)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg((F.sum("amount") / F.lit(10000.0)).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


@query(
    "q13_customer_distribution",
    """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    doc="TPC-H Q13 customer distribution (priority filter stands in for the comment LIKE — no o_comment column): left join preserving zero-order customers, double aggregation",
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").where(F.col("o_orderpriority") != "1-URGENT")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "q15_top_supplier",
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(sum({_DISC_PRICE_SQL}) AS BIGINT) AS rev_scaled
      FROM lineitem l
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.rev_scaled/10000.0 AS total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.rev_scaled = (SELECT max(rev_scaled) FROM revenue)
    ORDER BY s.s_suppkey
    """,
    doc="TPC-H Q15 top supplier: quarterly revenue CTE reused for both the scalar max and the join — exact int64 revenue makes the max-equality deterministic",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= ts_lit("1996-01-01")) & (F.col("l_shipdate") < ts_lit("1996-04-01"))
    )
    supp = read_table(spark, sf_dir, "supplier")
    revenue = caches.hold(
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(cents("l_extendedprice") * (100 - cents("l_discount"))).alias("rev_scaled"))
        .persist()
    )
    best = revenue.agg(F.max("rev_scaled").alias("best_rev"))
    return (
        revenue.join(F.broadcast(best), F.col("rev_scaled") == F.col("best_rev"))
        .join(F.broadcast(supp), F.col("supplier_no") == supp.s_suppkey)
        .select("s_suppkey", "s_name", (F.col("rev_scaled") / F.lit(10000.0)).alias("total_revenue"))
        .orderBy("s_suppkey")
    )


@query(
    "q17_small_quantity_revenue",
    """
    SELECT sum(CAST(round(l.l_extendedprice*100) AS BIGINT))/7000.0 AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1' AND p.p_size = 5
      AND 5 * CAST(round(l.l_quantity) AS BIGINT)
            * (SELECT count(*) FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
          < (SELECT CAST(sum(CAST(round(l2.l_quantity) AS BIGINT)) AS BIGINT)
             FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
    """,
    doc="TPC-H Q17 small-quantity revenue (p_size stands in for p_container): correlated avg subquery, decorrelated into a per-part aggregate join; qty < 0.2*avg rewritten as 5*qty*cnt < sum for exact integer comparison",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").where((F.col("p_brand") == "Brand#1") & (F.col("p_size") == 5))
    qty = F.round("l_quantity").cast("long")
    per_part = li.groupBy(F.col("l_partkey").alias("agg_partkey")).agg(
        F.count(F.lit(1)).alias("cnt_qty"), F.sum(qty).alias("sum_qty")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(per_part, li.l_partkey == F.col("agg_partkey"))
        .where(F.lit(5) * qty * F.col("cnt_qty") < F.col("sum_qty"))
        .agg((F.sum(cents("l_extendedprice")) / F.lit(7000.0)).alias("avg_yearly"))
    )


@query(
    "q21_suppliers_kept_waiting",
    """
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    bench=True,
    doc="TPC-H Q21 suppliers kept waiting (returnflag='R' stands in for receipt>commit — no receipt/commit dates): EXISTS + NOT EXISTS on sibling lineitems via leftsemi/leftanti joins",
)
def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    supp = read_table(spark, sf_dir, "supplier")
    orders = read_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    l1 = li.where(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    # EXISTS/NOT EXISTS over sibling lineitems collapse to a per-order
    # aggregate instead of two shuffled self-joins of the fact table:
    #   EXISTS other-supplier row      ⟺ #distinct suppliers ≥ 2
    #   NOT EXISTS other R-supplier    ⟺ #distinct R-suppliers == 1
    # (the l1 row itself is R, so "exactly one R supplier" means it's l1's).
    # Two-level agg, not countDistinct: distinct (order, supplier) pairs
    # first (map-side partial combine, no Expand), then a count per order.
    # At 100 TB: lineitem moves twice (l1 + int-only pair agg) instead of 3×.
    pair = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("is_r")
    )
    stats = (
        pair.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_supps"), F.sum("is_r").alias("n_r_supps"))
        .where((F.col("n_supps") >= 2) & (F.col("n_r_supps") == 1))
        .select("l_orderkey")
    )
    waiting = l1.join(
        orders.select("o_orderkey"), l1.l_orderkey == F.col("o_orderkey")
    ).join(stats, on="l_orderkey")
    return (
        waiting.join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@query(
    "q22_global_sales_opportunity",
    """
    WITH pool AS (
      SELECT c_custkey, c_nationkey, CAST(round(c_acctbal*100) AS BIGINT) AS acct_cents
      FROM customer WHERE c_nationkey IN (1, 2, 3, 4, 5, 6, 7)
    ),
    thresh AS (
      SELECT CAST(sum(acct_cents) AS BIGINT) AS sum_cents, count(*) AS cnt
      FROM pool WHERE acct_cents > 0
    )
    SELECT c_nationkey AS cntrycode,
           CAST(count(*) AS BIGINT) AS numcust,
           sum(acct_cents)/100.0 AS totacctbal
    FROM pool, thresh
    WHERE acct_cents * cnt > sum_cents
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = pool.c_custkey
                      AND o.o_orderpriority = '1-URGENT')
    GROUP BY c_nationkey
    ORDER BY cntrycode
    """,
    doc="TPC-H Q22 global sales opportunity (c_nationkey stands in for phone country code; 'no urgent orders' stands in for 'no orders' — every synthetic customer has orders): scalar avg threshold (exact: bal*cnt > sum), NOT EXISTS anti-join",
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer").where(F.col("c_nationkey").isin(1, 2, 3, 4, 5, 6, 7))
    orders = read_table(spark, sf_dir, "orders")
    pool = cust.select("c_custkey", "c_nationkey", cents("c_acctbal").alias("acct_cents"))
    thresh = pool.where(F.col("acct_cents") > 0).agg(
        F.sum("acct_cents").alias("sum_cents"), F.count(F.lit(1)).alias("cnt")
    )
    return (
        pool.join(F.broadcast(thresh))
        .where(F.col("acct_cents") * F.col("cnt") > F.col("sum_cents"))
        .join(
            orders.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey"),
            pool.c_custkey == F.col("o_custkey"),
            "leftanti",
        )
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(F.count(F.lit(1)).alias("numcust"), (F.sum("acct_cents") / F.lit(100.0)).alias("totacctbal"))
        .orderBy("cntrycode")
    )


# -------------------------------------------------------------------------
# TPC-H Q2/Q11/Q16/Q20 shapes — the testdata has no partsupp table, so
# lineitem serves as the part<->supplier link; each query keeps the original
# plan shape (correlated min, scalar-subquery HAVING, NOT IN exclusion,
# nested IN) which is what matters for engine parity.
# -------------------------------------------------------------------------


@query(
    "q2_min_cost_supplier",
    """
    WITH cost AS (
      SELECT l.l_partkey, l.l_suppkey,
             min(CAST(round(l.l_extendedprice*100) AS BIGINT)) AS cost_cents
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_regionkey = 1
      WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 5)
      GROUP BY l.l_partkey, l.l_suppkey
    )
    SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_size,
           c.cost_cents/100.0 AS supplycost
    FROM cost c
    JOIN supplier s ON s.s_suppkey = c.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN part p ON p.p_partkey = c.l_partkey
    WHERE c.cost_cents = (SELECT min(c2.cost_cents) FROM cost c2 WHERE c2.l_partkey = c.l_partkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
    doc="TPC-H Q2 minimum-cost supplier (lineitem min price stands in for ps_supplycost): correlated min subquery decorrelated into a window min; dims broadcast so lineitem shuffles once on (part,supp)",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    nat = read_table(spark, sf_dir, "nation").where(F.col("n_regionkey") == 1)
    supp = read_table(spark, sf_dir, "supplier")
    supp_r = supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
    part = read_table(spark, sf_dir, "part").where(F.col("p_size") == 5)
    li = read_table(spark, sf_dir, "lineitem")
    cost = (
        li.join(F.broadcast(supp_r.select("s_suppkey")), li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(cents("l_extendedprice")).alias("cost_cents"))
    )
    best = cost.withColumn(
        "min_cost", F.min("cost_cents").over(Window.partitionBy("l_partkey"))
    ).where(F.col("cost_cents") == F.col("min_cost"))
    return (
        best.join(F.broadcast(supp_r), F.col("l_suppkey") == supp_r.s_suppkey)
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_size",
            (F.col("cost_cents") / F.lit(100.0)).alias("supplycost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "q11_important_stock",
    """
    WITH val AS (
      SELECT l.l_partkey,
             CAST(sum(CAST(round(l.l_extendedprice*100) AS BIGINT)) AS BIGINT) AS value_cents
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      WHERE s.s_nationkey = 3
      GROUP BY l.l_partkey
    )
    SELECT l_partkey, value_cents/100.0 AS value
    FROM val, (SELECT CAST(sum(value_cents) AS BIGINT) AS tot, count(*) AS cnt FROM val) t
    WHERE value_cents * cnt > 2 * tot
    ORDER BY value DESC, l_partkey
    """,
    doc="TPC-H Q11 important stock (lineitem value per part for one nation's suppliers): scalar-subquery HAVING threshold, scale-free and exact as value*cnt > 2*total (parts above 2x the average value); the per-part agg is reused for both sides",
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    supp = read_table(spark, sf_dir, "supplier").where(F.col("s_nationkey") == 3)
    val = caches.hold(
        li.join(F.broadcast(supp.select("s_suppkey")), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(cents("l_extendedprice")).alias("value_cents"))
        .persist()
    )
    total = val.agg(F.sum("value_cents").alias("total_cents"), F.count(F.lit(1)).alias("part_cnt"))
    return (
        val.join(F.broadcast(total))
        .where(F.col("value_cents") * F.col("part_cnt") > 2 * F.col("total_cents"))
        .select("l_partkey", (F.col("value_cents") / F.lit(100.0)).alias("value"))
        .orderBy(F.col("value").desc(), "l_partkey")
    )


@query(
    "q16_supplier_part_counts",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_size IN (1, 2, 3, 4, 5)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    doc="TPC-H Q16 parts/supplier relationship (negative s_acctbal stands in for complaint suppliers): NOT IN exclusion as a broadcast anti-join, count(DISTINCT) over three group keys",
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 2, 3, 4, 5)
    )
    bad = read_table(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == F.col("s_suppkey"), "leftanti")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@query(
    "q20_excess_stock_suppliers",
    """
    WITH shipped AS (
      SELECT l_suppkey, l_partkey,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red %')
      GROUP BY l_suppkey, l_partkey
    ),
    tot AS (
      SELECT l_partkey AS t_partkey, CAST(sum(qty) AS BIGINT) AS total_qty
      FROM shipped GROUP BY l_partkey
    )
    SELECT s.s_name, s.s_nationkey
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT sh.l_suppkey FROM shipped sh
      JOIN tot ON tot.t_partkey = sh.l_partkey
      WHERE 2 * sh.qty > total_qty
    )
    ORDER BY s_name
    """,
    doc="TPC-H Q20 potential part promotion (majority share of a part's shipped qty stands in for availqty > half of sold): nested IN subqueries as semi-joins; per-part totals joined back without recomputing the base agg",
)
def q20_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= ts_lit("1996-01-01")) & (F.col("l_shipdate") < ts_lit("1997-01-01"))
    )
    red = read_table(spark, sf_dir, "part").where(F.col("p_name").like("red %")).select("p_partkey")
    supp = read_table(spark, sf_dir, "supplier")
    shipped = caches.hold(
        li.join(F.broadcast(red), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.round("l_quantity").cast("long")).alias("qty"))
        .persist()
    )
    tot = shipped.groupBy(F.col("l_partkey").alias("t_partkey")).agg(F.sum("qty").alias("total_qty"))
    excess = (
        shipped.join(F.broadcast(tot), shipped.l_partkey == F.col("t_partkey"))
        .where(2 * F.col("qty") > F.col("total_qty"))
        .select("l_suppkey")
    )
    return (
        supp.join(excess, supp.s_suppkey == excess.l_suppkey, "leftsemi")
        .select("s_name", "s_nationkey")
        .orderBy("s_name")
    )


@query(
    "q_frequent_pairs",
    # the oracle counts pairs directly (no pruning) — downward closure makes
    # the engine's pruned two-pass plan return the identical result
    """
    WITH bi AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
                FROM lineitem),
    pairs AS (SELECT a.item AS item1, b.item AS item2
              FROM bi a JOIN bi b
                ON a.basket = b.basket AND a.item < b.item)
    SELECT item1, item2, CAST(count(*) AS BIGINT) AS support
    FROM pairs GROUP BY item1, item2 HAVING count(*) >= 3
    ORDER BY item1, item2
    """,
    doc="A-priori frequent item pairs (market-basket over order lineitems: which parts co-occur in >= 3 orders; Agrawal/Srikant VLDB'94 — public paper, no ref analogue): distinct presence pairs, ONE combinable pass-1 item-support aggregate, LEFT SEMI downward-closure prune BEFORE the basket-keyed self-join (per-task cost bounded by pruned basket size squared, never corpus squared), one final combinable pair count — the same shape surfaces tag/domain co-occurrence and boilerplate-template detection in corpus cleaning (operators/itemsets.py)",
)
def q_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.itemsets import frequent_item_pairs

    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return frequent_item_pairs(
        li, "l_orderkey", "l_partkey", min_support=3
    ).orderBy("item1", "item2")


@query(
    "q_triangle_count",
    # the oracle closes wedges with a third equi-join on the same edge CTE;
    # orientation is a count-preserving optimization, so it needs none
    bench=True,  # graph-family sf1 ladder sentinel: a skew regression in
    # wedge generation (the 'last reducer' hub curse) must show up as a
    # superlinear scale_ratio here, not hide behind q_pagerank's
    # iteration-dominated profile
    oracle="""
    WITH bi AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
                FROM lineitem),
    pairs AS (SELECT a.item AS i1, b.item AS i2
              FROM bi a JOIN bi b
                ON a.basket = b.basket AND a.item < b.item),
    edges AS (SELECT i1 AS a, i2 AS b FROM pairs
              GROUP BY i1, i2 HAVING count(*) >= 2),
    tri AS (SELECT e1.a FROM edges e1
            JOIN edges e2 ON e1.b = e2.a
            JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b)
    SELECT CAST(count(*) AS BIGINT) AS n_triangles FROM tri
    """,
    doc="distributed triangle counting over the part co-occurrence graph (Suri/Vassilvitskii WWW'11 — public paper; completes the graph family with connected components and PageRank): edges = part pairs sharing >= 2 orders (the A-priori pair output), degree-ORIENTED so every vertex's out-degree is O(sqrt(m)) and a co-occurrence hub can never melt one task (the 'last reducer' curse); wedge self-join + one LEFT SEMI close, every stage an equi-join or combinable aggregate (operators/triangles.py)",
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.itemsets import frequent_item_pairs
    from ironbeam_spark.operators.triangles import triangle_count

    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = frequent_item_pairs(
        li, "l_orderkey", "l_partkey", min_support=2, prune=False
    )
    # frequent_item_pairs output is grouped by the ordered pair -> already
    # canonical distinct; skip the redundant edge-dedup shuffle (opt r12)
    return triangle_count(
        edges, "item1", "item2", orient="degree", input_canonical=True
    )


@query(
    "q_clustering_coeff",
    # per-node credit: each 3-join triangle row feeds all three vertices
    # through UNION ALL; coeff is one division, so values are bit-exact
    """
    WITH bi AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
                FROM lineitem),
    pairs AS (SELECT a.item AS i1, b.item AS i2
              FROM bi a JOIN bi b
                ON a.basket = b.basket AND a.item < b.item),
    edges AS (SELECT i1 AS a, i2 AS b FROM pairs
              GROUP BY i1, i2 HAVING count(*) >= 2),
    tri AS (SELECT e1.a, e1.b, e2.b AS c FROM edges e1
            JOIN edges e2 ON e1.b = e2.a
            JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b),
    pern AS (SELECT v, count(*) AS t FROM (
               SELECT a AS v FROM tri
               UNION ALL SELECT b FROM tri
               UNION ALL SELECT c FROM tri) GROUP BY v),
    deg AS (SELECT v, count(*) AS d FROM (
              SELECT a AS v FROM edges
              UNION ALL SELECT b FROM edges) GROUP BY v)
    SELECT deg.v AS node,
           CAST(d AS BIGINT) AS degree,
           CAST(COALESCE(t, 0) AS BIGINT) AS n_triangles,
           CASE WHEN d >= 2
                THEN COALESCE(t, 0)::DOUBLE / (d*(d-1)/2)::DOUBLE
                ELSE 0.0 END AS coeff
    FROM deg LEFT JOIN pern ON pern.v = deg.v
    ORDER BY node
    """,
    doc="per-node local clustering coefficient over the part co-occurrence graph (the standard graph-quality feature: how clique-like is each node's neighborhood): degree-oriented closed wedges credit all three vertices (3 rows/triangle explode -> ONE combinable count), coeff = triangles / C(degree,2) as a single division (operators/triangles.node_clustering)",
)
def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.itemsets import frequent_item_pairs
    from ironbeam_spark.operators.triangles import node_clustering

    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = frequent_item_pairs(
        li, "l_orderkey", "l_partkey", min_support=2, prune=False
    )
    return node_clustering(
        edges, "item1", "item2", orient="degree", input_canonical=True
    ).orderBy(
        "node"
    )


@query(
    "q_link_prediction",
    # candidate pairs come only through shared neighbors; jaccard is a
    # single division so values are bit-exact
    """
    WITH bi AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
                FROM lineitem),
    pairs AS (SELECT a.item AS i1, b.item AS i2
              FROM bi a JOIN bi b
                ON a.basket = b.basket AND a.item < b.item),
    edges AS (SELECT i1 AS a, i2 AS b FROM pairs
              GROUP BY i1, i2 HAVING count(*) >= 2),
    nb AS (SELECT a AS c, b AS n FROM edges
           UNION ALL SELECT b AS c, a AS n FROM edges),
    deg AS (SELECT c, count(*) AS d FROM nb GROUP BY c),
    cn AS (SELECT x.n AS node1, y.n AS node2, count(*) AS common,
                  CAST(sum(1000000 // dx.d) AS BIGINT) AS ra_micro
           FROM nb x JOIN nb y ON x.c = y.c AND x.n < y.n
           JOIN deg dx ON dx.c = x.c
           GROUP BY 1, 2 HAVING count(*) >= 2)
    SELECT cn.node1, cn.node2,
           CAST(common AS BIGINT) AS common,
           CAST(d1.d AS BIGINT) AS degree1,
           CAST(d2.d AS BIGINT) AS degree2,
           common::DOUBLE / (d1.d + d2.d - common)::DOUBLE AS jaccard,
           ra_micro
    FROM cn JOIN deg d1 ON d1.c = cn.node1 JOIN deg d2 ON d2.c = cn.node2
    ORDER BY node1, node2
    """,
    doc="link-prediction candidates over the part co-occurrence graph (Liben-Nowell/Kleinberg CIKM'03 — public paper): pairs sharing >= 2 neighbors, found ONLY through a center-keyed adjacency self-join (never all-pairs; max_degree raises on hubs — the same fail-fast quadratic guard as max_basket_items/max_df), scored with single-division neighborhood Jaccard (operators/linkpred.py)",
)
def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.itemsets import frequent_item_pairs
    from ironbeam_spark.operators.linkpred import common_neighbors_join

    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = frequent_item_pairs(
        li, "l_orderkey", "l_partkey", min_support=2, prune=False
    )
    return common_neighbors_join(
        edges, "item1", "item2", min_common=2, max_degree=10_000
    ).orderBy("node1", "node2")
