"""Production-data operator queries: deterministic sampling, dead-letter
routing, validation, regex/JSON extraction, batching, broadcast side inputs,
approximate sketches (SURVEY §2.6 sampling, §2.10, §2.11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ironbeam_spark.functions.exact import sum_money
from ironbeam_spark.operators.dead_letter import Rule, map_catching, validate
from ironbeam_spark.operators.sampling import sample_fraction, sample_per_key, sample_reservoir
from ironbeam_spark.suite.registry import _t, query


@query(
    "q_sample_reservoir",
    """
    SELECT o_orderkey, o_totalprice
    FROM (
      SELECT o_orderkey, o_totalprice,
             md5('42|' || o_orderkey::VARCHAR) AS pri
      FROM orders
    )
    ORDER BY pri, o_orderkey::VARCHAR
    LIMIT 100
    """,
    doc="deterministic seeded reservoir: top-k by md5 priority over a unique key (ref PriorityReservoir, src/combiners/sampling.rs:12; SURVEY §7 item 1)",
)
def q_sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").df
    out = sample_reservoir(orders, 100, 42, "o_orderkey")
    return out.select("o_orderkey", "o_totalprice")


@query(
    "q_sample_fraction",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE ('0x' || substr(md5('7|' || o_orderkey::VARCHAR), 1, 12))::BIGINT
          < CAST(floor(0.05 * 281474976710656) AS BIGINT)
    ORDER BY o_orderkey
    """,
    doc="deterministic Bernoulli sample: stateless hash filter, the 100TB scale path (ref sample_globally, src/helpers/sampling.rs:90)",
)
def q_sample_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").df
    out = sample_fraction(orders, 0.05, 7, "o_orderkey")
    return out.select("o_orderkey", "o_totalprice").orderBy("o_orderkey")


@query(
    "q_sample_per_key",
    """
    SELECT user_id, event_id
    FROM (
      SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY md5('11|' || event_id::VARCHAR), event_id) AS rn
      FROM events
    ) WHERE rn <= 2
    ORDER BY user_id, event_id
    """,
    doc="per-key deterministic sample via hash-priority window (ref sample_per_key, src/helpers/sampling.rs:164)",
)
def q_sample_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").df
    out = sample_per_key(ev, 2, 11, ["user_id"], "event_id")
    return out.select("user_id", "event_id").orderBy("user_id", "event_id")


@query(
    "q_dead_letter",
    """
    WITH classified AS (
      SELECT *,
             CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 80
                  THEN 'k_out_of_range'
                  WHEN event_type = 'error' THEN 'upstream_error'
                  ELSE NULL END AS error
      FROM events
    )
    SELECT 'good' AS stream, CAST(count(*) AS BIGINT) AS n,
           sum(CAST(round(value*100) AS BIGINT))/100.0 AS sum_value
    FROM classified WHERE error IS NULL
    UNION ALL
    SELECT 'dead:' || error AS stream, CAST(count(*) AS BIGINT) AS n,
           sum(CAST(round(value*100) AS BIGINT))/100.0 AS sum_value
    FROM classified WHERE error IS NOT NULL
    GROUP BY error
    ORDER BY stream
    """,
    doc="dead-letter split: classify once, route good/error streams (ref map_catching, src/helpers/dead_letter.rs:142)",
)
def q_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").df
    err = (
        F.when(
            F.get_json_object("props", "$.k").cast("long") >= 80, F.lit("k_out_of_range")
        )
        .when(F.col("event_type") == "error", F.lit("upstream_error"))
        .otherwise(F.lit(None).cast("string"))
    )
    good, dead = map_catching(ev, {}, err, cache=True)
    g = good.agg(
        F.count(F.lit(1)).alias("n"), sum_money("value", "sum_value")
    ).select(F.lit("good").alias("stream"), "n", "sum_value")
    d = (
        dead.groupBy("error")
        .agg(F.count(F.lit(1)).alias("n"), sum_money("value", "sum_value"))
        .select(F.concat(F.lit("dead:"), F.col("error")).alias("stream"), "n", "sum_value")
    )
    return g.unionByName(d).orderBy("stream")


@query(
    "q_validate",
    """
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_valid
    FROM customer
    WHERE c_acctbal >= 0 AND length(c_name) > 5
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    doc="validation SkipInvalid mode: predicate rules filter (ref validate_with_mode, src/helpers/validation.rs:67)",
)
def q_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").df
    valid, _ = validate(
        cust,
        [
            Rule("nonnegative_balance", F.col("c_acctbal") >= 0),
            Rule("name_length", F.length("c_name") > 5),
        ],
        mode="skip_invalid",
    )
    return (
        valid.groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_valid"))
        .orderBy("c_mktsegment")
    )


@query(
    "q_regex_suite",
    r"""
    SELECT event_id,
           regexp_extract(props, '"k": ([0-9]+)', 1) AS k_str,
           CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k,
           regexp_replace(props, '[0-9]+', '#', 'g') AS masked,
           CASE WHEN regexp_matches(props, '^\{"k": [0-9]+\}$') THEN 1 ELSE 0 END AS full_match
    FROM events
    WHERE CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) % 7 = 0
    ORDER BY event_id
    """,
    doc="regex suite: extract/replace/full-match (ref src/helpers/regex.rs:88-302)",
)
def q_regex_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").df
    k_str = F.regexp_extract("props", '"k": ([0-9]+)', 1)
    return (
        ev.select(
            "event_id",
            k_str.alias("k_str"),
            k_str.cast("long").alias("k"),
            F.regexp_replace("props", "[0-9]+", "#").alias("masked"),
            F.when(F.col("props").rlike(r'^\{"k": [0-9]+\}$'), F.lit(1))
            .otherwise(F.lit(0))
            .alias("full_match"),
        )
        .where(k_str.cast("long") % 7 == 0)
        .orderBy("event_id")
    )


@query(
    "q_group_into_batches",
    """
    WITH numbered AS (
      SELECT c_nationkey, c_name,
             row_number() OVER (PARTITION BY c_nationkey ORDER BY c_name) AS rn
      FROM customer
    )
    SELECT c_nationkey, CAST((rn - 1) // 10 AS BIGINT) AS batch_id,
           array_to_string(list_sort(list(c_name)), '|') AS c_name_batch
    FROM numbered
    GROUP BY c_nationkey, (rn - 1) // 10
    ORDER BY c_nationkey, batch_id
    """,
    doc="group_into_batches: per-key chunks of <=10 via one window + one groupBy (ref src/helpers/batches.rs:297); batch serialized '|'-joined so the driver's value-hash can canonicalize it (arrays are unhashable there)",
)
def q_group_into_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").key_by("c_nationkey")
    out = cust.map("c_nationkey", "c_name").key_by("c_nationkey").group_into_batches(
        10, "c_name", sort=True, keep_batch_id=True
    )
    return out.df.select(
        "c_nationkey",
        "batch_id",
        F.array_join("c_name_batch", "|").alias("c_name_batch"),
    ).orderBy("c_nationkey", "batch_id")


@query(
    "q_side_input_map",
    """
    SELECT s.s_name,
           CAST(count(*) AS BIGINT) AS n_items,
           sum(CAST(round(l.l_extendedprice*100) AS BIGINT))/100.0 AS revenue
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_name
    ORDER BY s.s_name
    """,
    doc="side-input map lookup = broadcast-hash join on a tiny dimension (ref map_with_side_map, src/helpers/side_inputs.rs:235)",
)
def q_side_input_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").df
    supp = F.broadcast(_t(spark, sf_dir, "supplier").df)
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n_items"), sum_money("l_extendedprice", "revenue"))
        .orderBy("s_name")
    )


@query(
    "q_approx_distinct",
    # the sketch estimate is banded against the exact count inside the query,
    # so the oracle is the band contract itself (SURVEY §7 tolerance rule)
    "SELECT TRUE AS parts_within_band, TRUE AS orders_within_band",
    doc="approx_count_distinct (HLL++, rsd 0.016 like reference precision 12 — src/combiners/distinct.rs:230); emits within-band booleans (|approx/exact - 1| < 5*rsd) so the driver gate has an exact oracle; raw rel-err test in tests/test_operators.py",
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    band = 5 * 0.016  # 5 sigma of the configured rsd
    return li.agg_global(
        F.approx_count_distinct("l_partkey", 0.016).alias("ap"),
        F.approx_count_distinct("l_orderkey", 0.016).alias("ao"),
        F.countDistinct("l_partkey").alias("ep"),
        F.countDistinct("l_orderkey").alias("eo"),
    ).map(
        parts_within_band=(
            F.abs(F.col("ap") / F.col("ep") - F.lit(1.0)) < F.lit(band)
        ),
        orders_within_band=(
            F.abs(F.col("ao") / F.col("eo") - F.lit(1.0)) < F.lit(band)
        ),
    ).df


@query(
    "q_approx_quantiles",
    # banded against exact interpolated quantiles at +-1% rank tolerance
    "SELECT TRUE AS q25_within_band, TRUE AS q50_within_band, "
    "TRUE AS q75_within_band, TRUE AS median_qty_within_band",
    doc="approx quantiles via percentile_approx accuracy=10000 (ref ApproxQuantiles t-digest, src/combiners/quantiles.rs:34; SURVEY §7 item 2); each estimate asserted within the exact [p-0.01, p+0.01] rank band so the driver gate has an exact oracle",
)
def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    aggs = []
    for p, tag in [(0.25, "q25"), (0.5, "q50"), (0.75, "q75")]:
        aggs += [
            F.percentile_approx("l_extendedprice", F.lit(p), F.lit(10000)).alias(f"a_{tag}"),
            F.percentile("l_extendedprice", F.lit(max(p - 0.01, 0.0))).alias(f"lo_{tag}"),
            F.percentile("l_extendedprice", F.lit(min(p + 0.01, 1.0))).alias(f"hi_{tag}"),
        ]
    aggs += [
        F.percentile_approx("l_quantity", F.lit(0.5), F.lit(10000)).alias("a_mq"),
        F.percentile("l_quantity", F.lit(0.49)).alias("lo_mq"),
        F.percentile("l_quantity", F.lit(0.51)).alias("hi_mq"),
    ]
    out = li.agg_global(*aggs)
    return out.map(
        q25_within_band=F.col("a_q25").between(F.col("lo_q25"), F.col("hi_q25")),
        q50_within_band=F.col("a_q50").between(F.col("lo_q50"), F.col("hi_q50")),
        q75_within_band=F.col("a_q75").between(F.col("lo_q75"), F.col("hi_q75")),
        median_qty_within_band=F.col("a_mq").between(F.col("lo_mq"), F.col("hi_mq")),
    ).df


@query(
    "q_collect_sorted",
    """
    SELECT l_orderkey, l_linenumber, epoch_ms(l_shipdate) AS ship_ms
    FROM lineitem
    ORDER BY l_returnflag, l_shipdate DESC, l_orderkey, l_linenumber
    LIMIT 50
    """,
    doc="collect_sorted: multi-key range-partitioned sort (ref collect_par_sorted, src/helpers/collect_sorted.rs:72)",
)
def q_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").df
    return (
        li.orderBy(
            "l_returnflag", F.col("l_shipdate").desc(), "l_orderkey", "l_linenumber"
        )
        .limit(50)
        .select("l_orderkey", "l_linenumber", F.unix_millis("l_shipdate").alias("ship_ms"))
    )


@query(
    "q_msgpack",
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           sum(CAST(round(l_extendedprice*100) AS BIGINT))/100.0 AS revenue
    FROM lineitem
    WHERE l_orderkey % 10 = 0
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="msgpack sink+source end-to-end (ref write_msgpack_par + read_msgpack, src/helpers/msgpack.rs:140,254): partition-parallel encode to byte-concatenable shards, binaryFile + Arrow-batched decode back, then aggregate — oracle computes the same aggregate straight from parquet",
)
def q_msgpack(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ironbeam_spark.sources.io import read_msgpack, write_msgpack

    li = _t(spark, sf_dir, "lineitem").df.where(F.col("l_orderkey") % 10 == 0).select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    path = tempfile.mkdtemp(prefix="ironbeam_msgpack_q_")
    write_msgpack(li, path)
    back = read_msgpack(
        spark, path, "l_orderkey long, l_returnflag string, l_extendedprice double"
    ).df
    return (
        back.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), sum_money("l_extendedprice", "revenue"))
        .orderBy("l_returnflag")
    )


@query(
    "q_custom_source",
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem
    WHERE l_orderkey % 20 = 0
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="from_custom_source via the Python DataSource API (ref src/helpers/custom_source.rs): msgpack registered as format('msgpack'), DSv2 writer emits shards, DSv2 reader schedules one task per shard, then aggregate — oracle reads parquet directly",
)
def q_custom_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ironbeam_spark.sources.custom import register_msgpack_format

    register_msgpack_format(spark)
    li = _t(spark, sf_dir, "lineitem").df.where(F.col("l_orderkey") % 20 == 0).select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    path = tempfile.mkdtemp(prefix="ironbeam_custom_src_q_")
    # shard count follows input partitioning; right-size it to the (small)
    # filtered volume — each DSv2 python task is a worker round-trip, so 32
    # near-empty shards paid ~20s of pure task overhead for ~3k rows.
    # At real volume the same operator keeps many shards (one per partition).
    li.coalesce(4).write.format("msgpack").option("path", path).mode("append").save()
    back = (
        spark.read.format("msgpack")
        .schema("l_orderkey long, l_returnflag string, l_quantity double")
        .option("path", path)
        .load()
    )
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round("l_quantity").cast("long")).alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_salted_join",
    """
    SELECT s.s_name,
           CAST(count(*) AS BIGINT) AS n_items,
           sum(CAST(round(l.l_extendedprice*100) AS BIGINT))/100.0 AS revenue
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE l.l_quantity >= 30
    GROUP BY s.s_name
    ORDER BY s.s_name
    """,
    doc="salted join (skew lever, operators/skew.py): small side exploded K ways, big side deterministically salted, join on (key, salt) — result identical to the plain join, which IS the oracle; hot keys spread over K reducers at 100 TB",
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").df.where(F.col("l_quantity") >= 30).select(
        "l_orderkey", "l_suppkey", "l_extendedprice"
    )
    supp = _t(spark, sf_dir, "supplier").df.select("s_suppkey", "s_name")
    joined = salted_join(
        li.withColumnRenamed("l_suppkey", "s_suppkey"),
        supp,
        on=["s_suppkey"],
        buckets=8,
        big_unique_col="l_orderkey",
    )
    return (
        joined.groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n_items"), sum_money("l_extendedprice", "revenue"))
        .orderBy("s_name")
    )


@query(
    "q_salted_agg",
    """
    SELECT l_suppkey,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem
    GROUP BY l_suppkey
    ORDER BY l_suppkey
    """,
    doc="salted two-phase aggregation (skew lever, operators/skew.py): partial by (key, salt), final by key — assoc+comm aggregates only, result identical to the direct groupBy, which IS the oracle",
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.skew import salted_agg

    li = _t(spark, sf_dir, "lineitem").df
    out = salted_agg(
        li,
        ["l_suppkey"],
        partial_aggs=[
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.round("l_quantity").cast("long")).alias("pq"),
        ],
        final_aggs=[
            F.sum("pn").alias("n"),
            F.sum("pq").alias("sum_qty"),
        ],
        buckets=8,
        unique_col="l_orderkey",
    )
    return out.orderBy("l_suppkey")


@query(
    "q_training_mix",
    """
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars
    FROM documents
    WHERE ('0x' || substr(md5('11|' || doc_id::VARCHAR), 1, 12))::BIGINT
          < CASE WHEN source IN ('src0','src1','src2') THEN CAST(floor(0.9 * 281474976710656) AS BIGINT)
                 WHEN source IN ('src3','src4') THEN CAST(floor(0.5 * 281474976710656) AS BIGINT)
                 ELSE CAST(floor(0.1 * 281474976710656) AS BIGINT) END
    GROUP BY source
    ORDER BY source
    """,
    doc="deterministic training-data mixing (north-star pipeline op): per-source Bernoulli rates on the stateless md5 priority — one codegen filter, no shuffle, reproducible under any partitioning (same discipline as q_sample_fraction; ref sample_globally, src/helpers/sampling.rs:90)",
)
def q_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.sampling import training_mix

    docs = _t(spark, sf_dir, "documents").df
    weights = {"src0": 0.9, "src1": 0.9, "src2": 0.9, "src3": 0.5, "src4": 0.5}
    mixed = training_mix(docs, "source", weights, seed=11, key_col="doc_id", default_weight=0.1)
    return (
        mixed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("total_chars"),
        )
        .orderBy("source")
    )


@query(
    "q_avro",
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           sum(CAST(round(l_extendedprice*100) AS BIGINT))/100.0 AS revenue
    FROM lineitem
    WHERE l_orderkey % 15 = 0
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="avro sink+source end-to-end (ref read/write_avro, src/helpers/avro.rs:109-289): partition-parallel OCF shards via the dependency-free spec codec (Java-interop-tested), binaryFile + Arrow-batched decode back, then aggregate — oracle computes the same aggregate straight from parquet",
)
def q_avro(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ironbeam_spark.sources.io import read_avro, write_avro

    li = _t(spark, sf_dir, "lineitem").df.where(F.col("l_orderkey") % 15 == 0).select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    path = tempfile.mkdtemp(prefix="ironbeam_avro_q_")
    write_avro(li.coalesce(4), path)
    back = read_avro(spark, path).df
    return (
        back.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), sum_money("l_extendedprice", "revenue"))
        .orderBy("l_returnflag")
    )


@query(
    "q_arrow_ipc",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           sum(CAST(round(o_totalprice*100) AS BIGINT))/100.0 AS revenue
    FROM orders
    WHERE o_orderkey % 10 = 0
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    doc="Arrow IPC (Feather V2) sink+source end-to-end (no ref counterpart; north-star ML-loader interchange): zstd-compressed one-shard-per-partition write and Arrow-to-Arrow mapInArrow read (sources/arrow_ipc.py), then aggregate — oracle computes the same aggregate straight from parquet",
)
def q_arrow_ipc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ironbeam_spark.sources.io import read_arrow_ipc, write_arrow_ipc

    orders = _t(spark, sf_dir, "orders").df.where(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = tempfile.mkdtemp(prefix="ironbeam_arrow_q_")
    write_arrow_ipc(orders.coalesce(4), path, compression="zstd")
    back = read_arrow_ipc(spark, path).df
    return (
        back.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), sum_money("o_totalprice", "revenue"))
        .orderBy("o_orderstatus")
    )


@query(
    "q_train_split",
    # bucket = first 12 md5 hex chars of '23|doc_id' as int48; thresholds at
    # 0.8 and 0.9 of the hash space - the oracle applies the identical
    # arithmetic, so the assignment (not just the counts) is verified
    """
    WITH b AS (
      SELECT source, length(text) AS nc,
             ('0x' || substr(md5('23|' || doc_id::VARCHAR), 1, 12))::BIGINT AS h
      FROM documents
    )
    SELECT source,
           CASE WHEN h < CAST(floor(0.8 * 281474976710656) AS BIGINT) THEN 'train'
                WHEN h < CAST(floor(0.9 * 281474976710656) AS BIGINT) THEN 'val'
                ELSE 'test' END AS split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nc) AS BIGINT) AS total_chars
    FROM b
    GROUP BY source, split
    ORDER BY source, split
    """,
    doc="deterministic train/val/test corpus split (80/10/10): per-doc md5-bucket assignment - reproducible under any partitioning/re-run, same-key rows always co-assigned (leakage guard); one codegen projection + one aggregate (operators/sampling.train_val_test_split)",
)
def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.sampling import train_val_test_split

    docs = _t(spark, sf_dir, "documents").df
    split = train_val_test_split(docs, "doc_id", seed=23, train=0.8, val=0.1)
    return (
        split.groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("total_chars"),
        )
        .orderBy("source", "split")
    )


@query(
    "q_webdataset",
    # Exact oracle: the tar shards are REALLY written (stdlib-tar members,
    # one shard per partition, atomic commit) from documents and REALLY
    # parsed back; per-sample stats must match what the source table says
    # byte for byte.
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS txt_bytes,
           lang,
           CAST(2 AS BIGINT) AS n_fields
    FROM documents WHERE doc_id < 200
    ORDER BY doc_id
    """,
    doc="WebDataset-style tar-shard ingestion (the de-facto layout for large multimodal training corpora): one shard per partition with atomic commit, stdlib-tar member walk in the shared shard source (sources/shards.shard_source, one mapInArrow), sample regrouping into a field->payload map; per-sample byte/field stats verified against the source table (sources/tar.py; north-star sources)",
)
def q_webdataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ironbeam_spark.sources.tar import (
        read_tar_members,
        webdataset_samples,
        write_tar_shards,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .df.where(F.col("doc_id") < 200)
        .select("doc_id", F.col("text").alias("txt"), F.col("lang").alias("meta"))
    )
    path = tempfile.mkdtemp(prefix="ironbeam_wds_q_")
    write_tar_shards(docs.repartition(4), path, "doc_id", ["txt", "meta"])
    samples = webdataset_samples(read_tar_members(spark, path))
    return samples.select(
        F.col("sample").cast("long").alias("doc_id"),
        F.octet_length(F.col("fields")["txt"]).cast("long").alias("txt_bytes"),
        F.decode(F.col("fields")["meta"], "UTF-8").alias("lang"),
        F.size(F.map_keys(F.col("fields"))).cast("long").alias("n_fields"),
    ).orderBy("doc_id")


@query(
    "q_orc",
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           sum(CAST(round(l_extendedprice*100) AS BIGINT))/100.0 AS revenue
    FROM lineitem
    WHERE l_orderkey % 17 = 0
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="ORC sink+source end-to-end (sources/io.read_orc/write_orc, Spark-native vectorized stripes — the other columnar warehouse format, beyond the reference's format list): partition-parallel write, predicate-pushdown read back, aggregate — oracle computes the same aggregate straight from parquet",
)
def q_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ironbeam_spark.sources.io import read_orc, write_orc

    li = _t(spark, sf_dir, "lineitem").df.where(F.col("l_orderkey") % 17 == 0).select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    path = tempfile.mkdtemp(prefix="ironbeam_orc_q_")
    write_orc(li.coalesce(4), path)
    back = read_orc(spark, path).df
    return (
        back.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), sum_money("l_extendedprice", "revenue"))
        .orderBy("l_returnflag")
    )


# -- weighted systematic (PPS) sampling (round 6): Madow 1949 ---------------


@query(
    "q_weighted_sample",
    # k=100 probes walk the cumulative cents line from a seeded offset;
    # floor(j*W/k) is decomposed so nothing overflows int64 at any W
    """
    WITH w AS (SELECT o_orderkey,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS weight
               FROM orders
               WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0),
    c AS (SELECT o_orderkey, weight,
                 sum(weight) OVER (ORDER BY o_orderkey) AS cum
          FROM w),
    tot AS (SELECT CAST(sum(weight) AS BIGINT) AS tw FROM w),
    oo AS (SELECT ('0x' || substr(md5('606'), 1, 12))::BIGINT % tw AS off, tw
           FROM tot),
    p AS (SELECT (off + j * (tw // 100) + (j * (tw % 100)) // 100) % tw AS t
          FROM oo, unnest(generate_series(0, 99)) AS u(j)),
    hits AS (SELECT c.o_orderkey,
                    CAST(count(*) AS BIGINT) AS multiplicity
             FROM c JOIN p ON p.t >= c.cum - c.weight AND p.t < c.cum
             GROUP BY c.o_orderkey)
    SELECT c.o_orderkey, c.weight, h.multiplicity
    FROM hits h JOIN c ON h.o_orderkey = c.o_orderkey
    ORDER BY c.o_orderkey
    """,
    doc="seeded weighted systematic (PPS) sampling of orders by total-price cents, k=100 (operators/sampling.weighted_systematic_sample, Madow 1949): cumulative-weight line from the two-pass prefix scan (never a single-partition window), probes bucket-joined at the mean stride so the bucket stream is ~k+n rows (equi-join, no range cross-join), heavy rows report multiplicity; exact int64 probe arithmetic + md5-seeded offset mirror to SQL verbatim — partitioning- and order-independent by construction (reference sampling is uniform-weight only, src/combiners/sampling.rs)",
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.sampling import weighted_systematic_sample

    orders = _t(spark, sf_dir, "orders").df
    w = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("weight"),
    )
    out = weighted_systematic_sample(
        w, k=100, seed=606, order_cols=["o_orderkey"], weight_col="weight"
    )
    return out.select("o_orderkey", "weight", "multiplicity").orderBy(
        "o_orderkey"
    )


# -- PageRank, exact integer fixed-point (round 6): operators/pagerank.py ---


@query(
    "q_pagerank",
    # ranks are int64 micro-units and every update is integer div/+/* —
    # order-free sums, so 5 rounds replay bit-exactly in a recursive CTE
    # (float PageRank's nondeterministic summation order never could)
    """
    WITH RECURSIVE
    raw AS (SELECT DISTINCT o.o_custkey * 2 AS a, l.l_suppkey * 2 + 1 AS b
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    edges AS (SELECT a AS src, b AS dst FROM raw
              UNION SELECT b, a FROM raw),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg
            FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    cnt AS (SELECT count(*) AS n FROM nodes),
    pr(iter, node, r) AS (
      SELECT 0, node, 1000000000000 // cnt.n FROM nodes, cnt
      UNION ALL
      SELECT q.iter + 1, q.node,
             CAST((15 * (1000000000000 // cnt.n)) // 100
                  + (85 * q.c) // 100 AS BIGINT)
      FROM (SELECT p.iter AS iter, e.dst AS node,
                   sum(p.r // d.outdeg) AS c
            FROM pr p
            JOIN deg d ON d.node = p.node
            JOIN edges e ON e.src = p.node
            WHERE p.iter < 5
            GROUP BY p.iter, e.dst) q, cnt
    )
    SELECT CAST(node AS BIGINT) AS node, CAST(r AS BIGINT) AS rank
    FROM pr WHERE iter = 5
    ORDER BY rank DESC, node LIMIT 50
    """,
    bench=True,
    doc="PageRank over the symmetrized customer<->supplier trade graph (operators/pagerank.pagerank, Page et al. 1999), 5 rounds of exact int64 fixed-point (micro-unit ranks, damping 85/100 as integer div — order-free sums, bit-exact cross-engine where float PageRank cannot be): per round ONE skew-immune 1:N rank-to-edges join + ONE combinable integer-sum groupBy + node-list left join, CheckpointPolicy lineage truncation (same machinery as dedup_components), top-50 hubs; node ids parity-encode the bipartite sides",
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.checkpoint import CheckpointPolicy
    from ironbeam_spark.operators.pagerank import pagerank

    orders = _t(spark, sf_dir, "orders").df
    li = _t(spark, sf_dir, "lineitem").df
    edges = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
    )
    # CheckpointPolicy.never(): 5 FIXED rounds over already-checkpointed
    # edge/node tables — unroll them into ONE terminal query instead of
    # blocking the driver on mid-loop localCheckpoint materializations
    # (guide §5; each fire costs .rdd stage-forcing + a caching pass that
    # nothing re-reads, since every round consumes its predecessor exactly
    # once).  Measured r13 at sf0.1 (palindrome A/B, 6 reps): 3.97 ->
    # 3.53 s median, 34 -> 22 Spark jobs; sf1 mins at parity.  Recovery
    # granularity is bounded: the heavy inputs (e, nodes) stay
    # materialized, so a lost executor replays at most 5 rank-table-sized
    # rounds; deep-iteration callers keep the periodic default.
    ranks = pagerank(
        edges, "src", "dst", iterations=5, symmetrize=True,
        checkpoint_policy=CheckpointPolicy.never(),
    )
    return ranks.select("node", "rank").orderBy(
        F.col("rank").desc(), "node"
    ).limit(50)


# -- table profiling (round 6): operators/profile.py ------------------------


def _profile_sql() -> str:
    rows = ["SELECT '*' AS col_name, 'count' AS metric, CAST(count(*) AS BIGINT) AS value_long, NULL::DOUBLE AS value_double, NULL::VARCHAR AS value_str FROM events"]
    cols = [
        ("event_id", "long"), ("ts", "ts"), ("user_id", "long"),
        ("event_type", "str"), ("value", "double"), ("props", "str"),
    ]
    for c, kind in cols:
        rows.append(
            f"SELECT '{c}', 'n_null', CAST(count(*) - count({c}) AS BIGINT), NULL::DOUBLE, NULL::VARCHAR FROM events"
        )
        rows.append(
            f"SELECT '{c}', 'n_distinct', CAST(count(DISTINCT {c}) AS BIGINT), NULL::DOUBLE, NULL::VARCHAR FROM events"
        )
        for m in ("min", "max"):
            if kind == "long":
                rows.append(f"SELECT '{c}', '{m}', CAST({m}({c}) AS BIGINT), NULL::DOUBLE, NULL::VARCHAR FROM events")
            elif kind == "ts":
                rows.append(f"SELECT '{c}', '{m}', {m}(epoch_us({c})), NULL::DOUBLE, NULL::VARCHAR FROM events")
            elif kind == "double":
                rows.append(f"SELECT '{c}', '{m}', NULL::BIGINT, {m}({c}), NULL::VARCHAR FROM events")
            else:
                rows.append(f"SELECT '{c}', '{m}', NULL::BIGINT, NULL::DOUBLE, {m}({c}) FROM events")
    body = "\n    UNION ALL\n    ".join(rows)
    return f"""
    SELECT * FROM (
    {body}
    ) ORDER BY col_name, metric
    """


@query(
    "q_profile_table",
    _profile_sql(),
    doc="single-pass Deequ-style table profile of events (operators/profile.profile_table): null counts, exact distinct counts, typed min/max per column — ONE aggregation job (the multi-count-distinct compiles to one Expand + two-phase aggregate, no per-column jobs), tall output exploded from the single metrics row; values stay typed (long/double/str slots — cross-engine float formatting is no contract, raw doubles are), timestamps as epoch micros; distinct='approx' documented as the 100 TB default (north-star data-quality family; reference has row Validate rules only, src/operators/validate.rs)",
)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.profile import profile_table

    ev = _t(spark, sf_dir, "events").df
    return profile_table(ev).orderBy("col_name", "metric")


# -- small-file compaction (round 6): sources/compaction.py -----------------


@query(
    "q_compaction",
    # content-preservation oracle: after shattering events into 24 small
    # files and compacting in place, the per-type content aggregates must
    # equal the originals exactly — every row survives, exactly once
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id,
           CAST(sum(user_id) AS BIGINT) AS sum_user_id,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
    doc="small-file compaction of a parquet dataset (sources/compaction.compact_parquet — the OPTIMIZE primitive of long-lived tables; the small-files problem dominates scan overhead at 1000 executors): driver-side metadata-only FFD bin packing of the sub-threshold tail (large files never rewritten — cost proportional to the small tail, not the table), one output file per bin, hidden-temp two-phase swap (same commit discipline as the shard sink); the oracle pins exact row-level content preservation through the rewrite",
)
def q_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ironbeam_spark.sources.compaction import compact_parquet

    ev = _t(spark, sf_dir, "events").df
    tmp = tempfile.mkdtemp(prefix="ironbeam_compact_q_")
    ev.repartition(24).write.mode("overwrite").parquet(tmp)
    compact_parquet(spark, tmp, target_bytes=128 << 20)
    back = spark.read.parquet(tmp)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("event_id").cast("long").alias("sum_event_id"),
            F.sum("user_id").cast("long").alias("sum_user_id"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("sum_cents"),
        )
        .orderBy("event_type")
    )


# -- exact equi-width histogram (round 6): operators/histogram.py -----------


@query(
    "q_price_histogram",
    # bin assignment is scaled-int64 `div` on both sides — float bin edges
    # put boundary values in different bins per engine, exact ints cannot
    """
    WITH v AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x
               FROM orders WHERE o_totalprice IS NOT NULL),
    b AS (SELECT min(x) AS lo, max(x) AS hi FROM v),
    c AS (SELECT greatest(least((x - lo) * 16 // greatest(hi - lo, 1), 15), 0)
                   AS bucket,
                 count(*) AS n
          FROM v, b GROUP BY 1),
    g AS (SELECT j AS bucket,
                 lo + j * (hi - lo) // 16 AS lo_cents,
                 lo + (j + 1) * (hi - lo) // 16 AS hi_cents
          FROM b, unnest(generate_series(0, 15)) AS u(j))
    SELECT g.bucket, g.lo_cents, g.hi_cents,
           CAST(coalesce(c.n, 0) AS BIGINT) AS n
    FROM g LEFT JOIN c USING (bucket) ORDER BY g.bucket
    """,
    doc="16-bucket equi-width histogram of order totals in exact scaled-int64 arithmetic (operators/histogram.equi_width_histogram — Deequ's Histogram analyzer shape): one bounded min/max row broadcast back, bin assignment via integer div (bit-exact where float edges are not), ONE combinable groupBy bounded by bucket count (shuffle is histogram-sized, not data-sized), broadcast-range join fills empty bins for a fixed n-row output",
)
def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.histogram import equi_width_histogram

    orders = _t(spark, sf_dir, "orders").df
    return equi_width_histogram(orders, "o_totalprice", 16).orderBy("bucket")


# -- dataset fingerprint + keyed table diff (round 6) -----------------------


@query(
    "q_fingerprint",
    # commutative checksum: SUM of 48-bit row hashes mod a 63-bit prime —
    # row order, partitioning and plan cannot change it; the sum runs in
    # HUGEINT (DuckDB) / DECIMAL(38) (Spark), exact far past 10^12 rows
    """
    WITH h AS (
      SELECT ('0x' || substr(md5(concat_ws('|',
               coalesce(md5(o_orderkey::VARCHAR), 'N'),
               coalesce(md5(o_custkey::VARCHAR), 'N'),
               coalesce(md5(o_orderstatus), 'N'),
               coalesce(md5(o_orderpriority), 'N'),
               coalesce(md5(epoch_us(o_orderdate)::VARCHAR), 'N')
             )), 1, 12))::BIGINT AS rh
      FROM orders
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(rh) % 9223372036854775783 AS BIGINT) AS fingerprint
    FROM h
    """,
    doc="order-invariant dataset fingerprint of orders (operators/fingerprint.dataset_fingerprint): sum of md5-48bit row hashes mod a 63-bit prime — commutative, so independent of row order/partitioning/plan (the 100 TB 'are these tables equal' check with NO sort); explicit per-type canonical casts (timestamps as epoch micros, floats rejected — their string form is no cross-engine contract), one aggregation job",
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.fingerprint import dataset_fingerprint

    orders = _t(spark, sf_dir, "orders").df
    return dataset_fingerprint(
        orders,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
         "o_orderdate"],
    )


@query(
    "q_table_diff",
    # b = events with deterministic mutations (drop %97, flip %101, add
    # %103 under shifted ids); the keyed diff must classify every key
    """
    WITH a AS (SELECT event_id, user_id, event_type FROM events),
    b AS (
      SELECT event_id, user_id,
             CASE WHEN event_id % 101 = 0 THEN 'mutated' ELSE event_type END
               AS event_type
      FROM events WHERE event_id % 97 <> 0
      UNION ALL
      SELECT event_id + 10000000, user_id, 'inserted'
      FROM events WHERE event_id % 103 = 0
    ),
    ha AS (SELECT event_id, ('0x' || substr(md5(concat_ws('|',
             coalesce(md5(user_id::VARCHAR), 'N'),
             coalesce(md5(event_type), 'N'))), 1, 12))::BIGINT AS h
           FROM a),
    hb AS (SELECT event_id, ('0x' || substr(md5(concat_ws('|',
             coalesce(md5(user_id::VARCHAR), 'N'),
             coalesce(md5(event_type), 'N'))), 1, 12))::BIGINT AS h
           FROM b),
    d AS (
      SELECT coalesce(ha.event_id, hb.event_id) AS event_id,
             CASE WHEN ha.h IS NULL THEN 'added'
                  WHEN hb.h IS NULL THEN 'removed'
                  WHEN ha.h = hb.h THEN 'unchanged'
                  ELSE 'changed' END AS status
      FROM ha FULL OUTER JOIN hb ON ha.event_id = hb.event_id
    )
    SELECT event_id, status FROM d WHERE status <> 'unchanged'
    ORDER BY event_id
    """,
    doc="keyed table diff (operators/fingerprint.table_diff): full-outer join on the key comparing 48-bit row hashes — added/removed/changed/unchanged per key in ONE key-keyed shuffle; payload columns never move, only (key, hash) pairs (the migration-validation primitive at 100 TB); verified against a deterministically mutated copy of events",
)
def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.fingerprint import table_diff

    ev = _t(spark, sf_dir, "events").df
    a = ev.select("event_id", "user_id", "event_type")
    b = (
        ev.where(F.col("event_id") % 97 != 0)
        .select(
            "event_id",
            "user_id",
            F.when(F.col("event_id") % 101 == 0, F.lit("mutated"))
            .otherwise(F.col("event_type"))
            .alias("event_type"),
        )
        .unionByName(
            ev.where(F.col("event_id") % 103 == 0).select(
                (F.col("event_id") + 10_000_000).alias("event_id"),
                "user_id",
                F.lit("inserted").alias("event_type"),
            )
        )
    )
    d = table_diff(a, b, ["event_id"], ["user_id", "event_type"])
    return d.where(F.col("status") != "unchanged").orderBy("event_id")


# -- bloom-filter file skipping (round 6): sources/bloom_index.py -----------


@query(
    "q_bloom_skip",
    # the oracle pins the no-false-negative contract end to end: reading
    # ONLY the bloom-candidate files must return exactly the rows a full
    # scan's equality filter returns, for every probe
    """
    SELECT CAST(event_id AS BIGINT) AS event_id, user_id, event_type
    FROM events
    WHERE event_id IN (0, 777, 4242, 9999)
    ORDER BY event_id
    """,
    doc="per-file Bloom skipping index (sources/bloom_index): the point-lookup complement of min/max footer pruning — an equality probe on an unsorted high-cardinality column matches every file's range, a per-file bloom sidecar skips whole objects; DISTRIBUTED build (input_file_name + Arrow-batched md5 double-hash bit arrays, metadata-sized driver merge), engine-neutral JSON sidecar, atomic rename; the query writes a multi-file copy of events, builds the index, prunes per probe and reads only candidates — output must equal the full-scan filter exactly (no false negatives, the property the format guarantees)",
)
def q_bloom_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ironbeam_spark.sources.bloom_index import build_bloom_index, prune_files

    ev = _t(spark, sf_dir, "events").df
    tmp = tempfile.mkdtemp(prefix="ironbeam_q_bloom_")
    ev.select("event_id", "user_id", "event_type").repartition(
        8, "event_id"
    ).write.mode("overwrite").parquet(tmp)
    build_bloom_index(tmp, spark, "event_id")
    probes = [0, 777, 4242, 9999]
    # seed with an empty frame so all-probes-pruned yields the empty
    # result the oracle would (None.orderBy was a crash, not a result)
    out = (
        _t(spark, sf_dir, "events")
        .df.select("event_id", "user_id", "event_type")
        .limit(0)
    )
    for p in probes:
        cand = prune_files(tmp, "event_id", p)
        if not cand:
            continue
        part = (
            spark.read.parquet(*cand)
            .where(F.col("event_id") == p)
            .select("event_id", "user_id", "event_type")
        )
        out = out.unionByName(part)
    return out.orderBy("event_id")


@query(
    "q_safetensors",
    """
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(vec_id) AS BIGINT) AS id_sum,
           CAST(sum(CAST(round(embedding[1]::DOUBLE*100000) AS BIGINT)) AS BIGINT)
             AS q0_sum
    FROM embeddings
    """,
    doc="safetensors tensor sink+source end-to-end (public HF spec; no ref counterpart — the tensor-interchange sibling of q_arrow_ipc's table interchange): one (ids int64, embeddings float32 [n,d]) shard per partition with atomic rename commit, binaryFile+Arrow read back (sources/safetensors.py), then an exact integer aggregate — float32 bits survive the roundtrip so the oracle reads the same numbers straight from parquet",
)
def q_safetensors(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ironbeam_spark.sources.io import read_safetensors, write_safetensors

    emb = _t(spark, sf_dir, "embeddings").df.select("vec_id", "embedding")
    path = tempfile.mkdtemp(prefix="ironbeam_st_q_")
    write_safetensors(emb.coalesce(4), path)
    back = read_safetensors(spark, path).df
    return back.select(
        F.col("vec_id"),
        F.round(F.col("embedding").getItem(0).cast("double") * 100000)
        .cast("long")
        .alias("_q0"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("vec_id").cast("long").alias("id_sum"),
        F.sum("_q0").cast("long").alias("q0_sum"),
    )
