"""Plan-shape regression tests: the optimizations that make the 100 TB story
work must be visible in the physical plan, not assumed.

- filters & column pruning reach the parquet scan (PushedFilters/ReadSchema)
- dimension joins broadcast (no shuffle of the fact table)
- aggregates plan partial+final (map-side combine)
- global top-k uses TakeOrderedAndProject (no full sort)
"""

from __future__ import annotations

import pyspark.sql.functions as F

from ironbeam_spark.plans.explain import plan_report
from ironbeam_spark.session import scoped_conf
from ironbeam_spark.suite import QUERIES
from tests.conftest import SF_SMOKE


def test_q6_filters_and_columns_pushed_to_scan(spark):
    df = QUERIES["q6_forecast_revenue"].fn(spark, SF_SMOKE)
    rep = plan_report(df)
    pushed = " ".join(rep.pushed_filters)
    assert "l_shipdate" in pushed and "l_quantity" in pushed, rep.narrative()
    # column pruning: the scan must not read the whole 11-column lineitem
    assert rep.read_schemas, "no ReadSchema found"
    schema = rep.read_schemas[0]
    assert "l_returnflag" not in schema and "l_orderkey" not in schema, schema


def test_join_queries_broadcast_dimensions(spark):
    for name in ("q_join_inner", "q3_shipping_priority", "q5_local_supplier_volume"):
        rep = plan_report(QUERIES[name].fn(spark, SF_SMOKE))
        assert rep.broadcast_joins >= 1, f"{name}: no broadcast join\n{rep.narrative()}"
        assert rep.sortmerge_joins == 0, f"{name}: unexpected sort-merge join"


def test_q1_partial_final_aggregation(spark):
    rep = plan_report(QUERIES["q1_pricing_summary"].fn(spark, SF_SMOKE), execute=True)
    # partial + final HashAggregate pair = map-side combine before the shuffle
    assert rep.hash_aggregates >= 2, rep.narrative()
    assert rep.codegen_stages >= 1, "aggregation fell out of codegen"


def test_top_k_uses_take_ordered(spark):
    rep = plan_report(QUERIES["q_top_k_global"].fn(spark, SF_SMOKE))
    assert rep.take_ordered, rep.narrative()


def test_scan_column_pruning_on_projection(spark):
    from ironbeam_spark.sources.io import read_table

    li = read_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    rep = plan_report(li)
    assert rep.read_schemas and "l_extendedprice" not in rep.read_schemas[0]


def test_narrative_renders(spark):
    rep = plan_report(QUERIES["q5_local_supplier_volume"].fn(spark, SF_SMOKE))
    text = rep.narrative()
    assert "broadcast=" in text and "codegen" in text


def test_cost_estimates_on_scan_filter_join(spark):
    """Catalyst row/size estimates surface in the report and narrative for a
    scan → filter → join pipeline (reference ExecutionExplanation.cost,
    src/planner.rs:304-786)."""
    from ironbeam_spark.sources.io import read_table

    li = read_table(spark, SF_SMOKE, "lineitem").where(F.col("l_quantity") > 25)
    orders = read_table(spark, SF_SMOKE, "orders")
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey", "l_quantity", "o_totalprice"
    )
    rep = plan_report(joined)
    assert rep.output_estimate is not None
    assert rep.output_estimate.size_bytes > 0
    # one leaf estimate per parquet scan, each with a real size
    assert len(rep.leaf_estimates) == 2, rep.leaf_estimates
    assert all(e.size_bytes > 0 for e in rep.leaf_estimates)
    # the filter makes the join output estimate smaller than the raw
    # lineitem×orders upper bound, and the narrative renders the numbers
    text = rep.narrative()
    assert "cost estimate (output):" in text and "cost estimate (scan):" in text
    assert f"~{rep.output_estimate.size_bytes} B" in text


def test_runtime_bloom_filter_injected_on_shuffle_join(spark):
    """When a shuffle join's build side carries a selective filter, Spark
    injects a bloom_filter_might_contain predicate on the probe side — at
    100 TB this prunes most fact-table rows before they are shuffled.  The
    thresholds are lowered here only because local test data is tiny; at real
    scale the defaults (10 MB creation side / 10 GB application side) fire on
    their own."""
    from pyspark.sql import functions as F

    from ironbeam_spark.sources.io import read_table

    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force a shuffle join
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    with scoped_conf(spark, tuned):
        orders = read_table(spark, SF_SMOKE, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = read_table(spark, SF_SMOKE, "lineitem")
        joined = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:2000]


def test_asof_join_single_exchange_no_nested_loop(spark):
    """The as-of join plans as union + one hash-partitioned window — exactly
    one Exchange on the key, and never a BroadcastNestedLoopJoin."""
    from ironbeam_spark.operators.temporal import asof_join

    left = spark.range(100).select(
        (F.col("id") % 5).alias("k"), (F.col("id") * 10).alias("lt")
    )
    right = spark.range(50).select(
        (F.col("id") % 5).alias("k"), (F.col("id") * 17).alias("rt"),
        F.col("id").alias("v"),
    )
    out = asof_join(left, right, ["k"], "lt", "rt", ["v"])
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert "BroadcastNestedLoop" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_interval_join_is_equi_join(spark):
    """The interval join must plan as a hash/sort-merge EQUI join on
    (key, bucket) — the naive non-equi formulation would be nested-loop."""
    from ironbeam_spark.operators.temporal import interval_join

    points = spark.range(200).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("pt")
    )
    ivs = spark.range(20).select(
        (F.col("id") % 3).alias("k"), (F.col("id") * 10).alias("s"),
        (F.col("id") * 10 + 15).alias("e"),
    )
    out = interval_join(points, ivs, ["k"], "pt", "s", "e", bucket_width=10)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert "BroadcastNestedLoop" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or ("BroadcastHashJoin" in plan)


def test_no_scale_killers_in_any_query(spark):
    """Sweep EVERY registry query's executed plan: zero CartesianProduct
    anywhere, and BroadcastNestedLoopJoin only where the nested side is a
    single row (scalar-subquery thresholds in Q11/Q22, the 1-row guarantee
    joins in q_heavy_hitters) or the declared |Q|x|C| exactness baseline
    (q_ann_bruteforce).  Any new query joining carelessly fails here."""
    # BNLJ over a 1-row side is a map-side constant join, not a scale smell
    BNLJ_ALLOWED = {
        "q_ann_bruteforce",       # declared brute-force baseline, broadcast Q side
        "q_heavy_hitters",        # crossJoin of single-row aggregate checks
        "q22_global_sales_opportunity",  # scalar subquery (avg acctbal)
        "q11_important_stock",    # scalar subquery (value threshold)
        "q_histogram",            # 1-row min/max bounds broadcast
        "q_bm25_rational",        # 1-row corpus-stats aggregate broadcast
        "q_ann_int8",             # declared brute-force baseline (quantized)
        "q_ann_pq",               # declared ADC scan over m-byte PQ codes
                                  # (the design point: broadcast queries+ADC
                                  # tables over the code table, never the
                                  # raw embeddings)
        "q_ann_ivfpq",            # 1-row codebook/centroid carrier joins
                                  # (_with_codebooks/_side_array); the SEARCH
                                  # join is the cell-id equi-join, asserted
                                  # in test_pq_search_join_is_equi_join
        "q_dsir_weights",         # 1-row feature-total aggregates broadcast
        "q_pretrain_pipeline",    # embeds q_dsir_weights' total broadcasts
        "q_kmv_setops",           # 1-row sketch-stat aggregates crossed
        "q_lm_score",             # 1-row (N, V) totals aggregate broadcast
        "q_price_histogram",      # 1-row min/max bounds broadcast (grid+counts)
        "q_stream_left_join",     # 1-row watermark-cutoff aggregate broadcast
        "q_collocations",         # 1-row token-total aggregate broadcast
        "q_prefix_scan",          # 1-row key-min/max stats broadcast
                                  # (global_running_sum bucketed path)
        "q_token_packing",        # same scan stats row (via global_running_sum)
        "q_scan_string_key",      # same scan stats row (string-key bucketed path)
        "q_shard_export",         # same scan stats row (shard_assignment rides
                                  # global_running_sum)
        "q_weighted_sample",      # same scan stats row + 1-row W/offset row
        "q_crawl_to_shards",      # same scan stats row (token packing rides
                                  # global_running_sum's bucketed path)
    }
    bnlj_hits, cartesian_hits = set(), set()
    for name, q in QUERIES.items():
        if name == "q_stream_tumble":  # runs a streaming sink; covered elsewhere
            continue
        df = q.fn(spark, SF_SMOKE)
        plan = df._jdf.queryExecution().executedPlan().toString().split(
            "== Initial Plan =="
        )[0]
        if "CartesianProduct" in plan:
            cartesian_hits.add(name)
        if "BroadcastNestedLoopJoin" in plan:
            bnlj_hits.add(name)
    assert cartesian_hits == set(), cartesian_hits
    assert bnlj_hits <= BNLJ_ALLOWED, bnlj_hits - BNLJ_ALLOWED


def test_line_dedup_winner_aggregate_is_partial_final(spark):
    """The corpus-wide line-winner aggregate must map-side combine — a
    boilerplate line with 10^8 occurrences otherwise hot-keys a reducer."""
    rep = plan_report(QUERIES["q_line_dedup"].fn(spark, SF_SMOKE), execute=True)
    assert rep.hash_aggregates >= 2, rep.narrative()


def test_histogram_shuffle_is_bucket_bounded(spark):
    """The histogram groupBy keys on the bucket id (<= n_buckets groups) and
    must plan partial+final — the shuffle is histogram-sized, not data-sized."""
    rep = plan_report(QUERIES["q_price_histogram"].fn(spark, SF_SMOKE), execute=True)
    assert rep.hash_aggregates >= 2, rep.narrative()
    assert rep.broadcast_joins >= 1, rep.narrative()  # bounds + grid broadcast


def test_scd2_single_exchange_window_chain(spark):
    """Both SCD2 window passes share one (key, order) spec: exactly one
    Exchange below the Window operators (plus the final collect)."""
    from ironbeam_spark.operators.scd import scd2_history
    from ironbeam_spark.sources.io import read_table

    ev = read_table(spark, SF_SMOKE, "events")
    hist = scd2_history(ev, ["user_id"], "ts", ["event_type"],
                        tiebreak_cols=["event_id"])
    plan = hist._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan[:2000]


def test_cdc_apply_single_exchange(spark):
    from ironbeam_spark.operators.cdc import apply_changes
    from ironbeam_spark.sources.io import read_table

    ev = read_table(spark, SF_SMOKE, "events")
    snap = apply_changes(ev, ["user_id"], "ts", tiebreak_cols=["event_id"])
    plan = snap._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]


def test_minhash_guard_band_key_exchange_is_reused_in_smj_mode(spark):
    """The guard's window count claims (operators/dedup.py) that its
    band_key exchange is the SAME exchange the bucket self-join needs, so
    enabling the guard adds no shuffle at scale.  Pin that: in sort-merge
    mode (the 100 TB shape — postings too big to broadcast), the FINAL
    adaptive plan must shuffle the postings on band_key exactly ONCE, with
    the second join side a ReusedExchange of the first (signature + explode
    subtree computed once, not twice).

    Without AQE exchange reuse this plan would contain two independent
    Exchange-on-band_key subtrees, doubling the most expensive stage of the
    dedup pipeline; this test fails if a conf or plan change ever breaks
    the reuse."""
    import re

    from ironbeam_spark.operators.dedup import minhash_candidates, minhash_signature
    from ironbeam_spark.sources.io import read_table

    with scoped_conf(
        spark,
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        },
    ):
        docs = read_table(spark, SF_SMOKE, "documents")
        sh = docs.select(
            "doc_id",
            F.array_distinct(F.split(F.lower(F.col("text")), r"\W+")).alias("sh"),
        ).where(F.size("sh") > 0)
        signed = sh.withColumn("sig", minhash_signature(F.col("sh"), 8))
        cand = minhash_candidates(
            signed, "doc_id", "sig", bands=4, rows_per_band=2,
            max_band_bucket=10_000,
        )
        cand.collect()  # drive AQE to the final plan
        plan = cand._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "isFinalPlan=true" in final, final[:500]
        assert "SortMergeJoin" in final, final[:2000]
        real = len(re.findall(r"\+- Exchange hashpartitioning\(band_key", final))
        reused = len(re.findall(r"ReusedExchange \[[^\]]*band_key", final))
        assert real == 1 and reused == 1, (
            f"expected 1 real + 1 reused band_key exchange, got {real} real / "
            f"{reused} reused:\n{final[:3000]}"
        )


def test_crawl_to_shards_plan_census(spark):
    """q_crawl_to_shards' 100 TB claims, pinned on the executed plan:

    - the WARC decode + canonicalize + robots + extract + quality + exact
      dedup front half materializes EXACTLY ONCE (the eager localCheckpoint
      — its consumers scan an ExistingRDD; NO Python stage of any flavor
      may appear in the post-checkpoint plan: not the WARC decode nor the
      derive pass, whatever nodes they compile to);
    - zero CartesianProduct; BNLJ only as the scan's 1-row stats carrier
      (global_running_sum bucketed path, the q_token_packing class);
    - the corpus-side hash-exchange census stays countable on fingers:
      the survivor anti-join / token-scan join-backs on doc_id, the two
      scan bucket exchanges, and the final shard rollup — pinned ≤ 12 so
      a regression that re-shuffles the corpus an extra time fails here.
    """
    from ironbeam_spark.suite import QUERIES

    df = QUERIES["q_crawl_to_shards"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # decode + derive ran once, behind the checkpoint — no Python node left
    assert "MapInPandas" not in plan
    assert "MapInArrow" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Scan ExistingRDD" in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 12, f"{n_exchanges} corpus exchanges:\n{plan[:3000]}"


def test_web_pipeline_corpus_never_shuffles_before_rollup(spark):
    """q_web_pipeline's claim: the CORPUS side carries zero hash exchanges
    before the final domain-key aggregation — every shuffle in the plan
    either IS that rollup exchange / the output sort, or lives inside a
    BroadcastExchange subtree (the metadata-scale robots-rules table).
    Walk the plan-tree art by indentation and assert it."""
    from ironbeam_spark.suite import QUERIES

    plan = (
        QUERIES["q_web_pipeline"]
        .fn(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )

    def depth(line: str) -> int:
        for marker in ("+- ", ":- "):
            if marker in line:
                return line.index(marker)
        return -1

    corpus_exchanges = 0
    broadcast_depth: int | None = None
    for line in plan.splitlines():
        d = depth(line)
        if broadcast_depth is not None:
            if d >= 0 and d <= broadcast_depth:
                broadcast_depth = None  # left the broadcast subtree
            else:
                continue  # metadata-scale work under a BroadcastExchange
        if "BroadcastExchange" in line:
            broadcast_depth = d
        elif "Exchange hashpartitioning" in line:
            assert "registered_domain" in line, line  # only the rollup key
            corpus_exchanges += 1
    assert corpus_exchanges == 1, plan[:3000]
    assert "CartesianProduct" not in plan


def test_substring_spans_text_shuffles_once(spark):
    """q_substring_spans widens its single-split input once: the narrow
    (doc_id, text) projection sits under ONE round-robin exchange to the
    default parallelism, and the second gram branch reads that exchange's
    output through a ReusedExchange instead of shuffling the text again."""
    import re

    from ironbeam_spark.sources.io import read_table

    n = spark.sparkContext.defaultParallelism
    docs = read_table(spark, SF_SMOKE, "documents")
    assert docs.rdd.getNumPartitions() < n  # the rule widens this input
    df = QUERIES["q_substring_spans"].fn(spark, SF_SMOKE)
    df.collect()
    lines = (
        df._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
        .splitlines()
    )
    rr = f"Exchange RoundRobinPartitioning({n})"
    exchanges = [i for i, line in enumerate(lines) if f"+- {rr}" in line]
    assert len(exchanges) == 1, "\n".join(lines)
    below = "\n".join(lines[exchanges[0] : exchanges[0] + 3])
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in below, below
    reused = [line for line in lines if "ReusedExchange" in line]
    assert len(reused) == 1 and rr in reused[0], reused
    plan_id = re.search(r"plan_id=\d+", lines[exchanges[0]]).group(0)
    assert plan_id in reused[0], (plan_id, reused[0])
