"""Query-level seq/par differential (SURVEY §5, reference
tests/mega_integration.rs): representative registry queries must return
IDENTICAL results under radically different shuffle parallelism.

The reference proves partition-invariance by running every pipeline both
sequentially and parallel; the Spark analogue is the shuffle-partition
count, which moves every exchange boundary, AQE coalescing decision, and
per-partition evaluation order.  The picked queries cover each mechanism
with a potential partitioning dependence: the two-level bucketed scan and
its dependents (prefix scan / packing / sharding), iterative graph
algebra (pagerank, triangles), banded minhash + connected components,
order-statistics sketches (KMV), seeded sampling (priority reservoir,
weighted systematic), and a partial+final TPC-H aggregate.  Under
``IRONBEAM_ARROW_SWEEP=1`` the same compare runs over the whole registry.
Each run goes through ``tools/check.py``'s runner, so the two widths are
two conf variants of one query and ``diff`` compares them.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE, sweep_gate
from tools.check import diff, run_query

from ironbeam_spark.suite import QUERIES

REPRESENTATIVES = [
    "q_prefix_scan",
    "q_token_packing",
    "q_shard_export",
    "q_scan_string_key",
    # the stamped fallback (double key): RangePartitioner slice count and
    # spark_partition_id stamps are exactly the env-sensitive machinery
    # this differential exists to catch
    "q_scan_float_key",
    "q_weighted_sample",
    "q_pagerank",
    "q_triangle_count",
    "q_dedup_minhash",
    # delta-vs-index classification: min-id winner + min_by jaccard picks
    # must not depend on which partition delivers a candidate first
    "q_dedup_incremental",
    "q_corpus_clean",
    "q_kmv_distinct",
    "q_sample_reservoir",
    "q1_pricing_summary",
    # iterative greedy argmax: each round's farthest-point pick must not
    # depend on which partition reports its max first
    "q_kcenter",
    # q-gram prefix-filter join: candidate generation order varies with
    # partitioning; the verified output must not
    "q_editdist_join",
    # corpus-wide keep-first line winner: min-by aggregate across shuffles
    "q_line_dedup",
    # BPE merge induction: the argmax pair each round is a global decision
    # assembled from partial counts
    "q_bpe_tokenize",
    # group-aware split: component labels (iterative min-propagation) and
    # the md5 bucket assignment must agree across shuffle widths
    "q_leakage_safe_split",
    # contrastive triples: the seeded priority pool is a bounded driver
    # collect over a distributed sort — its membership AND order must not
    # depend on partitioning, nor may the per-anchor exclusion filter
    "q_contrastive_pairs",
    # --- r11: the differential now covers the ENTIRE headline set (the
    # r10-committed rule pairs bench membership with this differential and
    # the sf1 ladder; closing the historical gap makes the statement
    # unconditional).  Mechanisms worth naming:
    # float-fold determinism claims (sorted ratio-sum / rational LM):
    "q_dsir_weights",
    "q_lm_score",
    # top-k by float score with id tiebreaks:
    "q_ann_bruteforce",
    "q_ann_ivfpq",
    # gram-posting span assembly + min-winner scrub:
    "q_substring_spans",
    # window-chain history/snapshot tiebreaks:
    "q_scd2",
    "q_cdc_apply",
    "q_rollup_cascade",
    # prefix-filter candidate generation order:
    "q_setsim_search",
    # codec + dead-letter paths under different input splits:
    "q_audio_decode",
    # multi-stage composites:
    "q_quality_pipeline",
    "q_training_pipeline",
    "q_multi_join_revenue",
    # windowing / running totals:
    "q_tumble_global",
    "q_running_total",
    # plain relational (cheap; completes the headline set):
    "q_flat_map_tokens",
    "q10_returned_items",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q18_large_volume_customers",
    "q21_suppliers_kept_waiting",
    "q_join_inner",
    "q_text_stats",
    # r11 web-corpus family (same-round rule: new families enter the
    # differential when they enter the registry)
    "q_url_canonical",
    "q_domain_stats",
    "q_html_extract",
    "q_link_graph",
    "q_domain_filter",
    "q_warc_roundtrip",
    "q_robots_filter",
    "q_web_pipeline",
    # r12 additions (same-round rule)
    "q_psl_domains",
    "q_crawl_to_shards",
]


def test_headline_set_is_fully_covered(spark):
    """The r10-committed rule: every bench headliner is in this
    differential (and the sf1 ladder) — pin it so a future headline
    addition cannot silently skip the invariance check."""
    bench = {n for n, q in QUERIES.items() if q.bench}
    assert bench <= set(REPRESENTATIVES), sorted(bench - set(REPRESENTATIVES))


def _assert_invariant(spark, name):
    """Run the query at 1 and at 7 shuffle partitions; the two canonical
    results must be equal and neither run may leave state behind."""
    results, msgs = [], []
    for n in ("1", "7"):
        _, result, left = run_query(
            spark, SF_SMOKE, name, conf={"spark.sql.shuffle.partitions": n}
        )
        results.append(result)
        msgs += left
    msgs += diff(*results, labels=("1 partition", "7 partitions"))
    assert not msgs, f"{name}: " + "; ".join(msgs[:6])


@pytest.mark.parametrize("name", REPRESENTATIVES)
def test_query_invariant_under_shuffle_parallelism(name, spark):
    _assert_invariant(spark, name)


@sweep_gate
@pytest.mark.parametrize("name", list(QUERIES))
def test_registry_invariant_under_shuffle_parallelism(name, spark):
    _assert_invariant(spark, name)
