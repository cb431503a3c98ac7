"""Scale-safe similarity joins: exact prefix filtering (Jaccard) and
multi-band hyperplane LSH (cosine) — the replacements for within-block
all-pairs self-joins (VERDICT r2 "What's wrong" #2/#3)."""

from __future__ import annotations

import pyspark.sql.functions as F

from ironbeam_spark.operators import dedup
from ironbeam_spark.operators.dedup import (
    char_ngrams,
    jaccard,
    prefix_filter_candidates,
    set_similarity_join,
)
from tests.conftest import SF_SMOKE


def _docs_with_grams(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    return docs.select(
        "doc_id", "lang", "source", char_ngrams("text", 4).alias("grams")
    )


def _all_pairs(g, threshold):
    a, b = g.alias("a"), g.alias("b")
    return (
        a.join(b, on=["lang", "source"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            jaccard(F.col("a.grams"), F.col("b.grams")).alias("jaccard_sim"),
        )
        .where(F.col("jaccard_sim") >= threshold)
    )


def test_prefix_filter_equals_all_pairs(spark, monkeypatch):
    """The zero-false-negative guarantee, empirically: set_similarity_join
    output == the quadratic all-pairs formulation, pair for pair, at several
    thresholds (including ones that don't divide set sizes evenly)."""
    g = _docs_with_grams(spark)
    for t in (0.2, 0.4, 0.55):
        slow = {
            (r.id_a, r.id_b): r.jaccard_sim for r in _all_pairs(g, t).collect()
        }
        # cap=0 forces EVERY block down the prefix-filter (large) path;
        # the default cap routes these small blocks down the direct path —
        # both must equal the all-pairs reference
        for cap in (0, 512):
            monkeypatch.setattr(dedup, "_SMALL_BLOCK_CAP", cap)
            fast = {
                (r.id_a, r.id_b): r.jaccard_sim
                for r in set_similarity_join(
                    g, "doc_id", "grams", t, block_cols=("lang", "source")
                ).collect()
            }
            assert fast.keys() == slow.keys(), (
                t,
                cap,
                slow.keys() - fast.keys(),  # missed pairs = broken guarantee
                fast.keys() - slow.keys(),
            )
            for k in fast:
                assert abs(fast[k] - slow[k]) < 1e-12


def test_prefix_filter_prunes_skewed_block(spark):
    """On a skewed block (many docs, one giant (lang, source) bucket) the
    candidate count must be far below the all-pairs block² — the whole point
    of replacing the quadratic join.  Fixture: 200 docs in ONE block, 10
    families of near-identical text (these should collide), the rest
    pairwise-dissimilar random-ish strings."""
    from tests.builders import near_dup_corpus

    df, expected = near_dup_corpus(spark, n_families=10, family_size=3, n_filler=170)
    n_docs = df.count()
    g = df.select("doc_id", "lang", "source", char_ngrams("text", 4).alias("grams"))
    n_cands = prefix_filter_candidates(
        g, "doc_id", "grams", 0.4, ("lang", "source")
    ).count()
    block_pairs = n_docs * (n_docs - 1) // 2
    assert n_cands < block_pairs * 0.05, (n_cands, block_pairs)
    # and the survivors still include every true near-dup pair
    res = set_similarity_join(g, "doc_id", "grams", 0.4, ("lang", "source"))
    found = {(r.id_a, r.id_b) for r in res.collect()}
    assert expected <= found, expected - found


def test_setsim_ids_unique_only_within_block(spark, monkeypatch):
    """ids repeating across blocks must not cross-match in the verify stage:
    the verify join carries the block columns (ADVICE r3).  Fixture: the
    SAME ids (1, 2) in two blocks, with cross-block set combinations that
    ALSO clear the threshold — a verify join on id alone would emit those
    phantom cross-combinations (e.g. J(x's set 1, y's set 2) = 0.714 here).
    Truth is the per-block all-pairs multiset of (id_a, id_b, sim)."""
    rows = [
        ("x", 1, [1, 2, 3, 4, 5, 6]),
        ("x", 2, [1, 2, 3, 4, 5, 6]),          # J = 1.0 within x
        ("y", 1, [1, 2, 3, 4, 5, 7]),          # vs x's id2: J = 5/7 ≈ .714
        ("y", 2, [1, 2, 3, 4, 8, 9]),          # J = 4/8 = 0.5 within y
    ]
    df = spark.createDataFrame(rows, "blk string, id long, s array<long>")
    want = sorted([(1, 2, 0.5), (1, 2, 1.0)])
    for cap in (0, 512):  # both the prefix-filter and the direct path
        monkeypatch.setattr(dedup, "_SMALL_BLOCK_CAP", cap)
        got = sorted(
            (r.id_a, r.id_b, round(r.jaccard_sim, 9))
            for r in set_similarity_join(
                df, "id", "s", 0.5, block_cols=("blk",)
            ).collect()
        )
        assert got == want, (cap, got)
    # asymmetric search: same leak shape (queries×corpus across blocks)
    from ironbeam_spark.operators.dedup import set_similarity_search

    q = df.where(F.col("id") == 1)
    c = df.where(F.col("id") == 2)
    got = sorted(
        (r.query_id, r.corpus_id, round(r.jaccard_sim, 9))
        for r in set_similarity_search(
            q, c, 0.5, "id", "s", block_cols=("blk",)
        ).collect()
    )
    assert got == want, got


def test_setsim_plan_has_no_quadratic_join(spark):
    """Executed plan shape: every join in the prefix-filter pipeline is a
    hash/sort-merge equi-join — no CartesianProduct, no BNLJ."""
    g = _docs_with_grams(spark)
    out = set_similarity_join(g, "doc_id", "grams", 0.4, ("lang", "source"))
    plan = out._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_lsh_near_dup_pairs_subset_and_plan(spark):
    """lsh_near_dup_pairs: (a) every returned pair really clears the cosine
    threshold and would appear in the all-pairs join (soundness — LSH may
    MISS pairs, never invent them); (b) the plan is equi-join only."""
    from ironbeam_spark.functions.vectors import cosine
    from ironbeam_spark.operators.similarity import lsh_near_dup_pairs

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    planes = [
        list(r.embedding)
        for r in emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    out = lsh_near_dup_pairs(
        emb, planes, 0.3, "vec_id", "embedding", bands=4, block_cols=("label",)
    )
    plan = out._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan

    a, b = emb.alias("a"), emb.alias("b")
    truth = {
        (r.id_a, r.id_b): r.cos_sim
        for r in a.join(b, on="label")
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cosine(F.col("a.embedding"), F.col("b.embedding")).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= 0.3)
        .collect()
    }
    got = {(r.id_a, r.id_b): r.cos_sim for r in out.collect()}
    assert set(got) <= set(truth), set(got) - set(truth)
    assert len(got) > 0  # non-trivial at this sf
    # banding recall at a loose threshold is the documented trade; just pin a
    # floor so a silent bucketing regression (e.g. wrong band masks) surfaces
    assert len(got) >= 0.25 * len(truth), (len(got), len(truth))


# ----------------------------------------------------- asof directions


def test_asof_directions(spark):
    """forward/nearest semantics on literal rows: forward takes the earliest
    at-or-after match, nearest the time-closest with distance ties going
    backward (pandas merge_asof), tolerance bounds the match distance."""
    from ironbeam_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [("k", 100), ("k", 205), ("k", 350), ("k", 999)], "k string, lt long"
    )
    right = spark.createDataFrame(
        [("k", 90, "a"), ("k", 200, "b"), ("k", 210, "c"), ("k", 400, "d")],
        "k string, rt long, val string",
    )

    def run(direction, tolerance=None):
        out = asof_join(
            left, right, on=["k"], left_ts="lt", right_ts="rt",
            value_cols=["val"], direction=direction, tolerance=tolerance,
        )
        return {r.lt: (r.matched_ts, r.val) for r in out.collect()}

    assert run("backward") == {
        100: (90, "a"), 205: (200, "b"), 350: (210, "c"), 999: (400, "d")
    }
    assert run("forward") == {
        100: (200, "b"), 205: (210, "c"), 350: (400, "d"), 999: (None, None)
    }
    # 205 is exactly 5 from both 200 and 210 → tie goes backward ("b");
    # 350 is 140 from 210 but only 50 from 400 → forward match wins
    assert run("nearest") == {
        100: (90, "a"), 205: (200, "b"), 350: (400, "d"), 999: (400, "d")
    }
    # tolerance: forward match for 350 is 400 (distance 50) — tolerance 40
    # drops it; nearest falls back to the in-tolerance backward match
    assert run("forward", tolerance=40)[350] == (None, None)
    assert run("nearest", tolerance=200)[999] == (None, None)  # 599 away
    assert run("nearest", tolerance=600)[999] == (400, "d")
    assert run("nearest", tolerance=30)[100] == (90, "a")


def test_asof_forward_equals_backward_on_negated_time(spark):
    """Property: forward(left, right) == backward with all timestamps
    negated — a direction-symmetry check on real data."""
    import pyspark.sql.functions as F

    from ironbeam_spark.operators.temporal import asof_join
    from ironbeam_spark.operators.windowing import to_epoch_us
    from tests.conftest import SF_SMOKE

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    us = to_epoch_us(ev, "ts")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"), "user_id", us.alias("ct")
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", us.alias("vt"), F.col("event_id").alias("vid")
    )
    fwd = {
        r.cid: (r.matched_ts, r.vid)
        for r in asof_join(
            clicks, views, ["user_id"], "ct", "vt", ["vid"], direction="forward"
        ).collect()
    }
    neg_clicks = clicks.withColumn("ct", -F.col("ct"))
    neg_views = views.withColumn("vt", -F.col("vt"))
    back_neg = {
        r.cid: ((-r.matched_ts if r.matched_ts is not None else None), r.vid)
        for r in asof_join(
            neg_clicks, neg_views, ["user_id"], "ct", "vt", ["vid"],
            direction="backward",
        ).collect()
    }
    assert fwd == back_neg


# ----------------------------------------------------- distributed scan


def test_global_running_sum_matches_single_partition(spark):
    """Two-pass distributed scan == the single-partition reference answer,
    regardless of input partitioning (prefix sums are boundary-invariant)."""
    from ironbeam_spark.caches import release_all_caches
    from ironbeam_spark.operators.scan import global_running_sum

    rows = [(i, (i * 37) % 101) for i in range(5000)]
    for nparts in (1, 7, 32):
        df = spark.createDataFrame(rows, "k long, v long").repartition(nparts)
        got = {
            r.k: r.running_sum
            for r in global_running_sum(df, ["k"], "v").collect()
        }
        acc, want = 0, {}
        for k, v in rows:
            acc += v
            want[k] = acc
        assert got == want, nparts
    release_all_caches()


def test_global_running_sum_plan_has_no_global_window(spark):
    """The point of the operator: the DATA never passes through a
    single-partition exchange.  The bucketed path's only SinglePartition
    feeds the bucket-offsets window — bounded by n_buckets rows — while
    the data-side window is hash-partitioned on the bucket id.  No
    nested-loop or cartesian joins anywhere (the stats row reaches the
    data via a constant-key broadcast HASH join)."""
    from ironbeam_spark.operators.scan import global_running_sum

    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    out = global_running_sum(df, ["k"], "v")
    plan = out._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    # the full-data window is hash-partitioned on the bucket id
    assert "hashpartitioning(__scan_bkt" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # every SinglePartition exchange is bounded: it feeds either a global
    # (1-row) aggregate or the n_buckets-row offsets window sort — never
    # the data stream
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        parent = lines[i - 1] if i else ""
        assert (
            "HashAggregate(keys=[]" in parent or "Sort [__scan_bkt" in parent
        ), f"unbounded single-partition exchange:\n{parent}\n{line}"
    # deterministic machinery only: the env-sensitive fallback pieces
    # must not appear on the integral-key path
    assert "spark_partition_id" not in plan, plan
    assert "MapInArrow" not in plan, plan
    assert "Checkpoint" not in plan, plan


def test_global_running_sum_recompute_invariant(spark):
    """The (row -> slice) assignment is stamped + checkpointed, so results
    are identical under forced recompute: the source cache is dropped after
    the result plan is built, and the result is collected twice (two
    separate jobs).  Before the round-5 fix, a recompute between the totals
    pass and the scan pass could pair offsets with re-sampled ranges."""
    from pyspark import StorageLevel

    from ironbeam_spark.caches import release_all_caches
    from ironbeam_spark.operators.scan import global_running_sum

    rows = [(i, (i * 53) % 97) for i in range(3000)]
    src = (
        spark.createDataFrame(rows, "k long, v long")
        .repartition(16)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    src.count()
    out = global_running_sum(src, ["k"], "v")
    # drop the source cache BEFORE any action on `out`: every downstream
    # job now replays lineage from scratch — the stamped checkpoint must
    # make that invisible
    src.unpersist(blocking=True)
    first = {r.k: r.running_sum for r in out.collect()}
    second = {r.k: r.running_sum for r in out.collect()}
    acc, want = 0, {}
    for k, v in rows:
        acc += v
        want[k] = acc
    assert first == want
    assert second == want
    release_all_caches()


def test_global_running_sum_payload_join_back(spark):
    """Payload columns beyond (order, value) never enter the checkpoint:
    the narrow scan result joins back on the order key, values and payload
    intact (round-6: full-row checkpoints are corpus-width writes at scale)."""
    from ironbeam_spark.caches import release_all_caches
    from ironbeam_spark.operators.scan import global_running_sum

    rows = [(i, (i * 37) % 101, f"payload-{i}") for i in range(2000)]
    df = spark.createDataFrame(rows, "k long, v long, tag string").repartition(9)
    out = global_running_sum(df, ["k"], "v").collect()
    acc, want = 0, {}
    for k, v, _ in rows:
        acc += v
        want[k] = acc
    assert {r.k: r.running_sum for r in out} == want
    assert {r.k: r.tag for r in out} == {k: t for k, _, t in rows}
    release_all_caches()


def test_global_running_sum_payload_requires_unique_order(spark):
    """Stamped fallback path (float key — the one type family without a
    monotone decimal projection): with payload columns present, tied
    order keys would multiply rows in the join-back — the per-slice
    totals pass must catch it and raise.  The bucketed paths (integral
    AND string since round 7) have no join-back, so the same shape is
    legal there: payload rides the window and ties share the documented
    arbitrary-but-fixed relative order."""
    import pytest

    from ironbeam_spark.caches import release_all_caches
    from ironbeam_spark.operators.scan import global_running_sum

    frows = [(float(i % 50), i, f"p{i}") for i in range(500)]  # dup float keys
    fdf = spark.createDataFrame(frows, "k double, v long, tag string")
    with pytest.raises(ValueError, match="uniquely key"):
        global_running_sum(fdf, ["k"], "v")
    release_all_caches()
    # the same tied keys WITHOUT payload stay legal (documented contract)
    narrow = fdf.select("k", "v")
    total = sum(v for _, v, _ in frows)
    got = global_running_sum(narrow, ["k"], "v").agg(
        F.max("running_sum")
    ).collect()[0][0]
    assert got == total
    release_all_caches()
    # string keys + ties + payload: legal on the round-7 bucketed path
    srows = [(f"k{i % 50:02d}", i, f"p{i}") for i in range(500)]
    sdf = spark.createDataFrame(srows, "k string, v long, tag string")
    out = global_running_sum(sdf, ["k"], "v").collect()
    assert len(out) == 500
    assert max(r.running_sum for r in out) == sum(v for _, v, _ in srows)
    # integral key + payload + ties: legal on the bucketed path — every
    # row keeps its payload, per-key maxima equal the tie-group prefix
    rows = [(i % 50, i, f"p{i}") for i in range(500)]
    df = spark.createDataFrame(rows, "k long, v long, tag string")
    out = global_running_sum(df, ["k"], "v").collect()
    assert len(out) == 500
    assert {r.tag for r in out} == {t for _, _, t in rows}
    acc, want_max = 0, {}
    for k in range(50):
        acc += sum(v for kk, v, _ in rows if kk == k)
        want_max[k] = acc
    got_max = {}
    for r in out:
        got_max[r.k] = max(got_max.get(r.k, 0), r.running_sum)
    assert got_max == want_max


def test_setsim_search_equals_rs_join(spark, monkeypatch):
    """set_similarity_search == the quadratic queries×corpus join, pair for
    pair (two-sided prefix guarantee), including with no blocking."""
    g = _docs_with_grams(spark)
    from ironbeam_spark.operators.dedup import set_similarity_search

    q = g.where(F.col("doc_id") < 30)
    c = g.where(F.col("doc_id") >= 30)
    for blocks in (("lang", "source"), ()):
        cond = [F.col("a.lang") == F.col("b.lang"), F.col("a.source") == F.col("b.source")] if blocks else []
        a, b = q.alias("a"), c.alias("b")
        ref_join = a.join(b, cond) if cond else a.crossJoin(b)
        slow = {
            (r.query_id, r.corpus_id): r.jaccard_sim
            for r in ref_join.select(
                F.col("a.doc_id").alias("query_id"),
                F.col("b.doc_id").alias("corpus_id"),
                jaccard(F.col("a.grams"), F.col("b.grams")).alias("jaccard_sim"),
            )
            .where((F.size("a.grams") > 0) & (F.size("b.grams") > 0))
            .where(F.col("jaccard_sim") >= 0.3)
            .collect()
        }
        # the query-token cap routes the search: any query side fits under
        # 2**62 (broadcast plan), none fits under -1 (prefix plan)
        for route, cap in (("broadcast", 1 << 62), ("prefix", -1)):
            monkeypatch.setattr(dedup, "_BROADCAST_TOKEN_CAP", cap)
            fast = {
                (r.query_id, r.corpus_id): r.jaccard_sim
                for r in set_similarity_search(
                    q, c, 0.3, "doc_id", "grams", block_cols=blocks
                ).collect()
            }
            assert fast.keys() == slow.keys(), (
                route, blocks, slow.keys() ^ fast.keys())
            for k in fast:
                assert abs(fast[k] - slow[k]) < 1e-12


def test_global_running_sum_bucketed_extremes(spark):
    """Bucketed-path edge cases: negative keys (bucket arithmetic must
    stay monotone below zero), a key RANGE wider than int64 (max - min
    would overflow long — the DECIMAL(38,0) width math must hold it), and
    n_buckets=1 (every row through one in-bucket window)."""
    from ironbeam_spark.operators.scan import global_running_sum

    # negative + positive keys, deterministic values
    rows = [(i - 250, (i * 13) % 37) for i in range(500)]
    df = spark.createDataFrame(rows, "k long, v long").repartition(11)
    got = {r.k: r.running_sum for r in global_running_sum(df, ["k"], "v").collect()}
    acc, want = 0, {}
    for k, v in sorted(rows):
        acc += v
        want[k] = acc
    assert got == want

    # int64 extremes: range max-min = 2^64 - 2 overflows long
    ext = [(-(2**63), 7), (-17, 11), (0, 5), (2**63 - 1, 3)]
    dfe = spark.createDataFrame(ext, "k long, v long").repartition(3)
    gote = {
        r.k: r.running_sum for r in global_running_sum(dfe, ["k"], "v").collect()
    }
    assert gote == {-(2**63): 7, -17: 18, 0: 23, 2**63 - 1: 26}

    # n_buckets=1: degenerates to a single partitioned window, still exact
    got1 = {
        r.k: r.running_sum
        for r in global_running_sum(df, ["k"], "v", n_buckets=1).collect()
    }
    assert got1 == want


def test_global_running_sum_string_date_timestamp_bucketed(spark):
    """Round 7: string/date/timestamp first order keys route to the
    deterministic bucketed path (monotone 8-byte-prefix / epoch
    projections — plan-asserted: none of the stamped machinery), and the
    values match the single-partition reference under any partitioning.
    The string set stresses the projection: multibyte UTF-8, shared
    8-byte prefixes (a projection COLLISION — same bucket, real order
    restored by the in-bucket sort), the empty string, ties + payload,
    and a NULL (sorts first)."""
    import datetime

    from ironbeam_spark.operators.scan import global_running_sum

    rows = [("", 1, "e"), ("a", 2, "p1"), ("a", 3, "p2"), ("ab", 4, "x"),
            ("abcdefghij", 5, "l1"), ("abcdefghiz", 6, "l2"),
            ("z", 7, "z"), ("é", 8, "acc"), ("日本語", 9, "cjk"),
            (None, 10, "n")]
    ref = sorted(
        [r for r in rows if r[0] is not None],
        key=lambda r: (r[0].encode(), r[2]),
    )
    acc, want = 10, []  # the NULL-key row (v=10) sorts first
    for k, v, t in ref:
        acc += v
        want.append((k, t, acc))
    for nparts in (1, 5, 32):
        df = spark.createDataFrame(
            rows, "k string, v long, tag string"
        ).repartition(nparts)
        out = global_running_sum(df, ["k", "tag"], "v")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "spark_partition_id" not in plan and "MapInArrow" not in plan
        got = sorted(
            (r.k, r.tag, r.running_sum) for r in out.collect() if r.k is not None
        )
        assert got == sorted(want), nparts

    d0 = datetime.date(2020, 1, 1)
    drows = [(d0 + datetime.timedelta(days=i), (i * 7) % 5 + 1) for i in range(200)]
    ddf = spark.createDataFrame(drows, "k date, v long").repartition(7)
    got = {r.k: r.running_sum for r in global_running_sum(ddf, ["k"], "v").collect()}
    acc, dwant = 0, {}
    for k, v in sorted(drows):
        acc += v
        dwant[k] = acc
    assert got == dwant

    trows = [
        (datetime.datetime(2021, 3, 4, 5, 6, i % 60, i), i % 11 + 1)
        for i in range(300)
    ]
    tdf = spark.createDataFrame(trows, "k timestamp, v long").repartition(13)
    got = {r.k: r.running_sum for r in global_running_sum(tdf, ["k"], "v").collect()}
    acc, twant = 0, {}
    for k, v in sorted(trows):
        acc += v
        twant[k] = acc
    assert got == twant

    # decimal keys: the cast's HALF_UP rounding is monotone, so fractional
    # and negative decimals ride the same bucketed path
    from decimal import Decimal

    crows = [
        (Decimal(i) - Decimal("250.55"), (i * 13) % 7 + 1) for i in range(500)
    ]
    cdf = spark.createDataFrame(crows, "k decimal(18,2), v long").repartition(11)
    out = global_running_sum(cdf, ["k"], "v")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in plan and "spark_partition_id" not in plan
    got = {r.k: r.running_sum for r in out.collect()}
    acc, cwant = 0, {}
    for k, v in sorted(crows):
        acc += v
        cwant[k] = acc
    assert got == cwant
