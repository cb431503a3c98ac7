"""Forced-recompute hardening: no operator's CORRECTNESS may depend on a
persisted intermediate still being resident.

Every operator that persists a multi-consumer intermediate (shingle
tables, posting lists, decoded line caches, scan slices) is exercised
twice: once with the cache warm, once after the cache registry has been
force-released BEFORE the result is collected — so every consumer job
replays full lineage.  Results must be identical.  This is the
generalization of the round-5 ``global_running_sum`` fix: caches are a
performance tool, never a correctness crutch (a recompute that re-samples
a partitioner or re-evaluates a non-deterministic stage would surface
here as a diff)."""

from __future__ import annotations

import lzma

from pyspark.sql import functions as F

from ironbeam_spark.caches import release_all_caches
from ironbeam_spark.operators.dedup import (
    char_ngrams,
    dedup_components,
    minhash_dedup_pairs,
    set_similarity_join,
    set_similarity_search,
)
from ironbeam_spark.sources.compression import read_csv_compressed

TEXTS = [
    (i, f"the quick brown fox {i % 7} jumps over the lazy dog {i % 3} again")
    for i in range(60)
]


def _docs(spark):
    return spark.createDataFrame(TEXTS, "doc_id long, body string").repartition(8)


def test_minhash_pairs_survive_cache_release(spark):
    docs = _docs(spark)
    ref = sorted(
        (r.id_a, r.id_b, round(r.jaccard_sim, 12))
        for r in minhash_dedup_pairs(docs, "doc_id", "body", threshold=0.1).collect()
    )
    release_all_caches()
    out = minhash_dedup_pairs(docs, "doc_id", "body", threshold=0.1)
    release_all_caches()  # force: every consumer replays lineage
    got = sorted(
        (r.id_a, r.id_b, round(r.jaccard_sim, 12)) for r in out.collect()
    )
    assert got == ref and len(ref) > 0
    release_all_caches()
    assert release_all_caches() == 0  # the registry really drains


def test_set_similarity_join_survives_cache_release(spark):
    g = _docs(spark).select("doc_id", char_ngrams("body", 4).alias("grams"))
    ref = sorted(
        (r.id_a, r.id_b, round(r.jaccard_sim, 12))
        for r in set_similarity_join(g, "doc_id", "grams", 0.3).collect()
    )
    release_all_caches()
    out = set_similarity_join(g, "doc_id", "grams", 0.3)
    release_all_caches()
    got = sorted(
        (r.id_a, r.id_b, round(r.jaccard_sim, 12)) for r in out.collect()
    )
    assert got == ref and len(ref) > 0
    release_all_caches()


def test_set_similarity_search_survives_cache_release(spark, monkeypatch):
    from ironbeam_spark.operators import dedup

    g = _docs(spark).select("doc_id", char_ngrams("body", 4).alias("grams"))
    q = g.where(F.col("doc_id") < 6)
    # the query-token cap routes the search: any query side fits under
    # 2**62 (broadcast plan), none fits under -1 (prefix plan)
    for route, cap in (("broadcast", 1 << 62), ("prefix", -1)):
        monkeypatch.setattr(dedup, "_BROADCAST_TOKEN_CAP", cap)
        ref = sorted(
            (r.query_id, r.corpus_id, round(r.jaccard_sim, 12))
            for r in set_similarity_search(q, g, 0.3, "doc_id", "grams").collect()
        )
        release_all_caches()
        out = set_similarity_search(q, g, 0.3, "doc_id", "grams")
        release_all_caches()
        got = sorted(
            (r.query_id, r.corpus_id, round(r.jaccard_sim, 12))
            for r in out.collect()
        )
        assert got == ref and len(ref) > 0, route
        release_all_caches()


def test_dedup_components_survive_cache_release(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    ref = sorted(
        (r.node, r.component) for r in dedup_components(pairs).collect()
    )
    out = dedup_components(pairs)
    release_all_caches()
    got = sorted((r.node, r.component) for r in out.collect())
    assert got == ref and len(ref) > 0


def test_csv_inference_survives_cache_release(spark, tmp_path):
    d = tmp_path / "csv"
    d.mkdir()
    with open(d / "part.xz", "wb") as f:
        f.write(lzma.compress(b"a,b\n1,x\n2,y\n3,z\n"))
    ref = sorted((r.a, r.b) for r in read_csv_compressed(spark, str(d), codec="xz").collect())
    release_all_caches()
    out = read_csv_compressed(spark, str(d), codec="xz")
    release_all_caches()  # inference path re-decodes per pass — must agree
    got = sorted((r.a, r.b) for r in out.collect())
    assert got == ref == [(1, "x"), (2, "y"), (3, "z")]
    release_all_caches()


def test_dsir_weights_model(spark):
    """dsir_importance_weights == a direct Python reimplementation of the
    hashed-bigram / add-one-smoothing / sorted-ratio-sum spec on a tiny
    corpus (featureless docs weigh 0.0 and still appear)."""
    import hashlib

    from ironbeam_spark.operators.sampling import dsir_importance_weights

    rows = [
        (0, "the cat sat on the mat", "en"),
        (1, "the cat sat", "en"),
        (2, "el gato se sento", "es"),
        (3, "one", "en"),          # 1 token -> no bigram features
        (4, "the dog sat on a log", "en"),
        (5, "el perro se sento aqui", "es"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {
        r.doc_id: (r.n_feats, r.dsir_weight)
        for r in dsir_importance_weights(
            df, df.where("lang = 'en'"), "doc_id", "text", buckets=64
        ).collect()
    }

    MOD = 10**17 + 3

    def ti(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:12], 16)

    def feats(text):
        ts = [ti(t) for t in text.split() if t]
        return [((ts[i] * 31 + ts[i + 1]) % MOD) % 64 for i in range(len(ts) - 1)]

    raw = {i: feats(t) for i, t, _ in rows}
    tgt = [f for i, t, l in rows if l == "en" for f in raw[i]]
    allf = [f for fs in raw.values() for f in fs]
    cr = {f: allf.count(f) for f in set(allf)}
    ct = {f: tgt.count(f) for f in set(tgt)}
    tr, tt = len(allf), len(tgt)

    def ratio(f):
        return ((ct.get(f, 0) + 1) / (tt + 64.0)) / ((cr[f] + 1) / (tr + 64.0))

    for i, _, _ in rows:
        fs = raw[i]
        want = 0.0
        for f, r in sorted((f, ratio(f)) for f in fs):
            want += r
        assert out[i][0] == len(fs), i
        assert abs(out[i][1] - want) < 1e-12, (i, out[i][1], want)
    assert out[3] == (0, 0.0)
    # target-language docs should out-weigh off-target docs of similar size
    assert out[0][1] / out[0][0] > out[2][1] / out[2][0]


def test_pretrain_pipeline_survives_cache_release(spark):
    """The flagship composite (filter -> exact dedup -> minhash components
    -> DSIR -> stats) is cache-residency-independent end to end."""
    from ironbeam_spark.suite import QUERIES

    sf = "/root/testdata/sf0.001"
    fn = QUERIES["q_pretrain_pipeline"].fn
    ref = sorted(map(tuple, fn(spark, sf).collect()))
    release_all_caches()
    out = fn(spark, sf)
    release_all_caches()
    got = sorted(map(tuple, out.collect()))
    assert got == ref and len(ref) > 0
    release_all_caches()


def test_dsir_empty_target_and_empty_corpus(spark):
    """An empty target degenerates to uniform-ish smoothed weights (no
    crash, no div-by-zero); an empty corpus yields an empty result."""
    from ironbeam_spark.operators.sampling import dsir_importance_weights

    df = spark.createDataFrame(
        [(0, "a b c"), (1, "d e f")], "doc_id long, text string"
    )
    out = dsir_importance_weights(
        df, df.where("doc_id < 0"), "doc_id", "text", buckets=16
    ).collect()
    assert len(out) == 2 and all(r.dsir_weight > 0 for r in out)

    empty = df.where("doc_id < 0")
    assert dsir_importance_weights(empty, empty, "doc_id", "text").count() == 0


def test_dsir_target_without_id_column(spark):
    """The target corpus only needs text_col — its ids are never used, so a
    frame lacking the raw corpus's id column must work (round-6 ADVICE) and
    produce the same weights as an id-carrying target with the same text."""
    from ironbeam_spark.operators.sampling import dsir_importance_weights

    raw = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "el gato se sento"), (2, "one")],
        "doc_id long, text string",
    )
    tgt_texts = [("the cat sat",), ("the dog sat",)]
    with_id = spark.createDataFrame(
        [(i, t) for i, (t,) in enumerate(tgt_texts)], "doc_id long, text string"
    )
    without_id = spark.createDataFrame(tgt_texts, "text string")

    def run(tgt):
        return sorted(
            (r.doc_id, r.n_feats, r.dsir_weight)
            for r in dsir_importance_weights(
                raw, tgt, "doc_id", "text", buckets=32
            ).collect()
        )

    assert run(without_id) == run(with_id)


def test_running_sum_value_col_is_order_col(spark):
    # value_col ∈ order_cols: the narrow projection must not duplicate the
    # column (a cumulative weight ordered by the weight itself — round-6
    # review regression)
    from ironbeam_spark.operators.scan import global_running_sum

    df = spark.createDataFrame([(v,) for v in (3, 1, 2, 5, 4)], "v long")
    got = sorted(
        (r["v"], r["running_v"])
        for r in global_running_sum(
            df, ["v"], "v", out_col="running_v"
        ).collect()
    )
    assert got == [(1, 1), (2, 3), (3, 6), (4, 10), (5, 15)]


def test_incremental_dedup_survives_cache_release(spark):
    """The delta shingle table and candidate set are persisted for multi-
    consumer reuse (operators/incremental.py); classification must be
    identical when every consumer replays full lineage instead."""
    from ironbeam_spark.operators.incremental import (
        minhash_dedup_incremental,
        minhash_index,
    )

    docs = _docs(spark)
    corpus = docs.where(F.col("doc_id") % 3 != 1)
    batch = docs.where(F.col("doc_id") % 3 == 1)
    idx = minhash_index(corpus, "doc_id", "body")

    def run():
        return minhash_dedup_incremental(
            batch, idx, corpus, "doc_id", "body", threshold=0.1
        )

    ref = sorted(
        (r.doc_id, r.status, r.dup_of,
         None if r.jaccard_sim is None else round(r.jaccard_sim, 12))
        for r in run().collect()
    )
    release_all_caches()
    out = run()
    release_all_caches()  # force: classification replays lineage
    got = sorted(
        (r.doc_id, r.status, r.dup_of,
         None if r.jaccard_sim is None else round(r.jaccard_sim, 12))
        for r in out.collect()
    )
    assert got == ref and len(ref) > 0
    assert any(s != "unique" for _, s, _, _ in ref)  # non-vacuous fixture
    release_all_caches()
