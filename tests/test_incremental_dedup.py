"""Incremental minhash dedup: index build + delta classification.

The suite query (q_dedup_incremental) proves the operator against the exact
DuckDB oracle on real data, but the testdata split yields no in-batch dups —
these unit tests pin every branch of the classification contract on crafted
docs, plus the index parquet persist/reload lifecycle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ironbeam_spark.operators.incremental import (
    minhash_dedup_incremental,
    minhash_index,
    minhash_index_admit,
)
from ironbeam_spark.session import scoped_conf
from tests.conftest import SF_SMOKE

# Long repeated-text docs so 3-word shingle Jaccard is 1.0 for exact copies
# and ~0 for unrelated text.
_A = "the quick brown fox jumps over the lazy dog again and again " * 5
_B = "entirely different content about distributed query planning engines " * 5
_C = "a third unrelated document concerning parquet footer statistics " * 5

# sort-merge mode: the bucketed-layout tests need a shuffle join
_NO_BROADCAST = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}


def _classify(spark, corpus_rows, batch_rows, threshold=0.5):
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
    idx = minhash_index(corpus, "doc_id", "text")
    out = minhash_dedup_incremental(
        batch, idx, corpus, "doc_id", "text", threshold=threshold
    )
    return {r["doc_id"]: (r["status"], r["dup_of"], r["jaccard_sim"]) for r in out.collect()}


def test_corpus_dup_batch_dup_and_unique(spark):
    got = _classify(
        spark,
        corpus_rows=[(1, _A), (2, _B)],
        batch_rows=[(10, _A), (11, _C), (12, _C), (13, "short")],
    )
    assert got[10] == ("dup_of_corpus", 1, 1.0)
    assert got[11] == ("unique", None, None)
    # 12 duplicates 11 within the batch: keep-first-by-id
    assert got[12] == ("dup_in_batch", 11, 1.0)
    # too short to shingle -> unique, NULL dup_of
    assert got[13] == ("unique", None, None)


def test_corpus_match_takes_priority_over_batch_match(spark):
    got = _classify(
        spark,
        corpus_rows=[(5, _A)],
        batch_rows=[(20, _A), (21, _A)],
    )
    # both new docs match corpus doc 5; 21 also matches 20 in-batch, but the
    # corpus copy is the canonical survivor
    assert got[20] == ("dup_of_corpus", 5, 1.0)
    assert got[21] == ("dup_of_corpus", 5, 1.0)


def test_dup_of_is_minimum_matching_corpus_id(spark):
    got = _classify(
        spark,
        corpus_rows=[(7, _A), (3, _A), (9, _A)],
        batch_rows=[(30, _A)],
    )
    assert got[30] == ("dup_of_corpus", 3, 1.0)


def test_index_parquet_roundtrip(spark, tmp_path):
    corpus = spark.createDataFrame([(1, _A), (2, _B)], "doc_id long, text string")
    batch = spark.createDataFrame([(10, _A), (11, _C)], "doc_id long, text string")
    path = str(tmp_path / "minhash_index.parquet")
    minhash_index(corpus, "doc_id", "text").write.parquet(path)
    reloaded = spark.read.parquet(path)
    out = minhash_dedup_incremental(batch, reloaded, corpus, "doc_id", "text")
    got = {r["doc_id"]: r["status"] for r in out.collect()}
    assert got == {10: "dup_of_corpus", 11: "unique"}


def test_index_row_shape(spark):
    # bands rows per shingleable doc; short docs emit none
    corpus = spark.createDataFrame(
        [(1, _A), (2, "tiny")], "doc_id long, text string"
    )
    idx = minhash_index(corpus, "doc_id", "text", k=8, bands=4)
    rows = idx.collect()
    assert len(rows) == 4 and all(r["doc_id"] == 1 for r in rows)


def test_max_band_bucket_guard_raises_on_hot_bucket(spark):
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    # five identical docs share every band bucket -> bucket size 5 > 3
    corpus = spark.createDataFrame(
        [(i, _A) for i in range(5)], "doc_id long, text string"
    )
    batch = spark.createDataFrame([(10, _A)], "doc_id long, text string")
    idx = minhash_index(corpus, "doc_id", "text")
    out = minhash_dedup_incremental(
        batch, idx, corpus, "doc_id", "text", max_band_bucket=3
    )
    with pytest.raises(SparkRuntimeException, match="max_band_bucket"):
        out.collect()
    # same data under the bound passes
    ok = minhash_dedup_incremental(
        batch, idx, corpus, "doc_id", "text", max_band_bucket=5
    )
    assert {r["status"] for r in ok.collect()} == {"dup_of_corpus"}


def test_max_band_bucket_guard_in_batch_pairs(spark):
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from ironbeam_spark.operators.dedup import minhash_dedup_pairs

    docs = spark.createDataFrame(
        [(i, _A) for i in range(4)], "doc_id long, text string"
    )
    guarded = minhash_dedup_pairs(
        docs, "doc_id", "text", threshold=0.5, max_band_bucket=2
    )
    with pytest.raises(SparkRuntimeException, match="max_band_bucket"):
        guarded.collect()
    # default (no guard) still returns all C(4,2) exact-dup pairs
    assert minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.5).count() == 6


def test_stream_dedup_against_index(spark, tmp_path):
    """Streaming admission check agrees with the batch classifier's
    corpus branch on the same split of real testdata."""
    from ironbeam_spark.operators.incremental import minhash_verify_table
    from ironbeam_spark.streaming.dedup import stream_dedup_against_index

    static = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = static.where(F.col("doc_id") % 3 != 1)
    batch = static.where(F.col("doc_id") % 3 == 1).select("doc_id", "text")
    idx = minhash_index(corpus, "doc_id", "text")
    ver = minhash_verify_table(corpus, "doc_id", "text")
    sdf = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet("/root/testdata/sf0.001")
        .where(F.col("doc_id") % 3 == 1)
        .select("doc_id", "text")
    )
    matches = stream_dedup_against_index(sdf, idx, ver, "doc_id", "text")
    ckpt = str(tmp_path / "ckpt")
    q = (
        matches.writeStream.format("memory")
        .queryName("t_stream_dedup_idx")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["doc_id"]: (r["dup_of"], r["jaccard_sim"])
        for r in spark.table("t_stream_dedup_idx").collect()
    }
    expected = {
        r["doc_id"]: (r["dup_of"], r["jaccard_sim"])
        for r in minhash_dedup_incremental(
            batch, idx, corpus, "doc_id", "text"
        ).collect()
        if r["status"] == "dup_of_corpus"
    }
    assert got == expected


def test_stream_dedup_guard_raises_on_hot_index_bucket(spark, tmp_path):
    """End-to-end raise path for the streaming variant: a boilerplate
    cluster in the STATIC index trips the guard mid-micro-batch (the
    failure surfaces through the StreamingQuery, not as a silent melt)."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from ironbeam_spark.operators.incremental import minhash_verify_table
    from ironbeam_spark.streaming.dedup import stream_dedup_against_index

    corpus = spark.createDataFrame(
        [(i, _A) for i in range(5)], "doc_id long, text string"
    )
    idx = minhash_index(corpus, "doc_id", "text")
    ver = minhash_verify_table(corpus, "doc_id", "text")
    src = str(tmp_path / "stream_src")
    spark.createDataFrame([(10, _A)], "doc_id long, text string").write.parquet(src)
    sdf = spark.readStream.schema("doc_id long, text string").parquet(src)
    matches = stream_dedup_against_index(
        sdf, idx, ver, "doc_id", "text", max_band_bucket=3
    )
    ckpt = str(tmp_path / "ckpt")
    q = (
        matches.writeStream.format("memory")
        .queryName("t_stream_guard")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException, match="max_band_bucket"):
        q.awaitTermination()


def test_two_delta_lifecycle_with_admit(spark, tmp_path):
    """The full per-delta loop: classify delta 1, admit its survivors into
    the index, and delta 2's dup of a delta-1 SURVIVOR classifies as
    dup_of_corpus against the grown index."""
    from ironbeam_spark.operators.incremental import minhash_index_admit

    corpus = spark.createDataFrame([(1, _A)], "doc_id long, text string")
    delta1 = spark.createDataFrame(
        [(10, _B), (11, _A)], "doc_id long, text string"
    )
    idx1 = minhash_index(corpus, "doc_id", "text")
    cls1 = minhash_dedup_incremental(
        delta1, idx1, corpus, "doc_id", "text", threshold=0.5
    )
    got1 = {r["doc_id"]: r["status"] for r in cls1.collect()}
    assert got1 == {10: "unique", 11: "dup_of_corpus"}

    # admit delta-1 survivors only (explicit policy — the default became
    # admit="all" in r11); duplicates are NOT indexed under "unique"
    idx2 = minhash_index_admit(idx1, delta1, cls1, "doc_id", "text",
                               admit="unique")
    indexed_ids = {r["doc_id"] for r in idx2.select("doc_id").distinct().collect()}
    assert indexed_ids == {1, 10}

    # delta 2: a dup of the admitted doc 10, and a dup of the original corpus
    corpus2 = corpus.unionByName(
        delta1.join(
            cls1.where(F.col("status") == "unique").select("doc_id"),
            on="doc_id",
            how="left_semi",
        )
    )
    delta2 = spark.createDataFrame(
        [(20, _B), (21, _A), (22, _C)], "doc_id long, text string"
    )
    got2 = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in minhash_dedup_incremental(
            delta2, idx2, corpus2, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert got2 == {
        20: ("dup_of_corpus", 10),
        21: ("dup_of_corpus", 1),
        22: ("unique", None),
    }


_CHAIN_A = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
_CHAIN_C = "quark lepton boson hadron gluon photon neutrino meson baryon tau " * 4
_CHAIN_B = _CHAIN_A + _CHAIN_C  # J(B,A) = J(B,C) = 10/22 ≈ 0.45; J(A,C) = 0


def test_admit_all_closes_the_chain_recall_gap(spark):
    """The docstring's greedy-chain scenario, end-to-end: a~b~c classified
    in one delta admits only a under admit='unique', so a future near-dup
    of c is missed; admit='all' indexes every delta doc and catches it.
    (bands=8, rows_per_band=1 so the J≈0.45 pairs collide deterministically
    on at least one band with the fixed affine family.)"""
    kw = dict(shingle_words=3, k=8, bands=8)
    corpus = spark.createDataFrame(
        [(100, "unrelated filler words about parquet footers and bloom filters " * 4)],
        "doc_id long, text string",
    )
    delta1 = spark.createDataFrame(
        [(1, _CHAIN_A), (2, _CHAIN_B), (3, _CHAIN_C)], "doc_id long, text string"
    )
    idx = minhash_index(corpus, "doc_id", "text", **kw)
    cls = minhash_dedup_incremental(
        delta1, idx, corpus, "doc_id", "text", threshold=0.4, **kw
    )
    got = {r["doc_id"]: (r["status"], r["dup_of"]) for r in cls.collect()}
    # the greedy chain: b dups a, c dups b — c's content has NO admitted
    # representative under the default policy
    assert got == {
        1: ("unique", None),
        2: ("dup_in_batch", 1),
        3: ("dup_in_batch", 2),
    }

    delta2 = spark.createDataFrame([(10, _CHAIN_C)], "doc_id long, text string")
    corpus2 = corpus.unionByName(delta1)
    verdicts = {}
    for mode in ("unique", "all"):
        idx2 = minhash_index_admit(
            idx, delta1, cls, "doc_id", "text", admit=mode, **kw
        )
        out = minhash_dedup_incremental(
            delta2, idx2, corpus2, "doc_id", "text", threshold=0.4, **kw
        )
        verdicts[mode] = {r["doc_id"]: r["status"] for r in out.collect()}
    assert verdicts["unique"] == {10: "unique"}  # the documented recall gap
    assert verdicts["all"] == {10: "dup_of_corpus"}  # closed


def test_admit_mode_validation(spark):
    import pytest

    corpus = spark.createDataFrame([(1, _A)], "doc_id long, text string")
    idx = minhash_index(corpus, "doc_id", "text")
    with pytest.raises(ValueError, match="admit must be"):
        minhash_index_admit(idx, corpus, corpus, "doc_id", "text", admit="most")


def test_matches_batch_pairs_differential(spark):
    """Differential vs the proven batch operator: classifying the delta with
    the index must agree with minhash_dedup_pairs run over corpus+batch."""
    from ironbeam_spark.operators.dedup import minhash_dedup_pairs

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    corpus = docs.where(F.col("doc_id") % 3 != 1)
    batch = docs.where(F.col("doc_id") % 3 == 1)
    idx = minhash_index(corpus, "doc_id", "text")
    got = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in minhash_dedup_incremental(
            batch, idx, corpus, "doc_id", "text", threshold=0.5
        ).collect()
    }
    pairs = minhash_dedup_pairs(
        docs, "doc_id", "text", shingle_words=3, k=8, bands=4, threshold=0.5
    ).collect()
    corpus_match: dict[int, int] = {}
    batch_match: dict[int, int] = {}
    for r in pairs:
        a, b = r["id_a"], r["id_b"]
        if (a % 3 == 1) != (b % 3 == 1):
            n, o = (a, b) if a % 3 == 1 else (b, a)
            corpus_match[n] = min(corpus_match.get(n, o), o)
        elif a % 3 == 1 and b % 3 == 1:
            batch_match[b] = min(batch_match.get(b, a), a)
    for doc_id, (status, dup_of) in got.items():
        if doc_id in corpus_match:
            assert (status, dup_of) == ("dup_of_corpus", corpus_match[doc_id])
        elif doc_id in batch_match:
            assert (status, dup_of) == ("dup_in_batch", batch_match[doc_id])
        else:
            assert (status, dup_of) == ("unique", None)


def test_index_family_stamp_lifecycle(spark):
    """r10 ADVICE: the family repair silently invalidated every pre-r10
    persisted index.  Pin the guard: (a) minhash_index stamps mh_family;
    (b) a stamp-less index (pre-stamp or foreign) is rejected immediately
    with a rebuild message; (c) an index stamped by a DIFFERENT family
    raises mid-job; (d) the happy path still classifies and admit keeps
    the stamp through the union."""
    import pytest
    from pyspark.sql import functions as F

    from ironbeam_spark.operators.dedup import MINHASH_FAMILY
    from ironbeam_spark.operators.incremental import (
        check_index_family,
        minhash_dedup_incremental,
        minhash_index,
        minhash_index_admit,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(2, "alpha beta gamma delta epsilon zeta"),
         (3, "totally different words entirely here now")],
        "doc_id long, text string",
    )
    idx = minhash_index(corpus, "doc_id", "text")
    assert "mh_family" in idx.columns
    assert idx.select("mh_family").distinct().collect()[0][0] == MINHASH_FAMILY

    # (b) stamp-less index rejected with a clear message
    with pytest.raises(ValueError, match="mh_family"):
        minhash_dedup_incremental(batch, idx.drop("mh_family"), corpus,
                                  "doc_id", "text")

    # (c) foreign stamp raises mid-job
    stale = idx.withColumn("mh_family", F.lit("m31:deadbeef0000"))
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException
    with pytest.raises((Py4JJavaError, SparkRuntimeException, Exception),
                       match="stale hash family"):
        minhash_dedup_incremental(batch, stale, corpus, "doc_id", "text").collect()

    # (d) happy path classifies; admit output keeps the stamp
    cls = minhash_dedup_incremental(batch, idx, corpus, "doc_id", "text",
                                    threshold=0.5)
    rows = {r.doc_id: r.status for r in cls.collect()}
    assert rows == {2: "dup_of_corpus", 3: "unique"}
    grown = minhash_index_admit(idx, batch, cls, "doc_id", "text")
    assert "mh_family" in grown.columns
    assert check_index_family(grown).count() == grown.count()


def test_admit_default_is_all(spark):
    """r11 decision (measured: admit='unique' leaves a permanent 8.7%
    chain-tail recall hole on a chain-heavy delta for 612 saved posting
    rows): the production default is full-delta admission."""
    import inspect

    from ironbeam_spark.operators.incremental import minhash_index_admit

    sig = inspect.signature(minhash_index_admit)
    assert sig.parameters["admit"].default == "all"


def test_bucketed_index_table_joins_without_index_side_exchange(spark):
    """write_minhash_index_table's 100 TB claim, pinned in the plan: with
    the index bucketed on band_key, the delta-vs-index candidate join AND
    the hot-bucket guard's window consume the bucketed scan's
    HashPartitioning directly — exactly ONE band_key exchange remains in
    the whole classification plan (the delta side), where the plain-parquet
    path pays one per side.  Results must be identical to the unbucketed
    path."""
    from ironbeam_spark.operators.incremental import write_minhash_index_table

    corpus = spark.createDataFrame(
        [(1, _A), (2, _B), (3, _C)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(10, _A), (11, "fresh unseen words entirely " * 8)],
        "doc_id long, text string",
    )
    idx = minhash_index(corpus, "doc_id", "text")
    spark.sql("DROP TABLE IF EXISTS t_mh_idx_bucketed")
    write_minhash_index_table(idx, "t_mh_idx_bucketed", buckets=4)
    try:
        with scoped_conf(spark, _NO_BROADCAST):
            out = minhash_dedup_incremental(
                batch, spark.table("t_mh_idx_bucketed"), corpus, "doc_id", "text",
                max_band_bucket=10_000,
            )
            got = {r.doc_id: r.status for r in out.collect()}
            assert got == {10: "dup_of_corpus", 11: "unique"}

            plan = out._jdf.queryExecution().executedPlan().toString()
            final = plan.split("== Initial Plan ==")[0]
            assert "Bucketed: true" in final, final[:3000]
            import re
            n_bk_exchanges = len(
                re.findall(r"Exchange hashpartitioning\(band_key", final)
            )
            assert n_bk_exchanges == 1, (
                f"expected only the delta side to shuffle on band_key, found "
                f"{n_bk_exchanges} exchanges:\n{final[:3000]}"
            )

            # identical classification via the plain (unbucketed) index
            plain = {
                r.doc_id: r.status
                for r in minhash_dedup_incremental(
                    batch, idx, corpus, "doc_id", "text", max_band_bucket=10_000
                ).collect()
            }
            assert plain == got
    finally:
        spark.sql("DROP TABLE IF EXISTS t_mh_idx_bucketed")


def test_bucketed_index_also_serves_the_streaming_admission_join(spark, tmp_path):
    """The streaming complement of the bucketed-layout claim: per
    micro-batch, the stream-static candidate join consumes the bucketed
    static scan directly — in sort-merge mode the ONLY band_key exchange
    in the micro-batch plan is the stream side's banding; the corpus index
    is never re-shuffled, batch after batch."""
    import contextlib
    import io
    import re

    from ironbeam_spark.operators.incremental import (
        minhash_index,
        minhash_verify_table,
        write_minhash_index_table,
    )
    from ironbeam_spark.streaming.dedup import stream_dedup_against_index

    static = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = static.where(F.col("doc_id") % 3 != 1)
    idx = minhash_index(corpus, "doc_id", "text")
    spark.sql("DROP TABLE IF EXISTS t_mh_sidx")
    write_minhash_index_table(idx, "t_mh_sidx", buckets=4)
    try:
        with scoped_conf(spark, _NO_BROADCAST):
            ver = minhash_verify_table(corpus, "doc_id", "text")
            sdf = (
                spark.readStream.schema(static.schema)
                .option("pathGlobFilter", "documents.parquet")
                .parquet(SF_SMOKE)
                .where(F.col("doc_id") % 3 == 1)
                .select("doc_id", "text")
            )
            matches = stream_dedup_against_index(
                sdf, spark.table("t_mh_sidx"), ver, "doc_id", "text"
            )
            ckpt = str(tmp_path / "ckpt")
            q = (
                matches.writeStream.format("memory")
                .queryName("t_mh_sidx_out")
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            assert spark.table("t_mh_sidx_out").count() > 0
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                q.explain()
            plan = buf.getvalue()
            assert "Bucketed: true" in plan, plan[:3000]
            n = len(re.findall(r"Exchange hashpartitioning\(band_key", plan))
            assert n == 1, f"expected only the stream side to shuffle, got {n}:\n{plan[:3000]}"
    finally:
        spark.sql("DROP TABLE IF EXISTS t_mh_sidx")
