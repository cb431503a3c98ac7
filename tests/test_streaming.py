"""Stateful Structured Streaming operator tests (applyInPandasWithState):
first-seen dedup and running counts over the events table, AvailableNow."""

from __future__ import annotations

import os
import tempfile

import pyspark.sql.functions as F
from pyspark.sql.streaming import StreamingQueryListener

from ironbeam_spark.sources.io import read_table
from ironbeam_spark.streaming import run_to_memory
from ironbeam_spark.streaming.stateful import stream_dedup_first, stream_running_count
from tests.conftest import SF_SMOKE


def _events_stream(spark):
    static = read_table(spark, SF_SMOKE, "events")
    return (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(SF_SMOKE)
    ), static


def test_stream_dedup_first_matches_batch_winner(spark):
    sdf, static = _events_stream(spark)
    out = stream_dedup_first(
        sdf.select("user_id", "event_type", "event_id"),
        ["user_id", "event_type"],
        "event_id",
    )
    run_to_memory(out, "t_stream_dedup", "append")
    got = {
        (r.user_id, r.event_type): r.event_id for r in spark.table("t_stream_dedup").collect()
    }
    expected = {
        (r.user_id, r.event_type): r.first_id
        for r in static.groupBy("user_id", "event_type")
        .agg(F.min("event_id").alias("first_id"))
        .collect()
    }
    assert got == expected  # one winner per key, deterministic min-by


def test_stream_dedup_first_keeps_bigints_exact(spark, tmp_path):
    """A non-key bigint above 2**53 comes out exact when a NULL of the same
    column shares its group (pandas would hold the column as float64)."""
    schema = "k long, o long, x long"
    rows = [(1, 0, 2**53 + 1), (1, 1, None), (2, 1, None), (2, 0, 2**53 + 3)]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    out = stream_dedup_first(spark.readStream.schema(schema).parquet(src), ["k"], "o")
    assert out.dtypes == [("k", "bigint"), ("o", "bigint"), ("x", "bigint")]
    run_to_memory(out, "t_stream_dedup_exact", "append")
    got = {r.k: (r.o, r.x) for r in spark.table("t_stream_dedup_exact").collect()}
    assert got == {1: (0, 2**53 + 1), 2: (0, 2**53 + 3)}


def test_stream_running_count_single_batch(spark):
    sdf, static = _events_stream(spark)
    out = stream_running_count(
        sdf.select(F.col("event_type").cast("string").alias("event_type")),
        ["event_type"],
    )
    run_to_memory(out, "t_stream_counts", "update")
    got = {r.event_type: r.running_n for r in spark.table("t_stream_counts").collect()}
    expected = {
        r.event_type: r.n
        for r in static.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == expected


def test_stream_running_count_bigint_key(spark):
    """Key DDL is derived from the input dtype — a bigint grouping key must
    round-trip as bigint, not be hardcoded to string."""
    sdf, static = _events_stream(spark)
    out = stream_running_count(sdf.select("user_id"), ["user_id"])
    assert dict(out.dtypes)["user_id"] == "bigint"
    run_to_memory(out, "t_stream_counts_big", "update")
    got = {r.user_id: r.running_n for r in spark.table("t_stream_counts_big").collect()}
    expected = {
        r.user_id: r.n
        for r in static.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == expected


def test_stream_sliding_and_session_match_batch(spark):
    """stream_sliding_agg / stream_session_agg (AvailableNow) agree with the
    same aggregation run in batch mode — shared DataFrame code, two engines."""
    from ironbeam_spark.streaming.windows import stream_session_agg, stream_sliding_agg

    from ironbeam_spark.operators.windowing import to_event_time

    sdf, static = _events_stream(spark)
    to_ts = lambda df: df.withColumn(  # noqa: E731
        "event_time", to_event_time(df, "ts")
    )

    slid = stream_sliding_agg(
        to_ts(sdf), "event_time", 3_600_000, 1_800_000, ["event_type"],
        F.count(F.lit(1)).alias("n"),
    )
    run_to_memory(slid, "t_slide", "complete")
    got = {
        (r.event_type, r.window_start): r.n for r in spark.table("t_slide").collect()
    }
    batch = stream_sliding_agg(
        to_ts(static), "event_time", 3_600_000, 1_800_000, ["event_type"],
        F.count(F.lit(1)).alias("n"),
    )
    expected = {(r.event_type, r.window_start): r.n for r in batch.collect()}
    assert got == expected

    sess = stream_session_agg(
        to_ts(sdf.where("user_id < 5")), "event_time", 600_000, ["user_id"],
        F.count(F.lit(1)).alias("n"),
    )
    run_to_memory(sess, "t_sess", "complete")
    got_s = {
        (r.user_id, r.session_start, r.session_end): r.n
        for r in spark.table("t_sess").collect()
    }
    batch_s = stream_session_agg(
        to_ts(static.where("user_id < 5")), "event_time", 600_000, ["user_id"],
        F.count(F.lit(1)).alias("n"),
    )
    expected_s = {
        (r.user_id, r.session_start, r.session_end): r.n for r in batch_s.collect()
    }
    assert got_s == expected_s


def test_stream_dedup_rocksdb_state_store_matches_default(spark):
    """Same stateful dedup under the RocksDB state store provider (the
    at-scale backend) — results must match the default provider exactly."""
    from ironbeam_spark.streaming.stateful import ROCKSDB_PROVIDER, rocksdb_state_store

    sdf, static = _events_stream(spark)
    before = spark.conf.getAll
    with rocksdb_state_store(spark):
        assert spark.conf.get("spark.sql.streaming.stateStore.providerClass") == ROCKSDB_PROVIDER
        out = stream_dedup_first(
            sdf.select("user_id", "event_type", "event_id"),
            ["user_id", "event_type"],
            "event_id",
        )
        run_to_memory(out, "t_stream_dedup_rocks", "append")
    assert spark.conf.getAll == before  # keys unset before are unset again
    got = {
        (r.user_id, r.event_type): r.event_id
        for r in spark.table("t_stream_dedup_rocks").collect()
    }
    expected = {
        (r.user_id, r.event_type): r.first_id
        for r in static.groupBy("user_id", "event_type")
        .agg(F.min("event_id").alias("first_id"))
        .collect()
    }
    assert got == expected


def test_stream_interval_join_matches_batch(spark):
    """Stream-stream interval join (watermarked both sides, time-range
    condition so state evicts) equals the batch join under AvailableNow."""
    from ironbeam_spark.streaming.joins import stream_interval_join

    from ironbeam_spark.operators.windowing import to_event_time

    def prep(df, ts_alias, id_alias, etype):
        return (
            df.where(F.col("event_type") == etype)
            .withColumn("event_time", to_event_time(df, "ts"))
            .select(
                "user_id",
                F.col("event_time").alias(ts_alias),
                F.col("event_id").alias(id_alias),
            )
        )

    sdf, static = _events_stream(spark)
    s_out = stream_interval_join(
        prep(sdf, "err_time", "err_id", "error"),
        prep(sdf, "click_time", "click_id", "click"),
        on=["user_id"],
        left_ts="err_time",
        right_ts="click_time",
        lower_ms=0,
        upper_ms=3_600_000,
        watermark_ms=600_000,
    ).select("user_id", "err_id", "click_id")
    run_to_memory(s_out, "t_stream_ij", "append")
    got = {(r.user_id, r.err_id, r.click_id) for r in spark.table("t_stream_ij").collect()}

    b_out = stream_interval_join(
        prep(static, "err_time", "err_id", "error"),
        prep(static, "click_time", "click_id", "click"),
        on=["user_id"],
        left_ts="err_time",
        right_ts="click_time",
        lower_ms=0,
        upper_ms=3_600_000,
    ).select("user_id", "err_id", "click_id")
    expected = {(r.user_id, r.err_id, r.click_id) for r in b_out.collect()}
    assert got == expected
    assert len(expected) > 0  # non-degenerate


def test_stream_distinct_and_within_watermark_dedup(spark):
    """stream_distinct == batch DISTINCT; dropDuplicatesWithinWatermark over
    a single-batch bounded replay (all rows inside one micro-batch, so every
    duplicate is within the watermark) == the same distinct key set."""
    from ironbeam_spark.operators.windowing import to_event_time
    from ironbeam_spark.streaming.dedup import (
        stream_dedup_within_watermark,
        stream_distinct,
    )

    sdf, static = _events_stream(spark)
    expected = {
        (r.user_id, r.event_type)
        for r in static.select("user_id", "event_type").distinct().collect()
    }

    out = stream_distinct(sdf, ["user_id", "event_type"])
    run_to_memory(out, "t_stream_distinct", "append")
    got = {
        (r.user_id, r.event_type) for r in spark.table("t_stream_distinct").collect()
    }
    assert got == expected

    sdf2, _ = _events_stream(spark)
    sdf2 = sdf2.withColumn("event_time", to_event_time(sdf2, "ts"))
    wm = stream_dedup_within_watermark(
        sdf2.select("user_id", "event_type", "event_time"),
        ["user_id", "event_type"],
        "event_time",
        "10 minutes",
    )
    run_to_memory(wm, "t_stream_wm_dedup", "append")
    rows = spark.table("t_stream_wm_dedup").collect()
    assert {(r.user_id, r.event_type) for r in rows} == expected
    assert len(rows) == len(expected)  # no key emitted twice


def test_rocksdb_changelog_batch_equivalence_property(spark):
    """Property test (VERDICT r4 #7): randomized event streams, split into
    multiple micro-batches (maxFilesPerTrigger=1), must produce batch-
    equivalent results under BOTH state-store providers — the default
    HDFS-backed one and RocksDB with changelog checkpointing.  Covers the
    two hardest state shapes: cross-batch first-seen dedup and session
    windows that merge across micro-batches."""
    import uuid

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from ironbeam_spark.streaming.stateful import rocksdb_state_store
    from ironbeam_spark.streaming.windows import stream_session_agg

    event = st.tuples(
        st.integers(min_value=0, max_value=4),      # user_id
        st.integers(min_value=0, max_value=3600),   # offset seconds
        st.integers(min_value=0, max_value=10_000), # event_id
    )

    @given(events=st.lists(event, min_size=1, max_size=60))
    @settings(
        max_examples=4,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def run(events):
        tag = uuid.uuid4().hex[:8]
        with tempfile.TemporaryDirectory(prefix=f"ironbeam_prop_src_{tag}_") as src:
            static = spark.createDataFrame(
                events, "user_id int, off int, event_id int"
            ).select(
                "user_id",
                "event_id",
                F.timestamp_seconds(F.lit(1_700_000_000) + F.col("off")).alias(
                    "event_time"
                ),
            )
            # >=3 files -> >=3 micro-batches under maxFilesPerTrigger=1:
            # state must genuinely carry across commits
            static.repartition(3).write.mode("overwrite").parquet(src)
            persisted = spark.read.parquet(src)

            exp_dedup = {
                r.user_id: r.first_id
                for r in persisted.groupBy("user_id")
                .agg(F.min("event_id").alias("first_id"))
                .collect()
            }
            exp_sess = {
                (r.user_id, r.session_start, r.session_end): r.n
                for r in stream_session_agg(
                    persisted, "event_time", 600_000, ["user_id"],
                    F.count(F.lit(1)).alias("n"),
                ).collect()
            }
            ids_by_user: dict = {}
            for r in persisted.collect():
                ids_by_user.setdefault(r.user_id, set()).add(r.event_id)
            winners: dict = {}

            for provider in ("default", "rocksdb"):
                def stream():
                    return (
                        spark.readStream.schema(persisted.schema)
                        .option("maxFilesPerTrigger", "1")
                        .parquet(src)
                    )

                def check():
                    d = stream_dedup_first(
                        stream().select("user_id", "event_id"),
                        ["user_id"],
                        "event_id",
                    )
                    run_to_memory(d, f"t_prop_d_{tag}_{provider}", "append")
                    got_d = {
                        r.user_id: r.event_id
                        for r in spark.table(f"t_prop_d_{tag}_{provider}").collect()
                    }
                    # first-seen winner = min event_id WITHIN the key's
                    # first micro-batch, and micro-batch file order is an
                    # engine detail — so the portable contract is: exactly
                    # one winner per key, drawn from that key's own ids;
                    # and since both providers see the same files in the
                    # same trigger order, the winners must match EXACTLY
                    # across providers (asserted after the loop)
                    assert set(got_d) == set(exp_dedup)
                    for u, eid in got_d.items():
                        assert eid in ids_by_user[u], (u, eid)
                    winners[provider] = got_d
                    s = stream_session_agg(
                        stream(), "event_time", 600_000, ["user_id"],
                        F.count(F.lit(1)).alias("n"),
                        watermark_ms=0,
                    )
                    run_to_memory(s, f"t_prop_s_{tag}_{provider}", "complete")
                    got_s = {
                        (r.user_id, r.session_start, r.session_end): r.n
                        for r in spark.table(f"t_prop_s_{tag}_{provider}").collect()
                    }
                    assert got_s == exp_sess, provider

                if provider == "rocksdb":
                    with rocksdb_state_store(spark):
                        assert (
                            spark.conf.get(
                                "spark.sql.streaming.stateStore.rocksdb."
                                "changelogCheckpointing.enabled"
                            )
                            == "true"
                        )
                        check()
                else:
                    check()
            assert winners["default"] == winners["rocksdb"]

    run()


def test_stream_interval_join_rocksdb_matches_default(spark):
    """The stream-stream interval join is provider-portable: identical
    output under the default and RocksDB (changelog) state stores."""
    from ironbeam_spark.streaming.joins import stream_interval_join
    from ironbeam_spark.streaming.stateful import rocksdb_state_store

    from ironbeam_spark.operators.windowing import to_event_time

    def prep(df, ts_alias, id_alias, etype):
        return (
            df.where(F.col("event_type") == etype)
            .withColumn("event_time", to_event_time(df, "ts"))
            .select(
                "user_id",
                F.col("event_time").alias(ts_alias),
                F.col("event_id").alias(id_alias),
            )
        )

    results = {}
    for provider in ("default", "rocksdb"):
        def run():
            sdf, _ = _events_stream(spark)
            out = stream_interval_join(
                prep(sdf.where("user_id < 25"), "err_time", "err_id", "error"),
                prep(sdf.where("user_id < 25"), "click_time", "click_id", "click"),
                on=["user_id"],
                left_ts="err_time",
                right_ts="click_time",
                lower_ms=0,
                upper_ms=3_600_000,
                watermark_ms=600_000,
            ).select("user_id", "err_id", "click_id")
            run_to_memory(out, f"t_ij_{provider}", "append")
            return {
                (r.user_id, r.err_id, r.click_id)
                for r in spark.table(f"t_ij_{provider}").collect()
            }

        if provider == "rocksdb":
            with rocksdb_state_store(spark):
                results[provider] = run()
        else:
            results[provider] = run()
    assert results["default"] == results["rocksdb"]
    assert len(results["default"]) > 0


def test_stream_interval_left_outer_join_matches_batch(spark):
    """Left-outer stream-stream interval join: unmatched errors emit
    null-extended rows once the watermark passes; equivalence holds on the
    region the watermark fully closed (both sides identically filtered)."""
    from ironbeam_spark.operators.windowing import to_event_time
    from ironbeam_spark.streaming.joins import stream_interval_join

    UPPER_MS, WM_MS = 3_600_000, 600_000

    def prep(df, ts_alias, id_alias, etype):
        return (
            df.where(F.col("event_type") == etype)
            .withColumn("event_time", to_event_time(df, "ts"))
            .select(
                "user_id",
                F.col("event_time").alias(ts_alias),
                F.col("event_id").alias(id_alias),
            )
        )

    sdf, static = _events_stream(spark)
    args = dict(
        on=["user_id"],
        left_ts="err_time",
        right_ts="click_time",
        lower_ms=0,
        upper_ms=UPPER_MS,
    )
    s_out = stream_interval_join(
        prep(sdf, "err_time", "err_id", "error"),
        prep(sdf, "click_time", "click_id", "click"),
        watermark_ms=WM_MS,
        how="left_outer",
        **args,
    ).select("user_id", "err_time", "err_id", "click_id")
    run_to_memory(s_out, "t_stream_loj", "append")

    # closed region: strictly more than (watermark + upper) before the
    # stream's final watermark.  The watermark is computed per SIDE from
    # the max event time each watermarked node has SEEN (the filtered
    # subsets), and the global watermark is their MIN — so the cutoff must
    # come from the earlier side's max, not the overall stream max
    import pyspark.sql.functions as F2

    def _max_us(etype):
        return (
            static.where(F2.col("event_type") == etype)
            .agg(F2.max(F2.unix_micros(to_event_time(static, "ts"))))
            .collect()[0][0]
        )

    max_us = min(_max_us("error"), _max_us("click"))
    cutoff_us = max_us - (WM_MS + UPPER_MS + 600_000) * 1000

    got = {
        (r.user_id, r.err_id, r.click_id)
        for r in spark.table("t_stream_loj").collect()
        if r.err_time.timestamp() * 1_000_000 < cutoff_us
    }
    b_out = stream_interval_join(
        prep(static, "err_time", "err_id", "error"),
        prep(static, "click_time", "click_id", "click"),
        how="left_outer",
        **args,
    ).where(F.unix_micros("err_time") < cutoff_us).select(
        "user_id", "err_id", "click_id"
    )
    expected = {(r.user_id, r.err_id, r.click_id) for r in b_out.collect()}
    assert got == expected
    assert any(c is None for _, _, c in expected)  # real outer rows exist


class _StatePartitions(StreamingQueryListener):
    """Collects ``numShufflePartitions`` of every state operator in the
    progress events of the queries that run while it is registered."""

    def __init__(self):
        self.seen: set[int] = set()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.seen.update(s.numShufflePartitions for s in event.progress.stateOperators)

    def onQueryTerminated(self, event):
        pass


def _state_partitions(spark, name: str) -> set[int]:
    """State-store partition counts of a streaming distinct over the smoke
    ``events`` table run through ``run_to_memory``."""
    from ironbeam_spark.streaming.dedup import stream_distinct

    sdf, _ = _events_stream(spark)
    listener = _StatePartitions()
    spark.streams.addListener(listener)
    try:
        run_to_memory(stream_distinct(sdf, ["user_id", "event_type"]), name, "append")
        # progress reaches the listener through the async listener bus
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    finally:
        spark.streams.removeListener(listener)
    return listener.seen


def test_run_to_memory_sizes_state_partitions_to_input(spark):
    """The state store gets ceil(input bytes / advisoryPartitionSizeInBytes)
    partitions, clamped to [1, spark.sql.shuffle.partitions]."""
    from ironbeam_spark.session import scoped_conf

    session_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert session_n > 2
    # the smoke events file is far below the default 64 MB advisory size
    assert _state_partitions(spark, "t_parts_small") == {1}

    size = os.path.getsize(os.path.join(SF_SMOKE, "events.parquet"))
    advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    with scoped_conf(spark, {advisory: f"{size // 2 + 1}b"}):
        assert _state_partitions(spark, "t_parts_two") == {2}
    with scoped_conf(spark, {advisory: f"{size // (4 * session_n)}b"}):
        assert _state_partitions(spark, "t_parts_full") == {session_n}


def test_run_to_memory_leaves_session_conf_unchanged(spark):
    """The chosen count applies to the started query only: the session's
    conf is the same after a call as before it, also when ``.start()``
    raises (complete mode needs a streaming aggregation)."""
    import pytest
    from pyspark.errors import AnalysisException

    before = spark.conf.getAll
    sdf, _ = _events_stream(spark)
    run_to_memory(sdf.select("user_id"), "t_conf_ok", "append")
    assert spark.conf.getAll == before

    with pytest.raises(AnalysisException):
        run_to_memory(sdf.select("user_id"), "t_conf_bad", "complete")
    assert spark.conf.getAll == before
