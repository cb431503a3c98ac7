"""Unit tests for the second-wave operators: CombineFn protocol, side inputs,
partition!/try_map side outputs, multimodal fake decode (byte-exact), and
streaming/batch tumbling equivalence."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ironbeam_spark.operators.combinefn import CombineFn, combine_globally, combine_per_key
from ironbeam_spark.operators.dead_letter import collect_fail_fast, partition_tags, try_map
from ironbeam_spark.operators.multimodal import as_blob, decode_image, fake_decode_features
from ironbeam_spark.operators.side_inputs import filter_with_side, with_side_map, with_singleton
from tests.conftest import SF_SMOKE


def _sum_count(skip_null: bool = False) -> CombineFn:
    # defined inside a function so cloudpickle serializes the class by value
    # (executors cannot import the tests package)
    class SumCount(CombineFn):
        def create_accumulator(self):
            return (0, 0)

        def add_input(self, acc, row):
            if skip_null and row["v"] is None:
                return acc
            return (acc[0] + row["v"], acc[1] + 1)

        def merge_accumulators(self, accs):
            return (sum(a[0] for a in accs), sum(a[1] for a in accs))

        def extract_output(self, acc):
            return {"total": acc[0], "n": acc[1]}

    return SumCount()


def test_combinefn_per_key(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 10), ("b", 20), ("b", 30)], "k string, v long"
    )
    combined = combine_per_key(df, ["k"], _sum_count(), "k string, total long, n long")
    out = {r.k: (r.total, r.n) for r in combined.collect()}
    assert out == {"a": (3, 2), "b": (60, 3)}
    plan = _final_plan(combined)  # one Arrow fold per key group, no pandas frame
    assert "FlatMapGroupsInArrow" in plan and "FlatMapGroupsInPandas" not in plan, plan


@pytest.mark.parametrize("how", ["globally", "per_key"])
def test_combinefn_sees_exact_ints_and_none(spark, how):
    """The fold receives exact Python ints and None for nulls: a bigint
    above 2**53 keeps its low bit, and a null-skipping add_input skips."""
    df = spark.createDataFrame(
        [("a", 2**53 + 1), ("a", None), ("a", 2)], "k string, v long"
    )
    if how == "globally":
        row = combine_globally(df, _sum_count(skip_null=True), "total long, n long").collect()[0]
    else:
        (row,) = combine_per_key(
            df, ["k"], _sum_count(skip_null=True), "k string, total long, n long"
        ).collect()
    assert (row.total, row.n) == (9007199254740995, 2)


def test_combinefn_globally_and_empty(spark):
    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long")
    row = combine_globally(df, _sum_count(), "total long, n long").collect()[0]
    assert (row.total, row.n) == (3, 2)
    empty = df.where(F.lit(False))
    row = combine_globally(empty, _sum_count(), "total long, n long").collect()[0]
    assert (row.total, row.n) == (0, 0)  # identity on empty input, like the reference


def test_combinefn_globally_composes_lazily(spark):
    """The result is a lazy DataFrame (no driver collect inside), so it can
    sit mid-pipeline — e.g. broadcast-joined back onto the input."""
    df = spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], "k string, v long")
    total = combine_globally(df, _sum_count(), "total long, n long")
    enriched = df.crossJoin(F.broadcast(total)).withColumn(
        "share", F.col("v") / F.col("total")
    )
    rows = {r.k: r.share for r in enriched.collect()}
    assert rows == {"a": 1 / 6, "b": 2 / 6, "c": 3 / 6}


def _final_plan(df) -> str:
    """Executed plan string, final-plan section only (AQE's toString repeats
    every node under '== Initial Plan ==')."""
    s = df._jdf.queryExecution().executedPlan().toString()
    return s.split("== Initial Plan ==")[0]


def test_combinefn_globally_tree_merge_stages(spark, monkeypatch):
    """The global combine is a two-level tree: partial -> intermediate merge
    (repartition(_MERGE_FANOUT)) -> final merge.  The executed plan must show
    three MapInArrow stages and two exchanges, so no single merge task ever
    sees all P partial accumulators."""
    from ironbeam_spark.operators import combinefn

    monkeypatch.setattr(combinefn, "_MERGE_FANOUT", 4)
    df = spark.createDataFrame([(i,) for i in range(100)], "v long").repartition(8)
    out = combine_globally(df, _sum_count(), "total long, n long")
    row = out.collect()[0]
    assert (row.total, row.n) == (sum(range(100)), 100)
    plan = _final_plan(out)
    assert plan.count("MapInArrow") == 3, plan
    assert "MapInPandas" not in plan, plan
    assert plan.count("RoundRobinPartitioning(4)") == 1, plan  # intermediate
    assert plan.count("Exchange SinglePartition") == 1, plan  # final


def test_heavy_hitters_tree_merge_stages(spark, monkeypatch):
    """approx_heavy_hitters merges summaries in a two-level tree: partial
    summaries -> repartition(_MERGE_FANOUT) intermediate merge -> final
    single-partition merge.  Guarantee must survive the extra level."""
    from ironbeam_spark.operators import combinefn
    from ironbeam_spark.operators.frequency import approx_heavy_hitters

    monkeypatch.setattr(combinefn, "_MERGE_FANOUT", 4)
    rows = [("hot",)] * 60 + [(f"cold{i}",) for i in range(40)]
    df = spark.createDataFrame(rows, "item string").repartition(8)
    out = approx_heavy_hitters(df, "item", m=8)
    got = {r.item: (r.est, r.err) for r in out.collect()}
    assert "hot" in got
    est, err = got["hot"]
    assert est <= 60 <= est + err  # MG guarantee across both merge levels
    plan = _final_plan(out)
    assert plan.count("MapInArrow") == 3, plan
    assert "MapInPandas" not in plan, plan
    assert plan.count("RoundRobinPartitioning(4)") == 1, plan  # intermediate
    assert plan.count("Exchange SinglePartition") == 1, plan  # final


def test_side_inputs(spark):
    df = spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")], "id long, v string")
    mapped = with_side_map(df, {1: "one", 2: "two"}, "id", "name")
    assert {r.id: r.name for r in mapped.collect()} == {1: "one", 2: "two", 3: None}
    assert with_singleton(df, 42, "c").collect()[0].c == 42
    kept = filter_with_side(df, [1, 3], "id")
    assert sorted(r.id for r in kept.collect()) == [1, 3]
    dropped = filter_with_side(df, [1, 3], "id", keep=False)
    assert [r.id for r in dropped.collect()] == [2]


def test_partition_tags_covers_all_rows(spark):
    df = spark.createDataFrame([(i,) for i in range(20)], "x long")
    tag = F.when(F.col("x") % 3 == 0, "fizz").when(F.col("x") % 3 == 1, "one").otherwise("two")
    parts = partition_tags(df, tag, ["fizz", "one", "two"])
    counts = {t: p.count() for t, p in parts.items()}
    assert counts == {"fizz": 7, "one": 7, "two": 6}


def test_try_map_and_fail_fast(spark):
    df = spark.createDataFrame([(1, 2), (2, 0), (3, 4)], "a long, b long")
    out = try_map(
        df,
        {"q": F.col("a") / F.col("b")},
        F.when(F.col("b") == 0, F.lit("div0")).otherwise(F.lit(None).cast("string")),
    )
    rows = {r.a: (r.q, r.error) for r in out.collect()}
    assert rows[2] == (None, "div0") and rows[1] == (0.5, None)
    with pytest.raises(ValueError, match="div0"):
        collect_fail_fast(out)
    ok = try_map(df.where("b != 0"), {"q": F.col("a") / F.col("b")}, F.lit(None).cast("string"))
    assert len(collect_fail_fast(ok)) == 2


def test_fake_decode_features_byte_exact(spark):
    texts = ["hello", "héllo wörld", "北京欢迎你", ""]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    feats = fake_decode_features(
        df.select("doc_id", as_blob("text").alias("payload")), "doc_id", "payload"
    )
    got = {r.doc_id: r for r in feats.collect()}
    for i, t in enumerate(texts):
        b = t.encode("utf-8")
        assert got[i].byte_len == len(b)
        assert got[i].first_byte == (b[0] if b else -1)
        assert got[i].last_byte == (b[-1] if b else -1)
        assert got[i].head_u32 == (int.from_bytes(b[:4], "little") if len(b) >= 4 else -1)


def test_decode_image_real_codecs_and_error_column(spark):
    """decode_image really parses BMP and PPM payloads (pure-Python codecs)
    and routes corrupt/unsupported formats to the error column instead of
    failing the job."""
    from ironbeam_spark.operators.jpeg import encode_jpeg
    from ironbeam_spark.operators.multimodal import encode_bmp, encode_ppm

    w, h = 5, 3
    rgb = bytes((i * 7) % 256 for i in range(w * h * 3))
    sums = [sum(rgb[i] for i in range(c, w * h * 3, 3)) for c in range(3)]
    # constant-color 8x8 tile: flat-quant JPEG decodes it to the exact
    # floor(x+0.5) YCbCr round-trip of the source color (jpeg.py contract)
    jw = jh = 8
    jpeg_rgb = bytes([10, 200, 55]) * (jw * jh)
    rows = [
        (1, encode_bmp(w, h, rgb)),
        (2, encode_ppm(w, h, rgb)),
        (3, b"\xff\xd8\xff\xe0JFIF"),  # truncated JPEG -> error column
        (4, b"BM\x00\x01"),  # truncated BMP -> error column
        (5, encode_jpeg(jw, jh, jpeg_rgb)),
        (6, b"\x00\x01no-such-magic"),  # unknown format -> error column
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    got = {r.id: r for r in decode_image(df, "id", "payload").collect()}
    for rid, fmt in ((1, "bmp"), (2, "ppm")):
        r = got[rid]
        assert (r.fmt, r.width, r.height, r.channels) == (fmt, w, h, 3)
        assert (r.sum_r, r.sum_g, r.sum_b) == tuple(sums)
        assert r.error is None
    assert got[3].fmt is None and "jpeg" in got[3].error
    assert got[4].fmt is None and got[4].error  # truncated -> error, not crash
    r5 = got[5]
    assert (r5.fmt, r5.width, r5.height, r5.error) == ("jpeg", jw, jh, None)
    assert (r5.sum_r, r5.sum_g, r5.sum_b) == (11 * 64, 200 * 64, 56 * 64)
    assert got[6].fmt is None and "unsupported image format" in got[6].error


def test_decode_audio_wav_pcm(spark):
    """decode_audio parses PCM16 WAV (RIFF walk) and errors on non-WAV."""
    from ironbeam_spark.operators.multimodal import decode_audio, encode_wav_pcm16

    samples = [(-1) ** i * (i * 13 % 1000) for i in range(200)]
    rows = [(1, encode_wav_pcm16(8000, 2, samples)), (2, b"ID3\x03mp3data")]
    df = spark.createDataFrame(rows, "id long, payload binary")
    got = {r.id: r for r in decode_audio(df, "id", "payload").collect()}
    r = got[1]
    assert (r.fmt, r.sample_rate, r.channels, r.bits, r.n_frames) == ("wav", 8000, 2, 16, 100)
    assert r.sum_abs == sum(abs(s) for s in samples)
    assert r.error is None
    assert got[2].fmt is None and "only WAV" in got[2].error


def test_stream_tumble_matches_batch(spark):
    """Streaming (AvailableNow) and batch tumbling aggs agree on the events
    table — same DataFrame code, two execution modes."""
    from ironbeam_spark.suite import QUERIES

    stream_rows = {
        (r.event_type, r.window_start): (r.n, r.sum_value_cents)
        for r in QUERIES["q_stream_tumble"].fn(spark, SF_SMOKE).collect()
    }
    from ironbeam_spark.operators.windowing import to_event_time
    from ironbeam_spark.sources.io import read_table

    ev = read_table(spark, SF_SMOKE, "events")
    batch = (
        ev.withColumn("event_time", to_event_time(ev, "ts"))
        .groupBy("event_type", F.window("event_time", "3600000 milliseconds"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
        )
        .select(
            "event_type",
            F.unix_millis("window.start").alias("window_start"),
            "n",
            "sum_value_cents",
        )
    )
    batch_rows = {
        (r.event_type, r.window_start): (r.n, r.sum_value_cents) for r in batch.collect()
    }
    assert stream_rows == batch_rows


def test_wait_on_sequences_actions(spark, tmp_path):
    from ironbeam_spark.operators.control import wait_on

    out = str(tmp_path / "signal.parquet")
    signal = spark.range(10).select(F.col("id").alias("x"))
    effects = []
    data = spark.range(3)
    got = wait_on(
        data,
        signal,  # drained via noop sink
        lambda: effects.append("side-effect"),
        lambda: signal.write.mode("overwrite").parquet(out),
    )
    assert effects == ["side-effect"]
    assert spark.read.parquet(out).count() == 10  # signal ran before data use
    assert got.count() == 3


def test_log_elements_passthrough(spark, capsys):
    from ironbeam_spark.operators.control import log_elements

    df = spark.createDataFrame([(1,), (2,)], "x long")
    out = log_elements(df, label="tap", n=1)
    assert out.count() == 2
    assert "[tap]" in capsys.readouterr().out


def test_debug_count_observation(spark):
    from ironbeam_spark.operators.control import debug_count

    df, obs = debug_count(spark.range(7).toDF("x"), "cnt")
    df.collect()
    assert obs.get["n"] == 7


def test_map_values_batches_arity_preserving(spark):
    from ironbeam_spark.collection import from_vec

    pc = from_vec(
        spark, [("a", 1), ("a", 2), ("b", 5)], "k string, v long"
    ).key_by("k")

    def double(table):
        from pyarrow.compute import multiply

        i = table.schema.get_field_index("v")
        return table.set_column(i, "v", multiply(table.column("v"), 2))

    got = sorted(
        tuple(r) for r in pc.map_values_batches(double, "k string, v long").collect()
    )
    assert got == [("a", 2), ("a", 4), ("b", 10)]


def test_map_values_batches_rejects_row_count_change(spark):
    """The arity promise is checked, not trusted: a group whose fn drops a
    row fails with both row counts named."""
    from ironbeam_spark.collection import from_vec

    pc = from_vec(
        spark, [("a", 1), ("a", 2), ("b", 5)], "k string, v long"
    ).key_by("k")
    with pytest.raises(Exception, match="returned 1 rows for a group of 2"):
        pc.map_values_batches(lambda t: t.slice(0, 1), "k string, v long").collect()


_BIG = [2**53 + 1, None, 2**53 + 3]  # not representable as float64


def _big_batch_by_size(spark):
    from ironbeam_spark.collection import from_vec

    pc = from_vec(spark, [(x, 1) for x in _BIG], "x long, sz long").reshuffle(1)
    return [e.x for r in pc.batch_by_size(100, "sz").collect() for e in r.batch]


def _big_map_values_batches(spark):
    from ironbeam_spark.collection import from_vec

    pc = from_vec(spark, [("a", x) for x in _BIG], "k string, x long").key_by("k")
    return [r.x for r in pc.map_values_batches(lambda t: t, "k string, x long").collect()]


def _big_ewma_per_key(spark):
    from ironbeam_spark.operators.smoothing import ewma_per_key

    df = spark.createDataFrame(
        [(1, i * 1000, i, 1.0, x) for i, x in enumerate(_BIG)],
        "key long, ts long, seq long, value double, x long",
    )
    out = ewma_per_key(df, ["key"], "ts", "value", 0.5, tiebreak_cols=["seq"])
    return [r.x for r in out.collect()]


def _big_bpe_segment(spark):
    from ironbeam_spark.operators.bpe import bpe_segment

    df = spark.createDataFrame(
        [(x, "ab") for x in _BIG], "id long, text string"
    ).coalesce(1)  # one batch, so the NULL sits beside the big ints
    return [r.id for r in bpe_segment(df, "id", "text", []).collect()]


@pytest.mark.parametrize(
    "run",
    [_big_batch_by_size, _big_map_values_batches, _big_ewma_per_key, _big_bpe_segment],
    ids=["batch_by_size", "map_values_batches", "ewma_per_key", "bpe_segment"],
)
def test_pass_through_bigint_is_exact(spark, run):
    """A nullable bigint column passed through a Python batch map comes back
    as the exact ints (a float64 detour would round both above 2**53)."""
    from collections import Counter

    assert Counter(run(spark)) == Counter(_BIG)


def test_batch_by_size_greedy(spark):
    from ironbeam_spark.collection import from_vec

    # single partition so the greedy order is deterministic
    rows = [(i, s) for i, s in enumerate([40, 40, 40, 120, 10, 95, 10])]
    pc = from_vec(spark, rows, "id long, sz long").reshuffle(1)
    batches = [
        sorted(e.sz for e in r.batch)
        for r in pc.batch_by_size(100, "sz").collect()
    ]
    sizes = sorted(sum(b) for b in batches)
    # greedy: [40,40] | [40] then 120 alone | [10] .. all batches <= 100 except oversize single
    for b in batches:
        assert sum(b) <= 100 or len(b) == 1
    assert sum(len(b) for b in batches) == len(rows)
    assert sorted(x for b in batches for x in b) == sorted(s for _, s in rows)
    assert sizes  # non-empty


def test_metrics_collector(spark, tmp_path):
    import json

    from ironbeam_spark.metrics import MetricsCollector

    mc = MetricsCollector()
    df = spark.range(100).toDF("x")
    rows = mc.run(
        "count_range",
        df,
        counters={"n_rows": F.count(F.lit(1)), "sum_x": F.sum("x")},
    )
    assert len(rows) == 100
    m = mc.metrics[0]
    assert m.counters["n_rows"] == 100 and m.counters["sum_x"] == 4950
    assert m.wall_sec > 0
    assert "count_range" in mc.report()
    p = str(tmp_path / "metrics.json")
    mc.save_json(p)
    assert json.load(open(p))[0]["counters"]["n_rows"] == 100


def test_checkpoint_truncates_lineage(spark, tmp_path):
    from ironbeam_spark.collection import from_vec

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    pc = from_vec(spark, [(i,) for i in range(50)], "x long").filter(F.col("x") % 2 == 0)
    cp = pc.checkpoint()
    assert cp.df.count() == 25
    # lineage truncated: checkpointed plan no longer scans the original source
    assert "LogicalRDD" in cp.df._jdf.queryExecution().optimizedPlan().toString()
    lc = pc.local_checkpoint()
    assert lc.df.count() == 25


def test_explain_narrative_surface(spark):
    from ironbeam_spark.sources.io import read_table
    from ironbeam_spark.collection import PCollection
    from tests.conftest import SF_SMOKE

    pc = PCollection(read_table(spark, SF_SMOKE, "lineitem")).filter_eq(
        "l_returnflag", "R"
    ).key_by("l_linestatus").count_per_key()
    text = pc.explain_narrative()
    assert "scans=" in text and "aggregates=" in text


def test_dedup_components_union_find_model(spark):
    from ironbeam_spark.operators.dedup import dedup_components

    pairs = [(1, 2), (2, 3), (5, 6), (8, 9), (9, 1)]  # {1,2,3,8,9} and {5,6}
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r.node: r.component for r in dedup_components(df).collect()}

    # python union-find model
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    model = {n: find(n) for n in parent}
    assert got == model
    assert got[8] == 1 and got[5] == 5  # chain collapses to min id


def test_pcollection_element_wise_long_tail(spark):
    """filter_map / to_display_string / take / first / filter_by-style derived
    filters (SURVEY §2.2-2.3 long tail)."""
    from ironbeam_spark.collection import from_vec

    pc = from_vec(spark, [(1, "a"), (2, None), (3, "c")], "id long, s string")
    fm = pc.filter_map(F.upper("s"), alias="u")
    assert sorted(r.u for r in fm.collect()) == ["A", "C"]
    disp = pc.to_display_string("id")
    assert sorted(r.display for r in disp.collect()) == ["1", "2", "3"]
    assert len(pc.take(2).collect()) == 2
    assert len(pc.first().collect()) == 1
    derived = pc.filter(F.length(F.coalesce("s", F.lit(""))) > 0)
    assert derived.df.count() == 2


def test_kv_swap_and_constant_key(spark):
    from ironbeam_spark.collection import from_vec

    pc = from_vec(spark, [("x", 1), ("y", 2)], "k string, v long").key_by("k")
    swapped = pc.kv_swap(["v"])
    assert swapped.key_cols == ("v",)
    ck = from_vec(spark, [(1,), (2,)], "x long").with_constant_key(7)
    assert all(r.key == 7 for r in ck.collect())


def test_map_batches_arrow_recordbatch(spark):
    """map_batches on mapInArrow (ref map_batches, src/helpers/batches.rs:64):
    RecordBatch in, RecordBatch out, no pandas."""
    from ironbeam_spark.collection import from_vec

    pc = from_vec(spark, [(i,) for i in range(10)], "x long")

    def double(batches):
        import pyarrow as pa
        from pyarrow.compute import multiply

        for b in batches:
            arr = multiply(b.column("x"), 2)
            yield pa.RecordBatch.from_arrays([arr], names=["x"])

    got = sorted(r.x for r in pc.map_batches(double, "x long").collect())
    assert got == [i * 2 for i in range(10)]


def test_python_udtf(spark):
    """Python UDTF (SURVEY §2.12: flat_map's 1→N shape as a real table
    function, Spark 3.5+)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word string, pos int")
    class SplitWords:
        def eval(self, text: str):
            for i, w in enumerate(text.split()):
                yield w, i

    rows = SplitWords(F.lit("a b c")).collect()
    assert [(r.word, r.pos) for r in rows] == [("a", 0), ("b", 1), ("c", 2)]


def test_to_dict_duplicate_keys_last_write_wins(spark):
    """Duplicate keys dedupe to the max value per key BEFORE map building —
    Spark's default mapKeyDedupPolicy=EXCEPTION would otherwise throw
    (reference ToDict is last-write-wins, src/combiners/collect.rs:207)."""
    from ironbeam_spark.collection import PCollection

    df = spark.createDataFrame(
        [("a", 1), ("a", 5), ("b", 2), ("a", 3), ("c", 0)], "k string, v long"
    )
    out = PCollection(df).to_dict("k", "v", alias="d").collect()
    assert out[0]["d"] == {"a": 5, "b": 2, "c": 0}


def test_simhash_pairs_pigeonhole_guarantee(spark):
    """chunks defaults to max_hamming+1, so every pair within the Hamming
    bound shares >=1 exact chunk and recall within the bound is 1.0; fewer
    chunks than the guarantee needs is rejected."""
    import itertools

    import pytest as _pytest

    from ironbeam_spark.operators.dedup import simhash, simhash_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "the quick brown fox leaps over the lazy dog"),
            (4, "completely different text about spark query engines"),
            (5, "unrelated musings on distributed systems design"),
        ],
        "doc_id long, text string",
    )
    with _pytest.raises(ValueError, match="max_hamming < chunks"):
        simhash_pairs(docs, "doc_id", "text", chunks=4, max_hamming=6)

    max_h = 12
    got = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(docs, "doc_id", "text", max_hamming=max_h).collect()
    }
    fps = {r.doc_id: r.fp for r in docs.select(
        "doc_id", simhash("text", 48).alias("fp")).collect()}
    expected = {
        (a, b)
        for a, b in itertools.combinations(sorted(fps), 2)
        if bin(fps[a] ^ fps[b]).count("1") <= max_h
    }
    assert got == expected  # exhaustive ground truth: recall AND precision 1.0


def test_asof_join_semantics(spark):
    """Backward inclusive match, NULL when nothing precedes, tolerance cutoff
    (pandas merge_asof semantics; oracle parity in q_asof_join)."""
    from ironbeam_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [("a", 10), ("a", 20), ("a", 5), ("b", 7)], "k string, lt long"
    )
    right = spark.createDataFrame(
        [("a", 10, "r10"), ("a", 15, "r15"), ("a", 1, "r1")], "k string, rt long, v string"
    )
    out = asof_join(left, right, ["k"], "lt", "rt", ["v"])
    got = {(r.k, r.lt): (r.v, r.matched_ts) for r in out.collect()}
    assert got == {
        ("a", 10): ("r10", 10),  # inclusive: equal timestamps match
        ("a", 20): ("r15", 15),
        ("a", 5): ("r1", 1),
        ("b", 7): (None, None),  # no right rows for key
    }
    tol = asof_join(left, right, ["k"], "lt", "rt", ["v"], tolerance=3)
    got_tol = {(r.k, r.lt): r.v for r in tol.collect()}
    assert got_tol == {("a", 10): "r10", ("a", 20): None, ("a", 5): None, ("b", 7): None}


def test_asof_join_null_value_from_matched_row(spark):
    """A matched right row carrying a NULL value column yields that NULL —
    never a stitched row whose columns come from different right rows
    (pandas merge_asof / DuckDB ASOF semantics: the whole right row moves
    as one struct)."""
    from ironbeam_spark.operators.temporal import asof_join

    left = spark.createDataFrame([("a", 20)], "k string, lt long")
    right = spark.createDataFrame(
        [("a", 5, "old_v", "old_w"), ("a", 15, None, "new_w")],
        "k string, rt long, v string, w string",
    )
    out = asof_join(left, right, ["k"], "lt", "rt", ["v", "w"])
    row = out.collect()[0]
    # matched row is rt=15: v must be its NULL, not rt=5's "old_v"
    assert (row.v, row.w, row.matched_ts) == (None, "new_w", 15)


def test_interval_join_bucketing_invariant(spark):
    """Exact containment is independent of bucket width: intervals longer and
    shorter than the bucket all produce identical results."""
    from ironbeam_spark.operators.temporal import interval_join

    points = spark.createDataFrame(
        [("u", 5), ("u", 10), ("u", 99), ("u", 100), ("v", 10)], "k string, pt long"
    )
    ivs = spark.createDataFrame(
        [("u", 0, 100, "w1"), ("u", 98, 300, "w2"), ("v", 50, 60, "w3")],
        "k string, s long, e long, tag string",
    )
    expected = {("u", 5, "w1"), ("u", 10, "w1"), ("u", 99, "w1"), ("u", 99, "w2"), ("u", 100, "w2")}
    for width in (1, 7, 100, 1000):
        got = {
            (r.k, r.pt, r.tag)
            for r in interval_join(points, ivs, ["k"], "pt", "s", "e", width).collect()
        }
        assert got == expected, width


def test_scrub_pii_redacts_typed_tags(spark):
    from ironbeam_spark.functions.text import scrub_pii

    df = spark.createDataFrame(
        [
            ("mail me at jane.doe+spam@sub.example.co thanks",),
            ("server 192.168.0.1 and card 4111111111111111 leaked",),
            ("clean text with number 42 and date 2024.01.01",),
        ],
        "text string",
    )
    got = [r.clean for r in df.select(scrub_pii("text").alias("clean")).collect()]
    assert got[0] == "mail me at <EMAIL> thanks"
    assert got[1] == "server <IP> and card <CARDNUM> leaked"
    assert got[2] == "clean text with number 42 and date 2024.01.01"  # untouched


def test_heavy_hitters_guarantees_vs_exact(spark):
    """Mergeable Misra-Gries contract on a skewed domain: every item with
    true count > err is present, and est <= true <= est + err for all
    reported items."""
    from ironbeam_spark.operators.frequency import approx_heavy_hitters
    from ironbeam_spark.sources.io import read_table
    from tests.conftest import SF_SMOKE

    toks = (
        read_table(spark, SF_SMOKE, "documents")
        .select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .where(F.col("token") != "")
        .repartition(8)
    )
    exact = {r.token: r.n for r in toks.groupBy("token").agg(F.count(F.lit(1)).alias("n")).collect()}

    sketch = approx_heavy_hitters(toks, "token", m=16).collect()
    assert 0 < len(sketch) <= 16
    err = sketch[0].err
    reported = {r.item: r.est for r in sketch}
    for item, est in reported.items():
        assert est <= exact[item] <= est + err, (item, est, exact[item], err)
    for item, true_n in exact.items():
        if true_n > err:
            assert item in reported, (item, true_n, err)


def test_heavy_hitters_exact_when_capacity_suffices(spark):
    """With m >= |domain| no trimming happens: err == 0 and counts exact."""
    from ironbeam_spark.operators.frequency import approx_heavy_hitters

    df = spark.createDataFrame(
        [(x,) for x in ["a"] * 50 + ["b"] * 30 + ["c"] * 20], "item_in string"
    ).repartition(4)
    got = {r.item: (r.est, r.err) for r in approx_heavy_hitters(df, "item_in", m=8).collect()}
    assert got == {"a": (50, 0), "b": (30, 0), "c": (20, 0)}


def test_heavy_hitters_bigint_items_exact(spark):
    """A bigint item above 2**53 comes back exact (no float round trip)."""
    from ironbeam_spark.operators.frequency import approx_heavy_hitters

    df = spark.createDataFrame(
        [(2**53 + 1,)] * 5 + [(7,)] * 3, "item_in long"
    ).repartition(4)
    got = {r.item: (r.est, r.err) for r in approx_heavy_hitters(df, "item_in", m=8).collect()}
    assert got == {2**53 + 1: (5, 0), 7: (3, 0)}


def test_heavy_hitters_ignores_null_items(spark):
    """Null items are never counted or reported; the other counts stay exact."""
    from ironbeam_spark.operators.frequency import approx_heavy_hitters

    df = spark.createDataFrame(
        [(x,) for x in ["a"] * 4 + [None] * 6 + ["b"] * 2], "item_in string"
    ).repartition(3)
    got = {r.item: (r.est, r.err) for r in approx_heavy_hitters(df, "item_in", m=8).collect()}
    assert got == {"a": (4, 0), "b": (2, 0)}


def test_heavy_hitters_counts_nan_as_one_item(spark):
    """NaN is one item, as in Spark's groupBy, however the batches split it."""
    from ironbeam_spark.operators.frequency import approx_heavy_hitters

    df = spark.createDataFrame(
        [(float("nan"),)] * 6 + [(1.5,)] * 3, "item_in double"
    ).repartition(3)
    got = [(r.item, r.est, r.err) for r in approx_heavy_hitters(df, "item_in", m=8).collect()]
    nan = [(est, err) for item, est, err in got if item != item]
    assert nan == [(6, 0)] and (1.5, 3, 0) in got, got


def test_merge_upsert_semantics(spark):
    """Matched → whole-row replace (update NULLs overwrite), unmatched
    update → insert, unmatched target → keep; schema mismatch rejected."""
    from ironbeam_spark.operators.merge import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, s string, v long"
    )
    updates = spark.createDataFrame(
        [(2, "B", None), (4, "d", 40)], "k long, s string, v long"
    )
    got = {r.k: (r.s, r.v) for r in merge_upsert(target, updates, ["k"]).collect()}
    assert got == {
        1: ("a", 10),     # kept
        2: ("B", None),   # replaced, update NULL overwrites
        3: ("c", 30),     # kept
        4: ("d", 40),     # inserted
    }
    import pytest as _pytest

    bad = spark.createDataFrame([(1, "x")], "k long, other string")
    with _pytest.raises(ValueError, match="matching schemas"):
        merge_upsert(target, bad, ["k"])


def test_resize_image_nearest_model(spark):
    """decode->resize vs a pure-Python nearest-neighbor model, both codecs,
    plus the dead-letter row for corrupt payloads."""
    from ironbeam_spark.operators.multimodal import (
        decode_image_pixels,
        encode_bmp,
        encode_ppm,
        resize_image,
    )

    w, h = 7, 5
    rgb = bytes((i * 13) % 256 for i in range(w * h * 3))
    rows = [(1, encode_bmp(w, h, rgb)), (2, encode_ppm(w, h, rgb)), (3, b"JUNK")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r for r in resize_image(df, "doc_id", "payload", 3, 2).collect()}

    def model_sums(out_w, out_h):
        sums = [0, 0, 0]
        for y in range(out_h):
            for x in range(out_w):
                sx, sy = (x * w) // out_w, (y * h) // out_h
                p = sy * w + sx
                for c in range(3):
                    sums[c] += rgb[3 * p + c]
        return sums

    exp = model_sums(3, 2)
    for did, fmt in ((1, "bmp"), (2, "ppm")):
        r = out[did]
        assert (r.src_fmt, r.src_width, r.src_height) == (fmt, w, h)
        assert (r.width, r.height) == (3, 2)
        assert [r.sum_r, r.sum_g, r.sum_b] == exp
        # the emitted payload is a real PPM that round-trips to the same sums
        fmt2, px2 = decode_image_pixels(bytes(r.payload))
        assert fmt2 == "ppm" and px2.shape == (2, 3, 3)
        s2 = px2.reshape(-1, 3).astype("int64").sum(axis=0)
        assert list(s2) == exp
    assert out[3].error and out[3].src_fmt is None


def test_rvid_roundtrip_and_frame_sampling(spark):
    from ironbeam_spark.operators.multimodal import (
        decode_rvid,
        encode_rvid,
        sample_frames,
    )

    w, h, nf = 3, 2, 5
    frames = [bytes((f * 31 + i) % 256 for i in range(w * h * 3)) for f in range(nf)]
    blob = encode_rvid(w, h, 10, frames)
    v = decode_rvid(blob)
    assert (v["width"], v["height"], v["fps"], v["n_frames"]) == (w, h, 10, nf)
    assert bytes(v["frames"][2].tobytes()) == frames[2]

    df = spark.createDataFrame(
        [(1, blob), (2, b"nope")], "doc_id long, payload binary"
    )
    got = sample_frames(df, "doc_id", "payload", 2).collect()
    kept = sorted(
        (r.frame_idx, r.ts_ms, r.sum_r + r.sum_g + r.sum_b)
        for r in got
        if r.doc_id == 1
    )
    exp = []
    for f in (0, 2, 4):
        exp.append((f, f * 1000 // 10, sum(frames[f])))
    assert kept == exp
    bad = [r for r in got if r.doc_id == 2]
    assert len(bad) == 1 and bad[0].frame_idx == -1 and bad[0].error


def _null_payload_cases():
    from ironbeam_spark.operators import multimodal as mm
    from ironbeam_spark.operators.mpeg import probe_mpeg_audio, synthesize_mpeg_stream

    # operator name -> (run over (doc_id, payload), one valid payload,
    # a feature column that is set for it and null for a dead-letter row,
    # the feature columns between doc_id and error as simpleString prints them)
    return {
        "decode_image": (
            lambda df: mm.decode_image(df, "doc_id", "payload"),
            mm.encode_png(2, 2, bytes(range(12))),
            "width",
            "fmt:string,width:bigint,height:bigint,channels:bigint,"
            "sum_r:bigint,sum_g:bigint,sum_b:bigint",
        ),
        "decode_audio": (
            lambda df: mm.decode_audio(df, "doc_id", "payload"),
            mm.encode_wav_pcm16(8000, 1, [0, 5, -5]),
            "n_frames",
            "fmt:string,sample_rate:bigint,channels:bigint,bits:bigint,"
            "n_frames:bigint,sum_abs:bigint",
        ),
        "resize_image": (
            lambda df: mm.resize_image(df, "doc_id", "payload", 1, 1),
            mm.encode_ppm(2, 2, bytes(range(12))),
            "width",
            "src_fmt:string,src_width:bigint,src_height:bigint,width:bigint,"
            "height:bigint,sum_r:bigint,sum_g:bigint,sum_b:bigint,payload:binary",
        ),
        "sample_frames": (
            lambda df: mm.sample_frames(df, "doc_id", "payload", 1),
            mm.encode_rvid(1, 1, 10, [bytes(3), bytes(3)]),
            "width",
            "frame_idx:bigint,ts_ms:bigint,width:bigint,height:bigint,"
            "n_frames:bigint,sum_r:bigint,sum_g:bigint,sum_b:bigint",
        ),
        "probe_mpeg_audio": (
            lambda df: probe_mpeg_audio(df, "doc_id", "payload"),
            synthesize_mpeg_stream(n_frames=3),
            "frames",
            "fmt:string,version:string,sample_rate:bigint,channels:bigint,"
            "frames:bigint,duration_ms:bigint,kbps_min:bigint,kbps_max:bigint,"
            "vbr:boolean",
        ),
        "fake_decode_features": (
            lambda df: fake_decode_features(df, "doc_id", "payload"),
            b"abcde",
            "byte_len",
            "byte_len:bigint,first_byte:bigint,last_byte:bigint,head_u32:bigint",
        ),
    }


_PAYLOAD_OPS = [
    "decode_image", "decode_audio", "resize_image", "sample_frames",
    "probe_mpeg_audio", "fake_decode_features",
]


@pytest.mark.parametrize("op", _PAYLOAD_OPS)
def test_null_payload_is_dead_lettered(spark, op):
    """A NULL payload (a WebDataset sample without the member) yields the
    operator's dead-letter row — null features plus an error — and the
    valid payload next to it still decodes.  The output keeps its declared
    schema when every row is dead-lettered (all-null feature columns) and
    when there are no rows at all."""
    run, valid, feature, fields = _null_payload_cases()[op]
    schema = f"struct<doc_id:bigint,{fields},error:string>"
    ddl = "doc_id long, payload binary"
    rows = run(spark.createDataFrame([(1, valid), (2, None)], ddl)).collect()
    good = [r for r in rows if r.doc_id == 1]
    (bad,) = [r for r in rows if r.doc_id == 2]
    assert good and all(r.error is None and r[feature] is not None for r in good)
    assert bad.error and bad[feature] is None
    if op == "sample_frames":
        assert bad.frame_idx == -1

    only_null = run(spark.createDataFrame([(2, None)], ddl))
    assert only_null.schema.simpleString() == schema
    (dead,) = only_null.collect()
    expected = {n.split(":")[0]: None for n in fields.split(",")}
    if op == "sample_frames":
        expected["frame_idx"] = -1
    assert dead.asDict() == {"doc_id": 2, **expected, "error": "null payload"}

    empty = run(spark.createDataFrame([], ddl))
    assert empty.schema.simpleString() == schema
    assert empty.collect() == []


@pytest.mark.parametrize("id_type", ["string", "int"])
@pytest.mark.parametrize("op", _PAYLOAD_OPS)
def test_payload_ops_keep_id_type(spark, op, id_type):
    """The id column passes through with its input type: a string id does
    not kill the job and an int id is not widened to bigint."""
    run, valid, feature, fields = _null_payload_cases()[op]
    ids = ("a", "b") if id_type == "string" else (1, 2)
    df = spark.createDataFrame(
        [(ids[0], valid), (ids[1], None)], f"doc_id {id_type}, payload binary"
    )
    out = run(df)
    assert out.schema.simpleString() == f"struct<doc_id:{id_type},{fields},error:string>"
    got = {r.doc_id: r for r in out.collect()}
    assert set(got) == set(ids)
    assert got[ids[0]].error is None and got[ids[0]][feature] is not None
    assert got[ids[1]].error and got[ids[1]][feature] is None


@pytest.mark.parametrize("size", [(0, 2), (2, -1)])
def test_resize_image_rejects_sizes_below_one(spark, size):
    """A target below 1x1 is a caller error, raised on the driver — not a
    zero-width PPM with error=None, nor a dead-lettered row per payload."""
    from ironbeam_spark.operators.multimodal import encode_ppm, resize_image

    df = spark.createDataFrame(
        [(1, encode_ppm(2, 2, bytes(12)))], "doc_id long, payload binary"
    )
    with pytest.raises(ValueError, match="resize target"):
        resize_image(df, "doc_id", "payload", *size)


def test_cms_estimates_guarantee(spark):
    """CMS contract: never underestimates, and with width >> distinct items
    the estimate is exact for every key."""
    from ironbeam_spark.operators.frequency import cms_estimates

    rows = [(f"w{i % 40}",) for i in range(4000)] + [("rare",)] * 3
    df = spark.createDataFrame(rows, "item string")
    # keys column deliberately NOT named like the stream's item column —
    # the documented contract is "any one-column DataFrame"
    keys = spark.createDataFrame([(f"w{i}",) for i in range(40)] + [("rare",), ("absent",)], "k string")
    true = {r.item: r.n for r in df.groupBy("item").agg(F.count(F.lit(1)).alias("n")).collect()}
    est = {r.item: r.est for r in cms_estimates(df, "item", keys, depth=4, width=2048).collect()}
    assert est["absent"] >= 0
    for k, e in est.items():
        assert e >= true.get(k, 0), (k, e)
    # wide sketch, tiny domain: collisions vanishingly unlikely -> exact
    exact = sum(1 for k, e in est.items() if e == true.get(k, 0))
    assert exact >= len(est) - 1


def test_quantize_int8_properties(spark):
    """Quantization invariants: codes bounded by 127, reconstruction error
    <= scale/2 per element, zero vector -> zeros with scale 0, and int8
    cosine approximates float cosine."""
    from ironbeam_spark.functions.vectors import cosine, cosine_int8, quantize_int8

    vecs = [
        (1, [0.5, -1.0, 0.25, 0.125]),
        (2, [3.0, 2.0, -1.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 0.0]),
        (4, [1e-6, -2e-6, 3e-6, 4e-6]),
    ]
    df = spark.createDataFrame(vecs, "vid long, v array<double>")
    z = df.select("vid", "v", quantize_int8(F.col("v")).alias("z"))
    rows = {r.vid: r for r in z.collect()}
    assert list(rows[3].z.q) == [0, 0, 0, 0] and rows[3].z.scale == 0.0
    for vid in (1, 2, 4):
        r = rows[vid]
        assert max(abs(c) for c in r.z.q) <= 127
        for orig, code in zip(r.v, r.z.q):
            assert abs(orig - code * r.z.scale) <= r.z.scale / 2 + 1e-12
    # int8 cosine within quantization error of float cosine
    a, b = z.where(F.col("vid") == 1).alias("a"), z.where(F.col("vid") == 2).alias("b")
    pair = a.crossJoin(b).select(
        cosine(F.col("a.v"), F.col("b.v")).alias("cf"),
        cosine_int8(F.col("a.z.q"), F.col("b.z.q")).alias("cq"),
    ).first()
    assert abs(pair.cf - pair.cq) < 0.02


def test_p3_out_of_range_sample_is_dead_lettered(spark):
    """A P3 payload with a sample above maxval must produce an error row,
    never wrap silently or kill the job."""
    from ironbeam_spark.operators.multimodal import decode_image

    bad = b"P3\n1 1\n255\n300 0 0\n"
    df = spark.createDataFrame([(1, bad)], "doc_id long, payload binary")
    row = decode_image(df, "doc_id", "payload").collect()[0]
    assert row.error and "outside" in row.error and row.width is None


def test_brute_force_arrow_handles_null_vectors(spark, monkeypatch):
    """Null embeddings in the corpus must not crash or corrupt the Arrow
    scoring path (flatten() drops null lists - a blind reshape would shift
    every later row)."""
    from ironbeam_spark.operators import similarity
    from ironbeam_spark.operators.similarity import brute_force_topk

    rows = [(i, [float(i + j) for j in range(4)]) for i in range(20)]
    rows.append((99, None))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.where(F.col("vec_id") < 2)

    def scored(crossover_bytes):
        # 1 byte always picks the Arrow scorer, 2**60 the expression fold
        monkeypatch.setattr(similarity, "_SCORER_DEFAULT_BYTES", crossover_bytes)
        return {
            (r.query_id, r.neighbor_id, r.cos_sim)
            for r in brute_force_topk(emb, q, k=3).collect()
        }

    arrow, expr = scored(1), scored(1 << 60)
    assert arrow == expr and len(arrow) == 6


def test_brute_force_degenerate_vectors_never_outrank_real(spark, monkeypatch):
    """Zero-norm, empty, and null-element corpus vectors score NULL (not
    IEEE NaN, which Spark sorts ABOVE every double under desc) and are
    dropped before ranking — they must never appear in any top-k list.
    Regression: an all-zero vector used to rank #1 for EVERY query with
    cos_sim=NaN on the arrow path."""
    from ironbeam_spark.operators import similarity
    from ironbeam_spark.operators.similarity import brute_force_topk

    rows = [(i, [float(i + j + 1) for j in range(4)]) for i in range(10)]
    rows += [
        (90, [0.0, 0.0, 0.0, 0.0]),  # zero-norm
        (91, []),                    # empty
        (92, [1.0, None, 2.0, 3.0]), # null element
        (93, None),                  # null vector
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.where(F.col("vec_id") < 2)
    monkeypatch.setattr(similarity, "_SCORER_DEFAULT_BYTES", 1)  # Arrow scorer
    out = brute_force_topk(emb, q, k=3).collect()
    assert len(out) == 6  # 2 queries x k=3, fully populated by real rows
    for r in out:
        assert r.neighbor_id < 90, r
        assert r.cos_sim is not None and r.cos_sim == r.cos_sim, r


def test_wav_zero_channels_is_dead_lettered(spark):
    """A fmt chunk declaring 0 channels must produce an error row, not a
    ZeroDivisionError that escapes the dead-letter catch."""
    import struct

    from ironbeam_spark.operators.multimodal import decode_audio

    fmt = struct.pack("<HHIIHH", 1, 0, 8000, 0, 0, 16)
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt + b"data" + struct.pack("<I", 4) + b"\x00" * 4
    wav = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    df = spark.createDataFrame([(1, wav)], "doc_id long, payload binary")
    row = decode_audio(df, "doc_id", "payload").collect()[0]
    assert row.error and "0 channels" in row.error


def _png_forward_filter(rgb, w, h, ftype_per_row, channels=3):
    """Forward PNG filtering (spec §6) — the test-side inverse of the
    decoder's unfilter, so filters Sub/Up/Average/Paeth are exercised with
    externally-authored scanlines."""
    bpp = channels
    stride = w * channels
    out = bytearray()
    prev = bytes(stride)
    for y in range(h):
        row = rgb[y * stride : (y + 1) * stride]
        f = ftype_per_row[y % len(ftype_per_row)]
        out.append(f)
        for x in range(stride):
            a = row[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out.append((row[x] - pred) & 0xFF)
        prev = row
    return bytes(out)


def _png_chunks(chunks):
    import struct
    import zlib

    out = b"\x89PNG\r\n\x1a\n"
    for typ, data in chunks:
        out += (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )
    return out


def test_png_roundtrip_and_all_filters():
    """encode_png -> decode round-trips exactly, and hand-filtered payloads
    (Sub/Up/Average/Paeth on successive rows) reconstruct the same pixels."""
    import struct
    import zlib

    import numpy as np

    from ironbeam_spark.operators.multimodal import (
        decode_image_bytes,
        decode_image_pixels,
        encode_png,
    )

    w, h = 9, 7
    rgb = bytes(((x * 37 + y * 11 + c * 101) % 256) for y in range(h) for x in range(w) for c in range(3))
    fmt, px = decode_image_pixels(encode_png(w, h, rgb))
    assert fmt == "png" and bytes(px.reshape(-1)) == rgb
    d = decode_image_bytes(encode_png(w, h, rgb))
    arr = np.frombuffer(rgb, np.uint8).reshape(-1, 3).astype("int64")
    assert (d["width"], d["height"]) == (w, h)
    assert (d["sum_r"], d["sum_g"], d["sum_b"]) == tuple(arr.sum(axis=0))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = _png_forward_filter(rgb, w, h, [1, 2, 3, 4, 0])
    payload = _png_chunks(
        [(b"IHDR", ihdr), (b"IDAT", zlib.compress(raw)), (b"IEND", b"")]
    )
    fmt2, px2 = decode_image_pixels(payload)
    assert fmt2 == "png" and bytes(px2.reshape(-1)) == rgb


def test_png_color_types_gray_palette_alpha():
    """8-bit gray, gray+alpha, RGBA, and palette color types all decode to
    the documented RGB projection."""
    import struct
    import zlib

    from ironbeam_spark.operators.multimodal import decode_image_pixels

    w, h = 4, 3

    def payload(ctype, channels, raw_px, extra=()):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        stride = w * channels
        raw = b"".join(
            b"\x00" + raw_px[y * stride : (y + 1) * stride] for y in range(h)
        )
        return _png_chunks(
            [(b"IHDR", ihdr), *extra, (b"IDAT", zlib.compress(raw)), (b"IEND", b"")]
        )

    gray = bytes((x * 20 + y * 3) % 256 for y in range(h) for x in range(w))
    _, px = decode_image_pixels(payload(0, 1, gray))
    assert [tuple(p) for p in px.reshape(-1, 3)] == [(g, g, g) for g in gray]

    ga = b"".join(bytes((g, 128)) for g in gray)
    _, px = decode_image_pixels(payload(4, 2, ga))
    assert [tuple(p) for p in px.reshape(-1, 3)] == [(g, g, g) for g in gray]

    rgba = b"".join(bytes((g, 255 - g, g ^ 33, 7)) for g in gray)
    _, px = decode_image_pixels(payload(6, 4, rgba))
    assert [tuple(p) for p in px.reshape(-1, 3)] == [
        (g, 255 - g, g ^ 33) for g in gray
    ]

    pal = bytes(range(48))  # 16 palette entries
    idx = bytes((x + y) % 16 for y in range(h) for x in range(w))
    _, px = decode_image_pixels(payload(3, 1, idx, extra=[(b"PLTE", pal)]))
    assert [tuple(p) for p in px.reshape(-1, 3)] == [
        (3 * i, 3 * i + 1, 3 * i + 2) for i in idx
    ]


def test_png_corrupt_payloads_dead_letter(spark):
    """CRC damage, interlacing, 16-bit depth, truncation, and bad palette
    indices all raise ValueError -> the error column, never a crash."""
    import struct
    import zlib

    import pytest

    from ironbeam_spark.operators.multimodal import (
        decode_image,
        decode_image_pixels,
        encode_png,
    )

    w, h = 5, 4
    rgb = bytes((i * 7) % 256 for i in range(w * h * 3))
    good = encode_png(w, h, rgb)

    crc_bad = bytearray(good)
    crc_bad[-5] ^= 0xFF  # flip a bit in IEND's CRC
    for bad in (
        bytes(crc_bad),
        good[: len(good) // 2],
        _png_chunks(
            [
                (b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)),
                (b"IDAT", zlib.compress(b"\x00" * ((w * 3 + 1) * h))),
                (b"IEND", b""),
            ]
        ),
        _png_chunks(
            [
                (b"IHDR", struct.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 0)),
                (b"IDAT", zlib.compress(b"\x00" * ((w * 6 + 1) * h))),
                (b"IEND", b""),
            ]
        ),
        _png_chunks(
            [
                (b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)),
                (b"PLTE", bytes(6)),  # 2 entries; indices go to 255
                (b"IDAT", zlib.compress(b"".join(b"\x00" + bytes([255] * w) for _ in range(h)))),
                (b"IEND", b""),
            ]
        ),
    ):
        with pytest.raises(ValueError):
            decode_image_pixels(bad)

    df = spark.createDataFrame(
        [(1, good), (2, bytes(crc_bad))], "doc_id long, blob binary"
    )
    rows = {r.doc_id: r for r in decode_image(df, "doc_id", "blob").collect()}
    assert rows[1].fmt == "png" and rows[1].error is None
    assert rows[2].fmt is None and "CRC" in rows[2].error


def test_decode_audio_g711_ulaw_alaw(spark):
    """G.711 µ-law / A-law WAV payloads expand through the spec's segment
    tables: anchor bytes hit the documented extreme/zero values, and the
    full 256-byte sweep decodes with the exact spec sum."""
    from ironbeam_spark.operators.multimodal import (
        _g711_luts,
        decode_audio,
        decode_audio_bytes,
        encode_wav_g711,
    )

    ulaw, alaw = _g711_luts()
    # ITU-T G.711 anchors (classic telecom reference tables)
    assert ulaw[0x00] == -32124 and ulaw[0x80] == 32124 and ulaw[0xFF] == 0
    assert alaw[0x2A] == -32256 and alaw[0xAA] == 32256
    assert alaw[0x55] == -8 and alaw[0xD5] == 8

    sweep = bytes(range(256))
    d = decode_audio_bytes(encode_wav_g711(8000, 1, sweep, "ulaw"))
    assert (d["fmt"], d["bits"], d["n_frames"]) == ("wav-ulaw", 8, 256)
    assert d["sum_abs"] == int(sum(abs(int(v)) for v in ulaw))
    d = decode_audio_bytes(encode_wav_g711(8000, 2, sweep, "alaw"))
    assert (d["fmt"], d["bits"], d["n_frames"]) == ("wav-alaw", 8, 128)
    assert d["sum_abs"] == int(sum(abs(int(v)) for v in alaw))

    df = spark.createDataFrame(
        [(1, encode_wav_g711(8000, 1, sweep, "ulaw")), (2, b"RIFFxxxxWAVE")],
        "id long, payload binary",
    )
    got = {r.id: r for r in decode_audio(df, "id", "payload").collect()}
    assert got[1].fmt == "wav-ulaw" and got[1].error is None
    assert got[2].fmt is None and got[2].error is not None


def _gif_pack_codes(codes, min_code):
    """LSB-first variable-width code packer mirroring the decoder's width
    schedule: width starts at min_code+1 and bumps when the DECODER's table
    would reach 2^width (one entry per data code after the first following
    a clear), capping at 12."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    width = min_code + 1
    dec_size = end + 1
    first_after_clear = True
    acc = bitpos = 0
    out = bytearray()
    for code in codes:
        acc |= code << bitpos
        bitpos += width
        while bitpos >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            bitpos -= 8
        if code == clear:
            width, dec_size, first_after_clear = min_code + 1, end + 1, True
        elif code != end:
            if first_after_clear:
                first_after_clear = False
            else:
                dec_size += 1
            if dec_size == (1 << width) and width < 12:
                width += 1
    if bitpos:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_lzw_encode(indices, min_code):
    """Real GIF LZW compressor (dict growth, width bumps, 4096 reset)."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    codes = [clear]
    table = {(i,): i for i in range(clear)}
    next_code = end + 1
    prev = ()
    for px in indices:
        cur = prev + (px,)
        if cur in table:
            prev = cur
            continue
        codes.append(table[prev])
        if next_code < 4096:
            table[cur] = next_code
            next_code += 1
        else:
            codes.append(clear)
            table = {(i,): i for i in range(clear)}
            next_code = end + 1
        prev = (px,)
    if prev:
        codes.append(table[prev])
    codes.append(end)
    return _gif_pack_codes(codes, min_code)


def _gif_lzw_encode_flooded(indices, min_code):
    """Independent second encoder: every pixel as a root code, CLEAR-flooded
    so the dictionary never grows (the classic 'uncompressed GIF' trick) —
    a completely different code path through the same decoder."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    codes = [clear]
    room = (1 << (min_code + 1)) - end - 2
    since = 0
    for px in indices:
        if since >= max(room, 1):
            codes.append(clear)
            since = 0
        codes.append(px)
        since += 1
    codes.append(end)
    return _gif_pack_codes(codes, min_code)


def _gif_bytes(w, h, palette, indices, lzw, min_code, interlace=False, bg=0):
    import struct

    gct_bits = max((len(palette) - 1).bit_length(), 1)
    gct_size = 1 << gct_bits
    pal = list(palette) + [(0, 0, 0)] * (gct_size - len(palette))
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (gct_bits - 1), bg, 0)
    for r, g, b in pal:
        out += bytes((r, g, b))
    out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # graphic control ext (skipped)
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x40 if interlace else 0)
    out.append(min_code)
    data = lzw(indices, min_code)
    for i in range(0, len(data), 255):
        block = data[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"
    return bytes(out)


def test_gif_decode_both_encoders_and_interlace():
    """The GIF LZW decoder inverts BOTH an honest LZW compressor (dict
    growth + width bumps) and the CLEAR-flooded uncompressed encoding —
    two independent encodings of the same pixels — with and without
    interlacing."""
    from ironbeam_spark.operators.multimodal import decode_image_pixels

    w, h = 19, 13
    palette = [(i * 16 % 256, 255 - i * 8 % 256, i * 5 % 256) for i in range(16)]
    indices = [(x * 3 + y * 7) % 16 for y in range(h) for x in range(w)]
    want = bytes(c for i in indices for c in palette[i])

    for lzw in (_gif_lzw_encode, _gif_lzw_encode_flooded):
        for interlace in (False, True):
            if interlace:
                rows = (
                    list(range(0, h, 8))
                    + list(range(4, h, 8))
                    + list(range(2, h, 4))
                    + list(range(1, h, 2))
                )
                stream = [indices[y * w + x] for y in rows for x in range(w)]
            else:
                stream = indices
            payload = _gif_bytes(w, h, palette, stream, lzw, 4, interlace)
            fmt, px = decode_image_pixels(payload)
            assert fmt == "gif"
            assert bytes(px.reshape(-1)) == want, (lzw.__name__, interlace)


def test_gif_large_image_forces_width_growth():
    """A 64x64 image with 4-bit palette pushes the LZW table through
    several width bumps; decode must stay exact."""
    from ironbeam_spark.operators.multimodal import decode_image_pixels

    w = h = 64
    palette = [(i * 37 % 256, i * 11 % 256, i * 3 % 256) for i in range(16)]
    indices = [((x * x + y * 3 + (x * y) // 5) % 16) for y in range(h) for x in range(w)]
    payload = _gif_bytes(w, h, palette, indices, _gif_lzw_encode, 4)
    fmt, px = decode_image_pixels(payload)
    assert fmt == "gif"
    assert bytes(px.reshape(-1)) == bytes(
        c for i in indices for c in palette[i]
    )


def test_gif_corrupt_payloads_dead_letter(spark):
    """Truncated streams, bad block tags, and out-of-range color indices
    raise ValueError into the error column, never a crash."""
    import pytest

    from ironbeam_spark.operators.multimodal import (
        decode_image,
        decode_image_pixels,
    )

    w, h = 6, 4
    palette = [(10 * i, 20 * i, 30 * i) for i in range(4)]
    indices = [(x + y) % 4 for y in range(h) for x in range(w)]
    good = _gif_bytes(w, h, palette, indices, _gif_lzw_encode, 2)

    for bad in (
        good[:20],                      # truncated mid-header/color-table
        good[:-4],                      # unterminated image data
        good.replace(b"\x2c", b"\x7e", 1),  # unknown block tag
        b"GIF89a" + b"\x00" * 7,        # zero dimensions
    ):
        with pytest.raises(ValueError):
            decode_image_pixels(bad)

    df = spark.createDataFrame(
        [(1, good), (2, good[:20])], "doc_id long, blob binary"
    )
    rows = {r.doc_id: r for r in decode_image(df, "doc_id", "blob").collect()}
    assert rows[1].fmt == "gif" and rows[1].error is None
    assert rows[2].fmt is None and rows[2].error is not None


def test_image_bomb_headers_raise_valueerror():
    """Decompression-bomb guards: a tiny payload declaring a huge canvas
    raises ValueError (dead-letter) instead of attempting a multi-GB
    allocation that would MemoryError past the error-column catch."""
    import struct
    import zlib

    import pytest

    from ironbeam_spark.operators.multimodal import decode_image_pixels

    # GIF: 65535x65535 logical screen from ~40 bytes
    gif = bytearray(b"GIF89a")
    gif += struct.pack("<HHBBB", 65535, 65535, 0x80, 0, 0)
    gif += bytes(6)  # 2-entry color table
    with pytest.raises(ValueError, match="MAX_IMAGE_PIXELS"):
        decode_image_pixels(bytes(gif) + b"\x2c" + bytes(10))

    # GIF: sane canvas but frame pixel count far beyond any LZW expansion
    gif2 = bytearray(b"GIF89a")
    gif2 += struct.pack("<HHBBB", 8000, 8000, 0x80, 0, 0)
    gif2 += bytes(6)
    gif2 += b"\x2c" + struct.pack("<HHHHB", 0, 0, 8000, 8000, 0)
    gif2 += bytes([2, 1, 0x00, 0x00])  # min_code + one tiny sub-block + end
    gif2 += b"\x3b"
    with pytest.raises(ValueError, match="LZW expansion"):
        decode_image_pixels(bytes(gif2))

    # PNG: huge declared dims
    def chunk(typ, payload):
        return (
            struct.pack(">I", len(payload)) + typ + payload
            + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 60000, 60000, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 64))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="MAX_IMAGE_PIXELS"):
        decode_image_pixels(png)

    # PNG: sane dims but the zlib stream inflates past the pixel buffer
    png2 = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 1_000_000))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="size mismatch"):
        decode_image_pixels(png2)


def test_dedup_components_long_chain_converges_within_max_iter(spark):
    """A 120-node chain has diameter 119 — pure label propagation could
    never finish inside max_iter=25, so this converging correctly PROVES
    the pointer-jumping rounds are O(log diameter)."""
    from ironbeam_spark.operators.dedup import dedup_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(119)], "id_a long, id_b long"
    )
    out = {r.node: r.component for r in dedup_components(pairs).collect()}
    assert len(out) == 120
    assert all(c == 0 for c in out.values())
