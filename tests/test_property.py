"""Property-based differential tests (hypothesis): random small inputs,
PCollection operator results vs pure-Python models.  The reference relies on
seeded pseudo-random builders + seq/par differential runs (SURVEY §5); here
the "other engine" is a Python model, which also pins the exact semantics
(join cardinality, group ordering, window boundaries) independent of both
Spark and DuckDB.
"""

from __future__ import annotations

from collections import Counter, defaultdict

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ironbeam_spark.collection import from_vec

KV = st.lists(
    st.tuples(st.integers(0, 5), st.integers(-100, 100)), min_size=0, max_size=30
)

_SETTINGS = dict(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _pc(spark, rows, schema="k long, v long"):
    return from_vec(spark, [tuple(r) for r in rows], schema)


@given(rows=KV)
@settings(**_SETTINGS)
def test_group_by_key_model(spark, rows):
    got = {
        r.k: list(r.v_list)
        for r in _pc(spark, rows).key_by("k").group_by_key("v").collect()
    }
    model = defaultdict(list)
    for k, v in rows:
        model[k].append(v)
    assert got == {k: sorted(vs) for k, vs in model.items()}


@given(left=KV, right=KV)
@settings(**_SETTINGS)
def test_join_inner_cardinality_model(spark, left, right):
    """SQL join cardinality: duplicate keys produce the full cross product
    within a key group (reference src/helpers/joins.rs:197-207)."""
    l = _pc(spark, left).key_by("k")
    r = _pc(spark, right).map(F.col("k"), w=F.col("v")).key_by("k")
    got = sorted((x.k, x.v, x.w) for x in l.join_inner(r).df.select("k", "v", "w").collect())
    model = sorted(
        (k1, v, w) for k1, v in left for k2, w in right if k1 == k2
    )
    assert got == model


@given(left=KV, right=KV)
@settings(**_SETTINGS)
def test_join_left_nulls_model(spark, left, right):
    l = _pc(spark, left).key_by("k")
    r = _pc(spark, right).map(F.col("k"), w=F.col("v")).key_by("k")
    got = sorted(
        ((x.k, x.v, x.w) for x in l.join_left(r).df.select("k", "v", "w").collect()),
        key=str,
    )
    rk = defaultdict(list)
    for k, w in right:
        rk[k].append(w)
    model = sorted(
        ((k, v, w) for k, v in left for w in (rk[k] or [None])),
        key=str,
    )
    assert got == model


@given(rows=KV)
@settings(**_SETTINGS)
def test_distinct_and_count_per_element_model(spark, rows):
    pc = _pc(spark, rows)
    got_distinct = sorted(tuple(r) for r in pc.distinct().collect())
    assert got_distinct == sorted(set(map(tuple, rows)))
    got_counts = {
        (r.k, r.v): r["count"] for r in pc.count_per_element("k", "v").collect()
    }
    assert got_counts == dict(Counter(map(tuple, rows)))


@given(rows=KV, k=st.integers(1, 5))
@settings(**_SETTINGS)
def test_top_k_global_model(spark, rows, k):
    pc = _pc(spark, rows)
    got = [(r.k, r.v) for r in pc.top_k_globally(k, F.col("v").desc(), F.col("k").asc()).collect()]
    model = sorted(map(tuple, rows), key=lambda t: (-t[1], t[0]))[:k]
    assert got == model


@given(
    ts=st.lists(st.integers(0, 10_000), min_size=1, max_size=20),
    size=st.integers(1, 500),
    offset=st.integers(0, 400),
)
@settings(**_SETTINGS)
def test_tumble_start_model(spark, ts, size, offset):
    """Window::tumble boundary semantics, including ts < offset (floor, not
    underflow — we are strictly more permissive than the reference's u64
    precondition, SURVEY §7 item 8)."""
    from ironbeam_spark.operators.windowing import tumble_start

    df = spark.createDataFrame([(t,) for t in ts], "t long")
    # t is epoch *millis* here: feed through the bigint branch via div by 1
    df = df.withColumn("ts", (F.col("t") * F.lit(1_000_000)).cast("long"))
    got = [
        r.ws for r in df.select(tumble_start(df, "ts", size, offset).alias("ws"))
        .orderBy("ws").collect()
    ]
    model = sorted(offset + ((t - offset) // size) * size for t in ts)
    assert got == model


# ---------------------------------------------------------------- msgpack codec

# msgpack value domain: scalars + nested containers (no Spark involved)
_SCALAR = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**63), max_value=2**64 - 1),
    st.floats(allow_nan=False),  # NaN != NaN breaks equality, tested apart
    st.text(max_size=80),
    st.binary(max_size=80),
)
_VALUE = st.recursive(
    _SCALAR,
    lambda inner: st.one_of(
        st.lists(inner, max_size=6),
        st.dictionaries(st.text(max_size=10), inner, max_size=6),
    ),
    max_leaves=20,
)


@given(st.lists(_VALUE, max_size=10))
@settings(max_examples=100, deadline=None)
def test_msgpack_codec_roundtrip_property(vals):
    """Hand-rolled codec: decode(encode(x)) == x for arbitrary nested values,
    concatenated stream framing included."""
    from ironbeam_spark.sources.msgpack import packb, unpackb_stream

    blob = b"".join(packb(v) for v in vals)
    assert list(unpackb_stream(blob)) == vals


@given(st.lists(_VALUE, min_size=1, max_size=5), st.integers(1, 6))
@settings(max_examples=50, deadline=None)
def test_msgpack_truncation_never_silently_corrupts(vals, cut):
    """Any mid-record truncation raises (clean-EOF contract) — never yields
    a wrong value for the cut record."""
    from ironbeam_spark.sources.msgpack import packb, unpackb_stream

    blob = b"".join(packb(v) for v in vals)
    cut_at = max(0, len(blob) - cut)
    try:
        got = list(unpackb_stream(blob[:cut_at]))
    except ValueError:
        return  # raised = correct behavior for mid-record cuts
    # no error ⇒ the cut landed exactly on a record boundary: prefix is exact
    assert got == vals[: len(got)]


DOCS = st.lists(
    st.text(alphabet="abcd ", min_size=0, max_size=24),
    min_size=0,
    max_size=12,
)


@given(texts=DOCS, t=st.sampled_from([0.25, 0.4, 0.6, 0.8]))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_set_similarity_join_model(spark, texts, t):
    """Exactness of the prefix-filter set-similarity join against a pure-
    Python Jaccard model on adversarially tiny alphabets (maximal gram
    collisions), through BOTH routing paths."""
    from unittest.mock import patch

    from ironbeam_spark.operators import dedup
    from ironbeam_spark.operators.dedup import char_ngrams, set_similarity_join

    def grams(s):
        return {s[i : i + 3] for i in range(max(len(s) - 2, 0))}

    model = {}
    for i, a in enumerate(texts):
        for j, b in enumerate(texts):
            if i < j and grams(a) and grams(b):
                inter = len(grams(a) & grams(b))
                union = len(grams(a) | grams(b))
                sim = inter / union
                if sim >= t:
                    model[(i, j)] = sim

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(texts)], "doc_id long, text string"
    ).select("doc_id", char_ngrams("text", 3).alias("grams"))
    for cap in (0, 512):
        with patch.object(dedup, "_SMALL_BLOCK_CAP", cap):
            got = {
                (r.id_a, r.id_b): r.jaccard_sim
                for r in set_similarity_join(df, "doc_id", "grams", t).collect()
            }
        assert got.keys() == model.keys(), (cap, t, texts)
        for k in got:
            assert abs(got[k] - model[k]) < 1e-12


ASOF_LEFT = st.lists(st.integers(0, 20), min_size=0, max_size=10)
ASOF_RIGHT = st.lists(
    st.tuples(st.integers(0, 20), st.integers(0, 5)), min_size=0, max_size=10
)


@given(left=ASOF_LEFT, right=ASOF_RIGHT,
       direction=st.sampled_from(["backward", "forward", "nearest"]))
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_asof_join_model(spark, left, right, direction):
    """asof_join vs a pure-Python model across all directions, with
    duplicate timestamps on both sides and left==right tie times.  Tie
    rules: equal right_ts → largest value struct; nearest distance tie →
    backward match."""
    from ironbeam_spark.operators.temporal import asof_join

    ldf = spark.createDataFrame(
        [("k", i, t) for i, t in enumerate(left)], "k string, lid long, lt long"
    )
    rdf = spark.createDataFrame(
        [("k", t, v) for t, v in right], "k string, rt long, val long"
    )

    def model(lt):
        back = [(t, v) for t, v in right if t <= lt]
        fwd = [(t, v) for t, v in right if t >= lt]
        b = max(back, key=lambda x: (x[0], x[1])) if back else None
        f = min(fwd, key=lambda x: (x[0], -x[1])) if fwd else None
        if direction == "backward":
            return b
        if direction == "forward":
            return f
        if b is None:
            return f
        if f is None:
            return b
        return f if (f[0] - lt) < (lt - b[0]) else b

    out = asof_join(
        ldf, rdf, on=["k"], left_ts="lt", right_ts="rt",
        value_cols=["val"], direction=direction,
    )
    got = {r.lid: (r.matched_ts, r.val) for r in out.collect()}
    want = {i: (model(t) or (None, None)) for i, t in enumerate(left)}
    want = {i: (m if m != (None, None) else (None, None)) for i, m in want.items()}
    assert got == {i: tuple(m) if m else (None, None) for i, m in want.items()}, (
        direction, left, right,
    )


POINTS = st.lists(st.integers(0, 50), min_size=0, max_size=12)
INTERVALS = st.lists(
    st.tuples(st.integers(0, 50), st.integers(-5, 15)), min_size=0, max_size=8
)  # negative spans = malformed intervals: must match nothing, not error


@given(points=POINTS, intervals=INTERVALS, bw=st.sampled_from([1, 3, 7, 100]))
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_interval_join_model(spark, points, intervals, bw):
    """interval_join vs the pure-Python containment model (end-exclusive,
    [start, start+span)), across bucket widths including one larger than
    the whole domain — width must never change results."""
    from ironbeam_spark.operators.temporal import interval_join

    pdf = spark.createDataFrame(
        [("k", i, t) for i, t in enumerate(points)], "k string, pid long, pt long"
    )
    idf = spark.createDataFrame(
        [("k", j, s, s + span) for j, (s, span) in enumerate(intervals)],
        "k string, iid long, st long, en long",
    )
    got = sorted(
        (r.pid, r.iid)
        for r in interval_join(
            pdf, idf, on=["k"], point_ts="pt", start_ts="st", end_ts="en",
            bucket_width=bw,
        ).collect()
    )
    want = sorted(
        (i, j)
        for i, t in enumerate(points)
        for j, (s, span) in enumerate(intervals)
        if s <= t < s + span
    )
    assert got == want, (bw, points, intervals)


def test_winnow_fingerprint_model(spark):
    """Winnowing (value form) vs a pure-Python model, plus the detection
    guarantee: docs sharing a substring >= w+k-1 chars share a fingerprint."""
    import hashlib

    from ironbeam_spark.functions.text import winnow_fingerprints

    k, w = 8, 4

    def model(text: str) -> list[int]:
        if len(text) < k:
            return []
        hs = [
            int(hashlib.md5(text[i : i + k].encode()).hexdigest()[:12], 16)
            for i in range(len(text) - k + 1)
        ]
        if len(hs) < w:
            return sorted({min(hs)})
        return sorted({min(hs[j : j + w]) for j in range(len(hs) - w + 1)})

    shared = "the quick brown fox jumps"
    texts = [
        "",  # sub-k
        "short",  # sub-k
        "exactly8",  # one gram
        "nine chars",  # < w grams
        f"alpha {shared} omega",
        f"{shared} entirely different tail content here",
        "unrelated document with no overlap at all whatsoever",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    got = {
        r.i: list(r.fp)
        for r in df.select("i", winnow_fingerprints("t", k, w).alias("fp")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == model(t), (i, t)
    # detection guarantee: docs 4 and 5 share a 25-char substring (>= w+k-1=11)
    assert set(got[4]) & set(got[5])
    # and the unrelated doc shares nothing with doc 4
    assert not (set(got[4]) & set(got[6]))


@given(
    w=st.integers(1, 12),
    h=st.integers(1, 10),
    data=st.data(),
)
@settings(max_examples=40, deadline=None)
def test_png_unfilter_inverts_any_forward_filtering(w, h, data):
    """PNG decode is the exact inverse of spec-§6 forward filtering for ANY
    pixel content and ANY per-row filter choice (no Spark session — pure
    codec property)."""
    import struct
    import zlib

    from ironbeam_spark.operators.multimodal import decode_image_pixels

    n = w * h * 3
    rgb = bytes(
        data.draw(st.lists(st.integers(0, 255), min_size=n, max_size=n))
    )
    filters = data.draw(st.lists(st.integers(0, 4), min_size=h, max_size=h))

    bpp, stride = 3, w * 3
    out = bytearray()
    prev = bytes(stride)
    for y in range(h):
        row = rgb[y * stride : (y + 1) * stride]
        f = filters[y]
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

    def chunk(typ, payload):
        return (
            struct.pack(">I", len(payload))
            + typ
            + payload
            + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(out)))
        + chunk(b"IEND", b"")
    )
    fmt, px = decode_image_pixels(png)
    assert fmt == "png"
    assert bytes(px.reshape(-1)) == rgb


@given(
    w=st.integers(1, 16),
    h=st.integers(1, 12),
    bits=st.integers(2, 5),
    data=st.data(),
)
@settings(max_examples=30, deadline=None)
def test_gif_lzw_roundtrip_any_image(w, h, bits, data):
    """GIF decode inverts the honest LZW compressor for ANY palette size
    2..5 bits and ANY pixel content (pure codec property, no Spark)."""
    from ironbeam_spark.operators.multimodal import decode_image_pixels
    from tests.test_new_operators import _gif_bytes, _gif_lzw_encode

    ncol = 1 << bits
    palette = [((i * 41) % 256, (i * 19) % 256, (i * 7) % 256) for i in range(ncol)]
    n = w * h
    indices = data.draw(
        st.lists(st.integers(0, ncol - 1), min_size=n, max_size=n)
    )
    payload = _gif_bytes(w, h, palette, indices, _gif_lzw_encode, bits)
    fmt, px = decode_image_pixels(payload)
    assert fmt == "gif"
    assert bytes(px.reshape(-1)) == bytes(c for i in indices for c in palette[i])


@given(data=st.data())
@settings(max_examples=60, deadline=None)
def test_media_decoders_raise_only_valueerror(data):
    """Dead-letter guarantee: the media decoders raise ONLY ValueError on
    arbitrary malformed payloads (the error-column catch is `except
    ValueError` — any other exception type would kill the whole job)."""
    from ironbeam_spark.operators.multimodal import (
        decode_audio_bytes,
        decode_image_bytes,
        decode_rvid,
    )

    magic = data.draw(
        st.sampled_from(
            [b"BM", b"P6", b"P3", b"\x89PNG\r\n\x1a\n", b"GIF89a",
             b"GIF87a", b"RIFF", b"RVID", b"\xff\xd8", b""]
        )
    )
    body = bytes(data.draw(st.lists(st.integers(0, 255), max_size=96)))
    payload = magic + body
    for fn in (decode_image_bytes, decode_audio_bytes, decode_rvid):
        try:
            fn(payload)
        except ValueError:
            pass  # the sanctioned dead-letter path


@given(data=st.data())
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_tar_shard_roundtrip_property(spark, data):
    """write_tar_shards -> read_tar_members round-trips ANY binary/unicode
    payload mix byte for byte, across partitionings."""
    import tempfile

    from ironbeam_spark.sources.tar import read_tar_members, write_tar_shards

    n = data.draw(st.integers(1, 12))
    rows = [
        (
            i,
            bytes(data.draw(st.lists(st.integers(0, 255), max_size=64))),
            data.draw(st.text(max_size=24)),
        )
        for i in range(n)
    ]
    with tempfile.TemporaryDirectory(prefix="ironbeam_tarprop_") as out:
        df = spark.createDataFrame(
            rows, "k long, blob binary, txt string"
        ).repartition(data.draw(st.integers(1, 4)))
        write_tar_shards(df, out, "k", ["blob", "txt"])
        got = {
            (r.sample, r.field): bytes(r.payload)
            for r in read_tar_members(spark, out).collect()
        }
        for k, blob, txt in rows:
            if len(blob):
                assert got[(str(k), "blob")] == blob
            if txt:
                assert got[(str(k), "txt")] == txt.encode("utf-8")
