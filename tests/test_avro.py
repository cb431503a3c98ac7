"""Avro OCF source/sink (sources/avro.py — pure-Python, from the public
spec).  Interop is validated against the Avro JAVA reference implementation
on Spark's classpath (avro-1.12.1.jar, driven over py4j): files we write
must decode identically in Java, and files Java writes must decode
identically here."""

from __future__ import annotations

import glob
import os

import pyspark.sql.functions as F
import pytest

from ironbeam_spark.sources.avro import (
    avro_schema_of,
    read_avro_py,
    read_ocf,
    write_avro_py,
    zigzag_decode,
    zigzag_encode,
)
from tests.conftest import SF_SMOKE


def _sorted(df):
    # key=repr: rows may hold None/bytearray, which plain tuple "<" rejects
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_zigzag_roundtrip():
    for n in [0, -1, 1, 63, -64, 64, 2**31 - 1, -(2**31), 2**62, -(2**62), 2**63 - 1, -(2**63)]:
        enc = zigzag_encode(n)
        dec, pos = zigzag_decode(memoryview(enc), 0)
        assert dec == n and pos == len(enc), n


def test_roundtrip_scalars_and_nulls(spark, tmp_path):
    df = spark.createDataFrame(
        [
            (1, "a", 1.5, True, bytearray(b"\x00\xff")),
            (2, None, -2.25, False, None),
            (None, "c", None, None, bytearray(b"")),
        ],
        "id long, s string, v double, flag boolean, blob binary",
    )
    p = str(tmp_path / "scalars")
    n = write_avro_py(df, p)
    assert n == 3
    explicit = read_avro_py(spark, p, df.schema)
    inferred = read_avro_py(spark, p)
    assert _sorted(inferred.select("id", "s", "v", "flag", "blob")) == _sorted(df)
    assert _sorted(explicit.select("id", "s", "v", "flag", "blob")) == _sorted(df)


def test_roundtrip_arrays_and_timestamps(spark, tmp_path):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").limit(50)
    p = str(tmp_path / "emb")
    write_avro_py(emb, p)
    back = read_avro_py(spark, p).select("vec_id", "embedding", "label")
    assert _sorted(back) == _sorted(emb.select("vec_id", "embedding", "label"))

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").limit(100)
    p2 = str(tmp_path / "ev")
    write_avro_py(ev, p2)
    back2 = read_avro_py(spark, p2).select(*ev.columns)
    assert _sorted(back2) == _sorted(ev)


def test_timestamp_roundtrip_non_utc_session(spark, tmp_path):
    """Avro timestamp-micros is an absolute UTC instant; the round-trip must
    preserve instants under a NON-UTC session timezone too (ADVICE r3: the
    reader's naive datetimes used to be reinterpreted in the session tz)."""
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select("event_id", "ts").limit(50)
    want = _sorted(ev)  # collected under the default (UTC) session
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        p = str(tmp_path / "tz")
        write_avro_py(ev, p)
        back = read_avro_py(spark, p).select("event_id", "ts")
        spark.conf.set("spark.sql.session.timeZone", prev)
        assert _sorted(back) == want
        # and writing under UTC then reading under non-UTC also agrees
        p2 = str(tmp_path / "tz2")
        write_avro_py(ev, p2)
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        back2 = read_avro_py(spark, p2).select("event_id", "ts")
        assert _sorted(back2) == want
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_write_modes(spark, tmp_path):
    df = spark.createDataFrame([(1,)], "x long").coalesce(1)
    p = str(tmp_path / "modes")
    write_avro_py(df, p)
    with pytest.raises(FileExistsError):
        write_avro_py(df, p, mode="error")
    assert write_avro_py(df, p, mode="ignore") == 0
    write_avro_py(df, p, mode="append")
    assert len(glob.glob(os.path.join(p, "*.avro"))) == 2
    write_avro_py(df, p, mode="overwrite")
    assert len(glob.glob(os.path.join(p, "*.avro"))) == 1


def _java_read(spark, avro_file):
    """Decode an OCF with the Avro Java reference library (py4j)."""
    jvm = spark.sparkContext._jvm
    f = jvm.java.io.File(avro_file)
    reader = jvm.org.apache.avro.generic.GenericDatumReader()
    dfr = jvm.org.apache.avro.file.DataFileReader(f, reader)
    out = []
    while dfr.hasNext():
        out.append(str(dfr.next()))  # GenericRecord JSON-ish toString
    dfr.close()
    return out


def test_java_reads_our_files(spark, tmp_path):
    """The Avro JAVA implementation must parse our OCF output: proves the
    framing (magic, metadata map, sync markers, blocks) and the binary
    encoding are spec-compliant, not merely self-consistent."""
    df = spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", -2.0), (3, None, 0.25)],
        "id long, s string, v double",
    ).coalesce(1)
    p = str(tmp_path / "interop")
    write_avro_py(df, p)
    (shard,) = glob.glob(os.path.join(p, "*.avro"))
    recs = _java_read(spark, shard)
    assert len(recs) == 3
    joined = "\n".join(recs)
    for token in ('"alpha"', '"beta"', "1.5", "-2.0", "0.25"):
        assert token in joined, (token, joined)


def test_we_read_java_files(spark, tmp_path):
    """Round-trip the other direction: a file written by the Avro JAVA
    library decodes bit-identically here."""
    jvm = spark.sparkContext._jvm
    schema_json = (
        '{"type":"record","name":"r","fields":['
        '{"name":"id","type":["null","long"],"default":null},'
        '{"name":"s","type":["null","string"],"default":null}]}'
    )
    schema = jvm.org.apache.avro.Schema.Parser().parse(schema_json)
    writer = jvm.org.apache.avro.generic.GenericDatumWriter(schema)
    dfw = jvm.org.apache.avro.file.DataFileWriter(writer)
    path = str(tmp_path / "java.avro")
    dfw.create(schema, jvm.java.io.File(path))
    # ids above 2^31 so py4j marshals them as java.lang.Long (smaller ints
    # arrive as Integer, which the ["null","long"] union rejects)
    base = 10_000_000_000
    for i, s in [(base + 10, "x"), (base + 20, None), (base + 30, "z")]:
        rec = jvm.org.apache.avro.generic.GenericData.Record(schema)
        rec.put("id", i)
        rec.put("s", s)
        dfw.append(rec)
    dfw.close()

    _, recs = read_ocf(open(path, "rb").read())
    assert list(recs) == [
        {"id": base + 10, "s": "x"},
        {"id": base + 20, "s": None},
        {"id": base + 30, "s": "z"},
    ]


def test_avro_schema_mapping(spark):
    df = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    sj = avro_schema_of(df.schema)
    by_name = {f["name"]: f["type"] for f in sj["fields"]}
    assert by_name["event_id"] == ["null", "long"]
    assert by_name["ts"] == ["null", {"type": "long", "logicalType": "timestamp-micros"}]
    assert by_name["value"] == ["null", "double"]


def test_deflate_codec_reads(spark, tmp_path):
    """Writer emits null codec; the reader must also handle deflate blocks
    (raw RFC-1951), which the Java library writes by default elsewhere."""
    import io as _io

    from ironbeam_spark.sources.avro import write_ocf

    sj = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "x", "type": ["null", "long"], "default": None}],
    }
    buf = _io.BytesIO()
    write_ocf(buf, [[i] for i in range(1000)], sj, b"0123456789abcdef", codec="deflate")
    _, recs = read_ocf(buf.getvalue())
    assert [r["x"] for r in recs] == list(range(1000))


def test_every_truncation_raises():
    """A shard cut short anywhere raises ValueError, never reads back as
    fewer records or a bare IndexError.  The one exception is the cut just
    after the header's sync marker: that is a complete container with no
    blocks (what Java's DataFileWriter writes for zero records)."""
    import io as _io

    from pyspark.sql.types import StructType

    from ironbeam_spark.sources.avro import write_ocf

    sj = avro_schema_of(
        StructType.fromDDL("id long, s string, v double, flag boolean, b binary, xs array<int>")
    )
    rows = [[i, f"doc {i}", i / 3, i % 2 == 0, bytes([i]), [i, None]] for i in range(6)]
    sync = b"0123456789abcdef"
    buf = _io.BytesIO()
    write_ocf(buf, rows, sj, sync)
    data = buf.getvalue()
    header_end = data.index(sync) + len(sync)
    assert len(list(read_ocf(data)[1])) == 6
    assert list(read_ocf(data[:header_end])[1]) == []
    for n in range(len(data)):
        if n != header_end:
            with pytest.raises(ValueError):
                list(read_ocf(data[:n])[1])


def test_events_aggregate_through_avro_matches_parquet(spark, tmp_path):
    """End-to-end: events → avro shards → read back → aggregate equals the
    same aggregate straight from parquet (the q_msgpack pattern)."""
    from ironbeam_spark.sources.io import read_avro, write_avro

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    p = str(tmp_path / "events_avro")
    write_avro(ev, p)
    back = read_avro(spark, p).df
    agg = lambda d: sorted(  # noqa: E731
        tuple(r)
        for r in d.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
        .collect()
    )
    assert agg(back) == agg(ev)
