"""WebDataset-style tar shard source: roundtrip, sample regrouping,
atomic commit, corrupt-shard error."""

from __future__ import annotations

import os
import tarfile

import pytest
from pyspark.sql import functions as F

from ironbeam_spark.sources.tar import (
    read_tar_members,
    webdataset_samples,
    write_tar_shards,
)


def _df(spark, n=40):
    return spark.createDataFrame(
        [(i, f"text of doc {i}", f'{{"lang": "en", "id": {i}}}') for i in range(n)],
        "doc_id long, txt string, json string",
    ).repartition(4)


def test_tar_roundtrip_and_samples(spark, tmp_path):
    out = str(tmp_path / "shards")
    n_shards = write_tar_shards(_df(spark), out, "doc_id", ["txt", "json"])
    assert 1 <= n_shards <= 4
    tars = [f for f in os.listdir(out) if f.endswith(".tar")]
    assert len(tars) == n_shards
    # the payload really is tar: stdlib can open a shard directly
    with tarfile.open(os.path.join(out, tars[0])) as tf:
        names = tf.getnames()
        assert any(n.endswith(".txt") for n in names)

    members = read_tar_members(spark, out)
    got = {
        (r.sample, r.field): bytes(r.payload) for r in members.collect()
    }
    assert len(got) == 80
    assert got[("7", "txt")] == b"text of doc 7"
    assert got[("7", "json")] == b'{"lang": "en", "id": 7}'

    samples = webdataset_samples(members)
    rows = {r.sample: r.fields for r in samples.collect()}
    assert len(rows) == 40
    assert sorted(rows["3"].keys()) == ["json", "txt"]
    assert bytes(rows["3"]["txt"]) == b"text of doc 3"


def test_tar_write_modes_and_atomicity(spark, tmp_path):
    out = str(tmp_path / "modes")
    df = _df(spark, 10)
    write_tar_shards(df, out, "doc_id", ["txt"])
    with pytest.raises(FileExistsError):
        write_tar_shards(df, out, "doc_id", ["txt"], mode="error")
    assert write_tar_shards(df, out, "doc_id", ["txt"], mode="ignore") == 0
    # torn-temp invisibility and sweep: tests/test_shards.py, every sink
    write_tar_shards(df, out, "doc_id", ["txt"], mode="overwrite")
    assert read_tar_members(spark, out).count() == 10
    # append adds distinctly-named shards
    write_tar_shards(df, out, "doc_id", ["txt"], mode="append")
    assert read_tar_members(spark, out).count() == 20


def test_tar_corrupt_shard_raises(spark, tmp_path):
    out = str(tmp_path / "bad")
    os.makedirs(out)
    with open(os.path.join(out, "part-00000.tar"), "wb") as f:
        f.write(b"this is not a tar archive at all" * 20)
    with pytest.raises(Exception, match="tar"):
        read_tar_members(spark, out).collect()


def test_tar_truncated_shard_raises(spark, tmp_path):
    """A shard cut at, or a few bytes into, a member header is not read
    as a shorter archive: without the two zero blocks that end a complete
    archive the read fails and names the shard.  A cut inside the padding
    after those blocks loses nothing and still reads."""
    import io

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for i in range(20):
            payload = f"doc {i}".encode()
            info = tarfile.TarInfo(name=f"s{i}.txt")
            info.size = len(payload)
            tf.addfile(info, io.BytesIO(payload))
    data = buf.getvalue()
    assert len(data) == 30_720  # 20 x (header + one data block) + end + padding

    def shard(cut):
        out = tmp_path / f"cut{cut}"
        out.mkdir()
        (out / "part-00000.tar").write_bytes(data[:cut])
        return str(out)

    for cut in (len(data), 21_504):  # whole; cut right after the end marker
        assert read_tar_members(spark, shard(cut)).count() == 20
    for cut in (15_360, 16_387, 20_992):  # 15 members; 16 + 3 bytes; half a marker
        with pytest.raises(Exception, match="tar: corrupt shard .*part-00000.tar"):
            read_tar_members(spark, shard(cut)).collect()


def test_tar_multidot_field_names(spark, tmp_path):
    """sample.field splits at the FIRST dot — multi-dot fields (e.g.
    'seg.json') stay intact per the WebDataset convention."""
    out = str(tmp_path / "dots")
    df = spark.createDataFrame(
        [(5, b"\x01\x02")], "doc_id long, `seg.json` binary"
    )
    write_tar_shards(df, out, "doc_id", ["seg.json"])
    r = read_tar_members(spark, out).collect()[0]
    assert (r.sample, r.field) == ("5", "seg.json")
    assert bytes(r.payload) == b"\x01\x02"


def test_tar_dedup_and_key_field_validation(spark, tmp_path):
    """Duplicate (sample, field) members dedupe with a deterministic
    min-payload winner (no DUPLICATED_MAP_KEY crash); keys containing '.'
    or '/' and non-string/binary fields fail loudly at write time."""
    out = str(tmp_path / "dups")
    df = _df(spark, 6)
    write_tar_shards(df, out, "doc_id", ["txt"])
    write_tar_shards(df, out, "doc_id", ["txt"], mode="append")
    samples = webdataset_samples(read_tar_members(spark, out)).collect()
    assert len(samples) == 6
    for r in samples:
        assert bytes(r.fields["txt"]).startswith(b"text of doc")

    bad_key = spark.createDataFrame([("v1.2", "x")], "k string, txt string")
    with pytest.raises(Exception, match="must not contain"):
        write_tar_shards(bad_key, str(tmp_path / "k"), "k", ["txt"])

    bad_field = spark.createDataFrame([(1, 5)], "k long, num long")
    with pytest.raises(Exception, match="string or binary"):
        write_tar_shards(bad_field, str(tmp_path / "f"), "k", ["num"])


def test_png_truncated_zlib_stream_dead_letters():
    """A zlib stream cut after the final deflate block (inflates to exactly
    the pixel-buffer size, but no stream terminator) must dead-letter."""
    import struct
    import zlib

    from ironbeam_spark.operators.multimodal import decode_image_pixels, encode_png

    w, h = 4, 3
    rgb = bytes((i * 11) % 256 for i in range(w * h * 3))
    raw = b"".join(b"\x00" + rgb[y * w * 3 : (y + 1) * w * 3] for y in range(h))
    comp = zlib.compressobj()
    body = comp.compress(raw) + comp.flush(zlib.Z_SYNC_FLUSH)  # no Z_FINISH

    def chunk(typ, payload):
        return (
            struct.pack(">I", len(payload)) + typ + payload
            + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", body)
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="size mismatch"):
        decode_image_pixels(png)
    # and the honest encoder still round-trips
    assert decode_image_pixels(encode_png(w, h, rgb))[0] == "png"


def _raw_shard(path, members):
    """Write a tar with explicit (name, payload) members, in order —
    duplicates allowed (append-mode semantics)."""
    import io

    with tarfile.open(path, "w") as tf:
        for name, payload in members:
            info = tarfile.TarInfo(name=name)
            info.size = len(payload)
            info.mtime = 0
            tf.addfile(info, io.BytesIO(payload))


def test_tar_within_shard_append_last_wins(spark, tmp_path):
    """A name repeated inside one shard (tar -r append) resolves to the
    LAST occurrence — what tar -x would leave on disk."""
    out = tmp_path / "shards"
    out.mkdir()
    _raw_shard(
        out / "a.tar",
        [("s0.txt", b"old"), ("s0.json", b"{}"), ("s0.txt", b"new")],
    )
    got = {
        (r.sample, r.field): bytes(r.payload)
        for r in read_tar_members(spark, str(out)).collect()
    }
    assert got == {("s0", "txt"): b"new", ("s0", "json"): b"{}"}


def test_tar_cross_shard_whole_sample_winner(spark, tmp_path):
    """A sample carried by two shards with DIFFERENT contents resolves to
    all fields of the lexicographically-smallest shard — never a row
    stitched from both generations (round-6 ADVICE).  Fields that exist
    only in the losing shard are dropped with the rest of that copy."""
    out = tmp_path / "shards"
    out.mkdir()
    _raw_shard(
        out / "a.tar", [("s0.txt", b"gen1 text"), ("s0.json", b"gen1 json")]
    )
    _raw_shard(
        out / "b.tar",
        [("s0.txt", b"gen2 text"), ("s0.json", b"gen2 json"), ("s0.cls", b"9")],
    )
    rows = webdataset_samples(read_tar_members(spark, str(out))).collect()
    assert len(rows) == 1
    fields = {k: bytes(v) for k, v in rows[0].fields.items()}
    assert fields == {"txt": b"gen1 text", "json": b"gen1 json"}


def test_tar_extensionless_member_gets_empty_field(spark, tmp_path):
    """Members without a dot group under field '' (documented convention)
    instead of erroring or vanishing."""
    out = tmp_path / "shards"
    out.mkdir()
    _raw_shard(out / "a.tar", [("README", b"hello"), ("s0.txt", b"t")])
    got = {
        (r.sample, r.field): bytes(r.payload)
        for r in read_tar_members(spark, str(out)).collect()
    }
    assert got[("README", "")] == b"hello"
    assert got[("s0", "txt")] == b"t"
