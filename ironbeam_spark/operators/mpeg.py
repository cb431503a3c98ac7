"""MPEG audio (MP1/MP2/MP3) stream probing — metadata without decode.

The ffprobe-style step a 100 TB multimodal pipeline runs BEFORE deciding
what to decode: walk the frame headers of an MPEG-1/2/2.5 audio stream
(ISO/IEC 11172-3 / 13818-3 header layout — public spec) and report
duration, sample rate, channel mode, frame count, and the bitrate
envelope (CBR vs VBR).  Full MP3 *decode* stays behind the dead-letter
error column — the polyphase synthesis window and Layer III Huffman
tables are spec TABLES, not derivable formulas, so a from-memory
transcription could not be honestly verified in this container.  Header
probing has no such table: every field below is structural, and the walk
is self-verifying (each frame's computed byte length must land exactly
on the next 11-bit sync word, so a wrong bitrate table entry or length
formula cannot pass the round-trip tests silently).

Supported on the way in: ID3v2 prefix tags (syncsafe length, optional
footer), ID3v1 128-byte trailers, CRC-protected frames, padding-bit
variation (the 44.1 kHz CBR reality), mixed-bitrate (VBR) streams, all
three versions x three layers.  Rejected with ``ValueError`` (the
dead-letter contract): free-format bitrate (frames are unsized), mid-
stream parameter changes, truncated final frames, leading garbage.

Scale shape: one pass of the shared ``mapInArrow`` payload map
(:func:`ironbeam_spark.operators.multimodal.map_payloads`), one row per
payload, pure byte arithmetic per row — embarrassingly parallel, no
shuffle, payloads bounded per Arrow batch like every other codec there.

No reference analogue (the reference ships no media code at all); the
synthesizer exists so tests and oracles can fabricate real streams —
the prober is the product surface.
"""

from __future__ import annotations

from operator import itemgetter

from pyspark.sql import DataFrame

from ironbeam_spark.operators.multimodal import map_payloads

__all__ = ["probe_mpeg_bytes", "probe_mpeg_audio", "synthesize_mpeg_stream"]

# bitrate tables, kbps, indices 1..14 (0 = free format, 15 = invalid).
# Keyed by (version_group, layer): version_group "1" = MPEG-1, "2" =
# MPEG-2 and 2.5 (they share tables).
_BITRATE_KBPS = {
    ("1", 1): [32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448],
    ("1", 2): [32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384],
    ("1", 3): [32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320],
    ("2", 1): [32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256],
    ("2", 2): [8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
    ("2", 3): [8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
}
# sample-rate tables, indices 0..2 (3 = reserved), keyed by exact version
_SAMPLE_RATES = {
    "1": [44100, 48000, 32000],
    "2": [22050, 24000, 16000],
    "2.5": [11025, 12000, 8000],
}
# header version bits (20-19) -> version string; 0b01 is reserved
_VERSION_BITS = {0b00: "2.5", 0b10: "2", 0b11: "1"}
# header layer bits (18-17) -> layer number; 0b00 is reserved
_LAYER_BITS = {0b01: 3, 0b10: 2, 0b11: 1}


def _samples_per_frame(version: str, layer: int) -> int:
    if layer == 1:
        return 384
    if layer == 2:
        return 1152
    return 1152 if version == "1" else 576  # Layer III halves under MPEG-2


def _frame_length(version: str, layer: int, kbps: int, hz: int, pad: int) -> int:
    """Frame byte length per the spec's slot formulas (Layer I slots are
    4 bytes, Layers II/III 1 byte)."""
    bps = kbps * 1000
    if layer == 1:
        return (12 * bps // hz + pad) * 4
    coeff = 144 if (layer == 2 or version == "1") else 72
    return coeff * bps // hz + pad


def _parse_header(h: int):
    """32-bit big-endian frame header -> (version, layer, crc, kbps, hz,
    pad, channels) or None if the word is not a valid frame header."""
    if (h >> 21) & 0x7FF != 0x7FF:
        return None
    version = _VERSION_BITS.get((h >> 19) & 0b11)
    layer = _LAYER_BITS.get((h >> 17) & 0b11)
    if version is None or layer is None:
        return None
    bidx = (h >> 12) & 0xF
    sidx = (h >> 10) & 0b11
    if bidx == 15 or sidx == 3:
        return None
    if ((h >> 0) & 0b11) == 0b10:  # reserved emphasis
        return None
    if bidx == 0:
        # free-format: frame size is not derivable from the header alone
        raise ValueError("mpeg: free-format bitrate is unsupported")
    group = "1" if version == "1" else "2"
    kbps = _BITRATE_KBPS[(group, layer)][bidx - 1]
    hz = _SAMPLE_RATES[version][sidx]
    pad = (h >> 9) & 1
    mode = (h >> 6) & 0b11
    channels = 1 if mode == 0b11 else 2
    crc = ((h >> 16) & 1) == 0  # protection bit 0 => 16-bit CRC follows
    return version, layer, crc, kbps, hz, pad, channels


def _skip_id3v2(b: bytes, pos: int) -> int:
    """Skip an ID3v2 tag if present: 'ID3', 2 version bytes, 1 flag byte,
    4-byte syncsafe size (+10-byte footer when flag 0x10 is set)."""
    if b[pos : pos + 3] != b"ID3" or len(b) < pos + 10:
        return pos
    flags = b[pos + 5]
    size = 0
    for byte in b[pos + 6 : pos + 10]:
        if byte & 0x80:
            raise ValueError("mpeg: malformed ID3v2 syncsafe size")
        size = (size << 7) | byte
    return pos + 10 + size + (10 if flags & 0x10 else 0)


def probe_mpeg_bytes(b: bytes) -> dict:
    """Walk every frame of an MPEG audio stream; returns ``{fmt, version,
    sample_rate, channels, frames, duration_ms, kbps_min, kbps_max,
    vbr}``.  ``duration_ms`` is ``round(1000 * frames * samples_per_frame
    / sample_rate)`` — exact integer arithmetic, oracle-mirrorable.
    Raises ``ValueError`` (only) on anything that is not a clean stream."""
    try:
        return _probe(b)
    except (IndexError, OverflowError) as e:  # torn buffers -> dead letter
        raise ValueError(f"mpeg: corrupt or truncated payload ({e})") from e


def _probe(b: bytes) -> dict:
    pos = _skip_id3v2(b, 0)
    n = len(b)
    # ID3v1 trailer: fixed 128 bytes at EOF; exclude it from the walk
    if n - pos >= 128 and b[n - 128 : n - 125] == b"TAG":
        n -= 128
    if n - pos < 4:
        raise ValueError("mpeg: no frame data")
    first = _parse_header(int.from_bytes(b[pos : pos + 4], "big"))
    if first is None:
        raise ValueError("mpeg: no sync word at stream start")
    version, layer, _crc, _kbps, hz, _pad, channels = first

    frames = 0
    kmin, kmax = None, None
    while pos < n:
        if n - pos < 4:
            raise ValueError("mpeg: truncated final frame header")
        parsed = _parse_header(int.from_bytes(b[pos : pos + 4], "big"))
        if parsed is None:
            raise ValueError(f"mpeg: lost sync at byte {pos}")
        v, lay, _c, kbps, f_hz, pad, ch = parsed
        if (v, lay, f_hz, ch) != (version, layer, hz, channels):
            raise ValueError("mpeg: stream parameters change mid-stream")
        flen = _frame_length(v, lay, kbps, f_hz, pad)
        if pos + flen > n:
            raise ValueError("mpeg: truncated final frame")
        frames += 1
        kmin = kbps if kmin is None else min(kmin, kbps)
        kmax = kbps if kmax is None else max(kmax, kbps)
        pos += flen

    spf = _samples_per_frame(version, layer)
    # round-half-up on exact integers (no float): (2*num + den) // (2*den)
    num = 1000 * frames * spf
    duration_ms = (2 * num + hz) // (2 * hz)
    return {
        "fmt": f"mp{layer}",
        "version": version,
        "sample_rate": hz,
        "channels": channels,
        "frames": frames,
        "duration_ms": duration_ms,
        "kbps_min": kmin,
        "kbps_max": kmax,
        "vbr": kmin != kmax,
    }


_PROBE_FIELDS = [
    ("fmt", "string"), ("version", "string"), ("sample_rate", "long"),
    ("channels", "long"), ("frames", "long"), ("duration_ms", "long"),
    ("kbps_min", "long"), ("kbps_max", "long"), ("vbr", "boolean"),
]


def probe_mpeg_audio(df: DataFrame, id_col: str, blob_col: str) -> DataFrame:
    """Per-row MPEG audio metadata with the dead-letter error column of
    :func:`ironbeam_spark.operators.multimodal.map_payloads`."""
    get = itemgetter(*(n for n, _ in _PROBE_FIELDS))
    return map_payloads(
        df, id_col, blob_col, _PROBE_FIELDS, lambda b: [get(probe_mpeg_bytes(b))]
    )


def synthesize_mpeg_stream(
    version: str = "1",
    layer: int = 3,
    bitrate_indices=(9,),
    samplerate_index: int = 0,
    n_frames: int = 10,
    channels: int = 2,
    padding_every: int = 0,
    crc: bool = False,
    id3v2_size: int = 0,
    id3v1: bool = False,
) -> bytes:
    """Fabricate a structurally valid MPEG audio stream (zeroed audio
    payload — tests and oracles need real HEADERS, not real music).
    ``bitrate_indices`` cycles per frame (len > 1 => VBR);
    ``padding_every`` = k sets the padding bit on every k-th frame;
    ``id3v2_size`` > 0 prepends a tag with that many content bytes."""
    if version not in _SAMPLE_RATES:
        raise ValueError(f"bad version {version!r}")
    if layer not in (1, 2, 3):
        raise ValueError(f"bad layer {layer}")
    out = bytearray()
    if id3v2_size:
        size = id3v2_size
        ss = bytes(
            [(size >> 21) & 0x7F, (size >> 14) & 0x7F, (size >> 7) & 0x7F, size & 0x7F]
        )
        out += b"ID3" + bytes([4, 0, 0]) + ss + bytes(id3v2_size)
    vbits = {"1": 0b11, "2": 0b10, "2.5": 0b00}[version]
    lbits = {1: 0b11, 2: 0b10, 3: 0b01}[layer]
    group = "1" if version == "1" else "2"
    hz = _SAMPLE_RATES[version][samplerate_index]
    for i in range(n_frames):
        bidx = bitrate_indices[i % len(bitrate_indices)]
        if not 1 <= bidx <= 14:
            raise ValueError(f"bad bitrate index {bidx}")
        pad = 1 if padding_every and (i % padding_every == padding_every - 1) else 0
        mode = 0b11 if channels == 1 else 0b00
        h = (
            (0x7FF << 21) | (vbits << 19) | (lbits << 17)
            | ((0 if crc else 1) << 16) | (bidx << 12)
            | (samplerate_index << 10) | (pad << 9) | (mode << 6)
        )
        kbps = _BITRATE_KBPS[(group, layer)][bidx - 1]
        flen = _frame_length(version, layer, kbps, hz, pad)
        frame = bytearray(flen)
        frame[0:4] = h.to_bytes(4, "big")
        out += frame  # CRC bytes (if any) stay zero — probe never checks them
    if id3v1:
        out += b"TAG" + bytes(125)
    return bytes(out)
