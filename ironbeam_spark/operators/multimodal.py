"""Multimodal column conventions + operators (north-star extension —
BASELINE.json; no analogue in the reference, whose closest surface is opaque
payload sources, ``src/helpers/stdlib.rs:160``).

Convention: a modality column is an opaque ``binary`` payload plus a typed
metadata struct built here (``byte_len``, ``sha256``, ``modality``,
``content_type``).  Decode is tiered by what this container can host:

- **plumbing (real, tested)**: schema, Arrow batch shape, partitioning and
  the dead-letter row, all owned by ONE ``mapInArrow`` call,
  :func:`map_payloads` — identical for any decoder;
- **real codecs (pure Python, from the public format specs)**:
  :func:`decode_image` parses uncompressed 24-bit **BMP** (BITMAPINFOHEADER,
  BI_RGB), **PPM** (P6 binary / P3 ASCII), and **PNG** (RFC 2083 /
  ISO 15948: stdlib-zlib IDAT inflate, all five scanline filters incl.
  Paeth, 8-bit gray / truecolor / palette / alpha color types, chunk CRC
  verified), and **GIF** (87a/89a: pure-Python variable-width LZW,
  interlacing, local/global color tables — still-image projection of the
  first frame), and **JPEG** (SOF0/SOF1 Huffman sequential AND SOF2
  progressive with full successive approximation — see
  :mod:`ironbeam_spark.operators.jpeg`); :func:`decode_audio` parses
  **PCM WAV** (RIFF/fmt/data) plus ITU-T **G.711** µ-law/A-law companded
  WAV.  Formats/profiles that remain out of reach without native libraries
  (MP3, arithmetic-coded JPEG/...) surface a per-row ``error`` column
  (dead-letter convention, like ``operators/dead_letter.try_map``) rather
  than failing the job;
- ``fake_decode_features`` remains the format-free deterministic stand-in
  (pure byte arithmetic, reproducible in SQL).

Scale notes: payloads stay in executor memory one Arrow batch at a time
(``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds peak usage); the
metadata projection is pure codegen; nothing ever collects to the driver.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator
from operator import itemgetter

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "as_blob",
    "blob_metadata",
    "encode_bmp",
    "encode_ppm",
    "encode_png",
    "encode_gif",
    "encode_wav_pcm16",
    "encode_wav_g711",
    "encode_rvid",
    "decode_image_bytes",
    "decode_png_pixels",
    "decode_gif_pixels",
    "decode_image_pixels",
    "decode_audio_bytes",
    "decode_rvid",
    "map_payloads",
    "decode_image",
    "decode_audio",
    "resize_image",
    "sample_frames",
    "fake_decode_features",
]


def as_blob(col: Column | str) -> Column:
    """UTF-8 bytes of a column — the test tables carry no real media, so text
    bytes stand in as the opaque payload; the pipeline shape is unchanged."""
    c = F.col(col) if isinstance(col, str) else col
    return F.encode(c, "UTF-8")


def blob_metadata(blob: Column, modality: str, content_type: str) -> Column:
    """Typed metadata struct for an opaque payload column.  Pure codegen
    (length + sha2), no Python."""
    return F.struct(
        F.octet_length(blob).cast("long").alias("byte_len"),
        F.sha2(blob, 256).alias("sha256"),
        F.lit(modality).alias("modality"),
        F.lit(content_type).alias("content_type"),
    )


# --------------------------------------------------------------- image codecs
# Implemented from the public format specs (Windows BMP file format docs;
# netpbm PPM spec; PNG per RFC 2083 / ISO 15948 — stdlib zlib hosts the
# inflate; GIF87a/89a with a pure-Python variable-width LZW; sequential +
# progressive JPEG via operators/jpeg.py).  Scope: every interchange format
# this container can decode without native libs.  MP3 and arithmetic-coded
# JPEG stay behind the error column.


def encode_bmp(width: int, height: int, rgb: bytes) -> bytes:
    """Minimal uncompressed 24-bit BMP writer (BITMAPINFOHEADER, BI_RGB).
    ``rgb`` is row-major top-down R,G,B triplets.  Exists so tests/oracles
    can fabricate real files; the decoder is the product surface."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb length must be width*height*3")
    pad = (-(width * 3)) % 4
    rows = []
    for y in range(height - 1, -1, -1):  # BMP stores rows bottom-up
        row = bytearray()
        for x in range(width):
            o = (y * width + x) * 3
            r, g, b = rgb[o], rgb[o + 1], rgb[o + 2]
            row += bytes((b, g, r))  # BGR on disk
        rows.append(bytes(row) + b"\x00" * pad)
    pixels = b"".join(rows)
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + len(pixels), 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixels), 2835, 2835, 0, 0)
    return header + info + pixels


def encode_ppm(width: int, height: int, rgb: bytes) -> bytes:
    """Binary PPM (P6, maxval 255) writer; ``rgb`` as in :func:`encode_bmp`."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb length must be width*height*3")
    return f"P6\n{width} {height}\n255\n".encode("ascii") + rgb


def _ppm_tokens(b: bytes):
    """netpbm header tokenizer: whitespace-separated, '#' comments to EOL.
    Yields (token, end_offset)."""
    i, n = 0, len(b)
    while i < n:
        c = b[i : i + 1]
        if c in b" \t\r\n":
            i += 1
        elif c == b"#":
            while i < n and b[i : i + 1] != b"\n":
                i += 1
        else:
            j = i
            while j < n and b[j : j + 1] not in b" \t\r\n#":
                j += 1
            yield b[i:j], j
            i = j


# Decompression-bomb guard shared by the compressed-image decoders: a
# corrupt ~35-byte header must not be able to command a multi-GB canvas
# (MemoryError would ESCAPE the dead-letter ValueError catch and kill the
# task).  2^26 pixels = 192 MB of RGB — far above any sane training image.
MAX_IMAGE_PIXELS = 1 << 26

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def encode_png(width: int, height: int, rgb: bytes) -> bytes:
    """Minimal PNG writer: 8-bit truecolor (color type 2), filter 0 on
    every scanline, one zlib IDAT, CRC'd chunks.  ``rgb`` is H·W·3 bytes in
    row-major RGB order (same contract as :func:`encode_bmp`)."""
    import zlib

    if len(rgb) != width * height * 3:
        raise ValueError("encode_png: rgb length != width*height*3")

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    stride = width * 3
    raw = b"".join(
        b"\x00" + rgb[y * stride : (y + 1) * stride] for y in range(height)
    )
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _png_unfilter(raw: bytes, h: int, stride: int, bpp: int):
    """Reverse the PNG scanline filters (spec §6: None/Sub/Up/Average/
    Paeth).  Filters Up and None are fully vectorized; Sub/Average/Paeth
    carry a within-row sequential dependency, so they run as a per-byte
    loop over that row only — encoders in the wild (and ours) emit mostly
    None/Up rows, so the vectorized path is the hot one."""
    import numpy as np

    arr = np.frombuffer(raw, np.uint8).reshape(h, stride + 1)
    ftypes = arr[:, 0]
    out = np.zeros((h, stride), np.uint16)
    zero = np.zeros(stride, np.uint16)
    for y in range(h):
        f = int(ftypes[y])
        cur = arr[y, 1:].astype(np.uint16)
        prev = out[y - 1] if y else zero
        if f == 0:
            rec = cur
        elif f == 2:  # Up
            rec = (cur + prev) & 0xFF
        elif f in (1, 3, 4):  # Sub / Average / Paeth: sequential in x
            rec = cur
            for x in range(stride):
                a = int(rec[x - bpp]) if x >= bpp else 0
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + int(prev[x])) >> 1
                else:
                    c = int(prev[x - bpp]) if x >= bpp else 0
                    bb = int(prev[x])
                    p = a + bb - c
                    pa, pb, pc = abs(p - a), abs(p - bb), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (bb if pb <= pc else c)
                rec[x] = (int(rec[x]) + pred) & 0xFF
        else:
            raise ValueError(f"png: unknown scanline filter {f}")
        out[y] = rec
    return out.astype(np.uint8)


def decode_png_pixels(b: bytes):
    """Parse a PNG payload to an ``H×W×3 uint8 RGB`` ndarray.  Supports
    bit depth 8, color types 0 (gray), 2 (truecolor), 3 (palette),
    4 (gray+alpha), 6 (RGBA) — alpha is dropped, gray replicates to RGB,
    palette indices resolve through PLTE.  Non-interlaced only; every
    chunk CRC is verified; raises ``ValueError`` on anything else (the
    dead-letter column catches it)."""
    import zlib

    import numpy as np

    if b[:8] != _PNG_MAGIC:
        raise ValueError("png: bad signature")
    pos, ihdr, plte, idat = 8, None, None, []
    while pos + 12 <= len(b):
        ln, typ = struct.unpack_from(">I4s", b, pos)
        if pos + 12 + ln > len(b):
            raise ValueError("png: truncated chunk")
        data = b[pos + 8 : pos + 8 + ln]
        crc = struct.unpack_from(">I", b, pos + 8 + ln)[0]
        if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"png: CRC mismatch in {typ.decode('latin1')} chunk")
        if typ == b"IHDR":
            if len(data) != 13:
                raise ValueError(f"png: IHDR must be 13 bytes, got {len(data)}")
            ihdr = struct.unpack(">IIBBBBB", data)
        elif typ == b"PLTE":
            plte = data
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None or not idat:
        raise ValueError("png: missing IHDR/IDAT")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if depth != 8:
        raise ValueError(f"png: only 8-bit depth supported (got {depth})")
    if comp != 0 or filt != 0:
        raise ValueError("png: unknown compression/filter method")
    if interlace != 0:
        raise ValueError("png: Adam7 interlacing unsupported")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
    if channels is None:
        raise ValueError(f"png: unknown color type {ctype}")
    if w <= 0 or h <= 0:
        raise ValueError("png: bad dimensions")
    if w * h > MAX_IMAGE_PIXELS:
        raise ValueError(f"png: {w}x{h} exceeds MAX_IMAGE_PIXELS")
    stride = w * channels
    expected_raw = (stride + 1) * h
    # bounded inflate: never allocate more than the declared pixel buffer
    # (+1 to detect overflow) no matter what the zlib stream claims
    try:
        dec = zlib.decompressobj()
        raw = dec.decompress(b"".join(idat), expected_raw + 1)
    except zlib.error as e:
        raise ValueError(f"png: IDAT inflate failed ({e})") from e
    if len(raw) != expected_raw or not dec.eof:
        # not dec.eof also rejects truncated zlib streams that happen to
        # inflate to exactly the pixel-buffer size (missing final block /
        # adler32 trailer) AND streams with data beyond the buffer
        raise ValueError("png: pixel data size mismatch")
    px = _png_unfilter(raw, h, stride, channels).reshape(h, w, channels)
    if ctype == 2:
        rgb = px
    elif ctype == 0:
        rgb = np.repeat(px, 3, axis=2)
    elif ctype == 4:
        rgb = np.repeat(px[:, :, :1], 3, axis=2)
    elif ctype == 6:
        rgb = px[:, :, :3]
    else:  # palette
        if plte is None or len(plte) % 3:
            raise ValueError("png: palette image without valid PLTE")
        pal = np.frombuffer(plte, np.uint8).reshape(-1, 3)
        idx = px[:, :, 0]
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("png: palette index out of range")
        rgb = pal[idx]
    return np.ascontiguousarray(rgb)


def encode_gif(width: int, height: int, rgb: bytes) -> bytes:
    """Minimal GIF89a writer: palette built from the image's distinct
    colors (≤256 required), honest variable-width LZW (dict growth, width
    bumps, 4096 reset), non-interlaced single frame.  ``rgb`` as in
    :func:`encode_bmp`.  Exists so tests/oracles can fabricate real
    files; the decoder is the product surface."""
    if len(rgb) != width * height * 3:
        raise ValueError("encode_gif: rgb length != width*height*3")
    colors: dict[tuple, int] = {}
    indices = []
    for p in range(width * height):
        c = (rgb[3 * p], rgb[3 * p + 1], rgb[3 * p + 2])
        if c not in colors:
            colors[c] = len(colors)
        indices.append(colors[c])
    if len(colors) > 256:
        raise ValueError(f"encode_gif: {len(colors)} distinct colors > 256")
    min_code = max((len(colors) - 1).bit_length(), 2)
    gct_bits = min_code
    gct_size = 1 << gct_bits
    pal = list(colors) + [(0, 0, 0)] * (gct_size - len(colors))

    clear, end = 1 << min_code, (1 << min_code) + 1
    codes = [clear]
    table = {(i,): i for i in range(clear)}
    next_code = end + 1
    prev: tuple = ()
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

    # LSB-first packer tracking the decoder's width schedule
    w_bits = min_code + 1
    dec_size, first = end + 1, True
    acc = bitpos = 0
    packed = bytearray()
    for code in codes:
        acc |= code << bitpos
        bitpos += w_bits
        while bitpos >= 8:
            packed.append(acc & 0xFF)
            acc >>= 8
            bitpos -= 8
        if code == clear:
            w_bits, dec_size, first = min_code + 1, end + 1, True
        elif code != end:
            if first:
                first = False
            else:
                dec_size += 1
            if dec_size == (1 << w_bits) and w_bits < 12:
                w_bits += 1
    if bitpos:
        packed.append(acc & 0xFF)

    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0x80 | (gct_bits - 1), 0, 0)
    for r, g, b2 in pal:
        out += bytes((r, g, b2))
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
    out.append(min_code)
    for i in range(0, len(packed), 255):
        block = packed[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"
    return bytes(out)


def _gif_lzw_decode(data: bytes, min_code: int, expected: int) -> list[int]:
    """GIF-variant LZW decode (spec appendix F): LSB-first variable-width
    codes starting at ``min_code + 1`` bits, CLEAR = ``2^min_code``,
    END = CLEAR+1, table capped at 4096 entries (width stops at 12)."""
    clear = 1 << min_code
    end = clear + 1
    base = [(i,) for i in range(clear)] + [None, None]
    table = list(base)
    width = min_code + 1
    out: list[int] = []
    prev: tuple | None = None
    bitpos, total = 0, len(data) * 8
    while len(out) < expected:
        if bitpos + width > total:
            raise ValueError("gif: truncated LZW stream")
        byte_i, bit_o = bitpos >> 3, bitpos & 7
        chunk = int.from_bytes(data[byte_i : byte_i + 3], "little")
        code = (chunk >> bit_o) & ((1 << width) - 1)
        bitpos += width
        if code == clear:
            table = list(base)
            width = min_code + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(table) or table[code] is None:
                raise ValueError("gif: invalid first LZW code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if entry is None:
                raise ValueError("gif: invalid LZW code")
            if len(table) < 4096:
                table.append(prev + (entry[0],))
        elif code == len(table) and len(table) < 4096:
            entry = prev + (prev[0],)
            table.append(entry)
        else:
            raise ValueError("gif: LZW code out of range")
        out.extend(entry)
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    if len(out) < expected:
        raise ValueError("gif: truncated pixel data")
    return out[:expected]


def decode_gif_pixels(b: bytes):
    """Parse a GIF87a/GIF89a payload to an ``H×W×3 uint8 RGB`` ndarray:
    logical-screen canvas filled with the background color, first frame
    LZW-decoded (pure-Python variable-width LZW), de-interlaced when the
    Adam4 flag is set, blitted at its (left, top) offset through its
    (local or global) color table.  Later animation frames are ignored —
    the still-image projection.  Raises ``ValueError`` on structural
    damage (the dead-letter column catches it)."""
    import numpy as np

    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("gif: bad signature")
    if len(b) < 13:
        raise ValueError("gif: truncated header")
    W, H = struct.unpack_from("<HH", b, 6)
    flags, bg = b[10], b[11]
    if W == 0 or H == 0:
        raise ValueError("gif: bad dimensions")
    if W * H > MAX_IMAGE_PIXELS:
        raise ValueError(f"gif: {W}x{H} exceeds MAX_IMAGE_PIXELS")
    pos, gct = 13, None
    if flags & 0x80:
        sz = 2 ** ((flags & 7) + 1)
        if pos + sz * 3 > len(b):
            raise ValueError("gif: truncated global color table")
        gct = np.frombuffer(b, np.uint8, sz * 3, pos).reshape(-1, 3)
        pos += sz * 3
    while pos < len(b):
        blk = b[pos]
        if blk == 0x3B:  # trailer
            break
        if blk == 0x21:  # extension: label byte + data sub-blocks
            pos += 2
            while pos < len(b) and b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
        elif blk == 0x2C:  # image descriptor
            if pos + 10 > len(b):
                raise ValueError("gif: truncated image descriptor")
            left, top, fw, fh = struct.unpack_from("<HHHH", b, pos + 1)
            iflags = b[pos + 9]
            pos += 10
            pal = gct
            if iflags & 0x80:
                sz = 2 ** ((iflags & 7) + 1)
                if pos + sz * 3 > len(b):
                    raise ValueError("gif: truncated local color table")
                pal = np.frombuffer(b, np.uint8, sz * 3, pos).reshape(-1, 3)
                pos += sz * 3
            if pal is None:
                raise ValueError("gif: image without any color table")
            if fw == 0 or fh == 0 or left + fw > W or top + fh > H:
                raise ValueError("gif: frame exceeds logical screen")
            if pos >= len(b):
                raise ValueError("gif: missing LZW minimum code size")
            min_code = b[pos]
            pos += 1
            if not (2 <= min_code <= 11):
                raise ValueError(f"gif: bad LZW minimum code size {min_code}")
            data = bytearray()
            while pos < len(b) and b[pos] != 0:
                n = b[pos]
                data += b[pos + 1 : pos + 1 + n]
                pos += 1 + n
            if pos >= len(b):
                raise ValueError("gif: unterminated image data")
            pos += 1
            # a 4096-entry LZW dictionary cannot legitimately expand one
            # code to more than 4096 pixels — anything past that ratio is
            # a bomb, not an image
            if fw * fh > max(len(data), 1) * 4096:
                raise ValueError("gif: declared frame exceeds LZW expansion bound")
            idx = np.array(
                _gif_lzw_decode(bytes(data), min_code, fw * fh), np.int32
            )
            if int(idx.max(initial=0)) >= len(pal):
                raise ValueError("gif: color index out of palette range")
            frame = idx.reshape(fh, fw)
            if iflags & 0x40:  # interlaced: 4-pass row order
                rows = (
                    list(range(0, fh, 8))
                    + list(range(4, fh, 8))
                    + list(range(2, fh, 4))
                    + list(range(1, fh, 2))
                )
                de = np.empty_like(frame)
                de[rows] = frame
                frame = de
            bg_rgb = (
                gct[bg] if gct is not None and bg < len(gct) else np.zeros(3, np.uint8)
            )
            canvas = np.tile(bg_rgb.astype(np.uint8), (H, W, 1))
            canvas[top : top + fh, left : left + fw] = pal[frame]
            return np.ascontiguousarray(canvas)
        else:
            raise ValueError(f"gif: unknown block 0x{blk:02x}")
    raise ValueError("gif: no image data before trailer")


def decode_image_bytes(b: bytes) -> dict:
    """Decode one image payload: sniff the magic, parse with the matching
    pure-Python codec.  Returns ``{fmt, width, height, channels, sum_r,
    sum_g, sum_b}`` (integer channel sums — order-invariant, FP-free, so an
    external oracle can verify them exactly).  Raises ``ValueError`` on
    unsupported/corrupt payloads (callers map it to the error column)."""
    fmt, px = decode_image_pixels(b)
    s = px.reshape(-1, 3).astype("int64").sum(axis=0)
    return {
        "fmt": fmt, "width": int(px.shape[1]), "height": int(px.shape[0]),
        "channels": 3,
        "sum_r": int(s[0]), "sum_g": int(s[1]), "sum_b": int(s[2]),
    }


def decode_image_pixels(b: bytes):
    """Parse a BMP/PPM/PNG payload to ``(fmt, H×W×3 uint8 RGB ndarray)`` —
    the shared pixel-level decoder behind :func:`decode_image_bytes`,
    :func:`resize_image`, and the video frame codec.  Raises ``ValueError``
    on unsupported/corrupt payloads."""
    import numpy as np

    if b[:2] == b"BM":
        if len(b) < 54:
            raise ValueError("bmp: truncated header")
        off, hdr_size = struct.unpack_from("<I", b, 10)[0], struct.unpack_from("<I", b, 14)[0]
        if hdr_size < 40:
            raise ValueError("bmp: pre-BITMAPINFOHEADER variants unsupported")
        width, height = struct.unpack_from("<ii", b, 18)
        planes, bpp = struct.unpack_from("<HH", b, 26)
        compression = struct.unpack_from("<I", b, 30)[0]
        if bpp != 24 or compression != 0:
            raise ValueError(f"bmp: only 24-bit BI_RGB supported (bpp={bpp}, comp={compression})")
        top_down = height < 0
        height = abs(height)
        stride = (width * 3 + 3) & ~3
        need = off + stride * height
        if width <= 0 or height <= 0 or len(b) < need:
            raise ValueError("bmp: truncated pixel data")
        rows = np.frombuffer(b, dtype=np.uint8, count=stride * height, offset=off)
        px = rows.reshape(height, stride)[:, : width * 3].reshape(height, width, 3)
        if not top_down:
            px = px[::-1]
        # disk order is BGR; emit RGB
        return "bmp", np.ascontiguousarray(px[:, :, ::-1])
    if b[:2] in (b"P6", b"P3"):
        ascii_mode = b[:2] == b"P3"
        toks = _ppm_tokens(b[2:])
        try:
            (w, _), (h, _), (maxval, end) = next(toks), next(toks), next(toks)
            width, height, maxval = int(w), int(h), int(maxval)
        except (StopIteration, ValueError) as e:
            raise ValueError("ppm: bad header") from e
        if width <= 0 or height <= 0 or not (0 < maxval < 256):
            raise ValueError("ppm: only 8-bit-per-sample images supported")
        n = width * height * 3
        if ascii_mode:
            vals = []
            for t, _ in toks:
                v = int(t)
                # range-check BEFORE the uint8 cast: numpy would silently
                # wrap (1.x) or raise a non-ValueError (2.x) that escapes
                # the dead-letter catch and kills the job
                if not (0 <= v <= maxval):
                    raise ValueError(f"ppm: P3 sample {v} outside [0, {maxval}]")
                vals.append(v)
                if len(vals) == n:
                    break
            if len(vals) != n:
                raise ValueError("ppm: truncated P3 samples")
            px = np.array(vals, dtype=np.uint8).reshape(height, width, 3)
        else:
            start = 2 + end + 1  # single whitespace byte after maxval per spec
            if len(b) < start + n:
                raise ValueError("ppm: truncated P6 pixel data")
            px = np.frombuffer(b, dtype=np.uint8, count=n, offset=start).reshape(
                height, width, 3
            ).copy()
        return "ppm", px
    if b[:8] == _PNG_MAGIC:
        return "png", decode_png_pixels(b)
    if b[:6] in (b"GIF87a", b"GIF89a"):
        return "gif", decode_gif_pixels(b)
    if b[:2] == b"\xff\xd8":
        from ironbeam_spark.operators.jpeg import decode_jpeg_pixels

        return "jpeg", decode_jpeg_pixels(b)
    raise ValueError(
        "unsupported image format (magic %r): only BMP/PPM/PNG/GIF/JPEG(baseline) "
        "decode without PIL" % (bytes(b[:2]),)
    )


def map_payloads(
    df: DataFrame, id_col: str, blob_col: str, fields, fn, dead_letter=None
) -> DataFrame:
    """The per-payload map behind every binary-payload operator: one
    ``mapInArrow`` over ``(id_col, blob_col)``.  ``fn(payload: bytes)``
    returns the feature tuples for one payload — one per output row (several
    for a fan-out such as :func:`sample_frames`), in ``fields`` order, where
    ``fields`` is a list of ``(name, DDL type)`` pairs.

    The output is ``id_col`` (keeping its input type), the ``fields``, then
    ``error string``.  A NULL payload, or a ``fn`` that raises
    ``ValueError``, yields ONE dead-letter row — ``dead_letter`` (default:
    all nulls) plus the message — so one bad file never kills a 100 TB job.
    """
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    ddl = [f"`{id_col}` {df.schema[id_col].dataType.simpleString()}"]
    ddl += [f"`{n}` {t}" for n, t in fields] + ["error string"]
    schema = StructType.fromDDL(", ".join(ddl))
    out = to_arrow_schema(schema)
    types = out.types[1:]
    dead = dead_letter or (None,) * len(fields)

    def run(batches: Iterator) -> Iterator:
        import pyarrow as pa

        for rb in batches:
            take, rows = [], []
            for i, blob in enumerate(rb.column(1).to_pylist()):
                try:
                    if blob is None:
                        # e.g. a WebDataset sample without the member
                        raise ValueError("null payload")
                    got = [(*t, None) for t in fn(blob)]
                except ValueError as e:
                    got = [(*dead, str(e))]
                take += [i] * len(got)
                rows += got
            cols = list(zip(*rows)) or [()] * len(types)
            yield pa.RecordBatch.from_arrays(
                [rb.column(0).take(pa.array(take, pa.int64()))]
                + [pa.array(c, type=t) for c, t in zip(cols, types)],
                names=out.names,
            )

    return df.select(id_col, blob_col).mapInArrow(run, schema)


_IMAGE_FIELDS = [
    ("fmt", "string"), ("width", "long"), ("height", "long"),
    ("channels", "long"), ("sum_r", "long"), ("sum_g", "long"),
    ("sum_b", "long"),
]


def decode_image(df: DataFrame, id_col: str, blob_col: str) -> DataFrame:
    """REAL image decode over the multimodal plumbing: each payload is
    parsed with :func:`decode_image_bytes` (BMP / PPM / PNG / GIF / JPEG)
    inside :func:`map_payloads`, whose dead-letter row (null dimensions +
    ``error``) takes unsupported or corrupt payloads."""
    get = itemgetter(*(n for n, _ in _IMAGE_FIELDS))
    return map_payloads(
        df, id_col, blob_col, _IMAGE_FIELDS, lambda b: [get(decode_image_bytes(b))]
    )


# --------------------------------------------------------------- audio codec


def encode_wav_pcm16(sample_rate: int, channels: int, samples: list[int]) -> bytes:
    """Minimal PCM16 WAV writer (RIFF/WAVE, fmt + data chunks); ``samples``
    are interleaved int16 values."""
    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate,
                      sample_rate * channels * 2, channels * 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt \
        + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav_g711(
    sample_rate: int, channels: int, companded: bytes, law: str = "ulaw"
) -> bytes:
    """G.711 WAV writer (format 7 = µ-law, 6 = A-law): ``companded`` is the
    raw 8-bit companded byte stream.  Exists so tests can fabricate real
    telephony-coded files; the decoder is the product surface."""
    code = {"ulaw": 7, "alaw": 6}.get(law)
    if code is None:
        raise ValueError(f"law must be 'ulaw' or 'alaw', got {law!r}")
    fmt = struct.pack("<HHIIHH", code, channels, sample_rate,
                      sample_rate * channels, channels, 8)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt \
        + b"data" + struct.pack("<I", len(companded)) + companded
    return b"RIFF" + struct.pack("<I", len(body)) + body


import functools


@functools.lru_cache(maxsize=1)
def _g711_luts():
    """256-entry expansion tables for ITU-T G.711 µ-law / A-law, built from
    the spec's segment/mantissa formulas (the classic telecom reference
    code): µ-law max magnitude 32124, A-law max 32256.  Cached — the
    decoder calls this once per audio ROW."""
    import numpy as np

    ulaw = np.empty(256, np.int16)
    for u in range(256):
        v = ~u & 0xFF
        t = ((v & 0x0F) << 3) + 0x84
        t <<= (v & 0x70) >> 4
        ulaw[u] = (0x84 - t) if (v & 0x80) else (t - 0x84)
    alaw = np.empty(256, np.int16)
    for a in range(256):
        v = a ^ 0x55
        t = (v & 0x0F) << 4
        seg = (v & 0x70) >> 4
        if seg == 0:
            t += 8
        elif seg == 1:
            t += 0x108
        else:
            t = (t + 0x108) << (seg - 1)
        alaw[a] = t if (v & 0x80) else -t
    return ulaw, alaw


def decode_audio_bytes(b: bytes) -> dict:
    """Decode one audio payload: WAV (RIFF walk, public WAVE spec) with
    16-bit PCM (format 1) plus ITU-T **G.711 A-law** (format 6) and
    **µ-law** (format 7) — the 8-bit companded telephony codings, expanded
    to int16 through the spec's segment tables — and **FLAC** (RFC 9639,
    via :mod:`ironbeam_spark.operators.flac`).  Returns ``{fmt,
    sample_rate, channels, bits, n_frames, sum_abs}`` with integer
    ``sum_abs`` (order-invariant, oracle-verifiable).  Raises
    ``ValueError`` for anything else (MP3/AAC need native codecs)."""
    import numpy as np

    if b[:4] == b"fLaC":
        from ironbeam_spark.operators.flac import decode_flac_meta

        return decode_flac_meta(b)
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("unsupported audio format: only WAV (PCM16/G.711) and FLAC decode without librosa/ffmpeg")
    i, n = 12, len(b)
    fmt = data = None
    while i + 8 <= n:
        cid, sz = b[i : i + 4], struct.unpack_from("<I", b, i + 4)[0]
        body = b[i + 8 : i + 8 + sz]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        i += 8 + sz + (sz & 1)  # chunks are word-aligned
    if fmt is None or data is None or len(fmt) < 16:
        raise ValueError("wav: missing fmt/data chunk")
    audio_format, channels, sample_rate, _, _, bits = struct.unpack_from("<HHIIHH", fmt, 0)
    if channels < 1:
        # must be ValueError: a declared channels=0 would otherwise raise
        # ZeroDivisionError below, escaping the dead-letter catch
        raise ValueError("wav: fmt chunk declares 0 channels")
    if audio_format == 1 and bits == 16:
        frames = len(data) // (channels * 2)
        samples = np.frombuffer(data, dtype="<i2", count=frames * channels)
        wav_fmt, out_bits = "wav", 16
    elif audio_format in (6, 7) and bits == 8:
        ulaw, alaw = _g711_luts()
        lut = ulaw if audio_format == 7 else alaw
        frames = len(data) // channels
        raw = np.frombuffer(data, dtype=np.uint8, count=frames * channels)
        samples = lut[raw]
        wav_fmt, out_bits = ("wav-ulaw" if audio_format == 7 else "wav-alaw"), 8
    else:
        raise ValueError(
            f"wav: only PCM16 / G.711 supported (format={audio_format}, bits={bits})"
        )
    return {
        "fmt": wav_fmt, "sample_rate": int(sample_rate), "channels": int(channels),
        "bits": out_bits, "n_frames": int(frames),
        "sum_abs": int(np.abs(samples.astype(np.int64)).sum()),
    }


_AUDIO_FIELDS = [
    ("fmt", "string"), ("sample_rate", "long"), ("channels", "long"),
    ("bits", "long"), ("n_frames", "long"), ("sum_abs", "long"),
]


def decode_audio(df: DataFrame, id_col: str, blob_col: str) -> DataFrame:
    """REAL audio decode (PCM / G.711 WAV, FLAC) through
    :func:`map_payloads`, with its dead-letter error column."""
    get = itemgetter(*(n for n, _ in _AUDIO_FIELDS))
    return map_payloads(
        df, id_col, blob_col, _AUDIO_FIELDS, lambda b: [get(decode_audio_bytes(b))]
    )


def _byte_features(b: bytes):
    return [(
        len(b),
        b[0] if b else -1,
        b[-1] if b else -1,
        int.from_bytes(b[:4], "little") if len(b) >= 4 else -1,
    )]


def fake_decode_features(df: DataFrame, id_col: str, blob_col: str) -> DataFrame:
    """Deterministic stand-in decoder with the real plumbing
    (:func:`map_payloads`), binary in → fixed-schema features out.

    Features are pure byte arithmetic (no codec): payload length, first/last
    byte, and a little-endian u32 of the first 4 bytes — reproducible in any
    engine, so the SQL oracle can verify the full pipeline."""
    return map_payloads(
        df, id_col, blob_col,
        [("byte_len", "long"), ("first_byte", "long"), ("last_byte", "long"),
         ("head_u32", "long")],
        _byte_features,
    )


# ------------------------------------------------------------ image resize


def resize_rgb_nearest(px, out_w: int, out_h: int):
    """Nearest-neighbor resample of an H×W×3 uint8 array to out_h×out_w×3.
    Source index formula is the floor mapping ``src = (dst · in) // out`` —
    integer-exact, so an external oracle can mirror it closed-form."""
    import numpy as np

    h, w = px.shape[0], px.shape[1]
    ys = (np.arange(out_h) * h) // out_h
    xs = (np.arange(out_w) * w) // out_w
    return px[ys][:, xs]


def resize_image(
    df: DataFrame, id_col: str, blob_col: str, out_w: int, out_h: int
) -> DataFrame:
    """REAL image resize over the multimodal plumbing: decode (any
    :func:`decode_image_pixels` format), nearest-neighbor resample,
    re-encode as PPM, emit the resized payload plus integer channel sums
    (the oracle-checkable invariant).  Corrupt payloads get the
    :func:`map_payloads` dead-letter row (null fields + error)."""
    if out_w < 1 or out_h < 1:
        raise ValueError(f"resize target must be >= 1x1, got {out_w}x{out_h}")

    def work(b: bytes):
        fmt, px = decode_image_pixels(b)
        rp = resize_rgb_nearest(px, out_w, out_h)
        s = rp.reshape(-1, 3).astype("int64").sum(axis=0)
        return [(
            fmt, int(px.shape[1]), int(px.shape[0]), out_w, out_h,
            int(s[0]), int(s[1]), int(s[2]), encode_ppm(out_w, out_h, rp.tobytes()),
        )]

    return map_payloads(
        df, id_col, blob_col,
        [("src_fmt", "string"), ("src_width", "long"), ("src_height", "long"),
         ("width", "long"), ("height", "long"), ("sum_r", "long"),
         ("sum_g", "long"), ("sum_b", "long"), ("payload", "binary")],
        work,
    )


# ---------------------------------------------------------- raw video codec


_RVID_MAGIC = b"RVID"


def encode_rvid(width: int, height: int, fps: int, frames: list[bytes]) -> bytes:
    """Minimal raw-video container: ``RVID`` magic + little-endian u32
    (width, height, fps, n_frames) + concatenated raw RGB frames.  A
    deliberately simple, fully-specified format (this container cannot host
    ffmpeg/PyAV) so the frame-sampling PLUMBING — schema, batching, per-
    frame fan-out — is real and exactly testable; a production deployment
    swaps the codec body for a real demuxer behind the same operator."""
    n = width * height * 3
    for i, f in enumerate(frames):
        if len(f) != n:
            raise ValueError(f"rvid: frame {i} has {len(f)} bytes, want {n}")
    head = _RVID_MAGIC + struct.pack("<IIII", width, height, fps, len(frames))
    return head + b"".join(frames)


def decode_rvid(b: bytes) -> dict:
    """Parse an RVID payload → ``{width, height, fps, n_frames, frames}``
    (frames = n×H×W×3 uint8 ndarray).  Raises ``ValueError`` when corrupt."""
    import numpy as np

    if b[:4] != _RVID_MAGIC:
        raise ValueError("rvid: bad magic")
    if len(b) < 20:
        raise ValueError("rvid: truncated header")
    width, height, fps, n_frames = struct.unpack_from("<IIII", b, 4)
    need = 20 + n_frames * width * height * 3
    if width <= 0 or height <= 0 or len(b) < need:
        raise ValueError("rvid: truncated frame data")
    frames = np.frombuffer(
        b, dtype=np.uint8, count=n_frames * width * height * 3, offset=20
    ).reshape(n_frames, height, width, 3)
    return {
        "width": int(width), "height": int(height), "fps": int(fps),
        "n_frames": int(n_frames), "frames": frames,
    }


def sample_frames(
    df: DataFrame, id_col: str, blob_col: str, every_n: int
) -> DataFrame:
    """Video frame sampling: one output row per kept frame (indices 0,
    every_n, 2·every_n, …) with its timestamp and integer channel sums —
    the fan-out shape a frame-level feature extractor consumes.  Corrupt
    payloads yield a single :func:`map_payloads` dead-letter row
    (frame_idx −1 + error) instead of killing the job."""
    if every_n < 1:
        raise ValueError("every_n must be >= 1")

    def work(b: bytes):
        v = decode_rvid(b)
        for idx in range(0, v["n_frames"], every_n):
            s = v["frames"][idx].reshape(-1, 3).astype("int64").sum(axis=0)
            ts_ms = idx * 1000 // v["fps"] if v["fps"] else 0
            yield (idx, ts_ms, v["width"], v["height"], v["n_frames"],
                   int(s[0]), int(s[1]), int(s[2]))

    return map_payloads(
        df, id_col, blob_col,
        [("frame_idx", "long"), ("ts_ms", "long"), ("width", "long"),
         ("height", "long"), ("n_frames", "long"), ("sum_r", "long"),
         ("sum_g", "long"), ("sum_b", "long")],
        work,
        dead_letter=(-1,) + (None,) * 7,
    )
