"""Multimodal (binary) column operators: real pure-Python codecs behind
Arrow-batched ``mapInPandas``.

North-star extension (BASELINE.json): image/audio/video are opaque
``binary`` columns with typed metadata — the pattern generalizes the
reference's ``image``/``files`` metadata columns (/root/reference/app/
db/postgres.py:144-145). Library codecs (PIL/librosa/av) are NOT in
this container, so the formats covered here are decoded from their
public specs directly: BMP (raw raster), PNG (zlib deflate, five
scanline filters, CRC), GIF87a (LZW), animated GIF89a (multi-frame
walk + frame timing — the video path), RIFF/PCM WAV (audio sample
pass + rfft spectral features), plus perceptual hashing (dHash) and a
real box-average resize over decoded pixels. The original
deterministic stubs remain for formats that genuinely need native
codecs (JPEG/MP4) — honest placeholders, clearly marked.

The module's only Arrow plumbing is two helpers: ``_per_id`` renders
one encoded blob per id (the ``synthetic_*`` fixtures) and
``_per_blob`` runs a per-blob codec that yields zero or more output
rows. Every operator below that runs Python per row hands a codec call
to one of them: Arrow batches in, embarrassingly parallel across
partitions, one pass per blob.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import _parse_datatype_string

from .ckpt import freeze


def _per_id(df: DataFrame, id_col: str, encode: Callable[[int], bytes]) -> DataFrame:
    """``doc_id bigint, content binary``: one ``encode(doc_id)`` blob
    per row of ``df``."""
    src = df.select(F.col(id_col).alias("doc_id"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"]
            yield pd.DataFrame(
                {"doc_id": ids.values, "content": [encode(int(i)) for i in ids]}
            )

    return src.mapInPandas(gen, schema="doc_id bigint, content binary")


def _per_blob(
    df: DataFrame,
    id_col: str,
    binary_col: str,
    rows: Callable[[int, bytes], Iterable[dict]],
    schema: str,
) -> DataFrame:
    """Run ``rows(doc_id, blob)`` over ``binary_col``: each dict it
    yields becomes one output row of ``schema``, with ``doc_id`` filled
    in. Keys outside the schema are dropped. The column names are
    resolved here on the driver, because workers cannot parse DDL."""
    names = _parse_datatype_string(schema).names
    src = df.select(F.col(id_col).alias("doc_id"), F.col(binary_col).alias("content"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for i, c in zip(pdf["doc_id"], pdf["content"]):
                i = int(i)
                out.extend({**r, "doc_id": i} for r in rows(i, bytes(c)))
            yield pd.DataFrame(out, columns=names)

    return src.mapInPandas(gen, schema=schema)


DECODE_SCHEMA = "doc_id bigint, byte_len int, width int, height int, n_frames int"


def real_image_decode(content: bytes) -> dict:
    """Dispatch a binary image payload to the matching REAL pure-Python
    decoder by magic bytes — BMP, PNG, GIF, or JPEG (baseline SOF0 and,
    since round 13, progressive SOF2 — decode_jpeg dispatches on the
    SOF marker, so the dominant wild still-image formats are all
    covered; MP4 metadata AND MJPEG sample decode land via
    decode_mp4_meta/decode_mp4_samples below, so the one remaining
    honest gate is the H.264/HEVC bitstream). Unknown formats still
    raise — honest partial support, never a silent guess."""
    if content[:2] == b"BM":
        return decode_bmp(content)
    if content[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png(content)
    if content[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(content)
    if content[:2] == b"\xff\xd8":
        return decode_jpeg(content)
    raise NotImplementedError(
        f"no decoder for magic bytes {content[:4]!r} (BMP/PNG/GIF/JPEG supported)"
    )


def fake_decode_features(doc_id: int, content: bytes) -> tuple[int, int, int, int]:
    """Deterministic fake decode: features derived from the byte stream
    only, so the DuckDB oracle can mirror them from octet_length."""
    n = len(content)
    return n, n % 640, (n * 7) % 480, doc_id % 5 + 1


def decode_stub_features(
    df: DataFrame, id_col: str = "doc_id", binary_col: str = "content"
) -> DataFrame:
    """mapInPandas feature extraction over a binary column.

    Arrow-batched: each pandas batch holds `binary_col` as bytes
    objects; the UDF is embarrassingly parallel across partitions, so
    at 100 TB throughput scales with executors (repartition upstream to
    balance batch sizes for heavy codecs).
    """

    def rows(i: int, blob: bytes) -> list[dict]:
        n, w, h, f = fake_decode_features(i, blob)
        return [{"byte_len": n, "width": w, "height": h, "n_frames": f}]

    return _per_blob(df, id_col, binary_col, rows, DECODE_SCHEMA)


RESIZE_SCHEMA = "doc_id bigint, orig_len int, thumb_len int, thumb_head_hex string"


def resize_stub(
    df: DataFrame, id_col: str = "doc_id", binary_col: str = "content", stride: int = 4
) -> DataFrame:
    """'Resize' a binary column: deterministic fake downsample (every
    ``stride``-th byte — real path: PIL thumbnail). The UDF both
    produces the new binary AND reports its metadata; only metadata +
    a head-bytes hex leave the operator so the oracle can mirror it
    byte-for-byte from the source blob."""

    def rows(i: int, blob: bytes) -> list[dict]:
        thumb = blob[::stride]
        return [
            {"orig_len": len(blob), "thumb_len": len(thumb), "thumb_head_hex": thumb[:4].hex()}
        ]

    return _per_blob(df, id_col, binary_col, rows, RESIZE_SCHEMA)


FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame_offset int, frame_len int"


def frame_sample_stub(
    df: DataFrame, id_col: str = "doc_id", binary_col: str = "content"
) -> DataFrame:
    """Frame sampling over a binary (video-like) column: one output row
    per sampled frame — the variable-rows-per-input ``mapInPandas``
    shape a real codec UDF needs (a batch of N inputs yields ΣnFrames
    rows). Frame count/offsets are the deterministic fake (real path:
    av/ffmpeg seek table); the batch plumbing is real."""

    def rows(i: int, blob: bytes) -> list[dict]:
        n_frames = i % 5 + 1
        flen = len(blob) // n_frames
        return [
            {"frame_idx": k, "frame_offset": k * flen, "frame_len": flen}
            for k in range(n_frames)
        ]

    return _per_blob(df, id_col, binary_col, rows, FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# BMP: one REAL codec (pure Python, no deps)
# ---------------------------------------------------------------------------

import struct

BMP_SCHEMA = (
    "doc_id bigint, byte_len int, width int, height int, bpp int, "
    "channels int, mean_r double, mean_g double, mean_b double"
)


def encode_bmp(width: int, height: int, rgb: tuple[int, int, int]) -> bytes:
    """Minimal spec-compliant 24-bit uncompressed BMP (BITMAPINFOHEADER,
    bottom-up rows, rows padded to 4 bytes) filled with a solid color.
    Public format, written from the spec — no image library involved."""
    r, g, b = rgb
    row = bytes([b, g, r]) * width
    pad = (4 - (width * 3) % 4) % 4
    raster = (row + b"\x00" * pad) * height
    size = 14 + 40 + len(raster)
    file_header = struct.pack("<2sIHHI", b"BM", size, 0, 0, 54)
    info_header = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(raster), 2835, 2835, 0, 0
    )
    return file_header + info_header + raster


def decode_bmp(content: bytes) -> dict:
    """Real BMP decode: parse both headers, then walk the raster
    (bottom-up rows, per-row padding) to per-channel means. Supports
    the uncompressed 24-bit BITMAPINFOHEADER profile; anything else
    raises ValueError (honest partial support, not a silent guess)."""
    if len(content) < 54 or content[:2] != b"BM":
        raise ValueError("not a BMP stream")
    data_offset = struct.unpack_from("<I", content, 10)[0]
    header_size, width, height = struct.unpack_from("<Iii", content, 14)
    planes, bpp = struct.unpack_from("<HH", content, 26)
    compression = struct.unpack_from("<I", content, 30)[0]
    if header_size < 40 or planes != 1 or bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP profile (bpp={bpp}, compression={compression})")
    top_down = height < 0
    height = abs(height)
    if width <= 0 or height == 0:
        raise ValueError(f"degenerate BMP dimensions ({width}x{height})")
    row_stride = (width * 3 + 3) & ~3
    tot = [0, 0, 0]  # b, g, r accumulation
    for y in range(height):
        base = data_offset + y * row_stride
        row = content[base : base + width * 3]
        if len(row) < width * 3:
            raise ValueError("truncated raster")
        tot[0] += sum(row[0::3])
        tot[1] += sum(row[1::3])
        tot[2] += sum(row[2::3])
    n_px = width * height
    return {
        "byte_len": len(content),
        "width": width,
        "height": height,
        "bpp": bpp,
        "channels": 3,
        "mean_r": tot[2] / n_px,
        "mean_g": tot[1] / n_px,
        "mean_b": tot[0] / n_px,
        "top_down": top_down,
    }


def decode_bmp_features(
    df: DataFrame, id_col: str = "doc_id", binary_col: str = "content"
) -> DataFrame:
    """mapInPandas over a binary column with the REAL BMP decoder: the
    bytes are actually parsed (headers, padding, raster walk)."""
    return _per_blob(df, id_col, binary_col, lambda i, b: [decode_bmp(b)], BMP_SCHEMA)


def _solid_rgb(i: int) -> tuple[int, int, int]:
    """The id-derived fill color of the solid BMP/PNG/GIF fixtures."""
    return (i * 3) % 256, (i * 5) % 256, (i * 7) % 256


def synthetic_bmp_frame(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Real encoded bytes for the BMP path: render one solid-color BMP
    per input row, dimensions/color derived from the id (widths 1..21
    exercise every row-padding case). The test fixtures are read-only,
    so the encoded fixture rides in-flight — the bytes are REAL BMP
    streams produced by :func:`encode_bmp`, and the paired oracle
    predicts header/raster values from the same id arithmetic."""
    return _per_id(df, id_col, lambda i: encode_bmp(i % 21 + 1, i % 13 + 1, _solid_rgb(i)))


# ---------------------------------------------------------------------------
# PNG: second REAL codec — a COMPRESSED wire format (stdlib zlib only)
# ---------------------------------------------------------------------------

import zlib

_PNG_SIG = b"\x89PNG\r\n\x1a\n"

PNG_SCHEMA = (
    "doc_id bigint, width int, height int, bit_depth int, color_type int, "
    "channels int, mean_r double, mean_g double, mean_b double"
)


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def encode_png(width: int, height: int, rgb: tuple[int, int, int]) -> bytes:
    """Minimal spec-compliant truecolor 8-bit PNG (color type 2, no
    interlace) filled with a solid color. Public format (RFC 2083),
    written from the spec with stdlib zlib — no image library.

    Scanline filters deliberately CYCLE None/Sub/Up across rows (all
    trivially computable for a solid color) so a decoder cannot pass
    by treating every row as unfiltered."""
    px = bytes(rgb)
    rows = []
    for y in range(height):
        ft = y % 3 if y > 0 else 0
        if ft == 0:  # None: raw scanline
            rows.append(b"\x00" + px * width)
        elif ft == 1:  # Sub: first pixel raw, deltas-to-left zero
            rows.append(b"\x01" + px + b"\x00" * ((width - 1) * 3))
        else:  # Up: identical previous row => all-zero deltas
            rows.append(b"\x02" + b"\x00" * (width * 3))
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"".join(rows)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(content: bytes) -> dict:
    """Real PNG decode: chunk walk with CRC verification, IDAT inflate
    (stdlib zlib), and full scanline unfiltering — all five spec filter
    types (None/Sub/Up/Average/Paeth) — to per-channel means. Supports
    the truecolor 8-bit non-interlaced profile (color type 2); anything
    else raises ValueError (honest partial support, not a silent
    guess)."""
    if content[:8] != _PNG_SIG:
        raise ValueError("not a PNG stream")
    pos, ihdr, idat, ended = 8, None, [], False
    while pos + 12 <= len(content):
        ln, typ = struct.unpack_from(">I4s", content, pos)
        data = content[pos + 8 : pos + 8 + ln]
        if len(data) < ln:
            raise ValueError("truncated chunk")
        crc = struct.unpack_from(">I", content, pos + 8 + ln)[0]
        if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {typ.decode('latin1')} chunk")
        if ihdr is None and typ != b"IHDR":
            # spec: IHDR must be the first chunk after the signature
            raise ValueError(f"first chunk is {typ.decode('latin1')}, not IHDR")
        if typ == b"IHDR":
            ihdr = data
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            ended = True
            pos += 12 + ln
            break
        pos += 12 + ln
    if not ended:
        raise ValueError("missing IEND chunk")
    if pos != len(content):
        # spec: IEND terminates the stream — trailing bytes (whether a
        # partial chunk header or whole extra chunks) are corruption
        raise ValueError(f"{len(content) - pos} trailing bytes after IEND")
    if ihdr is None or len(ihdr) != 13:
        raise ValueError("missing IHDR")
    w, h, depth, ctype, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if depth != 8 or ctype != 2 or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError(
            f"unsupported PNG profile (depth={depth}, color_type={ctype}, "
            f"interlace={interlace})"
        )
    if w == 0 or h == 0:
        raise ValueError(f"degenerate PNG dimensions ({w}x{h})")
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as e:
        # keep the documented contract: malformed streams raise
        # ValueError, never a bare zlib.error (missing IDAT chunks
        # decompress b"" and land here too)
        raise ValueError(f"bad IDAT deflate stream: {e}") from e
    bpp, stride = 3, w * 3
    if len(raw) != h * (stride + 1):
        raise ValueError("raster size mismatch")
    prev = bytearray(stride)
    tot = [0, 0, 0]
    for y in range(h):
        ft = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        if ft == 0:
            pass
        elif ft == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pr) & 0xFF
        else:
            raise ValueError(f"bad filter type {ft}")
        tot[0] += sum(line[0::3])
        tot[1] += sum(line[1::3])
        tot[2] += sum(line[2::3])
        prev = line
    n_px = w * h
    return {
        "byte_len": len(content),
        "width": w,
        "height": h,
        "bit_depth": depth,
        "color_type": ctype,
        "channels": 3,
        "mean_r": tot[0] / n_px,
        "mean_g": tot[1] / n_px,
        "mean_b": tot[2] / n_px,
    }


def decode_png_features(
    df: DataFrame, id_col: str = "doc_id", binary_col: str = "content"
) -> DataFrame:
    """mapInPandas over a binary column with the REAL PNG decoder: the
    stream is an actually-compressed wire format (inflate + unfilter)."""
    return _per_blob(df, id_col, binary_col, lambda i, b: [decode_png(b)], PNG_SCHEMA)


def synthetic_png_frame(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Real encoded bytes for the PNG path: one solid-color PNG per
    input row, dimensions/color from the id (same arithmetic as the BMP
    twin so the oracle predicts header/raster values; heights ≥3
    exercise the None/Sub/Up filter cycle)."""
    return _per_id(df, id_col, lambda i: encode_png(i % 21 + 1, i % 13 + 1, _solid_rgb(i)))


# ---------------------------------------------------------------------------
# GIF: third REAL codec — dictionary compression (LZW) written from the
# GIF87a/89a spec, no image/compression library (LZW is not in stdlib)
# ---------------------------------------------------------------------------

GIF_SCHEMA = (
    "doc_id bigint, width int, height int, n_colors int, "
    "mean_r double, mean_g double, mean_b double"
)

_GIF_MAX_WIDTH = 12  # spec: LZW codes never exceed 12 bits


def _lzw_encode(data: bytes, mcs: int) -> bytes:
    """GIF-flavor LZW: variable code width starting at mcs+1, clear/EOI
    codes, width grows when the next free code would not fit, dictionary
    reset at 4096. Bits packed LSB-first."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    acc, nbits = 0, 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    def reset_table():
        return {bytes([i]): i for i in range(1 << mcs)}, eoi + 1, mcs + 1

    table, next_code, width = reset_table()
    emit(clear, width)
    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        emit(table[w], width)
        if next_code < (1 << _GIF_MAX_WIDTH):
            table[wc] = next_code
            next_code += 1
            # the just-assigned code becomes referencable: widen when
            # it no longer fits the current width. The decoder adds
            # entries one code LATER (it needs the next code to infer
            # each entry), so its width bump fires at next_code ==
            # 2^width — the same stream position.
            if next_code - 1 == 1 << width and width < _GIF_MAX_WIDTH:
                width += 1
        else:
            # table full: clear and restart (codes stay ≤ 12 bits)
            emit(clear, width)
            table, next_code, width = reset_table()
        w = bytes([b])
    if w:
        emit(table[w], width)
        # the decoder performs one more table add after consuming this
        # code (it adds per code READ, not per encoder assignment) —
        # mirror its width bump so the EOI is written at the width the
        # decoder will read it with (validated against the stdlib
        # distribution's real GIF icons in tests)
        if next_code < (1 << _GIF_MAX_WIDTH):
            next_code += 1
            if next_code - 1 == 1 << width and width < _GIF_MAX_WIDTH:
                width += 1
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, mcs: int) -> bytes:
    """Inverse of ``_lzw_encode`` (and of every spec encoder): classic
    LZW with the KwKwK special case, GIF width-growth timing, clear-code
    resets, hard stop at EOI."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    pos = 0  # bit cursor
    total_bits = len(data) * 8

    def read(width: int) -> int | None:
        nonlocal pos
        if pos + width > total_bits:
            return None
        v = 0
        for k in range(width):
            byte = data[(pos + k) >> 3]
            v |= ((byte >> ((pos + k) & 7)) & 1) << k
        pos += width
        return v

    def reset_table():
        return {i: bytes([i]) for i in range(1 << mcs)}, eoi + 1, mcs + 1

    table, next_code, width = reset_table()
    out = bytearray()
    prev: bytes | None = None
    while True:
        code = read(width)
        if code is None:
            raise ValueError("LZW stream ended without EOI")
        if code == clear:
            table, next_code, width = reset_table()
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if code in table:
            entry = table[code]
        elif code == next_code and prev is not None:
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError(f"bad LZW code {code}")
        out.extend(entry)
        if prev is not None and next_code < (1 << _GIF_MAX_WIDTH):
            table[next_code] = prev + entry[:1]
            next_code += 1
            if next_code == 1 << width and width < _GIF_MAX_WIDTH:
                width += 1
        prev = entry


def encode_gif(width: int, height: int, rgb: tuple[int, int, int]) -> bytes:
    """Minimal spec-compliant GIF87a: 2-entry global color table
    (the target color + black), single non-interlaced image, REAL LZW
    data stream (runs of index 0 grow the dictionary, so a decoder
    cannot pass by reading literals)."""
    r, g, b = rgb
    lsd = struct.pack("<HHBBB", width, height, 0x80, 0, 0)  # GCT, 2 colors
    gct = bytes((r, g, b, 0, 0, 0))
    img = b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
    mcs = 2  # spec minimum
    lzw = _lzw_encode(b"\x00" * (width * height), mcs)
    blocks = bytearray([mcs])
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks.extend(chunk)
    blocks.append(0)  # block terminator
    return b"GIF87a" + lsd + gct + img + bytes(blocks) + b"\x3b"


def decode_gif(content: bytes) -> dict:
    """Real GIF decode: header + logical screen descriptor, global
    color table, extension-block skipping (GIF89a), image descriptor,
    LZW decompression of the index stream, palette mapping to
    per-channel means. Single-image, non-interlaced profile; anything
    else raises ValueError (honest partial support)."""
    if content[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF stream")
    if len(content) < 13:
        raise ValueError("truncated logical screen descriptor")
    sw, sh, packed, _bg, _ar = struct.unpack_from("<HHBBB", content, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = content[pos : pos + 3 * n]
        if len(gct) < 3 * n:
            raise ValueError("truncated global color table")
        pos += 3 * n
    img, saw_trailer = None, False
    while pos < len(content):
        b0 = content[pos]
        if b0 == 0x3B:  # trailer
            saw_trailer = True
            pos += 1
            break
        if b0 == 0x21:  # extension: label + sub-blocks
            pos += 2
            while pos < len(content) and content[pos] != 0:
                pos += 1 + content[pos]
            pos += 1
            continue
        if b0 != 0x2C:
            raise ValueError(f"unexpected block 0x{b0:02x}")
        if img is not None:
            raise ValueError("multi-image GIFs unsupported")
        left, top, w, h, ipacked = struct.unpack_from("<HHHHB", content, pos + 1)
        pos += 10
        if ipacked & 0x40:
            raise ValueError("interlaced GIFs unsupported")
        ct = gct
        if ipacked & 0x80:  # local color table wins
            n = 2 << (ipacked & 0x07)
            ct = content[pos : pos + 3 * n]
            if len(ct) < 3 * n:
                # mirror the GCT rule: a stream cut inside the LCT must
                # not silently shrink the palette (a short ct would also
                # drop any partial trailing triple before the
                # palette-index bound check below)
                raise ValueError("truncated local color table")
            pos += 3 * n
        if ct is None:
            raise ValueError("no color table")
        mcs = content[pos]
        pos += 1
        lzw = bytearray()
        while pos < len(content) and content[pos] != 0:
            ln = content[pos]
            lzw.extend(content[pos + 1 : pos + 1 + ln])
            pos += 1 + ln
        pos += 1  # sub-block terminator
        if w == 0 or h == 0:
            raise ValueError(f"degenerate GIF dimensions ({w}x{h})")
        idx = _lzw_decode(bytes(lzw), mcs)
        if len(idx) != w * h:
            raise ValueError(
                f"index stream length {len(idx)} != {w}x{h} raster"
            )
        n_colors = len(ct) // 3
        tot = [0, 0, 0]
        for i in idx:
            if i >= n_colors:
                raise ValueError(f"palette index {i} out of range")
            tot[0] += ct[3 * i]
            tot[1] += ct[3 * i + 1]
            tot[2] += ct[3 * i + 2]
        img = {
            "width": w,
            "height": h,
            "n_colors": n_colors,
            "mean_r": tot[0] / (w * h),
            "mean_g": tot[1] / (w * h),
            "mean_b": tot[2] / (w * h),
        }
    if img is None:
        raise ValueError("no image block before trailer")
    if not saw_trailer:
        # symmetric with decode_png's missing-IEND rule: a stream cut
        # off at its trailer byte is truncation, not success
        raise ValueError("missing GIF trailer (0x3B)")
    if pos != len(content):
        raise ValueError(f"{len(content) - pos} trailing bytes after trailer")
    return img


def decode_gif_features(
    df: DataFrame, id_col: str = "doc_id", binary_col: str = "content"
) -> DataFrame:
    """mapInPandas over a binary column with the REAL GIF decoder: the
    wire format here is dictionary-compressed (LZW), completing the trio
    of raster / deflate / dictionary codecs."""
    return _per_blob(df, id_col, binary_col, lambda i, b: [decode_gif(b)], GIF_SCHEMA)


def synthetic_gif_frame(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Real encoded bytes for the GIF path: one solid-color GIF per
    input row, id-derived dimensions/color (same arithmetic as the
    BMP/PNG twins so the oracle predicts every output)."""
    return _per_id(df, id_col, lambda i: encode_gif(i % 21 + 1, i % 13 + 1, _solid_rgb(i)))


# ---------------------------------------------------------------------------
# WAV: REAL audio codec (RIFF/PCM, pure stdlib+numpy) — completes the
# audio modality with actual sample parsing, not a stub
# ---------------------------------------------------------------------------

import numpy as np

WAV_SCHEMA = (
    "doc_id bigint, byte_len int, sample_rate int, channels int, bits int, "
    "n_frames int, duration_ms double, rms double, peak int, mean double"
)


def encode_wav(
    sample_rate: int, channels: int, n_frames: int, amplitude: int
) -> bytes:
    """Minimal spec-compliant RIFF/WAVE, 16-bit PCM: a ±amplitude square
    wave (frame k = +a if k even else −a, all channels identical). A
    LIST/INFO chunk rides between fmt and data so decoders must walk
    chunks for real instead of assuming the canonical 44-byte layout.
    Public format, written from the RIFF spec — no audio library."""
    frames = np.empty(n_frames, dtype="<i2")
    frames[0::2] = amplitude
    frames[1::2] = -amplitude
    data = np.repeat(frames, channels).tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, sample_rate * channels * 2, channels * 2, 16
    )
    chunks = (
        b"fmt " + struct.pack("<I", 16) + fmt
        + b"LIST" + struct.pack("<I", 12) + b"INFOpantasia"
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def _wav_walk(content: bytes) -> tuple[dict, bytes]:
    """RIFF chunk walk: header check, word-aligned traversal, unknown
    chunks skipped, PCM-16 profile validation. Returns (fmt meta, raw
    data-chunk bytes)."""
    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    riff_size = struct.unpack_from("<I", content, 4)[0]
    end = min(len(content), 8 + riff_size)
    off = 12
    fmt = None
    data = None
    while off + 8 <= end:
        cid = content[off : off + 4]
        size = struct.unpack_from("<I", content, off + 4)[0]
        body = content[off + 8 : off + 8 + size]
        if len(body) < size:
            raise ValueError(f"truncated {cid!r} chunk")
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        off += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt, channels, sample_rate, _byte_rate, block_align, bits = struct.unpack_from(
        "<HHIIHH", fmt, 0
    )
    if audio_fmt != 1 or bits != 16:
        raise ValueError(f"unsupported WAV profile (fmt={audio_fmt}, bits={bits})")
    if block_align != channels * 2:
        raise ValueError("block_align inconsistent with channels/bits")
    return (
        {"sample_rate": sample_rate, "channels": channels, "bits": bits},
        data,
    )


def wav_meta_and_samples(content: bytes) -> tuple[dict, "np.ndarray"]:
    """Chunk-walk a RIFF/WAVE stream and return (format meta, float64
    interleaved samples). Shared by decode_wav and the spectral path so
    the data chunk is always located by the walk, never by position."""
    meta, data = _wav_walk(content)
    samples = np.frombuffer(data, dtype="<i2").astype(np.float64)
    return meta, samples


def decode_wav(content: bytes) -> dict:
    """Real WAV decode: RIFF header check, generic chunk walk (odd-size
    pad rule honored, unknown chunks skipped), PCM-16 validation, then a
    vectorized sample pass (numpy int16 view) for n_frames / duration /
    RMS / peak / mean. Non-PCM or non-16-bit streams raise ValueError —
    honest partial support, same policy as the image codecs."""
    meta, samples = wav_meta_and_samples(content)
    sample_rate, channels = meta["sample_rate"], meta["channels"]
    n_frames = len(samples) // channels
    return {
        "byte_len": len(content),
        "sample_rate": sample_rate,
        "channels": channels,
        "bits": meta["bits"],
        "n_frames": n_frames,
        "duration_ms": n_frames * 1000.0 / sample_rate,
        "rms": float(np.sqrt(np.mean(samples**2))) if len(samples) else 0.0,
        "peak": int(np.max(np.abs(samples))) if len(samples) else 0,
        "mean": float(np.mean(samples)) if len(samples) else 0.0,
    }


def decode_wav_features(
    df: DataFrame, id_col: str = "doc_id", binary_col: str = "content"
) -> DataFrame:
    """mapInPandas over a binary column with the REAL WAV decoder; the
    sample pass is numpy-vectorized per blob."""
    return _per_blob(df, id_col, binary_col, lambda i, b: [decode_wav(b)], WAV_SCHEMA)


def synthetic_wav_frame(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Real encoded bytes for the WAV path: one square-wave PCM clip per
    input row — rate/channels/frames/amplitude all id-derived so the
    paired oracle predicts every decoded feature arithmetically
    (square wave ⇒ rms = amplitude exactly, mean = 0 for the even
    frame count)."""
    rates = (8000, 16000, 44100)
    return _per_id(
        df,
        id_col,
        lambda i: encode_wav(
            rates[i % 3], i % 2 + 1, (i % 250 + 50) * 2, (i * 97) % 30000 + 1
        ),
    )


def encode_wav_gapped(
    sample_rate: int,
    n_segments: int,
    seg_frames: int,
    gap_frames: int,
    amplitude: int,
) -> bytes:
    """Mono PCM-16 WAV of ``n_segments`` ±amplitude square-wave bursts
    separated by exact-zero silence gaps (voiced, gap, voiced, …,
    voiced) — the fixture shape for voice-activity segmentation. Same
    RIFF layout rules as encode_wav (LIST chunk forcing a real walk)."""
    total = n_segments * seg_frames + (n_segments - 1) * gap_frames
    frames = np.zeros(total, dtype="<i2")
    for k in range(n_segments):
        s = k * (seg_frames + gap_frames)
        burst = np.empty(seg_frames, dtype="<i2")
        burst[0::2] = amplitude
        burst[1::2] = -amplitude
        frames[s : s + seg_frames] = burst
    data = frames.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    chunks = (
        b"fmt " + struct.pack("<I", 16) + fmt
        + b"LIST" + struct.pack("<I", 12) + b"INFOpantasia"
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def audio_segments(
    content: bytes, window: int = 64, threshold: float = 0.5
) -> dict:
    """Energy-based voice-activity segmentation over a REAL WAV decode:
    chunk-walk the stream, window the mono sample track into
    ``window``-frame blocks, mark a block voiced when its peak |sample|
    exceeds ``threshold``, and merge consecutive voiced blocks into
    segments. Returns per-clip counts at window granularity (the
    resolution every practical VAD reports):
    n_segments / voiced_frames / silence_frames / seg_start_sum (the
    boundary checksum: Σ segment start frames) / voiced_ratio."""
    meta, samples = wav_meta_and_samples(content)
    ch = meta["channels"]
    if ch > 1:  # mixdown: mean over channels, frame-major interleave
        samples = samples.reshape(-1, ch).mean(axis=1)
    n = len(samples)
    n_blocks = (n + window - 1) // window
    padded = np.zeros(n_blocks * window)
    padded[:n] = samples
    voiced = np.abs(padded).reshape(n_blocks, window).max(axis=1) > threshold
    # segment starts = voiced blocks whose predecessor is silent
    prev = np.concatenate(([False], voiced[:-1]))
    starts = np.flatnonzero(voiced & ~prev)
    voiced_frames = int(voiced.sum()) * window
    return {
        "n_segments": int(len(starts)),
        "voiced_frames": min(voiced_frames, n),
        "silence_frames": n - min(voiced_frames, n),
        "seg_start_sum": int((starts * window).sum()),
        "voiced_ratio": float(min(voiced_frames, n)) / n if n else 0.0,
    }


AUDIO_SEG_SCHEMA = (
    "doc_id bigint, n_segments int, voiced_frames int, silence_frames int, "
    "seg_start_sum bigint, voiced_ratio double"
)


def audio_segments_features(
    df: DataFrame,
    id_col: str = "doc_id",
    binary_col: str = "content",
    window: int = 64,
    threshold: float = 0.5,
) -> DataFrame:
    """mapInPandas VAD over a binary WAV column; numpy-vectorized per
    blob."""
    return _per_blob(
        df,
        id_col,
        binary_col,
        lambda i, b: [audio_segments(b, window, threshold)],
        AUDIO_SEG_SCHEMA,
    )


def synthetic_gapped_wav_frame(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Real encoded gapped-WAV bytes, one clip per row — segment count /
    lengths / amplitude all id-derived AND multiples of the VAD window
    (64), so the paired oracle predicts every output arithmetically:
    s = i%4+2 segments of (i%3+1)·64 frames with (i%2+1)·64-frame gaps
    at amplitude (i·131)%20000+500."""
    return _per_id(
        df,
        id_col,
        lambda i: encode_wav_gapped(
            16000, i % 4 + 2, (i % 3 + 1) * 64, (i % 2 + 1) * 64, (i * 131) % 20000 + 500
        ),
    )


# ---------------------------------------------------------------------------
# Image perceptual hash (dHash): image near-dup dedup over REAL decoded
# pixels — the image-modality twin of dedup_simhash
# ---------------------------------------------------------------------------

DHASH_SCHEMA = "doc_id bigint, width int, height int, dhash_hi bigint, dhash_lo bigint"


def encode_bmp_gray(grid: list[list[int]]) -> bytes:
    """Spec-compliant 24-bit BMP from a top-down grayscale grid
    (r=g=b=gray). Same layout rules as encode_bmp — bottom-up rows,
    4-byte row padding — but per-pixel values."""
    height = len(grid)
    width = len(grid[0])
    pad = (4 - (width * 3) % 4) % 4
    raster = b"".join(
        bytes(v for g in row for v in (g, g, g)) + b"\x00" * pad
        for row in reversed(grid)  # bottom-up storage
    )
    size = 14 + 40 + len(raster)
    file_header = struct.pack("<2sIHHI", b"BM", size, 0, 0, 54)
    info_header = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(raster), 2835, 2835, 0, 0
    )
    return file_header + info_header + raster


def decode_bmp_gray_grid(content: bytes) -> list[list[float]]:
    """Real BMP decode to a TOP-DOWN grayscale grid (channel mean per
    pixel). Shares the profile checks of decode_bmp; used by the
    perceptual-hash path which needs pixels, not just means."""
    if len(content) < 54 or content[:2] != b"BM":
        raise ValueError("not a BMP stream")
    data_offset = struct.unpack_from("<I", content, 10)[0]
    header_size, width, height = struct.unpack_from("<Iii", content, 14)
    planes, bpp = struct.unpack_from("<HH", content, 26)
    compression = struct.unpack_from("<I", content, 30)[0]
    if header_size < 40 or planes != 1 or bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP profile (bpp={bpp}, compression={compression})")
    top_down = height < 0
    height = abs(height)
    row_stride = (width * 3 + 3) & ~3
    rows: list[list[float]] = []
    for y in range(height):
        base = data_offset + y * row_stride
        row = content[base : base + width * 3]
        if len(row) < width * 3:
            raise ValueError("truncated raster")
        rows.append([(row[i] + row[i + 1] + row[i + 2]) / 3.0 for i in range(0, width * 3, 3)])
    if not top_down:
        rows.reverse()  # stored bottom-up -> return top-down
    return rows


def image_dhash(content: bytes, grid_w: int = 8, grid_h: int = 8) -> tuple[int, int, int, int]:
    """Difference hash over a real decoded image: grayscale -> box-
    average downsample to (grid_w+1) x grid_h -> bit per horizontal
    neighbor comparison. Returns (width, height, hash_hi, hash_lo) with
    the 64-bit hash split into two uint32 halves so both engines (and
    parquet) carry it in signed BIGINTs without sign games."""
    grid = decode_bmp_gray_grid(content)
    h, w = len(grid), len(grid[0])
    gw = grid_w + 1
    cells = [
        [
            _box_mean(grid, x0=gx * w // gw, x1=(gx + 1) * w // gw,
                      y0=gy * h // grid_h, y1=(gy + 1) * h // grid_h)
            for gx in range(gw)
        ]
        for gy in range(grid_h)
    ]
    bits = 0
    for gy in range(grid_h):
        for gx in range(grid_w):
            if cells[gy][gx + 1] > cells[gy][gx]:
                bits |= 1 << (gy * grid_w + gx)
    return w, h, bits >> 32, bits & 0xFFFFFFFF


def _box_mean(grid: list[list[float]], x0: int, x1: int, y0: int, y1: int) -> float:
    x1 = max(x1, x0 + 1)
    y1 = max(y1, y0 + 1)
    tot = 0.0
    for y in range(y0, y1):
        row = grid[y]
        for x in range(x0, x1):
            tot += row[x]
    return tot / ((x1 - x0) * (y1 - y0))


def image_dhash_features(
    df: DataFrame, id_col: str = "doc_id", binary_col: str = "content"
) -> DataFrame:
    """mapInPandas computing the perceptual hash from real decoded
    pixels."""

    def rows(i: int, blob: bytes) -> list[dict]:
        w, h, hi, lo = image_dhash(blob)
        return [{"width": w, "height": h, "dhash_hi": hi, "dhash_lo": lo}]

    return _per_blob(df, id_col, binary_col, rows, DHASH_SCHEMA)


def image_phash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    binary_col: str = "content",
    max_hamming: int = 3,
) -> DataFrame:
    """Image near-dup pairs by perceptual hash: 4 x 16-bit pigeonhole
    bands over the 64-bit dHash -> banded equi-self-join -> exact
    hamming verify. Identical scale shape to dedup_simhash: with
    hamming <= 3 and 4 bands at least one band matches, so the banded
    candidates EQUAL the cross-join result at equi-join cost — never
    all-pairs. At 100 TB the band join shuffles on (band_idx, band_val)
    and AQE handles hot buckets."""
    # Freeze the slim hash frame ONCE: the banded self-join consumes it
    # from both sides, and an unfrozen plan re-runs the full BMP decode
    # + perceptual-hash kernel per branch (the cosine_near_dup_pairs
    # signature-freeze rationale, review-confirmed here too).
    h = freeze(image_dhash_features(df, id_col, binary_col).select(
        "doc_id", "dhash_hi", "dhash_lo"
    ), eager=False)
    mask = F.lit(0xFFFF)
    bands = h.select(
        "doc_id", "dhash_hi", "dhash_lo",
        F.posexplode(
            F.array(
                F.col("dhash_lo").bitwiseAND(mask),
                F.shiftright("dhash_lo", 16).bitwiseAND(mask),
                F.col("dhash_hi").bitwiseAND(mask),
                F.shiftright("dhash_hi", 16).bitwiseAND(mask),
            )
        ).alias("band_idx", "band_val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            (
                F.bit_count(F.col("a.dhash_hi").bitwiseXOR(F.col("b.dhash_hi")))
                + F.bit_count(F.col("a.dhash_lo").bitwiseXOR(F.col("b.dhash_lo")))
            ).cast("int").alias("hamming"),
        )
        .distinct()
    )
    return cand.where(F.col("hamming") <= max_hamming)


def synthetic_patterned_bmp(
    df: DataFrame, id_col: str = "doc_id", period: int = 100
) -> DataFrame:
    """Real encoded bytes for the perceptual-hash path: 9x8 BMPs whose
    per-pixel pattern repeats every ``period`` ids with a tiny +1
    brightness drift per repeat — so id and id+period decode to
    near-identical hashes (hamming 0 except rare mod-256 wraps),
    planting genuine image near-dups. Every pixel is id-arithmetic, so
    the paired oracle recomputes the exact hash in SQL. Scale runs grow
    ``period`` with the corpus so near-dup GROUP SIZE stays fixed and
    the true answer grows linearly."""

    def encode(i: int) -> bytes:
        return encode_bmp_gray(
            [
                [((i % period + 1) * (x + 3) * (y + 7) * 13 + i // period) % 256
                 for x in range(9)]
                for y in range(8)
            ]
        )

    return _per_id(df, id_col, encode)


AUDIO_SPECTRUM_SCHEMA = (
    "doc_id bigint, n_frames int, dominant_bin int, dominant_freq_hz double, "
    "peak_mag double, dc_mag double"
)


def audio_spectrum_features(
    df: DataFrame, id_col: str = "doc_id", binary_col: str = "content"
) -> DataFrame:
    """Spectral features from REAL decoded audio: WAV decode -> channel
    0 -> numpy rfft -> dominant frequency bin, its physical Hz, peak
    and DC magnitudes. This is the honest Python case (no JVM FFT) done
    the right way: Arrow batches in, one vectorized rfft per clip,
    embarrassingly parallel across partitions. The fixture square wave
    concentrates all energy at Nyquist (X[N/2] = amplitude * N, every
    other bin 0), so the paired oracle predicts the whole spectrum
    arithmetically while the operator path runs an actual FFT."""

    def rows(i: int, blob: bytes) -> list[dict]:
        meta, samples = wav_meta_and_samples(blob)
        ch0 = samples[:: meta["channels"]]
        spec = np.abs(np.fft.rfft(ch0))
        k = int(np.argmax(spec))
        return [
            {
                "n_frames": len(ch0),
                "dominant_bin": k,
                "dominant_freq_hz": k * meta["sample_rate"] / len(ch0),
                "peak_mag": float(spec[k]),
                "dc_mag": float(spec[0]),
            }
        ]

    return _per_blob(df, id_col, binary_col, rows, AUDIO_SPECTRUM_SCHEMA)


RESIZE_BMP_SCHEMA = (
    "doc_id bigint, src_w int, src_h int, out_w int, out_h int, "
    "out_byte_len int, out_mean double"
)


def resize_bmp_real(
    df: DataFrame,
    id_col: str = "doc_id",
    binary_col: str = "content",
    factor: int = 2,
) -> DataFrame:
    """REAL image resize for the BMP path: decode the raster, box-average
    downsample by ``factor`` (ceil division on dimensions), re-encode a
    spec-compliant BMP, and report the output's dimensions, byte length
    and gray mean — the thumbnail operation resize_stub fakes, done on
    actual pixels. Arrow-batched mapInPandas; embarrassingly parallel."""

    def rows(i: int, blob: bytes) -> list[dict]:
        grid = decode_bmp_gray_grid(blob)
        h, w = len(grid), len(grid[0])
        ow, oh = (w + factor - 1) // factor, (h + factor - 1) // factor
        small = [
            [
                _box_mean(
                    grid,
                    x0=gx * factor, x1=min((gx + 1) * factor, w),
                    y0=gy * factor, y1=min((gy + 1) * factor, h),
                )
                for gx in range(ow)
            ]
            for gy in range(oh)
        ]
        out = encode_bmp_gray([[int(round(v)) for v in row] for row in small])
        d = decode_bmp(out)
        return [
            {
                "src_w": w, "src_h": h, "out_w": ow, "out_h": oh,
                "out_byte_len": len(out),
                "out_mean": (d["mean_r"] + d["mean_g"] + d["mean_b"]) / 3.0,
            }
        ]

    return _per_blob(df, id_col, binary_col, rows, RESIZE_BMP_SCHEMA)


# ---------------------------------------------------------------------------
# Animated GIF: the video modality done REAL — multi-frame container
# walk, per-frame LZW decode, timing metadata (no stub)
# ---------------------------------------------------------------------------

VIDEO_FRAMES_SCHEMA = (
    "doc_id bigint, frame_idx int, delay_cs int, width int, height int, "
    "mean_r double, mean_g double, mean_b double"
)


def encode_gif_animated(
    width: int,
    height: int,
    palette: list[tuple[int, int, int]],
    frame_indices: list[int],
    delay_cs: int,
) -> bytes:
    """Spec-compliant animated GIF89a: one global color table, then per
    frame a Graphic Control Extension (real delay timing) followed by
    an image descriptor with a REAL LZW-compressed solid raster of the
    frame's palette index. Public format, written from the GIF89a
    spec."""
    n_pal = len(palette)
    size_field = max(1, (n_pal - 1).bit_length() - 1)  # 2 << f >= n_pal
    while (2 << size_field) < n_pal:
        size_field += 1
    table_n = 2 << size_field
    lsd = struct.pack("<HHBBB", width, height, 0x80 | size_field, 0, 0)
    gct = bytearray()
    for r, g, b in palette:
        gct += bytes((r, g, b))
    gct += b"\x00" * (3 * (table_n - n_pal))
    out = bytearray(b"GIF89a" + lsd + gct)
    mcs = max(2, size_field + 1)
    for idx in frame_indices:
        # Graphic Control Extension: 4-byte block, centisecond delay
        out += b"\x21\xf9\x04\x00" + struct.pack("<H", delay_cs) + b"\x00\x00"
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
        lzw = _lzw_encode(bytes([idx]) * (width * height), mcs)
        out.append(mcs)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out.append(0x3B)
    return bytes(out)


def decode_gif_frames(content: bytes) -> list[dict]:
    """Real multi-frame GIF decode: container walk capturing each
    Graphic Control Extension's delay, per-frame LZW decompression and
    palette mapping to channel means. Returns one dict per frame in
    stream order — the honest video shape (N input bytes -> M frame
    rows) that frame_sample_stub only fakes."""
    if content[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF stream")
    sw, sh, packed, _bg, _ar = struct.unpack_from("<HHBBB", content, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = content[pos : pos + 3 * n]
        if len(gct) < 3 * n:
            raise ValueError("truncated global color table")
        pos += 3 * n
    frames: list[dict] = []
    pending_delay = 0
    saw_trailer = False
    while pos < len(content):
        b0 = content[pos]
        if b0 == 0x3B:
            saw_trailer = True
            pos += 1
            break
        if b0 == 0x21:  # extension
            if pos + 2 > len(content):
                raise ValueError("truncated extension introducer")
            label = content[pos + 1]
            pos += 2
            first = True
            while pos < len(content) and content[pos] != 0:
                ln = content[pos]
                if pos + 1 + ln > len(content):
                    raise ValueError("truncated extension sub-block")
                if label == 0xF9 and first:
                    if ln != 4:
                        raise ValueError("malformed graphic control extension")
                    pending_delay = struct.unpack_from("<H", content, pos + 2)[0]
                    first = False
                pos += 1 + ln
            pos += 1
            continue
        if b0 != 0x2C:
            raise ValueError(f"unexpected block 0x{b0:02x}")
        if pos + 10 > len(content):
            raise ValueError("truncated image descriptor")
        left, top, w, h, ipacked = struct.unpack_from("<HHHHB", content, pos + 1)
        pos += 10
        if ipacked & 0x40:
            raise ValueError("interlaced GIFs unsupported")
        ct = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            ct = content[pos : pos + 3 * n]
            if len(ct) < 3 * n:
                raise ValueError("truncated local color table")
            pos += 3 * n
        if ct is None:
            raise ValueError("no color table")
        if pos >= len(content):
            raise ValueError("truncated before LZW minimum code size")
        mcs = content[pos]
        pos += 1
        lzw = bytearray()
        while pos < len(content) and content[pos] != 0:
            ln = content[pos]
            lzw.extend(content[pos + 1 : pos + 1 + ln])
            pos += 1 + ln
        pos += 1
        idx = _lzw_decode(bytes(lzw), mcs)
        if len(idx) != w * h:
            raise ValueError(f"index stream length {len(idx)} != {w}x{h} raster")
        n_colors = len(ct) // 3
        tot = [0, 0, 0]
        for i in idx:
            if i >= n_colors:
                raise ValueError(f"palette index {i} out of range")
            tot[0] += ct[3 * i]
            tot[1] += ct[3 * i + 1]
            tot[2] += ct[3 * i + 2]
        frames.append(
            {
                "frame_idx": len(frames),
                "delay_cs": pending_delay,
                "width": w,
                "height": h,
                "mean_r": tot[0] / (w * h),
                "mean_g": tot[1] / (w * h),
                "mean_b": tot[2] / (w * h),
            }
        )
        pending_delay = 0
    if not frames:
        raise ValueError("no image blocks before trailer")
    if not saw_trailer:
        raise ValueError("missing GIF trailer (0x3B)")
    return frames


def video_frame_features(
    df: DataFrame, id_col: str = "doc_id", binary_col: str = "content"
) -> DataFrame:
    """mapInPandas over an animated-GIF binary column: one output row
    per decoded frame (variable rows per input — the true video-codec
    UDF shape), with real timing metadata and per-frame channel means."""
    return _per_blob(
        df, id_col, binary_col, lambda i, b: decode_gif_frames(b), VIDEO_FRAMES_SCHEMA
    )


def synthetic_animated_gif(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Real animated-GIF bytes per input row: id-derived frame count,
    4-color palette, per-frame solid color cycling through the palette,
    and a real centisecond delay — every decoded feature is oracle
    arithmetic while the bytes are genuine GIF89a."""

    def encode(i: int) -> bytes:
        palette = [
            ((i * 3 + j * 11) % 256, (i * 5 + j * 13) % 256, (i * 7 + j * 17) % 256)
            for j in range(4)
        ]
        n_frames = i % 4 + 2
        return encode_gif_animated(
            i % 11 + 2, i % 7 + 2, palette,
            [(i + f) % 4 for f in range(n_frames)],
            (i % 10 + 1) * 5,
        )

    return _per_id(df, id_col, encode)


# ---------------------------------------------------------------------------
# JPEG: sixth REAL codec — baseline DCT (ITU-T T.81), pure Python
# ---------------------------------------------------------------------------
# Closes the one remaining honest gate (`real_image_decode`): a
# from-scratch baseline-JPEG decoder — marker walk, DQT/DHT parse,
# canonical-Huffman entropy decode with byte unstuffing, DC prediction,
# dequantize, de-zigzag, naive IDCT, crop — plus the paired encoder the
# in-flight fixtures use. Supported profiles: SOF0 baseline and (round
# 13) SOF2 PROGRESSIVE — spectral selection + successive approximation
# per T.81 §G: DC first/refine scans (interleaved or not), per-component
# AC band scans with EOBn runs and refinement correction bits,
# accumulated into a coefficient store and reconstructed at EOI. Both at
# 8-bit precision, sampling factors 1..2 (4:4:4 / 4:2:2 / 4:4:0 / 4:2:0
# — the round-12 §A.2 MCU walk), no restart markers; anything else
# raises ValueError (honest partial support, the decode_bmp discipline).
#
# Exactness contract the registered query leans on: with all-ones quant
# tables a SOLID image is DC-only, DC = 8*(v-128) is an exact float,
# and the IDCT of a DC-only block is the exact constant back — so the
# oracle can predict the decoded mean bit-for-bit from id arithmetic,
# same as the BMP/PNG twins. Reference analogue: the image/files
# columns (app/db/postgres.py:144-145).

import math

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

#: IDCT basis: _COS[u][x] = C(u) * cos((2x+1) * u * pi / 16) with
#: C(0)=1/sqrt(2), C(u>0)=1 — shared by decode and the encoder's FDCT.
_COS = [
    [
        (1.0 / math.sqrt(2.0) if u == 0 else 1.0)
        * math.cos((2 * x + 1) * u * math.pi / 16.0)
        for x in range(8)
    ]
    for u in range(8)
]


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:  # byte stuffing
                    self.out.append(0x00)
                self.acc, self.n = 0, 0

    def flush(self) -> bytes:
        if self.n:
            self.acc = (self.acc << (8 - self.n)) | ((1 << (8 - self.n)) - 1)
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc, self.n = 0, 0
        return bytes(self.out)


# Canonical Huffman tables the ENCODER writes into DHT (the decoder is
# fully generic and rebuilds whatever DHT declares): DC categories
# 0..11 all at code length 4 (12 <= 15 codes, all-ones unused), every
# AC (run, size) run 0..15 x size 1..10 plus EOB and ZRL at length 8
# (162 <= 255, all-ones unused).
_DC_SYMS = list(range(12))
_AC_SYMS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]
_DC_CODES = {sym: (i, 4) for i, sym in enumerate(_DC_SYMS)}
_AC_CODES = {sym: (i, 8) for i, sym in enumerate(sorted(_AC_SYMS))}


def _dht_segment(table_class: int, table_id: int, syms: list, length: int) -> bytes:
    counts = [0] * 16
    counts[length - 1] = len(syms)
    body = bytes([(table_class << 4) | table_id]) + bytes(counts) + bytes(
        sorted(syms)
    )
    return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body


def _category(v: int) -> int:
    return v.bit_length() if v >= 0 else (-v).bit_length()


def encode_jpeg_gray(width: int, height: int, gray: int) -> bytes:
    """Render a SOLID-gray baseline JPEG (1 component, 1x1 sampling,
    all-ones quant table). Solid blocks are DC-only with DC =
    8*(gray-128) exactly, so the stream decodes back to ``gray``
    bit-for-bit — the closed-form fixture the oracle predicts."""
    if not (0 < width and 0 < height and 0 <= gray <= 255):
        raise ValueError("bad solid-JPEG parameters")
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)
    out += (
        b"\xff\xc0"
        + struct.pack(">H", 11)
        + b"\x08"
        + struct.pack(">HH", height, width)
        + b"\x01"
        + bytes([1, 0x11, 0])  # comp id 1, 1x1 sampling, qtable 0
    )
    out += _dht_segment(0, 0, _DC_SYMS, 4)
    out += _dht_segment(1, 0, sorted(_AC_SYMS), 8)
    out += b"\xff\xda" + struct.pack(">H", 8) + b"\x01" + bytes([1, 0x00, 0, 63, 0])
    w = _BitWriter()
    dc = round(8.0 * (gray - 128))
    blocks_x = (width + 7) // 8
    blocks_y = (height + 7) // 8
    pred = 0
    for _ in range(blocks_x * blocks_y):
        diff = dc - pred
        pred = dc
        t = _category(diff)
        code, ln = _DC_CODES[t]
        w.put(code, ln)
        if t:
            bits = diff if diff > 0 else diff + (1 << t) - 1
            w.put(bits & ((1 << t) - 1), t)
        code, ln = _AC_CODES[0x00]  # EOB — solid block has no AC
        w.put(code, ln)
    out += w.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _eobrun_segment(nblocks: int, eob_codes: dict) -> bytes:
    """Entropy bits for an all-zero AC band over ``nblocks`` blocks as
    EOBn runs (T.81 §G.1.2.2): chunks of up to 32767 blocks, each one
    EOBn symbol (run length category in the high nibble) plus that many
    extra bits — so every progressive fixture exercises the decoder's
    r>0 EOB-run path, not just single EOBs."""
    w = _BitWriter()
    n = nblocks
    while n > 0:
        chunk = min(n, 32767)
        rbits = chunk.bit_length() - 1
        code, ln = eob_codes[rbits << 4]
        w.put(code, ln)
        if rbits:
            w.put(chunk - (1 << rbits), rbits)
        n -= chunk
    return w.flush()


#: AC Huffman symbols for the progressive encoder's all-zero bands:
#: EOBn run-length symbols (r << 4) for r = 0..14, all at code length 8.
_EOB_SYMS = [r << 4 for r in range(15)]
_EOB_CODES = {sym: (i, 8) for i, sym in enumerate(sorted(_EOB_SYMS))}


def encode_jpeg_gray_progressive(width: int, height: int, gray: int) -> bytes:
    """Render a SOLID-gray PROGRESSIVE JPEG (SOF2, 1 component,
    all-ones quant table) with the canonical four-scan script:

    1. DC first        (Ss=0, Se=0, Ah=0, Al=1) — coarse DC, point
       transform 1 (arithmetic shift, T.81 §G.1.2.1);
    2. AC first 1..63  (Ah=0, Al=1) — all-zero band sent as EOBn runs;
    3. DC refinement   (Ah=1, Al=0) — one raw bit per block;
    4. AC refinement 1..63 (Ah=1, Al=0) — EOBn runs again.

    Solid blocks are DC-only with DC = 8*(gray-128) exactly, and
    (DC >> 1) << 1 | (DC & 1) == DC for any sign, so the four scans
    reassemble the exact coefficient — the decoded mean is the id-
    predictable bit-for-bit fixture, same contract as the baseline
    twin."""
    if not (0 < width and 0 < height and 0 <= gray <= 255):
        raise ValueError("bad solid-JPEG parameters")
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)
    out += (
        b"\xff\xc2"  # SOF2: progressive DCT
        + struct.pack(">H", 11)
        + b"\x08"
        + struct.pack(">HH", height, width)
        + b"\x01"
        + bytes([1, 0x11, 0])
    )
    out += _dht_segment(0, 0, _DC_SYMS, 4)
    out += _dht_segment(1, 0, sorted(_EOB_SYMS), 8)
    nblocks = ((width + 7) // 8) * ((height + 7) // 8)
    dc = round(8.0 * (gray - 128))

    def sos(ss: int, se: int, ah: int, al: int) -> bytes:
        return (
            b"\xff\xda"
            + struct.pack(">H", 8)
            + b"\x01"
            + bytes([1, 0x00, ss, se, (ah << 4) | al])
        )

    # scan 1: DC first at Al=1 — codes (dc >> 1) as ordinary DC diffs
    w = _BitWriter()
    hi = dc >> 1
    pred = 0
    for _ in range(nblocks):
        diff = hi - pred
        pred = hi
        t = _category(diff)
        code, ln = _DC_CODES[t]
        w.put(code, ln)
        if t:
            bits = diff if diff > 0 else diff + (1 << t) - 1
            w.put(bits & ((1 << t) - 1), t)
    out += sos(0, 0, 0, 1) + w.flush()
    # scan 2: AC first, band 1..63 — all zero, pure EOBn runs
    out += sos(1, 63, 0, 1) + _eobrun_segment(nblocks, _EOB_CODES)
    # scan 3: DC refinement — the low DC bit, one raw bit per block
    w = _BitWriter()
    for _ in range(nblocks):
        w.put(dc & 1, 1)
    out += sos(0, 0, 1, 0) + w.flush()
    # scan 4: AC refinement, band 1..63 — zero history, EOBn runs
    out += sos(1, 63, 1, 0) + _eobrun_segment(nblocks, _EOB_CODES)
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _BitReader:
    """Entropy-segment bit reader with 0xFF00 unstuffing; stops at any
    real marker (a 0xFF followed by non-zero)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                raise ValueError("truncated entropy segment")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data):
                    raise ValueError("truncated after 0xFF")
                nxt = self.data[self.pos]
                if nxt == 0x00:
                    self.pos += 1
                else:
                    raise ValueError("unexpected marker inside entropy data")
            self.acc, self.n = b, 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v


def _build_huffman(counts: list, syms: bytes) -> dict:
    """DHT counts+symbols -> {(length, code): symbol} canonical map."""
    table = {}
    code = 0
    i = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = syms[i]
            code += 1
            i += 1
        code <<= 1
    return table


def _huff_decode(r: _BitReader, table: dict) -> int:
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | r.bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _extend(v: int, t: int) -> int:
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def _idct_block(coef: list) -> list:
    """Naive 2-D IDCT of one 8x8 block (row-major coefficient list) —
    returns 64 floats BEFORE level shift.

    DC-only fast path: the true value is the constant DC/8 exactly (a
    dyadic rational, exact in floats), where the general loop would
    compute DC * (1/sqrt(2))^2 / 4 and pick up the last-ulp error of
    the rounded basis product — the fast path is both faster AND more
    accurate, and it is what makes the solid-fixture oracle hash-exact."""
    if not any(coef[1:]):
        return [coef[0] / 8.0] * 64
    out = [0.0] * 64
    for y in range(8):
        for x in range(8):
            s = 0.0
            for v in range(8):
                cv = _COS[v][y]
                row = v * 8
                for u in range(8):
                    c = coef[row + u]
                    if c:
                        s += _COS[u][x] * cv * c
            out[y * 8 + x] = s / 4.0
    return out


def decode_jpeg(content: bytes) -> dict:
    """Real baseline-JPEG decode (profile documented in the section
    header). Returns width/height/component count and per-component
    pixel means over the CROPPED image (block padding excluded)."""
    if len(content) < 4 or content[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG stream")
    pos = 2
    qtables: dict[int, list] = {}
    htables: dict[tuple, dict] = {}
    comps: list[dict] = []
    width = height = 0
    prog: dict | None = None  # progressive (SOF2) accumulation state
    while pos + 2 <= len(content):
        if content[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = content[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            if prog is not None and prog["nscans"] > 0:
                return _reconstruct_progressive(
                    width, height, comps, prog, qtables
                )
            raise ValueError("no scan data before EOI")
        if pos + 2 > len(content):
            raise ValueError("truncated segment")
        seglen = struct.unpack_from(">H", content, pos)[0]
        if pos + seglen > len(content):
            raise ValueError("truncated segment")
        body = content[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                qtables[tq] = list(body[i + 1 : i + 65])
                i += 65
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            if body[0] != 8:
                raise ValueError("only 8-bit precision supported")
            height, width = struct.unpack_from(">HH", body, 1)
            ncomp = body[5]
            for c in range(ncomp):
                cid, samp, tq = body[6 + 3 * c : 9 + 3 * c]
                h, v = samp >> 4, samp & 0xF
                if not (1 <= h <= 2 and 1 <= v <= 2):
                    raise ValueError(
                        "sampling factors above 2 unsupported"
                    )  # covers 4:4:4 / 4:2:2 / 4:4:0 / 4:2:0
                comps.append({"id": cid, "tq": tq, "h": h, "v": v})
            if marker == 0xC2:
                # progressive: padded per-component block grids + a
                # zigzag-order coefficient store scans accumulate into
                if len(comps) == 1:
                    factors = [(1, 1)]
                    hmax = vmax = 1
                else:
                    factors = [(c["h"], c["v"]) for c in comps]
                    hmax = max(h for h, _ in factors)
                    vmax = max(v for _, v in factors)
                mcux = (width + 8 * hmax - 1) // (8 * hmax)
                mcuy = (height + 8 * vmax - 1) // (8 * vmax)
                meta, coefs = [], []
                for h, v in factors:
                    cw = (width * h + hmax - 1) // hmax
                    ch = (height * v + vmax - 1) // vmax
                    bw, bh = mcux * h, mcuy * v
                    meta.append(
                        {
                            "h": h,
                            "v": v,
                            "bw": bw,
                            "bh": bh,
                            "cw": cw,
                            "ch": ch,
                            "cbw": (cw + 7) // 8,
                            "cbh": (ch + 7) // 8,
                        }
                    )
                    coefs.append([[0] * 64 for _ in range(bw * bh)])
                prog = {
                    "meta": meta,
                    "coefs": coefs,
                    "mcux": mcux,
                    "mcuy": mcuy,
                    "htables": htables,
                    "nscans": 0,
                }
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("only SOF0 baseline / SOF2 progressive supported")
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0xF
                counts = list(body[i + 1 : i + 17])
                nsym = sum(counts)
                syms = body[i + 17 : i + 17 + nsym]
                htables[(tc, th)] = _build_huffman(counts, syms)
                i += 17 + nsym
        elif marker == 0xDD:  # DRI
            if struct.unpack_from(">H", body, 0)[0] != 0:
                raise ValueError("restart intervals unsupported")
        elif marker == 0xDA:  # SOS
            ns = body[0]
            if prog is not None:
                scan_p = []
                for c in range(ns):
                    cid, tt = body[1 + 2 * c], body[2 + 2 * c]
                    ci = next(
                        i for i, x in enumerate(comps) if x["id"] == cid
                    )
                    scan_p.append((ci, tt >> 4, tt & 0xF))
                ss, se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
                pos = _decode_progressive_scan(
                    content,
                    pos + seglen,
                    scan_p,
                    ss,
                    se,
                    ahal >> 4,
                    ahal & 0xF,
                    prog,
                )
                prog["nscans"] += 1
                continue
            scan = []
            for c in range(ns):
                cid, tt = body[1 + 2 * c], body[2 + 2 * c]
                comp = next(x for x in comps if x["id"] == cid)
                scan.append((comp, tt >> 4, tt & 0xF))
            pos += seglen
            return _decode_scan(
                content, pos, width, height, scan, qtables, htables
            )
        pos += seglen
    raise ValueError("no SOS marker found")


def _decode_block(r, dct, act, q, pred_ci: int) -> tuple[list, int]:
    """Entropy-decode one 8x8 block: DC diff + AC runs, dequantize,
    de-zigzag, IDCT. Returns (64 pixel floats before level shift,
    new DC predictor)."""
    zz = [0] * 64
    t = _huff_decode(r, dct)
    pred_ci += _extend(r.bits(t), t) if t else 0
    zz[0] = pred_ci
    k = 1
    while k < 64:
        rs = _huff_decode(r, act)
        run, size = rs >> 4, rs & 0xF
        if size == 0:
            if run == 15:  # ZRL
                k += 16
                continue
            break  # EOB
        k += run
        if k > 63:
            raise ValueError("AC coefficient index out of range")
        zz[k] = _extend(r.bits(size), size)
        k += 1
    coef = [0] * 64
    for i in range(64):
        coef[_ZIGZAG[i]] = zz[i] * q[i]
    return _idct_block(coef), pred_ci


def _place_block(plane, stride, ox, oy, px) -> None:
    """Level-shift (+128), clamp to [0, 255], and write one decoded 8x8
    block into the component plane — shared by the baseline MCU walk
    and the progressive EOI reconstruction."""
    for y in range(8):
        base = (oy + y) * stride + ox
        row = px[y * 8 : y * 8 + 8]
        for x in range(8):
            val = row[x] + 128.0
            plane[base + x] = 0.0 if val < 0 else (255.0 if val > 255 else val)


def _planes_result(
    width, height, planes, strides, comp_dims, progressive=False
) -> dict:
    """Per-component means over the CROPPED rasters (§A.1.1 subsampled
    dims) + the shared output contract — one implementation for the
    baseline and progressive paths."""
    means = []
    for plane, stride, (cw, ch) in zip(planes, strides, comp_dims):
        tot = 0.0
        for y in range(ch):
            tot += sum(plane[y * stride : y * stride + cw])
        means.append(tot / (cw * ch))
    out = {
        "width": width,
        "height": height,
        "channels": len(planes),
        "planes": planes,
        "plane_stride": strides[0],
        "plane_strides": strides,
        "comp_dims": comp_dims,
    }
    if progressive:
        out["progressive"] = True
    if len(planes) == 1:
        out["mean_gray"] = means[0]
    else:
        out["mean_y"], out["mean_cb"], out["mean_cr"] = (
            means[0],
            means[1],
            means[2],
        )
    return out


def _ac_first_block(r, act, zz, ss, se, al, eobrun) -> int:
    """Progressive AC first scan (Ah=0) for ONE block's band Ss..Se
    (T.81 §G.1.2.2): run/size pairs place new coefficients scaled by
    << Al; an EOBn symbol (size 0, run < 15) starts an EOB run of
    (1 << run) + extra-bits blocks INCLUDING this one. Returns the
    remaining EOB-run count (blocks still to skip)."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _huff_decode(r, act)
        run, size = rs >> 4, rs & 0xF
        if size == 0:
            if run == 15:  # ZRL: sixteen zeros
                k += 16
                continue
            eobrun = (1 << run) - 1
            if run:
                eobrun += r.bits(run)
            break
        k += run
        if k > se:
            raise ValueError("AC coefficient outside the spectral band")
        zz[k] = _extend(r.bits(size), size) << al
        k += 1
    return eobrun


def _ac_refine_block(r, act, zz, ss, se, al, eobrun) -> int:
    """Progressive AC refinement (Ah=Al+1) for ONE block's band
    (T.81 §G.1.2.3): already-nonzero coefficients each receive a
    correction bit (magnitude grows toward the sign when the bit is 1
    and the Al bit is still clear); run/size pairs insert NEWLY nonzero
    coefficients of magnitude 1<<Al after skipping ``run`` zero-history
    positions; EOBn runs cover whole blocks whose remaining band gets
    corrections only. Returns the remaining EOB-run count."""
    plus = 1 << al
    minus = -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _huff_decode(r, act)
            run, size = rs >> 4, rs & 0xF
            val = 0
            if size == 0:
                if run < 15:
                    eobrun = 1 << run
                    if run:
                        eobrun += r.bits(run)
                    break  # rest of this block in the EOB section below
                # run == 15: skip 16 zero-history coefficients
            else:
                if size != 1:
                    raise ValueError("refinement scan with size != 1")
                val = plus if r.bit() else minus
            while k <= se:
                c = zz[k]
                if c != 0:
                    if r.bit() and (c & plus) == 0:
                        zz[k] = c + (plus if c >= 0 else minus)
                else:
                    if run == 0:
                        break
                    run -= 1
                k += 1
            if val != 0:
                if k > se:
                    raise ValueError("refinement insert outside the band")
                zz[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            c = zz[k]
            if c != 0:
                if r.bit() and (c & plus) == 0:
                    zz[k] = c + (plus if c >= 0 else minus)
            k += 1
        eobrun -= 1
    return eobrun


def _decode_progressive_scan(content, pos, scan, ss, se, ah, al, prog) -> int:
    """Decode one progressive SOS into the accumulated coefficient
    store and return the stream position of the next marker.

    ``scan`` holds (comp_index, td, ta) triples; ``prog`` carries the
    per-component padded block grids and zigzag-order coefficient
    arrays. DC scans (Ss=0) may be interleaved (MCU walk, §A.2) or
    single-component (§A.2.2, the component's OWN block grid); AC
    scans are single-component by spec."""
    r = _BitReader(content, pos)
    htables = prog["htables"]
    meta = prog["meta"]
    coefs = prog["coefs"]
    if ss == 0:
        if se != 0:
            raise ValueError("DC progressive scan must have Se = 0")
        dct_for = {}
        if ah == 0:
            for ci, td, _ in scan:
                t = htables.get((0, td))
                if t is None:
                    raise ValueError("scan references undefined DC table")
                dct_for[ci] = t
        pred = {ci: 0 for ci, _, _ in scan}

        def dc_unit(ci: int, idx: int) -> None:
            zz = coefs[ci][idx]
            if ah == 0:
                t = _huff_decode(r, dct_for[ci])
                pred[ci] += _extend(r.bits(t), t) if t else 0
                zz[0] = pred[ci] << al
            else:
                zz[0] |= r.bit() << al

        if len(scan) > 1:  # interleaved MCU walk
            for mcu in range(prog["mcux"] * prog["mcuy"]):
                mx, my = mcu % prog["mcux"], mcu // prog["mcux"]
                for ci, _, _ in scan:
                    h, v, bw = meta[ci]["h"], meta[ci]["v"], meta[ci]["bw"]
                    for vy in range(v):
                        for hx in range(h):
                            dc_unit(ci, (my * v + vy) * bw + (mx * h + hx))
        else:  # non-interleaved: the component's own block grid
            ci = scan[0][0]
            cbw, cbh, bw = meta[ci]["cbw"], meta[ci]["cbh"], meta[ci]["bw"]
            for by in range(cbh):
                for bx in range(cbw):
                    dc_unit(ci, by * bw + bx)
    else:
        if len(scan) != 1:
            raise ValueError("AC progressive scan must be single-component")
        ci, _, ta = scan[0]
        act = htables.get((1, ta))
        if act is None:
            raise ValueError("scan references undefined AC table")
        cbw, cbh, bw = meta[ci]["cbw"], meta[ci]["cbh"], meta[ci]["bw"]
        eobrun = 0
        fn = _ac_first_block if ah == 0 else _ac_refine_block
        for by in range(cbh):
            for bx in range(cbw):
                eobrun = fn(r, act, coefs[ci][by * bw + bx], ss, se, al, eobrun)
    # skip to the next marker (partial final byte + stuffing included)
    pos = r.pos
    while pos + 1 < len(content) and not (
        content[pos] == 0xFF and content[pos + 1] != 0x00
    ):
        pos += 1
    return pos


def _reconstruct_progressive(width, height, comps, prog, qtables) -> dict:
    """EOI hit: dequantize + de-zigzag + IDCT the accumulated
    coefficient store and emit the same output contract as the
    baseline `_decode_scan` (per-component means over the CROPPED
    component rasters, §A.1.1 subsampled dims)."""
    meta = prog["meta"]
    planes, strides, comp_dims = [], [], []
    for ci, comp in enumerate(comps):
        q = qtables.get(comp["tq"])
        if q is None:
            raise ValueError("component references undefined quant table")
        m = meta[ci]
        bw, bh = m["bw"], m["bh"]
        stride = bw * 8
        plane = [0.0] * (stride * bh * 8)
        for by in range(bh):
            for bx in range(bw):
                zz = prog["coefs"][ci][by * bw + bx]
                coef = [0] * 64
                for i in range(64):
                    coef[_ZIGZAG[i]] = zz[i] * q[i]
                _place_block(plane, stride, bx * 8, by * 8, _idct_block(coef))
        planes.append(plane)
        strides.append(stride)
        comp_dims.append((m["cw"], m["ch"]))
    return _planes_result(
        width, height, planes, strides, comp_dims, progressive=True
    )


def _decode_scan(content, pos, width, height, scan, qtables, htables) -> dict:
    """Interleaved-scan MCU walk per ITU-T T.81 §A.2: an MCU is the
    hmax*8 x vmax*8 region; within it component ci contributes its
    h_i x v_i blocks in RASTER order (left-to-right, then top-to-
    bottom), components in scan order. Component ci's own raster is
    ceil(width*h_i/hmax) x ceil(height*v_i/vmax) (§A.1.1 — the
    subsampled chroma dims for 4:2:0), and per-component means crop to
    exactly that. The 1x1-everything case degenerates to the round-11
    single-block walk; a single-component scan is non-interleaved per
    §A.2.2 (MCU = one block regardless of declared factors)."""
    if not width or not height or not scan:
        raise ValueError("scan before SOF0")
    if len(scan) == 1:
        factors = [(1, 1)]  # non-interleaved: MCU = one block (§A.2.2)
        hmax = vmax = 1
    else:
        factors = [(c["h"], c["v"]) for c, _, _ in scan]
        hmax = max(h for h, _ in factors)
        vmax = max(v for _, v in factors)
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    strides, comp_dims, planes = [], [], []
    for h, v in factors:
        stride = mcux * h * 8
        strides.append(stride)
        planes.append([0.0] * (stride * mcuy * v * 8))
        comp_dims.append(
            ((width * h + hmax - 1) // hmax, (height * v + vmax - 1) // vmax)
        )
    pred = [0] * len(scan)
    r = _BitReader(content, pos)
    for mcu in range(mcux * mcuy):
        mx, my = mcu % mcux, mcu // mcux
        for ci, (comp, td, ta) in enumerate(scan):
            dct = htables.get((0, td))
            act = htables.get((1, ta))
            q = qtables.get(comp["tq"])
            if dct is None or act is None or q is None:
                raise ValueError("scan references undefined table")
            h, v = factors[ci]
            stride = strides[ci]
            plane = planes[ci]
            for vy in range(v):
                for hx in range(h):
                    px, pred[ci] = _decode_block(r, dct, act, q, pred[ci])
                    _place_block(
                        plane, stride, (mx * h + hx) * 8, (my * v + vy) * 8, px
                    )
    return _planes_result(width, height, planes, strides, comp_dims)


JPEG_SCHEMA = (
    "doc_id bigint, width int, height int, channels int, mean_gray double"
)


def synthetic_jpeg_frame(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Real encoded bytes for the JPEG path: one solid-gray baseline
    JPEG per row, dims/level from id arithmetic (widths 1..21, heights
    1..13 exercise partial edge blocks and multi-block rasters; gray
    (id*11)%256 covers the full level range)."""
    return _per_id(
        df, id_col, lambda i: encode_jpeg_gray(i % 21 + 1, i % 13 + 1, (i * 11) % 256)
    )


def synthetic_jpeg_progressive_frame(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Real encoded bytes for the PROGRESSIVE JPEG path: one solid-gray
    SOF2 stream per row (the four-scan DC/AC first+refine script, EOBn
    runs included), dims/level from the same id arithmetic as the
    baseline twin — widths 1..21, heights 1..13, gray (id*11)%256."""
    return _per_id(
        df,
        id_col,
        lambda i: encode_jpeg_gray_progressive(i % 21 + 1, i % 13 + 1, (i * 11) % 256),
    )


def decode_jpeg_features(
    df: DataFrame, id_col: str = "doc_id", binary_col: str = "content"
) -> DataFrame:
    """mapInPandas over a binary column with the REAL JPEG decoder
    (baseline SOF0 and progressive SOF2 alike — decode_jpeg dispatches
    on the SOF marker) — Arrow-batched, embarrassingly parallel."""

    def rows(i: int, blob: bytes) -> list[dict]:
        d = decode_jpeg(blob)
        return [dict(d, mean_gray=float(d["mean_gray"]))]

    return _per_blob(df, id_col, binary_col, rows, JPEG_SCHEMA)


def _put_dc_block(w: "_BitWriter", dc: int, pred: int) -> int:
    """Write one DC-only block (DC diff + EOB) and return the new
    predictor — shared by the gray and the 4:2:0 color encoders."""
    diff = dc - pred
    t = _category(diff)
    code, ln = _DC_CODES[t]
    w.put(code, ln)
    if t:
        bits = diff if diff > 0 else diff + (1 << t) - 1
        w.put(bits & ((1 << t) - 1), t)
    code, ln = _AC_CODES[0x00]  # EOB
    w.put(code, ln)
    return dc


def encode_jpeg_color_420(
    width: int, height: int, y: int, cb: int, cr: int
) -> bytes:
    """Render a SOLID-color baseline JPEG with the real-world default
    layout: 3 components, Y at 2x2 / Cb,Cr at 1x1 sampling (4:2:0),
    interleaved scan, all-ones quant table. Per 16x16 MCU: four Y
    blocks in raster order, one Cb, one Cr — the exact §A.2 interleave
    the decoder walks. Solid planes are DC-only with DC = 8*(v-128)
    exactly, so mean_y/mean_cb/mean_cr decode back bit-for-bit."""
    if not (0 < width and 0 < height):
        raise ValueError("bad solid-JPEG parameters")
    if not all(0 <= v <= 255 for v in (y, cb, cr)):
        raise ValueError("component levels must be bytes")
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)
    out += (
        b"\xff\xc0"
        + struct.pack(">H", 17)
        + b"\x08"
        + struct.pack(">HH", height, width)
        + b"\x03"
        + bytes([1, 0x22, 0])  # Y: 2x2 sampling
        + bytes([2, 0x11, 0])  # Cb: 1x1
        + bytes([3, 0x11, 0])  # Cr: 1x1
    )
    out += _dht_segment(0, 0, _DC_SYMS, 4)
    out += _dht_segment(1, 0, sorted(_AC_SYMS), 8)
    out += (
        b"\xff\xda"
        + struct.pack(">H", 12)
        + b"\x03"
        + bytes([1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0])
    )
    w = _BitWriter()
    dcs = [round(8.0 * (v - 128)) for v in (y, cb, cr)]
    mcux = (width + 15) // 16
    mcuy = (height + 15) // 16
    pred = [0, 0, 0]
    for _ in range(mcux * mcuy):
        for _ in range(4):  # four Y blocks per MCU
            pred[0] = _put_dc_block(w, dcs[0], pred[0])
        pred[1] = _put_dc_block(w, dcs[1], pred[1])
        pred[2] = _put_dc_block(w, dcs[2], pred[2])
    out += w.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


JPEG_420_SCHEMA = (
    "doc_id bigint, width int, height int, channels int, "
    "mean_y double, mean_cb double, mean_cr double"
)


def synthetic_jpeg_420_frame(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Real encoded bytes for the 4:2:0 path: one solid-color
    chroma-subsampled JPEG per row. Widths 1..37 x heights 1..29 cover
    every MCU edge case — partial Y blocks, partial chroma blocks, and
    images smaller than one 16x16 MCU in either axis."""
    return _per_id(
        df,
        id_col,
        lambda i: encode_jpeg_color_420(
            i % 37 + 1, i % 29 + 1, (i * 11) % 256, (i * 5) % 256, (i * 7) % 256
        ),
    )


def decode_jpeg_420_features(
    df: DataFrame, id_col: str = "doc_id", binary_col: str = "content"
) -> DataFrame:
    """mapInPandas decode of 3-component JPEGs (any supported sampling
    — the decoder's MCU walk handles 4:2:0/4:2:2/4:4:4 uniformly),
    emitting per-plane means over each component's OWN subsampled
    crop."""

    def rows(i: int, blob: bytes) -> list[dict]:
        d = decode_jpeg(blob)
        return [
            dict(
                d,
                mean_y=float(d["mean_y"]),
                mean_cb=float(d["mean_cb"]),
                mean_cr=float(d["mean_cr"]),
            )
        ]

    return _per_blob(df, id_col, binary_col, rows, JPEG_420_SCHEMA)


# ---------------------------------------------------------------------------
# EXIF / TIFF: typed image METADATA as a first-class parsed structure
# ---------------------------------------------------------------------------
#
# Real pipelines filter and route images on camera metadata (orientation
# normalization, resolution floors, capture-time dedup) long before any
# pixel is decoded.  The reference stores image payloads as opaque bytea
# with no metadata model (app/db/postgres.py:144-145); here the Exif
# APP1 segment — a TIFF 6.0 byte stream — is both RENDERED and PARSED
# from scratch: byte-order mark (II/MM, both exercised), magic 42, IFD
# walk with ascending-tag entries, type dispatch (ASCII / SHORT /
# RATIONAL), and the inline-vs-offset value rule (values wider than the
# 4-byte entry field live out-of-line at an absolute TIFF offset).

_EXIF_HEADER = b"Exif\x00\x00"
_TIFF_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}  # BYTE ASCII SHORT LONG RATIONAL

EXIF_SCHEMA = (
    "doc_id bigint, byte_order string, n_entries int, make string, "
    "orientation int, xres_num bigint, xres_den bigint, datetime string"
)


def encode_exif(
    make: str,
    orientation: int,
    xres: tuple[int, int],
    datetime_str: str,
    big_endian: bool = False,
) -> bytes:
    """Render a spec-shaped Exif APP1 payload: TIFF header + one IFD0
    holding Make (ASCII, out-of-line), Orientation (SHORT, inline),
    XResolution (RATIONAL, out-of-line), DateTime (ASCII 20 bytes,
    out-of-line), entries in ascending tag order as TIFF 6.0 requires.
    ``big_endian`` selects the MM byte order (else II)."""
    bo = ">" if big_endian else "<"
    make_b = make.encode("ascii") + b"\x00"
    dt_b = datetime_str.encode("ascii") + b"\x00"
    if len(dt_b) != 20:
        raise ValueError("Exif DateTime must be exactly 19 chars + NUL")
    # fixed layout: header(8) + count(2) + 4*12 + next(4) = 62 bytes of
    # structure, then the out-of-line data area in tag order.
    data_base = 8 + 2 + 4 * 12 + 4
    off_make = data_base
    off_xres = off_make + len(make_b)
    off_dt = off_xres + 8

    def entry(tag: int, typ: int, count: int, inline: bytes | None, off: int | None):
        head = struct.pack(bo + "HHI", tag, typ, count)
        if inline is not None:
            return head + inline.ljust(4, b"\x00")
        return head + struct.pack(bo + "I", off)

    entries = (
        entry(0x010F, 2, len(make_b), None, off_make)
        + entry(0x0112, 3, 1, struct.pack(bo + "H", orientation), None)
        + entry(0x011A, 5, 1, None, off_xres)
        + entry(0x0132, 2, len(dt_b), None, off_dt)
    )
    tiff = (
        (b"MM" if big_endian else b"II")
        + struct.pack(bo + "H", 42)
        + struct.pack(bo + "I", 8)
        + struct.pack(bo + "H", 4)
        + entries
        + struct.pack(bo + "I", 0)
        + make_b
        + struct.pack(bo + "II", xres[0], xres[1])
        + dt_b
    )
    return _EXIF_HEADER + tiff


def decode_exif(blob: bytes) -> dict:
    """Parse an Exif APP1 payload back to typed fields: validate the
    Exif header and TIFF magic, honor the byte-order mark, walk IFD0,
    and dispatch each entry on its TIFF type — reading inline values
    from the 4-byte field and out-of-line values at their absolute
    TIFF offset.  Unknown tags are skipped (forward-compatible walk),
    so the parser is not a mirror of the encoder's fixed layout."""
    if blob[:6] != _EXIF_HEADER:
        raise ValueError("not an Exif APP1 payload")
    t = blob[6:]
    order = t[:2]
    if order == b"II":
        bo = "<"
    elif order == b"MM":
        bo = ">"
    else:
        raise ValueError(f"bad TIFF byte-order mark {order!r}")
    (magic,) = struct.unpack_from(bo + "H", t, 2)
    if magic != 42:
        raise ValueError(f"bad TIFF magic {magic}")
    (ifd0,) = struct.unpack_from(bo + "I", t, 4)
    (n,) = struct.unpack_from(bo + "H", t, ifd0)
    out: dict = {
        "byte_order": order.decode("ascii"),
        "n_entries": int(n),
        "make": None,
        "orientation": None,
        "xres_num": None,
        "xres_den": None,
        "datetime": None,
    }

    def ascii_at(off: int, count: int) -> str:
        raw = t[off : off + count]
        return raw.split(b"\x00", 1)[0].decode("ascii")

    for i in range(n):
        base = ifd0 + 2 + 12 * i
        tag, typ, count = struct.unpack_from(bo + "HHI", t, base)
        width = _TIFF_TYPE_SIZES.get(typ)
        if width is None:
            continue
        if width * count <= 4:
            voff = base + 8  # value inline in the entry's 4-byte field
        else:
            (voff,) = struct.unpack_from(bo + "I", t, base + 8)
        if tag == 0x010F and typ == 2:
            out["make"] = ascii_at(voff, count)
        elif tag == 0x0112 and typ == 3:
            out["orientation"] = int(struct.unpack_from(bo + "H", t, voff)[0])
        elif tag == 0x011A and typ == 5:
            num, den = struct.unpack_from(bo + "II", t, voff)
            out["xres_num"], out["xres_den"] = int(num), int(den)
        elif tag == 0x0132 and typ == 2:
            out["datetime"] = ascii_at(voff, count)
    return out


def synthetic_exif_blob(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """One real Exif APP1 byte stream per row, every field derived from
    the id (the read-only-fixture pattern of synthetic_bmp_frame); odd
    ids render big-endian MM so BOTH byte orders ship in every run."""
    return _per_id(
        df,
        id_col,
        lambda i: encode_exif(
            make=f"CAM{i % 10}",
            orientation=i % 8 + 1,
            xres=(72 + i % 4, 1 + i % 3),
            datetime_str=f"2024:01:{i % 28 + 1:02d} 12:00:00",
            big_endian=bool(i % 2),
        ),
    )


def decode_exif_features(
    df: DataFrame, id_col: str = "doc_id", binary_col: str = "content"
) -> DataFrame:
    """mapInPandas over a binary column with the REAL Exif parser."""
    return _per_blob(df, id_col, binary_col, lambda i, b: [decode_exif(b)], EXIF_SCHEMA)


# ---------------------------------------------------------------------------
# Image ENTROPY: the blank/low-information image gate over real rasters
# ---------------------------------------------------------------------------

ENTROPY_SCHEMA = (
    "doc_id bigint, width int, height int, n_pixels int, entropy_nats double"
)


def encode_bmp_gradient(width: int, height: int) -> bytes:
    """24-bit BMP whose pixel at raster index p (any traversal order —
    the histogram is order-free) carries gray value p % 256 in all
    three channels: a deterministic NON-solid fixture whose exact
    histogram (and therefore entropy) is id-predictable."""
    rows = []
    p = 0
    row_len = width * 3
    pad = (4 - row_len % 4) % 4
    for _ in range(height):
        row = bytearray()
        for _ in range(width):
            v = p % 256
            row += bytes((v, v, v))
            p += 1
        rows.append(bytes(row) + b"\x00" * pad)
    raster = b"".join(reversed(rows))  # bottom-up storage
    size = 54 + len(raster)
    header = (
        b"BM"
        + struct.pack("<IHHI", size, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                      len(raster), 2835, 2835, 0, 0)
    )
    return header + raster


def bmp_entropy_features(
    df: DataFrame, id_col: str = "doc_id", binary_col: str = "content"
) -> DataFrame:
    """Shannon entropy (nats) of the gray-value histogram of a REAL
    decoded BMP raster — the blank/solid/low-information image gate
    every multimodal ingest runs (entropy 0 = solid color, high
    entropy = texture). Decodes with the same from-scratch BMP walk as
    decode_bmp, then folds the histogram with the repo's integer
    micro-unit discipline: each value's -p*ln(p) term is floored into
    integer NANO-units and the per-image entropy is the order-free
    integer sum, so the oracle can replay the identical arithmetic
    per histogram value."""

    def rows(i: int, b: bytes) -> list[dict]:
        w = struct.unpack_from("<i", b, 18)[0]
        h = struct.unpack_from("<i", b, 22)[0]
        off = struct.unpack_from("<I", b, 10)[0]
        row_len = w * 3
        pad = (4 - row_len % 4) % 4
        counts = [0] * 256
        pos = off
        for _ in range(h):
            for x in range(w):
                counts[b[pos + 3 * x]] += 1  # blue == gray here
            pos += row_len + pad
        n = w * h
        term_sum = 0
        for cnt in counts:
            if cnt:
                p = cnt / n
                term_sum += math.floor(-p * math.log(p) * 1e9 + 0.5)
        return [{"width": w, "height": h, "n_pixels": n, "entropy_nats": term_sum / 1e9}]

    return _per_blob(df, id_col, binary_col, rows, ENTROPY_SCHEMA)


def synthetic_gradient_frame(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """One gradient BMP per row, dimensions from the id (the
    synthetic_bmp_frame fixture pattern, but NON-solid rasters so the
    entropy is nontrivial and still oracle-predictable)."""
    return _per_id(df, id_col, lambda i: encode_bmp_gradient(i % 21 + 1, i % 13 + 1))


# ---------------------------------------------------------------------------
# MP4 / ISO-BMFF (ISO/IEC 14496-12): METADATA parser — the container
# walk a video ingest runs long before any codec work (duration,
# timescale, track layout, display dimensions gate sampling budgets
# and filtering). Sample DECODE: MJPEG ('jpeg' sample entries) decodes
# end-to-end through decode_mp4_samples further below (round 14);
# H.264/HEVC bitstreams stay the one honest NotImplementedError.
# This is the Exif-for-video twin: real box grammar, real fixed-point
# math, typed metadata out of opaque bytes.
# ---------------------------------------------------------------------------

_MP4_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl", b"edts"}


def _box(typ: bytes, payload: bytes, large: bool = False) -> bytes:
    """One ISO-BMFF box. ``large=True`` writes the size==1 + 64-bit
    largesize header form (§4.2) — the >4 GiB-file layout, used by the
    fixtures so the parser's largesize path is exercised every run."""
    if large:
        return (
            struct.pack(">I", 1) + typ + struct.pack(">Q", len(payload) + 16)
            + payload
        )
    return struct.pack(">I", len(payload) + 8) + typ + payload


def encode_mp4_meta(
    duration_ms: int,
    width: int,
    height: int,
    with_audio: bool,
    timescale: int = 1000,
) -> bytes:
    """Render a minimal-but-well-formed MP4 metadata skeleton: ftyp +
    moov(mvhd, video trak(tkhd, mdia(mdhd, hdlr)) [, audio trak]) +
    an mdat stub. Width/height land in tkhd as 16.16 fixed point; the
    video trak box uses the 64-bit largesize header; an unknown 'skip'
    box is planted inside moov so the parser's skip-unknown path is
    exercised on every fixture."""
    if not (0 < timescale and 0 <= duration_ms and 0 < width and 0 < height):
        raise ValueError("bad mp4 parameters")
    dur = (duration_ms * timescale) // 1000
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2mp41")
    mvhd = _box(
        b"mvhd",
        struct.pack(">B3x", 0)                    # version 0, flags
        + struct.pack(">II", 3_600_000_000, 3_600_000_000)  # times
        + struct.pack(">II", timescale, dur)
        + struct.pack(">i", 0x00010000)           # rate 1.0
        + struct.pack(">h", 0x0100)               # volume 1.0
        + b"\x00" * 10                            # reserved
        + struct.pack(
            ">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000
        )                                         # identity matrix
        + b"\x00" * 24                            # pre_defined
        + struct.pack(">I", 3),                   # next_track_ID
    )

    def trak(track_id: int, handler: bytes, w: int, h: int) -> bytes:
        tkhd = _box(
            b"tkhd",
            struct.pack(">B3b", 0, 0, 0, 7)
            + struct.pack(">II", 3_600_000_000, 3_600_000_000)
            + struct.pack(">I", track_id)
            + b"\x00" * 4
            + struct.pack(">I", dur)
            + b"\x00" * 8
            + struct.pack(">hhhh", 0, 0, 0 if handler == b"vide" else 0x0100, 0)
            + struct.pack(
                ">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000
            )
            + struct.pack(">II", w << 16, h << 16),   # 16.16 fixed point
        )
        mdhd = _box(
            b"mdhd",
            struct.pack(">B3x", 0)
            + struct.pack(">II", 3_600_000_000, 3_600_000_000)
            + struct.pack(">II", timescale, dur)
            + struct.pack(">HH", 0x55C4, 0),      # language 'und', quality
        )
        hdlr = _box(
            b"hdlr",
            struct.pack(">B3x", 0) + b"\x00" * 4 + handler + b"\x00" * 12
            + b"\x00",
        )
        mdia = _box(b"mdia", mdhd + hdlr)
        # video trak uses the 64-bit largesize header form
        return _box(b"trak", tkhd + mdia, large=(handler == b"vide"))

    traks = trak(1, b"vide", width, height)
    if with_audio:
        traks += trak(2, b"soun", 0, 0)
    skip = _box(b"skip", b"opaque-padding")      # unknown-box skip path
    moov = _box(b"moov", mvhd + skip + traks)
    mdat = _box(b"mdat", b"\x00" * 8)            # stub payload
    return ftyp + moov + mdat


def decode_mp4_meta(content: bytes) -> dict:
    """Parse the ISO-BMFF box tree (generic walk: 32-bit sizes, the
    size==1 / 64-bit largesize form, size==0 box-extends-to-EOF,
    recursion into container boxes, unknown boxes skipped by size) and
    extract the movie metadata: major brand, movie timescale +
    duration, track count, per-track handler, and the video track's
    display width/height from tkhd's 16.16 fixed point. Raises on
    malformed structure — never a silent guess."""
    if len(content) < 8:
        raise ValueError("not an MP4 stream")

    out: dict = {
        "major_brand": None,
        "timescale": None,
        "duration_ms": None,
        "n_tracks": 0,
        "video_width": None,
        "video_height": None,
        "handlers": [],
    }

    def walk(lo: int, hi: int, depth: int) -> None:
        pos = lo
        while pos < hi:
            if pos + 8 > hi:
                raise ValueError("truncated box header")
            size = struct.unpack_from(">I", content, pos)[0]
            typ = content[pos + 4 : pos + 8]
            body = pos + 8
            if size == 1:
                if pos + 16 > hi:
                    raise ValueError("truncated largesize header")
                size = struct.unpack_from(">Q", content, pos + 8)[0]
                body = pos + 16
            elif size == 0:
                size = hi - pos  # box extends to end of enclosing box
            end = pos + size
            if size < 8 or end > hi:
                raise ValueError(f"bad box size {size} for {typ!r}")
            if typ == b"ftyp":
                out["major_brand"] = content[body : body + 4].decode("ascii")
            elif typ == b"mvhd":
                ver = content[body]
                if ver == 1:
                    ts, dur = struct.unpack_from(">IQ", content, body + 20)
                else:
                    ts, dur = struct.unpack_from(">II", content, body + 12)
                if ts == 0:
                    raise ValueError("mvhd timescale 0")
                out["timescale"] = ts
                out["duration_ms"] = (dur * 1000) // ts
            elif typ == b"trak":
                out["n_tracks"] += 1
                walk(body, end, depth + 1)
            elif typ == b"tkhd":
                ver = content[body]
                # verflags(4) + times(8/16) + track(4) + rsvd(4) + dur(4/8)
                off = body + (24 if ver == 0 else 36)  # through duration
                w16, h16 = struct.unpack_from(">II", content, off + 52)
                if w16 and h16:
                    out["video_width"] = w16 >> 16
                    out["video_height"] = h16 >> 16
            elif typ == b"hdlr":
                out["handlers"].append(
                    content[body + 8 : body + 12].decode("ascii")
                )
            elif typ in _MP4_CONTAINERS:
                walk(body, end, depth + 1)
            pos = end

    try:
        walk(0, len(content), 0)
    except (struct.error, IndexError) as exc:
        # truncated fixed-layout body inside a well-sized box: surface
        # as the module's documented malformed-stream error, so corpus
        # scans catching ValueError skip the row instead of crashing
        # the whole Arrow batch
        raise ValueError(f"malformed box body: {exc}") from exc
    if out["major_brand"] is None or out["timescale"] is None:
        raise ValueError("missing ftyp/mvhd — not a playable MP4")
    out["handlers"] = ",".join(out["handlers"])
    return out


MP4_SCHEMA = (
    "doc_id bigint, major_brand string, timescale int, duration_ms bigint, "
    "n_tracks int, video_width int, video_height int, handlers string"
)


def synthetic_mp4_frame(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """One MP4 metadata skeleton per row, every field from id
    arithmetic: duration (id%97+1)*500 ms, width (id%32+1)*16,
    height (id%18+1)*16, audio track iff id is even."""
    return _per_id(
        df,
        id_col,
        lambda i: encode_mp4_meta(
            (i % 97 + 1) * 500, (i % 32 + 1) * 16, (i % 18 + 1) * 16, i % 2 == 0
        ),
    )


def decode_mp4_features(
    df: DataFrame, id_col: str = "doc_id", binary_col: str = "content"
) -> DataFrame:
    """mapInPandas over a binary column with the real ISO-BMFF walk —
    Arrow-batched, zero shuffle."""
    return _per_blob(df, id_col, binary_col, lambda i, b: [decode_mp4_meta(b)], MP4_SCHEMA)


# ---------------------------------------------------------------------------
# MJPEG-in-MP4 SAMPLE DECODE — closes the video gate honestly by
# composing the two newest codecs: the ISO-BMFF walker above supplies
# the sample tables (stsd format, stts timing, stsc chunk map, stsz
# sizes, stco offsets — ISO/IEC 14496-12 §8.5-8.7), and each extracted
# sample is REAL baseline-JPEG bytes fed to this module's own T.81
# decoder. H.264 (avc1/avc3) remains the one honest
# NotImplementedError — a bitstream codec, not container plumbing.
# Reference analogue: none (the reference daemon never touches media);
# this is the training-data-pipeline extension surface (frame
# sampling for vision corpora).
# ---------------------------------------------------------------------------

_MP4_AVC_FORMATS = {"avc1", "avc3", "hev1", "hvc1"}
_MP4_HEVC_FORMATS = {"hev1", "hvc1"}


def _decode_avc_samples(
    content: bytes,
    tables: dict,
    ranges: list,
    durs: list,
    ts: int,
) -> list[dict]:
    """Decode avc1 samples via the clean-room H.264 baseline-intra
    decoder (operators/h264.py): avcC parsed out of the stsd sample
    entry body, each sample a length-prefixed NAL sequence."""
    from . import h264

    try:
        cfg = h264.parse_avcc(tables["entry_body"])
    except ValueError:
        if tables["fmt"] != "avc3":
            raise
        # avc3 sample entries may omit avcC: parameter sets ride
        # IN-BAND (ISO/IEC 14496-15 §5.4.1); decode_avc_sample picks
        # them up from the sample's own SPS/PPS NALs
        cfg = {"sps": None, "pps": None, "length_size": 4}
    frames = []
    for idx, (off, sz) in enumerate(ranges):
        if off + sz > len(content):
            raise ValueError(f"sample {idx} range beyond EOF")
        d = h264.decode_avc_sample(
            bytes(content[off : off + sz]), cfg
        )
        frames.append(
            {
                "frame_idx": idx,
                "duration_ms": (durs[idx] * 1000) // ts if idx < len(durs) else None,
                "sample_bytes": sz,
                "width": d["width"],
                "height": d["height"],
                "mean_gray": float(d["mean_gray"]),
                # decoded luma plane for pixel-exact downstream checks
                "y": d["y"],
            }
        )
    return frames


def encode_mp4_mjpeg(
    width: int,
    height: int,
    grays: list[int],
    timescale: int = 1000,
    frame_ms: int = 40,
) -> bytes:
    """Render a playable-layout MJPEG-in-MP4: ftyp + mdat holding one
    REAL solid-gray baseline JPEG per frame (encode_jpeg_gray) + moov
    whose video trak carries the FULL sample-table chain — stsd with a
    'jpeg' VisualSampleEntry, stts (uniform ``frame_ms`` deltas), stsc
    (one sample per chunk), stsz (true per-sample byte sizes), stco
    (absolute file offsets into mdat). mdat precedes moov so chunk
    offsets are exact at write time — the progressive-download layout
    inverted, chosen because offsets then need no fixup pass."""
    if not grays:
        raise ValueError("mjpeg mp4 needs at least one frame")
    samples = [encode_jpeg_gray(width, height, g) for g in grays]
    entry = _box(
        b"jpeg",
        b"\x00" * 6
        + struct.pack(">H", 1)                    # data_reference_index
        + b"\x00" * 16                            # pre_defined / reserved
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + b"\x00" * 4
        + struct.pack(">H", 1)                    # frame_count
        + bytes(32)                               # compressorname
        + struct.pack(">H", 24)                   # depth
        + struct.pack(">h", -1),                  # pre_defined
    )
    return _mp4_container(width, height, samples, entry, timescale, frame_ms)


def _mp4_container(
    width: int,
    height: int,
    samples: list[bytes],
    entry: bytes,
    timescale: int,
    frame_ms: int,
    use_co64: bool = False,
) -> bytes:
    """Assemble ftyp + mdat + moov around ready-made video samples and
    a ready-made stsd sample entry — the shared layout of the MJPEG
    and AVC fixtures (mdat precedes moov so stco offsets are exact at
    write time)."""
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2mp41")
    mdat = _box(b"mdat", b"".join(samples))
    offsets = []
    pos = len(ftyp) + 8  # first sample starts after the mdat header
    for s in samples:
        offsets.append(pos)
        pos += len(s)
    n = len(samples)
    dur = n * (frame_ms * timescale) // 1000
    mvhd = _box(
        b"mvhd",
        struct.pack(">B3x", 0)
        + struct.pack(">II", 3_600_000_000, 3_600_000_000)
        + struct.pack(">II", timescale, dur)
        + struct.pack(">i", 0x00010000)
        + struct.pack(">h", 0x0100)
        + b"\x00" * 10
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", 2),
    )
    tkhd = _box(
        b"tkhd",
        struct.pack(">B3b", 0, 0, 0, 7)
        + struct.pack(">II", 3_600_000_000, 3_600_000_000)
        + struct.pack(">I", 1)
        + b"\x00" * 4
        + struct.pack(">I", dur)
        + b"\x00" * 8
        + struct.pack(">hhhh", 0, 0, 0, 0)
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", width << 16, height << 16),
    )
    mdhd = _box(
        b"mdhd",
        struct.pack(">B3x", 0)
        + struct.pack(">II", 3_600_000_000, 3_600_000_000)
        + struct.pack(">II", timescale, dur)
        + struct.pack(">HH", 0x55C4, 0),
    )
    hdlr = _box(
        b"hdlr",
        struct.pack(">B3x", 0) + b"\x00" * 4 + b"vide" + b"\x00" * 12 + b"\x00",
    )
    stsd = _box(b"stsd", struct.pack(">B3xI", 0, 1) + entry)
    stts = _box(
        b"stts",
        struct.pack(">B3xI", 0, 1)
        + struct.pack(">II", n, (frame_ms * timescale) // 1000),
    )
    stsc = _box(b"stsc", struct.pack(">B3xI", 0, 1) + struct.pack(">III", 1, 1, 1))
    stsz = _box(
        b"stsz",
        struct.pack(">B3xII", 0, 0, n)
        + b"".join(struct.pack(">I", len(s)) for s in samples),
    )
    if use_co64:  # 64-bit chunk offsets, the >4 GiB container form
        stco = _box(
            b"co64",
            struct.pack(">B3xI", 0, n)
            + b"".join(struct.pack(">Q", o) for o in offsets),
        )
    else:
        stco = _box(
            b"stco",
            struct.pack(">B3xI", 0, n)
            + b"".join(struct.pack(">I", o) for o in offsets),
        )
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    vmhd = _box(b"vmhd", struct.pack(">B3b", 0, 0, 0, 1) + b"\x00" * 8)
    dref = _box(
        b"dref",
        struct.pack(">B3xI", 0, 1) + _box(b"url ", struct.pack(">B3b", 0, 0, 0, 1)),
    )
    minf = _box(b"minf", vmhd + _box(b"dinf", dref) + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def _mp4_video_sample_tables(content: bytes) -> dict:
    """Walk the box tree and return the VIDEO trak's sample tables as
    ``{fmt, entry_body, sizes, offsets, stsc, stts, timescale}``.
    Tables accumulate PER TRAK (a fresh table set per ``trak`` box), so
    a common audio+video file never conflates the two tracks' chunk
    maps; the video trak is the one whose ``hdlr`` handler is 'vide'
    (falling back to the only sample-bearing trak when no trak carries
    an hdlr at all). Two sample-bearing video traks is refused rather
    than silently merged. ``entry_body`` is the raw bytes of the first
    stsd sample entry AFTER the 4CC — the avcC/esds config lives there
    for codecs that need one."""

    def new_trak() -> dict:
        return {
            "fmt": None,
            "entry_body": b"",
            "sizes": [],
            "offsets": [],
            "stsc": [],
            "stts": [],
            "timescale": None,
            "handler": None,
        }

    traks: list[dict] = []

    def walk(lo: int, hi: int, trak: dict | None) -> None:
        pos = lo
        while pos < hi:
            if pos + 8 > hi:
                raise ValueError("truncated box header")
            size = struct.unpack_from(">I", content, pos)[0]
            typ = content[pos + 4 : pos + 8]
            body = pos + 8
            if size == 1:
                size = struct.unpack_from(">Q", content, pos + 8)[0]
                body = pos + 16
            elif size == 0:
                size = hi - pos
            end = pos + size
            if size < 8 or end > hi:
                raise ValueError(f"bad box size {size} for {typ!r}")
            if typ == b"trak":
                t = new_trak()
                walk(body, end, t)
                traks.append(t)
            elif trak is None:
                if typ in _MP4_CONTAINERS:
                    walk(body, end, None)
            elif typ == b"mdhd":
                ver = content[body]
                ts = struct.unpack_from(
                    ">I", content, body + (12 if ver == 0 else 20)
                )[0]
                trak["timescale"] = ts
            elif typ == b"hdlr":
                trak["handler"] = content[body + 8 : body + 12].decode(
                    "ascii", "replace"
                )
            elif typ == b"stsd":
                n_entries = struct.unpack_from(">I", content, body + 4)[0]
                if n_entries >= 1:
                    entry_size = struct.unpack_from(">I", content, body + 8)[0]
                    if entry_size < 8 or body + 8 + entry_size > end:
                        raise ValueError("bad stsd sample entry size")
                    trak["fmt"] = content[body + 12 : body + 16].decode(
                        "ascii", "replace"
                    )
                    trak["entry_body"] = bytes(
                        content[body + 16 : body + 8 + entry_size]
                    )
            elif typ == b"stts":
                n_entries = struct.unpack_from(">I", content, body + 4)[0]
                for i in range(n_entries):
                    cnt, delta = struct.unpack_from(
                        ">II", content, body + 8 + 8 * i
                    )
                    trak["stts"].append((cnt, delta))
            elif typ == b"stsc":
                n_entries = struct.unpack_from(">I", content, body + 4)[0]
                for i in range(n_entries):
                    trak["stsc"].append(
                        struct.unpack_from(">III", content, body + 8 + 12 * i)
                    )
            elif typ == b"stsz":
                fixed, cnt = struct.unpack_from(">II", content, body + 4)
                if fixed:
                    trak["sizes"].extend([fixed] * cnt)
                else:
                    for i in range(cnt):
                        trak["sizes"].append(
                            struct.unpack_from(">I", content, body + 12 + 4 * i)[0]
                        )
            elif typ == b"stco":
                cnt = struct.unpack_from(">I", content, body + 4)[0]
                for i in range(cnt):
                    trak["offsets"].append(
                        struct.unpack_from(">I", content, body + 8 + 4 * i)[0]
                    )
            elif typ == b"co64":
                # 64-bit chunk offsets — the >4 GiB form large vision-
                # corpus MP4s actually use (ISO/IEC 14496-12 §8.7.5)
                cnt = struct.unpack_from(">I", content, body + 4)[0]
                for i in range(cnt):
                    trak["offsets"].append(
                        struct.unpack_from(">Q", content, body + 8 + 8 * i)[0]
                    )
            elif typ in _MP4_CONTAINERS:
                walk(body, end, trak)
            pos = end

    try:
        walk(0, len(content), None)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"malformed box body: {exc}") from exc

    def bearing(t: dict) -> bool:
        return bool(t["fmt"] and t["sizes"] and t["offsets"] and t["stsc"])

    vids = [t for t in traks if bearing(t) and t["handler"] == "vide"]
    if not vids and not any(t["handler"] for t in traks):
        vids = [t for t in traks if bearing(t)]  # hdlr-less legacy file
    if not vids:
        raise ValueError("missing sample tables — no decodable track")
    if len(vids) > 1:
        raise ValueError(f"{len(vids)} sample-bearing video traks — ambiguous")
    return vids[0]


def _mp4_sample_ranges(tables: dict) -> list[tuple[int, int]]:
    """Per-sample absolute (offset, size) byte ranges from the stsc
    chunk map — the general first_chunk run-length form of §8.7.4:
    entry i applies from its first_chunk until the next entry's
    first_chunk. Chunk indices are validated against the stco count so
    a malformed map raises the module's documented ValueError instead
    of a bare IndexError."""
    sizes, offsets = tables["sizes"], tables["offsets"]
    ranges: list[tuple[int, int]] = []
    si = 0
    for i, (first, per_chunk, _sdi) in enumerate(tables["stsc"]):
        last = (
            tables["stsc"][i + 1][0] - 1
            if i + 1 < len(tables["stsc"])
            else len(offsets)
        )
        if first < 1 or last > len(offsets):
            raise ValueError(
                f"stsc chunk run {first}..{last} beyond stco count "
                f"{len(offsets)}"
            )
        for chunk in range(first, last + 1):
            base = offsets[chunk - 1]
            for _ in range(per_chunk):
                if si >= len(sizes):
                    break
                ranges.append((base, sizes[si]))
                base += sizes[si]
                si += 1
    return ranges


def decode_mp4_samples(content: bytes) -> list[dict]:
    """Extract and DECODE the video samples of an MP4: walk the box
    tree to the VIDEO trak's sample tables (stsd/stts/stsc/stsz/stco —
    per-trak accumulation, so audio tracks never conflate the chunk
    map), resolve each sample's absolute byte range via the stsc chunk
    map (the general first_chunk run-length form, not a per-file
    shortcut), then decode per the stsd format — 'jpeg' (MJPEG)
    through this module's own baseline-JPEG decoder, 'avc1' (H.264
    baseline intra) through this package's own clean-room decoder
    (operators/h264.py; avcC parsed from the sample entry,
    length-prefixed NAL samples). HEVC sample entries raise
    NotImplementedError — the one remaining video bitstream gate.
    Returns one dict per frame: frame_idx, duration_ms, sample_bytes,
    width, height, mean_gray."""
    tables = _mp4_video_sample_tables(content)
    fmt = tables["fmt"]
    if fmt in _MP4_HEVC_FORMATS:
        raise NotImplementedError(
            f"{fmt} sample decode (HEVC bitstream) unsupported; "
            "MJPEG ('jpeg') and H.264 baseline-intra ('avc1') decode"
        )
    if fmt not in ("jpeg", "avc1", "avc3"):
        raise ValueError(f"unknown sample format {fmt!r}")
    try:
        ranges = _mp4_sample_ranges(tables)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"malformed sample tables: {exc}") from exc
    # per-sample durations from stts run lengths
    durs: list[int] = []
    for cnt, delta in tables["stts"]:
        durs.extend([delta] * cnt)
    ts = tables["timescale"] or 1000
    if fmt != "jpeg":
        return _decode_avc_samples(content, tables, ranges, durs, ts)
    frames = []
    for idx, (off, sz) in enumerate(ranges):
        if off + sz > len(content):
            raise ValueError(f"sample {idx} range beyond EOF")
        d = decode_jpeg(bytes(content[off : off + sz]))
        frames.append(
            {
                "frame_idx": idx,
                "duration_ms": (durs[idx] * 1000) // ts if idx < len(durs) else None,
                "sample_bytes": sz,
                "width": d["width"],
                "height": d["height"],
                "mean_gray": float(d["mean_gray"]),
            }
        )
    return frames


def synthetic_mjpeg_mp4_frame(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """One MJPEG-in-MP4 per row, every field from id arithmetic:
    doc_id%3+2 frames, frame dims (id%21+1) x (id%13+1) — the same
    partial-edge-block coverage as the still-JPEG fixtures — and frame
    k's gray level (id*11 + 29*k) % 256."""
    return _per_id(
        df,
        id_col,
        lambda i: encode_mp4_mjpeg(
            i % 21 + 1, i % 13 + 1, [(i * 11 + 29 * k) % 256 for k in range(i % 3 + 2)]
        ),
    )


def encode_mp4_avc(
    width: int,
    height: int,
    grays: list[int],
    timescale: int = 1000,
    frame_ms: int = 40,
    qp: int = 12,
    coding: str = "i16x16",
) -> bytes:
    """Render a playable-layout H.264-in-MP4: each sample is one REAL
    baseline-intra IDR NAL, length-prefixed per ISO/IEC 14496-15,
    under an avc1 VisualSampleEntry whose avcC child carries the
    SPS/PPS. ``coding`` picks the macroblock family: 'i16x16'
    (operators/h264.py encode_gray_idr — Intra_16x16 DC prediction,
    Hadamard DC plane) or 'i4x4' (encode_i4x4_idr — I_NxN with
    per-4x4 DC prediction, the Table 9-4 me(v) CBP and
    most-probable-mode parsing). Same sample-table chain and
    mdat-before-moov layout as the MJPEG fixture (_mp4_container)."""
    from . import h264

    if not grays:
        raise ValueError("avc mp4 needs at least one frame")
    if coding == "i16x16":
        sps_nal, pps_nal, idrs = h264.encode_avc_stream(
            width, height, grays, qp
        )
    elif coding == "i4x4":
        sps_nal = h264._encode_sps(width, height)
        pps_nal = h264._encode_pps(qp)
        idrs = [h264.encode_i4x4_idr(width, height, g, qp) for g in grays]
    elif coding in ("textured", "deblocked"):
        # ``grays`` doubles as the per-frame pattern seeds: every 4x4
        # block carries a multi-coefficient CAVLC residual, driving
        # coeff_token through all four nC contexts (round 16).
        # 'deblocked' additionally signals idc=0 at qp 30 so the 8.7
        # in-loop filter runs (alpha/beta are zero below index 16, so
        # the fixture must sit in the active-QP band).
        if coding == "deblocked":
            qp = 30
        sps_nal = h264._encode_sps(width, height)
        pps_nal = h264._encode_pps(qp)
        idrs = [
            h264.encode_textured_i4x4_idr(
                width, height, g, qp, deblock=(coding == "deblocked")
            )[0]
            for g in grays
        ]
    elif coding == "ipp":
        # IPPP group (round 16): grays[0] is the pattern seed,
        # len(grays) the frame count; textured IDR then single-ref P
        # frames with skips/partitions/residual/intra islands, in-loop
        # deblocking ON at qp 30 (inter boundary strengths 2/1/0)
        sps_nal, pps_nal, idrs, _ = h264.encode_ipp_stream(
            width, height, int(grays[0]), len(grays), qp=30, deblock=True,
            num_refs=2, weighted=True,
        )
    elif coding == "multislice":
        # round 16: each sample is ONE picture coded as SEVERAL
        # slices; grays = (seed, n_slices, idc). Exercises first_mb >
        # 0, the 6.4.8 slice-boundary availability cut, per-slice
        # deblock params and the idc-2 boundary skip.
        seed_v, n_slices, idc = (int(g) for g in grays)
        sps_nal = h264._encode_sps(width, height)
        pps_nal = h264._encode_pps(30)
        slice_nals, _, _ = h264.encode_textured_multislice_idr(
            width, height, seed_v, n_slices, qp=30, deblock_idc=idc
        )
        samples = [b"".join(
            struct.pack(">I", len(n)) + n for n in slice_nals
        )]
        idrs = None
    else:
        raise ValueError(f"unknown coding {coding!r}")
    if idrs is not None:
        samples = [struct.pack(">I", len(n)) + n for n in idrs]
    entry = _box(
        b"avc1",
        b"\x00" * 6
        + struct.pack(">H", 1)                    # data_reference_index
        + b"\x00" * 16                            # pre_defined / reserved
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + b"\x00" * 4
        + struct.pack(">H", 1)                    # frame_count
        + bytes(32)                               # compressorname
        + struct.pack(">H", 24)                   # depth
        + struct.pack(">h", -1)                   # pre_defined
        + _box(b"avcC", h264.build_avcc(sps_nal, pps_nal)),
    )
    return _mp4_container(width, height, samples, entry, timescale, frame_ms)


def synthetic_avc_mp4_frame(
    df: DataFrame, id_col: str = "doc_id", coding: str = "i16x16"
) -> DataFrame:
    """One H.264-in-MP4 per row, every field from id arithmetic:
    doc_id%3+2 frames; for i16x16 coding frame dims 2*(id%10+1) x
    2*(id%7+1) and gray (id*13 + 37*k) % 256; for i4x4 coding dims
    2*(id%9+1) x 2*(id%6+1) and gray (id*17 + 53*k) % 256 — even
    (4:2:0) and mostly non-multiple-of-16 either way, so SPS frame
    cropping is exercised on nearly every row.

    The fixture filter (doc_id < 300) reads as ONE parquet split, so
    without an explicit spread the whole encode+decode chain would run
    in a single task — a 1/N-core plan that masquerades as map-only
    scale. The deterministic hash repartition below costs a 300-row
    shuffle and parallelizes the per-doc Python work across the
    cluster; at real corpus scale the input splits already provide
    this and Catalyst elides nothing (the chain stays map-only per
    partition)."""
    src = df.select(F.col(id_col).alias("doc_id")).repartition(32, "doc_id")

    def encode(i: int) -> bytes:
        w, h, grays = _avc_fixture_params(i, coding)
        return encode_mp4_avc(w, h, grays, coding=coding)

    return _per_id(src, "doc_id", encode)


def _avc_fixture_params(i: int, coding: str) -> tuple[int, int, list[int]]:
    """The id-arithmetic fixture geometry shared by the generator and
    (for textured coding) the pixel-exactness checker."""
    if coding == "i4x4":
        return (
            2 * (i % 9 + 1),
            2 * (i % 6 + 1),
            [(i * 17 + 53 * k) % 256 for k in range(i % 3 + 2)],
        )
    if coding == "textured":
        # multi-MB often (up to 2x2 MBs), pattern seed per frame
        return (
            2 * (i % 12 + 1),
            2 * (i % 9 + 1),
            [i * 11 + k for k in range(i % 3 + 2)],
        )
    if coding == "deblocked":
        # >= 2 MBs across on most rows so bS=4 MB edges fire
        return (
            2 * (i % 14 + 4),
            2 * (i % 10 + 2),
            [i * 7 + k for k in range(i % 3 + 2)],
        )
    if coding == "ipp":
        # grays[0] = pattern seed; len = frame count (1 IDR + >= 1 P)
        return (
            2 * (i % 13 + 3),
            2 * (i % 8 + 2),
            [i * 19 + k for k in range(i % 3 + 2)],
        )
    if coding == "multislice":
        # (seed, n_slices 2..5, idc 0 or 2); multi-MB geometries
        return (
            2 * (i % 10 + 8),
            2 * (i % 9 + 8),
            [i * 23, i % 4 + 2, 2 * (i % 2)],
        )
    return (
        2 * (i % 10 + 1),
        2 * (i % 7 + 1),
        [(i * 13 + 37 * k) % 256 for k in range(i % 3 + 2)],
    )


def check_mp4_avc_textured(
    df: DataFrame,
    id_col: str = "doc_id",
    binary_col: str = "content",
    coding: str = "textured",
) -> DataFrame:
    """Pixel-exactness audit of the textured-AVC chain: decode every
    sample through the FULL container->CAVLC->pixels path
    (decode_mp4_samples) and count mismatching luma pixels against
    the plane the fixture encoder tracked through the decoder's spec
    arithmetic (operators/h264.py encode_textured_i4x4_idr). A wrong
    Table 9-5 code in ANY exercised context desynchronizes the CAVLC
    parse, so mismatch_px == 0 per frame is a real end-to-end gate on
    the round-16 2<=nC<8 coeff_token columns. Arrow-batched
    mapInPandas, map-only, zero shuffle."""
    from . import h264

    def rows(i: int, blob: bytes) -> Iterator[dict]:
        w, h, seeds = _avc_fixture_params(i, coding)
        qp, debl = (30, True) if coding == "deblocked" else (12, False)
        ipp_planes = ms_plane = None
        if coding == "ipp":
            ipp_planes = h264.encode_ipp_stream(
                w, h, int(seeds[0]), len(seeds), qp=30,
                deblock=True, num_refs=2, weighted=True,
            )[3]
        elif coding == "multislice":
            _, ms_plane, _ = h264.encode_textured_multislice_idr(
                w, h, int(seeds[0]), int(seeds[1]), qp=30,
                deblock_idc=int(seeds[2]),
            )
        for k, fr in enumerate(decode_mp4_samples(blob)):
            if ipp_planes is not None:
                expected = ipp_planes[k]
            elif ms_plane is not None:
                expected = ms_plane
            else:
                _, expected, _ = h264.encode_textured_i4x4_idr(
                    w, h, seeds[k], qp, deblock=debl
                )
            yield dict(fr, mismatch_px=int(np.count_nonzero(fr["y"] != expected)))

    return _per_blob(
        df,
        id_col,
        binary_col,
        rows,
        "doc_id bigint, frame_idx int, width int, height int, mismatch_px int",
    )


MP4_FRAMES_SCHEMA = (
    "doc_id bigint, frame_idx int, width int, height int, "
    "mean_gray double, sample_bytes int"
)


def decode_mp4_frame_features(
    df: DataFrame, id_col: str = "doc_id", binary_col: str = "content"
) -> DataFrame:
    """mapInPandas over a binary column with the full container-to-
    pixels chain (decode_mp4_samples): Arrow-batched, zero shuffle, one
    output row per decoded frame — the video twin of the animated-GIF
    frame extractor."""
    return _per_blob(
        df, id_col, binary_col, lambda i, b: decode_mp4_samples(b), MP4_FRAMES_SCHEMA
    )
