"""Multimodal column plumbing ([EXT], SURVEY §7 M5): opaque binary payloads
with typed metadata, processed through Arrow-batched ``mapInPandas``.

No image/audio codec LIBRARIES exist in this container, so the codecs are
implemented here from the public specs, pure Python + stdlib: BMP and P6
PPM (r13), PNG via stdlib zlib, GIF89a variable-width LZW and baseline
T.81 JPEG (r14, ``functions/jpeg.py``), 16-bit PCM WAV for audio.
``decode_image`` dispatches on magic bytes; only formats that genuinely
need an external library (WebP/AVIF/MP4/...) keep a loud
``NotImplementedError`` stub.  The Spark-side plumbing is real and tested:
binary column + metadata struct in, ``mapInPandas`` with an explicit
output schema over Arrow batches out.

Scale posture: ``mapInPandas`` streams Arrow record batches (no per-row
Python overhead) and is a narrow transformation — no shuffle; partition
sizing is inherited from the scan, so 100 TB of media shards across
executors exactly like any other column.
"""

from __future__ import annotations

import functools as _functools
import zlib
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_streams_dead_letter_publishing_spark.functions.jpeg import (
    decode_jpeg,
    encode_jpeg,
    solid_roundtrip_rgb,
)

FEATURE_SCHEMA = (
    "doc_id bigint, n_bytes bigint, checksum bigint, n_frames bigint, "
    "decoded_px_sum bigint, png_px_sum bigint, gif_px_sum bigint, "
    "jpeg_px_sum bigint, jpeg_prog_px_sum bigint, resized_px_sum bigint"
)

CHECKSUM_PREFIX = 64
CHECKSUM_MOD = 997

#: payload bytes per synthesized video frame (r15: was 1000 when frames
#: were byte slices — the real MJPEG walk wants the driver corpus, whose
#: documents run ~300 bytes, to actually exercise MULTI-frame containers,
#: so the stride dropped to 64: up to 9 frames per doc at sf0.01/sf0.1)
FRAME_BYTES = 64

#: thumbnail dimensions for the real encode→decode cycle inside
#: extract_features: each payload's leading 3*W*H bytes become the RGB
#: pixels of a genuine 24-bit BMP (bottom-up rows, 4-byte padding, BGR),
#: which decode_image must correctly invert — the decoded pixel sum equals
#: the source-byte sum ONLY if every format quirk was undone, so the
#: registry row's hash check exercises the real decoder on every row
PX_W, PX_H = 5, 2  # odd row width forces nonzero BMP row padding

#: PNG thumbnail dimensions: 5 rows so the cycling per-scanline filter
#: exercises ALL FIVE unfilter paths (None/Sub/Up/Average/Paeth) on every
#: single row's encode→decode cycle
PNG_W, PNG_H = 5, 5

#: JPEG thumbnail: one full 4:2:0 MCU (16x16 = 4 luma + 2 chroma blocks,
#: so subsampling, MCU interleave and zero-diff DC prediction are all on
#: the per-row path); the image is SOLID (color = first 3 payload bytes)
#: because JPEG is LOSSY — a solid image is DC-only in every block and
#: the whole chain collapses to the closed-form integer expression the
#: oracle replays (functions/jpeg.py solid_roundtrip_rgb)
JPEG_W, JPEG_H = 16, 16
JPEG_QUALITY = 90

#: resize-gate source thumbnail: the payload's leading 3·10·6 bytes become
#: a real PNG (cycling filters — 6 rows exercise all five unfilter paths),
#: which is decoded, 2x2 box-average downscaled to 5x3 and re-encoded as a
#: BMP (odd output width → nonzero row padding on the encode side too) —
#: TWO codecs and a real resample in one per-row chain.  180-byte prefix
#: is deliberately distinct from the BMP/PNG/GIF gate prefixes (30/75/90)
#: so no two checksum columns can shadow each other's bugs
RESIZE_SRC_W, RESIZE_SRC_H = 10, 6
RESIZE_FACTOR = 2


def encode_bmp(pixels: bytes, width: int, height: int) -> bytes:
    """Minimal 24-bit uncompressed (BI_RGB) BMP writer — pure Python, zero
    deps.  ``pixels`` is RGB, row-major, top-down, exactly ``3*width*
    height`` bytes.  Produces the classic Windows layout: 14-byte file
    header + 40-byte BITMAPINFOHEADER, rows stored BOTTOM-UP, each padded
    to a 4-byte boundary, channels in BGR order — i.e. everything a real
    decoder must undo, which is the point: the decode below is exercised
    against genuine format quirks, not a trivial memcpy."""
    if len(pixels) != 3 * width * height:
        raise ValueError(
            f"encode_bmp: need {3 * width * height} RGB bytes, got {len(pixels)}"
        )
    row_raw = 3 * width
    pad = (-row_raw) % 4
    rows = []
    for r in range(height - 1, -1, -1):  # bottom-up
        row = pixels[r * row_raw : (r + 1) * row_raw]
        bgr = bytearray()
        for c in range(width):
            bgr += row[3 * c + 2 : 3 * c + 3]  # B
            bgr += row[3 * c + 1 : 3 * c + 2]  # G
            bgr += row[3 * c : 3 * c + 1]  # R
        rows.append(bytes(bgr) + b"\x00" * pad)
    data = b"".join(rows)
    off = 14 + 40
    size = off + len(data)
    file_hdr = b"BM" + size.to_bytes(4, "little") + b"\x00\x00\x00\x00" + off.to_bytes(4, "little")
    info_hdr = (
        (40).to_bytes(4, "little")
        + width.to_bytes(4, "little", signed=True)
        + height.to_bytes(4, "little", signed=True)  # positive = bottom-up
        + (1).to_bytes(2, "little")  # planes
        + (24).to_bytes(2, "little")  # bpp
        + (0).to_bytes(4, "little")  # BI_RGB
        + len(data).to_bytes(4, "little")
        + b"\x00" * 16  # ppm resolutions + palette counts
    )
    return file_hdr + info_hdr + data


def _decode_bmp(buf: bytes) -> tuple[int, int, bytes]:
    if len(buf) < 54:
        raise ValueError("BMP truncated: shorter than its fixed headers")
    off = int.from_bytes(buf[10:14], "little")
    hdr_size = int.from_bytes(buf[14:18], "little")
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    width = int.from_bytes(buf[18:22], "little", signed=True)
    height = int.from_bytes(buf[22:26], "little", signed=True)
    bpp = int.from_bytes(buf[28:30], "little")
    compression = int.from_bytes(buf[30:34], "little")
    if bpp != 24 or compression != 0:
        raise ValueError(
            f"unsupported BMP variant: bpp={bpp} compression={compression} "
            "(only 24-bit BI_RGB)"
        )
    if width <= 0 or height == 0:
        raise ValueError(f"bad BMP dimensions {width}x{height}")
    bottom_up = height > 0
    height = abs(height)
    row_raw = 3 * width
    stride = row_raw + ((-row_raw) % 4)
    if len(buf) < off + stride * height:
        raise ValueError("BMP truncated: pixel array shorter than declared")
    out = bytearray(row_raw * height)
    for r in range(height):
        src_r = (height - 1 - r) if bottom_up else r
        row = buf[off + src_r * stride : off + src_r * stride + row_raw]
        for c in range(width):
            out[r * row_raw + 3 * c] = row[3 * c + 2]  # R ← B slot
            out[r * row_raw + 3 * c + 1] = row[3 * c + 1]  # G
            out[r * row_raw + 3 * c + 2] = row[3 * c]  # B ← R slot
    return width, height, bytes(out)


def _decode_ppm(buf: bytes) -> tuple[int, int, bytes]:
    # P6 binary PPM: "P6" <ws> width <ws> height <ws> maxval <single ws> data,
    # with '#' comments allowed anywhere in the header whitespace
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(buf) and buf[pos : pos + 1].isspace():
            pos += 1
        if pos < len(buf) and buf[pos : pos + 1] == b"#":
            while pos < len(buf) and buf[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(buf) and buf[pos : pos + 1].isdigit():
            pos += 1
        if start == pos:
            raise ValueError("PPM header: expected an integer field")
        fields.append(int(buf[start:pos]))
    width, height, maxval = fields
    if maxval > 255:
        raise ValueError(f"unsupported PPM maxval {maxval} (only 8-bit)")
    pos += 1  # the single whitespace byte after maxval
    need = 3 * width * height
    if len(buf) < pos + need:
        raise ValueError("PPM truncated: pixel data shorter than declared")
    return width, height, bytes(buf[pos : pos + need])


# ── PNG: stdlib-zlib codec (r14 — the first COMPRESSED format) ───────────
#
# The r13 verdict's #2: BMP/PPM/WAV cover uncompressed containers only;
# PNG is feasible with zero non-stdlib deps (zlib inflate/deflate + the
# five scanline filters), so the decoded-checksum oracle discipline now
# covers a genuinely compressed format.  Same contract as the other
# codecs: corrupt/truncated recognized files raise ValueError, the
# encoder deliberately produces every format quirk a real decoder must
# undo (here: a CYCLING filter type per scanline, so one thumbnail
# exercises None/Sub/Up/Average/Paeth — a filter-0-only encoder would
# leave four unfilter paths dead).

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    """The Paeth predictor (PNG spec §9.4): nearest of left/up/upper-left
    to a+b−c, ties broken left→up→upper-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _png_predict(ftype: int, left: int, up: int, ul: int) -> int:
    if ftype == 0:
        return 0
    if ftype == 1:
        return left
    if ftype == 2:
        return up
    if ftype == 3:
        return (left + up) >> 1
    return _paeth(left, up, ul)


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        len(body).to_bytes(4, "big")
        + ctype
        + body
        + (zlib.crc32(ctype + body) & 0xFFFFFFFF).to_bytes(4, "big")
    )


#: Adam7 pass grid: (x0, y0, dx, dy) — the spec's seven interlace passes
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _adam7_dims(width: int, height: int) -> list[tuple[int, int, int, int, int, int]]:
    """Non-empty Adam7 passes as (x0, y0, dx, dy, pass_w, pass_h)."""
    out = []
    for x0, y0, dx, dy in _ADAM7:
        pw = (width - x0 + dx - 1) // dx
        ph = (height - y0 + dy - 1) // dy
        if pw > 0 and ph > 0:
            out.append((x0, y0, dx, dy, pw, ph))
    return out


def _png_filter_rows(rows: list[bytes], bpp: int) -> bytes:
    """Filter a sub-image's scanlines with the CYCLING filter discipline
    (row r uses filter r % 5, prior starts at zeros — per sub-image, the
    spec's rule for interlace passes too)."""
    raw = bytearray()
    prior = bytes(len(rows[0])) if rows else b""
    for r, row in enumerate(rows):
        ftype = r % 5
        raw.append(ftype)
        for i in range(len(row)):
            left = row[i - bpp] if i >= bpp else 0
            ul = prior[i - bpp] if i >= bpp else 0
            raw.append((row[i] - _png_predict(ftype, left, prior[i], ul)) & 0xFF)
        prior = row
    return bytes(raw)


def encode_png(
    pixels: bytes,
    width: int,
    height: int,
    depth: int = 8,
    interlace: int = 0,
) -> bytes:
    """Minimal RGB PNG writer — pure Python + stdlib zlib.  ``pixels`` is
    RGB, row-major, top-down: ``3*width*height`` bytes at depth 8, or
    ``6*width*height`` bytes (big-endian 16-bit samples, per spec) at
    depth 16.  ``interlace=1`` writes a real Adam7 stream: seven
    sub-images, each filtered independently with prior reset to zeros.
    Scanline filters CYCLE through all five types (row r of each
    sub-image uses filter r % 5), so a decode of any ≥5-row image
    exercises every unfilter path against real deflate-compressed data."""
    if depth not in (8, 16):
        raise ValueError(f"encode_png: depth must be 8 or 16, got {depth}")
    if interlace not in (0, 1):
        raise ValueError(f"encode_png: interlace must be 0 or 1, got {interlace}")
    sb = depth // 8
    bpp = 3 * sb
    if len(pixels) != bpp * width * height:
        raise ValueError(
            f"encode_png: need {bpp * width * height} RGB bytes at depth "
            f"{depth}, got {len(pixels)}"
        )
    stride = bpp * width
    if interlace == 0:
        rows = [pixels[r * stride : (r + 1) * stride] for r in range(height)]
        raw = _png_filter_rows(rows, bpp)
    else:
        raw_parts = []
        for x0, y0, dx, dy, pw, ph in _adam7_dims(width, height):
            rows = [
                b"".join(
                    pixels[
                        (y0 + j * dy) * stride
                        + (x0 + i * dx) * bpp : (y0 + j * dy) * stride
                        + (x0 + i * dx) * bpp
                        + bpp
                    ]
                    for i in range(pw)
                )
                for j in range(ph)
            ]
            raw_parts.append(_png_filter_rows(rows, bpp))
        raw = b"".join(raw_parts)
    ihdr = (
        width.to_bytes(4, "big")
        + height.to_bytes(4, "big")
        # bit depth, color type 2 (RGB), deflate, adaptive filters,
        # interlace method
        + bytes([depth, 2, 0, 0, interlace])
    )
    return (
        PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


#: CHANNELS per pixel for the supported PNG color types: 0 gray,
#: 2 RGB, 3 palette index, 4 gray+alpha, 6 RGBA
_PNG_BPP = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_unfilter(raw: bytes, width: int, height: int, bpp: int) -> list[bytes]:
    """Unfilter one (sub-)image's scanlines: ``raw`` is exactly
    ``(bpp*width + 1) * height`` bytes (filter byte + filtered row, prior
    starting at zeros — the spec treats every Adam7 pass as its own
    image).  Returns the reconstructed rows."""
    stride = bpp * width
    rows: list[bytes] = []
    prior = bytes(stride)
    for r in range(height):
        ftype = raw[r * (stride + 1)]
        if ftype > 4:
            raise ValueError(f"bad PNG filter type {ftype}")
        row = raw[r * (stride + 1) + 1 : (r + 1) * (stride + 1)]
        recon = bytearray(stride)
        for i in range(stride):
            left = recon[i - bpp] if i >= bpp else 0
            ul = prior[i - bpp] if i >= bpp else 0
            recon[i] = (row[i] + _png_predict(ftype, left, prior[i], ul)) & 0xFF
        rows.append(bytes(recon))
        prior = rows[-1]
    return rows


def _decode_png(buf: bytes) -> tuple[int, int, bytes]:
    """PNG decode normalized to 8-bit RGB: chunk walk with CRC
    verification (the WAV RIFF walker's shape — unknown ancillary chunks
    skipped, IDAT bodies CONCATENATED before one inflate, per the spec),
    per-scanline unfiltering of all five filter types at the color
    type's pixel width, then channel normalization — gray replicates,
    palette indices resolve through PLTE (out-of-range index raises),
    alpha channels drop (feature extraction reads color planes; the raw
    alpha is recoverable from the source bytes).  All five color types
    at depth 8; depth 16 for the non-palette types (r15 — big-endian
    samples, normalized by the spec's most-significant-byte reduction);
    Adam7 interlace (r15 — seven passes, each unfiltered independently
    and de-interlaced onto the canvas).  Palette sub-8-bit depths raise
    loudly."""
    if len(buf) < len(PNG_MAGIC) + 12:
        raise ValueError("PNG truncated: shorter than signature + one chunk")
    pos, ihdr, idat, ended = 8, None, bytearray(), False
    plte = None
    while pos + 8 <= len(buf):
        clen = int.from_bytes(buf[pos : pos + 4], "big")
        ctype = buf[pos + 4 : pos + 8]
        if pos + 12 + clen > len(buf):
            raise ValueError("PNG truncated: chunk body shorter than declared")
        body = buf[pos + 8 : pos + 8 + clen]
        crc = int.from_bytes(buf[pos + 8 + clen : pos + 12 + clen], "big")
        if crc != (zlib.crc32(ctype + body) & 0xFFFFFFFF):
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            ihdr = body
        elif ctype == b"PLTE":
            if len(body) % 3 or not body:
                raise ValueError(f"PNG PLTE length {len(body)} not a multiple of 3")
            plte = body
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            ended = True
            break
        pos += 12 + clen
    if ihdr is None or len(ihdr) < 13:
        raise ValueError("PNG missing/short IHDR")
    if not idat or not ended:
        raise ValueError("PNG missing IDAT or IEND")
    width = int.from_bytes(ihdr[0:4], "big")
    height = int.from_bytes(ihdr[4:8], "big")
    depth, color, comp, filt, interlace = ihdr[8:13]
    if (
        (comp, filt) != (0, 0)
        or color not in _PNG_BPP
        or interlace not in (0, 1)
        or depth not in (8, 16)
        or (color == 3 and depth != 8)
    ):
        raise ValueError(
            f"unsupported PNG variant: depth={depth} color={color} "
            f"compression={comp} filter={filt} interlace={interlace} "
            "(gray/RGB/palette/gray-alpha/RGBA at depth 8, non-palette "
            "types at depth 16, deflate, adaptive filters, "
            "none/Adam7 interlace; palette sub-8-bit depths unsupported)"
        )
    if color == 3 and plte is None:
        raise ValueError("PNG color type 3 without a PLTE chunk")
    if width <= 0 or height <= 0:
        raise ValueError(f"bad PNG dimensions {width}x{height}")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise ValueError(f"PNG IDAT inflate failed: {e}") from None
    channels = _PNG_BPP[color]
    sb = depth // 8
    bpp = channels * sb
    out = bytearray(3 * width * height)

    def place(recon: bytes, j: int, xs: range) -> None:
        """Normalize one reconstructed scanline's pixels onto the RGB
        canvas at row ``j``, canvas columns ``xs`` (16-bit samples reduce
        to their most significant byte, the spec's depth-rescale)."""
        for i, x in enumerate(xs):
            o = 3 * (width * j + x)
            base = i * bpp
            if color == 2 or color == 6:
                out[o] = recon[base]
                out[o + 1] = recon[base + sb]
                out[o + 2] = recon[base + 2 * sb]
            elif color == 0 or color == 4:
                out[o] = out[o + 1] = out[o + 2] = recon[base]
            else:  # color == 3: palette lookup (depth 8 only)
                idx = recon[base]
                ncolors = len(plte) // 3
                if idx >= ncolors:
                    raise ValueError(
                        f"PNG palette index {idx} out of range (PLTE has "
                        f"{ncolors} entries)"
                    )
                out[o : o + 3] = plte[3 * idx : 3 * idx + 3]

    if interlace == 0:
        stride = bpp * width
        if len(raw) != (stride + 1) * height:
            raise ValueError("PNG scanline data length mismatch")
        for j, recon in enumerate(_png_unfilter(raw, width, height, bpp)):
            place(recon, j, range(width))
    else:  # Adam7: seven independently-filtered sub-images, de-interlaced
        pos = 0
        for x0, y0, dx, dy, pw, ph in _adam7_dims(width, height):
            need = (bpp * pw + 1) * ph
            if pos + need > len(raw):
                raise ValueError("PNG scanline data length mismatch")
            rows = _png_unfilter(raw[pos : pos + need], pw, ph, bpp)
            pos += need
            for j, recon in enumerate(rows):
                place(recon, y0 + j * dy, range(x0, x0 + pw * dx, dx))
        if pos != len(raw):
            raise ValueError("PNG scanline data length mismatch")
    return width, height, bytes(out)


# ── GIF: LZW codec (r14 — the second compressed format, and the VIDEO
# container: multi-frame animations with per-frame palettes) ─────────────
#
# PNG covered DEFLATE; GIF covers the other stdlib-free compression a
# real corpus carries: LZW with variable-width codes (9→12 bits growing
# with the dictionary, LSB-first bit packing, clear/EOI control codes,
# dictionary reset at 4096).  The encoder exercises every structure a
# real decoder must handle: sub-block packetization (≤255-byte chunks),
# a NETSCAPE looping application extension + per-frame graphic-control
# extensions (so extension SKIPPING is on the hot path), a GLOBAL color
# table when the union of frame colors fits 256, and per-frame LOCAL
# color tables when it doesn't (the multi-frame case — 8 thumbnail
# frames can carry >256 distinct colors between them).

GIF_MAGIC87 = b"GIF87a"
GIF_MAGIC89 = b"GIF89a"

#: GIF thumbnail dimensions (the PNG_W/PNG_H discipline): 6x5 keeps the
#: palette <= 30 colors per frame, and the 90-byte prefix is deliberately
#: distinct from the PNG thumbnail's 75 so the two checksum columns can
#: never shadow each other's bugs
GIF_W, GIF_H = 6, 5


class _LzwBitWriter:
    """LSB-first bit packer (GIF's bit order — PNG/deflate is the same,
    but zlib hid it; here it's ours)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._nbits = 0

    def put(self, code: int, width: int) -> None:
        self._acc |= code << self._nbits
        self._nbits += width
        while self._nbits >= 8:
            self.out.append(self._acc & 0xFF)
            self._acc >>= 8
            self._nbits -= 8

    def flush(self) -> bytes:
        if self._nbits:
            self.out.append(self._acc & 0xFF)
            self._acc, self._nbits = 0, 0
        return bytes(self.out)


class _LzwBitReader:
    def __init__(self, data: bytes) -> None:
        self._data = data
        self._pos = 0
        self._acc = 0
        self._nbits = 0

    def get(self, width: int) -> int:
        while self._nbits < width:
            if self._pos >= len(self._data):
                raise ValueError("GIF LZW stream truncated mid-code")
            self._acc |= self._data[self._pos] << self._nbits
            self._pos += 1
            self._nbits += 8
        code = self._acc & ((1 << width) - 1)
        self._acc >>= width
        self._nbits -= width
        return code


def _lzw_encode(indices: bytes, mcs: int) -> bytes:
    """GIF-variant LZW: variable code width starting at ``mcs + 1``,
    growing as the dictionary fills, CLEAR emitted up front and whenever
    the dictionary hits 4096 (the spec's reset), EOI last."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    width = mcs + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    w = _LzwBitWriter()
    w.put(clear, width)
    run = b""
    first = True  # next data code is the first since a clear
    for k in indices:
        cand = run + bytes([k])
        if cand in table:
            run = cand
            continue
        w.put(table[run], width)
        first = False
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            # GIF's LATE width change (NOT the TIFF early variant): the
            # decoder's table lags the encoder's by exactly one entry —
            # it learns entry N only from the code AFTER N was created —
            # and the spec decoder widens when ITS next free code
            # reaches 2^width, so the encoder widens one entry later, at
            # next_code == 2^width + 1 (found r14: the early variant
            # round-trips against itself but no real GIF decoder)
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:
            w.put(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = mcs + 1
            first = True
        run = bytes([k])
    if run:
        w.put(table[run], width)
        # the decoder appends a (virtual, never-referenced) entry after
        # this final data code too — unless it is the first since a
        # clear — so mirror its width bump or the EOI below is written
        # one bit narrower than the decoder will read it with (the
        # codec fuzz's 30-distinct-symbols-at-mcs-5 case)
        if not first and next_code < 4096:
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
    w.put(eoi, width)
    return w.flush()


def _lzw_decode(data: bytes, mcs: int) -> bytes:
    """Inverse of ``_lzw_encode`` — including the KwK case (a code equal
    to the next unassigned entry decodes as prev + prev[0], the one LZW
    subtlety a copy-the-table decoder gets wrong)."""
    if not 2 <= mcs <= 11:
        raise ValueError(f"bad GIF LZW min code size {mcs}")
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    r = _LzwBitReader(data)
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    width = mcs + 1
    prev: bytes | None = None
    out = bytearray()
    while True:
        code = r.get(width)
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = mcs + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if prev is None:
            if code >= len(table):
                raise ValueError(f"GIF LZW: first code {code} not a root")
            prev = table[code]
            out += prev
            continue
        if code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]  # KwK
        else:
            raise ValueError(f"GIF LZW: code {code} beyond table size {len(table)}")
        out += entry
        if len(table) < 4096:
            table.append(prev + entry[:1])
            # GIF's LATE width change: widen when the next free code
            # (== len(table)) reaches 2^width — the giflib/spec decoder
            # convention; the encoder compensates for its one-entry lead
            # by widening at 2^width + 1 (see _lzw_encode; the r14 fix —
            # the TIFF-style early change was only self-consistent)
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry


def _gif_palette(frames: list[bytes]) -> list[list[bytes]] | list[bytes]:
    """Global palette (one sorted color list) if the union fits 256,
    else one local palette per frame (each must fit 256)."""
    union = sorted({f[3 * i : 3 * i + 3] for f in frames for i in range(len(f) // 3)})
    if len(union) <= 256:
        return union
    locals_ = [
        sorted({f[3 * i : 3 * i + 3] for i in range(len(f) // 3)}) for f in frames
    ]
    for j, pal in enumerate(locals_):
        if len(pal) > 256:
            raise ValueError(f"GIF frame {j}: {len(pal)} colors exceed a color table")
    return locals_


def _gif_table_bits(n_colors: int) -> int:
    """Color-table size exponent: the table holds 2^bits entries,
    bits in 1..8 (GIF has no 1-entry table)."""
    return max(1, (max(n_colors, 2) - 1).bit_length())


def _gif_subblocks(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)  # block terminator
    return bytes(out)


def _gif_interlace_rows(height: int) -> list[int]:
    """The GIF89a four-pass interlace row order: rows 0,8,16.. then
    4,12,.. then 2,6,10,.. then every odd row."""
    rows: list[int] = []
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        rows.extend(range(start, height, step))
    return rows


def encode_gif(
    frames: list[bytes],
    width: int,
    height: int,
    delay_cs: int = 4,
    interlace: bool = False,
) -> bytes:
    """Minimal GIF89a writer — pure Python, zero deps.  Each frame is RGB,
    row-major, top-down, exactly ``3*width*height`` bytes.  Multi-frame
    input becomes a real animation: NETSCAPE loop extension, a graphic-
    control extension per frame, and LOCAL color tables when the union of
    frame colors overflows a global one — i.e. the structures a real
    video-ish container makes a decoder handle.  ``interlace=True``
    (r15) stores every frame's rows in the spec's four-pass order."""
    if not frames:
        raise ValueError("encode_gif: need at least one frame")
    for j, f in enumerate(frames):
        if len(f) != 3 * width * height:
            raise ValueError(
                f"encode_gif: frame {j} needs {3 * width * height} RGB bytes, "
                f"got {len(f)}"
            )
    pal = _gif_palette(frames)
    use_global = pal and isinstance(pal[0], bytes)
    out = bytearray(GIF_MAGIC89)
    out += width.to_bytes(2, "little") + height.to_bytes(2, "little")
    if use_global:
        bits = _gif_table_bits(len(pal))
        # packed: GCT present | color resolution 8-bit (111) | size exp
        out.append(0x80 | 0x70 | (bits - 1))
        out += b"\x00\x00"  # background color idx, aspect ratio
        out += b"".join(pal) + b"\x00" * (3 * ((1 << bits) - len(pal)))
    else:
        out.append(0x70)  # no GCT
        out += b"\x00\x00"
    if len(frames) > 1:
        # NETSCAPE2.0 looping application extension (loop forever)
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for j, f in enumerate(frames):
        # graphic control extension: disposal none, no transparency
        out += b"\x21\xf9\x04\x00" + delay_cs.to_bytes(2, "little") + b"\x00\x00"
        fpal = pal if use_global else pal[j]
        lut = {c: i for i, c in enumerate(fpal)}
        row_order = (
            _gif_interlace_rows(height) if interlace else range(height)
        )
        indices = bytes(
            lut[f[3 * (width * r + x) : 3 * (width * r + x) + 3]]
            for r in row_order
            for x in range(width)
        )
        bits = _gif_table_bits(len(fpal))
        out += b"\x2c" + b"\x00\x00\x00\x00"  # left, top
        out += width.to_bytes(2, "little") + height.to_bytes(2, "little")
        flags = 0x40 if interlace else 0x00
        if use_global:
            out.append(flags)  # no local table
        else:
            out.append(0x80 | flags | (bits - 1))  # local color table
            out += b"".join(fpal) + b"\x00" * (3 * ((1 << bits) - len(fpal)))
        mcs = max(2, bits)
        out.append(mcs)
        out += _gif_subblocks(_lzw_encode(indices, mcs))
    out.append(0x3B)  # trailer
    return bytes(out)


def decode_gif(buf: bytes) -> tuple[int, int, list[bytes]]:
    """Pure-Python GIF decode → ``(width, height, [rgb_frames])``.  Walks
    the block stream (extensions skipped by their sub-block structure),
    handles global AND per-frame local color tables, full LZW with
    variable code widths, clear-code resets and the KwK case.  Frames
    must be full-canvas at (0,0), non-interlaced (the animation shape
    this engine's encoder emits; partial-canvas composites would need a
    compositor, not a codec — loud ValueError, the LSH dim-guard
    philosophy).  Corrupt/truncated recognized files raise ValueError."""
    buf = bytes(buf)
    if buf[:6] not in (GIF_MAGIC87, GIF_MAGIC89):
        raise ValueError("not a GIF: bad signature")
    if len(buf) < 13:
        raise ValueError("GIF truncated: shorter than its fixed headers")
    width = int.from_bytes(buf[6:8], "little")
    height = int.from_bytes(buf[8:10], "little")
    packed = buf[10]
    pos = 13
    gct: list[bytes] | None = None
    if packed & 0x80:
        size = 1 << ((packed & 0x07) + 1)
        if pos + 3 * size > len(buf):
            raise ValueError("GIF truncated: global color table")
        gct = [buf[pos + 3 * i : pos + 3 * i + 3] for i in range(size)]
        pos += 3 * size
    if width <= 0 or height <= 0:
        raise ValueError(f"bad GIF dimensions {width}x{height}")
    frames: list[bytes] = []
    while True:
        if pos >= len(buf):
            raise ValueError("GIF truncated: no trailer")
        intro = buf[pos]
        pos += 1
        if intro == 0x3B:  # trailer
            break
        if intro == 0x21:  # extension: label + sub-blocks, skipped
            if pos >= len(buf):
                raise ValueError("GIF truncated: extension label")
            pos += 1
            while True:
                if pos >= len(buf):
                    raise ValueError("GIF truncated: extension sub-block")
                blen = buf[pos]
                pos += 1 + blen
                if blen == 0:
                    break
            continue
        if intro != 0x2C:
            raise ValueError(f"unknown GIF block introducer 0x{intro:02x}")
        if pos + 9 > len(buf):
            raise ValueError("GIF truncated: image descriptor")
        left = int.from_bytes(buf[pos : pos + 2], "little")
        top = int.from_bytes(buf[pos + 2 : pos + 4], "little")
        fw = int.from_bytes(buf[pos + 4 : pos + 6], "little")
        fh = int.from_bytes(buf[pos + 6 : pos + 8], "little")
        fpacked = buf[pos + 8]
        pos += 9
        if (left, top, fw, fh) != (0, 0, width, height):
            raise ValueError(
                f"unsupported GIF: partial-canvas frame at ({left},{top}) "
                f"{fw}x{fh} in a {width}x{height} image needs a compositor"
            )
        interlaced = bool(fpacked & 0x40)
        pal = gct
        if fpacked & 0x80:
            size = 1 << ((fpacked & 0x07) + 1)
            if pos + 3 * size > len(buf):
                raise ValueError("GIF truncated: local color table")
            pal = [buf[pos + 3 * i : pos + 3 * i + 3] for i in range(size)]
            pos += 3 * size
        if pal is None:
            raise ValueError("GIF frame has no color table (no global, no local)")
        if pos >= len(buf):
            raise ValueError("GIF truncated: LZW min code size")
        mcs = buf[pos]
        pos += 1
        data = bytearray()
        while True:
            if pos >= len(buf):
                raise ValueError("GIF truncated: image sub-block")
            blen = buf[pos]
            pos += 1
            if blen == 0:
                break
            if pos + blen > len(buf):
                raise ValueError("GIF truncated: image data")
            data += buf[pos : pos + blen]
            pos += blen
        indices = _lzw_decode(bytes(data), mcs)
        if len(indices) != width * height:
            raise ValueError(
                f"GIF frame decoded to {len(indices)} pixels, "
                f"expected {width * height}"
            )
        for i in indices:
            if i >= len(pal):
                raise ValueError(f"GIF pixel index {i} beyond color table")
        if interlaced:
            # rows arrive in the four-pass order; de-interlace (r15)
            deint = bytearray(width * height)
            for stored, r in enumerate(_gif_interlace_rows(height)):
                deint[width * r : width * (r + 1)] = indices[
                    width * stored : width * (stored + 1)
                ]
            indices = bytes(deint)
        frames.append(b"".join(pal[i] for i in indices))
    if not frames:
        raise ValueError("GIF contains no image frames")
    return width, height, frames


def decode_image(buf: bytes) -> tuple[int, int, bytes]:
    """Pure-Python image decode for the four zero-dependency formats —
    ``(width, height, rgb_bytes)`` with pixels RGB, row-major, top-down:

    * **PNG** (8-byte signature): all five color types (gray / RGB /
      palette / gray-alpha / RGBA, normalized to RGB), stdlib-zlib
      inflate, CRC checks, all five scanline filters (r14 — the DEFLATE
      format); r15 adds 16-bit depth (MSB reduction) and Adam7
      interlace.  Palette sub-8-bit depths raise.
    * **JPEG** (``FF D8 FF``): baseline sequential DCT — Huffman decode
      from the file's DHT, integer Loeffler IDCT, restart markers,
      4:4:4/4:2:2/4:2:0 and grayscale (r14 — the LOSSY format;
      ``functions/jpeg.py``); r15 adds PROGRESSIVE (SOF2: spectral
      selection, successive approximation, EOB runs).  Arithmetic/
      12-bit/lossless raise.
    * **GIF** (``GIF87a``/``GIF89a``): palette + variable-width LZW,
      extension skipping; a multi-frame animation decodes to its FIRST
      frame here (``decode_gif`` returns them all — the video path).
    * **BMP** (``BM`` magic): 24-bit uncompressed BI_RGB — undoes the
      bottom-up row order, 4-byte row padding and BGR channel order;
      top-down (negative height) files handled too.
    * **PPM** (``P6`` magic): binary NetPBM with header comments.

    Corrupt/truncated files of a RECOGNIZED format raise ``ValueError``
    (fail loudly, the LSH dim-guard philosophy); formats this container
    has no library for (WebP/AVIF/MP4/...) keep the documented
    ``NotImplementedError`` stub path."""
    buf = bytes(buf)
    if buf[:8] == PNG_MAGIC:
        return _decode_png(buf)
    if buf[:3] == b"\xff\xd8\xff":
        return decode_jpeg(buf)
    if buf[:6] in (GIF_MAGIC87, GIF_MAGIC89):
        w, h, frames = decode_gif(buf)
        return w, h, frames[0]
    if buf[:2] == b"BM":
        return _decode_bmp(buf)
    if buf[:2] == b"P6":
        return _decode_ppm(buf)
    raise NotImplementedError(
        "only PNG (8-bit RGB), baseline JPEG, GIF, BMP (24-bit BI_RGB) "
        "and P6 PPM decode in this codec-less container; other formats "
        "(WebP/AVIF/MP4/...) need an image library not present here"
    )


def _decoded_px_sum(payload: bytes) -> int:
    """Encode the payload's leading bytes as a real BMP thumbnail, decode
    it back, and checksum the DECODED pixels.  Equal to the source-byte
    sum mod CHECKSUM_MOD only when the decoder correctly undoes row
    padding, bottom-up order and BGR swapping (zero-padding for short
    payloads adds nothing to the sum)."""
    need = 3 * PX_W * PX_H
    px = bytes(payload[:need]).ljust(need, b"\x00")
    _, _, decoded = decode_image(encode_bmp(px, PX_W, PX_H))
    # the round-trip IS the decoder exercise — an explicit raise (not
    # `assert`, which -O strips) so the hash gate can never silently stop
    # exercising the codec, and a mismatch dies diagnosably (r13 ADVICE)
    if decoded != px:
        raise ValueError(
            f"BMP round-trip mismatch: encoded {px!r} decoded to {decoded!r}"
        )
    return sum(decoded) % CHECKSUM_MOD


def _png_px_sum(payload: bytes) -> int:
    """The _decoded_px_sum discipline for the COMPRESSED codec: encode
    the payload's leading 3·PNG_W·PNG_H bytes as a real PNG (cycling
    scanline filters — all five exercised), decode it back, checksum the
    DECODED pixels.  Equal to the source-byte sum mod CHECKSUM_MOD only
    when inflate + every unfilter path is correct."""
    need = 3 * PNG_W * PNG_H
    px = bytes(payload[:need]).ljust(need, b"\x00")
    _, _, decoded = decode_image(encode_png(px, PNG_W, PNG_H))
    if decoded != px:
        raise ValueError(
            f"PNG round-trip mismatch: encoded {px!r} decoded to {decoded!r}"
        )
    return sum(decoded) % CHECKSUM_MOD


def _gif_px_sum(payload: bytes) -> int:
    """The _decoded_px_sum discipline for the LZW codec: encode the
    payload's leading 3·GIF_W·GIF_H bytes as a real single-frame GIF
    (palette + variable-width LZW + extension blocks), decode it back,
    checksum the DECODED pixels.  Equal to the source-byte sum mod
    CHECKSUM_MOD only when the LZW dictionary walk and palette indexing
    are correct."""
    need = 3 * GIF_W * GIF_H
    px = bytes(payload[:need]).ljust(need, b"\x00")
    _, _, decoded = decode_image(encode_gif([px], GIF_W, GIF_H))
    if decoded != px:
        raise ValueError(
            f"GIF round-trip mismatch: encoded {px!r} decoded to {decoded!r}"
        )
    return sum(decoded) % CHECKSUM_MOD


def _jpeg_px_sum(payload: bytes) -> int:
    """The codec-gate discipline for the LOSSY format: the payload's
    first 3 bytes become a SOLID 16x16 RGB color, run through a real
    baseline-JPEG encode→decode (4:2:0 — one full MCU: 4 luma blocks
    with zero-diff DC prediction, subsampled chroma, Huffman, bit
    stuffing, integer IDCT) and checksummed.  JPEG is lossy so the
    decoded bytes can't equal the source — instead every pixel must
    equal the CLOSED-FORM integer prediction (solid_roundtrip_rgb),
    which the oracle replays in SQL; any drift in quant scaling,
    DC coding, the IDCT descale or the fixed-point color transforms
    breaks the equality loudly.  The whole chain depends only on the
    (r, g, b) triple, so it is memoized per worker (r14 review) — the
    real codec still runs once per DISTINCT color, which is what the
    gate needs; unlike the PNG/GIF gates the input here is 3 bytes,
    not a per-row prefix."""
    p = bytes(payload[:3]).ljust(3, b"\x00")
    return _jpeg_px_sum_rgb(p[0], p[1], p[2])


@_functools.lru_cache(maxsize=4096)
def _jpeg_px_sum_rgb(r: int, g: int, b: int, progressive: bool = False) -> int:
    w, h, decoded = decode_jpeg(
        encode_jpeg(
            bytes((r, g, b)) * (JPEG_W * JPEG_H),
            JPEG_W,
            JPEG_H,
            quality=JPEG_QUALITY,
            subsampling="420",
            progressive=progressive,
        )
    )
    expect = solid_roundtrip_rgb(r, g, b, JPEG_QUALITY)
    if (w, h) != (JPEG_W, JPEG_H) or any(
        (decoded[i], decoded[i + 1], decoded[i + 2]) != expect
        for i in range(0, len(decoded), 3)
    ):
        raise ValueError(
            f"JPEG solid round-trip mismatch for rgb({r},{g},{b}) "
            f"(progressive={progressive}): expected {expect} everywhere"
        )
    return sum(decoded) % CHECKSUM_MOD


def _jpeg_prog_px_sum(payload: bytes) -> int:
    """The jpeg_px_sum gate run through the PROGRESSIVE codec (r15):
    the same solid 16x16 color through encode_jpeg(progressive=True) —
    the 10-scan SOF2 script with DC/AC successive approximation — and
    decode_jpeg's multi-scan coefficient accumulation.  Progressive
    transmits the SAME quantized coefficients as baseline, so the value
    must equal jpeg_px_sum (the oracle replays one closed form for
    both); any drift in scan scripts, EOB runs, point transforms or
    refinement bits breaks the hash."""
    p = bytes(payload[:3]).ljust(3, b"\x00")
    return _jpeg_px_sum_rgb(p[0], p[1], p[2], progressive=True)


def _feature_batches(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        payloads = pdf["payload"]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": payloads.map(len),
                "checksum": payloads.map(
                    lambda b: sum(b[:CHECKSUM_PREFIX]) % CHECKSUM_MOD
                ),
                "n_frames": payloads.map(lambda b: len(b) // FRAME_BYTES),
                "decoded_px_sum": payloads.map(_decoded_px_sum),
                "png_px_sum": payloads.map(_png_px_sum),
                "gif_px_sum": payloads.map(_gif_px_sum),
                "jpeg_px_sum": payloads.map(_jpeg_px_sum),
                "jpeg_prog_px_sum": payloads.map(_jpeg_prog_px_sum),
                "resized_px_sum": payloads.map(_resized_px_sum),
            }
        )


def with_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the opaque binary column + typed metadata struct (the
    multimodal data model: binary + metadata, SURVEY north star)."""
    return df.select(
        "doc_id",
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.length(F.col(text_col)).alias("declared_bytes"),
        ).alias("meta"),
    )


def extract_features(df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary payload column:
    byte length, prefix checksum, frame-sample count."""
    return df.select("doc_id", "payload").mapInPandas(_feature_batches, FEATURE_SCHEMA)


# ── audio: RIFF/WAVE PCM codec + feature extraction (r13) ────────────────
#
# The brief's multimodal surface names image/AUDIO/video; image landed as
# the BMP/PPM codec above, video as frame sampling below — this closes
# the audio leg with the one zero-dependency real format: 16-bit PCM WAV.
# Same discipline as decode_image: corrupt recognized files raise
# ValueError, unknown containers keep the NotImplementedError stub, and
# the registry row runs a real encode→decode cycle per row whose decoded
# features the DuckDB oracle replays over the source bytes.

AUDIO_SCHEMA = (
    "doc_id bigint, n_samples bigint, duration_ms bigint, energy bigint"
)

#: the synthesized-thumbnail sample rate: 8 kHz mono telephony — only the
#: duration arithmetic depends on it (duration_ms = n_samples*1000//rate)
AUDIO_RATE = 8000


def encode_wav(
    samples: list[int], sample_rate: int = AUDIO_RATE, channels: int = 1
) -> bytes:
    """Minimal 16-bit little-endian PCM WAV writer (RIFF + fmt + data),
    pure Python.  ``samples`` are ints in [-32768, 32767], interleaved
    when ``channels`` > 1."""
    if len(samples) % max(channels, 1):
        raise ValueError("encode_wav: sample count not a multiple of channels")
    data = b"".join(int(s).to_bytes(2, "little", signed=True) for s in samples)
    fmt = (
        b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")  # PCM
        + channels.to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little")
        + (sample_rate * channels * 2).to_bytes(4, "little")  # byte rate
        + (channels * 2).to_bytes(2, "little")  # block align
        + (16).to_bytes(2, "little")  # bits/sample
    )
    dat = b"data" + len(data).to_bytes(4, "little") + data
    return (
        b"RIFF" + (4 + len(fmt) + len(dat)).to_bytes(4, "little") + b"WAVE"
        + fmt + dat
    )


def decode_audio(buf: bytes) -> tuple[int, int, list[int]]:
    """Pure-Python PCM WAV decode → ``(channels, sample_rate, samples)``
    (16-bit signed ints, interleaved).  Walks the RIFF chunk list (word-
    aligned, unknown chunks skipped — LIST/INFO metadata is routine in
    real files), so ``decode(encode(x))`` is exercised against genuine
    container structure.  Corrupt/truncated RIFF raises ``ValueError``;
    non-RIFF payloads keep the ``NotImplementedError`` stub path."""
    buf = bytes(buf)
    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise NotImplementedError(
            "only RIFF/WAVE PCM decodes in this codec-less container; other "
            "audio containers need a library not present here"
        )
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(buf):
        cid = buf[pos : pos + 4]
        clen = int.from_bytes(buf[pos + 4 : pos + 8], "little")
        body = buf[pos + 8 : pos + 8 + clen]
        if len(body) < clen:
            raise ValueError("WAV truncated: chunk body shorter than declared")
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or data is None or len(fmt) < 16:
        raise ValueError("WAV missing/short fmt or data chunk")
    audio_fmt = int.from_bytes(fmt[0:2], "little")
    channels = int.from_bytes(fmt[2:4], "little")
    rate = int.from_bytes(fmt[4:8], "little")
    bps = int.from_bytes(fmt[14:16], "little")
    if audio_fmt != 1 or bps != 16:
        raise ValueError(
            f"unsupported WAV variant: fmt={audio_fmt} bits={bps} "
            "(only 16-bit PCM)"
        )
    if channels < 1 or rate < 1:
        raise ValueError(f"bad WAV header: channels={channels} rate={rate}")
    samples = [
        int.from_bytes(data[2 * i : 2 * i + 2], "little", signed=True)
        for i in range(len(data) // 2)
    ]
    return channels, rate, samples


def _audio_features(payload: bytes) -> tuple[int, int, int]:
    """Interpret the payload's byte PAIRS as 16-bit LE samples, run them
    through a real WAV encode→decode cycle, and feature the DECODED
    stream: (n_samples, duration_ms, Σ|sample|).  Equal to the same
    arithmetic over the source bytes only when the codec round-trips the
    container exactly — the BMP decoded_px_sum discipline."""
    raw = bytes(payload)
    n = len(raw) // 2
    src = [
        int.from_bytes(raw[2 * i : 2 * i + 2], "little", signed=True)
        for i in range(n)
    ]
    channels, rate, decoded = decode_audio(encode_wav(src, AUDIO_RATE, 1))
    # explicit raise, not `assert` (stripped under -O) — the BMP
    # round-trip discipline (r13 ADVICE)
    if (channels, rate, decoded) != (1, AUDIO_RATE, src):
        raise ValueError(
            f"WAV round-trip mismatch: channels={channels} rate={rate} "
            f"(expected 1/{AUDIO_RATE}, samples equal={decoded == src})"
        )
    return n, n * 1000 // AUDIO_RATE, sum(abs(s) for s in decoded)


def _audio_batches(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        feats = [_audio_features(p) for p in pdf["payload"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_samples": [f[0] for f in feats],
                "duration_ms": [f[1] for f in feats],
                "energy": [f[2] for f in feats],
            }
        )


def extract_audio_features(df: DataFrame) -> DataFrame:
    """Arrow-batched audio features over the binary payload column via a
    real per-row WAV encode→decode cycle (narrow, no shuffle — the
    multimodal mapInPandas contract)."""
    return df.select("doc_id", "payload").mapInPandas(_audio_batches, AUDIO_SCHEMA)


# ── AVI/MJPEG: RIFF video container (r15 — the video leg goes real) ──────
#
# The r14 verdict's #3: GIF animation was the only real multi-frame walk;
# an MJPEG AVI (the WAV RIFF chunk-walk shape + functions/jpeg.py per
# frame) completes the modality matrix with zero new dependencies.  The
# encoder emits every structure a real player needs — hdrl LIST with avih
# + one vids/MJPG stream (strh/strf), a movi LIST of word-aligned '00dc'
# chunks each holding one complete baseline JPEG, and an idx1 index — so
# the decoder's chunk walk is exercised against genuine container layout,
# not a trivial concatenation.

AVI_FPS = 25


def _riff_chunk(cid: bytes, body: bytes) -> bytes:
    # RIFF chunks are word-aligned: odd bodies carry a pad byte that is
    # NOT counted in the declared length
    return cid + len(body).to_bytes(4, "little") + body + (
        b"\x00" if len(body) % 2 else b""
    )


def encode_avi(
    jpeg_frames: list[bytes], width: int, height: int, fps: int = AVI_FPS
) -> bytes:
    """Minimal MJPEG AVI writer — pure Python, zero deps.  Each element of
    ``jpeg_frames`` is one COMPLETE baseline JPEG (``encode_jpeg``); the
    container carries them as '00dc' compressed-video chunks in a movi
    LIST, with a real hdrl header pair (avih + strh/strf declaring the
    'MJPG' fourcc) and an idx1 keyframe index."""
    if not jpeg_frames:
        raise ValueError("encode_avi: need at least one frame")
    n = len(jpeg_frames)
    maxbuf = max(len(f) for f in jpeg_frames)
    le32 = lambda v: int(v).to_bytes(4, "little")  # noqa: E731
    avih = _riff_chunk(
        b"avih",
        le32(1_000_000 // fps)  # dwMicroSecPerFrame
        + le32(maxbuf * fps)  # dwMaxBytesPerSec
        + le32(0)  # dwPaddingGranularity
        + le32(0x10)  # dwFlags: AVIF_HASINDEX
        + le32(n)  # dwTotalFrames
        + le32(0)  # dwInitialFrames
        + le32(1)  # dwStreams
        + le32(maxbuf)  # dwSuggestedBufferSize
        + le32(width)
        + le32(height)
        + b"\x00" * 16,  # dwReserved[4]
    )
    strh = _riff_chunk(
        b"strh",
        b"vids"
        + b"MJPG"
        + le32(0)  # dwFlags
        + (0).to_bytes(2, "little")  # wPriority
        + (0).to_bytes(2, "little")  # wLanguage
        + le32(0)  # dwInitialFrames
        + le32(1)  # dwScale
        + le32(fps)  # dwRate (fps = rate/scale)
        + le32(0)  # dwStart
        + le32(n)  # dwLength (frames)
        + le32(maxbuf)  # dwSuggestedBufferSize
        + le32(0xFFFFFFFF)  # dwQuality (default)
        + le32(0)  # dwSampleSize (0: one sample per chunk)
        + (0).to_bytes(2, "little") * 2  # rcFrame left, top
        + width.to_bytes(2, "little")
        + height.to_bytes(2, "little"),
    )
    strf = _riff_chunk(
        b"strf",
        le32(40)  # biSize
        + le32(width)
        + le32(height)
        + (1).to_bytes(2, "little")  # biPlanes
        + (24).to_bytes(2, "little")  # biBitCount
        + b"MJPG"  # biCompression
        + le32(3 * width * height)  # biSizeImage
        + b"\x00" * 16,  # resolutions + palette counts
    )
    hdrl = _riff_chunk(b"LIST", b"hdrl" + avih + _riff_chunk(b"LIST", b"strl" + strh + strf))
    movi_body = bytearray()
    idx = bytearray()
    for f in jpeg_frames:
        # idx1 offsets point at the chunk's fourcc, relative to the
        # 'movi' fourcc position (the classic AVI 1.0 convention)
        idx += b"00dc" + le32(0x10) + le32(4 + len(movi_body)) + le32(len(f))
        movi_body += _riff_chunk(b"00dc", f)
    movi = _riff_chunk(b"LIST", b"movi" + bytes(movi_body))
    body = b"AVI " + hdrl + movi + _riff_chunk(b"idx1", bytes(idx))
    return b"RIFF" + le32(len(body)) + body


def decode_avi(buf: bytes) -> tuple[int, int, list[bytes]]:
    """Pure-Python MJPEG AVI decode → ``(width, height, [rgb_frames])``:
    RIFF chunk walk (word-aligned, unknown chunks skipped — the WAV
    walker's shape), hdrl parsed for the declared canvas, every movi
    '..dc'/'..db' data chunk decoded through the real baseline-JPEG
    decoder, each frame's dimensions validated against the header.
    Corrupt/truncated recognized files raise ``ValueError``; non-AVI RIFF
    or other containers keep the ``NotImplementedError`` stub path."""
    buf = bytes(buf)
    if buf[:4] != b"RIFF" or buf[8:12] != b"AVI ":
        raise NotImplementedError(
            "only RIFF/AVI (MJPEG) video decodes in this codec-less "
            "container; other video containers need a library not present "
            "here"
        )
    if len(buf) < 8 + int.from_bytes(buf[4:8], "little"):
        raise ValueError("AVI truncated: shorter than its declared RIFF size")
    width = height = None
    frames: list[bytes] = []

    def walk_movi(body: bytes, in_rec: bool = False) -> None:
        pos = 0
        while pos + 8 <= len(body):
            cid = body[pos : pos + 4]
            clen = int.from_bytes(body[pos + 4 : pos + 8], "little")
            data = body[pos + 8 : pos + 8 + clen]
            if len(data) < clen:
                raise ValueError("AVI truncated: movi chunk body")
            if cid == b"LIST" and data[:4] == b"rec ":
                # AVI 1.0 interleaving wraps co-timed chunks in 'rec '
                # record LISTs — recurse so wrapped frames still decode
                # (r15 advice: they were silently skipped as unknowns).
                # rec lists legally never nest, so one level is the bound:
                # a crafted deep nest must hit the ValueError contract,
                # not blow the Python stack (r16 advice)
                if in_rec:
                    raise ValueError(
                        "AVI malformed: 'rec ' record LIST nested inside "
                        "another 'rec ' list"
                    )
                walk_movi(data[4:], in_rec=True)
            elif cid[2:4] in (b"dc", b"db"):
                w, h, px = _decode_jpeg_memo(data)
                if (w, h) != (width, height):
                    raise ValueError(
                        f"AVI frame is {w}x{h}, header declares "
                        f"{width}x{height}"
                    )
                frames.append(px)
            pos += 8 + clen + (clen & 1)

    pos = 12
    while pos + 8 <= len(buf):
        cid = buf[pos : pos + 4]
        clen = int.from_bytes(buf[pos + 4 : pos + 8], "little")
        body = buf[pos + 8 : pos + 8 + clen]
        if len(body) < clen:
            raise ValueError("AVI truncated: chunk body shorter than declared")
        if cid == b"LIST":
            ltype, inner = body[:4], body[4:]
            if ltype == b"hdrl":
                # avih is the first sub-chunk per spec; walk anyway
                sp = 0
                while sp + 8 <= len(inner):
                    scid = inner[sp : sp + 4]
                    sclen = int.from_bytes(inner[sp + 4 : sp + 8], "little")
                    if scid == b"avih":
                        if sclen < 40:
                            raise ValueError("AVI avih header too short")
                        hdr = inner[sp + 8 : sp + 8 + sclen]
                        width = int.from_bytes(hdr[32:36], "little")
                        height = int.from_bytes(hdr[36:40], "little")
                        break
                    sp += 8 + sclen + (sclen & 1)
                if width is None:
                    raise ValueError("AVI hdrl without an avih chunk")
                if width <= 0 or height <= 0:
                    raise ValueError(f"bad AVI dimensions {width}x{height}")
            elif ltype == b"movi":
                if width is None:
                    raise ValueError("AVI movi before hdrl")
                walk_movi(inner)
        # idx1 / JUNK / unknown chunks: skipped by the walk
        pos += 8 + clen + (clen & 1)
    if width is None:
        raise ValueError("AVI missing hdrl header")
    if not frames:
        raise ValueError("AVI contains no video frames")
    return width, height, frames


def sample_avi_frames(
    buf: bytes, every: int = 1
) -> tuple[int, int, list[tuple[int, bytes]]]:
    """INDEX-driven sparse decode (r15): read the idx1 index, seek
    directly to every ``every``-th video chunk and decode ONLY those —
    ``(width, height, [(frame_idx, rgb)])``.  This is the point of an
    AVI carrying an index: keyframe sampling costs O(selected frames),
    not O(all frames) — the real video-pipeline shape ``sample_frames``
    stands on.  Each index entry is validated against the chunk it
    points at (fourcc + declared size), so a lying index raises instead
    of decoding garbage.  Files without idx1 raise — use ``decode_avi``
    (the sequential movi walk) for those."""
    buf = bytes(buf)
    if buf[:4] != b"RIFF" or buf[8:12] != b"AVI ":
        raise NotImplementedError(
            "only RIFF/AVI (MJPEG) video decodes in this codec-less "
            "container; other video containers need a library not present "
            "here"
        )
    if every < 1:
        raise ValueError(f"sample_avi_frames: every must be >= 1, got {every}")
    width = height = None
    movi_at = None  # position of the 'movi' fourcc (idx1 offsets' origin)
    idx = None
    pos = 12
    while pos + 8 <= len(buf):
        cid = buf[pos : pos + 4]
        clen = int.from_bytes(buf[pos + 4 : pos + 8], "little")
        body = buf[pos + 8 : pos + 8 + clen]
        if len(body) < clen:
            raise ValueError("AVI truncated: chunk body shorter than declared")
        if cid == b"LIST":
            ltype = body[:4]
            if ltype == b"hdrl":
                sp = 4
                while sp + 8 <= len(body):
                    scid = body[sp : sp + 4]
                    sclen = int.from_bytes(body[sp + 4 : sp + 8], "little")
                    if scid == b"avih":
                        hdr = body[sp + 8 : sp + 8 + sclen]
                        width = int.from_bytes(hdr[32:36], "little")
                        height = int.from_bytes(hdr[36:40], "little")
                        break
                    sp += 8 + sclen + (sclen & 1)
            elif ltype == b"movi":
                movi_at = pos + 8
        elif cid == b"idx1":
            idx = body
        pos += 8 + clen + (clen & 1)
    if width is None:
        raise ValueError("AVI missing hdrl header")
    if movi_at is None:
        raise ValueError("AVI missing movi list")
    if idx is None or len(idx) % 16:
        raise ValueError("AVI has no well-formed idx1 index")
    frames: list[tuple[int, bytes]] = []
    # filter to VIDEO entries first, then stride (r15 advice): on a
    # multi-stream file (audio '..wb' interleaved) striding the raw
    # index would make cadence and frame numbers interleaving-dependent;
    # frame_idx must mean "k-th video frame of the file", always
    entries = [
        idx[16 * i : 16 * i + 16]
        for i in range(len(idx) // 16)
        if idx[16 * i + 2 : 16 * i + 4] in (b"dc", b"db")
    ]
    for fi in range(0, len(entries), every):
        e = entries[fi]
        fourcc = e[:4]
        off = int.from_bytes(e[8:12], "little")
        size = int.from_bytes(e[12:16], "little")
        at = movi_at + off
        if buf[at : at + 4] != fourcc or int.from_bytes(
            buf[at + 4 : at + 8], "little"
        ) != size:
            raise ValueError(
                f"AVI idx1 video entry {fi} does not point at its chunk"
            )
        w, h, px = _decode_jpeg_memo(buf[at + 8 : at + 8 + size])
        if (w, h) != (width, height):
            raise ValueError(
                f"AVI frame is {w}x{h}, header declares {width}x{height}"
            )
        frames.append((fi, px))
    return width, height, frames


@_functools.lru_cache(maxsize=8192)
def _decode_jpeg_memo(data: bytes) -> tuple[int, int, bytes]:
    """Per-worker memo of the pure-Python JPEG decode keyed on the exact
    frame bytes: text-derived solid colors repeat heavily across a corpus,
    and identical inputs are the definition of a safe memo — the real
    decoder still runs once per DISTINCT frame (the _jpeg_px_sum_rgb
    precedent)."""
    return decode_jpeg(data)


@_functools.lru_cache(maxsize=4096)
def _solid_jpeg(r: int, g: int, b: int) -> bytes:
    """One 16x16 solid-color baseline 4:2:0 JPEG (memoized per triple —
    the encoder is deterministic, so identical colors are identical
    frames)."""
    return encode_jpeg(
        bytes((r, g, b)) * (JPEG_W * JPEG_H),
        JPEG_W,
        JPEG_H,
        quality=JPEG_QUALITY,
        subsampling="420",
    )


# ── frame sampling (1 payload row → N decoded frame rows) ────────────────

FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame_px_sum bigint"


def _video_frame_sums(payload: bytes) -> list[int]:
    """The codec-gate discipline for the VIDEO container: every
    ``FRAME_BYTES`` stride of the payload contributes one frame — a solid
    16x16 color from the stride's first 3 bytes — assembled into ONE real
    MJPEG AVI per payload, decoded back through the RIFF walk + per-frame
    JPEG decode, and each decoded frame checksummed.  Every frame must be
    exactly the solid closed form (``solid_roundtrip_rgb``) the oracle
    replays in SQL; any drift in the container walk, frame ordering or
    the JPEG chain breaks the equality loudly."""
    n = len(payload) // FRAME_BYTES
    if n == 0:
        return []
    colors = [
        bytes(payload[i * FRAME_BYTES : i * FRAME_BYTES + 3]).ljust(3, b"\x00")
        for i in range(n)
    ]
    avi = encode_avi([_solid_jpeg(r, g, b) for r, g, b in colors], JPEG_W, JPEG_H)
    w, h, frames = decode_avi(avi)
    if (w, h) != (JPEG_W, JPEG_H) or len(frames) != n:
        raise ValueError(
            f"AVI round-trip mismatch: {len(frames)} frames at {w}x{h}, "
            f"expected {n} at {JPEG_W}x{JPEG_H}"
        )
    sums: list[int] = []
    for i, frame in enumerate(frames):
        expect = bytes(solid_roundtrip_rgb(*colors[i], JPEG_QUALITY)) * (
            JPEG_W * JPEG_H
        )
        if frame != expect:
            raise ValueError(
                f"AVI frame {i} decoded off the solid closed form for "
                f"rgb{tuple(colors[i])}"
            )
        sums.append(sum(frame) % CHECKSUM_MOD)
    return sums


def _frame_batches(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        doc_ids: list[int] = []
        idxs: list[int] = []
        sums: list[int] = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            for i, s in enumerate(_video_frame_sums(bytes(payload))):
                doc_ids.append(doc_id)
                idxs.append(i)
                sums.append(s)
        yield pd.DataFrame(
            {"doc_id": doc_ids, "frame_idx": idxs, "frame_px_sum": sums}
        )


def sample_frames(df: DataFrame) -> DataFrame:
    """Video frame walk: each payload becomes one REAL MJPEG AVI (one
    solid-color JPEG frame per ``FRAME_BYTES`` stride), which is decoded
    back through the RIFF container walk and the baseline-JPEG decoder —
    one output row per DECODED frame with its pixel checksum.  The 1→N
    fan-out happens INSIDE the Arrow batch (no join, no generator node);
    narrow, no shuffle — the video-keyframe-extraction shape at any
    corpus size."""
    return df.select("doc_id", "payload").mapInPandas(_frame_batches, FRAME_SCHEMA)


# ── resize (decode → box-average downscale → re-encode) ──────────────────

RESIZED_SCHEMA = (
    "doc_id bigint, payload binary, orig_bytes bigint, resized_bytes bigint, "
    "resized_w int, resized_h int"
)


def box_downscale(
    pixels: bytes, width: int, height: int, factor: int
) -> tuple[int, int, bytes]:
    """Integer box-average downscale of an RGB buffer by ``factor`` in both
    axes: output channel = floor(mean over the factor×factor block), edge
    blocks average over however many source pixels actually exist (ceil
    output dims) — exact integer arithmetic end-to-end, so a SQL oracle
    replays it bit-for-bit."""
    if factor < 1:
        raise ValueError(f"box_downscale: factor must be >= 1, got {factor}")
    if len(pixels) != 3 * width * height:
        raise ValueError(
            f"box_downscale: need {3 * width * height} RGB bytes, got {len(pixels)}"
        )
    nw, nh = -(-width // factor), -(-height // factor)
    out = bytearray(3 * nw * nh)
    for y in range(nh):
        rows = range(y * factor, min((y + 1) * factor, height))
        for x in range(nw):
            cols = range(x * factor, min((x + 1) * factor, width))
            n = len(rows) * len(cols)
            for c in range(3):
                out[3 * (nw * y + x) + c] = (
                    sum(pixels[3 * (width * r + col) + c] for r in rows for col in cols)
                    // n
                )
    return nw, nh, bytes(out)


def resize_image(buf: bytes, factor: int = RESIZE_FACTOR, out_format: str = "png") -> bytes:
    """Codec-backed image resize: decode the payload with the real codecs
    (PNG/JPEG/GIF/BMP/PPM — ``decode_image``), box-average downscale by
    ``factor``, re-encode as PNG or BMP.  This replaced the r13 byte-stride
    stand-in once the repo had real decoders (r14 verdict #2)."""
    w, h, px = decode_image(buf)
    nw, nh, small = box_downscale(px, w, h, factor)
    if out_format == "png":
        return encode_png(small, nw, nh)
    if out_format == "bmp":
        return encode_bmp(small, nw, nh)
    raise ValueError(f"resize_image: unsupported output format {out_format!r}")


def _resize_batches(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        cooked = []
        for payload in pdf["payload"]:
            out = resize_image(bytes(payload))
            w, h, _ = decode_image(out)
            cooked.append((out, len(payload), len(out), w, h))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "payload": [c[0] for c in cooked],
                "orig_bytes": [c[1] for c in cooked],
                "resized_bytes": [c[2] for c in cooked],
                "resized_w": [c[3] for c in cooked],
                "resized_h": [c[4] for c in cooked],
            }
        )


def resize_payload(df: DataFrame) -> DataFrame:
    """Real codec-backed resize over an ENCODED-image payload column:
    decode (any supported format) → ``RESIZE_FACTOR`` box-average
    downscale → re-encode as PNG.  Output keeps the binary payload column
    plus before/after sizes and the new dimensions, so downstream stages
    see the same binary-plus-metadata shape they started with.  Narrow
    Arrow-batched mapInPandas — no shuffle; unsupported payload formats
    raise loudly (the decode_image contract)."""
    return df.select("doc_id", "payload").mapInPandas(_resize_batches, RESIZED_SCHEMA)


def _resized_px_sum(payload: bytes) -> int:
    """The decoded-checksum discipline for the RESIZE chain: the payload's
    leading 3·10·6 bytes → real PNG encode → decode → 2x2 box-average to
    5x3 → BMP encode → decode → checksum of the FINAL pixels.  The oracle
    recomputes the box averages directly over the source bytes, so the
    hash gate passes only when both codec round-trips AND the integer
    resample are exact."""
    need = 3 * RESIZE_SRC_W * RESIZE_SRC_H
    px = bytes(payload[:need]).ljust(need, b"\x00")
    out = resize_image(encode_png(px, RESIZE_SRC_W, RESIZE_SRC_H), RESIZE_FACTOR, "bmp")
    w, h, dec = decode_image(out)
    if (w, h) != (RESIZE_SRC_W // RESIZE_FACTOR, RESIZE_SRC_H // RESIZE_FACTOR):
        raise ValueError(f"resize gate: unexpected output dims {w}x{h}")
    return sum(dec) % CHECKSUM_MOD


# ── dHash: perceptual image hashing as PURE Catalyst expressions ─────────
#
# Image near-dup detection (the pHash/dHash family every crawl pipeline
# runs before training on images) with ZERO Python in the hot path: the
# payload thumbnail → grayscale → 2x2 box-average → difference-hash
# chain compiles to JVM higher-order functions (transform / aggregate
# over small arrays), so it scans like any other expression — no Arrow
# hop, no UDF.  The hash is split into two 32-bit halves (dhash_hi =
# grid rows 0..3, dhash_lo = rows 4..7) so neither engine ever shifts
# into the BIGINT sign bit, and near-dup candidates band-join on the
# four natural 16-bit slices (the minhash/LSH banding discipline —
# never all-pairs).  Hamming distance = bit_count(hi XOR hi') +
# bit_count(lo XOR lo').  Every step is integer arithmetic a DuckDB
# oracle replays over the source bytes.

DHASH_W, DHASH_H = 18, 16  # thumbnail: 2x2 box-average down to a 9x8 grid
DHASH_BYTES = 3 * DHASH_W * DHASH_H


def with_dhash(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Append ``dhash_hi``/``dhash_lo`` (two 32-bit halves of the 64-bit
    difference hash) computed entirely JVM-side.  Stages stay separate
    named projections (_gray/_cells are referenced multiple times —
    CollapseProject keeps non-cheap duplicated expressions staged, so
    each array materializes once per row)."""
    npx = DHASH_W * DHASH_H
    hexed = df.withColumn(
        "_hex", F.expr(f"hex(rpad({payload_col}, {DHASH_BYTES}, x'00'))")
    )
    # each channel term parses the pixel's whole 6-hex-digit chunk (its
    # packed 24-bit RGB) and shifts/masks out its channel, instead of
    # parsing its own 2-digit substring (r18).  Measured: full chain
    # 1.31 -> 1.13 s at sf0.1/32c, bit-exact vs the per-channel form.
    # No mechanism is claimed: the three conv calls sit inside a
    # transform() lambda, where codegen does no subexpression
    # elimination (see functions/text.py)
    gray = hexed.withColumn(
        "_gray",
        F.expr(
            f"transform(sequence(0, {npx - 1}), p -> CAST(("
            "  CAST(shiftright(CAST(conv(substring(_hex, 6*p+1, 6), 16, 10)"
            "       AS BIGINT), 16) AS INT)"
            "+ CAST(shiftright(CAST(conv(substring(_hex, 6*p+1, 6), 16, 10)"
            "       AS BIGINT), 8) & 255 AS INT)"
            "+ CAST(CAST(conv(substring(_hex, 6*p+1, 6), 16, 10)"
            "       AS BIGINT) & 255 AS INT)"
            ") DIV 3 AS INT))"
        ),
    )
    # cell c (9 cols x 8 rows, c = 9*j + i) averages the 2x2 pixel block
    # at (2i, 2j); row stride 18 px, element_at is 1-based
    # element_at takes an INT index while DIV yields BIGINT — every
    # index expression carries an explicit INT cast
    idx = "CAST(36*(c DIV 9) + 2*(c % 9) + {o} AS INT)"
    cells = gray.withColumn(
        "_cells",
        F.expr(
            "transform(sequence(0, 71), c -> CAST(("
            f"  element_at(_gray, {idx.format(o=1)})"
            f"+ element_at(_gray, {idx.format(o=2)})"
            f"+ element_at(_gray, {idx.format(o=19)})"
            f"+ element_at(_gray, {idx.format(o=20)})"
            ") DIV 4 AS INT))"
        ),
    )

    def half(row_base: int) -> str:
        # bit k of this half: grid row row_base + k DIV 8, columns
        # (i, i+1) with i = k % 8 — 1 iff the right cell is brighter
        left = f"CAST(({row_base} + k DIV 8)*9 + (k % 8) + 1 AS INT)"
        right = f"CAST(({row_base} + k DIV 8)*9 + (k % 8) + 2 AS INT)"
        return (
            "aggregate(sequence(0, 31), 0L, (acc, k) -> acc + IF("
            f"element_at(_cells, {right}) > element_at(_cells, {left}), "
            "shiftleft(1L, k), 0L))"
        )

    return (
        cells.withColumn("dhash_hi", F.expr(half(0)))
        .withColumn("dhash_lo", F.expr(half(4)))
        .drop("_hex", "_gray", "_cells")
    )


def dhash_reference(payload: bytes) -> tuple[int, int]:
    """Pure-Python reference of the dHash chain (pytest parity pin)."""
    raw = bytes(payload[:DHASH_BYTES]).ljust(DHASH_BYTES, b"\x00")
    gray = [
        (raw[3 * p] + raw[3 * p + 1] + raw[3 * p + 2]) // 3
        for p in range(DHASH_W * DHASH_H)
    ]
    cells = [
        (
            gray[36 * j + 2 * i]
            + gray[36 * j + 2 * i + 1]
            + gray[36 * j + 2 * i + 18]
            + gray[36 * j + 2 * i + 19]
        )
        // 4
        for j in range(8)
        for i in range(9)
    ]
    def half(row_base):
        acc = 0
        for k in range(32):
            j, i = row_base + k // 8, k % 8
            if cells[9 * j + i + 1] > cells[9 * j + i]:
                acc += 1 << k
        return acc
    return half(0), half(4)


def dhash_near_pairs(
    df: DataFrame, max_hamming: int = 6, id_col: str = "doc_id"
) -> DataFrame:
    """Banded near-dup pair search over ``dhash_hi``/``dhash_lo`` (from
    ``with_dhash``): candidates must share one of the four 16-bit hash
    slices (the minhash/LSH banding discipline), then verify by exact
    Hamming distance ``bit_count(hi XOR hi') + bit_count(lo XOR lo')``.

    Banding bounds pair work ONLY when band values distribute — true of
    real image corpora (the hash input spans the full byte range), NOT
    of ASCII-text payload prefixes, where short docs share all-zero
    bottom grid rows and a degenerate band funnels everything into one
    bucket (measured: text payloads at sf0.1 band-join to all-pairs).
    That is why the REGISTRY row gates the per-doc hash + exact-hash
    groups instead, and this pair search is pytest-pinned on image-like
    fixtures (tests/test_multimodal.py) — the documented contract is
    the LSH one: banding is a recall/cost dial, not a correctness
    guarantee, and a skewed band behaves like a hot LSH bucket."""
    # materialize the (id, hi, lo) table before the self-join: the hash
    # columns are lambda-expression chains, and re-optimizing them on
    # both join branches inlines the staged transforms multiply
    # (measured: the join stage hangs otherwise).  Standard LSH practice
    # anyway — you persist the tiny hash table before banding.
    h = df.select(id_col, "dhash_hi", "dhash_lo").localCheckpoint(eager=True)
    bands = h.select(
        id_col,
        "dhash_hi",
        "dhash_lo",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("band_id"),
                    F.expr("shiftright(dhash_hi, 16)").alias("band_val"),
                ),
                F.struct(
                    F.lit(1).alias("band_id"),
                    F.expr("dhash_hi & 65535").alias("band_val"),
                ),
                F.struct(
                    F.lit(2).alias("band_id"),
                    F.expr("shiftright(dhash_lo, 16)").alias("band_val"),
                ),
                F.struct(
                    F.lit(3).alias("band_id"),
                    F.expr("dhash_lo & 65535").alias("band_val"),
                ),
            )
        ).alias("b"),
    ).select(
        F.col(id_col), "dhash_hi", "dhash_lo", "b.band_id", "b.band_val"
    )
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.dhash_hi").alias("hi_a"),
            F.col("a.dhash_lo").alias("lo_a"),
            F.col("b.dhash_hi").alias("hi_b"),
            F.col("b.dhash_lo").alias("lo_b"),
        )
        .distinct()
    )
    return (
        pairs.withColumn(
            "hamming",
            F.expr(
                "CAST(bit_count(hi_a ^ hi_b) + bit_count(lo_a ^ lo_b) AS INT)"
            ),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
