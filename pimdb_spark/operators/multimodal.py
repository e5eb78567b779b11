"""Multimodal-column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched Pandas functions.  Every
media operator (here, operators/audio.py and operators/video.py) enters
Python through the one ``map_rows`` shape: mapInPandas over a few
columns, one per-row function returning that row's output rows.

Image decoding is REAL for the container formats whose headers are
parseable in pure Python — PNG, GIF (87a/89a), BMP, and JPEG (see
``parse_image_header``).  Pixel decoding is real for the same four
formats, behind one magic-byte dispatch (``_decode_pixels``): PNG
inflate + filters, BMP rows, GIF LZW (one block walk, ``gif_images``,
shared with the video frame decoder) and one baseline JPEG decoder
(``jpeg_decode_pixels``) for grayscale, 4:4:4 and 4:2:0 YCbCr.  Header
decoding of exotic formats still needs Pillow (picked up automatically
when installed).  Payloads with unrecognized magic bytes fall back to a
clearly-marked deterministic stub (``_fake_decode``) in
``decode_images`` unless ``strict=True``, which refuses them.

Scale notes: binary payloads stay columnar (parquet BINARY) end to end;
mapInPandas streams Arrow batches so one task holds batch_size payloads,
not a partition's worth of decoded frames.  Partition by content size
upstream if payloads are heavily skewed.
"""

from __future__ import annotations

import hashlib
import math
import struct
import zlib
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

try:  # real decoder if available (not in this container)
    from PIL import Image  # noqa: F401

    _HAVE_PIL = True
except ImportError:
    _HAVE_PIL = False


def map_rows(
    df: DataFrame, cols: list[str], schema: StructType, fn: Callable[..., list[tuple]]
) -> DataFrame:
    """The media operators' one Arrow entry shape: mapInPandas over
    ``df.select(*cols)`` where ``fn(*values)`` maps one input row to a list
    of output rows (tuples in ``schema`` field order — one row for most
    operators, several for a frame sampler).  Each Arrow batch becomes
    one pandas frame, so a task holds batch_size payloads at a time."""
    names = schema.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for values in zip(*(pdf[c] for c in cols)):
                rows.extend(fn(*values))
            yield pd.DataFrame(rows, columns=names)

    return df.select(*cols).mapInPandas(run, schema)


def with_binary_payload(df: DataFrame, text_col: str, mime: str = "application/octet-stream") -> DataFrame:
    """Attach an opaque binary payload column + typed metadata struct.
    (In production the payload comes from the source — images, audio —
    here we derive one from text so the plumbing is exercised end to end.)"""
    payload = F.encode(F.col(text_col), "utf-8")
    return df.withColumn("payload", payload).withColumn(
        "media_meta",
        F.struct(
            F.lit(mime).alias("mime"),
            F.length(payload).alias("n_bytes"),
            F.md5(F.col(text_col)).alias("checksum"),
        ),
    )


DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mode", StringType()),
        StructField("n_bytes", LongType()),
    ]
)


def _fake_decode(payload: bytes) -> tuple[int, int, str]:
    """STUB: deterministic fake image header derived from the payload hash.
    Used only for payloads whose magic bytes match no supported format
    (see parse_image_header) when strict=False — the Spark-side schema,
    batching, and partitioning are identical either way."""
    h = hashlib.md5(payload).digest()
    width = 64 + h[0] % 192
    height = 64 + h[1] % 192
    mode = ["RGB", "RGBA", "L"][h[2] % 3]
    return width, height, mode


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# PNG color types (PNG spec §11.2.2) mapped to PIL-style mode names.
_PNG_MODES = {0: "L", 2: "RGB", 3: "P", 4: "LA", 6: "RGBA"}
_BMP_MODES = {1: "1", 4: "P", 8: "P", 24: "RGB", 32: "RGBA"}
_JPEG_MODES = {1: "L", 3: "RGB", 4: "CMYK"}


def parse_image_header(data: bytes) -> tuple[int, int, str]:
    """REAL header-level image decode, pure Python (no Pillow needed).

    Supported (public container formats, dimensions read from the spec'd
    header offsets):

    - **PNG**: 8-byte signature then the IHDR chunk — width/height are
      big-endian u32 at bytes 16..24, color type at byte 25.
    - **GIF** (87a & 89a): logical screen width/height, little-endian u16
      at bytes 6..10; palette-indexed, so mode is ``P``.
    - **BMP**: BITMAPINFOHEADER — width (i32le) at offset 18, height
      (i32le, negative = top-down) at 22, bits-per-pixel (u16le) at 28.
    - **JPEG**: segment walk from SOI to the first SOF0..SOF15 frame
      header (skipping DHT/DAC/RST); height/width are big-endian u16 at
      frame offsets 5/7, component count at 9.

    Anything else raises ValueError (decode_images(strict=True) surfaces
    that; strict=False falls back to the _fake_decode stub).

    Returns (width, height, mode) with PIL-style mode names.
    """
    if data[:8] == _PNG_SIG and data[12:16] == b"IHDR" and len(data) >= 26:
        width = int.from_bytes(data[16:20], "big")
        height = int.from_bytes(data[20:24], "big")
        color_type = data[25]
        return width, height, _PNG_MODES.get(color_type, f"PNG{color_type}")
    if data[:6] in (b"GIF87a", b"GIF89a") and len(data) >= 10:
        width = int.from_bytes(data[6:8], "little")
        height = int.from_bytes(data[8:10], "little")
        return width, height, "P"
    if data[:2] == b"BM" and len(data) >= 30:
        width = int.from_bytes(data[18:22], "little", signed=True)
        height = int.from_bytes(data[22:26], "little", signed=True)
        bpp = int.from_bytes(data[28:30], "little")
        return width, abs(height), _BMP_MODES.get(bpp, f"BMP{bpp}")
    if data[:2] == b"\xff\xd8":
        i = 2
        while i + 9 < len(data):
            if data[i] != 0xFF:
                break
            marker = data[i + 1]
            if marker == 0xD9:  # EOI: end of image — no SOF found
                break
            if marker == 0x01 or 0xD0 <= marker <= 0xD8:  # standalone
                i += 2
                continue
            seg_len = int.from_bytes(data[i + 2 : i + 4], "big")
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                height = int.from_bytes(data[i + 5 : i + 7], "big")
                width = int.from_bytes(data[i + 7 : i + 9], "big")
                ncomp = data[i + 9]
                return width, height, _JPEG_MODES.get(ncomp, f"C{ncomp}")
            i += 2 + seg_len
    raise ValueError(f"unrecognized image format (magic: {data[:8]!r})")


# ---------------------------------------------------------------------------
# Deterministic image ENCODERS — test-fixture stand-ins for a real binary
# source (this container ships no media files).  Each emits a fully valid
# file (CRC'd PNG chunks, LZW-coded GIF image data, row-padded BMP), so the
# parse path above is exercised against spec-conformant bytes, not
# hand-waved headers.


def encode_png(width: int, height: int, seed: int = 0) -> bytes:
    """Minimal valid RGB PNG: signature + IHDR + one zlib IDAT + IEND,
    CRC32 on every chunk; pixel bytes are a deterministic seed-derived
    gradient (filter type 0 per scanline)."""

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    raw = bytearray()
    for y in range(height):
        raw.append(0)  # filter: None
        for x in range(width):
            raw += bytes(
                ((seed + x + y) % 256, (seed * 3 + x) % 256, (seed * 7 + y) % 256)
            )
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + chunk(b"IEND", b"")
    )


def encode_gif(width: int, height: int) -> bytes:
    """Minimal valid GIF89a: logical screen descriptor, 2-entry global
    color table (black/white), one image block whose LZW stream emits a
    clear code before every pixel literal (keeps the code width fixed at
    3 bits — simple, spec-valid, compresses terribly, decodes
    everywhere).  Pixels are a checkerboard (palette index (x+y) % 2),
    NOT a constant fill — so a pixel decoder that fabricates zeros
    cannot pass the channel-stats oracle by accident."""
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out += b"\xf0\x00\x00"  # GCT flag, 1-bit color, bg 0, no aspect
    out += b"\x00\x00\x00\xff\xff\xff"  # 2-entry palette
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
    out += b"\x02"  # LZW minimum code size
    # bit-pack LSB-first: [clear(4), px]*n then end(5), all 3-bit codes
    bits = bytearray()
    acc = n_acc = 0

    def emit(code: int):
        nonlocal acc, n_acc
        acc |= code << n_acc
        n_acc += 3
        while n_acc >= 8:
            bits.append(acc & 0xFF)
            acc >>= 8
            n_acc -= 8

    for y in range(height):
        for x in range(width):
            emit(4)  # clear
            emit((x + y) % 2)  # pixel literal: checkerboard palette index
    emit(5)  # end of information
    if n_acc:
        bits.append(acc & 0xFF)
    for i in range(0, len(bits), 255):  # sub-blocks
        block = bits[i : i + 255]
        out += bytes([len(block)]) + block
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


def encode_bmp(width: int, height: int, seed: int = 0) -> bytes:
    """Minimal valid 24-bit BMP: BITMAPFILEHEADER + BITMAPINFOHEADER +
    bottom-up BGR rows padded to 4 bytes."""
    row_raw = width * 3
    pad = (4 - row_raw % 4) % 4
    pixels = bytearray()
    # bottom-up storage: image row h-1 first, so image-space pixel (x, y)
    # carries b=(seed+x), g=(seed+y), r=(x+y) after decoding
    for y in range(height - 1, -1, -1):
        for x in range(width):
            pixels += bytes(((seed + x) % 256, (seed + y) % 256, (x + y) % 256))
        pixels += b"\x00" * pad
    offset = 14 + 40
    header = b"BM" + struct.pack("<IHHI", offset + len(pixels), 0, 0, offset)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixels), 2835, 2835, 0, 0)
    return header + info + bytes(pixels)


def png_decode_pixels(data: bytes) -> tuple[int, int, bytes]:
    """REAL pixel decode of an 8-bit RGB (color type 2) PNG, pure Python:
    concatenate IDAT chunks, zlib-inflate, and reconstruct scanlines by
    undoing the per-line filter (all five spec'd types: None/Sub/Up/
    Average/Paeth).  Returns (width, height, RGB byte triples, row-major).
    Raises ValueError for non-PNG bytes or unsupported color types."""
    w, h, mode = parse_image_header(data)
    if data[:8] != _PNG_SIG or mode != "RGB":
        raise ValueError(f"png_decode_pixels: not an RGB PNG (mode {mode})")
    i, idat = 8, b""
    while i + 8 <= len(data):
        ln = int.from_bytes(data[i : i + 4], "big")
        tag = data[i + 4 : i + 8]
        if tag == b"IDAT":
            idat += data[i + 8 : i + 8 + ln]
        if tag == b"IEND":
            break
        i += 12 + ln
    raw = zlib.decompress(idat)
    bpp, stride = 3, w * 3
    out = bytearray()
    prev = bytearray(stride)
    pos = 0
    for _y in range(h):
        f = raw[pos]
        pos += 1
        line = bytearray(raw[pos : pos + stride])
        pos += stride
        if f == 1:  # Sub
            for k in range(bpp, stride):
                line[k] = (line[k] + line[k - bpp]) & 255
        elif f == 2:  # Up
            for k in range(stride):
                line[k] = (line[k] + prev[k]) & 255
        elif f == 3:  # Average
            for k in range(stride):
                a = line[k - bpp] if k >= bpp else 0
                line[k] = (line[k] + ((a + prev[k]) >> 1)) & 255
        elif f == 4:  # Paeth
            for k in range(stride):
                a = line[k - bpp] if k >= bpp else 0
                b = prev[k]
                c = prev[k - bpp] if k >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[k] = (line[k] + pr) & 255
        elif f != 0:
            raise ValueError(f"png_decode_pixels: unknown filter {f}")
        out += line
        prev = line
    return w, h, bytes(out)


def bmp_decode_pixels(data: bytes) -> tuple[int, int, bytes]:
    """REAL pixel decode of a 24-bit BMP: bottom-up BGR rows with 4-byte
    padding, returned as top-down RGB triples (same layout as the PNG
    decoder)."""
    w, h, mode = parse_image_header(data)
    if data[:2] != b"BM" or mode != "RGB":
        raise ValueError(f"bmp_decode_pixels: not a 24-bit BMP (mode {mode})")
    offset = int.from_bytes(data[10:14], "little")
    height_raw = int.from_bytes(data[22:26], "little", signed=True)
    row_raw = w * 3
    pad = (4 - row_raw % 4) % 4
    rows = []
    pos = offset
    for _y in range(h):
        row = data[pos : pos + row_raw]
        rows.append(bytes(row))
        pos += row_raw + pad
    if height_raw > 0:  # bottom-up storage -> reverse to top-down
        rows.reverse()
    out = bytearray()
    for row in rows:
        for x in range(w):
            b, g, r = row[x * 3], row[x * 3 + 1], row[x * 3 + 2]
            out += bytes((r, g, b))
    return w, h, bytes(out)


def gif_images(
    data: bytes, who: str
) -> Iterator[tuple[int, int, int, int, list[tuple[int, int, int]], list[int]]]:
    """The GIF block walk both GIF decoders share (gif_decode_pixels below
    and operators/video.gif_decode_frames): reads the global color table,
    skips extension blocks and yields, per image descriptor, (left, top,
    width, height, palette, LZW-decoded palette indices), the palette
    being the descriptor's local color table when it has one, else the
    global one.  Ends at the trailer.  A lazy generator, so a caller that
    wants the first image reads nothing after it.  Every byte read is
    bounds-checked: truncation, interlacing, an unknown block or a corrupt
    LZW stream raises ValueError tagged with ``who`` (never IndexError)."""

    def at(p: int) -> int:
        if p >= len(data):
            raise ValueError(f"{who}: truncated GIF")
        return data[p]

    def read_palette(p: int, n: int) -> tuple[list[tuple[int, int, int]], int]:
        if p + 3 * n > len(data):
            raise ValueError(f"{who}: truncated color table")
        return [tuple(data[p + 3 * i : p + 3 * i + 3]) for i in range(n)], p + 3 * n

    packed = at(10)
    pos = 13
    gct: list[tuple[int, int, int]] = []
    if packed & 0x80:
        gct, pos = read_palette(pos, 2 ** ((packed & 7) + 1))
    while True:
        b = at(pos)
        if b == 0x3B:  # trailer
            return
        if b == 0x21:  # extension: label + sub-blocks
            pos += 2
            while at(pos) != 0:
                pos += 1 + at(pos)
            pos += 1
            continue
        if b != 0x2C:
            raise ValueError(f"{who}: unexpected block 0x{b:02x}")
        ipacked = at(pos + 9)
        left, top, fw, fh = struct.unpack("<HHHH", data[pos + 1 : pos + 9])
        pos += 10
        if ipacked & 0x40:
            raise ValueError(f"{who}: interlaced GIFs unsupported")
        palette = gct
        if ipacked & 0x80:  # local color table overrides
            palette, pos = read_palette(pos, 2 ** ((ipacked & 7) + 1))
        min_code = at(pos)
        # codes are at most 12 bits wide; a larger size would make the LZW
        # decoder build a 2**min_code-entry table
        if min_code > 11:
            raise ValueError(f"{who}: LZW minimum code size {min_code} over 11")
        pos += 1
        stream = bytearray()
        while at(pos) != 0:
            n = at(pos)
            if pos + 1 + n > len(data):
                raise ValueError(f"{who}: truncated image sub-block")
            stream += data[pos + 1 : pos + 1 + n]
            pos += 1 + n
        pos += 1  # block terminator
        yield left, top, fw, fh, palette, gif_lzw_decode(bytes(stream), min_code, who)


def gif_rgb(palette: list[tuple[int, int, int]], indices, who: str) -> bytes:
    """Palette lookup of GIF indices to RGB triples; an index outside the
    color table (or any index with no table at all) raises ValueError."""
    if indices and max(indices) >= len(palette):
        raise ValueError(f"{who}: pixel index outside color table")
    return b"".join(bytes(palette[i]) for i in indices)


def gif_decode_pixels(data: bytes) -> tuple[int, int, bytes]:
    """REAL pixel decode of a (non-interlaced) GIF's first image, pure
    Python, through the shared block walk ``gif_images``: general
    variable-width LZW decompression of the image data sub-blocks, palette
    lookup through the global/local color table.  Returns (width, height,
    RGB triples, top-down row-major) at the logical screen size.  Raises
    ValueError for non-GIF, truncated, or interlaced images (never
    IndexError — every byte read while walking extensions/sub-blocks is
    bounds-checked, so a cut-off stream surfaces as the contracted
    exception); bytes after the first image are never read."""
    w, h, _mode = parse_image_header(data)
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("gif_decode_pixels: not a GIF")
    image = next(gif_images(data, "gif_decode_pixels"), None)
    if image is None:
        raise ValueError("gif_decode_pixels: image descriptor not found")
    palette, out = image[4], image[5]
    if len(out) < w * h:
        raise ValueError("gif_decode_pixels: pixel stream short")
    return w, h, gif_rgb(palette, out[: w * h], "gif_decode_pixels")


def gif_lzw_decode(stream: bytes, min_code: int, err: str = "gif_lzw_decode") -> list[int]:
    """General variable-width GIF LZW decompression of a concatenated
    sub-block stream: LSB-first codes, dynamic table growth to 12 bits,
    clear/end handling.  Returns palette indices; raises ValueError (tagged
    with ``err``) on corrupt codes.  Called by the shared GIF block walk
    (gif_images) for every image."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    base = {i: (i,) for i in range(clear)}
    table: dict[int, tuple[int, ...]] = dict(base)
    next_code, width = end + 1, min_code + 1
    prev: tuple[int, ...] | None = None
    out: list[int] = []
    bitpos = 0
    total_bits = len(stream) * 8
    while bitpos + width <= total_bits:
        code = 0  # LSB-first variable-width code read
        for b in range(width):
            code |= ((stream[(bitpos + b) >> 3] >> ((bitpos + b) & 7)) & 1) << b
        bitpos += width
        if code == clear:
            table, next_code, width, prev = dict(base), end + 1, min_code + 1, None
            continue
        if code == end:
            break
        if code in table:
            entry = table[code]
        elif code == next_code and prev is not None:
            entry = prev + (prev[0],)
        else:
            raise ValueError(f"{err}: corrupt LZW code {code}")
        out.extend(entry)
        if prev is not None:
            table[next_code] = prev + (entry[0],)
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = entry
    return out


# ---------------------------------------------------------------------------
# Baseline JPEG (ITU T.81 sequential DCT): a real pure-Python encoder and
# decoder pair.  The decoder implements the full general baseline path —
# DQT/DHT/SOF0/SOS marker parse, canonical Huffman decode built from the
# file's OWN DHT segments, byte-unstuffed bit reading, DC prediction,
# zigzag, dequantization, a genuine 2-D IDCT, level shift — for 8-bit
# baseline streams in the grayscale, 4:4:4 and 4:2:0 sampling layouts
# (chroma upsampled by pixel replication).  Bit-exactness for the oracle
# fixtures comes from the INPUT structure, not decoder shortcuts: pixels
# constant per 8x8 block have a DC-only DCT, and with the DC quant step
# equal to the DCT's own gain (8) the quantized DC is exactly
# pixel - 128, so the decode round-trips integer-exact.  Non-constant
# images round-trip through the same code within normal JPEG quantization
# error (tests assert both).


def _zigzag_order() -> list[int]:
    # Generate T.81's zigzag scan: diagonals x+y = s; odd s runs from
    # (s,0) toward (0,s) (x decreasing), even s the reverse.
    order = []
    for s in range(15):
        xs = range(min(s, 7), max(0, s - 7) - 1, -1) if s % 2 else range(
            max(0, s - 7), min(s, 7) + 1
        )
        for x in xs:
            y = s - x
            order.append(8 * y + x)
    return order


_ZIGZAG = _zigzag_order()
_JPEG_COS = [
    [math.cos((2 * x + 1) * u * math.pi / 16) for u in range(8)] for x in range(8)
]
_JPEG_C = [math.sqrt(0.5)] + [1.0] * 7
# the IDCT's row factor cos((2y+1)v*pi/16) * C(v), indexed [y][v]
_JPEG_CY = [[_JPEG_COS[y][v] * _JPEG_C[v] for v in range(8)] for y in range(8)]
# quant table (natural order): DC step 8 (the DCT gain — constant blocks
# quantize losslessly), AC step 16.
_JPEG_QUANT = [8] + [16] * 63
# Canonical Huffman tables written to DHT: DC categories 0..11 as 4-bit
# codes; all 162 standard AC symbols (EOB, (run,size) r=0..15 s=1..10, ZRL)
# as 9-bit codes.  162 < 2^9 and canonical assignment starts at 0, so the
# all-ones code is never used (T.81 requirement).
_DC_SYMBOLS = list(range(12))
_AC_SYMBOLS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]
_DC_BITS = [0] * 16
_DC_BITS[3] = 12  # twelve 4-bit codes
_AC_BITS = [0] * 16
_AC_BITS[8] = len(_AC_SYMBOLS)  # 9-bit codes


def _canonical_codes(bits: list[int], symbols: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per T.81 canonical assignment."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for li, n in enumerate(bits):
        length = li + 1
        for _ in range(n):
            out[symbols[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # 1-padding per spec
        return bytes(self.out)


def encode_jpeg(
    width: int, height: int, seed: int = 0, pixels: bytes | None = None
) -> bytes:
    """Fully valid baseline (SOF0) grayscale JPEG.  Without ``pixels``,
    values are constant per 8x8 block: pixel(x, y) =
    (seed + 16*(x div 8) + 29*(y div 8)) % 256 — the generative formula
    the catalog oracle reproduces.  The encoder runs the real pipeline
    (level shift, float forward DCT, quantization, DC prediction, zigzag
    run-length, canonical Huffman, byte stuffing); the block-constant
    input makes every quantized AC exactly 0 and the quantized DC exactly
    pixel-128, so the file decodes bit-exact.  With ``pixels`` (row-major
    grayscale bytes), any image encodes through the same path with normal
    JPEG quantization loss — the general-AC test input."""
    dc_codes = _canonical_codes(_DC_BITS, _DC_SYMBOLS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_SYMBOLS)
    bw = _BitWriter()
    pred = 0
    mcus_x, mcus_y = (width + 7) // 8, (height + 7) // 8

    def px_at(px: int, py: int) -> int:
        px, py = min(px, width - 1), min(py, height - 1)  # edge replication
        if pixels is not None:
            return pixels[py * width + px] - 128
        return (seed + 16 * (px // 8) + 29 * (py // 8)) % 256 - 128

    for my in range(mcus_y):
        for mx in range(mcus_x):
            block = [
                [px_at(mx * 8 + x, my * 8 + y) for x in range(8)]
                for y in range(8)
            ]
            pred = _encode_block(bw, block, pred, dc_codes, ac_codes)
    scan = bw.flush()
    dqt = _jpeg_seg(0xDB, b"\x00" + bytes(_JPEG_QUANT[pos] for pos in _ZIGZAG))
    sof = _jpeg_seg(
        0xC0, struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0])
    )
    dht = _jpeg_seg(
        0xC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_SYMBOLS)
    ) + _jpeg_seg(0xC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_SYMBOLS))
    sos = _jpeg_seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    return b"\xff\xd8" + dqt + sof + dht + sos + scan + b"\xff\xd9"


def _jpeg_seg(marker: int, body: bytes) -> bytes:
    # DQT body stores the table in zigzag order (callers pass it so)
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def _encode_block(bw, block, pred: int, dc_codes, ac_codes) -> int:
    """Forward-DCT, quantize, and entropy-code one 8x8 level-shifted
    sample block; returns the new DC predictor."""
    coef = [[0.0] * 8 for _ in range(8)]
    for v in range(8):
        for u in range(8):
            s = 0.0
            for y in range(8):
                for x in range(8):
                    s += block[y][x] * _JPEG_COS[x][u] * _JPEG_COS[y][v]
            coef[v][u] = _JPEG_C[u] * _JPEG_C[v] * s / 4.0
    q = [int(round(coef[zz // 8][zz % 8] / _JPEG_QUANT[zz])) for zz in _ZIGZAG]
    diff = q[0] - pred
    size = diff.bit_length() if diff else 0
    code, length = dc_codes[size]
    bw.write(code, length)
    if size:
        bw.write(diff if diff > 0 else diff + (1 << size) - 1, size)
    run = 0
    for k in range(1, 64):
        if q[k] == 0:
            run += 1
            continue
        while run > 15:
            zc, zl = ac_codes[0xF0]
            bw.write(zc, zl)
            run -= 16
        asize = abs(q[k]).bit_length()
        code, length = ac_codes[(run << 4) | asize]
        bw.write(code, length)
        bw.write(q[k] if q[k] > 0 else q[k] + (1 << asize) - 1, asize)
        run = 0
    if run:  # EOB codes trailing zeros only; a nonzero 63rd coefficient ends the block
        ec, el = ac_codes[0x00]
        bw.write(ec, el)
    return q[0]


# Block-constant YCbCr generative formulas for the color fixture (values
# per 8x8 block index bx, by) — the SQL oracle reproduces them verbatim.
def _color_planes(seed: int, bx: int, by: int) -> tuple[int, int, int]:
    y = (seed + 16 * bx + 29 * by) % 256
    cb = (5 * seed + 11 * bx + 3 * by) % 256
    cr = (7 * seed + 5 * bx + 17 * by) % 256
    return y, cb, cr


def encode_jpeg_color(width: int, height: int, seed: int = 0) -> bytes:
    """Fully valid baseline (SOF0) 3-component 4:4:4 YCbCr JPEG (no
    chroma subsampling): interleaved Y/Cb/Cr blocks per MCU, one shared
    quantization table and DC/AC Huffman table pair for all three
    components (legal baseline), independent DC predictors.  Planes are
    constant per 8x8 block via _color_planes(seed, bx, by), so — as with
    encode_jpeg — every quantized AC is exactly 0, the DC survives the
    quant step exactly (DC step 8 is the DCT gain), and the file decodes
    bit-exact; the SQL oracle predicts every decoded sample."""
    dc_codes = _canonical_codes(_DC_BITS, _DC_SYMBOLS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_SYMBOLS)
    bw = _BitWriter()
    preds = [0, 0, 0]
    mcus_x, mcus_y = (width + 7) // 8, (height + 7) // 8
    for my in range(mcus_y):
        for mx in range(mcus_x):
            vals = _color_planes(seed, mx, my)
            for ci in range(3):
                v = vals[ci] - 128
                block = [[v] * 8 for _ in range(8)]
                preds[ci] = _encode_block(bw, block, preds[ci], dc_codes, ac_codes)
    scan = bw.flush()
    dqt = _jpeg_seg(0xDB, b"\x00" + bytes(_JPEG_QUANT[pos] for pos in _ZIGZAG))
    sof = _jpeg_seg(
        0xC0,
        struct.pack(">BHHB", 8, height, width, 3)
        + bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]),
    )
    dht = _jpeg_seg(
        0xC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_SYMBOLS)
    ) + _jpeg_seg(0xC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_SYMBOLS))
    sos = _jpeg_seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
    return b"\xff\xd8" + dqt + sof + dht + sos + scan + b"\xff\xd9"


def encode_jpeg_color_420(width: int, height: int, seed: int = 0) -> bytes:
    """Fully valid baseline (SOF0) 3-component 4:2:0 YCbCr JPEG — Y at
    2x2 sampling, Cb/Cr at 1x1, the layout virtually every camera and
    web JPEG uses: each 16x16 MCU carries FOUR Y blocks (left-to-right,
    top-to-bottom per spec) then one Cb and one Cr block covering the
    whole MCU at half resolution.  Dimensions must be multiples of 16
    (full MCUs — keeps the generative oracle exact; real decoders pad).

    Generative formulas (the SQL oracle replays them): luma constant per
    8x8 block via _color_planes(seed, bx, by)[0] over the LUMA block
    grid; chroma constant per MCU via _color_planes(seed, mx, my)[1:]
    over the MCU grid — so chroma genuinely varies per MCU and a decoder
    that skips the subsampled Cb/Cr entropy decode or upsamples from the
    wrong grid cannot pass.  Block-constant planes survive the lossy
    pipeline bit-exact (every quantized AC is 0, DC quant step 8 = DCT
    gain), exactly as encode_jpeg_color."""
    if width % 16 or height % 16:
        raise ValueError(
            "encode_jpeg_color_420: dimensions must be multiples of 16 "
            f"(got {width}x{height})"
        )
    dc_codes = _canonical_codes(_DC_BITS, _DC_SYMBOLS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_SYMBOLS)
    bw = _BitWriter()
    preds = [0, 0, 0]
    mcus_x, mcus_y = width // 16, height // 16
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for by in range(2):
                for bx in range(2):
                    yv = _color_planes(seed, 2 * mx + bx, 2 * my + by)[0]
                    block = [[yv - 128] * 8 for _ in range(8)]
                    preds[0] = _encode_block(bw, block, preds[0], dc_codes, ac_codes)
            _, cbv, crv = _color_planes(seed, mx, my)
            for ci, v in ((1, cbv), (2, crv)):
                block = [[v - 128] * 8 for _ in range(8)]
                preds[ci] = _encode_block(bw, block, preds[ci], dc_codes, ac_codes)
    scan = bw.flush()
    dqt = _jpeg_seg(0xDB, b"\x00" + bytes(_JPEG_QUANT[pos] for pos in _ZIGZAG))
    sof = _jpeg_seg(
        0xC0,
        struct.pack(">BHHB", 8, height, width, 3)
        + bytes([1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0]),
    )
    dht = _jpeg_seg(
        0xC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_SYMBOLS)
    ) + _jpeg_seg(0xC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_SYMBOLS))
    sos = _jpeg_seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
    return b"\xff\xd8" + dqt + sof + dht + sos + scan + b"\xff\xd9"


class _BitReader:
    """MSB-first entropy-segment reader with 0xFF00 unstuffing; any other
    marker ends the segment (RSTn unsupported -> ValueError upstream)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0
        self.ended = False

    def bit(self) -> int:
        if self.n == 0:
            if self.ended or self.pos >= len(self.data):
                raise ValueError("jpeg_decode_pixels: truncated entropy segment")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else 0xD9
                if nxt == 0x00:
                    self.pos += 1
                else:
                    self.ended = True
                    raise ValueError("jpeg_decode_pixels: marker inside scan")
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v


def _huff_decode(br: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | br.bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("jpeg_decode_pixels: invalid Huffman code")


def _extend(v: int, size: int) -> int:
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


# SOF sampling bytes (h << 4 | v per component) of the layouts decoded:
# grayscale, 4:4:4 and 4:2:0 (Y 2x2, Cb/Cr 1x1)
_JPEG_LAYOUTS = ([0x11], [0x11, 0x11, 0x11], [0x22, 0x11, 0x11])


def _decode_block(br: _BitReader, pred: int, qt, dc_table, ac_table) -> tuple[int, list[int]]:
    """Entropy-decode one 8x8 block: DC prediction, AC run-length, zigzag
    placement, dequantization.  Returns (new DC predictor, the 64
    coefficients in natural order)."""
    coef = [0] * 64
    size = _huff_decode(br, dc_table)
    pred += _extend(br.bits(size), size) if size else 0
    coef[0] = pred * qt[0]
    k = 1
    while k < 64:
        rs = _huff_decode(br, ac_table)
        if rs == 0x00:
            break
        if rs == 0xF0:
            k += 16
            continue
        k += rs >> 4
        if k > 63:
            raise ValueError("jpeg_decode_pixels: AC index overflow")
        asize = rs & 15
        coef[_ZIGZAG[k]] = _extend(br.bits(asize), asize) * qt[_ZIGZAG[k]]
        k += 1
    return pred, coef


def _idct_block(coef: list[int], plane: bytearray, pw: int, ph: int, ox: int, oy: int) -> None:
    """Full 2-D IDCT, level shift and clamp of one block into the
    ``pw x ph`` plane at (ox, oy), computing only the samples inside the
    plane (the right and bottom blocks of a partial MCU are clipped).
    Each sample sums the nonzero coefficients in natural order, the same
    float operations in the same order as the textbook double loop, so
    the output is bit-stable."""
    nz = [(k >> 3, k & 7, _JPEG_C[k & 7] * c) for k, c in enumerate(coef) if c]
    for y in range(min(8, ph - oy)):
        cy = _JPEG_CY[y]
        row = (oy + y) * pw + ox
        for x in range(min(8, pw - ox)):
            cx = _JPEG_COS[x]
            s = 0.0
            for v, u, a in nz:
                s += a * cx[u] * cy[v]
            val = int(round(s / 4.0)) + 128
            plane[row + x] = 0 if val < 0 else 255 if val > 255 else val


def _upsample(plane: bytearray, pw: int, fx: int, fy: int, w: int, h: int) -> bytearray:
    """Pixel-replication chroma upsampling (libjpeg's non-fancy upsample):
    each sample of the ``pw``-wide plane covers an ``fx x fy`` block of
    the ``w x h`` image.  Bit-deterministic, and exact for any chroma
    plane constant per MCU."""
    if fx == fy == 1:
        return plane
    out = bytearray(w * h)
    for py in range(h):
        src = plane[(py // fy) * pw : (py // fy + 1) * pw]
        line = bytearray(pw * fx)
        for k in range(fx):
            line[k::fx] = src
        out[py * w : (py + 1) * w] = line[:w]
    return out


def jpeg_decode_pixels(data: bytes) -> tuple[int, int, bytes]:
    """REAL baseline-JPEG pixel decode, pure Python: marker walk, DQT /
    DHT (canonical Huffman rebuilt from the file's own tables) / SOF0 /
    SOS parse, byte-unstuffed bit reading, DC prediction, zigzag
    placement, dequantization, full 2-D IDCT, level shift + clamp.

    Each component's sampling factors come from SOF; an interleaved MCU
    carries H x V blocks per component (left to right, top to bottom),
    and each component's plane is ceil(width * H / Hmax) x
    ceil(height * V / Vmax) — the IDCT runs only for samples inside it.
    Supported layouts: grayscale 1x1, 4:4:4 YCbCr, and 4:2:0 (Y 2x2,
    Cb/Cr 1x1 — the camera/web default); any other sampling raises
    ``subsampling unsupported``, as do restart markers and non-baseline
    frames.  Grayscale replicates to RGB triples; 3-component scans
    upsample chroma by pixel replication, then convert YCbCr->RGB with
    dyadic-rational constants and floor rounding (see the conversion
    comment below) so the SQL oracle reproduces every channel exactly.
    Returns (width, height, RGB bytes); malformed input raises
    ValueError, never IndexError."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("jpeg_decode_pixels: not a JPEG (no SOI)")
    quant: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    w = h = 0
    comps: list[tuple[int, ...]] = []  # (component id, h/v sampling, quant table id)
    scan_comps: list[tuple[int, int, int]] = []  # (comp idx, dc tbl, ac tbl)
    i = 2
    while i + 4 <= len(data):
        if data[i] != 0xFF:
            raise ValueError("jpeg_decode_pixels: marker sync lost")
        marker = data[i + 1]
        if marker == 0xD9:
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        ln = int.from_bytes(data[i + 2 : i + 4], "big")
        body = data[i + 4 : i + 2 + ln]
        if ln < 2 or len(body) != ln - 2:
            raise ValueError("jpeg_decode_pixels: truncated marker segment")
        if marker == 0xDB:
            j = 0
            while j < len(body):
                pq, tq = body[j] >> 4, body[j] & 15
                if pq != 0:
                    raise ValueError("jpeg_decode_pixels: 16-bit DQT unsupported")
                if len(body) < j + 65:
                    raise ValueError("jpeg_decode_pixels: truncated DQT")
                nat = [0] * 64
                for k, pos in enumerate(_ZIGZAG):
                    nat[pos] = body[j + 1 + k]
                quant[tq] = nat
                j += 65
        elif marker == 0xC4:
            j = 0
            while j < len(body):
                tc, th = body[j] >> 4, body[j] & 15
                bits = list(body[j + 1 : j + 17])
                nsym = sum(bits)
                syms = list(body[j + 17 : j + 17 + nsym])
                if len(bits) < 16 or len(syms) < nsym:
                    raise ValueError("jpeg_decode_pixels: truncated DHT")
                codes = _canonical_codes(bits, syms)
                huff[(tc, th)] = {(l, c): s for s, (c, l) in codes.items()}
                j += 17 + nsym
        elif marker == 0xC0:
            if len(body) < 6 or len(body) < 6 + 3 * body[5]:
                raise ValueError("jpeg_decode_pixels: truncated SOF")
            h = int.from_bytes(body[1:3], "big")
            w = int.from_bytes(body[3:5], "big")
            if body[5] not in (1, 3):
                raise ValueError(
                    "jpeg_decode_pixels: only 1- or 3-component baseline supported"
                )
            comps = [tuple(body[6 + 3 * c : 9 + 3 * c]) for c in range(body[5])]
            layout = [hv for _, hv, _ in comps]
            if layout not in _JPEG_LAYOUTS:
                raise ValueError(
                    "jpeg_decode_pixels: subsampling unsupported (h/v "
                    + " ".join(f"{hv:02x}" for hv in layout)
                    + "; grayscale 11, 4:4:4 11 11 11 and 4:2:0 22 11 11 decode)"
                )
        elif 0xC1 <= marker <= 0xCF and marker != 0xC4:
            raise ValueError("jpeg_decode_pixels: non-baseline frame type")
        elif marker == 0xDD:
            raise ValueError("jpeg_decode_pixels: restart intervals unsupported")
        elif marker == 0xDA:
            if not body:
                raise ValueError("jpeg_decode_pixels: truncated SOS")
            ns = body[0]
            if len(body) < 1 + 2 * ns:
                raise ValueError("jpeg_decode_pixels: truncated SOS")
            for c in range(ns):
                cs, tbl = body[1 + 2 * c], body[2 + 2 * c]
                matches = [k for k, comp in enumerate(comps) if comp[0] == cs]
                if not matches:
                    raise ValueError(
                        "jpeg_decode_pixels: SOS references unknown component"
                    )
                scan_comps.append((matches[0], tbl >> 4, tbl & 15))
            i = i + 2 + ln
            break
        i += 2 + ln
    if not scan_comps or not w or not h:
        raise ValueError("jpeg_decode_pixels: missing SOF/SOS")
    if sorted(c for c, _, _ in scan_comps) != list(range(len(comps))):
        raise ValueError("jpeg_decode_pixels: scan must cover all components")
    units = []  # per scan component: (comp idx, quant, DC and AC Huffman tables)
    for cidx, dc_t, ac_t in scan_comps:
        qt = quant.get(comps[cidx][2])
        dc_table, ac_table = huff.get((0, dc_t)), huff.get((1, ac_t))
        if qt is None or dc_table is None or ac_table is None:
            raise ValueError(
                "jpeg_decode_pixels: scan references missing DQT/DHT"
            )
        units.append((cidx, qt, dc_table, ac_table))
    sampling = [(hv >> 4, hv & 15) for _, hv, _ in comps]
    hmax = max(sh for sh, _ in sampling)
    vmax = max(sv for _, sv in sampling)
    dims = [((w * sh + hmax - 1) // hmax, (h * sv + vmax - 1) // vmax) for sh, sv in sampling]
    planes = [bytearray(pw * ph) for pw, ph in dims]
    preds = [0] * len(comps)
    br = _BitReader(data, i)
    for my in range((h + 8 * vmax - 1) // (8 * vmax)):
        for mx in range((w + 8 * hmax - 1) // (8 * hmax)):
            for cidx, qt, dc_table, ac_table in units:
                (sh, sv), (pw, ph) = sampling[cidx], dims[cidx]
                for by in range(sv):
                    for bx in range(sh):
                        preds[cidx], coef = _decode_block(
                            br, preds[cidx], qt, dc_table, ac_table
                        )
                        _idct_block(
                            coef, planes[cidx], pw, ph, (mx * sh + bx) * 8, (my * sv + by) * 8
                        )
    rgb = bytearray(w * h * 3)
    if len(comps) == 1:
        gray = planes[0]
        rgb[0::3] = gray
        rgb[1::3] = gray
        rgb[2::3] = gray
        return w, h, bytes(rgb)
    # YCbCr -> RGB with DYADIC-RATIONAL constants and floor rounding,
    # chosen for cross-engine exactness (the SQL oracle reproduces every
    # channel with integer/floor arithmetic):
    #   R = Y + 45/32*(Cr-128)        (1.40625  ~ JFIF 1.402)
    #   G = Y - (11*(Cb-128) + 23*(Cr-128))/32
    #                                 (0.34375 / 0.71875 ~ 0.344/0.714)
    #   B = Y + 113/64*(Cb-128)       (1.765625 ~ JFIF 1.772)
    # Python // floors; all intermediates are exact integers.
    yp = planes[0]
    cbp, crp = (
        _upsample(planes[c], dims[c][0], hmax // sampling[c][0], vmax // sampling[c][1], w, h)
        for c in (1, 2)
    )
    for idx in range(w * h):
        yv, dcb, dcr = yp[idx], cbp[idx] - 128, crp[idx] - 128
        r = yv + (45 * dcr) // 32
        g = yv + (-(11 * dcb + 23 * dcr)) // 32
        b = yv + (113 * dcb) // 64
        o = idx * 3
        rgb[o] = 0 if r < 0 else 255 if r > 255 else r
        rgb[o + 1] = 0 if g < 0 else 255 if g > 255 else g
        rgb[o + 2] = 0 if b < 0 else 255 if b > 255 else b
    return w, h, bytes(rgb)


def _decode_pixels(data: bytes, who: str) -> tuple[int, int, bytes]:
    """Magic-byte dispatch to the pixel decoders above — PNG, BMP, GIF and
    baseline JPEG (grayscale, 4:4:4 or 4:2:0) — the decode step of
    image_channel_stats and image_ahash.  Returns (width, height, RGB
    triples, top-down row-major).  Any other magic, and an image with no
    pixels, raises ValueError tagged with ``who``."""
    if data[:8] == _PNG_SIG:
        decode = png_decode_pixels
    elif data[:2] == b"BM":
        decode = bmp_decode_pixels
    elif data[:6] in (b"GIF87a", b"GIF89a"):
        decode = gif_decode_pixels
    elif data[:2] == b"\xff\xd8":
        decode = jpeg_decode_pixels
    else:
        raise ValueError(
            f"{who}: pixel decode supports PNG/BMP/GIF/JPEG only (magic {data[:4]!r})"
        )
    w, h, px = decode(data)
    if w <= 0 or h <= 0:
        raise ValueError(f"{who}: zero-area image ({w}x{h})")
    return w, h, px


CHANNEL_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_r", DoubleType()),
        StructField("mean_g", DoubleType()),
        StructField("mean_b", DoubleType()),
    ]
)


def image_channel_stats(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Per-channel pixel means from REAL pixel decoding (``_decode_pixels``:
    PNG via inflate + filter reconstruction, BMP via row parsing, GIF via
    general LZW + palette lookup, baseline JPEG — grayscale, 4:4:4 or
    4:2:0 — via Huffman + dequant + IDCT + chroma upsampling) — the
    feature-extraction step of an image-curation pipeline, done on actual
    pixel data in pure Python.  Channel sums are exact integers, so
    mean = sum/count is one bit-stable double division —
    oracle-checkable.  Unsupported formats and zero-area images raise
    ValueError at decode time: this operator never fakes pixel
    statistics.

    Scale: Arrow-batched mapInPandas; one task holds batch_size payloads;
    zero shuffle."""

    def stats(doc_id, payload) -> list[tuple]:
        w, h, px = _decode_pixels(bytes(payload), "image_channel_stats")
        n = w * h
        sr = sum(px[0::3])
        sg = sum(px[1::3])
        sb = sum(px[2::3])
        return [(int(doc_id), w, h, sr / n, sg / n, sb / n)]

    return map_rows(df, [id_col, payload_col], CHANNEL_STATS_SCHEMA, stats)


AHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("hash_lo", LongType()),
        StructField("hash_hi", LongType()),
    ]
)


def image_ahash(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload", grid: int = 8
) -> DataFrame:
    """Perceptual average-hash over REAL decoded pixels: the image-dedup
    primitive.  Pixels are decoded (PNG/GIF/BMP/JPEG, through the same
    ``_decode_pixels`` dispatch as image_channel_stats), reduced to integer
    luma ``(r+g+b)//3``, pooled
    into a ``grid x grid`` block grid (block membership ``x*grid//w`` —
    pure integer floors), and each block emits bit 1 iff its mean
    exceeds the image mean.  The comparison is cross-multiplied
    (``block_sum * total_n > total_sum * block_n``) so the whole hash is
    exact integer arithmetic — bit-for-bit reproducible by a SQL oracle
    from the fixtures' generative pixel formulas (catalog
    q_image_ahash).  The 64 bits are returned as two 32-bit halves
    (hash_lo = bits 0-31, hash_hi = bits 32-63) to stay inside signed
    64-bit range.

    Near-identical images (re-encodes, minor crops/noise) agree on most
    bits, so Hamming distance on (hash_lo, hash_hi) is the image
    near-dup metric; see image_dup_pairs for the banded (not all-pairs)
    pair generation.

    Scale: Arrow-batched mapInPandas; zero shuffle; output is 3 longs
    per image regardless of resolution."""

    def ahash(doc_id, payload) -> list[tuple]:
        w, h, px = _decode_pixels(bytes(payload), "image_ahash")
        bs = [[0] * grid for _ in range(grid)]
        bn = [[0] * grid for _ in range(grid)]
        for y in range(h):
            by = y * grid // h
            row = y * w
            for x in range(w):
                p = (row + x) * 3
                l = (px[p] + px[p + 1] + px[p + 2]) // 3
                bx = x * grid // w
                bs[by][bx] += l
                bn[by][bx] += 1
        ts = sum(map(sum, bs))
        tn = w * h
        lo = hi = 0
        for by in range(grid):
            for bx in range(grid):
                if bs[by][bx] * tn > ts * bn[by][bx]:
                    bit = by * grid + bx
                    if bit < 32:
                        lo |= 1 << bit
                    else:
                        hi |= 1 << (bit - 32)
        return [(int(doc_id), lo, hi)]

    return map_rows(df, [id_col, payload_col], AHASH_SCHEMA, ahash)


def image_dup_pairs(
    hashes: DataFrame, max_hamming: int = 6, band_bits: int = 16
) -> DataFrame:
    """Image near-dup pairs from perceptual hashes WITHOUT an all-pairs
    comparison: the 64-bit aHash is cut into ``64 // band_bits`` bands;
    two images become a candidate pair iff they agree exactly on at
    least one band (pigeonhole: any pair within Hamming distance
    ``64/band_bits - 1`` of band count shares an exact band), then the
    true Hamming distance over both halves (JVM ``bit_count(xor)``)
    verifies.  Identical banding discipline to SimHash text dedup
    (operators/dedup.py) — one shuffle on (band_no, band_value), never
    n².

    Returns (doc_id_a, doc_id_b, hamming) with a < b, distinct.

    Generic over the hash source: any (doc_id, hash_lo, hash_hi) frame
    works — audio fingerprints (operators/audio.audio_fingerprint) reuse
    this exact function via the ``hamming_dup_pairs`` alias below."""
    n_bands = 64 // band_bits
    mask = (1 << band_bits) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_no"),
                (
                    F.shiftrightunsigned(
                        F.col("hash_lo") if i * band_bits < 32 else F.col("hash_hi"),
                        (i * band_bits) % 32,
                    ).bitwiseAND(F.lit(mask))
                ).alias("band_val"),
            )
            for i in range(n_bands)
        ]
    )
    tagged = hashes.select(
        F.col("doc_id"), F.col("hash_lo"), F.col("hash_hi"), F.explode(bands).alias("b")
    ).select("doc_id", "hash_lo", "hash_hi", "b.band_no", "b.band_val")
    a, b = tagged.alias("a"), tagged.alias("b")
    ham = F.bit_count(
        F.col("a.hash_lo").bitwiseXOR(F.col("b.hash_lo"))
    ) + F.bit_count(F.col("a.hash_hi").bitwiseXOR(F.col("b.hash_hi")))
    return (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# band-candidate + hamming-verify pair generation is hash-source-agnostic
hamming_dup_pairs = image_dup_pairs


SYNTH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("fmt", StringType()),
    ]
)


def synth_image_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic image-payload synthesis (the fixture stand-in for a
    real media source): ``doc_id % 3`` picks PNG / GIF / BMP, and the
    dimensions are pure functions of doc_id —

        width  = 16 + (doc_id * 7) % 48
        height = 16 + (doc_id * 13) % 48

    so an SQL oracle can predict exactly what a REAL header decode must
    recover (catalog q_multimodal_decode).  Payloads are fully valid files
    (see the encoders above).  Arrow-batched mapInPandas; zero shuffle."""

    def synth(doc_id) -> list[tuple]:
        i = int(doc_id)
        w = 16 + (i * 7) % 48
        h = 16 + (i * 13) % 48
        fmt = ("png", "gif", "bmp")[i % 3]
        if fmt == "png":
            payload = encode_png(w, h, seed=i)
        elif fmt == "gif":
            payload = encode_gif(w, h)
        else:
            payload = encode_bmp(w, h, seed=i)
        return [(i, payload, fmt)]

    return map_rows(df, [id_col], SYNTH_SCHEMA, synth)


def synth_jpeg_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic baseline-JPEG payload synthesis: same dimension
    formulas as synth_image_payload (width 16 + 7*id % 48, height
    16 + 13*id % 48), pixels constant per 8x8 block via encode_jpeg's
    generative formula (seed = doc_id), so the SQL oracle predicts every
    decoded pixel: value(x, y) = (doc_id + 16*(x div 8) + 29*(y div 8))
    % 256.  Fully valid SOF0 files — DQT/DHT/SOF0/SOS + entropy-coded
    scan.  Arrow-batched mapInPandas; zero shuffle."""

    def synth(doc_id) -> list[tuple]:
        i = int(doc_id)
        w = 16 + (i * 7) % 48
        h = 16 + (i * 13) % 48
        return [(i, encode_jpeg(w, h, seed=i), "jpeg")]

    return map_rows(df, [id_col], SYNTH_SCHEMA, synth)


def synth_jpeg_color_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic 3-component 4:4:4 YCbCr baseline-JPEG payload
    synthesis: same dimension formulas as synth_jpeg_payload, planes
    constant per 8x8 block via _color_planes(doc_id, bx, by), so the SQL
    oracle predicts every decoded RGB channel through the documented
    dyadic-rational YCbCr conversion.  Fully valid interleaved SOF0
    files.  Arrow-batched mapInPandas; zero shuffle."""

    def synth(doc_id) -> list[tuple]:
        i = int(doc_id)
        w = 16 + (i * 7) % 48
        h = 16 + (i * 13) % 48
        return [(i, encode_jpeg_color(w, h, seed=i), "jpeg")]

    return map_rows(df, [id_col], SYNTH_SCHEMA, synth)


def synth_jpeg_color_420_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic 4:2:0 baseline-JPEG payload synthesis: dimensions
    16*(1 + (id*7) % 4) x 16*(1 + (id*13) % 4) (full MCUs, 16-64 px),
    luma per 8x8 block and chroma per 16x16 MCU via _color_planes — the
    generative formulas the SQL oracle replays.  Arrow-batched
    mapInPandas; zero shuffle."""

    def synth(doc_id) -> list[tuple]:
        i = int(doc_id)
        w = 16 * (1 + (i * 7) % 4)
        h = 16 * (1 + (i * 13) % 4)
        return [(i, encode_jpeg_color_420(w, h, seed=i), "jpeg")]

    return map_rows(df, [id_col], SYNTH_SCHEMA, synth)


def decode_images(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    decoder=None,
    strict: bool = False,
) -> DataFrame:
    """Arrow-batched decode: mapInPandas over (id, payload) yielding typed
    image metadata.

    Decoder resolution, per payload, in order: an injected ``decoder``
    callable (``bytes -> (width, height, mode)`` — how a production format
    handler plugs in), else the built-in REAL header parse
    (``parse_image_header``: PNG / GIF / BMP / JPEG dimensions read from
    spec'd header offsets, pure Python), else PIL when installed (covers
    exotic formats), else the deterministic ``_fake_decode`` stub.

    ``strict=True`` refuses the stub: a payload no real decoder recognizes
    raises ValueError at decode time rather than silently producing fake
    metadata in a pipeline that expects real decoding.

    Real vs refused in this container (no Pillow): PNG, GIF87a/89a, BMP,
    and JPEG decode for real; any other format is refused under strict
    and stubbed otherwise."""

    def decode(doc_id, payload) -> list[tuple]:
        data = bytes(payload)
        if decoder is not None:
            width, height, mode = decoder(data)
        else:
            try:
                width, height, mode = parse_image_header(data)
            except ValueError:
                if _HAVE_PIL:  # pragma: no cover - not in container
                    import io

                    from PIL import Image

                    img = Image.open(io.BytesIO(data))
                    width, height, mode = img.width, img.height, img.mode
                elif strict:
                    raise
                else:
                    width, height, mode = _fake_decode(data)
        return [(int(doc_id), int(width), int(height), mode, len(data))]

    return map_rows(df, [id_col, payload_col], DECODED_SCHEMA, decode)


def payload_meta(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Oracle-checkable metadata over the binary payload (byte length +
    checksum) — the part of the multimodal path DuckDB can verify."""
    payload = F.encode(F.col(text_col), "utf-8")
    return df.select(
        F.col(id_col),
        F.length(payload).alias("n_bytes"),
        F.md5(F.col(text_col)).alias("checksum"),
    )
