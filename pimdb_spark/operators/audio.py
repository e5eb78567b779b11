"""Audio as an opaque binary column: REAL RIFF/WAVE (PCM) encode, parse,
and sample decode in pure Python, plus Arrow-batched Spark operators over
payload bytes.

Mirrors the image path (operators/multimodal.py): payloads are fully valid
WAV files whose samples are pure functions of the row id, so a DuckDB
oracle can predict exactly what a REAL decode must recover — a hash match
on catalog q_audio_stats proves the decoder read every sample, not just
the header.  (Reference parity note: the reference engine, pimdb, has no
media path at all — this family is part of the beyond-parity
training-data-pipeline surface the brief asks for.)

Scale: decode is mapInPandas over (id, payload) through the media
family's one entry shape (operators/multimodal.map_rows) — Arrow batches,
one task holds batch_size payloads, zero shuffle; stats are exact integer sums so
the only float op is a single bit-stable division.
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

from pimdb_spark.operators.multimodal import map_rows

__all__ = [
    "encode_wav",
    "parse_wav_header",
    "wav_decode_samples",
    "synth_audio_payload",
    "synth_audio_variants",
    "audio_stats",
    "audio_fingerprint",
]


def _sample(seed: int, t: int, ch: int) -> int:
    """Deterministic PCM16 sample in [-32768, 32767] — the generative
    formula the SQL oracle replicates (all terms non-negative, so Python
    % and SQL % agree)."""
    return (seed * 31 + t * 17 + ch * 7919) % 65536 - 32768


def encode_wav(
    n_samples: int, sample_rate: int = 8000, channels: int = 1, seed: int = 0
) -> bytes:
    """Minimal valid PCM16 WAV: RIFF header, canonical 16-byte fmt chunk,
    interleaved little-endian int16 data chunk.  ``n_samples`` is frames
    per channel; samples come from the deterministic generative formula."""
    if channels < 1 or n_samples < 0:
        raise ValueError("encode_wav: need channels >= 1 and n_samples >= 0")
    frames = bytearray()
    for t in range(n_samples):
        for c in range(channels):
            frames += struct.pack("<h", _sample(seed, t, c))
    byte_rate = sample_rate * channels * 2
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate, byte_rate, channels * 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(frames)) + bytes(frames)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def parse_wav_header(data: bytes) -> tuple[int, int, int, int]:
    """REAL RIFF walk: returns (channels, sample_rate, bits_per_sample,
    n_samples).  Iterates chunks (fmt / data / anything else skipped, odd
    sizes padded per spec); raises ValueError — never IndexError — on
    non-WAV, truncated, or non-PCM input, and on zero channels or a zero
    sample rate (either would divide by zero downstream)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("parse_wav_header: not a RIFF/WAVE file")
    pos = 12
    channels = rate = bits = None
    n_data = None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        size = int.from_bytes(data[pos + 4 : pos + 8], "little")
        body_end = pos + 8 + size
        if body_end > len(data):
            raise ValueError("parse_wav_header: truncated chunk")
        if tag == b"fmt ":
            if size < 16:
                raise ValueError("parse_wav_header: fmt chunk too short")
            audio_format, channels, rate = struct.unpack(
                "<HHI", data[pos + 8 : pos + 16]
            )
            bits = int.from_bytes(data[pos + 22 : pos + 24], "little")
            if audio_format != 1:
                raise ValueError(
                    f"parse_wav_header: only PCM supported (format {audio_format})"
                )
        elif tag == b"data":
            n_data = size
        pos = body_end + (size & 1)  # RIFF pads odd-sized chunks
    if channels is None or n_data is None:
        raise ValueError("parse_wav_header: missing fmt or data chunk")
    if bits != 16:
        raise ValueError(f"parse_wav_header: only 16-bit PCM supported (bits {bits})")
    if channels < 1:
        raise ValueError("parse_wav_header: zero channels")
    if rate == 0:
        raise ValueError("parse_wav_header: zero sample rate")
    n_samples = n_data // (channels * 2)
    return channels, rate, bits, n_samples


def wav_decode_samples(data: bytes) -> tuple[int, int, list[int]]:
    """REAL sample decode: (channels, sample_rate, interleaved int16
    samples).  The data chunk is located by the same bounds-checked RIFF
    walk as the header parse."""
    channels, rate, _bits, n_samples = parse_wav_header(data)
    pos = 12
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        size = int.from_bytes(data[pos + 4 : pos + 8], "little")
        if tag == b"data":
            body = data[pos + 8 : pos + 8 + size]
            count = len(body) // 2
            return channels, rate, list(struct.unpack(f"<{count}h", body[: count * 2]))
        pos += 8 + size + (size & 1)
    raise ValueError("wav_decode_samples: data chunk not found")


AUDIO_SYNTH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
    ]
)


def synth_audio_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic audio-payload synthesis (the fixture stand-in for a
    real media source): fully valid PCM16 WAV files whose shape is a pure
    function of the id —

        n_samples   = 200 + (id * 37) % 600      (frames per channel)
        channels    = 1 + id % 2
        sample_rate = 8000 * (1 + id % 2)

    so an SQL oracle can predict exactly what a REAL decode must recover.
    Arrow-batched mapInPandas; zero shuffle."""

    def synth(doc_id) -> list[tuple]:
        i = int(doc_id)
        n = 200 + (i * 37) % 600
        ch = 1 + i % 2
        rate = 8000 * (1 + i % 2)
        return [(i, encode_wav(n, rate, ch, seed=i))]

    return map_rows(df, [id_col], AUDIO_SYNTH_SCHEMA, synth)


AUDIO_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_channels", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("duration_ms", DoubleType()),
        StructField("sum_amplitude", LongType()),
        StructField("peak", IntegerType()),
    ]
)


def audio_stats(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Per-file audio statistics from REAL sample decoding: channel count,
    rate, and frame count from the RIFF walk; amplitude sum and peak from
    the actual int16 samples.  Sums are exact integers and duration is one
    bit-stable double division — oracle-checkable.  Malformed payloads
    raise ValueError: this operator never fakes audio statistics.

    Scale: Arrow-batched mapInPandas; one task holds batch_size payloads;
    zero shuffle."""

    def stats(doc_id, payload) -> list[tuple]:
        channels, rate, samples = wav_decode_samples(bytes(payload))
        n = len(samples) // channels
        return [
            (
                int(doc_id),
                channels,
                rate,
                n,
                n * 1000.0 / rate,
                sum(samples),
                max((abs(s) for s in samples), default=0),
            )
        ]

    return map_rows(df, [id_col, payload_col], AUDIO_STATS_SCHEMA, stats)


FINGERPRINT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("hash_lo", LongType()),
        StructField("hash_hi", LongType()),
    ]
)


def audio_fingerprint(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload", windows: int = 64
) -> DataFrame:
    """Energy-envelope fingerprint over REAL decoded samples: the audio
    near-dup primitive (the time-domain analogue of image_ahash).  Frames
    are mapped to ``windows`` equal time slices (``t * windows // n`` —
    integer floors), each slice accumulates the exact integer sum of
    absolute amplitudes across channels, and slice bit = 1 iff its mean
    energy exceeds the whole-clip mean — cross-multiplied
    (``slice_sum * total_n > total_sum * slice_n``) so the entire 64-bit
    fingerprint is exact integer arithmetic, reproducible by the SQL
    oracle from the fixtures' generative sample formula (catalog
    q_audio_fingerprint).  Bits return as two 32-bit halves.

    Clips with matching loudness contours (re-encodes, resampled copies)
    agree on most bits; Hamming-band candidate generation + verify is
    operators/multimodal.hamming_dup_pairs — the identical banding
    discipline as image and SimHash text dedup.

    Scale: Arrow-batched mapInPandas; zero shuffle; 3 longs out per clip
    regardless of duration."""

    def fp(doc_id, payload) -> list[tuple]:
        channels, _rate, samples = wav_decode_samples(bytes(payload))
        n = len(samples) // channels
        ws = [0] * windows
        wn = [0] * windows
        for t in range(n):
            wi = t * windows // n
            base = t * channels
            for c in range(channels):
                ws[wi] += abs(samples[base + c])
            wn[wi] += channels
        ts, tn = sum(ws), n * channels
        lo = hi = 0
        for wi in range(windows):
            if ws[wi] * tn > ts * wn[wi]:
                if wi < 32:
                    lo |= 1 << wi
                else:
                    hi |= 1 << (wi - 32)
        return [(int(doc_id), lo, hi)]

    return map_rows(df, [id_col, payload_col], FINGERPRINT_SCHEMA, fp)


def synth_audio_variants(
    df: DataFrame, id_col: str = "doc_id", group: int = 3
) -> DataFrame:
    """Near-duplicate audio fixtures: ids in the same ``group``-sized
    cluster share a base clip (seed = id // group) and differ only by a
    constant amplitude offset (id % group) — the WAV-domain analogue of a
    re-normalized copy.  The base clip has a seed-keyed loudness
    envelope: the clip is cut into 16 time slices and slice k is loud
    (2x) iff bit k of the scrambled seed (Knuth multiplicative hash) is
    set, so unrelated clips' envelopes differ in ~8 of 16 slices:

        seed16  = (seed * 2654435761) % 65536
        slice   = t * 16 // n          (n is a multiple of 64, so slices
                                        align with fingerprint windows)
        s(id,t) = ((seed * 31 + t * 17) % 16000)
                  * (1 + bit_slice(seed16)) + (id % group)

    The constant offset provably CANCELS in audio_fingerprint's
    cross-multiplied threshold ((ws + p*wn)*tn > (ts + p*tn)*wn reduces
    to ws*tn > ts*wn), so cluster members fingerprint identically —
    the invariance a mean-thresholded envelope hash is designed for —
    while unrelated clips land ~30+ bits apart.  Arrow-batched
    mapInPandas; zero shuffle."""

    def synth(doc_id) -> list[tuple]:
        i = int(doc_id)
        seed, perturb = i // group, i % group
        seed16 = (seed * 2654435761) % 65536
        n = 320 + (seed % 5) * 64
        frames = bytearray()
        for t in range(n):
            loud = (seed16 >> (t * 16 // n)) & 1
            frames += struct.pack(
                "<h",
                ((seed * 31 + t * 17) % 16000) * (1 + loud) + perturb,
            )
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        body += b"data" + struct.pack("<I", len(frames)) + bytes(frames)
        return [(i, b"RIFF" + struct.pack("<I", len(body)) + body)]

    return map_rows(df, [id_col], AUDIO_SYNTH_SCHEMA, synth)
