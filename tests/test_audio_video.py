"""Audio (RIFF/WAVE PCM16) and video (multi-frame animated GIF) codecs:
pure-Python round-trips, malformed-input ValueError contracts, and the
Arrow-batched Spark stats operators."""

from __future__ import annotations

import pytest


def _docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(40)


# ---------------------------------------------------------------------------
# audio codec
# ---------------------------------------------------------------------------


def test_wav_round_trip():
    from pimdb_spark.operators.audio import (
        _sample,
        encode_wav,
        parse_wav_header,
        wav_decode_samples,
    )

    for seed, n, ch, rate in [(0, 10, 1, 8000), (7, 333, 2, 16000), (5, 1, 2, 44100)]:
        data = encode_wav(n, rate, ch, seed)
        assert parse_wav_header(data) == (ch, rate, 16, n)
        c, r, samples = wav_decode_samples(data)
        assert (c, r) == (ch, rate)
        assert samples == [_sample(seed, t, cc) for t in range(n) for cc in range(ch)]


def test_wav_skips_unknown_chunks():
    """RIFF walk must skip non-fmt/data chunks (odd sizes padded)."""
    from pimdb_spark.operators.audio import encode_wav, parse_wav_header

    import struct

    data = encode_wav(12, 8000, 1, seed=3)
    # splice a LIST chunk with an odd body size between WAVE tag and fmt
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # pad byte
    spliced = data[:12] + extra + data[12:]
    spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    assert parse_wav_header(spliced) == (1, 8000, 16, 12)


def test_wav_malformed_raise_valueerror():
    from pimdb_spark.operators.audio import encode_wav, parse_wav_header

    good = encode_wav(20, 8000, 2, seed=1)
    for bad in [
        b"",
        b"OggS" + b"\x00" * 40,          # wrong container
        good[:8] + b"XXXX" + good[12:],  # not WAVE
        good[:30],                        # truncated chunk
        good.replace(b"fmt ", b"fmX ", 1),  # missing fmt
    ]:
        with pytest.raises(ValueError):
            parse_wav_header(bad)
    # non-PCM format code
    import struct

    nonpcm = bytearray(good)
    fmt_at = good.index(b"fmt ") + 8
    nonpcm[fmt_at : fmt_at + 2] = struct.pack("<H", 3)  # IEEE float
    with pytest.raises(ValueError):
        parse_wav_header(bytes(nonpcm))
    # a zero sample rate parses as PCM but would divide audio_stats'
    # duration by zero
    with pytest.raises(ValueError, match="zero sample rate"):
        parse_wav_header(encode_wav(8, sample_rate=0))


# ---------------------------------------------------------------------------
# video codec
# ---------------------------------------------------------------------------


def test_animated_gif_round_trip():
    from pimdb_spark.operators.video import encode_animated_gif, gif_decode_frames

    for w, h, nf in [(10, 7, 1), (16, 16, 4), (17, 5, 6)]:
        w2, h2, frames = gif_decode_frames(encode_animated_gif(w, h, nf))
        assert (w2, h2, len(frames)) == (w, h, nf)
        for f, px in enumerate(frames):
            exp = bytes(
                b
                for y in range(h)
                for x in range(w)
                for b in ((((x + y + f) % 2) * 255,) * 3)
            )
            assert px == exp


def test_single_frame_gif_matches_image_decoder():
    """The multi-frame walker agrees with the single-image pixel decoder
    on the existing single-frame fixture encoder."""
    from pimdb_spark.operators.multimodal import encode_gif, gif_decode_pixels
    from pimdb_spark.operators.video import gif_decode_frames

    data = encode_gif(12, 9)
    w, h, px = gif_decode_pixels(data)
    w2, h2, frames = gif_decode_frames(data)
    assert (w, h) == (w2, h2) and len(frames) == 1 and frames[0] == px


def test_gif_frames_malformed_raise_valueerror():
    from pimdb_spark.operators.video import encode_animated_gif, gif_decode_frames

    good = encode_animated_gif(8, 8, 3)
    for bad in [
        b"nope",
        b"GIF89a" + b"\x00" * 5,   # truncated header
        good[:-10],                 # truncated mid-frame
        good[:-1],                  # missing trailer
    ]:
        with pytest.raises(ValueError):
            gif_decode_frames(bad)


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------


def test_audio_stats_operator(spark):
    from pimdb_spark.operators.audio import audio_stats, synth_audio_payload

    out = audio_stats(synth_audio_payload(_docs(spark), "doc_id")).collect()
    assert len(out) == 40
    by_id = {r.doc_id: r for r in out}
    for i, r in by_id.items():
        assert r.n_channels == 1 + i % 2
        assert r.sample_rate == 8000 * (1 + i % 2)
        assert r.n_samples == 200 + (i * 37) % 600
        assert r.duration_ms == r.n_samples * 1000.0 / r.sample_rate
        assert abs(r.sum_amplitude) <= 32768 * r.n_samples * r.n_channels
        assert 0 <= r.peak <= 32768


def test_video_frame_stats_operator(spark):
    from pimdb_spark.operators.video import synth_video_payload, video_frame_stats

    out = video_frame_stats(synth_video_payload(_docs(spark), "doc_id"), stride=2).collect()
    by_key = {(r.doc_id, r.frame_no): r for r in out}
    for i in range(40):
        nf = 2 + i % 5
        sampled = list(range(0, nf, 2))
        rows = [r for (d, _), r in by_key.items() if d == i]
        assert sorted(r.frame_no for r in rows) == sampled
        w, h = 16 + (i * 7) % 48, 16 + (i * 13) % 48
        for r in rows:
            assert (r.width, r.height, r.n_frames) == (w, h, nf)
            odd = sum(
                1 for y in range(h) for x in range(w) if (x + y + r.frame_no) % 2 == 1
            )
            assert r.mean_luma == 255 * odd / (w * h)


def test_video_frame_stats_stride_one(spark):
    from pimdb_spark.operators.video import synth_video_payload, video_frame_stats

    docs = _docs(spark).limit(5)
    out = video_frame_stats(synth_video_payload(docs, "doc_id"), stride=1).collect()
    for i in range(5):
        assert len([r for r in out if r.doc_id == i]) == 2 + i % 5


def test_audio_fingerprint_offset_invariance(spark):
    """Cluster members (same base clip, different amplitude offset) must
    fingerprint IDENTICALLY — the offset cancels in the cross-multiplied
    threshold — while unrelated clips differ."""
    from pimdb_spark.operators.audio import audio_fingerprint, synth_audio_variants

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(30)
    fps = {
        r.doc_id: (r.hash_lo, r.hash_hi)
        for r in audio_fingerprint(synth_audio_variants(docs, "doc_id")).collect()
    }
    for g in range(10):
        assert fps[g * 3] == fps[g * 3 + 1] == fps[g * 3 + 2]
    distinct = {fps[g * 3] for g in range(10)}
    assert len(distinct) > 1


def test_audio_dup_pairs_clusters(spark):
    from pimdb_spark.operators.audio import audio_fingerprint, synth_audio_variants
    from pimdb_spark.operators.multimodal import hamming_dup_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(30)
    fp = audio_fingerprint(synth_audio_variants(docs, "doc_id"))
    out = hamming_dup_pairs(fp, max_hamming=2).collect()
    pairs = {(r.doc_id_a, r.doc_id_b): r.hamming for r in out}
    # every within-cluster pair present at hamming 0
    for g in range(10):
        a = g * 3
        for x, y in [(a, a + 1), (a, a + 2), (a + 1, a + 2)]:
            assert pairs[(x, y)] == 0
