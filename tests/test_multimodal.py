"""Multimodal plumbing: binary payload columns, Arrow-batched header and
pixel decode, the image codecs' round-trips and malformed-input
ValueError contracts, perceptual hashing — schema and determinism
checks."""

from __future__ import annotations


def _docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)


def test_with_binary_payload_schema(spark):
    from pimdb_spark.operators.multimodal import with_binary_payload

    df = with_binary_payload(_docs(spark), "text")
    assert dict(df.dtypes)["payload"] == "binary"
    row = df.select("media_meta.*").first()
    assert row.mime == "application/octet-stream"
    assert row.n_bytes > 0
    assert len(row.checksum) == 32


def test_decode_images_stub_deterministic(spark):
    from pimdb_spark.operators.multimodal import decode_images, with_binary_payload

    df = with_binary_payload(_docs(spark), "text")
    out1 = {r.doc_id: (r.width, r.height, r.mode, r.n_bytes) for r in decode_images(df).collect()}
    out2 = {r.doc_id: (r.width, r.height, r.mode, r.n_bytes) for r in decode_images(df).collect()}
    assert out1 == out2
    assert len(out1) == 50
    for w, h, mode, n in out1.values():
        assert 64 <= w < 256 and 64 <= h < 256
        assert mode in ("RGB", "RGBA", "L")
        assert n > 0


def test_decode_images_injected_decoder(spark):
    """The injectable decoder is the real-format plug point: payloads are
    parsed (not hashed) and the parsed metadata lands in the typed schema
    through the same Arrow-batched mapInPandas plumbing.  Defined inline
    so cloudpickle ships it by VALUE — a module-level function in tests/
    would be pickled by reference and die on workers (the same
    foreign-CWD failure mode ensure_worker_code guards for package code)."""
    from pimdb_spark.operators.multimodal import decode_images

    def _header_decoder(data: bytes):
        # 9-byte header: 'IMG' + width(u16be) + height(u16be) + 2-ascii mode
        assert data[:3] == b"IMG"
        width = int.from_bytes(data[3:5], "big")
        height = int.from_bytes(data[5:7], "big")
        mode = data[7:9].decode("ascii").strip()
        return width, height, mode

    payloads = [
        (1, b"IMG" + (640).to_bytes(2, "big") + (480).to_bytes(2, "big") + b"L "),
        (2, b"IMG" + (32).to_bytes(2, "big") + (64).to_bytes(2, "big") + b"RG"),
    ]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    got = {
        r.doc_id: (r.width, r.height, r.mode, r.n_bytes)
        for r in decode_images(df, decoder=_header_decoder).collect()
    }
    assert got == {1: (640, 480, "L", 9), 2: (32, 64, "RG", 9)}


def test_decode_images_strict_refuses_unrecognized(spark):
    """strict=True must refuse payloads no real decoder recognizes — a
    real pipeline must never silently get stub metadata.  (The refusal is
    per-payload at decode time now that the built-in header parser IS a
    real decoder.)"""
    import pytest as _pytest

    from pimdb_spark.operators import multimodal as M

    if M._HAVE_PIL:  # pragma: no cover - not in this container
        _pytest.skip("PIL present: exotic formats may decode for real")
    df = spark.createDataFrame(
        [(1, b"not an image at all")], "doc_id long, payload binary"
    )
    with _pytest.raises(Exception, match="unrecognized image format"):
        M.decode_images(df, strict=True).collect()
    # non-strict falls back to the deterministic stub for the same bytes
    assert M.decode_images(df).count() == 1
    # strict + a recognized format is fine — strictness is about the STUB
    ok = spark.createDataFrame(
        [(2, M.encode_png(20, 10, seed=2))], "doc_id long, payload binary"
    )
    row = M.decode_images(ok, strict=True).first()
    assert (row.width, row.height, row.mode) == (20, 10, "RGB")


def test_q_multimodal_decode_real_dimensions(spark):
    """The catalog entry decodes REAL synthesized payloads: every doc_id
    gets back exactly the dimensions its PNG/GIF/BMP file encodes
    (strict=True — stub fallback forbidden)."""
    from pimdb_spark.catalog_multimodal import q_multimodal_decode

    got = {
        r.doc_id: (r.width, r.height, r.mode)
        for r in q_multimodal_decode(spark, "/root/testdata/sf0.001").collect()
    }
    assert len(got) == 200
    for doc_id, (w, h, mode) in got.items():
        assert w == 16 + (doc_id * 7) % 48
        assert h == 16 + (doc_id * 13) % 48
        assert mode == ("P" if doc_id % 3 == 1 else "RGB")


def test_parse_image_header_roundtrip():
    """The pure-Python encoders emit spec-valid files; the header parser
    must recover the exact dimensions and mode from the real bytes."""
    from pimdb_spark.operators.multimodal import (
        encode_bmp,
        encode_gif,
        encode_png,
        parse_image_header,
    )

    for w, h in [(16, 16), (63, 17), (1, 1), (255, 128)]:
        assert parse_image_header(encode_png(w, h, seed=w)) == (w, h, "RGB")
        assert parse_image_header(encode_gif(w, h)) == (w, h, "P")
        assert parse_image_header(encode_bmp(w, h, seed=h)) == (w, h, "RGB")


def test_parse_image_header_jpeg_and_errors():
    import struct

    import pytest as _pytest

    from pimdb_spark.operators.multimodal import parse_image_header

    # minimal JPEG segment walk: SOI, APP0, DQT (skipped), SOF0, then junk
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    dqt = b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" * 65
    sof0 = b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 480, 640, 3) + b"\x11\x00"
    jpeg = b"\xff\xd8" + app0 + dqt + sof0
    assert parse_image_header(jpeg) == (640, 480, "RGB")

    # grayscale progressive (SOF2), 1 component
    sof2 = b"\xff\xc2" + struct.pack(">HBHHB", 11, 8, 32, 64, 1) + b"\x11\x00"
    assert parse_image_header(b"\xff\xd8" + sof2) == (64, 32, "L")

    with _pytest.raises(ValueError, match="unrecognized"):
        parse_image_header(b"plain text payload")
    with _pytest.raises(ValueError, match="unrecognized"):
        parse_image_header(b"")


def test_gif_lzw_stream_decodes():
    """The GIF encoder's clear-before-every-literal LZW stream must be
    decodable by a straight LZW reader — proves the fixture is a valid
    GIF, not just a valid-looking header."""
    from pimdb_spark.operators.multimodal import encode_gif

    data = encode_gif(5, 3)
    # image data starts after header(6)+LSD(7)+GCT(6)+descriptor(10)+1
    i = 6 + 7 + 6 + 10
    min_code = data[i]
    assert min_code == 2
    i += 1
    stream = bytearray()
    while data[i] != 0:  # sub-blocks
        n = data[i]
        stream += data[i + 1 : i + 1 + n]
        i += 1 + n
    assert data[i : i + 2] == b"\x00\x3b"  # terminator + trailer
    # 3-bit LSB-first codes: expect (clear, checkerboard px) x 15 then end
    codes, acc, n_acc = [], 0, 0
    for byte in stream:
        acc |= byte << n_acc
        n_acc += 8
        while n_acc >= 3:
            codes.append(acc & 0b111)
            acc >>= 3
            n_acc -= 3
    clear, end = 4, 5
    want = []
    for y in range(3):
        for x in range(5):
            want += [clear, (x + y) % 2]
    assert codes[: 2 * 15] == want
    assert codes[2 * 15] == end


def test_png_decode_pixels_roundtrip_and_filters():
    """Pixel decode must invert the encoder exactly, and must reconstruct
    all five spec'd scanline filters (the encoder writes filter 0; the
    hand-built PNGs below use Sub/Up/Average/Paeth)."""
    import struct
    import zlib

    from pimdb_spark.operators.multimodal import encode_png, png_decode_pixels

    for w, h, seed in [(5, 3, 7), (16, 16, 0), (1, 1, 255)]:
        gw, gh, px = png_decode_pixels(encode_png(w, h, seed=seed))
        assert (gw, gh) == (w, h)
        for y in range(h):
            for x in range(w):
                i = (y * w + x) * 3
                assert px[i] == (seed + x + y) % 256
                assert px[i + 1] == (seed * 3 + x) % 256
                assert px[i + 2] == (seed * 7 + y) % 256

    def build_png(w, h, raw_scanlines):
        sig = b"\x89PNG\r\n\x1a\n"

        def chunk(tag, body):
            return (
                struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body))
            )

        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        return (
            sig + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw_scanlines))
            + chunk(b"IEND", b"")
        )

    # 2x2 image, known pixels: row0 = (10,20,30),(40,50,60)
    #                          row1 = (11,21,31),(41,51,61)
    rows = [
        [(10, 20, 30), (40, 50, 60)],
        [(11, 21, 31), (41, 51, 61)],
    ]

    def flat(r):
        return b"".join(bytes(p) for p in r)

    # filter 1 (Sub): second pixel stored as delta to first
    r0 = bytes((10, 20, 30, (40 - 10) % 256, (50 - 20) % 256, (60 - 30) % 256))
    # filter 2 (Up): row1 stored as delta to row0
    r1 = bytes(((11 - 10) % 256, (21 - 20) % 256, (31 - 30) % 256,
                (41 - 40) % 256, (51 - 50) % 256, (61 - 60) % 256))
    png = build_png(2, 2, b"\x01" + r0 + b"\x02" + r1)
    _, _, px = png_decode_pixels(png)
    assert px == flat(rows[0]) + flat(rows[1])

    # filter 3 (Average) and 4 (Paeth) on the same target pixels
    avg0 = bytearray([10, 20, 30])  # first pixel: a=0, up=0 -> raw
    avg0 += bytes(((40 - (10 + 0) // 2) % 256, (50 - (20 + 0) // 2) % 256,
                   (60 - (30 + 0) // 2) % 256))

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    pae1 = bytearray()
    prev = rows[0]
    for x, pix in enumerate(rows[1]):
        for ch in range(3):
            a = rows[1][x - 1][ch] if x else 0
            b = prev[x][ch]
            c = prev[x - 1][ch] if x else 0
            pae1.append((pix[ch] - paeth(a, b, c)) % 256)
    png2 = build_png(2, 2, b"\x03" + bytes(avg0) + b"\x04" + bytes(pae1))
    _, _, px2 = png_decode_pixels(png2)
    assert px2 == flat(rows[0]) + flat(rows[1])


def test_bmp_decode_pixels_roundtrip():
    from pimdb_spark.operators.multimodal import bmp_decode_pixels, encode_bmp

    for w, h, seed in [(5, 3, 9), (4, 4, 0)]:  # w=5: row padding exercised
        gw, gh, px = bmp_decode_pixels(encode_bmp(w, h, seed=seed))
        assert (gw, gh) == (w, h)
        for y in range(h):
            for x in range(w):
                i = (y * w + x) * 3
                # encoder stores BGR bottom-up: b=(seed+x), g=(seed+y), r=(x+y)
                assert px[i] == (x + y) % 256
                assert px[i + 1] == (seed + y) % 256
                assert px[i + 2] == (seed + x) % 256


def test_malformed_inputs_raise_valueerror_not_indexerror():
    """Contract hardening: truncated/trailing-junk bytes must surface as
    the documented ValueError, never IndexError — and the JPEG walk stops
    at EOI instead of scanning past end-of-image."""
    import struct

    import pytest as _pytest

    from pimdb_spark.operators.multimodal import (
        bmp_decode_pixels,
        encode_bmp,
        encode_gif,
        encode_png,
        gif_decode_pixels,
        parse_image_header,
        png_decode_pixels,
    )

    # JPEG whose only content is SOI + EOI (+ trailing junk that would
    # previously be scanned): no SOF -> unrecognized, not a junk walk
    with _pytest.raises(ValueError, match="unrecognized"):
        parse_image_header(b"\xff\xd8\xff\xd9" + b"\xff" * 64)
    # EOI before the SOF: the walk must stop at end-of-image
    sof0 = b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 480, 640, 3) + b"\x11\x00"
    with _pytest.raises(ValueError, match="unrecognized"):
        parse_image_header(b"\xff\xd8" + b"\xff\xd9" + sof0)

    # GIF truncations at every structural boundary
    full = encode_gif(6, 4)
    for cut in (11, 14, 20, len(full) - 3):
        with _pytest.raises(ValueError):
            gif_decode_pixels(full[:cut])
    # header claims a color table larger than the remaining bytes
    short_palette = bytearray(full)
    short_palette[10] |= 0x07  # claim 256-entry global table
    with _pytest.raises(ValueError, match="truncated"):
        gif_decode_pixels(bytes(short_palette))

    # PNG cut inside IDAT (zlib stream incomplete), a PNG whose IDAT
    # inflates to fewer scanlines than IHDR claims, and a BMP cut short
    with _pytest.raises(ValueError, match="png_decode_pixels: corrupt IDAT"):
        png_decode_pixels(encode_png(8, 4, 1)[:-20])
    short_idat = bytearray(encode_png(8, 1, 1))  # IDAT holds one row...
    short_idat[20:24] = struct.pack(">I", 4)  # ...IHDR now claims four
    with _pytest.raises(ValueError, match="IHDR needs 100"):
        png_decode_pixels(bytes(short_idat))
    with _pytest.raises(ValueError, match="bmp_decode_pixels: truncated"):
        bmp_decode_pixels(encode_bmp(8, 4, 1)[:-30])


def test_gif_decode_pixels_general_lzw():
    """The general LZW decoder must handle (a) the encoder's
    clear-heavy stream (all palette-0 pixels) and (b) a hand-built
    stream with growing dictionary entries and both palette colors."""
    import struct

    from pimdb_spark.operators.multimodal import encode_gif, gif_decode_pixels

    w, h, px = gif_decode_pixels(encode_gif(6, 4))
    assert (w, h) == (6, 4)
    for y in range(4):
        for x in range(6):
            i = (y * 6 + x) * 3
            want = (255, 255, 255) if (x + y) % 2 else (0, 0, 0)
            assert px[i : i + 3] == bytes(want)  # checkerboard

    # hand-built 4x1 GIF, pixels 0,1,1,0 coded as [clear, 0, 1, 1, 0, end]
    # with NO intermediate clears -> dictionary growth path exercised.
    # After the third literal the table holds 8 entries (clear=4, end=5,
    # +6, +7), so per the GIF convention the remaining codes widen to 4
    # bits — the stream must be written with variable widths.
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", 4, 1)
    out += b"\xf0\x00\x00"
    out += b"\x00\x00\x00\xff\xff\xff"  # palette: black, white
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, 4, 1) + b"\x00"
    out += b"\x02"  # min code size 2 -> clear=4, end=5, 3-bit start
    codes = [(4, 3), (0, 3), (1, 3), (1, 3), (0, 4), (5, 4)]
    acc = n_acc = 0
    bits = bytearray()
    for c, width in codes:
        acc |= c << n_acc
        n_acc += width
        while n_acc >= 8:
            bits.append(acc & 0xFF)
            acc >>= 8
            n_acc -= 8
    if n_acc:
        bits.append(acc & 0xFF)
    out += bytes([len(bits)]) + bits + b"\x00\x3b"
    w, h, px = gif_decode_pixels(bytes(out))
    assert (w, h) == (4, 1)
    assert px == bytes((0, 0, 0)) + bytes((255, 255, 255)) * 2 + bytes((0, 0, 0))


def test_image_channel_stats_refuses_undecodable(spark):
    import pytest as _pytest

    from pimdb_spark.operators.multimodal import image_channel_stats

    # unknown magic -> the dispatcher refuses
    df = spark.createDataFrame(
        [(1, b"XXXX not an image at all")],
        "doc_id long, payload binary",
    )
    with _pytest.raises(Exception, match="pixel decode supports PNG/BMP/GIF/JPEG"):
        image_channel_stats(df).collect()
    # JPEG magic but corrupt stream -> the real decoder raises, no fake stats
    df = spark.createDataFrame(
        [(1, b"\xff\xd8 not-pixel-decodable jpeg-ish")],
        "doc_id long, payload binary",
    )
    with _pytest.raises(Exception, match="jpeg_decode_pixels"):
        image_channel_stats(df).collect()


def test_image_ahash_matches_reference(spark):
    """aHash equals a direct Python recomputation from decoded pixels."""
    from pimdb_spark.operators.multimodal import (
        bmp_decode_pixels,
        encode_bmp,
        encode_png,
        image_ahash,
        png_decode_pixels,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(12)
    from pimdb_spark.operators.multimodal import synth_image_payload

    out = {r.doc_id: (r.hash_lo, r.hash_hi)
           for r in image_ahash(synth_image_payload(docs, "doc_id")).collect()}
    assert len(out) == 12

    def ref_hash(w, h, px, grid=8):
        bs = [[0] * grid for _ in range(grid)]
        bn = [[0] * grid for _ in range(grid)]
        for y in range(h):
            for x in range(w):
                p = (y * w + x) * 3
                l = (px[p] + px[p + 1] + px[p + 2]) // 3
                bs[y * grid // h][x * grid // w] += l
                bn[y * grid // h][x * grid // w] += 1
        ts, tn = sum(map(sum, bs)), w * h
        lo = hi = 0
        for by in range(grid):
            for bx in range(grid):
                if bs[by][bx] * tn > ts * bn[by][bx]:
                    bit = by * grid + bx
                    if bit < 32:
                        lo |= 1 << bit
                    else:
                        hi |= 1 << (bit - 32)
        return lo, hi

    for i in (0, 2):  # PNG (i%3==0) and BMP (i%3==2) fixtures
        w, h = 16 + i * 7 % 48, 16 + i * 13 % 48
        data = encode_png(w, h, seed=i) if i % 3 == 0 else encode_bmp(w, h, seed=i)
        dec = png_decode_pixels if i % 3 == 0 else bmp_decode_pixels
        assert out[i] == ref_hash(*dec(data))


def test_image_dup_pairs_banding(spark):
    """Band candidates + hamming verify: identical hashes pair at 0; a
    hash differing only within one band still pairs (others match); a
    hash with every band different is never a candidate even if hamming
    would pass."""
    from pimdb_spark.operators.multimodal import image_dup_pairs

    rows = [
        (1, 0x12345678, 0x0ABCDEF0),
        (2, 0x12345678, 0x0ABCDEF0),              # identical -> hamming 0
        (3, 0x12345679, 0x0ABCDEF0),              # 1 bit off in band 0
        (4, 0x12345678 ^ 0x00010001, 0x0ABCDEF0 ^ 0x00010001),  # 1 bit per band
    ]
    df = spark.createDataFrame(rows, ["doc_id", "hash_lo", "hash_hi"])
    out = {(r.doc_id_a, r.doc_id_b): r.hamming
           for r in image_dup_pairs(df, max_hamming=6).collect()}
    assert out[(1, 2)] == 0
    assert out[(1, 3)] == 1 and out[(2, 3)] == 1
    # doc 4 differs from docs 1/2 in ALL four bands -> no shared band ->
    # never a candidate against them, despite hamming 4 <= max_hamming
    # (it does pair with doc 3, whose band 0 coincides after the flips)
    assert (1, 4) not in out and (2, 4) not in out


def test_jpeg_roundtrip_block_constant_exact():
    """Baseline JPEG encode -> full decode (Huffman + dequant + IDCT) is
    bit-exact for block-constant fixtures: DC quant step equals the DCT
    gain, so the lossy format round-trips losslessly by construction."""
    from pimdb_spark.operators.multimodal import (
        encode_jpeg,
        jpeg_decode_pixels,
        parse_image_header,
    )

    for w, h, seed in [(16, 16, 0), (23, 37, 5), (50, 17, 123), (8, 8, 255)]:
        data = encode_jpeg(w, h, seed)
        assert parse_image_header(data) == (w, h, "L")
        dw, dh, rgb = jpeg_decode_pixels(data)
        assert (dw, dh) == (w, h)
        for y in range(h):
            for x in range(w):
                expect = (seed + 16 * (x // 8) + 29 * (y // 8)) % 256
                p = (y * w + x) * 3
                assert rgb[p] == rgb[p + 1] == rgb[p + 2] == expect


def test_jpeg_color_roundtrip_exact():
    """3-component 4:4:4 YCbCr encode -> decode is bit-exact for
    block-constant planes, and the YCbCr->RGB conversion matches the
    documented dyadic-rational/floor formula channel by channel."""
    from pimdb_spark.operators.multimodal import (
        _color_planes,
        encode_jpeg_color,
        jpeg_decode_pixels,
        parse_image_header,
    )

    for w, h, seed in [(16, 16, 0), (23, 37, 5), (8, 24, 42)]:
        data = encode_jpeg_color(w, h, seed)
        assert parse_image_header(data)[:2] == (w, h)
        dw, dh, rgb = jpeg_decode_pixels(data)
        assert (dw, dh) == (w, h)
        for py in range(h):
            for px in range(w):
                y, cb, cr = _color_planes(seed, px // 8, py // 8)
                dcb, dcr = cb - 128, cr - 128
                want = (
                    max(0, min(255, y + (45 * dcr) // 32)),
                    max(0, min(255, y + (-(11 * dcb + 23 * dcr)) // 32)),
                    max(0, min(255, y + (113 * dcb) // 64)),
                )
                o = (py * w + px) * 3
                assert (rgb[o], rgb[o + 1], rgb[o + 2]) == want, (px, py)


def test_jpeg_color_rejects_subsampling_and_fuzzes_clean():
    """A sampling layout outside grayscale / 4:4:4 / 4:2:0 raises
    ValueError; single-byte corruption of a color stream never escapes as
    IndexError/KeyError (the repo's binary-parser bounds discipline, now
    over the 3-component path)."""
    import pytest

    from pimdb_spark.operators.multimodal import (
        encode_jpeg_color,
        jpeg_decode_pixels,
    )

    data = bytearray(encode_jpeg_color(16, 16, 9))
    sof = bytes(data).find(b"\xff\xc0")
    # component 1's h/v sampling byte: SOF body = [prec, h16, w16, nc, id,hv,tq...]
    hv_idx = sof + 2 + 2 + 6 + 1
    assert data[hv_idx] == 0x11
    d = bytearray(data)
    d[hv_idx] = 0x21  # 2x1-subsampled luma (4:2:2)
    with pytest.raises(ValueError, match="subsampling"):
        jpeg_decode_pixels(bytes(d))
    for pos in range(2, len(data), 5):
        for flip in (0x01, 0xFF):
            d = bytearray(data)
            d[pos] ^= flip
            try:
                jpeg_decode_pixels(bytes(d))
            except ValueError:
                pass


def test_jpeg_general_pixels_exercise_ac_path():
    """A non-constant image drives the general AC run-length / extend /
    IDCT path and round-trips within normal quantization error — the
    decoder is a real baseline decoder, not a DC-only shortcut."""
    from pimdb_spark.operators.multimodal import encode_jpeg, jpeg_decode_pixels

    w, h = 24, 19
    pixels = bytes(((3 * x + 7 * y) % 256) for y in range(h) for x in range(w))
    data = encode_jpeg(w, h, pixels=pixels)
    dw, dh, rgb = jpeg_decode_pixels(data)
    assert (dw, dh) == (w, h)
    errs = [
        abs(rgb[(y * w + x) * 3] - pixels[y * w + x])
        for y in range(h)
        for x in range(w)
    ]
    assert max(errs) <= 8  # smooth gradient: small quantization error only
    assert sum(errs) / len(errs) < 2.0


def test_jpeg_decoder_rejects_unsupported_and_corrupt():
    from pimdb_spark.operators.multimodal import encode_jpeg, jpeg_decode_pixels
    import pytest

    with pytest.raises(ValueError):
        jpeg_decode_pixels(b"\x89PNG\r\n\x1a\n")  # not a JPEG
    data = bytearray(encode_jpeg(16, 16, 1))
    # flip the SOF0 marker to SOF2 (progressive): non-baseline must raise
    sof = data.find(b"\xff\xc0")
    data[sof + 1] = 0xC2
    with pytest.raises(ValueError):
        jpeg_decode_pixels(bytes(data))
    # truncate mid-scan: must raise, never IndexError
    data = encode_jpeg(16, 16, 1)
    with pytest.raises(ValueError):
        jpeg_decode_pixels(data[: len(data) // 2])
    # crafted SOS with length field 2 (empty body): passes the outer
    # segment-length check but has no component count byte — must raise
    # ValueError, not IndexError (the byte-flip fuzz can't reach this:
    # 0x08 XOR 0x01/0xFF never yields 0x02)
    data = bytearray(encode_jpeg(16, 16, 1))
    sos = data.find(b"\xff\xda")
    assert sos > 0
    crafted = bytes(data[:sos]) + b"\xff\xda\x00\x02" + bytes(data[sos:])
    with pytest.raises(ValueError, match="truncated SOS"):
        jpeg_decode_pixels(crafted)


def test_jpeg_decoder_corruption_fuzz_valueerror_only():
    """Every single-byte corruption either decodes or raises ValueError —
    never IndexError/KeyError/StopIteration (the bounds discipline all
    binary parsers in this repo follow) — for grayscale and for 4:2:0,
    whose sampling factors, four luma blocks per MCU and chroma planes
    at half size give a flipped byte more to break."""
    from pimdb_spark.operators.multimodal import (
        encode_jpeg,
        encode_jpeg_color_420,
        jpeg_decode_pixels,
    )

    for data in (encode_jpeg(16, 16, 3), encode_jpeg_color_420(32, 16, 5)):
        for pos in range(2, len(data), 3):
            for flip in (0x01, 0xFF):
                d = bytearray(data)
                d[pos] ^= flip
                try:
                    jpeg_decode_pixels(bytes(d))
                except ValueError:
                    pass


def test_jpeg_420_roundtrip_is_generative_exact():
    """4:2:0 encode -> decode reproduces the generative formulas
    bit-exactly: luma per 8x8 block, chroma per 16x16 MCU replicated to
    each 2x2 quad, dyadic-rational YCbCr->RGB with floor rounding."""
    from pimdb_spark.operators.multimodal import (
        _color_planes,
        encode_jpeg_color_420,
        jpeg_decode_pixels,
    )

    for seed in (0, 7, 123):
        w, h = 32, 48
        dw, dh, rgb = jpeg_decode_pixels(encode_jpeg_color_420(w, h, seed))
        assert (dw, dh) == (w, h)
        for py in range(h):
            for px in range(w):
                yv = _color_planes(seed, px // 8, py // 8)[0]
                _, cb, cr = _color_planes(seed, px // 16, py // 16)
                dcb, dcr = cb - 128, cr - 128
                r = min(255, max(0, yv + (45 * dcr) // 32))
                g = min(255, max(0, yv + (-(11 * dcb + 23 * dcr)) // 32))
                b = min(255, max(0, yv + (113 * dcb) // 64))
                o = (py * w + px) * 3
                assert rgb[o : o + 3] == bytes((r, g, b)), (seed, px, py)


def test_jpeg_one_decoder_for_every_supported_layout():
    """One decoder covers grayscale, 4:4:4 and 4:2:0 (each component's
    sampling factors read from SOF) and refuses any other layout by name:
    4:2:2 luma (h/v 0x21) raises ``subsampling unsupported`` rather than
    decoding on a wrong grid.  The 4:2:0 encoder still emits full MCUs
    only."""
    import pytest

    from pimdb_spark.operators.multimodal import (
        encode_jpeg,
        encode_jpeg_color,
        encode_jpeg_color_420,
        jpeg_decode_pixels,
    )

    for data in (
        encode_jpeg(32, 32, seed=5),
        encode_jpeg_color(32, 32, seed=5),
        encode_jpeg_color_420(32, 32, seed=5),
    ):
        w, h, rgb = jpeg_decode_pixels(data)
        assert (w, h, len(rgb)) == (32, 32, 32 * 32 * 3)
    f422 = bytearray(encode_jpeg_color_420(32, 32, seed=5))
    hv_idx = bytes(f422).find(b"\xff\xc0") + 2 + 2 + 6 + 1  # Y's h/v byte
    assert f422[hv_idx] == 0x22
    f422[hv_idx] = 0x21
    with pytest.raises(ValueError, match="subsampling unsupported"):
        jpeg_decode_pixels(bytes(f422))
    with pytest.raises(ValueError, match="multiples of 16"):
        encode_jpeg_color_420(24, 32, seed=5)


def test_jpeg_420_partial_mcu_decodes_the_crop():
    """A 4:2:0 frame whose sides are not multiples of the 16x16 MCU: the
    32x32 file's SOF patched to 30x27 keeps the same entropy-coded scan
    (the MCU count is unchanged), so the decode must be exactly the
    top-left 30x27 crop of the 32x32 decode — the clipped right and
    bottom blocks, and the chroma planes of ceil(30/2) x ceil(27/2),
    neither shift nor drop a sample."""
    import struct

    from pimdb_spark.operators.multimodal import (
        encode_jpeg_color_420,
        jpeg_decode_pixels,
        parse_image_header,
    )

    full = encode_jpeg_color_420(32, 32, seed=11)
    _, _, rgb32 = jpeg_decode_pixels(full)
    sof = full.find(b"\xff\xc0")
    dims = sof + 2 + 2 + 1  # SOF body: precision, then height, width (u16 BE)
    assert struct.unpack(">HH", full[dims : dims + 4]) == (32, 32)
    cropped = full[:dims] + struct.pack(">HH", 27, 30) + full[dims + 4 :]
    assert parse_image_header(cropped)[:2] == (30, 27)
    w, h, rgb = jpeg_decode_pixels(cropped)
    assert (w, h) == (30, 27)
    want = b"".join(rgb32[y * 32 * 3 : (y * 32 + 30) * 3] for y in range(27))
    assert rgb == want


def test_zero_area_images_raise_named_valueerror(spark):
    """A valid zero-width PNG, BMP or GIF decodes to no pixels: the
    channel-stats operator refuses it by name instead of dividing by the
    zero pixel count (or tripping over an empty palette lookup), and so
    does the video frame sampler for a zero-width animated GIF."""
    import pytest

    from pimdb_spark.operators.multimodal import (
        encode_bmp,
        encode_gif,
        encode_png,
        image_channel_stats,
    )
    from pimdb_spark.operators.video import encode_animated_gif, video_frame_stats

    for payload in (encode_png(0, 4), encode_bmp(0, 4), encode_gif(0, 4)):
        df = spark.createDataFrame([(1, payload)], "doc_id long, payload binary")
        with pytest.raises(Exception, match="image_channel_stats: zero-area image"):
            image_channel_stats(df).collect()
    df = spark.createDataFrame(
        [(1, encode_animated_gif(0, 4, 2))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="gif_decode_frames: zero-area image"):
        video_frame_stats(df).collect()


def test_gif_oversized_lzw_code_size_raises():
    """The LZW minimum code size byte sizes the decoder's initial table
    (2**size entries); GIF codes are at most 12 bits wide, so a size over
    11 is corrupt and both GIF decoders refuse it before building a
    table."""
    import pytest

    from pimdb_spark.operators.multimodal import encode_gif, gif_decode_pixels
    from pimdb_spark.operators.video import encode_animated_gif, gif_decode_frames

    for data, decode in (
        (encode_gif(6, 4), gif_decode_pixels),
        (encode_animated_gif(6, 4, 2), gif_decode_frames),
    ):
        at = bytes(data).find(b"\x2c") + 10  # after the image descriptor
        assert data[at] == 2
        bad = data[:at] + bytes([0x82]) + data[at + 1 :]
        with pytest.raises(ValueError, match="LZW minimum code size 130"):
            decode(bad)
