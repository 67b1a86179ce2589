"""Multimodal decode dispatch: the real-codec path (PIL, when
importable) and the deterministic fake must be drop-in
interchangeable — same schema, same batch mechanics — with the
registry query pinned to the fake so its DuckDB twin stays valid.

Reference parity note: the reference pipeline (chi_square.py) has no
media path; this family is part of the training-data-pipeline surface
the build brief adds on top of SURVEY.md §2.
"""

from __future__ import annotations

import pytest

from mapreduce_chisquare_spark.operators.multimodal import (
    DECODED_SCHEMA,
    codec_available,
    decode_documents,
    decode_media,
)


def _media(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, payload binary, kind string, n_bytes long"
    )


def test_decode_dispatch_defaults_to_environment(spark):
    """use_codec=None must select the fake in codec-less containers
    (this one) and the real decoder where PIL exists — the output
    schema is identical either way, so downstream plans never care."""
    media = _media(spark, [(1, b"hello world", "image", 11)])
    df = decode_documents(media)  # auto-detect
    assert df.schema == DECODED_SCHEMA
    if not codec_available():
        # fake metadata formulas: derived from payload bytes
        r = df.collect()[0]
        assert (r.n_bytes, r.width, r.height, r.n_frames) == (
            11,
            16 + (b"h"[0] % 16),
            16 + 11 % 16,
            1 + 1 % 8,
        )


def test_decode_media_raises_cleanly_without_codec():
    """Unsupported kinds (always) and images in codec-less
    environments fail loud with NotImplementedError — never a wrong
    answer, never a silent fake."""
    with pytest.raises(NotImplementedError):
        decode_media(b"\x00\x01", "audio")
    if not codec_available():
        with pytest.raises(NotImplementedError):
            decode_media(b"\x89PNG", "image")


def _png_bytes(w, h):
    """Hand-crafted COMPLETE valid PNG (public byte layout): 8-byte
    signature, IHDR, one zlib IDAT of grayscale zero scanlines, IEND.
    Valid enough for PIL where present; the header probe needs only
    signature + IHDR."""
    import struct
    import zlib

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    idat = zlib.compress(b"\x00" * ((w + 1) * h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def _gif_bytes(w, h, frames):
    """Hand-crafted GIF89a (public byte layout): logical screen
    descriptor with a 2-entry global color table, `frames` image
    descriptors each with a 1-sub-block LZW payload, trailer."""
    import struct

    out = b"GIF89a" + struct.pack("<HH", w, h) + bytes([0x80, 0, 0])
    out += b"\x00" * 6  # 2-entry global color table (3B per entry)
    for _ in range(frames):
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
        out += bytes([2, 2, 0x4C, 0x01, 0])  # min code + 1 sub-block
    return out + b"\x3b"


def test_real_decoder_png_roundtrip(spark):
    """decode_documents(use_codec=True) must report the actual pixel
    dimensions of real PNG bytes through the same mapInPandas
    plumbing the fake uses — via PIL where importable, via the
    pure-Python header probe otherwise, so this runs (not skips) in
    codec-less containers."""
    rows = [
        (1, _png_bytes(3, 5), "image", 0),
        (2, _png_bytes(7, 2), "image", 0),
    ]
    out = {
        r.doc_id: (r.width, r.height, r.n_frames)
        for r in decode_documents(
            _media(spark, rows), use_codec=True
        ).collect()
    }
    assert out == {1: (3, 5, 1), 2: (7, 2, 1)}


def test_header_probe_parses_png_gif_apng():
    """The codec-less probe reads real container bytes: PNG IHDR
    dims, APNG acTL frame count, GIF logical-screen dims + one frame
    per image descriptor; truncated/foreign bytes probe as None."""
    import struct
    import zlib

    from mapreduce_chisquare_spark.operators.multimodal import (
        probe_image_header,
    )

    assert probe_image_header(_png_bytes(640, 480)) == (640, 480, 1)
    assert probe_image_header(_gif_bytes(9, 4, 3)) == (9, 4, 3)
    assert probe_image_header(_gif_bytes(2, 2, 1)) == (2, 2, 1)
    # APNG: acTL chunk between IHDR and IDAT carries num_frames
    png = _png_bytes(5, 5)
    actl = struct.pack(">II", 7, 0)
    chunk = (
        struct.pack(">I", 8)
        + b"acTL"
        + actl
        + struct.pack(">I", zlib.crc32(b"acTL" + actl))
    )
    ihdr_end = 8 + 12 + 13  # signature + IHDR chunk
    apng = png[:ihdr_end] + chunk + png[ihdr_end:]
    assert probe_image_header(apng) == (5, 5, 7)
    assert probe_image_header(b"\x89PNG") is None  # truncated
    assert probe_image_header(b"plain text bytes") is None


def test_decode_media_falls_back_to_probe_when_pil_fails(monkeypatch):
    """Round-8 ADVICE fix: when PIL is importable but Image.open
    raises on a specific blob (corrupt tail, unsupported variant),
    decode_media must fall through to the pure-Python header probe
    instead of propagating PIL's error — NotImplementedError is
    reserved for blobs NEITHER path can read. Simulated with an
    injected PIL whose open() always raises, so the test runs the
    same way with or without a real PIL in the container."""
    import sys
    import types

    from mapreduce_chisquare_spark.operators import multimodal as mm

    class _Boom:
        @staticmethod
        def open(_):
            raise OSError("simulated codec failure")

    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = _Boom
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", _Boom)
    monkeypatch.setattr(mm, "codec_available", lambda: True)

    # probe-parseable PNG: fallback returns real header metadata
    assert mm.decode_media(_png_bytes(6, 4), "image") == (6, 4, 1)
    # bytes neither PIL (simulated failure) nor the probe can read
    with pytest.raises(NotImplementedError):
        mm.decode_media(b"\x00\x01junk", "image")


def _jpeg_bytes(w, h, sof=0xC0, fill=False):
    """Hand-crafted minimal JPEG (public ITU T.81 marker layout): SOI,
    JFIF APP0, one SOFn frame header carrying the dimensions, EOI.
    Header-only — no entropy-coded scan — which is exactly what the
    probe reads (and what PIL chokes on, exercising the fallback
    where PIL exists)."""
    import struct

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    soff = (
        bytes([0xFF, sof])
        + struct.pack(">H", 11)
        + b"\x08"
        + struct.pack(">HH", h, w)
        + b"\x01\x11\x00"
    )
    pad = b"\xff" if fill else b""  # a legal fill byte before a marker
    return b"\xff\xd8" + app0 + pad + soff + b"\xff\xd9"


def test_header_probe_parses_jpeg():
    """Round-8 addition: the probe walks the JPEG marker stream —
    baseline SOF0 and progressive SOF2 both yield (w, h, 1), fill
    bytes are skipped per spec, and streams with no frame header
    (EOI before SOF) or truncated mid-marker probe as None instead
    of a wrong answer."""
    from mapreduce_chisquare_spark.operators.multimodal import (
        probe_image_header,
    )

    assert probe_image_header(_jpeg_bytes(640, 480)) == (640, 480, 1)
    assert probe_image_header(_jpeg_bytes(3, 5, sof=0xC2)) == (3, 5, 1)
    assert probe_image_header(_jpeg_bytes(7, 2, fill=True)) == (7, 2, 1)
    # SOI + EOI only: a dimension-less stream answers None
    assert probe_image_header(b"\xff\xd8\xff\xd9\x00\x00") is None
    # truncated inside the SOF dimensions
    assert probe_image_header(_jpeg_bytes(640, 480)[:13]) is None
    # SOF with a LYING declared length (2 = room for nothing): the
    # following marker's bytes must not unpack as garbage dimensions
    assert (
        probe_image_header(b"\xff\xd8\xff\xc0\x00\x02\xff\xd9\x00\x00")
        is None
    )
    # DHT (0xC4) must NOT be mistaken for a frame header
    import struct

    dht = b"\xff\xc4" + struct.pack(">H", 4) + b"\x00\x00"
    assert (
        probe_image_header(b"\xff\xd8" + dht + _jpeg_bytes(9, 4)[2:])
        == (9, 4, 1)
    )


def test_real_decoder_jpeg_roundtrip(spark):
    """JPEG joins the real-decode branch: actual marker-stream bytes
    flow through the same mapInPandas plumbing as PNG/GIF and report
    their true dimensions — via the header probe in codec-less
    containers, and via the PIL-failure fallback (header-only JPEGs
    have no scan data for PIL) where PIL exists."""
    rows = [
        (1, _jpeg_bytes(12, 34), "image", 0),
        (2, _jpeg_bytes(56, 78, sof=0xC2), "image", 0),
    ]
    out = {
        r.doc_id: (r.width, r.height, r.n_frames)
        for r in decode_documents(
            _media(spark, rows), use_codec=True
        ).collect()
    }
    assert out == {1: (12, 34, 1), 2: (56, 78, 1)}


def test_av_probes_round_trip_and_reject_foreign_bytes():
    """probe(synth(params)) == params for WAV and AVI; each probe
    rejects the other's container, truncated headers, and non-RIFF
    bytes with None (never an exception)."""
    from mapreduce_chisquare_spark.operators.multimodal import (
        probe_audio_header,
        probe_video_header,
        synth_avi,
        synth_wav,
    )

    wav = synth_wav(16000, 2, 137)
    avi = synth_avi(336, 256, 17)
    assert probe_audio_header(wav) == (16000, 2, 16, 137)
    assert probe_video_header(avi) == (336, 256, 17)
    assert probe_audio_header(avi) is None
    assert probe_video_header(wav) is None
    for junk in (b"", b"RIFF", b"RIFFxxxxWAVE", wav[:20], avi[:16],
                 b"\x89PNG\r\n\x1a\n" + b"\x00" * 30):
        assert probe_audio_header(junk) is None
        assert probe_video_header(junk) is None


def test_decode_media_video_branch_uses_avi_probe():
    """decode_media('video') now returns REAL avih metadata for AVI
    bytes and still raises for undecodable video bytes."""
    import pytest

    from mapreduce_chisquare_spark.operators.multimodal import (
        decode_media,
        synth_avi,
    )

    assert decode_media(synth_avi(640, 480, 24), "video") == (640, 480, 24)
    with pytest.raises(NotImplementedError):
        decode_media(b"not a container", "video")
    with pytest.raises(NotImplementedError):
        decode_media(b"pcm-ish bytes", "audio")


def test_av_probe_documents_recovers_synth_params(spark, sf_dir):
    """End-to-end through the two mapInPandas stages: every recovered
    row equals the closed-form parameters."""
    from mapreduce_chisquare_spark.operators.multimodal import (
        _av_synth_params,
        av_probe_documents,
    )
    from mapreduce_chisquare_spark.sources.readers import scan_parquet

    docs = scan_parquet(spark, sf_dir, "documents").limit(50)
    out = av_probe_documents(docs).collect()
    assert len(out) == 50
    for r in out:
        p = _av_synth_params(r.doc_id)
        if p[0] == "audio":
            assert (r.kind, r.sample_rate, r.channels, r.n_samples) == p
            assert (r.width, r.height, r.n_frames) == (None, None, None)
        else:
            assert (r.kind, r.width, r.height, r.n_frames) == p
            assert (r.sample_rate, r.channels, r.n_samples) == (
                None, None, None,
            )


# ---------------------------------------------------------------------------
# Round 11: REAL pixel decode (PNG zlib+unfilter, binary PGM/PPM)


def test_png_roundtrip_every_color_type_and_filter():
    """encode_png -> decode_png_pixels recovers the exact grayscale of
    every supported color type under every scanline filter: for each
    ctype the fixture pins filter f on ALL rows, so a defect in any
    single unfilter branch (Sub/Up/Average/Paeth) fails its own
    case instead of hiding behind mixed filters."""
    from mapreduce_chisquare_spark.operators import multimodal as mm

    w, h = 11, 9

    def pixels(ctype):
        out = []
        for r in range(h):
            row = []
            for c in range(w):
                if ctype == 0:
                    row.append((r * 37 + c * 91 + 5) % 256)
                elif ctype == 4:
                    row.append(((r * 37 + c * 91) % 256, (r + c) % 256))
                else:
                    px = (
                        (r * 31 + c * 7) % 256,
                        (r * 3 + c * 53) % 256,
                        (r * 89 + c * 11 + 100) % 256,
                    )
                    row.append(px if ctype == 2 else (*px, (r * c) % 256))
            out.append(row)
        return out

    for ctype in (0, 2, 4, 6):
        rows = pixels(ctype)
        for f in range(5):
            blob = mm.encode_png(rows, ctype, row_filter=lambda y: f)
            dw, dh, gray = mm.decode_png_pixels(blob)
            assert (dw, dh) == (w, h)
            for r in range(h):
                for c in range(w):
                    px = rows[r][c]
                    if ctype == 0:
                        want = px
                    elif ctype == 4:
                        want = px[0]  # gray+alpha drops alpha
                    else:
                        want = mm._luma(px[0], px[1], px[2])
                    assert gray[r][c] == want, (ctype, f, r, c)


def test_png_decode_fails_loud_not_fabricated():
    """Corrupt bytes raise ValueError; layouts outside the decoder's
    contract (16-bit, interlaced, palette, non-PNG) raise
    NotImplementedError — never silent garbage pixels."""
    import struct
    import zlib

    from mapreduce_chisquare_spark.operators import multimodal as mm

    good = mm.synth_png(42)
    # flip a byte inside the IHDR body -> CRC mismatch
    bad = bytearray(good)
    bad[18] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        mm.decode_png_pixels(bytes(bad))
    # 16-bit depth is outside the contract
    ihdr = struct.pack(">II5B", 3, 3, 16, 0, 0, 0, 0)
    deep = (
        mm._PNG_SIG
        + mm._png_chunk(b"IHDR", ihdr)
        + mm._png_chunk(b"IDAT", zlib.compress(b"\x00" * 21))
        + mm._png_chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError, match="depth=16"):
        mm.decode_png_pixels(deep)
    # truncated pixel payload
    ihdr = struct.pack(">II5B", 4, 4, 8, 0, 0, 0, 0)
    short = (
        mm._PNG_SIG
        + mm._png_chunk(b"IHDR", ihdr)
        + mm._png_chunk(b"IDAT", zlib.compress(b"\x00" * 7))
        + mm._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="size mismatch"):
        mm.decode_png_pixels(short)
    # a truncated JPEG now reaches the REAL baseline decoder (round-11
    # JPEG support) and fails loud as corrupt, not as "no decoder"
    with pytest.raises(ValueError, match="SOF/SOS"):
        mm.decode_image_pixels(b"\xff\xd8\xff\xe0\x00\x10JFIF")
    # truly undecodable byte formats still refuse up front
    with pytest.raises(NotImplementedError, match="no pixel decoder"):
        mm.decode_image_pixels(b"BM\x00\x00bmp-like bytes")


def test_ppm_pgm_decode_with_comments_and_luma():
    """Binary P5/P6 parse: whitespace/comment-separated header tokens,
    P6 collapsing through the same integer luma as PNG RGB."""
    from mapreduce_chisquare_spark.operators import multimodal as mm

    w, h = 6, 4
    rgb = bytes(
        v
        for r in range(h)
        for c in range(w)
        for v in ((r * 40) % 256, (c * 30) % 256, (r + c) % 256)
    )
    p6 = b"P6\n# fixture\n6 4\n255\n" + rgb
    dw, dh, gray = mm.decode_ppm_pixels(p6)
    assert (dw, dh) == (w, h)
    assert gray[2][3] == mm._luma(80, 90, 5)
    p5 = b"P5 6 4 255 " + bytes((r * w + c) % 256 for r in range(h) for c in range(w))
    dw, dh, gray = mm.decode_ppm_pixels(p5)
    assert gray[3][5] == 23
    with pytest.raises(NotImplementedError, match="maxval"):
        mm.decode_ppm_pixels(b"P5 2 2 65535 " + b"\x00" * 8)
    with pytest.raises(ValueError, match="raster"):
        mm.decode_ppm_pixels(b"P6 9 9 255 " + b"\x00" * 5)


def test_png_matches_pil_where_available():
    """Cross-decoder check: PIL (when importable) must read our
    encoder's bytes and agree on dimensions and raw channel values —
    an independent implementation validating both directions."""
    PIL = pytest.importorskip("PIL.Image")
    import io

    from mapreduce_chisquare_spark.operators import multimodal as mm

    for doc_id in (0, 1, 2, 7, 13):
        w, h, ctype, rows = mm.synth_png_pixels(doc_id)
        im = PIL.open(io.BytesIO(mm.synth_png(doc_id)))
        assert (im.width, im.height) == (w, h)
        got = list(im.getdata())
        flat = [px for row in rows for px in row]
        assert got == flat


def test_gray_grid_samples_corners_and_tiny_images():
    """The sampling lattice hits exact corners and degrades to
    duplicated samples (never out of range) on images smaller than
    the grid."""
    from mapreduce_chisquare_spark.operators import multimodal as mm

    w, h = 20, 10
    rows = [bytes((r * 50 + c) % 256 for c in range(w)) for r in range(h)]
    s = mm.gray_grid_samples(w, h, rows, 8, 9)
    assert len(s) == 72
    assert s[0] == rows[0][0]
    assert s[8] == rows[0][w - 1]
    assert s[71] == rows[h - 1][w - 1]
    one = mm.gray_grid_samples(1, 1, [b"\x7f"], 8, 9)
    assert one == [127] * 72


def test_image_phash_decoded_feeds_neardup_on_real_pixels(spark):
    """End-to-end image dedup on REAL pixels: two PNGs that differ by
    one pixel decode -> hash within Hamming 3 and surface as a
    neardup pair; an unrelated image does not. This is the
    decoded-pixel analog of the perturbed-clone oracle corpus."""
    from mapreduce_chisquare_spark.operators import imagehash as ih
    from mapreduce_chisquare_spark.operators import multimodal as mm

    w, h = 16, 12
    base = [
        [(r * 17 + c * 29) % 256 for c in range(w)] for r in range(h)
    ]
    near = [row[:] for row in base]
    near[3][4] = (near[3][4] + 128) % 256  # one sampled-cell flip
    far = [
        [(255 - (r * 31 + c * 3)) % 256 for c in range(w)]
        for r in range(h)
    ]
    blobs = [
        (0, mm.encode_png(base, 0, row_filter=lambda y: y % 5)),
        (1, mm.encode_png(near, 0, row_filter=lambda y: (y + 2) % 5)),
        (2, mm.encode_png(far, 0)),
    ]
    media = spark.createDataFrame(blobs, "doc_id long, payload binary")
    hashes = ih.image_phash_decoded(media)
    rows = {r.doc_id: r for r in hashes.collect()}
    assert len(rows) == 3 and len(rows[0].phash) == 16
    pairs = {
        (r.a_id, r.b_id): r.hamming
        for r in ih.image_neardup_pairs(hashes).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] <= 3
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_synth_png_corpus_matches_formula_ground_truth(spark):
    """The registered image_phash_decoded path: synthesize real PNGs
    for a doc_id slice, decode through zlib+unfilter, and check the
    72 grid samples equal the formula ground truth the DuckDB oracle
    states — per pixel, not just per hash."""
    from mapreduce_chisquare_spark.operators import imagehash as ih
    from mapreduce_chisquare_spark.operators import multimodal as mm

    docs = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    media = mm.synth_media(docs, mm.synth_png)
    px = media.mapInPandas(ih.decoded_pixel_batch, ih.PX_SCHEMA)
    got = {r["doc_id"]: r for r in px.collect()}
    assert len(got) == 40
    for doc_id in (0, 1, 2, 3, 17, 39):
        w, h, ctype, rows = mm.synth_png_pixels(doc_id)
        gray = [
            [
                px0 if ctype == 0 else mm._luma(px0[0], px0[1], px0[2])
                for px0 in row
            ]
            for row in rows
        ]
        for i in range(ih.N_PIX):
            r, c = divmod(i, ih.GRID_C + 1)
            want = gray[(r * (h - 1)) // 7][(c * (w - 1)) // 8]
            assert got[doc_id][f"px{i}"] == want, (doc_id, i)


def test_gif_lzw_roundtrip_fuzz_and_interlace():
    """encode_gif -> decode_gif_pixels recovers exact palette-luma
    pixels across fuzzed sizes/palettes, interlaced and not; a
    repetitive image forces deep LZW dictionary use (real
    compression, not literal-only codes)."""
    import random

    from mapreduce_chisquare_spark.operators import multimodal as mm

    rng = random.Random(11)
    for _ in range(20):
        w, h = rng.randint(1, 40), rng.randint(1, 30)
        npal = rng.choice([2, 4, 16, 64, 256])
        pal = [
            (rng.randrange(256), rng.randrange(256), rng.randrange(256))
            for _ in range(npal)
        ]
        rows = [[rng.randrange(npal) for _ in range(w)] for _ in range(h)]
        for inter in (False, True):
            blob = mm.encode_gif(rows, pal, interlace=inter)
            dw, dh, gray = mm.decode_gif_pixels(blob)
            assert (dw, dh) == (w, h)
            for r in range(h):
                for c in range(w):
                    assert gray[r][c] == mm._luma(*pal[rows[r][c]])
    w, h = 200, 120
    rows = [[(r // 3 + c // 5) % 16 for c in range(w)] for r in range(h)]
    pal = [(i * 16, i * 8, 255 - i * 16) for i in range(16)]
    blob = mm.encode_gif(rows, pal)
    assert len(blob) < w * h // 4  # genuinely compressed
    dw, dh, gray = mm.decode_gif_pixels(blob)
    assert all(
        gray[r][c] == mm._luma(*pal[rows[r][c]])
        for r in range(h)
        for c in range(w)
    )


def test_gif_decode_fails_loud():
    """Corrupt GIF streams raise ValueError (no frame, truncated
    pixels, index past the palette); non-GIF raises
    NotImplementedError from the GIF entry point."""
    from mapreduce_chisquare_spark.operators import multimodal as mm

    with pytest.raises(NotImplementedError):
        mm.decode_gif_pixels(b"\x89PNGnope")
    # header + trailer, no image descriptor
    noframe = b"GIF89a" + b"\x05\x00\x04\x00\x00\x00\x00" + b"\x3b"
    with pytest.raises(ValueError, match="no image frame"):
        mm.decode_gif_pixels(noframe)
    good = mm.synth_gif(3)
    # chop the LZW sub-blocks: truncated pixel data
    with pytest.raises(ValueError):
        mm.decode_gif_pixels(good[: len(good) // 2] + b"\x00\x3b")


def test_gif_matches_pil_where_available():
    """Cross-decoder check: PIL must read our GIF encoder's bytes and
    agree on dimensions and palette indices, interlaced included."""
    PIL = pytest.importorskip("PIL.Image")
    import io

    from mapreduce_chisquare_spark.operators import multimodal as mm

    for doc_id in (0, 1, 2, 7):
        w, h, rows = mm.synth_gif_pixels(doc_id)
        im = PIL.open(io.BytesIO(mm.synth_gif(doc_id)))
        assert (im.width, im.height) == (w, h)
        got = list(im.getdata())
        assert got == [px for row in rows for px in row]


def test_synth_gif_feeds_decoded_phash_path(spark):
    """The registered image_phash_gif path end to end at small scale:
    synth real GIFs, decode through LZW + de-interlace inside
    mapInPandas, and check the grid samples equal the index formula
    (palette luma == index on the grayscale ramp)."""
    from mapreduce_chisquare_spark.operators import imagehash as ih
    from mapreduce_chisquare_spark.operators import multimodal as mm

    docs = spark.range(0, 24).withColumnRenamed("id", "doc_id")
    media = mm.synth_media(docs, mm.synth_gif)
    px = media.mapInPandas(ih.decoded_pixel_batch, ih.PX_SCHEMA)
    got = {r["doc_id"]: r for r in px.collect()}
    assert len(got) == 24
    for doc_id in (0, 1, 5, 23):
        w, h, rows = mm.synth_gif_pixels(doc_id)
        for i in (0, 8, 35, 71):
            r, c = divmod(i, ih.GRID_C + 1)
            want = rows[(r * (h - 1)) // 7][(c * (w - 1)) // 8]
            assert got[doc_id][f"px{i}"] == want, (doc_id, i)


def test_jpeg_dc_exact_roundtrip_on_blockwise_constant():
    """The certification construction: blockwise-constant images with
    even offsets encode -> decode BIT-EXACT through the full baseline
    JPEG path (real Huffman scan, dequant, IDCT, MCU-edge crop), and
    the result equals the fixture formula. Covers edge blocks via the
    non-multiple-of-8 dimensions."""
    from mapreduce_chisquare_spark.operators import multimodal as mm

    for doc_id in (0, 1, 2, 3, 7, 12, 4999):
        w, h, rows = mm.synth_jpeg_pixels(doc_id)
        assert w % 8 or h % 8 or doc_id == 7  # edge crop exercised
        dw, dh, gray = mm.decode_jpeg_pixels(mm.synth_jpeg(doc_id))
        assert (dw, dh) == (w, h)
        for r in range(h):
            for c in range(w):
                assert gray[r][c] == rows[r][c], (doc_id, r, c)


def test_jpeg_random_images_near_lossless_with_unit_quant():
    """AC-coefficient coverage: random images through a unit quant
    table exercise the full run-length/EOB/ZRL Huffman paths and the
    dense IDCT; reconstruction error is bounded by DCT rounding
    (<= 2 gray levels), never structural."""
    import random

    from mapreduce_chisquare_spark.operators import multimodal as mm

    rng = random.Random(3)
    for _ in range(4):
        w, h = rng.randint(8, 40), rng.randint(8, 32)
        rows = [[rng.randrange(256) for _ in range(w)] for _ in range(h)]
        blob = mm.encode_jpeg_gray(rows, qtbl=[1] * 64)
        dw, dh, gray = mm.decode_jpeg_pixels(blob)
        assert (dw, dh) == (w, h)
        err = max(
            abs(gray[r][c] - rows[r][c])
            for r in range(h)
            for c in range(w)
        )
        assert err <= 2, err


def test_jpeg_decode_fails_loud_on_uncovered_variants():
    """Progressive (SOF2), color (3-component), and restart-interval
    JPEGs raise NotImplementedError; corrupt scans raise ValueError;
    non-JPEG raises NotImplementedError from the JPEG entry point."""
    import struct

    from mapreduce_chisquare_spark.operators import multimodal as mm

    with pytest.raises(NotImplementedError):
        mm.decode_jpeg_pixels(b"GIF89anope")
    good = mm.synth_jpeg(5)
    # flip SOF0 -> SOF2 (progressive)
    prog = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(NotImplementedError, match="0xFFC2"):
        mm.decode_jpeg_pixels(prog)
    # 3-component SOF: rebuild the frame header
    i = good.index(b"\xff\xc0")
    (ln,) = struct.unpack(">H", good[i + 2 : i + 4])
    h, w = struct.unpack(">HH", good[i + 5 : i + 9])
    sof3 = (
        b"\xff\xc0"
        + struct.pack(">H", 17)
        + b"\x08"
        + struct.pack(">HH", h, w)
        + b"\x03\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    )
    color = good[:i] + sof3 + good[i + 2 + ln :]
    with pytest.raises(NotImplementedError, match="multi-component"):
        mm.decode_jpeg_pixels(color)
    # truncated scan: ValueError
    with pytest.raises(ValueError):
        mm.decode_jpeg_pixels(good[:-8])


def test_jpeg_matches_pil_where_available():
    """Cross-decoder check: PIL must read our baseline encoder's
    bytes and agree pixel-for-pixel on the DC-exact fixtures."""
    PIL = pytest.importorskip("PIL.Image")
    import io

    from mapreduce_chisquare_spark.operators import multimodal as mm

    for doc_id in (0, 1, 2, 7):
        w, h, rows = mm.synth_jpeg_pixels(doc_id)
        im = PIL.open(io.BytesIO(mm.synth_jpeg(doc_id)))
        assert (im.width, im.height) == (w, h)
        assert list(im.getdata()) == [px for row in rows for px in row]


# ---------------------------------------------------------------------------
# Round 11: real audio sample decode + real video frame extraction


def test_wav_pcm_decode_roundtrip_and_fail_loud():
    """decode_wav_samples recovers the exact int16 samples the
    fixture encoder wrote; non-PCM format tags, other bit depths, and
    non-WAV bytes raise NotImplementedError; truncated data raises
    ValueError."""
    import struct

    from mapreduce_chisquare_spark.operators import multimodal as mm

    for doc_id in (0, 1, 2, 3, 4, 17):
        want = mm.synth_wav_samples(doc_id)
        sr, ch, got = mm.decode_wav_samples(mm.synth_wav_pcm(doc_id))
        assert (sr, ch) == (mm.AUDIO_SR, 1)
        assert got == want
        assert len(want) % mm.AUDIO_FRAME == 0
    with pytest.raises(NotImplementedError):
        mm.decode_wav_samples(b"GIF89a not audio")
    # 24-bit depth: outside the contract
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000 * 3, 3, 24)
    deep = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + 3) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 3) + b"\x00\x00\x00"
    )
    with pytest.raises(NotImplementedError, match="bit depth 24"):
        mm.decode_wav_samples(deep)
    # non-PCM format tag
    fmt = struct.pack("<HHIIHH", 85, 1, 8000, 1000, 1, 16)  # MP3 tag
    mp3ish = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    )
    with pytest.raises(NotImplementedError, match="format tag 85"):
        mm.decode_wav_samples(mp3ish)


def test_audio_fingerprint_matches_python_reference(spark):
    """The registered audio path end to end at small scale: per-frame
    energy / zero-crossings computed JVM-side over REAL-decoded
    samples equal the direct Python computation from the fixture
    formula."""
    from mapreduce_chisquare_spark.operators import multimodal as mm

    docs = spark.range(0, 12).withColumnRenamed("id", "doc_id")
    got = {
        (r.doc_id, r.frame_idx): (r.energy, r.zcr)
        for r in mm.audio_fingerprint(docs).collect()
    }
    n_frames = sum(5 + d % 5 for d in range(12))
    assert len(got) == n_frames
    for doc_id in (0, 3, 7, 11):
        s = mm.synth_wav_samples(doc_id)
        for f in range(len(s) // mm.AUDIO_FRAME):
            fr = s[f * mm.AUDIO_FRAME : (f + 1) * mm.AUDIO_FRAME]
            energy = sum(abs(x) for x in fr)
            zcr = sum(
                1 for a, b in zip(fr, fr[1:]) if a * b < 0
            )
            assert got[(doc_id, f)] == (energy, zcr), (doc_id, f)


def test_avi_frame_extraction_roundtrip_and_fail_loud():
    """decode_avi_frames recovers every synthesized frame's exact
    grayscale through the real RIFF/movi walk + bottom-up BGR DIB
    decode; compressed streams and non-AVI bytes fail loud; the
    header probe still answers on the movi-bearing container."""
    import struct

    from mapreduce_chisquare_spark.operators import multimodal as mm

    for doc_id in (0, 1, 2, 3, 4, 17):
        w, h, frames = mm.synth_avi_frames_pixels(doc_id)
        dw, dh, got = mm.decode_avi_frames(mm.synth_avi_frames(doc_id))
        assert (dw, dh) == (w, h)
        assert len(got) == len(frames)
        for f in range(len(frames)):
            for r in range(h):
                for c in range(w):
                    assert got[f][r][c] == frames[f][r][c]
        assert mm.probe_video_header(mm.synth_avi_frames(doc_id)) == (
            w, h, len(frames),
        )
    with pytest.raises(NotImplementedError):
        mm.decode_avi_frames(b"RIFF\x04\x00\x00\x00WAVE")
    # compressed codec declared in strf -> fail loud, not garbage
    blob = bytearray(mm.synth_avi_frames(2))
    i = bytes(blob).index(b"strf") + 8 + 16  # biCompression offset
    blob[i : i + 4] = struct.pack("<I", 0x44495658)  # 'XVID'
    with pytest.raises(NotImplementedError, match="codec not covered"):
        mm.decode_avi_frames(bytes(blob))


def test_video_frame_phash_keys_and_fanout(spark):
    """video_frame_phash emits one hashed row per (doc, frame) with
    real decoded pixels behind it; frame counts follow the fixture
    formula and distinct frames of one video hash differently."""
    from mapreduce_chisquare_spark.operators import imagehash as ih
    from mapreduce_chisquare_spark.operators import multimodal as mm

    docs = spark.range(0, 9).withColumnRenamed("id", "doc_id")
    media = mm.synth_media(docs, mm.synth_avi_frames)
    rows = ih.video_frame_phash(media).collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r)
        assert len(r.phash) == 16
    for d in range(9):
        assert len(per_doc[d]) == 2 + d % 3, d
    hashes_doc0 = {r.phash for r in per_doc[0]}
    assert len(hashes_doc0) == len(per_doc[0])  # frames differ


def test_video_neardup_recalls_every_planted_clone(spark):
    """Every planted clone video (one perturbed pixel in frame 0)
    must pair with its base sharing AT LEAST n_frames - 1 distinct
    frame hashes — bit-identical frames survive the real encode ->
    decode -> hash pipeline. (The perturbed frame may still hash
    identically when the pushed pixel does not flip either adjacent
    dHash comparison — dHash measures gradients, not values — so
    n_shared == n_frames is legal, not a decode bug.)"""
    from mapreduce_chisquare_spark.operators import imagehash as ih
    from mapreduce_chisquare_spark.operators import multimodal as mm

    base = spark.range(0, 60).withColumnRenamed("id", "doc_id")
    media = mm.synth_media(mm.clone_ids(base), mm.synth_avi_clone)
    pairs = {
        (r.a_id, r.b_id): r.n_shared
        for r in ih.video_neardup_pairs(
            ih.video_frame_phash(media)
        ).collect()
    }
    for b in (0, 20, 40):
        key = (b, b + mm.PHASH_CLONE_OFFSET)
        n_frames = 2 + b % 3
        assert key in pairs, key
        assert pairs[key] >= n_frames - 1, (key, pairs[key])
