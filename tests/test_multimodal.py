"""Multimodal plumbing tests: schemas/batch shapes are real even though
decode kernels are stubbed (no codec libs in this container)."""

import pytest

from elastic_asset_etl_poc_spark.operators.multimodal import (
    FRAME_SAMPLE_SCHEMA,
    IMAGE_FEATURES_SCHEMA,
    extract_image_features,
    sample_frames,
    synthetic_media,
)


def test_image_features_schema_and_rows(spark):
    media = synthetic_media(spark, n=16)
    out = extract_image_features(media)
    assert out.schema == IMAGE_FEATURES_SCHEMA
    rows = out.collect()
    assert len(rows) == 16
    assert all(r.n_bytes > 0 and r.width >= 16 for r in rows)


def test_image_features_deterministic(spark):
    media = synthetic_media(spark, n=8)
    a = sorted(map(tuple, extract_image_features(media).collect()))
    b = sorted(map(tuple, extract_image_features(media).collect()))
    assert a == b


def test_frame_sampling_fanout(spark):
    media = synthetic_media(spark, n=6)
    out = sample_frames(media, every_n=2)
    assert out.schema == FRAME_SAMPLE_SCHEMA
    rows = out.collect()
    assert len(rows) > 6  # fan-out: multiple frames per media row
    assert all(r.frame_idx % 2 == 0 for r in rows)
    assert all(len(r.frame_bytes) <= 1024 for r in rows)


def test_audio_features_real_wav_decode(spark):
    from elastic_asset_etl_poc_spark.operators.multimodal import (
        extract_audio_features,
        synthetic_audio,
    )

    out = {r.media_id: r for r in extract_audio_features(synthetic_audio(spark, 16)).collect()}
    assert len(out) == 16
    ok = [r for r in out.values() if r.decode_ok]
    bad = [r for r in out.values() if not r.decode_ok]
    assert len(bad) == 2  # every 8th payload is garbage (ids 7, 15)
    assert {r.media_id for r in bad} == {7, 15}
    for r in ok:
        assert r.sample_rate == 8000 and r.n_channels == 1
        assert r.n_samples in range(400, 651, 50)
        assert abs(r.duration_sec - r.n_samples / 8000) < 1e-9
        assert abs(r.rms - 12000 / 32768 / 2**0.5) < 0.01  # sine rms = A/sqrt(2)
    for r in bad:
        assert r.sample_rate is None and r.rms is None


def test_audio_energy_segmentation(spark):
    """Silence-separated bursts come back as distinct segments with
    frame-accurate boundaries; garbage payloads fail soft."""
    import io
    import math
    import struct
    import wave

    from elastic_asset_etl_poc_spark.operators.multimodal import (
        segment_audio_energy,
    )

    sr = 8000
    flen = sr * 25 // 1000  # 200 samples per 25ms frame

    def pcm(samples):
        return b"".join(struct.pack("<h", int(s)) for s in samples)

    # 4 silent frames, 8 loud frames, 4 silent, 4 loud
    sig = (
        [0.0] * (4 * flen)
        + [12000 * math.sin(2 * math.pi * 440 * t / sr) for t in range(8 * flen)]
        + [0.0] * (4 * flen)
        + [12000 * math.sin(2 * math.pi * 220 * t / sr) for t in range(4 * flen)]
    )
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(pcm(sig))
    df = spark.createDataFrame(
        [(1, buf.getvalue()), (2, b"junk")], "media_id long, payload binary"
    )
    rows = segment_audio_energy(df).collect()
    segs = sorted(
        [r for r in rows if r.media_id == 1], key=lambda r: r.seg_id
    )
    assert [r.decode_ok for r in segs] == [True, True]
    assert [(r.n_frames, r.start_sec, r.end_sec) for r in segs] == [
        (8, round(4 * 0.025, 6), round(12 * 0.025, 6)),
        (4, round(16 * 0.025, 6), round(20 * 0.025, 6)),
    ]
    for r in segs:  # sine RMS = A/sqrt(2)
        assert abs(r.seg_rms - 12000 / 32768 / 2**0.5) < 0.01
    bad = [r for r in rows if r.media_id == 2]
    assert len(bad) == 1 and not bad[0].decode_ok and bad[0].seg_id is None


def _make_bmp(w, h, rgb):
    import struct

    stride = (w * 3 + 3) & ~3
    header = struct.pack("<2sIHHI", b"BM", 54 + stride * h, 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 2835, 2835, 0, 0
    )
    row = bytes([rgb[2], rgb[1], rgb[0]] * w) + b"\x00" * (stride - w * 3)
    return header + row * h


def _png_chunk(t, d):
    import struct
    import zlib

    return struct.pack(">I", len(d)) + t + d + struct.pack(">I", zlib.crc32(t + d))


def _make_png(w, h, rgb, filters=None):
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    if filters is None:
        raw = b"".join(b"\x00" + bytes(rgb) * w for _ in range(h))
    else:
        raw = filters
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def test_real_bmp_png_decode(spark):
    df = spark.createDataFrame(
        [
            (0, _make_bmp(4, 2, (255, 0, 0))),   # red -> luma 76.245
            (1, _make_png(3, 3, (0, 0, 255))),    # blue -> luma 29.07
            (2, b"\xff\xd8\xff not-actually-jpeg"),  # unknown -> stub
        ],
        "media_id long, payload binary",
    )
    out = {r.media_id: r for r in extract_image_features(df).collect()}
    assert (out[0].format, out[0].width, out[0].height) == ("bmp", 4, 2)
    assert abs(out[0].mean_luma - 0.299 * 255) < 1e-9
    assert (out[1].format, out[1].width, out[1].height) == ("png", 3, 3)
    assert abs(out[1].mean_luma - 0.114 * 255) < 1e-9
    assert out[2].format == "fake"


def test_png_sub_filter_unfiltering(spark):
    # one scanline, filter type 1 (Sub): stored = actual - left-pixel byte
    raw = bytes([1, 10, 20, 30, 5, 5, 5])  # pixels (10,20,30), (15,25,35)
    df = spark.createDataFrame(
        [(0, _make_png(2, 1, None, filters=raw))], "media_id long, payload binary"
    )
    r = extract_image_features(df).collect()[0]
    assert r.format == "png"
    expected = (
        (0.299 * 10 + 0.587 * 20 + 0.114 * 30)
        + (0.299 * 15 + 0.587 * 25 + 0.114 * 35)
    ) / 2
    assert abs(r.mean_luma - expected) < 1e-9


def test_png_average_and_paeth_filters(spark):
    # row 1: filter 0 (raw); row 2: Paeth — both pixels predict from up/left
    raw_paeth = (
        bytes([0, 10, 20, 30, 40, 50, 60]) + bytes([4, 2, 2, 2, 5, 5, 5])
    )  # row2 pixels decode to (12,22,32), (45,55,65)
    raw_avg = bytes([3, 10, 20, 30, 10, 15, 20])  # pixels (10,20,30), (15,25,35)
    df = spark.createDataFrame(
        [
            (0, _make_png(2, 2, None, filters=raw_paeth)),
            (1, _make_png(2, 1, None, filters=raw_avg)),
            (2, _make_png(1, 1, None, filters=bytes([7, 1, 2, 3]))),  # bad filter
        ],
        "media_id long, payload binary",
    )
    out = {r.media_id: r for r in extract_image_features(df).collect()}

    def luma(*px):
        return sum(0.299 * r + 0.587 * g + 0.114 * b for r, g, b in px) / len(px)

    assert out[0].format == "png"
    assert abs(out[0].mean_luma - luma((10, 20, 30), (40, 50, 60), (12, 22, 32), (45, 55, 65))) < 1e-9
    assert out[1].format == "png"
    assert abs(out[1].mean_luma - luma((10, 20, 30), (15, 25, 35))) < 1e-9
    assert out[2].format == "fake"  # corrupt filter byte -> fail-soft stub


# Real-encoder JPEG fixtures (CPython test-suite data, PSF licensed):
# python.jpg — 16x16 baseline 3-component; 2x2.jpg — 2x2 grayscale.
# Ground-truth mean luma computed ONCE with javax.imageio (an independent
# decoder): python.jpg 98.1910 (BT.601 of the clamped RGB raster — the
# Y-channel mean differs by the irreducible chroma-clamping gap),
# 2x2.jpg exactly 128.0 (uniform gray; note java's getRGB() on
# TYPE_BYTE_GRAY reports 188 due to its linear->sRGB conversion — raster
# samples are the ground truth).
_PYTHON_JPG_B64 = (
    "/9j/4AAQSkZJRgABAQEAAQABAAD/2wBDAAMCAgICAgMCAgIDAwMDBAYEBAQEBAgGBgUGCQgKCgkI"
    "CQkKDA8MCgsOCwkJDRENDg8QEBEQCgwSExIQEw8QEBD/2wBDAQMDAwQDBAgEBAgQCwkLEBAQEBAQ"
    "EBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBD/wAARCAAQABADASIA"
    "AhEBAxEB/8QAFgABAQEAAAAAAAAAAAAAAAAABwQF/8QAJBAAAQQBBAICAwAAAAAAAAAAAQIDBAYF"
    "BwgSExEiABQJMTL/xAAVAQEBAAAAAAAAAAAAAAAAAAAABv/EACMRAAECBQMFAAAAAAAAAAAAAAEC"
    "EQMEBQYhABIxFRZhgeH/2gAMAwEAAhEDEQA/ABSm0mobc8HmExLUlRzzEWPkJWW+ulrsaUVAseUg"
    "slSlH9LKuPryIKuWPZdskzXmm3fX5m2nF4GlVxx/HOpx4ks51+MiU/Iaad7UcUo4tILoS4kqcWke"
    "zS0hO/HvuRp0rO6hWnWO1UisZVuFi4GFeyEpmGepa5S5SWVPuciFKRFLgSrwetnyPIB+Vb4N9mKh"
    "QMzo5po9XLdDs9d6ZVix2VEhiL9kuNPxw2gEKcDQ/rs8AuA8VAe0vdl7VOYn+27flGAUgmITjbhS"
    "mCg3BYlyeWDkMolvw4KOp1KM6iCNvngZHwetf//Z"
)
_2X2_JPG_B64 = (
    "/9j/4AAQSkZJRgABAQAAAQABAAD/2wBDAAgGBgcGBQgHBwcJCQgKDBQNDAsLDBkSEw8UHRofHh0a"
    "HBwgJC4nICIsIxwcKDcpLDAxNDQ0Hyc5PTgyPC4zNDL/wAALCAACAAIBAREA/8QAHwAAAQUBAQEB"
    "AQEAAAAAAAAAAAECAwQFBgcICQoL/8QAtRAAAgEDAwIEAwUFBAQAAAF9AQIDAAQRBRIhMUEGE1Fh"
    "ByJxFDKBkaEII0KxwRVS0fAkM2JyggkKFhcYGRolJicoKSo0NTY3ODk6Q0RFRkdISUpTVFVWV1hZ"
    "WmNkZWZnaGlqc3R1dnd4eXqDhIWGh4iJipKTlJWWl5iZmqKjpKWmp6ipqrKztLW2t7i5usLDxMXG"
    "x8jJytLT1NXW19jZ2uHi4+Tl5ufo6erx8vP09fb3+Pn6/9oACAEBAAA/ACv/2Q=="
)


def test_real_jpeg_decode_vs_imageio_ground_truth(spark):
    """Decode REAL encoder output (not our own fixtures) and match
    dimensions exactly + luma against javax.imageio ground truth."""
    import base64

    payloads = [
        (0, base64.b64decode(_PYTHON_JPG_B64)),
        (1, base64.b64decode(_2X2_JPG_B64)),
    ]
    df = spark.createDataFrame(payloads, "media_id long, payload binary")
    from elastic_asset_etl_poc_spark.operators.multimodal import (
        extract_image_features,
    )

    rows = {r.media_id: r for r in extract_image_features(df).collect()}
    assert rows[0].format == "jpeg" and (rows[0].width, rows[0].height) == (16, 16)
    assert abs(rows[0].mean_luma - 98.1910) <= 1.5  # chroma-clamping gap
    assert rows[1].format == "jpeg" and (rows[1].width, rows[1].height) == (2, 2)
    assert abs(rows[1].mean_luma - 128.0) <= 1e-9  # grayscale: exact


def test_jpeg_roundtrip_gray_and_420(spark):
    """Our baseline encoder's output decodes to the ORIGINAL pixels'
    dimensions and mean luma (all-2s quant => sub-1 error), for both
    grayscale and 4:2:0 color frames, including non-multiple-of-MCU
    sizes; garbage with a JPEG magic falls soft to 'fake'."""
    import numpy as np

    from elastic_asset_etl_poc_spark.operators.multimodal import (
        _encode_jpeg_baseline,
        extract_image_features,
    )

    cases = []
    want = {}
    mid = 0
    for color in (False, True):
        for (w, h) in [(24, 16), (31, 17)]:
            yy, xx = np.mgrid[0:h, 0:w]
            gray = ((xx * 5 + yy * 3 + mid * 11) % 256).astype(np.uint8)
            cases.append((mid, _encode_jpeg_baseline(gray, color_420=color)))
            want[mid] = (w, h, float(gray.mean()))
            mid += 1
    cases.append((mid, b"\xff\xd8 not really a jpeg"))
    df = spark.createDataFrame(cases, "media_id long, payload binary")
    rows = {r.media_id: r for r in extract_image_features(df).collect()}
    for i, (w, h, luma) in want.items():
        assert rows[i].format == "jpeg"
        assert (rows[i].width, rows[i].height) == (w, h)
        assert abs(rows[i].mean_luma - luma) <= 1.5
    assert rows[mid].format == "fake"


def test_synthetic_images_suite_fixture(spark):
    """The suite's image fixture mixes real-decoding JPEGs (gray + 4:2:0)
    with fail-soft garbage rows."""
    from elastic_asset_etl_poc_spark.operators.multimodal import (
        extract_image_features,
        synthetic_images,
    )

    out = extract_image_features(synthetic_images(spark, n=16)).collect()
    fmts = {r.media_id: r.format for r in out}
    assert len(out) == 16
    assert {fmts[i] for i in range(16) if i % 4 in (0, 1, 2)} == {"jpeg"}
    assert {fmts[i] for i in range(16) if i % 4 == 3} == {"fake"}


def test_resize_images_thumbnails(spark):
    """Resize decodes real formats, area-resamples, and re-encodes a real
    grayscale PNG whose mean luma matches the source; undecodable
    payloads fail soft."""
    import numpy as np

    from elastic_asset_etl_poc_spark.operators.multimodal import (
        _decode_png,
        _encode_jpeg_baseline,
        resize_images,
    )

    yy, xx = np.mgrid[0:24, 0:32]
    gray = ((xx * 5 + yy * 3) % 256).astype(np.uint8)
    df = spark.createDataFrame(
        [
            (0, _encode_jpeg_baseline(gray)),
            (1, _make_bmp(10, 6, (0, 255, 0))),
            (2, b"not an image at all"),
        ],
        "media_id long, payload binary",
    )
    rows = {r.media_id: r for r in resize_images(df, 8, 8).collect()}
    assert (rows[0].width, rows[0].height, rows[0].format) == (8, 8, "jpeg")
    w, h, thumb = _decode_png(bytes(rows[0].payload))
    assert (w, h) == (8, 8)
    assert abs(float(thumb.mean()) - float(gray.mean())) <= 2.0  # box filter preserves mean
    assert rows[1].format == "bmp"
    w1, h1, t1 = _decode_png(bytes(rows[1].payload))
    assert (w1, h1) == (8, 8) and abs(float(t1.mean()) - 149.685) < 1.0  # green luma
    assert rows[2].format == "fake" and rows[2].payload is None


def test_sample_frames_mjpeg_real_split(spark):
    """MJPEG payloads split into REAL standalone JPEG frames (every Nth),
    each independently decodable; non-MJPEG payloads keep the 1 KiB stub
    slicing."""
    import numpy as np

    from elastic_asset_etl_poc_spark.operators.multimodal import (
        _decode_luma,
        _encode_jpeg_baseline,
        sample_frames,
    )

    frames = []
    for i in range(5):
        g = (np.full((16, 16), 40 * i)).astype(np.uint8)
        frames.append(_encode_jpeg_baseline(g))
    df = spark.createDataFrame(
        [(0, b"".join(frames)), (1, b"y" * 5000)], "media_id long, payload binary"
    )
    out = sample_frames(df, every_n=2).collect()
    mj = sorted(
        [r for r in out if r.media_id == 0], key=lambda r: r.frame_idx
    )
    assert [r.frame_idx for r in mj] == [0, 2, 4]
    for r in mj:
        w, h, plane, fmt = _decode_luma(bytes(r.frame_bytes))
        assert fmt == "jpeg" and (w, h) == (16, 16)
        assert abs(float(plane.mean()) - 40 * r.frame_idx) <= 1.5
    stub = [r for r in out if r.media_id == 1]
    assert [r.frame_idx for r in stub] == [0, 2]  # 2 of 2 kiB frames sampled


def test_jpeg_hostile_header_fails_soft_fast(spark):
    """A corrupt SOF claiming 65535x65535 must fail soft instantly — not
    allocate a 34 GB plane or walk 67M MCUs (one bad file must never OOM
    or stall a partition)."""
    import struct

    from elastic_asset_etl_poc_spark.operators.multimodal import (
        extract_image_features,
    )

    out = bytearray(b"\xff\xd8")

    def seg(m, payload):
        out.extend(struct.pack(">BBH", 0xFF, m, len(payload) + 2))
        out.extend(payload)

    seg(0xDB, bytes([0]) + bytes([2] * 64))
    seg(0xC0, struct.pack(">BHHB", 8, 65535, 65535, 1) + bytes([1, 0x11, 0]))
    dc_counts = [0] * 16
    dc_counts[7] = 12
    seg(0xC4, bytes([0x00]) + bytes(dc_counts) + bytes(range(12)))
    seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    out.extend(b"\x2b\xff\xd9")
    df = spark.createDataFrame([(0, bytes(out))], "media_id long, payload binary")
    row = extract_image_features(df).collect()[0]
    assert row.format == "fake"


def test_jpeg_single_scan_ignores_sampling_factors(spark):
    """Spec A.2.2: a single-component scan is non-interleaved — a
    grayscale frame declaring 0x22 sampling must decode identically to
    the 0x11 twin instead of desyncing into the fake path."""
    import numpy as np

    from elastic_asset_etl_poc_spark.operators.multimodal import (
        _encode_jpeg_baseline,
        extract_image_features,
    )

    yy, xx = np.mgrid[0:17, 0:31]
    gray = ((xx * 5 + yy * 3) % 256).astype(np.uint8)
    plain = bytearray(_encode_jpeg_baseline(gray))
    idx = bytes(plain).find(b"\xff\xc0")
    samp_off = idx + 2 + 2 + 6 + 1
    assert plain[samp_off] == 0x11
    patched = bytearray(plain)
    patched[samp_off] = 0x22
    df = spark.createDataFrame(
        [(0, bytes(plain)), (1, bytes(patched))], "media_id long, payload binary"
    )
    rows = {r.media_id: r for r in extract_image_features(df).collect()}
    assert rows[1].format == "jpeg"
    assert (rows[1].width, rows[1].height) == (31, 17)
    assert rows[1].mean_luma == rows[0].mean_luma


def test_jpeg_exif_orientation(spark):
    """EXIF Orientation parses from a spliced APP1 TIFF-IFD (both byte
    orders); JPEGs without EXIF report NULL."""
    import struct

    import numpy as np

    from elastic_asset_etl_poc_spark.operators.multimodal import (
        _encode_jpeg_baseline,
        extract_image_features,
    )

    def app1(order, orientation):
        e = "<" if order == b"II" else ">"
        tiff = order + struct.pack(e + "HI", 0x2A, 8)
        ifd = struct.pack(e + "H", 1) + struct.pack(
            e + "HHIHH", 0x0112, 3, 1, orientation, 0
        ) + struct.pack(e + "I", 0)
        payload = b"Exif\x00\x00" + tiff + ifd
        return b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload

    base = _encode_jpeg_baseline(np.full((8, 8), 77, dtype=np.uint8))
    rows = {
        r.media_id: r
        for r in extract_image_features(
            spark.createDataFrame(
                [
                    (0, base),
                    (1, base[:2] + app1(b"II", 6) + base[2:]),
                    (2, base[:2] + app1(b"MM", 3) + base[2:]),
                ],
                "media_id long, payload binary",
            )
        ).collect()
    }
    assert rows[0].orientation is None
    assert rows[1].format == "jpeg" and rows[1].orientation == 6
    assert rows[2].format == "jpeg" and rows[2].orientation == 3
    assert rows[1].mean_luma == rows[0].mean_luma  # APP1 doesn't change decode


def test_resize_applies_exif_orientation(spark):
    """resize_images normalizes rotated-at-capture JPEGs: orientation 6
    (90° CW to display) rotates the plane before resampling, so an
    asymmetric image's thumbnail differs from the unrotated twin while a
    symmetric transform preserves the mean."""
    import struct

    import numpy as np

    from elastic_asset_etl_poc_spark.operators.multimodal import (
        _apply_exif_orientation,
        _decode_png,
        _encode_jpeg_baseline,
        resize_images,
    )

    # numpy-level truth table: orientation 6 = rot90(p, -1)
    p = np.arange(6, dtype=float).reshape(2, 3)
    assert np.array_equal(_apply_exif_orientation(p, 6), np.rot90(p, -1))
    assert np.array_equal(_apply_exif_orientation(p, 1), p)

    def app1(orientation):
        tiff = b"II" + struct.pack("<HI", 0x2A, 8)
        ifd = struct.pack("<H", 1) + struct.pack(
            "<HHIHH", 0x0112, 3, 1, orientation, 0
        ) + struct.pack("<I", 0)
        payload = b"Exif\x00\x00" + tiff + ifd
        return b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload

    # left-bright/right-dark gradient: rotating 90° makes rows uniform
    yy, xx = np.mgrid[0:16, 0:16]
    gray = (xx * 16).astype(np.uint8)
    base = _encode_jpeg_baseline(gray)
    rotated = base[:2] + app1(6) + base[2:]
    df = spark.createDataFrame(
        [(0, base), (1, rotated)], "media_id long, payload binary"
    )
    rows = {r.media_id: r for r in resize_images(df, 4, 4).collect()}
    _, _, t0 = _decode_png(bytes(rows[0].payload))
    _, _, t1 = _decode_png(bytes(rows[1].payload))
    # same pixels, different arrangement: mean preserved, layout not
    assert abs(float(t0.mean()) - float(t1.mean())) < 1.0
    assert not np.array_equal(t0, t1)
    # rotation 6 maps the horizontal gradient to a vertical one
    assert np.ptp(t1.mean(axis=1)) > 10 * max(np.ptp(t1.mean(axis=0)), 1e-9)


def test_dhash_scale_invariance_and_neardup_pairs(spark):
    """dHash keys on structure: the same gradient at two resolutions
    hashes within a few bits (a near-dup pair); a different pattern and
    a garbage payload do not pair with it."""
    import numpy as np

    from elastic_asset_etl_poc_spark.operators.multimodal import (
        _encode_jpeg_baseline,
        dhash_images,
        image_neardup_dhash,
    )

    def grad(w, h, flip=False):
        yy, xx = np.mgrid[0:h, 0:w]
        g = (xx * (256 // w)).astype(np.uint8)
        return np.fliplr(g) if flip else g

    rows = [
        (1, _encode_jpeg_baseline(grad(32, 24))),
        (2, _encode_jpeg_baseline(grad(48, 40))),   # same structure, other size
        (3, _encode_jpeg_baseline(grad(32, 24, flip=True))),  # mirrored
        (4, b"not an image at all"),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    fps = {r.media_id: r.dhash for r in dhash_images(df).collect()}
    assert fps[4] is None  # fail-soft
    assert fps[1] is not None and fps[2] is not None
    ham12 = bin((fps[1] ^ fps[2]) & ((1 << 64) - 1)).count("1")
    ham13 = bin((fps[1] ^ fps[3]) & ((1 << 64) - 1)).count("1")
    assert ham12 <= 6 < ham13  # scale-invariant, mirror-sensitive

    pairs = {
        (r.doc_a, r.doc_b) for r in image_neardup_dhash(df, max_hamming=6).collect()
    }
    assert (1, 2) in pairs and not any(4 in p for p in pairs)


def test_banded_hamming_pairs_complete_vs_exact(spark):
    """Banding must recover every exact Hamming<=k pair (pigeonhole) on
    an adversarial fingerprint set, including differences confined to
    the top bits a 64//bands chunk layout leaves uncovered."""
    from pyspark.sql import functions as F
    from elastic_asset_etl_poc_spark.operators.neardup import banded_hamming_pairs

    base = 0x0123456789ABCDEF
    fps = [
        (1, base),
        (2, base ^ 0b111),                      # hamming 3, low bits
        (3, base ^ (1 << 63)),                  # hamming 1, uncovered top bit
        (4, base ^ ((1 << 63) | (1 << 62) | 1)),  # hamming 3 spread
        (5, ~base & ((1 << 64) - 1) - (1 << 63)),  # far away
    ]
    fps = [(i, v if v < (1 << 63) else v - (1 << 64)) for i, v in fps]
    df = spark.createDataFrame(fps, "doc_id long, simhash long")
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in banded_hamming_pairs(df, max_hamming=3).collect()
    }
    a = df.selectExpr("doc_id AS doc_a", "simhash AS fp_a")
    b = df.selectExpr("doc_id AS doc_b", "simhash AS fp_b")
    want = {
        (r.doc_a, r.doc_b): r.hamming
        for r in a.join(b, F.col("doc_a") < F.col("doc_b"))
        .selectExpr("doc_a", "doc_b", "bit_count(fp_a ^ fp_b) AS hamming")
        .filter("hamming <= 3")
        .collect()
    }
    assert got == want and (1, 3) in got  # top-bit pair recovered


def test_banded_hamming_pairs_clone_groups_exact(spark):
    """Identical-fingerprint pre-collapse must reconstitute the FULL
    pair set: intra-group hamming-0 pairs, cross-group expansion through
    both member lists, and far groups excluded."""
    from pyspark.sql import functions as F
    from elastic_asset_etl_poc_spark.operators.neardup import banded_hamming_pairs

    base = 0x0123456789ABCDEF
    rows = (
        [(i, base) for i in range(1, 4)]            # 3 clones of A
        + [(i, base ^ 0b11) for i in range(4, 6)]   # 2 clones of B, hamming 2
        + [(6, ~base & ((1 << 63) - 1))]            # far singleton
    )
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in banded_hamming_pairs(df, max_hamming=3).collect()
    }
    a = df.selectExpr("doc_id AS doc_a", "simhash AS fp_a")
    b = df.selectExpr("doc_id AS doc_b", "simhash AS fp_b")
    want = {
        (r.doc_a, r.doc_b): r.hamming
        for r in a.join(b, F.col("doc_a") < F.col("doc_b"))
        .selectExpr("doc_a", "doc_b", "bit_count(fp_a ^ fp_b) AS hamming")
        .filter("hamming <= 3")
        .collect()
    }
    assert got == want
    assert len(got) == 3 + 1 + 6  # C(3,2) intra-A + C(2,2) intra-B + 3*2 cross


def test_banded_hamming_pairs_degenerate_clone_cluster(spark):
    """Adversarial hot bucket: 10k IDENTICAL fingerprints (solid-color
    thumbnails / silent audio / boilerplate).  The banded candidate join
    sees ONE distinct fingerprint — its per-bucket input is 1 row, not
    10k rows -> 10k^2 candidate pairs in a single task — and the
    k(k-1)/2 output is rebuilt by a relational self-equi-join AQE can
    split.  Plan check: the explode feeding the banded join hangs off
    the distinct-fingerprint aggregate."""
    from pyspark.sql import functions as F
    from elastic_asset_etl_poc_spark.operators.neardup import banded_hamming_pairs

    n = 10_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(0x5A5A5A5A5A5A5A5A).alias("simhash")
    )
    pairs = banded_hamming_pairs(df, max_hamming=3)
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    gen_pos = plan.find("Generate explode")
    agg_pos = plan.find("Aggregate [__fp")
    assert gen_pos != -1 and agg_pos != -1 and agg_pos > gen_pos  # agg below explode
    assert pairs.count() == n * (n - 1) // 2
    assert pairs.filter("hamming != 0").count() == 0
    """Same spectral content at different volume/length hashes near-
    equal; different spectral content is far; garbage is NULL."""
    import io
    import math
    import struct
    import wave

    from elastic_asset_etl_poc_spark.operators.multimodal import (
        audio_fingerprint,
        audio_neardup_afp,
    )

    def tone(freqs, amp, n_samp, sr=8000):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(sr)
            w.writeframes(
                b"".join(
                    struct.pack(
                        "<h",
                        int(
                            sum(
                                amp * math.sin(2 * math.pi * f * t / sr)
                                for f in freqs
                            )
                        ),
                    )
                    for t in range(n_samp)
                )
            )
        return buf.getvalue()

    rows = [
        (1, tone([440, 880], 9000, 2048)),
        (2, tone([440, 880], 3000, 1792)),   # same content, softer + shorter
        (3, tone([1500, 3000], 9000, 2048)),  # different spectrum
        (4, b"never a wav"),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    fps = {r.media_id: r.afp for r in audio_fingerprint(df).collect()}
    assert fps[4] is None
    m = (1 << 64) - 1
    ham12 = bin((fps[1] ^ fps[2]) & m).count("1")
    ham13 = bin((fps[1] ^ fps[3]) & m).count("1")
    assert ham12 <= 2 < ham13

    pairs = {(r.doc_a, r.doc_b) for r in audio_neardup_afp(df).collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs


def test_video_neardup_frame_hash_sets(spark):
    """Neighboring synthetic videos overlap in all but one frame and must
    pair with the expected Jaccard; distant videos and garbage must not.
    Also proves distinct frame structures get distinct dHashes (the
    fixture's point: a constant-offset gradient family would collapse)."""
    from elastic_asset_etl_poc_spark.operators.multimodal import (
        dhash_images,
        synthetic_videos,
        video_neardup_frames,
    )

    vids = synthetic_videos(spark, n=12, frames_per_video=6)
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in video_neardup_frames(vids, threshold=0.5).collect()
    }
    # adjacent (share 5/6 frames): J = 5/7; distance 2: J = 4/8 = 0.5
    assert pairs[(0, 1)] == round(5 / 7, 4)
    assert pairs[(0, 2)] == 0.5
    assert (0, 3) not in pairs  # 3/9 < threshold
    assert not any(4 in p or 9 in p for p in pairs)  # garbage payloads

    # fixture sanity: the 6 frames of video 0 hash distinctly
    import pyspark.sql.functions as F

    frames0 = vids.filter("media_id = 0")
    from elastic_asset_etl_poc_spark.operators.multimodal import sample_frames

    f = sample_frames(frames0, every_n=1).select(
        F.col("frame_idx").alias("media_id"), F.col("frame_bytes").alias("payload")
    )
    hashes = [r.dhash for r in dhash_images(f).collect()]
    assert len(set(hashes)) == len(hashes) == 6


def test_video_neardup_negative_media_ids(spark):
    """The (video, frame) packing must keep NEGATIVE media ids intact:
    truncating `div` would fold video -1's frames onto video 0.  Shift a
    fixture's ids negative and demand the identical pair graph shifted."""
    import pyspark.sql.functions as F

    from elastic_asset_etl_poc_spark.operators.multimodal import (
        synthetic_videos,
        video_neardup_frames,
    )

    vids = synthetic_videos(spark, n=8, frames_per_video=6)
    pos = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in video_neardup_frames(vids, threshold=0.5).collect()
    }
    shifted = vids.select(
        (F.col("media_id") - 4).alias("media_id"), "payload"
    )
    neg = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in video_neardup_frames(shifted, threshold=0.5).collect()
    }
    assert neg == {
        (a - 4, b - 4): j for (a, b), j in pos.items()
    } and len(neg) > 0


def test_audio_fingerprint_frame_parameter(spark):
    """`frame` folds the spectrum from its own rfft bin count — frame=128
    (64 usable bins) must produce real fingerprints, not blanket NULLs
    masked as 'undecodable'; frame < 128 is a caller error that raises."""
    import pytest

    from elastic_asset_etl_poc_spark.operators.multimodal import (
        audio_fingerprint,
        synthetic_audio,
    )

    audio = synthetic_audio(spark, n=16)
    for frame in (128, 256):  # fixture bursts are >= 400 samples
        fps = {
            r.media_id: r.afp
            for r in audio_fingerprint(audio, frame=frame).collect()
        }
        decodable = [v for k, v in fps.items() if k % 8 != 7]  # non-garbage
        assert decodable and all(v is not None for v in decodable)

    with pytest.raises(ValueError, match="frame"):
        audio_fingerprint(audio, frame=64)
