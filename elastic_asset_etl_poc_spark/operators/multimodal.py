"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` columns plus typed metadata; decode /
feature-extract / resize / frame-sample run as Arrow-batched
``mapInPandas`` stages.  Decode is REAL for the dominant formats with
pure stdlib + numpy, no codec libraries: audio WAV/PCM (``wave``),
BMP 24-bpp (``struct``), PNG 8-bit (``zlib`` + all five scanline
filters), and baseline-sequential JPEG (Huffman + IDCT, grayscale and
any chroma subsampling).  Remaining formats (progressive JPEG, WebP,
mp3/ogg, video containers) fall soft to deterministic stub rows — the
Spark-side contract (schemas, batch shapes, partitioning, UDF
signatures, fail-soft rows) is identical either way, which is the part
that matters for the 100 TB plan: a codec swap never changes the plan.

Scale posture: media rows are fat (MBs) — keep
``spark.sql.files.maxPartitionBytes`` low for balanced tasks, never
shuffle raw bytes (derive features first, then drop the binary column
before any join/groupBy), and use ``mapInPandas`` (streaming Arrow
batches) rather than collecting rows.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: schema of a decoded-image feature row
IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("mean_luma", T.DoubleType()),
        T.StructField("format", T.StringType()),
        T.StructField("orientation", T.IntegerType()),
    ]
)

FRAME_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_bytes", T.BinaryType()),
    ]
)


def _decode_bmp(b: bytes):
    """Uncompressed 24-bpp BMP decode → (w, h, luma plane) — pure
    ``struct``/numpy.

    BITMAPINFOHEADER: width int32@18, height int32@22 (negative =
    top-down), bpp uint16@28, pixel offset uint32@10; rows are padded to
    4-byte multiples, pixels are BGR (bottom-up unless height < 0).
    """
    import struct

    import numpy as np

    w, h = struct.unpack_from("<ii", b, 18)
    bpp = struct.unpack_from("<H", b, 28)[0]
    off = struct.unpack_from("<I", b, 10)[0]
    if bpp != 24:
        raise ValueError(f"only 24-bpp BMP supported, got {bpp}")
    h_abs = abs(h)
    stride = (w * 3 + 3) & ~3
    px = np.frombuffer(b, dtype=np.uint8, count=stride * h_abs, offset=off)
    px = px.reshape(h_abs, stride)[:, : w * 3].reshape(h_abs, w, 3).astype(np.float64)
    # BGR → ITU-R 601 luma
    luma = 0.114 * px[..., 0] + 0.587 * px[..., 1] + 0.299 * px[..., 2]
    if h > 0:
        luma = luma[::-1]  # bottom-up storage → top-down plane
    return w, h_abs, luma


def _png_unfilter(raw: bytes, width: int, height: int, channels: int):
    """Undo PNG per-scanline filtering (types 0-4) → (height, width*ch)."""
    import numpy as np

    bpp = channels  # bytes per pixel at bit depth 8
    stride = width * channels
    out = np.zeros((height, stride), dtype=np.int64)
    pos = 0
    for y in range(height):
        ftype = raw[pos]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=pos + 1).astype(
            np.int64
        )
        pos += 1 + stride
        prev = out[y - 1] if y else np.zeros(stride, dtype=np.int64)
        if ftype == 0:  # None
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype == 1:  # Sub: per-channel prefix sum mod 256
            cur = np.cumsum(line.reshape(width, bpp), axis=0).reshape(stride) & 0xFF
        elif ftype in (3, 4):  # Average/Paeth: per-PIXEL recurrence on
            cur = np.zeros(stride, dtype=np.int64)  # whole channel vectors
            lp = line.reshape(width, bpp)
            pp = prev.reshape(width, bpp)
            cp = cur.reshape(width, bpp)
            zero = np.zeros(bpp, dtype=np.int64)
            for x in range(width):
                a = cp[x - 1] if x else zero
                bb = pp[x]
                c = pp[x - 1] if x else zero
                if ftype == 3:
                    pred = (a + bb) // 2
                else:
                    p = a + bb - c
                    pa, pb, pc = np.abs(p - a), np.abs(p - bb), np.abs(p - c)
                    pred = np.where(
                        (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, bb, c)
                    )
                cp[x] = (lp[x] + pred) & 0xFF
        else:
            # unknown filter byte = corrupt stream: raise so the caller's
            # fail-soft path labels the row 'fake' instead of trusting
            # garbage luma under format='png'
            raise ValueError(f"invalid PNG scanline filter {ftype}")
        out[y] = cur
    return out


def _decode_png(b: bytes):
    """Minimal PNG decode → (w, h, luma plane) — pure ``zlib``/``struct``:
    8-bit greyscale / RGB / RGBA, non-interlaced, all five scanline
    filters."""
    import struct
    import zlib

    if b[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, idat, meta = 8, b"", None
    while pos < len(b):
        (length,) = struct.unpack_from(">I", b, pos)
        ctype = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            w, h, depth, color, _, _, interlace = struct.unpack(">IIBBBBB", data)
            if depth != 8 or interlace or color not in (0, 2, 6):
                raise ValueError("unsupported PNG variant")
            meta = (w, h, {0: 1, 2: 3, 6: 4}[color])
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if meta is None:
        raise ValueError("no IHDR")
    w, h, ch = meta
    px = _png_unfilter(zlib.decompress(idat), w, h, ch).reshape(h, w, ch)
    if ch == 1:
        luma = px[..., 0].astype(float)
    else:  # RGB(A): ITU-R 601, alpha ignored
        luma = 0.299 * px[..., 0] + 0.587 * px[..., 1] + 0.114 * px[..., 2]
    return w, h, luma


#: zigzag index -> natural (row-major) index, JPEG spec Figure 5
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]


def _dct_basis():
    """8×8 orthonormal DCT-II basis A: spatial = A.T @ coeff @ A."""
    import math

    import numpy as np

    A = np.zeros((8, 8))
    for u in range(8):
        cu = math.sqrt(0.5) if u == 0 else 1.0
        for x in range(8):
            A[u, x] = 0.5 * cu * math.cos((2 * x + 1) * u * math.pi / 16)
    return A


class _JpegMarker(Exception):
    """Raised by the bit reader when entropy data hits a marker byte."""


class _JpegBits:
    """MSB-first bit reader over entropy-coded data with 0xFF00 unstuffing."""

    def __init__(self, buf: bytes, pos: int):
        self.buf, self.pos, self.acc, self.n = buf, pos, 0, 0

    def bit(self) -> int:
        if self.n == 0:
            c = self.buf[self.pos]
            self.pos += 1
            if c == 0xFF:
                nxt = self.buf[self.pos]
                if nxt != 0x00:
                    raise _JpegMarker(nxt)
                self.pos += 1
            self.acc, self.n = c, 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def align(self) -> None:
        self.n = 0


def _jpeg_extend(v: int, t: int) -> int:
    """JPEG EXTEND: map a t-bit magnitude to its signed value."""
    if t and v < (1 << (t - 1)):
        return v - (1 << t) + 1
    return v


def _decode_jpeg(b: bytes):
    """Baseline sequential JPEG (SOF0/SOF1) decode → (w, h, luma plane) —
    pure stdlib ``struct`` + numpy Huffman/IDCT, no codec libraries.

    Handles grayscale and any chroma subsampling (4:4:4 / 4:2:2 / 4:2:0):
    chroma blocks are entropy-decoded to keep the bitstream in sync but
    only Y is dequantized + IDCT'd, since the features need dimensions
    and mean luma.  Restart intervals (DRI/RSTn) supported.  Progressive
    (SOF2) and arithmetic-coded streams raise, landing in the caller's
    fail-soft branch.  This is the CORRECTNESS path for the dominant
    corpus format — a deployment chasing decode throughput swaps in
    libjpeg-turbo via the same one branch, with the Spark plan unchanged.
    """
    import struct

    import numpy as np

    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    qt: dict[int, "np.ndarray"] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    dri = 0
    frame = None
    scan_comps = None
    scan_pos = None
    pos, n = 2, len(b)
    while pos < n - 1:
        if b[pos] != 0xFF:
            pos += 1
            continue
        marker = b[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack_from(">H", b, pos)
        data = b[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT: one or more tables, 8- or 16-bit entries
            i = 0
            while i < len(data):
                pq, tq = data[i] >> 4, data[i] & 15
                i += 1
                if pq:
                    qt[tq] = np.frombuffer(data, ">u2", 64, i).astype(np.int32)
                    i += 128
                else:
                    qt[tq] = np.frombuffer(data, np.uint8, 64, i).astype(np.int32)
                    i += 64
        elif marker in (0xC0, 0xC1):  # baseline / extended sequential
            _prec, h, w, nc = struct.unpack_from(">BHHB", data, 0)
            comps = []
            for c in range(nc):
                cid = data[6 + 3 * c]
                samp = data[7 + 3 * c]
                comps.append((cid, samp >> 4, samp & 15, data[8 + 3 * c]))
            frame = (w, h, comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("non-baseline JPEG unsupported")
        elif marker == 0xC4:  # DHT: canonical code lengths + symbols
            i = 0
            while i < len(data):
                tc, th = data[i] >> 4, data[i] & 15
                counts = data[i + 1 : i + 17]
                i += 17
                table: dict[tuple[int, int], int] = {}
                code = 0
                for ln in range(1, 17):
                    for _ in range(counts[ln - 1]):
                        table[(ln, code)] = data[i]
                        i += 1
                        code += 1
                    code <<= 1
                huff[(tc, th)] = table
        elif marker == 0xDD:
            (dri,) = struct.unpack_from(">H", data, 0)
        elif marker == 0xDA:
            ns = data[0]
            scan_comps = [
                (data[1 + 2 * c], data[2 + 2 * c] >> 4, data[2 + 2 * c] & 15)
                for c in range(ns)
            ]
            scan_pos = pos + seglen
            break
        pos += seglen
    if frame is None or scan_pos is None:
        raise ValueError("missing SOF/SOS")

    w, h, comps = frame
    # corrupt/hostile headers can claim 65535×65535: refuse before
    # allocating the plane or walking 67M MCUs — one bad file must never
    # OOM or stall a million-row partition (fail-soft catches this)
    if w * h > 100_000_000:
        raise ValueError(f"JPEG dimensions {w}x{h} exceed decode cap")
    by_id = {cid: (hs, vs, qid) for cid, hs, vs, qid in comps}
    hmax = max(hs for _, hs, _, _ in comps)
    vmax = max(vs for _, _, vs, _ in comps)
    y_cid = comps[0][0]  # first frame component is luma by convention
    hy, vy, _ = by_id[y_cid]

    # Spec A.2.2: a SINGLE-component scan is NON-interleaved — the data
    # unit grid is the component's own ceil(comp_dim/8) blocks and the
    # declared sampling factors do not shape the MCU (a grayscale frame
    # declaring 0x22 sampling is legal and must not desync the stream).
    single = len(scan_comps) == 1
    if single:
        scid = scan_comps[0][0]
        if scid != y_cid:
            raise ValueError("first scan lacks the luma component")
        shs, svs, _ = by_id[scid]
        comp_w = -(-(w * shs) // hmax)  # ceil
        comp_h = -(-(h * svs) // vmax)
        mcux = -(-comp_w // 8)  # one 8×8 block per "MCU"
        mcuy = -(-comp_h // 8)
        plane = np.zeros((mcuy * 8, mcux * 8))
    else:
        mcux = -(-w // (8 * hmax))
        mcuy = -(-h // (8 * vmax))
        plane = np.zeros((mcuy * vy * 8, mcux * hy * 8))
    A = _dct_basis()
    zz = np.array(_JPEG_ZIGZAG)

    def decode_sym(reader, table):
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | reader.bit()
            sym = table.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("bad huffman code")

    def decode_block(reader, dc_tab, ac_tab, pred):
        t = decode_sym(reader, dc_tab)
        pred += _jpeg_extend(reader.bits(t), t)
        coef = np.zeros(64, dtype=np.int64)
        coef[0] = pred
        k = 1
        while k < 64:
            rs = decode_sym(reader, ac_tab)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r == 15:  # ZRL: sixteen zeros
                    k += 16
                    continue
                break  # EOB
            k += r
            if k > 63:
                raise ValueError("AC coefficient index overflow")
            coef[k] = _jpeg_extend(reader.bits(s), s)
            k += 1
        return coef, pred

    reader = _JpegBits(b, scan_pos)
    preds = {cid: 0 for cid, _, _ in scan_comps}
    mcu_idx = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if dri and mcu_idx and mcu_idx % dri == 0:
                reader.align()  # drop pad bits, consume the RSTn marker
                p = reader.pos
                while b[p] == 0xFF and b[p + 1] == 0xFF:
                    p += 1  # fill bytes
                if b[p] != 0xFF or not (0xD0 <= b[p + 1] <= 0xD7):
                    raise ValueError("expected restart marker")
                reader.pos = p + 2
                preds = {cid: 0 for cid, _, _ in scan_comps}
            if single:
                cid, dc_id, ac_id = scan_comps[0]
                qid = by_id[cid][2]
                coef, preds[cid] = decode_block(
                    reader, huff[(0, dc_id)], huff[(1, ac_id)], preds[cid]
                )
                nat = np.zeros(64, dtype=np.float64)
                nat[zz] = coef * qt[qid]
                plane[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = (
                    A.T @ nat.reshape(8, 8) @ A + 128.0
                )
            else:
                for cid, dc_id, ac_id in scan_comps:
                    hs, vs, qid = by_id[cid]
                    for v in range(vs):
                        for u in range(hs):
                            coef, preds[cid] = decode_block(
                                reader, huff[(0, dc_id)], huff[(1, ac_id)], preds[cid]
                            )
                            if cid != y_cid:
                                continue  # chroma: bitstream sync only
                            nat = np.zeros(64, dtype=np.float64)
                            nat[zz] = coef * qt[qid]
                            px = A.T @ nat.reshape(8, 8) @ A + 128.0
                            r0 = (my * vs + v) * 8
                            c0 = (mx * hs + u) * 8
                            plane[r0 : r0 + 8, c0 : c0 + 8] = px
            mcu_idx += 1

    # Y normally has max sampling (plane is w×h); the general crop covers
    # streams where it doesn't
    yw, yh = -(-w * hy // hmax), -(-h * vy // vmax)
    luma = np.clip(plane[:yh, :yw], 0, 255)
    return w, h, luma


def _jpeg_exif_orientation(b: bytes) -> int | None:
    """Parse the EXIF Orientation tag (0x0112) from a JPEG's APP1
    segment — pure ``struct`` TIFF-IFD walk, both byte orders.  Returns
    1–8 (TIFF orientation codes) or None when absent/corrupt.  The one
    piece of image metadata corpus pipelines routinely filter/normalize
    on (rotated-at-capture photos)."""
    import struct

    pos, n = 2, len(b)
    while pos < n - 3:
        if b[pos] != 0xFF:
            return None
        m = b[pos + 1]
        if m in (0xDA, 0xD9):  # scan data / EOI: no more metadata
            return None
        (ln,) = struct.unpack_from(">H", b, pos + 2)
        if m == 0xE1 and b[pos + 4 : pos + 10] == b"Exif\x00\x00":
            t = pos + 10  # TIFF header base
            order = {b"II": "<", b"MM": ">"}.get(b[t : t + 2])
            if order is None:
                return None
            (ifd_off,) = struct.unpack_from(order + "I", b, t + 4)
            p = t + ifd_off
            (cnt,) = struct.unpack_from(order + "H", b, p)
            for i in range(cnt):
                e = p + 2 + 12 * i
                tag, typ, _num = struct.unpack_from(order + "HHI", b, e)
                if tag == 0x0112 and typ == 3:  # Orientation, SHORT
                    (val,) = struct.unpack_from(order + "H", b, e + 8)
                    return val if 1 <= val <= 8 else None
            return None
        pos += 2 + ln
    return None


def _apply_exif_orientation(plane, orientation: int | None):
    """Normalize a luma plane to upright per the TIFF orientation code
    (1–8): flips and 90° rotations, the standard camera-capture
    transforms.  Unknown/None codes return the plane unchanged."""
    import numpy as np

    if orientation in (None, 1):
        return plane
    ops = {
        2: lambda p: np.fliplr(p),
        3: lambda p: np.rot90(p, 2),
        4: lambda p: np.flipud(p),
        5: lambda p: np.rot90(np.fliplr(p), 1),
        6: lambda p: np.rot90(p, -1),
        7: lambda p: np.rot90(np.fliplr(p), -1),
        8: lambda p: np.rot90(p, 1),
    }
    fn = ops.get(orientation)
    return fn(plane) if fn else plane


def _decode_image_stub(payload: bytes) -> tuple[int, int, float]:
    """Deterministic fake for formats needing external codecs (JPEG,
    WebP, …): derives (width, height, mean_luma) from byte content so
    tests are stable.  A deployment swaps this one branch for
    PIL/libvips; everything around it is unchanged."""
    n = len(payload)
    w = 16 + (n % 64)
    h = 16 + ((n // 64) % 64)
    luma = (sum(payload[:256]) / max(min(n, 256), 1)) if n else 0.0
    return w, h, luma


def _decode_luma(b: bytes):
    """Shared decode dispatch → (w, h, luma plane | None, format).

    Real luma plane for BMP/PNG/baseline-JPEG; ``(…, None, 'fake')``
    with the deterministic stub's scalar features for anything else —
    including on any decode error (fail-soft)."""
    try:
        if b[:2] == b"BM":
            return (*_decode_bmp(b), "bmp")
        if b[:8] == b"\x89PNG\r\n\x1a\n":
            return (*_decode_png(b), "png")
        if b[:2] == b"\xff\xd8":
            return (*_decode_jpeg(b), "jpeg")
    except Exception:
        pass
    w, h, _luma = _decode_image_stub(b)
    return w, h, None, "fake"


def extract_image_features(df: DataFrame, id_col: str = "media_id", bin_col: str = "payload") -> DataFrame:
    """Decode + feature-extract via Arrow-batched ``mapInPandas``.

    REAL decode for BMP (24-bpp) and PNG (8-bit grey/RGB/RGBA) — both
    pure stdlib (``struct``/``zlib``), no codec libraries; other formats
    fall back to the deterministic stub and are labeled ``format='fake'``
    so downstream filters can tell.  Input: (id_col long, bin_col
    binary, ...).  One output row per input row; the binary column never
    leaves the stage.
    """
    import pandas as pd

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[bin_col]):
                b = bytes(payload) if payload is not None else b""
                w, h, plane, fmt = _decode_luma(b)
                luma = (
                    float(plane.mean()) if plane is not None else _decode_image_stub(b)[2]
                )
                try:
                    orient = _jpeg_exif_orientation(b) if fmt == "jpeg" else None
                except Exception:
                    orient = None
                rows.append((mid, w, h, len(b), luma, fmt, orient))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height", "n_bytes",
                    "mean_luma", "format", "orientation",
                ],
            )

    return df.select(id_col, bin_col).mapInPandas(batches, IMAGE_FEATURES_SCHEMA)


def _decode_wav_mono(b: bytes):
    """stdlib WAV decode → (sample_rate, float64 mono signal); raises on
    non-WAV payloads (callers fail-soft)."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(b)) as w:
        sr = w.getframerate()
        nch = w.getnchannels()
        sw = w.getsampwidth()
        raw = w.readframes(w.getnframes())
    dtype = {1: np.uint8, 2: np.int16, 4: np.int32}[sw]
    x = np.frombuffer(raw, dtype=dtype).astype(np.float64)
    if sw == 1:
        x = x - 128.0
    if nch > 1:
        x = x[: len(x) - len(x) % nch].reshape(-1, nch).mean(axis=1)
    return sr, x


AFP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("afp", T.LongType()),
    ]
)


def audio_fingerprint(
    df: DataFrame,
    id_col: str = "media_id",
    bin_col: str = "payload",
    frame: int = 256,
) -> DataFrame:
    """Perceptual audio fingerprint per payload → (media_id, afp int64),
    in the spirit of Haitsma-Kalker (ISMIR'02) subband-sign hashing:
    per non-overlapping frame, the rFFT power spectrum folds into 64
    linear subbands and each band contributes a bit (band power above
    the frame's median band power — amplitude-invariant by
    construction); a majority vote across frames packs the 64 bits.
    Same content at a different volume or length hashes (near-)equal;
    different spectral content flips band bits.  NULL for undecodable
    payloads.  Pairs via :func:`operators.neardup.banded_hamming_pairs`
    — the third fingerprint family (text SimHash, image dHash, audio
    AFP) on one banding core.
    """
    import numpy as np
    import pandas as pd

    # rfft of a length-`frame` window yields frame//2+1 bins; dropping DC
    # leaves frame//2, folded evenly into 64 subbands.  Validate OUTSIDE
    # the fail-soft decode try — a bad `frame` is a caller bug, not an
    # undecodable payload, and must not read as NULL fingerprints.
    bins_per_band = (frame // 2) // 64
    if bins_per_band < 1:
        raise ValueError(
            f"frame={frame} too small: rfft yields {frame // 2} non-DC bins, "
            "need >= 64 for the subband fold (frame >= 128)"
        )

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            ids, fps = [], []
            for mid, payload in zip(pdf[id_col], pdf[bin_col]):
                b = bytes(payload) if payload is not None else b""
                try:
                    _sr, x = _decode_wav_mono(b)
                    n = (len(x) // frame) * frame
                    if n == 0:
                        raise ValueError("too short")
                    frames = x[:n].reshape(-1, frame)
                    spec = np.abs(np.fft.rfft(frames, axis=1)) ** 2
                    bands = spec[:, 1 : 1 + 64 * bins_per_band].reshape(
                        len(frames), 64, bins_per_band
                    ).sum(axis=2)
                    med = np.median(bands, axis=1, keepdims=True)
                    votes = (2 * (bands > med) - 1).sum(axis=0)
                    h = 0
                    for bit in votes > 0:
                        h = (h << 1) | int(bit)
                    if h >= 1 << 63:
                        h -= 1 << 64
                    ids.append(mid)
                    fps.append(h)
                except Exception:
                    ids.append(mid)
                    fps.append(None)
            yield pd.DataFrame(
                {"media_id": ids, "afp": pd.array(fps, dtype="Int64")}
            )

    return df.select(id_col, bin_col).mapInPandas(batches, AFP_SCHEMA)


def audio_neardup_afp(
    df: DataFrame,
    max_hamming: int = 2,
    id_col: str = "media_id",
    bin_col: str = "payload",
) -> DataFrame:
    """Audio near-duplicate pairs → (doc_a, doc_b, hamming) via subband
    fingerprint + banded Hamming join (undecodable payloads drop on the
    NULL fingerprint)."""
    from .neardup import banded_hamming_pairs

    fp = audio_fingerprint(df, id_col=id_col, bin_col=bin_col).filter(
        F.col("afp").isNotNull()
    )
    return banded_hamming_pairs(
        fp, max_hamming=max_hamming, id_col="media_id", fp_col="afp"
    )


DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("dhash", T.LongType()),
    ]
)


def dhash_images(
    df: DataFrame, id_col: str = "media_id", bin_col: str = "payload"
) -> DataFrame:
    """Perceptual difference-hash per image → (media_id, dhash int64).

    The standard dHash: decode to luma, area-resample to 9×8 (the
    antialiased box filter, so the hash keys on structure rather than
    resolution), then one bit per adjacent-pixel comparison
    (``left < right``) row-major over the 8×8 difference grid.  Images
    that survive re-encoding, resizing, or mild noise keep nearly the
    same hash; undecodable payloads yield NULL (fail-soft, like every
    decode stage here).

    Feed the result into
    :func:`operators.neardup.banded_hamming_pairs` for image near-dup —
    the same Manku-banded candidate join the text SimHash path uses, so
    the 100-TB posture (equi-join candidates, AQE skew splitting, never
    all-pairs) carries over unchanged.
    """
    import numpy as np
    import pandas as pd

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            ids, hashes = [], []
            for mid, payload in zip(pdf[id_col], pdf[bin_col]):
                b = bytes(payload) if payload is not None else b""
                _w, _h, plane, _fmt = _decode_luma(b)
                if plane is None:
                    ids.append(mid)
                    hashes.append(None)
                    continue
                g = _area_resample(np.asarray(plane, dtype=np.float64), 9, 8)
                bits = (g[:, :-1] < g[:, 1:]).reshape(-1)  # 8 rows × 8 diffs
                h = 0
                for bit in bits:
                    h = (h << 1) | int(bit)
                if h >= 1 << 63:  # pack into signed int64 like simhash
                    h -= 1 << 64
                ids.append(mid)
                hashes.append(h)
            # nullable Int64, NOT a plain list: None coerces the column
            # to float64, which cannot represent values near ±2^63 and
            # fails the Arrow int64 conversion
            yield pd.DataFrame(
                {"media_id": ids, "dhash": pd.array(hashes, dtype="Int64")}
            )

    return df.select(id_col, bin_col).mapInPandas(batches, DHASH_SCHEMA)


def image_neardup_dhash(
    df: DataFrame,
    max_hamming: int = 6,
    id_col: str = "media_id",
    bin_col: str = "payload",
) -> DataFrame:
    """Image near-duplicate pairs → (doc_a, doc_b, hamming) via dHash +
    banded Hamming join (undecodable payloads drop out on the NULL
    fingerprint)."""
    from .neardup import banded_hamming_pairs

    fp = dhash_images(df, id_col=id_col, bin_col=bin_col).filter(
        F.col("dhash").isNotNull()
    )
    return banded_hamming_pairs(
        fp, max_hamming=max_hamming, id_col="media_id", fp_col="dhash"
    )


def video_neardup_frames(
    df: DataFrame,
    threshold: float = 0.5,
    every_n: int = 1,
    id_col: str = "media_id",
    bin_col: str = "payload",
    max_doc_freq: int | None = 10_000,
) -> DataFrame:
    """Video near-duplicate pairs → (doc_a, doc_b, jaccard): sample
    frames (MJPEG structural split), perceptual-dHash each frame, and
    run the videos' frame-hash SETS through the same inverted-index
    Jaccard core the text shingle path uses
    (:func:`operators.neardup.set_similarity_pairs`) — re-encoded,
    trimmed, or re-muxed copies share most frame hashes.

    Fourth fingerprint family on shared dedup machinery: text shingles,
    image dHash, audio subbands, video frame-hash sets.  Undecodable
    frames drop on the NULL hash; the hot-hash cap bounds stills/black
    frames shared by thousands of videos (the frame-level analog of the
    stop-phrase shingle blowup).
    """
    from .neardup import set_similarity_pairs

    frames = sample_frames(df, every_n=every_n, id_col=id_col, bin_col=bin_col)
    # composite id carries (video, frame) through the single-id dhash
    # stage; 1e6 frames per video is far beyond any sampled reality, and
    # the guard turns a silent neighbor-id collision into a loud error
    frame_ok = F.when(
        (F.col("frame_idx") >= 0) & (F.col("frame_idx") < 1_000_000),
        F.col("frame_idx"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("frame_idx outside packing range [0, 1e6): "),
                F.col("frame_idx").cast("string"),
            )
        )
    )
    fdf = frames.select(
        (F.col("media_id") * 1_000_000 + frame_ok).alias("media_id"),
        F.col("frame_bytes").alias("payload"),
    )
    fh = dhash_images(fdf).filter(F.col("dhash").isNotNull())
    # pmod-based unpack is exact for NEGATIVE video ids too: `div`
    # truncates toward zero, which would fold video -1's frames onto
    # video 0; subtracting the non-negative pmod first makes the
    # quotient exact integer floor division at any sign.
    sets = fh.select(
        F.expr("(media_id - pmod(media_id, 1000000)) div 1000000").alias("doc_id"),
        F.col("dhash").alias("shingle"),
    ).distinct()  # set semantics: repeated identical frames count once
    return set_similarity_pairs(sets, threshold, max_doc_freq=max_doc_freq)


def synthetic_videos(spark, n: int = 16, frames_per_video: int = 6) -> DataFrame:
    """Deterministic MJPEG fixtures: video i concatenates encoded
    gradient frames [i, i + frames_per_video) from the synthetic image
    family, so NEIGHBORING videos overlap in all but one frame (jaccard
    (f-1)/(f+1)) and distant ones share none.  Every 5th payload is
    garbage (fail-soft path).
    """
    import numpy as np

    if ("video", n, frames_per_video) in _SYNTH_CACHE:
        return spark.createDataFrame(
            _SYNTH_CACHE[("video", n, frames_per_video)],
            "media_id long, payload binary",
        )

    def frame(j):
        # dHash sees only horizontal-neighbor ORDERING, so frames must
        # differ in coarse left<right structure: 8 wide column bands
        # carry a distinct per-j bit pattern (wide enough to survive the
        # 9-column area resample; a mere slope/offset change hashes
        # identically)
        yy, xx = np.mgrid[0:16, 0:24]
        pattern = (j * 37 + 13) % 256
        band = xx * 8 // 24
        bits = (pattern >> band) & 1
        g = bits * 180 + (xx % 3) * 20 + 10
        return _encode_jpeg_baseline(g.astype(np.uint8))

    uniq = [frame(j) for j in range(n + frames_per_video)]
    rows = []
    for i in range(n):
        if i % 5 == 4:
            rows.append((i, b"\x00not mjpeg" + bytes([i] * 32)))
            continue
        rows.append((i, b"".join(uniq[i : i + frames_per_video])))
    _SYNTH_CACHE[("video", n, frames_per_video)] = rows
    return spark.createDataFrame(rows, "media_id long, payload binary")


def _encode_png_gray(plane) -> bytes:
    """Encode a 2-D uint8 luma plane as an 8-bit grayscale PNG — pure
    ``zlib``/``struct`` (filter type 0 per scanline)."""
    import struct
    import zlib

    import numpy as np

    plane = np.clip(np.rint(plane), 0, 255).astype(np.uint8)
    h, w = plane.shape
    raw = b"".join(b"\x00" + plane[y].tobytes() for y in range(h))

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # 8-bit grayscale
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


RESIZED_IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("format", T.StringType()),
    ]
)


def _area_resample(plane, ow: int, oh: int):
    """Exact area-average (box filter) resample of a 2-D float plane via
    a bilinear-interpolated integral image — downscale-antialiased,
    upscale-bilinear, and preserves the global mean exactly (uniform
    strip areas telescope to the total integral; property-tested)."""
    import numpy as np

    ih, iw = plane.shape
    ys = np.linspace(0, ih, oh + 1)
    xs = np.linspace(0, iw, ow + 1)
    csum = np.zeros((ih + 1, iw + 1))
    csum[1:, 1:] = plane.cumsum(0).cumsum(1)

    def integral(y, x):  # bilinear-interpolated integral image
        yi = np.clip(y.astype(int), 0, ih)
        xi = np.clip(x.astype(int), 0, iw)
        yf, xf = y - yi, x - xi
        yi1 = np.clip(yi + 1, 0, ih)
        xi1 = np.clip(xi + 1, 0, iw)
        c00 = csum[np.ix_(yi, xi)]
        c01 = csum[np.ix_(yi, xi1)]
        c10 = csum[np.ix_(yi1, xi)]
        c11 = csum[np.ix_(yi1, xi1)]
        top = c00 * (1 - xf)[None, :] + c01 * xf[None, :]
        bot = c10 * (1 - xf)[None, :] + c11 * xf[None, :]
        return top * (1 - yf)[:, None] + bot * yf[:, None]

    S = integral(ys, xs)
    area = np.outer(np.diff(ys), np.diff(xs))
    return (S[1:, 1:] - S[:-1, 1:] - S[1:, :-1] + S[:-1, :-1]) / area


def resize_images(
    df: DataFrame,
    out_w: int,
    out_h: int,
    id_col: str = "media_id",
    bin_col: str = "payload",
) -> DataFrame:
    """Resize decodable images to (out_w, out_h) grayscale thumbnails →
    (media_id, width, height, payload, format) with the payload
    re-encoded as a REAL 8-bit grayscale PNG.

    Decode is the shared stdlib path (BMP / PNG / baseline JPEG);
    resampling is numpy area-average (box filter) over the bilinear
    source grid — downscale-antialiased, upscale-bilinear.  Undecodable
    payloads emit ``format='fake'`` with a NULL payload (fail-soft).

    Scale shape: one Arrow ``mapInPandas`` stage, no shuffle; thumbnails
    are orders of magnitude smaller than sources, so emit-then-shuffle
    downstream is cheap — never shuffle the source binary.
    """
    import numpy as np
    import pandas as pd

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[bin_col]):
                b = bytes(payload) if payload is not None else b""
                _w, _h, plane, fmt = _decode_luma(b)
                if plane is None or plane.size == 0:
                    rows.append((mid, out_w, out_h, None, "fake"))
                else:
                    src = np.asarray(plane, dtype=np.float64)
                    if fmt == "jpeg":
                        try:
                            src = _apply_exif_orientation(
                                src, _jpeg_exif_orientation(b)
                            )
                        except Exception:
                            pass  # metadata must never fail the decode
                    thumb = _area_resample(src, out_w, out_h)
                    rows.append((mid, out_w, out_h, _encode_png_gray(thumb), fmt))
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "payload", "format"]
            )

    return df.select(id_col, bin_col).mapInPandas(batches, RESIZED_IMAGE_SCHEMA)


def _jpeg_end(b: bytes, start: int) -> int:
    """Index just past the EOI of the JPEG beginning at ``start`` — a
    structural walk (segment lengths + entropy-data scan for unstuffed
    markers), no Huffman decode needed.  Basis of MJPEG frame splitting."""
    import struct

    pos, n = start + 2, len(b)
    while pos < n - 1:
        if b[pos] != 0xFF:
            raise ValueError("bad JPEG segment structure")
        m = b[pos + 1]
        if m == 0xD9:
            return pos + 2
        if m == 0x01 or 0xD0 <= m <= 0xD7:
            pos += 2
            continue
        (ln,) = struct.unpack_from(">H", b, pos + 2)
        pos += 2 + ln
        if m == 0xDA:  # entropy-coded data: scan to the next true marker
            while pos < n - 1:
                if (
                    b[pos] == 0xFF
                    and b[pos + 1] != 0x00
                    and not (0xD0 <= b[pos + 1] <= 0xD7)
                ):
                    break
                pos += 1
    raise ValueError("no EOI")


def _split_mjpeg(b: bytes) -> list[bytes]:
    """Split an MJPEG byte stream (concatenated baseline JPEGs) into
    per-frame payloads; raises on any structural break."""
    frames, pos = [], 0
    while pos < len(b) - 1:
        if b[pos : pos + 2] != b"\xff\xd8":
            raise ValueError("not an MJPEG frame boundary")
        end = _jpeg_end(b, pos)
        frames.append(b[pos:end])
        pos = end
    return frames


def sample_frames(
    df: DataFrame,
    every_n: int = 10,
    id_col: str = "media_id",
    bin_col: str = "payload",
) -> DataFrame:
    """Frame-sample a video payload: emit every Nth frame.

    REAL container split for MJPEG (concatenated baseline JPEGs — each
    emitted frame is a decodable standalone JPEG, found by a structural
    marker walk with no entropy decode); other containers (mp4/mkv need
    external demuxers) fall back to the deterministic fixed-1-KiB-frame
    stub, so the fan-out contract is exercised either way.  Output
    fan-out (rows out > rows in) is why this is ``mapInPandas`` and not
    a scalar UDF.
    """
    import pandas as pd

    frame_size = 1024

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[bin_col]):
                b = bytes(payload) if payload is not None else b""
                frames = None
                if b[:2] == b"\xff\xd8":
                    try:
                        frames = _split_mjpeg(b)
                    except Exception:
                        frames = None  # corrupt stream → stub slicing
                if frames is None:
                    frames = [
                        b[i * frame_size : (i + 1) * frame_size]
                        for i in range(max(len(b) // frame_size, 0))
                    ]
                for i in range(0, len(frames), every_n):
                    rows.append((mid, i, frames[i]))
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "frame_bytes"])

    return df.select(id_col, bin_col).mapInPandas(batches, FRAME_SAMPLE_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_sec", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("decode_ok", T.BooleanType()),
    ]
)


def extract_audio_features(
    df: DataFrame, id_col: str = "media_id", bin_col: str = "payload"
) -> DataFrame:
    """REAL audio decode for WAV/PCM — pure stdlib (``wave``), no codec
    libraries needed — via the same Arrow ``mapInPandas`` shape as the
    image stage.  Emits (sample_rate, channels, samples, duration, rms)
    per row.

    Fail-soft: compressed formats (mp3/ogg — which DO need external
    codecs) or corrupt payloads yield ``decode_ok=false`` with NULL
    features instead of failing the task — at corpus scale one bad file
    must never kill a 10⁶-row partition.  A deployment adding soundfile/
    ffmpeg extends only the per-payload branch; the plan is unchanged.
    """
    import io
    import wave

    import numpy as np
    import pandas as pd

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[bin_col]):
                b = bytes(payload) if payload is not None else b""
                try:
                    with wave.open(io.BytesIO(b)) as w:
                        sr = w.getframerate()
                        nch = w.getnchannels()
                        nf = w.getnframes()
                        sw = w.getsampwidth()
                        raw = w.readframes(nf)
                    dtype = {1: np.uint8, 2: np.int16, 4: np.int32}[sw]
                    x = np.frombuffer(raw, dtype=dtype).astype(np.float64)
                    if sw == 1:
                        x = x - 128.0  # 8-bit WAV is unsigned
                    scale = float(1 << (8 * sw - 1)) if sw > 1 else 128.0
                    rms = float(np.sqrt(np.mean((x / scale) ** 2))) if x.size else 0.0
                    rows.append(
                        (mid, sr, nch, nf, nf / sr if sr else 0.0, round(rms, 6), True)
                    )
                except Exception:
                    rows.append((mid, None, None, None, None, None, False))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "sample_rate",
                    "n_channels",
                    "n_samples",
                    "duration_sec",
                    "rms",
                    "decode_ok",
                ],
            )

    return df.select(id_col, bin_col).mapInPandas(batches, AUDIO_FEATURES_SCHEMA)


AUDIO_SEGMENTS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("seg_id", T.IntegerType()),
        T.StructField("start_sec", T.DoubleType()),
        T.StructField("end_sec", T.DoubleType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("seg_rms", T.DoubleType()),
        T.StructField("decode_ok", T.BooleanType()),
    ]
)


def segment_audio_energy(
    df: DataFrame,
    id_col: str = "media_id",
    bin_col: str = "payload",
    frame_ms: int = 25,
    rms_threshold: float = 0.05,
) -> DataFrame:
    """Energy-based voice/activity segmentation: split each WAV into
    ``frame_ms`` frames, keep contiguous runs whose frame RMS clears
    ``rms_threshold``, emit one row per active segment — the
    silence-stripping pass before an ASR/training-audio pipeline.

    Fan-out shape (rows out ≥ rows in) like :func:`sample_frames`, so
    ``mapInPandas`` rather than a scalar UDF; the numpy kernel is one
    reshape + per-frame RMS + run-length extraction, no Python loop over
    samples.  Fail-soft: undecodable payloads emit a single
    ``decode_ok=false`` row (audit trail) instead of killing the task.
    """
    import io
    import wave

    import numpy as np
    import pandas as pd

    cols = [
        "media_id",
        "seg_id",
        "start_sec",
        "end_sec",
        "n_frames",
        "seg_rms",
        "decode_ok",
    ]

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[bin_col]):
                b = bytes(payload) if payload is not None else b""
                try:
                    with wave.open(io.BytesIO(b)) as w:
                        sr = w.getframerate()
                        nch = w.getnchannels()
                        sw = w.getsampwidth()
                        raw = w.readframes(w.getnframes())
                    dtype = {1: np.uint8, 2: np.int16, 4: np.int32}[sw]
                    x = np.frombuffer(raw, dtype=dtype).astype(np.float64)
                    if sw == 1:
                        x = x - 128.0
                    scale = float(1 << (8 * sw - 1)) if sw > 1 else 128.0
                    x = x / scale
                    if nch > 1:  # mono mix
                        x = x[: len(x) - len(x) % nch].reshape(-1, nch).mean(axis=1)
                    flen = max(1, sr * frame_ms // 1000)
                    if x.size % flen:
                        x = np.pad(x, (0, flen - x.size % flen))
                    frames = x.reshape(-1, flen)
                    rms = np.sqrt((frames**2).mean(axis=1))
                    mask = rms >= rms_threshold
                    # run-length extraction over the boolean mask
                    edges = np.flatnonzero(np.diff(np.r_[0, mask.view(np.int8), 0]))
                    for k, (s, e) in enumerate(edges.reshape(-1, 2)):
                        seg = frames[s:e].ravel()
                        rows.append(
                            (
                                mid,
                                k,
                                round(s * flen / sr, 6),
                                round(e * flen / sr, 6),
                                int(e - s),
                                round(float(np.sqrt((seg**2).mean())), 6),
                                True,
                            )
                        )
                except Exception:
                    rows.append((mid, None, None, None, None, None, False))
            yield pd.DataFrame(rows, columns=cols)

    return df.select(id_col, bin_col).mapInPandas(batches, AUDIO_SEGMENTS_SCHEMA)


#: memoized synthetic payload lists — fully deterministic per n, and the
#: bench invokes each generator several times per round (features +
#: segments × 3 runs); regenerating WAV/JPEG bytes each call is waste.
_SYNTH_CACHE: dict = {}


def synthetic_audio(spark, n: int = 32) -> DataFrame:
    """Deterministic WAV fixtures: (media_id, payload binary) — 16-bit
    mono sine bursts of varying pitch/length, built with the stdlib
    writer so :func:`extract_audio_features` exercises a REAL decode.
    Every 8th payload is garbage bytes to exercise the fail-soft path.
    """
    import io
    import math
    import struct
    import wave

    if ("audio", n) in _SYNTH_CACHE:
        return spark.createDataFrame(
            _SYNTH_CACHE[("audio", n)], "media_id long, payload binary"
        )
    rows = []
    for i in range(n):
        if i % 8 == 7:
            rows.append((i, b"not a wav" * 3))
            continue
        sr = 8000
        n_samp = 400 + 50 * (i % 5)
        freq = 220.0 * (1 + i % 4)
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(sr)
            w.writeframes(
                b"".join(
                    struct.pack(
                        "<h", int(12000 * math.sin(2 * math.pi * freq * t / sr))
                    )
                    for t in range(n_samp)
                )
            )
        rows.append((i, buf.getvalue()))
    _SYNTH_CACHE[("audio", n)] = rows
    return spark.createDataFrame(rows, "media_id long, payload binary")


def _encode_jpeg_baseline(
    gray, color_420: bool = False, restart_interval: int = 0
) -> bytes:
    """Minimal baseline-sequential JPEG ENCODER for test fixtures — pure
    stdlib ``struct`` + numpy FDCT, deliberately simple rather than
    standard-table-faithful: flat 8-bit Huffman codes (every symbol one
    byte — trivially canonical) and all-2s quant tables (≤ ±1 per-sample
    reconstruction error, and caps AC magnitudes at size 10 so the flat
    AC table suffices for any input).

    ``color_420`` wraps the luma plane in a 3-component 4:2:0 frame with
    neutral chroma, exercising the decoder's multi-component bitstream
    advance.  Fixtures only: tests decode these AND two real-encoder
    JPEGs (CPython test data) against javax.imageio ground truth, so an
    encoder/decoder mirrored bug cannot hide.
    """
    import struct

    import numpy as np

    A = _dct_basis()
    zz = np.array(_JPEG_ZIGZAG)
    q = 2

    dc_syms = list(range(12))
    ac_syms = [0x00] + [(r << 4) | s for r in range(16) for s in range(1, 11)] + [0xF0]
    dc_code = {s: i for i, s in enumerate(dc_syms)}
    ac_code = {s: i for i, s in enumerate(ac_syms)}

    out = bytearray(b"\xff\xd8")

    def seg(marker: int, payload: bytes):
        out.extend(struct.pack(">BBH", 0xFF, marker, len(payload) + 2))
        out.extend(payload)

    seg(0xDB, bytes([0x00]) + bytes([q] * 64))  # DQT id 0, all 2s
    h, w = gray.shape
    if color_420:
        comps = [(1, 0x22, 0), (2, 0x11, 0), (3, 0x11, 0)]
    else:
        comps = [(1, 0x11, 0)]
    sof = struct.pack(">BHHB", 8, h, w, len(comps))
    for cid, samp, qid in comps:
        sof += bytes([cid, samp, qid])
    seg(0xC0, sof)

    def dht(tc: int, syms: list[int]) -> bytes:
        counts = [0] * 16
        counts[7] = len(syms)  # every code 8 bits long
        return bytes([tc << 4]) + bytes(counts) + bytes(syms)

    seg(0xC4, dht(0, dc_syms))
    seg(0xC4, dht(1, ac_syms))
    sos = bytes([len(comps)])
    for cid, _, _ in comps:
        sos += bytes([cid, 0x00])
    sos += bytes([0, 63, 0])
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))  # DRI
    seg(0xDA, sos)

    bitbuf = {"acc": 0, "n": 0}

    def put(val: int, nbits: int):
        for i in range(nbits - 1, -1, -1):
            bitbuf["acc"] = (bitbuf["acc"] << 1) | ((val >> i) & 1)
            bitbuf["n"] += 1
            if bitbuf["n"] == 8:
                byte = bitbuf["acc"] & 0xFF
                out.append(byte)
                if byte == 0xFF:
                    out.append(0x00)  # stuffing
                bitbuf["acc"], bitbuf["n"] = 0, 0

    def encode_block(block, pred: int) -> int:
        lev = block.astype(np.float64) - 128.0
        coef = np.rint((A @ lev @ A.T) / q).astype(np.int64)
        zc = coef.reshape(-1)[zz]
        diff = int(zc[0]) - pred
        t = int(abs(diff)).bit_length()
        put(dc_code[t], 8)
        if t:
            put(diff if diff >= 0 else diff + (1 << t) - 1, t)
        run = 0
        last_nz = int(np.nonzero(zc[1:])[0][-1]) + 1 if np.any(zc[1:]) else 0
        for k in range(1, last_nz + 1):
            v = int(zc[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                put(ac_code[0xF0], 8)  # ZRL
                run -= 16
            s = int(abs(v)).bit_length()
            put(ac_code[(run << 4) | s], 8)
            put(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0
        if last_nz < 63:
            put(ac_code[0x00], 8)  # EOB
        return int(zc[0])

    mcu = 16 if color_420 else 8
    ph = -(-h // mcu) * mcu
    pw = -(-w // mcu) * mcu
    padded = np.pad(gray, ((0, ph - h), (0, pw - w)), mode="edge")
    y_pred = c_pred = 0
    neutral = np.full((8, 8), 128, dtype=np.uint8)
    mcu_idx = 0
    for my in range(ph // mcu):
        for mx in range(pw // mcu):
            if restart_interval and mcu_idx and mcu_idx % restart_interval == 0:
                # RSTn: byte-align (pad 1s), emit marker, reset DC preds
                if bitbuf["n"]:
                    put(0xFF, 8 - bitbuf["n"])
                out.extend(
                    bytes([0xFF, 0xD0 + (mcu_idx // restart_interval - 1) % 8])
                )
                y_pred = c_pred = 0
            mcu_idx += 1
            if color_420:
                for v in range(2):
                    for u in range(2):
                        r0, c0 = my * 16 + v * 8, mx * 16 + u * 8
                        y_pred = encode_block(
                            padded[r0 : r0 + 8, c0 : c0 + 8], y_pred
                        )
                c_pred = encode_block(neutral, c_pred)  # Cb
                c_pred = encode_block(neutral, c_pred)  # Cr
            else:
                r0, c0 = my * 8, mx * 8
                y_pred = encode_block(padded[r0 : r0 + 8, c0 : c0 + 8], y_pred)
    if bitbuf["n"]:
        put(0xFF, 8 - bitbuf["n"])  # pad final byte with 1s
    out.extend(b"\xff\xd9")
    return bytes(out)


def synthetic_images(spark, n: int = 64) -> DataFrame:
    """Deterministic image fixtures: (media_id, payload binary) cycling
    through real encoded grayscale JPEG, 4:2:0 color JPEG, and garbage
    bytes (fail-soft path), with content varying by id."""
    import numpy as np

    if ("image", n) in _SYNTH_CACHE:
        return spark.createDataFrame(
            _SYNTH_CACHE[("image", n)], "media_id long, payload binary"
        )
    rows = []
    for i in range(n):
        kind = i % 4
        if kind == 3:
            rows.append((i, b"\xff\xd8 truncated garbage" + bytes([i] * 16)))
            continue
        w, h = 24 + (i % 3) * 8, 16 + (i % 5) * 8
        yy, xx = np.mgrid[0:h, 0:w]
        gray = ((xx * 5 + yy * 3 + i * 11) % 256).astype(np.uint8)
        # kind 0: plain grayscale; 1: 4:2:0 color; 2: grayscale with
        # restart markers — all three decoder bitstream layouts
        rows.append(
            (
                i,
                _encode_jpeg_baseline(
                    gray,
                    color_420=(kind == 1),
                    restart_interval=2 if kind == 2 else 0,
                ),
            )
        )
    _SYNTH_CACHE[("image", n)] = rows
    return spark.createDataFrame(rows, "media_id long, payload binary")


def synthetic_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table for tests: (media_id, payload binary)."""
    return spark.range(n).select(
        F.col("id").alias("media_id"),
        F.encode(
            F.concat_ws("", F.transform(F.sequence(F.lit(0), (F.pmod(F.col("id"), 7) + 2) * 1024), lambda i: F.lit("x"))),
            "utf-8",
        ).alias("payload"),
    )
