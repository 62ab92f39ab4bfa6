"""Multimodal columns: images/audio/video as opaque ``binary`` payloads
with typed metadata (BASELINE.json north-star extension; SURVEY.md §7
step 9).

Design: a multimodal column is a struct
``{data: binary, media_type: string, meta: map<string,string>}``; heavy
per-item work (decode / resize / feature-extract / frame-sample) runs as
Arrow-batched ``mapInPandas`` so each task streams record batches — the
Spark-side plumbing (schemas, batch shapes, partition preservation) is
real and tested.

Codecs (round 9): PNG decodes END-TO-END with a stdlib-only decoder
(``zlib`` inflate + ``struct`` chunk parsing + numpy scanline
unfiltering — ``_png_decode``), so ``decode_images`` on real PNG bytes emits true width/height and pixel-derived features
with no third-party imaging library.

Audio (round 12): WAV/PCM decodes END-TO-END via the stdlib ``wave``
parser + numpy sample conversion (8/16/24/32-bit PCM, any channel
count), so ``decode_audio`` on real WAV bytes emits
true sample_rate/channels/duration and signal features (rms, peak,
zero-crossing rate, spectral centroid, log-energy bands via rfft).

Images (round 12): baseline JPEG decodes END-TO-END with a stdlib +
numpy decoder (``_jpeg_decode``: ITU-T T.81 baseline sequential DCT,
Huffman entropy coding, restart intervals, grayscale and YCbCr
4:4:4/4:2:2/4:2:0) — tests validate against HAND-BUILT bitstreams with
closed-form expected pixels, no libjpeg anywhere.

GIF (round 12): GIF87a/89a decode END-TO-END — stdlib LZW with code
width growth and the deferred-clear table cap, global/local palettes,
interlacing, multi-frame; animated GIFs sample through
``sample_frames`` like MJPEG videos.

MP3/OGG audio and libav-class video codecs (H.264 etc.) are not
decoded: no libav is available, so those payloads raise
``NotImplementedError`` at the call site where libav would be invoked.
"""

from __future__ import annotations

import struct as _struct
import zlib as _zlib
from typing import Iterator, Optional

import pyspark.sql.functions as F
from pyspark.sql import types as st

from ibis_spark.expr.table import Table

# The degrade-to-NULL contract (one corrupt payload must NOT kill a
# 100 TB scan) hinges on catching EVERY exception class the pure-Python
# decoders can raise on malformed bytes: KeyError escapes _jpeg_decode
# when a scan references an undefined Huffman/quant table or component
# id, struct.error escapes truncated chunk headers, zlib.error escapes
# corrupt PNG deflate streams (ADVICE r12).  Anything outside this
# tuple (e.g. MemoryError) is a real bug and SHOULD fail the job.
_CODEC_ERRORS = (ValueError, IndexError, KeyError, _struct.error, _zlib.error)

MEDIA_SCHEMA = st.StructType(
    [
        st.StructField("data", st.BinaryType()),
        st.StructField("media_type", st.StringType()),
        st.StructField("meta", st.MapType(st.StringType(), st.StringType())),
    ]
)


def attach_media(t: Table, data_col: str, media_type: str = "application/octet-stream") -> Table:
    """Wrap a raw binary/string column into the media struct convention."""
    c = F.col(data_col).cast("binary")
    media = F.struct(
        c.alias("data"),
        F.lit(media_type).alias("media_type"),
        F.create_map().cast("map<string,string>").alias("meta"),
    )
    return Table(t.df.withColumn("media", media))


_FEATURE_DIM = 8

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

# channels per PNG color type (8-bit depth); type 3 is palette-indexed
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_decode(data: bytes):
    """Stdlib-only PNG decoder: ``struct`` chunk walk + ``zlib`` inflate
    + numpy scanline unfiltering (filters 0-4 per the PNG spec §9).

    Supports 8-bit depth, color types 0 (gray), 2 (RGB), 3 (palette),
    4 (gray+alpha), 6 (RGBA), no interlace. Returns
    ``(width, height, channels, pixels)`` where ``pixels`` is an
    (h, w, c) uint8 numpy array (palette images are expanded to RGB).
    Raises ``ValueError`` on non-PNG bytes or unsupported variants —
    callers route those to the stubbed-codec path.
    """
    import struct
    import zlib

    import numpy as np

    if not data or not bytes(data).startswith(_PNG_MAGIC):
        raise ValueError("not a PNG payload")
    data = bytes(data)
    pos, ihdr, idat, plte = 8, None, [], None
    while pos + 8 <= len(data):
        (length,), ctype = struct.unpack(">I", data[pos : pos + 4]), data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + body + crc
    if ihdr is None or not idat:
        raise ValueError("malformed PNG: missing IHDR/IDAT")
    w, h, depth, color, _comp, _filt, interlace = ihdr
    if depth != 8 or interlace != 0 or color not in _PNG_CHANNELS:
        raise ValueError(
            f"unsupported PNG variant (depth={depth}, color={color}, "
            f"interlace={interlace}): 8-bit non-interlaced types 0/2/3/4/6 only"
        )
    ch = _PNG_CHANNELS[color]
    raw = zlib.decompress(b"".join(idat))
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG IDAT length mismatch")
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    filters, lines = arr[:, 0], arr[:, 1:]
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        f, line = int(filters[y]), lines[y]
        if f == 0:  # None
            cur = line.copy()
        elif f == 2:  # Up
            cur = line + prev
        elif f in (1, 3, 4):  # Sub / Average / Paeth: sequential in x
            cur = np.zeros(stride, dtype=np.uint8)
            li = line.astype(np.int32)
            pv = prev.astype(np.int32)
            for x in range(stride):
                a = int(cur[x - ch]) if x >= ch else 0
                b = int(pv[x])
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + b) // 2
                else:
                    c = int(prev[x - ch]) if x >= ch else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (li[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {f}")
        out[y] = cur
        prev = cur
    px = out.reshape(h, w, ch)
    if color == 3:  # palette -> RGB
        if plte is None:
            raise ValueError("palette PNG without PLTE")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = px[:, :, 0]
        # A palette index past the PLTE entry count would raise a bare
        # IndexError that _real_one doesn't catch (ADVICE r9) — surface
        # it as the ValueError the degrade-to-NULL contract handles.
        if idx.size and int(idx.max()) >= len(pal):
            raise ValueError("PNG palette index exceeds PLTE entry count")
        px = pal[idx]
        ch = 3
    return w, h, ch, px


def _png_features(px, dim: int = _FEATURE_DIM) -> list[float]:
    """Deterministic pixel-derived features: a ``dim``-bin normalized
    luminance histogram (channel-mean as luminance)."""
    import numpy as np

    lum = px.astype(np.float64).mean(axis=2).ravel()
    hist, _ = np.histogram(lum, bins=dim, range=(0.0, 256.0))
    total = max(1, lum.size)
    return [float(v) / total for v in hist]


def _png_resize_nearest(px, tw: int, th: int):
    """Nearest-neighbor resize of an (h, w, c) array — exact integer
    index math, no interpolation libs."""
    import numpy as np

    h, w = px.shape[0], px.shape[1]
    ys = (np.arange(th) * h) // th
    xs = (np.arange(tw) * w) // tw
    return px[ys][:, xs]


def decode_images(
    t: Table,
    media_col: str = "media",
    *,
    resize: Optional[tuple[int, int]] = None,
    feature_dim: int = _FEATURE_DIM,
) -> Table:
    """Decode image payloads and emit (width, height, features).

    Runs as ``mapInPandas`` — one Arrow batch at a time per task, so a
    1000-executor cluster decodes embarrassingly parallel with no shuffle.
    PNG, baseline JPEG and GIF decode with stdlib + numpy; other formats
    require PIL and raise NotImplementedError otherwise.
    """
    df = t.df
    out_schema = st.StructType(
        list(df.schema.fields)
        + [
            st.StructField("width", st.IntegerType()),
            st.StructField("height", st.IntegerType()),
            st.StructField("features", st.ArrayType(st.FloatType())),
        ]
    )

    target = resize

    def _real_one(payload: bytes):
        """Decode ONE payload: PNG via the stdlib decoder; anything else
        needs PIL (JPEG etc. stay honestly stubbed in this container).
        A MALFORMED/unsupported PNG degrades to (None, None, None) for
        that row instead of failing the task — at pipeline scale one
        corrupt payload must not kill the job (the NULLs are filterable
        downstream)."""
        import struct
        import zlib

        b = bytes(payload or b"")
        if b.startswith(_PNG_MAGIC):
            try:
                w, h, _ch, px = _png_decode(b)
            except _CODEC_ERRORS:
                return None, None, None
            if target is not None:
                px = _png_resize_nearest(px, target[0], target[1])
                w, h = target
            return w, h, _png_features(px, feature_dim)
        if b.startswith(b"\xff\xd8"):
            # baseline JPEG via the stdlib+numpy decoder (r12) — same
            # degrade-to-NULLs contract for malformed/out-of-scope data
            try:
                h, w, px = _jpeg_decode(b)
            except _CODEC_ERRORS:
                return None, None, None
            if target is not None:
                px = _png_resize_nearest(px, target[0], target[1])
                w, h = target
            return w, h, _png_features(px, feature_dim)
        if b[:6] in (b"GIF87a", b"GIF89a"):
            # GIF via the stdlib LZW decoder (r12): first frame
            try:
                h, w, px = _gif_decode(b)[0]
            except _CODEC_ERRORS:
                return None, None, None
            if target is not None:
                px = _png_resize_nearest(px, target[0], target[1])
                w, h = target
            return w, h, _png_features(px, feature_dim)
        if not b:
            # NULL/empty payload: degrade the ROW, it isn't an
            # unsupported FORMAT (r13 — a 100 TB image column will
            # contain null payloads and one must not kill the job)
            return None, None, None
        try:  # pragma: no cover - no PIL in container
            from PIL import Image  # noqa: F401
        except ImportError as e:
            raise NotImplementedError(
                "image format decoding requires PIL for formats beyond "
                "PNG, baseline JPEG and GIF (they decode via stdlib+numpy)"
            ) from e
        raise NotImplementedError("real exotic-format decode path requires PIL")

    def run(batches: Iterator) -> Iterator:
        for pdf in batches:
            payloads = pdf[media_col].map(
                lambda m: (m["data"] if isinstance(m, dict) else m) or b""
            )
            decoded = payloads.map(_real_one)
            # nullable Int32: malformed payloads degrade to NULLs
            w = decoded.map(lambda t: t[0]).astype("Int32")
            h = decoded.map(lambda t: t[1]).astype("Int32")
            feats = decoded.map(lambda t: t[2])
            out = pdf.copy()
            out["width"] = w
            out["height"] = h
            out["features"] = feats
            yield out

    return Table(df.mapInPandas(run, out_schema))


# ---------------------------------------------------------------------------
# Baseline JPEG decoder (round 12): ITU-T T.81 baseline sequential DCT
# (SOF0), Huffman entropy coding, restart intervals, grayscale and
# 3-component YCbCr with 4:4:4 / 4:2:2 / 4:2:0 sampling — pure stdlib
# + numpy, no libjpeg.  Correctness-first: the bit reader is a plain
# Python loop (fine for the per-item mapInPandas shape where items are
# independent and batch-parallel); progressive (SOF2) and arithmetic
# coding stay out of scope and raise.

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _jpeg_idct_basis():
    import math

    import numpy as np

    A = np.zeros((8, 8))
    for k in range(8):
        c = math.sqrt(0.125) if k == 0 else 0.5
        for n in range(8):
            A[k, n] = c * math.cos(math.pi * k * (2 * n + 1) / 16.0)
    return A


class _JpegBits:
    """Entropy-segment bit reader: 0xFF00 byte-stuffing removal, stops
    at any other marker (the caller handles RSTn)."""

    __slots__ = ("d", "i", "bit")

    def __init__(self, d, i):
        self.d = d
        self.i = i
        self.bit = 0

    def read(self):
        d, i = self.d, self.i
        if i >= len(d):
            raise ValueError("jpeg: truncated entropy segment")
        byte = d[i]
        if byte == 0xFF:
            nxt = d[i + 1] if i + 1 < len(d) else None
            if nxt != 0x00:
                raise ValueError("jpeg: marker inside entropy data")
        b = (byte >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.i += 2 if byte == 0xFF else 1
        return b

    def receive(self, n):
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read()
        return v

    def align_to_marker(self):
        """Skip to the next marker boundary (for RSTn)."""
        if self.bit:
            self.bit = 0
            self.i += 2 if self.d[self.i] == 0xFF else 1


def _jpeg_destuff(d, i0):
    """(destuffed bytes, restart byte offsets) of the entropy segment
    starting at i0: 0xFF00 stuffing removed, RSTn markers recorded as
    boundaries, stops at any other marker."""
    import re

    d = bytes(d)
    # segment end: the first 0xFF followed by neither stuffing nor RSTn
    m = re.search(rb"\xff(?:[^\x00\xd0-\xd7])", d[i0:])
    seg = d[i0 : i0 + m.start()] if m else d[i0:]
    # restart boundaries in DESTUFFED coordinates: walk the RST matches
    # in stuffed coordinates, subtracting stuffing bytes seen so far
    out = []
    restarts = []
    dest_len = 0
    last = 0
    for mm in re.finditer(rb"\xff([\x00\xd0-\xd7])", seg):
        kind = mm.group(1)[0]
        piece = (
            seg[last : mm.start() + 1]  # stuffing: keep the 0xFF
            if kind == 0x00
            else seg[last : mm.start()]
        )
        out.append(piece)
        dest_len += len(piece)
        if kind != 0x00:
            restarts.append(dest_len)
        last = mm.end()
    out.append(seg[last:])
    return b"".join(out), restarts


def _jpeg_lut(tbl):
    """(lenlut, vallut) 2^16-entry lookup arrays for a canonical
    Huffman code dict — the vectorized kernel's O(1) symbol decode."""
    import numpy as np

    packed = np.zeros(1 << 16, np.int32)  # (length << 8) | value
    for (ln, code), v in tbl.items():
        start = code << (16 - ln)
        packed[start : start + (1 << (16 - ln))] = (ln << 8) | v
    return packed.tolist()


class _FastBits:
    """Positioned bit cursor over a destuffed entropy segment: 16-bit
    peeks and up-to-16-bit takes as plain int arithmetic (no per-bit
    method calls — the r13 kernel swap's Huffman stage)."""

    __slots__ = ("d", "pos", "nbits")

    def __init__(self, d: bytes):
        self.d = d + b"\x00\x00\x00\x00\x00"
        self.nbits = len(d) * 8
        self.pos = 0

    def peek16(self) -> int:
        p = self.pos
        d = self.d
        byi = p >> 3
        v = (
            (d[byi] << 24)
            | (d[byi + 1] << 16)
            | (d[byi + 2] << 8)
            | d[byi + 3]
        )
        return (v >> (16 - (p & 7))) & 0xFFFF

    def take(self, n: int) -> int:
        p = self.pos
        if p + n > self.nbits:
            raise ValueError("jpeg: truncated entropy segment")
        self.pos = p + n
        if n == 0:
            return 0
        d = self.d
        byi = p >> 3
        v = (
            (d[byi] << 32)
            | (d[byi + 1] << 24)
            | (d[byi + 2] << 16)
            | (d[byi + 3] << 8)
            | d[byi + 4]
        )
        return (v >> (40 - (p & 7) - n)) & ((1 << n) - 1)


def _jpeg_huff_decode(bits, table):
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | bits.read()
        length += 1
        v = table.get((length, code))
        if v is not None:
            return v
    raise ValueError("jpeg: invalid huffman code")


def _jpeg_extend(v, t):
    return v - (1 << t) + 1 if t and v < (1 << (t - 1)) else v


def _jpeg_decode(b: bytes, kernel: str = "fast"):
    """(height, width, pixel ndarray HxWx3 uint8) from baseline JPEG
    bytes — see the section comment for scope.  Raises ValueError on
    anything outside it (progressive, arithmetic, 12-bit, bad data).

    ``kernel`` selects the entropy+IDCT stage behind the SAME row
    contract (the r13 kernel-swap proof, SCALE.md): "ref" is the
    original per-bit reader + per-block matmul; "fast" (default)
    destuffs once, decodes Huffman via 2^16 lookup tables over a
    positioned bit cursor, and runs ONE batched einsum IDCT over every
    block.  Identical pixels on the hand-built closed-form test
    vectors (differential-tested); ~4x throughput measured by
    tools/bench_jpeg_kernel.py."""
    import struct

    import numpy as np

    if b[:2] != b"\xff\xd8":
        raise ValueError("jpeg: missing SOI")
    qt, huffs = {}, {}
    frame, ri = None, 0
    i = 2
    scan = None
    while i < len(b):
        if b[i] != 0xFF:
            raise ValueError("jpeg: expected marker")
        # ITU-T T.81 §B.1.1.2: any number of 0xFF fill bytes may pad a
        # marker; treat runs of 0xFF as padding, the marker is the
        # first non-0xFF byte after them (ADVICE r12)
        while i + 1 < len(b) and b[i + 1] == 0xFF:
            i += 1
        m = b[i + 1]
        if m == 0xD8:
            i += 2
            continue
        if m == 0xD9:
            break
        seg_len = struct.unpack_from(">H", b, i + 2)[0]
        seg = b[i + 4 : i + 2 + seg_len]
        if m == 0xDB:  # DQT
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 15
                if pq != 0:
                    raise ValueError("jpeg: 16-bit quant tables unsupported")
                qt[tq] = np.frombuffer(
                    seg[j + 1 : j + 65], np.uint8
                ).astype(np.int32)
                j += 65
        elif m == 0xC4:  # DHT
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 15
                counts = seg[j + 1 : j + 17]
                vals = seg[j + 17 : j + 17 + sum(counts)]
                tbl, code, k = {}, 0, 0
                for ln in range(1, 17):
                    for _ in range(counts[ln - 1]):
                        tbl[(ln, code)] = vals[k]
                        code += 1
                        k += 1
                    code <<= 1
                huffs[(tc, th)] = tbl
                j += 17 + len(vals)
        elif m == 0xC0:  # SOF0 baseline
            prec, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            if prec != 8:
                raise ValueError("jpeg: only 8-bit precision")
            comps = []
            for c in range(nc):
                cid, hv, tq = struct.unpack_from(">BBB", seg, 6 + 3 * c)
                comps.append((cid, hv >> 4, hv & 15, tq))
            frame = (h, w, comps)
        elif m in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                   0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("jpeg: only baseline SOF0 is supported")
        elif m == 0xDD:  # DRI
            ri = struct.unpack_from(">H", seg, 0)[0]
        elif m == 0xDA:  # SOS
            ns = seg[0]
            smap = {}
            for c in range(ns):
                cid, t = seg[1 + 2 * c], seg[2 + 2 * c]
                smap[cid] = (t >> 4, t & 15)
            scan = (smap, i + 2 + seg_len)
            break
        i += 2 + seg_len
    if frame is None or scan is None:
        raise ValueError("jpeg: missing SOF/SOS")

    h, w, comps = frame
    smap, data_at = scan
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    A = _jpeg_idct_basis()
    planes = {}
    for cid, hs, vs, tq in comps:
        planes[cid] = np.zeros((mcuy * vs * 8, mcux * hs * 8))

    if kernel == "fast":
        return _jpeg_entropy_fast(
            b, data_at, h, w, comps, smap, huffs, qt, ri,
            hmax, vmax, mcux, mcuy, A, planes,
        )

    bits = _JpegBits(b, data_at)
    pred = {cid: 0 for cid, *_ in comps}
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if ri and mcu_count and mcu_count % ri == 0:
                bits.align_to_marker()
                if not (
                    bits.d[bits.i] == 0xFF
                    and 0xD0 <= bits.d[bits.i + 1] <= 0xD7
                ):
                    raise ValueError("jpeg: expected restart marker")
                bits.i += 2
                pred = {cid: 0 for cid, *_ in comps}
            for cid, hs, vs, tq in comps:
                dct, act = smap[cid]
                dch = huffs[(0, dct)]
                ach = huffs[(1, act)]
                q = qt[tq]
                for by in range(vs):
                    for bx in range(hs):
                        coef = np.zeros(64)
                        t = _jpeg_huff_decode(bits, dch)
                        diff = _jpeg_extend(bits.receive(t), t)
                        pred[cid] += diff
                        coef[0] = pred[cid] * q[0]
                        k = 1
                        while k < 64:
                            rs = _jpeg_huff_decode(bits, ach)
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("jpeg: AC index overflow")
                            coef[k] = (
                                _jpeg_extend(bits.receive(s), s) * q[k]
                            )
                            k += 1
                        blk = np.zeros((8, 8))
                        blk.flat[_ZIGZAG] = coef
                        px = A.T @ blk @ A + 128.0
                        y0 = (my * vs + by) * 8
                        x0 = (mx * hs + bx) * 8
                        planes[cid][y0 : y0 + 8, x0 : x0 + 8] = px
            mcu_count += 1

    return _jpeg_finish(h, w, comps, hmax, vmax, planes)


def _jpeg_finish(h, w, comps, hmax, vmax, planes):
    """Upsample to full resolution, crop, color-convert — shared by
    both entropy kernels."""
    import numpy as np

    full = []
    for cid, hs, vs, tq in comps:
        p = planes[cid]
        if hs != hmax or vs != vmax:
            p = np.repeat(np.repeat(p, vmax // vs, 0), hmax // hs, 1)
        full.append(p[:h, :w])
    if len(full) == 1:
        g = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return h, w, np.stack([g, g, g], axis=-1)
    if len(full) == 3:
        Y, Cb, Cr = full
        r = Y + 1.402 * (Cr - 128.0)
        g = Y - 0.344136 * (Cb - 128.0) - 0.714136 * (Cr - 128.0)
        bl = Y + 1.772 * (Cb - 128.0)
        rgb = np.stack([r, g, bl], axis=-1)
        return h, w, np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    raise ValueError("jpeg: unsupported component count")


def _jpeg_entropy_fast(
    b, data_at, h, w, comps, smap, huffs, qt, ri,
    hmax, vmax, mcux, mcuy, A, planes,
):
    """Vectorized entropy+IDCT stage (r13 kernel swap): LUT Huffman
    over a destuffed positioned cursor, coefficients accumulated into
    one (nblocks, 64) array, ONE batched einsum IDCT, slice-assigned
    planes.  Bit-identical pixels to the reference kernel."""
    import numpy as np

    data, restart_offs = _jpeg_destuff(b, data_at)
    bits = _FastBits(data)
    luts = {key: _jpeg_lut(tbl) for key, tbl in huffs.items()}

    # per-MCU block schedule: (cid, lenlut_dc, vallut_dc, lenlut_ac,
    # vallut_ac, q, by, bx) — table/scan lookups stay dict accesses so
    # undefined ids raise KeyError exactly like the reference kernel
    sched = []
    for cid, hs, vs, tq in comps:
        dct, act = smap[cid]
        ldc = luts[(0, dct)]
        lac = luts[(1, act)]
        q = qt[tq].tolist()  # plain ints: numpy scalar reads cost ~1us
        for by in range(vs):
            for bx in range(hs):
                sched.append((cid, ldc, lac, q, hs, vs, by, bx))

    nblocks = mcuy * mcux * len(sched)
    rows = []  # per-block 64-coefficient PYTHON lists (scalar numpy
    # writes are ~1us each — the batch conversion below is the cheap
    # spelling)
    slots = []  # (cid, y0, x0) per block, in rows order
    pred = {cid: 0 for cid, *_ in comps}
    mcu_count = 0
    r_idx = 0
    # the bit cursor is INLINE local-int arithmetic in this loop — at
    # ~45 reads per block, method calls alone were ~40% of the wall
    d = bits.d
    nbits = bits.nbits
    pos = 0
    ifb = int.from_bytes
    for my in range(mcuy):
        for mx in range(mcux):
            if ri and mcu_count and mcu_count % ri == 0:
                if r_idx >= len(restart_offs):
                    raise ValueError("jpeg: expected restart marker")
                boundary = restart_offs[r_idx] * 8
                if pos > boundary:
                    raise ValueError("jpeg: restart marker misplaced")
                pos = boundary
                r_idx += 1
                pred = {cid: 0 for cid, *_ in comps}
            for cid, ldc, lac, q, hs, vs, by, bx in sched:
                row = [0.0] * 64
                # ONE 40-bit window read per symbol covers the 16-bit
                # code peek AND the value bits (7 + 16 + 15 <= 40)
                byi = pos >> 3
                rem = pos & 7
                v40 = ifb(d[byi : byi + 5], "big")
                lv = ldc[(v40 >> (24 - rem)) & 0xFFFF]
                ln = lv >> 8
                t = lv & 0xFF
                if ln == 0 or pos + ln + t > nbits:
                    raise ValueError("jpeg: invalid huffman code")
                if t:
                    v = (v40 >> (40 - rem - ln - t)) & ((1 << t) - 1)
                    diff = v - (1 << t) + 1 if v < (1 << (t - 1)) else v
                else:
                    diff = 0
                pos += ln + t
                pred[cid] += diff
                row[0] = pred[cid] * q[0]
                k = 1
                while k < 64:
                    byi = pos >> 3
                    rem = pos & 7
                    v40 = ifb(d[byi : byi + 5], "big")
                    lv = lac[(v40 >> (24 - rem)) & 0xFFFF]
                    ln = lv >> 8
                    rs = lv & 0xFF
                    sz = rs & 15
                    if ln == 0 or pos + ln + sz > nbits:
                        raise ValueError("jpeg: invalid huffman code")
                    if sz == 0:
                        pos += ln
                        if rs == 0xF0:
                            k += 16
                            continue
                        break  # EOB
                    k += rs >> 4
                    if k > 63:
                        raise ValueError("jpeg: AC index overflow")
                    v = (v40 >> (40 - rem - ln - sz)) & ((1 << sz) - 1)
                    pos += ln + sz
                    row[k] = (
                        v - (1 << sz) + 1 if v < (1 << (sz - 1)) else v
                    ) * q[k]
                    k += 1
                rows.append(row)
                slots.append((cid, (my * vs + by) * 8, (mx * hs + bx) * 8))
            mcu_count += 1

    # batched de-zigzag + IDCT: one einsum over every block
    coefs = np.array(rows)
    blks = np.empty((nblocks, 64))
    blks[:, _ZIGZAG] = coefs
    blks = blks.reshape(nblocks, 8, 8)
    # broadcast matmul, not einsum: einsum's tensordot path measured
    # 126 ms on 4096 blocks where two batched matmuls are ~3 ms
    px = (A.T @ blks) @ A + 128.0
    for t, (cid, y0, x0) in enumerate(slots):
        planes[cid][y0 : y0 + 8, x0 : x0 + 8] = px[t]
    return _jpeg_finish(h, w, comps, hmax, vmax, planes)


# ---------------------------------------------------------------------------
# GIF decoder (round 12): GIF87a/89a — LZW decompression, global/local
# palettes, interlacing, multiple frames (animated GIFs sample like
# MJPEG videos).  Pure stdlib + numpy.

def _gif_lzw(data: bytes, min_code: int, npix: int):
    """GIF LZW decode: variable code width with table growth and CLEAR
    handling, per the GIF89a spec appendix."""
    clear = 1 << min_code
    eoi = clear + 1
    width = min_code + 1
    table = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    prev = None
    acc = nbits = 0
    i = 0
    while len(out) < npix:
        while nbits < width:
            if i >= len(data):
                raise ValueError("gif: truncated LZW stream")
            acc |= data[i] << nbits
            nbits += 8
            i += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [bytes([k]) for k in range(clear)] + [b"", b""]
            width = min_code + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < 4096:  # deferred clear: table caps at 2^12
                table.append(prev + entry[:1])
        elif code == len(table) and len(table) < 4096:
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("gif: LZW code out of range")
        out += entry
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    return bytes(out[:npix])


def _gif_decode(b: bytes):
    """List of (height, width, HxWx3 uint8 RGB) frames from GIF bytes.
    Transparency/disposal are ignored (each frame decodes standalone
    over the palette); that is the honest feature-extraction contract,
    not a compositing player."""
    import struct

    import numpy as np

    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    w, h, flags, _bg, _ar = struct.unpack_from("<HHBBB", b, 6)
    i = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = np.frombuffer(b[i : i + 3 * n], np.uint8).reshape(-1, 3)
        i += 3 * n
    frames = []
    while i < len(b):
        blk = b[i]
        if blk == 0x3B:  # trailer
            break
        if blk == 0x21:  # extension: label + subblocks
            i += 2
            while i < len(b) and b[i] != 0:
                i += 1 + b[i]
            i += 1
            continue
        if blk != 0x2C:
            raise ValueError(f"gif: unexpected block 0x{blk:02x}")
        fx, fy, fw, fh, ff = struct.unpack_from("<HHHHB", b, i + 1)
        i += 10
        pal = gct
        if ff & 0x80:
            n = 2 << (ff & 7)
            pal = np.frombuffer(b[i : i + 3 * n], np.uint8).reshape(-1, 3)
            i += 3 * n
        if pal is None:
            raise ValueError("gif: no palette")
        min_code = b[i]
        i += 1
        lzw = bytearray()
        while i < len(b) and b[i] != 0:
            sz = b[i]
            lzw += b[i + 1 : i + 1 + sz]
            i += 1 + sz
        i += 1
        idx = np.frombuffer(
            _gif_lzw(bytes(lzw), min_code, fw * fh), np.uint8
        )
        if idx.size and int(idx.max()) >= len(pal):
            raise ValueError("gif: palette index out of range")
        px = pal[idx].reshape(fh, fw, 3)
        if ff & 0x40:  # interlaced: 4-pass row shuffle
            rows = np.empty(fh, np.int64)
            order = (
                list(range(0, fh, 8))
                + list(range(4, fh, 8))
                + list(range(2, fh, 4))
                + list(range(1, fh, 2))
            )
            rows[np.asarray(order, np.int64)] = np.arange(fh)
            px = px[rows]
        frames.append((fh, fw, px))
    if not frames:
        raise ValueError("gif: no image data")
    return frames


_WAV_BANDS = 8


def _wav_decode(b: bytes):
    """(sample_rate, channels, mono float64 samples in [-1, 1]) from
    WAV/PCM bytes — stdlib ``wave`` container parsing, numpy sample
    conversion for 8-bit unsigned / 16/24/32-bit signed PCM.  Raises
    on anything the container can't express (compressed WAV, float
    WAV, truncated chunks)."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(b)) as w:
        sr = w.getframerate()
        ch = w.getnchannels()
        sw = w.getsampwidth()
        raw = w.readframes(w.getnframes())
    if sw == 1:
        x = (np.frombuffer(raw, np.uint8).astype(np.float64) - 128.0) / 128.0
    elif sw == 2:
        x = np.frombuffer(raw, "<i2").astype(np.float64) / 32768.0
    elif sw == 3:
        a = np.frombuffer(raw, np.uint8).reshape(-1, 3).astype(np.int32)
        v = a[:, 0] | (a[:, 1] << 8) | (a[:, 2] << 16)
        v = np.where(v >= 1 << 23, v - (1 << 24), v)
        x = v.astype(np.float64) / float(1 << 23)
    elif sw == 4:
        x = np.frombuffer(raw, "<i4").astype(np.float64) / 2147483648.0
    else:
        raise ValueError(f"unsupported PCM sample width {sw}")
    if ch > 1:
        x = x.reshape(-1, ch).mean(axis=1)
    return sr, ch, x


def _wav_features(sr: int, x, bands: int = _WAV_BANDS):
    """Signal features of a mono sample array: [rms, peak, zcr,
    spectral_centroid_hz, log-energy per ``bands`` linear frequency
    bands] — the fixed-width vector shape a training pipeline keys
    filters and dedup on."""
    import math as m

    import numpy as np

    n = len(x)
    if n == 0:
        return [0.0] * (4 + bands)
    rms = float(np.sqrt(np.mean(x * x)))
    peak = float(np.max(np.abs(x)))
    zcr = float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1])))
    spec = np.abs(np.fft.rfft(x)) ** 2
    freqs = np.fft.rfftfreq(n, d=1.0 / sr)
    tot = float(spec.sum())
    centroid = float((freqs * spec).sum() / tot) if tot > 0 else 0.0
    edges = np.linspace(0, len(spec), bands + 1).astype(int)
    be = [
        float(m.log1p(spec[edges[i] : edges[i + 1]].sum()))
        for i in range(bands)
    ]
    return [rms, peak, zcr, centroid] + be


def decode_audio(
    t: Table,
    media_col: str = "media",
    *,
    bands: int = _WAV_BANDS,
) -> Table:
    """Decode audio payloads and emit (sample_rate, channels,
    duration_s, features) — the audio sibling of ``decode_images``,
    same Arrow-batched ``mapInPandas`` shape (per-item independent, no
    shuffle, batch-streamed).

    WAV/PCM payloads decode for REAL (stdlib ``wave`` + numpy — see
    ``_wav_decode``); a malformed WAV degrades that row to NULLs
    instead of failing the task.  Non-WAV audio (MP3/OGG/FLAC) needs
    libav and raises NotImplementedError."""
    df = t.df
    out_schema = st.StructType(
        list(df.schema.fields)
        + [
            st.StructField("sample_rate", st.IntegerType()),
            st.StructField("channels", st.IntegerType()),
            st.StructField("duration_s", st.DoubleType()),
            st.StructField("features", st.ArrayType(st.FloatType())),
        ]
    )

    def _real_one(payload: bytes):
        import struct
        import wave
        import zlib

        b = bytes(payload or b"")
        if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
            try:
                sr, ch, x = _wav_decode(b)
            except (wave.Error, ValueError, zlib.error, struct.error, EOFError):
                return None, None, None, None
            dur = len(x) / sr if sr else None
            return sr, ch, dur, _wav_features(sr, x, bands)
        raise NotImplementedError(
            "non-WAV audio decoding requires an av library (WAV/PCM "
            "decodes via the stdlib parser)"
        )

    def run(batches: Iterator) -> Iterator:
        for pdf in batches:
            payloads = pdf[media_col].map(
                lambda m: (m["data"] if isinstance(m, dict) else m) or b""
            )
            decoded = payloads.map(_real_one)
            sr = decoded.map(lambda r: r[0]).astype("Int32")
            ch = decoded.map(lambda r: r[1]).astype("Int32")
            dur = decoded.map(lambda r: r[2])
            feats = decoded.map(lambda r: r[3])
            out = pdf.copy()
            out["sample_rate"] = sr
            out["channels"] = ch
            out["duration_s"] = dur
            out["features"] = feats
            yield out

    return Table(df.mapInPandas(run, out_schema))


def _avi_mjpeg_frames(b: bytes):
    """JPEG frame payloads from an AVI (RIFF) container's ``movi``
    list — the MJPEG case, where each ``..dc``/``..db`` chunk IS a
    JPEG image.  Header lists are skipped (frame geometry comes from
    the JPEG bits themselves).  Raises ValueError on non-AVI bytes."""
    import struct

    if b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    frames = []
    i = 12
    end = min(len(b), 8 + struct.unpack_from("<I", b, 4)[0])
    while i + 8 <= end:
        cid = b[i : i + 4]
        sz = struct.unpack_from("<I", b, i + 4)[0]
        if cid == b"LIST":
            ltype = b[i + 8 : i + 12]
            if ltype == b"movi":
                j = i + 12
                stop = i + 8 + sz
                while j + 8 <= stop:
                    fid = b[j : j + 4]
                    fsz = struct.unpack_from("<I", b, j + 4)[0]
                    if fid[2:4] in (b"dc", b"db"):
                        frames.append(b[j + 8 : j + 8 + fsz])
                    j += 8 + fsz + (fsz & 1)  # chunks are word-aligned
            i += 8 + sz + (sz & 1)
        else:
            i += 8 + sz + (sz & 1)
    return frames


def sample_frames(
    t: Table,
    media_col: str = "media",
    *,
    every_n: int = 10,
) -> Table:
    """Explode a video payload into sampled frame rows (frame_idx +
    frame_width/frame_height) — one row per kept frame, Arrow-batched
    mapInPandas, no shuffle.

    MJPEG-in-AVI samples for REAL (round 12): the stdlib RIFF walk
    pulls every ``..dc`` chunk and the baseline-JPEG decoder
    (``_jpeg_decode``) supplies true frame geometry; every
    ``every_n``-th frame is kept, and a malformed container degrades
    the row to a single NULL-frame row.  Other codecs (H.264 etc.)
    need libav and raise NotImplementedError."""
    df = t.df
    out_schema = st.StructType(
        list(df.schema.fields)
        + [
            st.StructField("frame_idx", st.IntegerType()),
            st.StructField("frame_width", st.IntegerType()),
            st.StructField("frame_height", st.IntegerType()),
        ]
    )

    def _real_rows(payload: bytes):
        """[(frame_idx, w, h)] for one payload."""
        b = bytes(payload or b"")
        if b[:4] == b"RIFF" and b[8:12] == b"AVI ":
            try:
                frames = _avi_mjpeg_frames(b)
            except _CODEC_ERRORS:
                return [(None, None, None)]
            out = []
            for idx in range(0, len(frames), max(1, every_n)):
                try:
                    h, w, _px = _jpeg_decode(frames[idx])
                    out.append((idx, w, h))
                except _CODEC_ERRORS:
                    out.append((idx, None, None))
            return out or [(None, None, None)]
        if b[:6] in (b"GIF87a", b"GIF89a"):
            # animated GIF: frames via the stdlib LZW decoder (r12)
            try:
                frames = _gif_decode(b)
            except _CODEC_ERRORS:
                return [(None, None, None)]
            return [
                (idx, frames[idx][1], frames[idx][0])
                for idx in range(0, len(frames), max(1, every_n))
            ] or [(None, None, None)]
        raise NotImplementedError(
            "real frame sampling beyond MJPEG-in-AVI and animated GIF "
            "requires an av library"
        )

    def run(batches: Iterator) -> Iterator:
        for pdf in batches:
            payloads = pdf[media_col].map(
                lambda m: (m["data"] if isinstance(m, dict) else m) or b""
            )
            rows = payloads.map(_real_rows)
            reps = rows.map(len)
            out = pdf.loc[pdf.index.repeat(reps)].copy()
            flat = [f for rl in rows for f in rl]
            out["frame_idx"] = [f[0] for f in flat]
            out["frame_width"] = [f[1] for f in flat]
            out["frame_height"] = [f[2] for f in flat]
            out["frame_idx"] = out["frame_idx"].astype("Int32")
            out["frame_width"] = out["frame_width"].astype("Int32")
            out["frame_height"] = out["frame_height"].astype("Int32")
            yield out

    return Table(df.mapInPandas(run, out_schema))
