"""Image codecs + perceptual hashing — pure stdlib (zlib/struct) + numpy.

The target input table carries images as opaque ``binary`` columns
(BASELINE.json input_hint: ``bytes:binary, w, h, fmt, caption, phash``).  This container
has NO image libraries (no PIL/cv2), so:

- ``png``: a REAL, spec-compliant codec — RGB8, filter type 0, zlib DEFLATE, CRC-checked
  chunks — written from the public PNG specification (RFC 2083).  Lossless round-trip.
- ``jpeg``: a clearly-marked DETERMINISTIC STAND-IN for a lossy codec (real JPEG needs a
  DCT library we don't have).  It quantizes pixels to an even step and DEFLATEs them;
  decoding reverses it, losing the low bit(s) — giving a measurable, deterministic
  PSNR ≈ 48 dB (≥ the input_hint's 40 dB gate) so the lossy verification path
  (decode -> allclose/PSNR) is exercised end-to-end.  Swap ``_FAKE_JPEG_*`` for a real
  codec when libjpeg bindings are available; the Spark-side plumbing (schemas, UDF
  signatures, batch shapes) does not change.

All functions operate on numpy arrays and are called inside Arrow-batched pandas UDFs
(mapInPandas) — never per-row Python at the DataFrame layer.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    """RGB uint8 (h, w, 3) -> PNG bytes (color type 2, bit depth 8, filter 0)."""
    pixels = np.ascontiguousarray(pixels, dtype=np.uint8)
    h, w, c = pixels.shape
    assert c == 3, "RGB only"
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), pixels.reshape(h, w * 3)], axis=1
    ).tobytes()
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> RGB uint8 (h, w, 3).  Supports what encode_png emits plus all five
    standard scanline filters (spec §6) for robustness."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = None
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        crc = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])[0]
        if zlib.crc32(tag + payload) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk CRC mismatch in {tag!r}")
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, interlace = struct.unpack(">IIBBBBB", payload)
            if (depth, ctype, comp, filt, interlace) != (8, 2, 0, 0, 0):
                raise ValueError("unsupported PNG variant (need RGB8 non-interlaced)")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + length
    raw = zlib.decompress(idat)
    stride = w * 3
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for row in range(h):
        ftype = raw[row * (stride + 1)]
        line = np.frombuffer(
            raw[row * (stride + 1) + 1 : (row + 1) * (stride + 1)], dtype=np.uint8
        ).copy()
        if ftype == 0:
            pass
        elif ftype == 2:  # Up
            line = (line.astype(np.int16) + prev).astype(np.uint8)
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth need sequential bytes
            line = _unfilter_seq(ftype, line, prev)
        else:
            raise ValueError(f"bad PNG filter {ftype}")
        out[row] = line
        prev = line
    return out.reshape(h, w, 3)


def _unfilter_seq(ftype: int, line: np.ndarray, prev: np.ndarray) -> np.ndarray:
    """Exact unfilter for the sequential filter types (PNG spec §6.4-6.6).

    Sub (1) is a closed form: out[i] = raw[i] + out[i-3] per byte lane, i.e. a
    per-lane cumulative sum mod 256 — one vectorized ``np.add.accumulate`` with
    uint8 wraparound, no loop at all.

    Average (3) and Paeth (4) have a true left-neighbor data dependency (each output
    byte feeds the next prediction THROUGH a floor-divide / magnitude comparison),
    so no prefix-scan closed form exists; they run as a per-byte loop over plain
    Python ints (bytearray/list) — ~10x faster than the numpy-scalar-indexing loop
    (each ``arr[i]`` on a numpy array allocates a scalar object; list indexing does
    not).  Real-world encoders emit Sub/Up/None for most rows, so the vectorized
    paths carry the bulk of a typical corpus.
    """
    bpp = 3
    if ftype == 1:  # Sub: per-lane uint8 cumsum (wraparound == mod-256 arithmetic)
        lanes = line.reshape(-1, bpp)
        return np.add.accumulate(lanes, axis=0, dtype=np.uint8).reshape(-1)
    x = line.tolist()
    pv = prev.tolist()
    n = len(x)
    out = [0] * n
    if ftype == 3:  # Average
        for i in range(n):
            a = out[i - bpp] if i >= bpp else 0
            out[i] = (x[i] + ((a + pv[i]) >> 1)) & 0xFF
    else:  # Paeth
        for i in range(n):
            a = out[i - bpp] if i >= bpp else 0
            b = pv[i]
            c = pv[i - bpp] if i >= bpp else 0
            p = a + b - c
            pa = p - a if p >= a else a - p
            pb = p - b if p >= b else b - p
            pc = p - c if p >= c else c - p
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out[i] = (x[i] + pred) & 0xFF
    return np.asarray(out, dtype=np.uint8)


# ---------------------------------------------------------------------------
# Deterministic lossy stand-in ("jpeg" fmt tag)
# ---------------------------------------------------------------------------

_FAKE_JPEG_MAGIC = b"FJPG"
_FAKE_JPEG_STEP = 2  # quantization step -> max abs error 1 -> PSNR ~48dB


def encode_fake_jpeg(pixels: np.ndarray) -> bytes:
    """STAND-IN lossy codec (see module docstring).  NOT real JPEG."""
    pixels = np.ascontiguousarray(pixels, dtype=np.uint8)
    h, w, _ = pixels.shape
    q = (pixels.astype(np.uint16) // _FAKE_JPEG_STEP).astype(np.uint8)
    return _FAKE_JPEG_MAGIC + struct.pack(">HH", w, h) + zlib.compress(q.tobytes(), 6)


def decode_fake_jpeg(data: bytes) -> np.ndarray:
    if data[:4] != _FAKE_JPEG_MAGIC:
        raise ValueError("not a fake-jpeg payload")
    w, h = struct.unpack(">HH", data[4:8])
    q = np.frombuffer(zlib.decompress(data[8:]), dtype=np.uint8).reshape(h, w, 3)
    return np.clip(q.astype(np.uint16) * _FAKE_JPEG_STEP, 0, 255).astype(np.uint8)


def encode_image(pixels: np.ndarray, fmt: str) -> bytes:
    if fmt == "png":
        return encode_png(pixels)
    if fmt == "jpeg":
        return encode_fake_jpeg(pixels)
    raise NotImplementedError(
        f"format {fmt!r}: real decoders for non-PNG formats need image libraries "
        "not present in this container — plumbing is format-agnostic, add a codec here"
    )


def decode_image(data: bytes, fmt: str) -> np.ndarray:
    if fmt == "png":
        return decode_png(data)
    if fmt == "jpeg":
        return decode_fake_jpeg(data)
    raise NotImplementedError(f"format {fmt!r}: no codec in this container")


# ---------------------------------------------------------------------------
# Metrics / hashing
# ---------------------------------------------------------------------------

def psnr_db(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio between two uint8 images (inf if identical)."""
    diff = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(diff * diff))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)


def phash64(pixels: np.ndarray) -> int:
    """64-bit perceptual hash: grayscale -> 8x8 mean-pool -> above-median bitmap.

    (Average-hash family; deterministic, pure numpy.)  Bit i (row-major) is set when
    block mean > median.  Signed int64 for parquet/Spark LongType compatibility.
    """
    gray = pixels.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    h, w = gray.shape
    ys = (np.arange(9) * h) // 8
    xs = (np.arange(9) * w) // 8
    blocks = np.empty((8, 8))
    for i in range(8):
        for j in range(8):
            blocks[i, j] = gray[ys[i] : max(ys[i + 1], ys[i] + 1), xs[j] : max(xs[j + 1], xs[j] + 1)].mean()
    med = np.median(blocks)
    bits = (blocks > med).ravel()
    val = np.uint64(0)
    for i, b in enumerate(bits):
        if b:
            val |= np.uint64(1) << np.uint64(i)
    return int(val.astype(np.int64))
