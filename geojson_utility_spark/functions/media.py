"""Audio/video codecs for the multimodal columns — stdlib (struct/zlib) + numpy.

Same policy as functions/imaging.py: REAL codecs where the public spec fits in
stdlib, clearly-marked deterministic stand-ins where a codec library would be
required (none are present in this container):

- ``wav``: a REAL RIFF/WAVE PCM16 codec written from the public WAVE format spec
  (RIFF header + fmt chunk + data chunk, little-endian int16 interleaved).
  Lossless round-trip for int16 samples.
- ``fvid``: a DETERMINISTIC STAND-IN for a video container (real MP4/H.264 demux
  needs codec libraries).  Header ``FVID`` + (w, h, fps_milli, n_frames) + zlib of
  raw RGB frames.  Swap for a real demuxer when bindings exist; the Spark-side
  plumbing (schemas, frame-sample operator, batch shapes) does not change.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# ---------------------------------------------------------------------------
# WAV (RIFF/WAVE PCM16) — real, spec-compliant
# ---------------------------------------------------------------------------


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """int16 samples (n,) mono or (n, ch) -> WAV bytes (PCM16, little-endian)."""
    samples = np.asarray(samples, dtype=np.int16)
    if samples.ndim == 1:
        samples = samples[:, None]
    n, ch = samples.shape
    data = samples.astype("<i2").tobytes()
    byte_rate = sample_rate * ch * 2
    block_align = ch * 2
    fmt = struct.pack("<HHIIHH", 1, ch, sample_rate, byte_rate, block_align, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes -> (samples (n, ch) int16, sample_rate).  PCM16 only."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    sample_rate = None
    ch = None
    raw = None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (length,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        payload = data[pos + 8 : pos + 8 + length]
        if tag == b"fmt ":
            audio_fmt, ch, sample_rate, _, _, bits = struct.unpack(
                "<HHIIHH", payload[:16]
            )
            if audio_fmt != 1 or bits != 16:
                raise ValueError("unsupported WAV variant (need PCM16)")
        elif tag == b"data":
            raw = payload
        pos += 8 + length + (length & 1)  # chunks are word-aligned
    if raw is None or sample_rate is None:
        raise ValueError("WAV missing fmt/data chunk")
    samples = np.frombuffer(raw, dtype="<i2").reshape(-1, ch)
    return samples, sample_rate


# ---------------------------------------------------------------------------
# Deterministic video stand-in ("fvid" fmt tag)
# ---------------------------------------------------------------------------

_FVID_MAGIC = b"FVID"


def encode_fvid(frames: np.ndarray, fps: float) -> bytes:
    """STAND-IN container (see module docstring).  frames: (n, h, w, 3) uint8."""
    frames = np.ascontiguousarray(frames, dtype=np.uint8)
    n, h, w, _ = frames.shape
    header = _FVID_MAGIC + struct.pack("<HHIH", w, h, int(round(fps * 1000)), n)
    return header + zlib.compress(frames.tobytes(), 6)


def decode_fvid(data: bytes) -> tuple[np.ndarray, float]:
    """fvid bytes -> (frames (n, h, w, 3) uint8, fps)."""
    if data[:4] != _FVID_MAGIC:
        raise ValueError("not an fvid payload")
    w, h, fps_milli, n = struct.unpack("<HHIH", data[4:14])
    raw = zlib.decompress(data[14:])
    frames = np.frombuffer(raw, dtype=np.uint8).reshape(n, h, w, 3)
    return frames, fps_milli / 1000.0
