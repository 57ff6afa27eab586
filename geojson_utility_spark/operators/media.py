"""Multimodal audio/video column operators — mapInPandas over opaque binary columns.

Completes the image/audio/video triad (operators/images.py covers images): typed
metadata schemas, decode-and-verify with per-row invariants, and frame sampling —
all Arrow-batched mapInPandas, never per-row Python at the DataFrame layer.  Codecs from functions/media.py (REAL RIFF/WAVE PCM16; clearly
labeled deterministic stand-in for video containers — no codec libs in this
container; the plumbing is the real contract).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from geojson_utility_spark.functions import imaging as I
from geojson_utility_spark.functions import media as M

AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("audio_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("caption", T.StringType()),
    ]
)

VIDEO_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fps", T.DoubleType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("caption", T.StringType()),
    ]
)

AUDIO_VERIFY_SCHEMA = T.StructType(
    [
        T.StructField("audio_id", T.StringType()),
        T.StructField("decode_ok", T.BooleanType()),
        T.StructField("meta_ok", T.BooleanType()),
        T.StructField("caption_ok", T.BooleanType()),
        T.StructField("roundtrip_exact", T.BooleanType()),
        T.StructField("error", T.StringType()),
    ]
)


def decode_and_verify_audio(audio: DataFrame) -> DataFrame:
    """Decode every clip and check per-row invariants: metadata agreement
    (sample_rate, channels, sample count), caption round trip, and a lossless
    encode->decode round trip (PCM16 is exact — the audio analog of the image
    PSNR gate, with equality instead of a dB threshold)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples():
                err = ""
                decode_ok = meta_ok = caption_ok = rt = False
                try:
                    samples, sr = M.decode_wav(bytes(r.bytes))
                    decode_ok = True
                    meta_ok = (
                        sr == r.sample_rate
                        and samples.shape[1] == r.n_channels
                        and samples.shape[0] == r.n_samples
                    )
                    caption_ok = r.caption == f"caption of {r.audio_id}"
                    s2, sr2 = M.decode_wav(M.encode_wav(samples, sr))
                    rt = sr2 == sr and np.array_equal(s2, samples)
                except Exception as e:  # annotate, don't drop (engine convention)
                    err = str(e)
                rows.append((r.audio_id, decode_ok, meta_ok, caption_ok, rt, err))
            yield pd.DataFrame(
                rows,
                columns=[
                    "audio_id", "decode_ok", "meta_ok", "caption_ok",
                    "roundtrip_exact", "error",
                ],
            )

    return audio.mapInPandas(batches, AUDIO_VERIFY_SCHEMA)


FRAME_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.StringType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("t_ms", T.DoubleType()),
        T.StructField("frame_phash", T.LongType()),
        T.StructField("frame_png", T.BinaryType()),
    ]
)


def frame_sample(videos: DataFrame, every_n: int = 10) -> DataFrame:
    """Video -> sampled frame rows (the training-data frame-extraction shape):
    one output row per every_n-th frame, carrying the frame's timestamp, perceptual
    hash, and a PNG re-encode of the frame — a row-EXPANDING mapInPandas (the
    multimodal analog of posexplode; downstream image operators consume frame_png
    directly)."""
    if every_n < 1:
        raise ValueError("every_n must be >= 1")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k.name: [] for k in FRAME_SAMPLE_SCHEMA.fields}
            for r in pdf.itertuples():
                try:
                    frames, fps = M.decode_fvid(bytes(r.bytes))
                except Exception:
                    continue
                for idx in range(0, frames.shape[0], every_n):
                    out["video_id"].append(r.video_id)
                    out["frame_idx"].append(idx)
                    out["t_ms"].append(1000.0 * idx / fps)
                    out["frame_phash"].append(I.phash64(frames[idx]))
                    out["frame_png"].append(I.encode_png(frames[idx]))
            yield pd.DataFrame(out)

    return videos.mapInPandas(batches, FRAME_SAMPLE_SCHEMA)
