"""Multimodal image-column operators (mapInPandas plumbing + invariants)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geojson_utility_spark import fixtures as FX
from geojson_utility_spark.functions import imaging as I
from geojson_utility_spark.operators import images as IMG
from geojson_utility_spark.schemas import IMAGES_SCHEMA


@pytest.fixture(scope="module")
def images(spark):
    return spark.createDataFrame(FX.make_images(60), schema=IMAGES_SCHEMA).cache()


def test_decode_and_verify_invariants(images):
    out = IMG.decode_and_verify(images).toPandas()
    assert len(out) == 60
    assert out["decode_ok"].all()
    assert out["dims_ok"].all()
    assert out["phash_ok"].all()
    assert out["caption_ok"].all()
    assert (out["psnr_vs_reencode"] >= 40.0).all()  # input_hint PSNR gate
    png = out[out["image_id"].str.endswith(("0", "2", "4", "6", "8"))]
    # png rows are even indices -> lossless -> sentinel 1e9
    assert (png["psnr_vs_reencode"] == 1e9).any()


def test_phash_near_dups_finds_planted(spark):
    pdf = FX.make_images(40)
    # plant a near-dup: re-encode image 0's pixels with tiny noise
    src = pdf.iloc[0]
    px = I.decode_image(src["bytes"], src["fmt"])
    noisy = np.clip(px.astype(int) + 1, 0, 255).astype(np.uint8)
    import pandas as pd

    dup_row = pd.DataFrame(
        [{
            "image_id": "img_dup",
            "bytes": I.encode_png(noisy),
            "w": src["w"],
            "h": src["h"],
            "fmt": "png",
            "caption": "caption of img_dup",
            "phash": I.phash64(noisy),
        }]
    )
    images = spark.createDataFrame(
        pd.concat([pdf, dup_row], ignore_index=True), schema=IMAGES_SCHEMA
    )
    from geojson_utility_spark.operators.dedup import phash_near_dups

    pairs = phash_near_dups(images, max_distance=8).toPandas()
    hit = pairs[
        ((pairs["image_a"] == src["image_id"]) & (pairs["image_b"] == "img_dup"))
        | ((pairs["image_b"] == src["image_id"]) & (pairs["image_a"] == "img_dup"))
    ]
    assert len(hit) == 1
