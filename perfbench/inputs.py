"""Seeded inputs: the same --seed always gives the same points and uploads.
Points come from the engine's own fixtures (``image_point_df``,
``image_point``) with the seed mixed in; uploads from a numpy Generator
derived from the seed."""

from __future__ import annotations

import numpy as np
import pandas as pd

from geojson_utility_spark import fixtures as FX
from geojson_utility_spark.fixtures import _BG_WEIGHT, HOTSPOTS


def fixture_points(spark, n: int, seed: int, parts: int):
    """About n points of ``fixtures.image_point_df`` as (point_id bigint, lat,
    lon).  The fixture maps each id to its point with no seed, so the seed picks
    which half of the fixture's first 2n points is used (by xxhash64 of id and
    seed); point_id is the fixture's numeric id, parsed back from its string."""
    from pyspark.sql import functions as F

    pts = FX.image_point_df(spark, 2 * n, parts)
    picked = F.pmod(F.xxhash64("point_id", F.lit(seed)), F.lit(2)) == 0
    return pts.filter(picked).select(
        F.substring("point_id", 5, 12).cast("long").alias("point_id"), "lat", "lon")


def staged_points(spark, n: int, seed: int, path: str):
    """fixture_points written once to parquet: (table, its row count)."""
    fixture_points(spark, n, seed, spark.sparkContext.defaultParallelism).write.mode(
        "overwrite").parquet(path)
    table = spark.read.parquet(path)
    return table, table.count()


def point_frame(spark, n: int, seed: int) -> pd.DataFrame:
    """fixture_points on the driver, renumbered 0..rows-1 in fixture order."""
    pdf = fixture_points(spark, n, seed, spark.sparkContext.defaultParallelism).toPandas()
    pdf = pdf.sort_values("point_id", ignore_index=True)
    pdf["point_id"] = np.arange(len(pdf), dtype=np.int64)
    return pdf


def hotspot_points(seed: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """(lat, lon) of n points of ``fixtures.image_point``; the seed goes into
    the ids it hashes."""
    pts = FX.image_point([f"s{seed}_{i}" for i in range(n)])
    return pts["lat"].to_numpy(), pts["lon"].to_numpy()


GPS_ERROR = (
    "location_gps must be a string with two comma-separated floats, "
    "each with at least 4 decimals, valid range."
)
TOKEN_ERROR = "Your token allocation has been exhausted"

# One planted row per row predicate, each breaking exactly one rule, with the
# reference's message for it.  P8 (4-dp rounding and range re-check) cannot fail
# on a row that passes P7; every valid row exercises it.
NEGATIVE_ROWS = [
    ("P6", "a" * 256, "prov", "28.5065,77.0739", "100", "",
     "snp_id must be at most 255 characters."),
    ("P6", "ok", "bad id!", "28.5065,77.0739", "100", "",
     "provider_id contains invalid characters."),
    ("P7", "ok", "prov", "28.506,77.0739", "100", "", GPS_ERROR),
    ("P7", "ok", "prov", "95.5065,77.0739", "100", "", GPS_ERROR),
    ("P9", "ok", "prov", "28.5065,77.0739", "", "",
     "Either drive_distance or drive_time must be provided and non-empty."),
    ("P10", "ok", "prov", "28.5065,77.0739", "abc", "",
     "drive_distance must be a valid number if present."),
    ("P11", "ok", "prov", "28.5065,77.0739", "-5", "",
     "drive_distance must be a positive number."),
    ("P11", "ok", "prov", "28.5065,77.0739", "100001", "",
     "drive_distance is unreasonably large."),
    ("P11", "ok", "prov", "28.5065,77.0739", "", "10001",
     "drive_time is unreasonably large."),
]

GOLDEN_ROWS = [  # the reference's backend/sample.csv rows
    ("sample_seller", "sample_provider", "28.5065162,77.073938", "500.5", ""),
    ("sample_seller", "sample_provider", "30.7135305,76.7454157", "", "20.5"),
]

def seller_upload(rng: np.random.Generator, n_valid: int, tag: str) -> pd.DataFrame:
    """One locations CSV: golden rows, the planted negative rows and n_valid
    seeded sellers, in a seeded order.  Column
    ``_expect`` holds the one error message a row must get ('' when valid)."""
    rows = [(s, p, g, d, t, "") for s, p, g, d, t in GOLDEN_ROWS]
    rows += [(s, p, g, d, t, msg) for _, s, p, g, d, t, msg in NEGATIVE_ROWS]
    # spread like the points: the background share uniform, the rest within
    # ~30 km of a hot spot picked by its weight
    weights = np.array([w for _, _, w in HOTSPOTS])
    centre = rng.choice(len(HOTSPOTS), n_valid, p=weights / weights.sum())
    background = rng.random(n_valid) < _BG_WEIGHT
    lat = np.where(background, rng.uniform(8.0, 34.0, n_valid),
                   np.array([HOTSPOTS[c][0] for c in centre]) + rng.normal(0.0, 0.3, n_valid))
    lon = np.where(background, rng.uniform(68.0, 92.0, n_valid),
                   np.array([HOTSPOTS[c][1] for c in centre]) + rng.normal(0.0, 0.3, n_valid))
    by_time = rng.random(n_valid) < 1.0 / 3.0
    dist = rng.integers(500, 5001, n_valid)
    minutes = rng.integers(5, 21, n_valid)
    for i in range(n_valid):
        rows.append((
            f"seller{i % 97}.com", f"provider{i % 7}", f"{lat[i]:.7f},{lon[i]:.7f}",
            "" if by_time[i] else str(dist[i]), str(minutes[i]) if by_time[i] else "", "",
        ))
    order = rng.permutation(len(rows))
    df = pd.DataFrame([rows[i] for i in order], columns=[
        "snp_id", "provider_id", "location_gps", "drive_distance", "drive_time", "_expect",
    ])
    df.insert(2, "location_id", [f"{tag}-{i}" for i in range(len(df))])
    return df
