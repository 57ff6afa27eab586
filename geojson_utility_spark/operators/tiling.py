"""Raster-tile operators: XYZ/quadkey assignment + rasterized polygon masks.

SURVEY.md §7 M5 / north_rule "raster-tile (XYZ/quadkey) assignment for rasterized
polygon masks": assign every point/image to its map tile (pure Catalyst expression —
zero Python on the big side), and rasterize each polygon into per-tile boolean masks
(Arrow-batched numpy PIP over the tile's pixel grid).
"""

from __future__ import annotations

import json
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geojson_utility_spark.functions import cells as C
from geojson_utility_spark.functions import pip as P
from geojson_utility_spark.functions.spark_geo import cell_expr, tile_xy_expr


def assign_tiles(
    points: DataFrame, zoom: int, lat: str = "lat", lon: str = "lon"
) -> DataFrame:
    """Adds tile_z / tile_x / tile_y / tile_cell columns — pure expressions."""
    x, y = tile_xy_expr(F.col(lat), F.col(lon), zoom)
    return (
        points.withColumn("tile_z", F.lit(zoom))
        .withColumn("tile_x", x)
        .withColumn("tile_y", y)
        .withColumn("tile_cell", cell_expr(F.col(lat), F.col(lon), zoom))
    )


@F.pandas_udf(T.StringType())
def quadkey_udf(cell: pd.Series) -> pd.Series:
    """Bing quadkey string for a packed cell id (Arrow-batched)."""
    qk = C.cell_to_quadkey(cell.to_numpy(np.int64))
    return pd.Series(qk, dtype="object")


TILE_MASK_SCHEMA = T.StructType(
    [
        T.StructField("polygon_id", T.StringType()),
        T.StructField("part_idx", T.IntegerType()),
        T.StructField("tile_cell", T.LongType()),
        T.StructField("tile_z", T.IntegerType()),
        T.StructField("tile_x", T.LongType()),
        T.StructField("tile_y", T.LongType()),
        T.StructField("mask_size", T.IntegerType()),
        T.StructField("coverage", T.DoubleType()),  # fraction of pixels inside
        T.StructField("mask", T.BinaryType()),  # row-major packed bits
    ]
)


def rasterize_polygons(
    polygons_norm: DataFrame, zoom: int, mask_size: int = 64
) -> DataFrame:
    """For every valid normalized polygon part (operators/spatial_join.normalize_polygons
    output), emit one row per covering tile with a mask_size x mask_size bitmask of
    pixel-center containment (np.packbits row-major): one mask per part and tile.

    Pixel grid: tile rect in (lon, lat), pixel centers at (i+0.5)/mask_size — matches
    XYZ raster-tile convention of sampling at pixel centers.  Each polygon builds one
    ``RingKernel`` and takes its tiles' bounds in one vectorized ``cell_bounds``; each
    tile is then ray-cast one pixel row at a time (``RingKernel.covers_grid``): a row
    computes its crossings only with the ring edges that straddle its latitude.
    """
    ii = (np.arange(mask_size) + 0.5) / mask_size

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for pid, part, rj in zip(pdf["polygon_id"], pdf["part_idx"], pdf["ring_json"]):
                if rj is None:
                    continue
                ring = np.asarray(json.loads(rj), dtype=np.float64)
                kern = P.RingKernel(ring)
                cover = C.polygon_to_cells(ring, zoom)
                cols = (cover, *C.unpack_cell(cover), *C.cell_bounds(cover))
                for cell, z, x, y, w, s, e, n in zip(*(c.tolist() for c in cols)):
                    lons = w + ii * (e - w)
                    lats = n + ii * (s - n)  # row 0 = north (raster convention)
                    inside = kern.covers_grid(lons, lats)
                    rows.append(
                        (
                            pid,
                            part,
                            cell,
                            z,
                            x,
                            y,
                            mask_size,
                            float(inside.mean()),
                            np.packbits(inside, axis=None).tobytes(),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "polygon_id", "part_idx", "tile_cell", "tile_z", "tile_x", "tile_y",
                    "mask_size", "coverage", "mask",
                ],
            )

    return polygons_norm.filter(F.col("poly_errors") == "").mapInPandas(
        batches, TILE_MASK_SCHEMA
    )


def unpack_mask(mask: bytes, mask_size: int) -> np.ndarray:
    """Inverse of the packed bitmask (tests / consumers)."""
    return (
        np.unpackbits(np.frombuffer(mask, dtype=np.uint8))[: mask_size * mask_size]
        .reshape(mask_size, mask_size)
        .astype(bool)
    )
