"""The image-point fixture is skewed: hot polygons get many times the median's
candidates.

About 30% of its points sit in the Delhi blob, so the polygons over it see
candidate groups far larger than the median.  The join's refine is map-only, so
its work follows partition size, not per-polygon load; the tests that feed it
urban hot cells rely on this fixture property, and this module pins it.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geojson_utility_spark import fixtures as FX
from geojson_utility_spark.functions import cells as C
from geojson_utility_spark.operators.spatial_join import normalize_polygons, polygon_cover


@pytest.fixture(scope="module")
def candidates(spark):
    pts = FX.image_point([f"img_{i:012d}" for i in range(20000)])
    polys = spark.createDataFrame(FX.make_polygons(40)[["polygon_id", "geojson"]])
    norm = normalize_polygons(polys)
    cover = polygon_cover(norm, zoom=13, compact=True).cache()
    zooms = sorted(r["cell_zoom"] for r in cover.select("cell_zoom").distinct().collect())
    fine = C.latlng_to_cell(pts["lat"].to_numpy(), pts["lon"].to_numpy(), 13)
    probe = spark.createDataFrame(
        pd.DataFrame({"_cell": np.concatenate([C.cell_to_parent(fine, z) for z in zooms])})
    )
    return probe.join(
        F.broadcast(cover.select("polygon_id", F.col("cell").alias("_cell"))),
        "_cell",
    ).cache()


def test_candidate_skew_exists(candidates):
    sizes = candidates.groupBy("polygon_id").count().toPandas()["count"]
    assert sizes.max() > 4 * sizes.median(), "fixture should be skewed (hot polygons)"
