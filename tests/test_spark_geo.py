"""Parity: Catalyst cell expressions == numpy cells == DuckDB SQL text."""

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from geojson_utility_spark.functions import cells as C
from geojson_utility_spark.functions.spark_geo import cell_expr, cell_sql


def _random_points(n=5000, seed=7):
    rng = np.random.default_rng(seed)
    return pd.DataFrame(
        {
            "lat": rng.uniform(-84.9, 84.9, n),
            "lon": rng.uniform(-179.9, 179.9, n),
        }
    )


def test_cell_expr_matches_numpy(spark):
    pdf = _random_points()
    df = spark.createDataFrame(pdf)
    for zoom in (5, 13, 17):
        got = (
            df.select(cell_expr(F.col("lat"), F.col("lon"), zoom).alias("cell"))
            .toPandas()["cell"]
            .to_numpy()
        )
        want = C.latlng_to_cell(pdf["lat"].to_numpy(), pdf["lon"].to_numpy(), zoom)
        np.testing.assert_array_equal(got, want)


def test_cell_sql_matches_numpy_via_duckdb():
    pdf = _random_points(5000, seed=11)
    con = duckdb.connect()
    con.register("pts", pdf)
    for zoom in (13, 17):
        got = (
            con.execute(f"SELECT {cell_sql('lat', 'lon', zoom)} AS cell FROM pts")
            .fetchdf()["cell"]
            .to_numpy()
        )
        want = C.latlng_to_cell(pdf["lat"].to_numpy(), pdf["lon"].to_numpy(), zoom)
        np.testing.assert_array_equal(got, want)
