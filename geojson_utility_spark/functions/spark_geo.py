"""Spatial cell assignment as pure Catalyst column expressions (JVM-side, codegen).

The point->cell mapping (Web-Mercator tile arithmetic, see functions/cells.py for the
layout) is expressible entirely with Spark built-ins — ``radians/tan/cos/ln/floor`` and
bitwise ops — so the tiling, the distance range join and the cell heat stats assign
cells inside whole-stage codegen: no UDF, no Arrow transfer, full predicate pushdown
upstream.

``cell_expr`` here and ``cells.latlng_to_cell`` in numpy implement the same function;
``tests/test_spark_geo.py`` pins their equality on random points.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from geojson_utility_spark.functions.cells import MAX_LAT

_Z_SHIFT = 58
_X_SHIFT = 29


def tile_xy_expr(lat: Column, lon: Column, zoom: int) -> tuple[Column, Column]:
    """(x, y) tile indices at ``zoom`` — pure math expressions."""
    n = F.lit(1 << zoom).cast("long")
    lat_c = F.greatest(F.lit(-MAX_LAT), F.least(F.lit(MAX_LAT), lat.cast("double")))
    lon_c = lon.cast("double")
    xf = (lon_c + F.lit(180.0)) / F.lit(360.0) * n
    lat_rad = F.radians(lat_c)
    yf = (
        (F.lit(1.0) - F.log(F.tan(lat_rad) + F.lit(1.0) / F.cos(lat_rad)) / F.lit(float(__import__("math").pi)))
        / F.lit(2.0)
        * n
    )
    x = F.greatest(F.lit(0).cast("long"), F.least(n - 1, F.floor(xf).cast("long")))
    y = F.greatest(F.lit(0).cast("long"), F.least(n - 1, F.floor(yf).cast("long")))
    return x, y


def cell_expr(lat: Column, lon: Column, zoom: int) -> Column:
    """Packed int64 cell id at ``zoom`` (same layout as cells.pack_cell)."""
    x, y = tile_xy_expr(lat, lon, zoom)
    return (
        F.lit(zoom).cast("long") * F.lit(1 << _Z_SHIFT).cast("long")
        + x * F.lit(1 << _X_SHIFT).cast("long")
        + y
    )


def cell_sql(lat_sql: str, lon_sql: str, zoom: int) -> str:
    """The identical cell computation as ANSI SQL text — lets DuckDB oracles verify
    tile/cell assignment value-for-value (driver correctness gate)."""
    n = 1 << zoom
    lat_c = f"greatest(-{MAX_LAT}, least({MAX_LAT}, cast({lat_sql} as double)))"
    x = (
        f"greatest(0, least({n - 1}, cast(floor((cast({lon_sql} as double) + 180.0)"
        f" / 360.0 * {n}) as bigint)))"
    )
    y = (
        f"greatest(0, least({n - 1}, cast(floor((1.0 - ln(tan(radians({lat_c}))"
        f" + 1.0 / cos(radians({lat_c}))) / pi()) / 2.0 * {n}) as bigint)))"
    )
    return f"(cast({zoom} as bigint) * {1 << _Z_SHIFT} + {x} * {1 << _X_SHIFT} + {y})"
