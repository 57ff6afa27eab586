"""kNN join — points -> k nearest targets (polygon centroids) in one Arrow pass.

Distributed grid kNN (SURVEY.md §2.3 W4): the SMALL side (targets) is collected once
(at most ``BROADCAST_IDS_MAX`` rows), sorted into a numpy grid index keyed by
(tile row, tile column, target_id) at the caller's zoom and broadcast once; the HUGE
side (points) runs through ONE zero-shuffle ``mapInArrow`` pass that does the k-ring
expansion per Arrow batch in numpy (functions/nearest.py: ring rounds R = 2, 8, 32
under a km-exact resolution bound, then an exhaustive pass for stragglers).  A call
runs at most two Spark jobs — the target collect and the pass — however many rounds
its points need.  With at most ``_EXHAUSTIVE_MAX_TARGETS`` targets no grid is built
and every point takes the exhaustive pass: below a few hundred targets it is the
cheaper plan.

Also here: the distance range join (per-target grid replication) and the
cross-join + window brute force the tests compare against.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geojson_utility_spark.functions.nearest import (
    EARTH_CIRC_KM,
    SAFETY,
    knn_blocks,
    knn_index,
)
from geojson_utility_spark.functions.spark_geo import cell_expr, tile_xy_expr
from geojson_utility_spark.session import defer

DEFAULT_KNN_ZOOM = 11  # ~20 km tiles; targets-per-cell stays small
BROADCAST_IDS_MAX = 5_000_000  # targets knn_join may collect: tens of MB broadcast
_EXHAUSTIVE_MAX_TARGETS = 300  # at or below: the exhaustive pass only


def haversine_expr(lat1, lon1, lat2, lon2):
    """Great-circle km as a pure Catalyst expression (parity: functions/pip.haversine_km)."""
    rlat1, rlon1, rlat2, rlon2 = (F.radians(c) for c in (lat1, lon1, lat2, lon2))
    dlat = rlat2 - rlat1
    dlon = rlon2 - rlon1
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon / 2) * F.sin(dlon / 2)
    )
    return F.lit(2.0 * 6371.0088) * F.asin(F.sqrt(a))


def _replicated_index(
    targets: DataFrame, zoom: int, radius: int, radius_col: str
) -> DataFrame:
    """Each target copied into every cell within Chebyshev ``radius_col`` (<= ``radius``)
    of its own — the range join's per-latitude replication.  The offsets table is
    sized by the max radius and each target keeps only its own ring."""
    spark = targets.sparkSession
    offs = [
        (dx, dy)
        for dx in range(-radius, radius + 1)
        for dy in range(-radius, radius + 1)
    ]
    offsets = F.broadcast(spark.createDataFrame(pd.DataFrame(offs, columns=["dx", "dy"])))
    n = F.lit(1 << zoom).cast("long")
    tx, ty = tile_xy_expr(F.col("t_lat"), F.col("t_lon"), zoom)
    return (
        targets.withColumn("_tx", tx).withColumn("_ty", ty).crossJoin(offsets)
        .filter(
            (F.abs(F.col("dx")) <= F.col(radius_col))
            & (F.abs(F.col("dy")) <= F.col(radius_col))
        )
        .withColumn("_ry", F.col("_ty") + F.col("dy"))
        .filter((F.col("_ry") >= 0) & (F.col("_ry") < n))
        .withColumn(
            "cell",
            F.lit(zoom).cast("long") * F.lit(1 << 58).cast("long")
            + F.pmod(F.col("_tx") + F.col("dx"), n) * F.lit(1 << 29).cast("long")
            + F.col("_ry"),
        )
        .select("cell", "target_id", "t_lat", "t_lon")
    )


def knn_join(
    points: DataFrame,
    targets: DataFrame,
    k: int = 3,
    zoom: int = DEFAULT_KNN_ZOOM,
    point_id: str = "point_id",
    target_id: str = "target_id",
) -> DataFrame:
    """points(point_id, lat, lon) x targets(target_id, lat, lon)
    -> (point_id, target_id, dist_km, knn_rank), knn_rank in 1..min(k, M) by
    haversine, ties to the smaller target_id.  EXACT.

    One zero-shuffle ``mapInArrow`` pass over the points against one broadcast of
    the targets' grid index at ``zoom``: ring rounds R = 2, 8, 32, then the
    exhaustive pass (functions/nearest.py states the resolution bound).
    ``dist_km`` comes from numpy ``pip.haversine_km``, measured within 1e-12 km of
    the Catalyst ``haversine_expr``.

    A point or target with a null or NaN coordinate gets or gives no rows.  The
    targets are collected to the driver: more than ``BROADCAST_IDS_MAX`` of them
    raise ``ValueError``.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    tgt = targets.select(
        F.col(target_id).alias("target_id"),
        F.col("lat").cast("double").alias("lat"),
        F.col("lon").cast("double").alias("lon"),
    ).dropna(subset=["lat", "lon"])
    trows = tgt.limit(BROADCAST_IDS_MAX + 1).collect()
    if len(trows) > BROADCAST_IDS_MAX:
        raise ValueError(
            f"knn_join collects its targets to the driver: read {len(trows):,} rows "
            f"before stopping, over the bound of {BROADCAST_IDS_MAX:,}"
        )
    trows.sort(key=lambda r: r[0])
    tid_type = tgt.schema["target_id"].dataType
    ids = pa.array([r[0] for r in trows], type=to_arrow_type(tid_type))
    tlat = np.array([r[1] for r in trows], dtype=np.float64)
    tlon = np.array([r[2] for r in trows], dtype=np.float64)
    index = knn_index(tlat, tlon, zoom, grid=len(trows) > _EXHAUSTIVE_MAX_TARGETS)
    bc = points.sparkSession.sparkContext.broadcast((ids, index))
    defer(bc.unpersist)

    pts = points.select(
        F.col(point_id).alias("point_id"),
        F.col("lat").cast("double").alias("lat"),
        F.col("lon").cast("double").alias("lon"),
    )  # null or NaN points: dropped in the kernel, cheaper than a JVM dropna
    out_schema = (
        f"point_id {dict(pts.dtypes)['point_id']}, target_id {tid_type.simpleString()}, "
        "dist_km double, knn_rank int"
    )

    def kernel(it):
        ids, index = bc.value
        for batch in it:
            plat = batch.column("lat").to_numpy(zero_copy_only=False)
            plon = batch.column("lon").to_numpy(zero_copy_only=False)
            # each block's rows stream back to the JVM while the next one computes
            for row, tpos, dist, rank, _ in knn_blocks(plat, plon, index, k, zoom):
                yield pa.RecordBatch.from_arrays(
                    [
                        batch.column("point_id").take(row),
                        ids.take(tpos),
                        pa.array(dist),
                        pa.array(rank),
                    ],
                    ["point_id", "target_id", "dist_km", "knn_rank"],
                )

    return pts.mapInArrow(kernel, out_schema)


def within_distance_join(
    points: DataFrame,
    targets: DataFrame,
    radius_km: float,
    zoom: int | None = None,
    point_id: str = "point_id",
    target_id: str = "target_id",
) -> DataFrame:
    """Distance range join: every (point, target) pair with haversine <= radius_km.

    Grid replication without escalation: each target is replicated to every cell
    within a Chebyshev radius sized so NO qualifying pair can be missed, the huge
    point side joins once on its own cell (broadcast equi-join, zero shuffle of the
    point table), and the exact haversine filter prunes the candidates.

    Completeness bound (Mercator is conformal, so the local km-per-tile scale is
    ``EARTH_CIRC * cos(lat) / 2^z`` in BOTH axes): a target not replicated to a
    point's cell lies > (R-1) tile units away in projected space, hence
    > (R-1) * km_min great-circle km, where km_min uses the highest latitude the
    pair's region can touch (|t_lat| + radius as degrees + one tile) and the same
    SAFETY factor as knn_join for second-order projection effects.  Choosing
    R = ceil(radius / (SAFETY * km_min)) + 1 per target therefore guarantees every
    pair within radius_km is a candidate; exactness is pinned against the
    brute-force oracle in tests and the driver contract.

    zoom=None picks the zoom where an equator tile ~ radius (R stays ~2-4), and
    the finest auto zoom (18) for radius_km=0 (coincident pairs).  A negative,
    NaN or infinite radius raises ``ValueError`` before any Spark job.

    Polar domain: the Mercator tile grid ends at ±MAX_LAT (~85.05°); points
    poleward of it are clamped into the last tile row, where tile distance no
    longer bounds true distance.  Targets whose match region can contain such
    points (|t_lat| + radius as degrees >= MAX_LAT) are routed through an EXACT
    brute-force branch (broadcast nested-loop against the point table) instead
    of silently under-replicating — that population is tiny in any real corpus,
    so the branch stays cheap while the grid path keeps its completeness
    guarantee everywhere else (its per-target bound may clamp at MAX_LAT safely:
    no grid cell lies poleward of the last row).
    """
    import math

    if not (math.isfinite(radius_km) and radius_km >= 0.0):
        raise ValueError(f"radius_km must be a finite number >= 0, got {radius_km!r}")
    if zoom is None:
        zoom = 18 if radius_km == 0.0 else max(
            1, min(18, int(math.floor(math.log2(EARTH_CIRC_KM / radius_km))))
        )
    tile_deg = 360.0 / (1 << zoom)
    pts = points.select(
        F.col(point_id).alias("point_id"),
        F.col("lat").cast("double").alias("p_lat"),
        F.col("lon").cast("double").alias("p_lon"),
    ).withColumn("cell", cell_expr(F.col("p_lat"), F.col("p_lon"), zoom))
    all_tgt = targets.select(
        F.col(target_id).alias("target_id"),
        F.col("lat").cast("double").alias("t_lat"),
        F.col("lon").cast("double").alias("t_lon"),
    )
    # Routing: only targets whose MATCH REGION can contain points poleward of the
    # Mercator limit take the exact branch — those points are clamped into the
    # grid's last tile row, where tile distance no longer bounds true distance.
    # The criterion is |t_lat| + radius-as-degrees >= MAX_LAT with NO tile term:
    # the per-target bound below may clamp its cos() at MAX_LAT safely, because
    # no grid cell lies poleward of the last row (km-per-tile there is a valid
    # lower bound for every cell a sub-MAX_LAT point can occupy).  Including the
    # (auto-zoom-dependent) tile width in the routing test would shunt whole
    # mid-latitude corpora into the O(N*M) exact branch at large radii.
    from geojson_utility_spark.functions.cells import MAX_LAT

    radius_deg = radius_km / 111.0
    is_polar = F.abs(F.col("t_lat")) + F.lit(radius_deg) >= F.lit(MAX_LAT)
    tgt = all_tgt.filter(~is_polar)
    polar = all_tgt.filter(is_polar)
    lat_reach = F.least(
        F.lit(MAX_LAT), F.abs(F.col("t_lat")) + F.lit(radius_deg + tile_deg)
    )
    km_min = F.lit(EARTH_CIRC_KM / (1 << zoom)) * F.cos(F.radians(lat_reach))
    r_t = F.ceil(F.lit(radius_km) / (F.lit(SAFETY) * km_min)) + F.lit(1)
    # driver-side R_max bounds the offsets table (targets are the small side)
    dist = haversine_expr(
        F.col("p_lat"), F.col("p_lon"), F.col("t_lat"), F.col("t_lon")
    )
    parts = []
    tgt_r = tgt.withColumn("_r", r_t.cast("int"))
    # ONE probe job over the small target side: grid radius max + polar presence
    stats = all_tgt.agg(
        F.max(F.when(~is_polar, r_t.cast("int"))).alias("_rmax"),
        F.max(is_polar.cast("int")).alias("_haspolar"),
    ).first()
    r_max, has_polar = stats["_rmax"], bool(stats["_haspolar"] or 0)
    if r_max is not None:
        index = _replicated_index(tgt_r, zoom, int(r_max), radius_col="_r")
        parts.append(
            pts.join(F.broadcast(index), "cell", "inner")
            .withColumn("dist_km", dist)
            .filter(F.col("dist_km") <= radius_km)
            .select("point_id", "target_id", "dist_km")
        )
    # exact branch for the (rare) targets whose match region crosses the Mercator
    # limit: broadcast nested-loop against the full point side
    if has_polar:
        parts.append(
            pts.crossJoin(F.broadcast(polar))
            .withColumn("dist_km", dist)
            .filter(F.col("dist_km") <= radius_km)
            .select("point_id", "target_id", "dist_km")
        )
    if not parts:
        tid_type = dict(all_tgt.dtypes)["target_id"]
        return pts.limit(0).select(
            "point_id",
            F.lit(None).cast(tid_type).alias("target_id"),
            F.lit(None).cast("double").alias("dist_km"),
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def knn_brute_force(
    points: DataFrame,
    targets: DataFrame,
    k: int = 3,
    point_id: str = "point_id",
    target_id: str = "target_id",
) -> DataFrame:
    """Cross-join + window baseline (the JVM-only oracle for tests): exact, O(N*M).
    Null or NaN coordinates get and give no rows, as in :func:`knn_join`."""
    pts = points.select(
        F.col(point_id).alias("point_id"),
        F.col("lat").alias("p_lat"),
        F.col("lon").alias("p_lon"),
    ).dropna(subset=["p_lat", "p_lon"])
    tgt = targets.select(
        F.col(target_id).alias("target_id"),
        F.col("lat").alias("t_lat"),
        F.col("lon").alias("t_lon"),
    ).dropna(subset=["t_lat", "t_lon"])
    dist = haversine_expr(F.col("p_lat"), F.col("p_lon"), F.col("t_lat"), F.col("t_lon"))
    w = Window.partitionBy("point_id").orderBy(dist.asc(), F.col("target_id").asc())
    return (
        pts.crossJoin(F.broadcast(tgt))
        .withColumn("dist_km", dist)
        .withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select("point_id", "target_id", "dist_km", "knn_rank")
    )
