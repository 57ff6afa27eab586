"""kNN join via grid-ring expansion — points -> k nearest targets (polygon centroids).

Distributed grid kNN (SURVEY.md §2.3 W4): the SMALL side (targets) is replicated to
every cell within Chebyshev radius R of its own cell and broadcast; the HUGE side
(points) joins once on its own cell id — a single broadcast equi-join, no expansion and
no shuffle of the point table.  Points whose k-th candidate is provably the true k-th
(distance bound below) resolve; the rest — a geometrically shrinking minority living in
sparse regions — escalate to 4R.  Driver loop runs O(log max_R) rounds.

Exactness bound: tiles are unit squares in projected (Web-Mercator tile-unit) space.
A target NOT replicated to the point's cell sits at Chebyshev cell-distance > R, hence
at projected distance > (R - 1) tile units from any point in that cell (the point may
sit on its cell edge: > R-1, not R).  So when a point's k-th nearest candidate lies
within projected distance (R - 1) * SAFETY, every true top-k member is already in the
candidate set.  SAFETY (default 0.95) absorbs the second-order latitude variation of
the Mercator scale factor across the ring span, since final ranking uses true haversine
distance while the completeness bound is projected.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geojson_utility_spark.functions.spark_geo import cell_expr, tile_xy_expr

DEFAULT_KNN_ZOOM = 11  # ~20 km tiles; targets-per-cell stays small
SAFETY = 0.95


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
    targets: DataFrame, zoom: int, radius: int, radius_col: str | None = None
) -> DataFrame:
    """Each target copied into every cell within Chebyshev ``radius`` of its own.

    ``radius_col``: optional per-target radius column (<= ``radius``) — the offsets
    table is sized by the max radius and each target keeps only its own ring (the
    range join's per-latitude replication).  One cell-packing implementation serves
    both kNN and the range join, so the layout can never drift between them.
    """
    spark = targets.sparkSession
    offs = [
        (dx, dy)
        for dx in range(-radius, radius + 1)
        for dy in range(-radius, radius + 1)
    ]
    offsets = F.broadcast(spark.createDataFrame(pd.DataFrame(offs, columns=["dx", "dy"])))
    n = F.lit(1 << zoom).cast("long")
    tx, ty = tile_xy_expr(F.col("t_lat"), F.col("t_lon"), zoom)
    rep = targets.withColumn("_tx", tx).withColumn("_ty", ty).crossJoin(offsets)
    if radius_col is not None:
        rep = rep.filter(
            (F.abs(F.col("dx")) <= F.col(radius_col))
            & (F.abs(F.col("dy")) <= F.col(radius_col))
        )
    rep = (
        rep.withColumn("_ry", F.col("_ty") + F.col("dy"))
        .filter((F.col("_ry") >= 0) & (F.col("_ry") < n))
        .withColumn(
            "cell",
            F.lit(zoom).cast("long") * F.lit(1 << 58).cast("long")
            + F.pmod(F.col("_tx") + F.col("dx"), n) * F.lit(1 << 29).cast("long")
            + F.col("_ry"),
        )
        .select("cell", "target_id", "t_lat", "t_lon")
    )
    return rep


EARTH_CIRC_KM = 40075.016686


def knn_join(
    points: DataFrame,
    targets: DataFrame,
    k: int = 3,
    zoom: int = DEFAULT_KNN_ZOOM,
    initial_radius: int = 2,
    max_radius: int = 32,
    point_id: str = "point_id",
    target_id: str = "target_id",
    brute_force_threshold: int = 300,
) -> DataFrame:
    """points(point_id, lat, lon) x targets(target_id, lat, lon)
    -> (point_id, target_id, dist_km, knn_rank), knn_rank in 1..k by haversine. EXACT.

    Resolution bound (latitude-aware, in km): a target not replicated to the point's
    cell lies > (R-1) tile units away in projected space; one tile unit is worth at
    least ``(EARTH_CIRC/2^z) * cos(lat_reach)`` km anywhere within the probe region,
    where ``lat_reach = |p_lat| + (R+1) * 360/2^z`` caps the highest latitude the
    region can touch (mercator tiles shrink toward the poles, so the minimum km/unit
    sits at the region's latitude extreme).  SAFETY absorbs projection-vs-great-circle
    second-order effects.  Points still unresolved at ``max_radius`` — a geometrically
    shrinking set living in target-sparse regions — are finished EXACTLY with a
    brute-force join against the full (small) target table, so the result matches the
    brute-force oracle for every point.
    """
    # optimizer rule (the broadcast-threshold analog): with a small target set the
    # grid escalation's per-round jobs cost more than one zero-shuffle Arrow pass —
    # brute force IS the optimal plan below a few hundred targets.  ONE probe job:
    # the limit(threshold+1) collect doubles as the kernel's target list, so the
    # small-target path never runs a separate count() + collect().
    if brute_force_threshold > 0:
        sample = (
            targets.select(target_id, "lat", "lon")
            .limit(brute_force_threshold + 1)
            .collect()
        )
        if len(sample) <= brute_force_threshold:
            return knn_brute_force_arrow(
                points,
                targets,
                k=k,
                point_id=point_id,
                target_id=target_id,
                _collected_targets=sample,
            )

    pts = points.select(
        F.col(point_id).alias("point_id"),
        F.col("lat").alias("p_lat"),
        F.col("lon").alias("p_lon"),
    ).withColumn("cell", cell_expr(F.col("p_lat"), F.col("p_lon"), zoom))
    tgt = targets.select(
        F.col(target_id).alias("target_id"),
        F.col("lat").alias("t_lat"),
        F.col("lon").alias("t_lon"),
    )

    dist = haversine_expr(F.col("p_lat"), F.col("p_lon"), F.col("t_lat"), F.col("t_lon"))
    w = Window.partitionBy("point_id").orderBy(dist.asc(), F.col("target_id").asc())
    tile_deg = 360.0 / (1 << zoom)
    km_per_unit_at = lambda lat_reach: (  # noqa: E731
        F.lit(EARTH_CIRC_KM / (1 << zoom)) * F.cos(F.radians(lat_reach))
    )

    # Escalation bookkeeping is IDS-ONLY (the round-2 checkpoint diet): each round
    # eagerly checkpoints just the UNRESOLVED point ids — a geometrically shrinking
    # minority — never the full point rows and never the k*N ranked candidates.
    # Round r+1 rebuilds its input as pts SEMI JOIN undone_ids (broadcast when the
    # id set is small, which is the normal case after round 1), so lineage stays
    # one-scan-deep without writing the whole table to executor storage at 10^12
    # points.  Cost model: each round's candidate window is computed twice (once
    # driving the id checkpoint, once when the final union is consumed) — a
    # broadcast equi-join + keyed window off the scan, which is far cheaper at
    # scale than materializing k*N result rows to storage and reading them back.
    BROADCAST_IDS_MAX = 5_000_000  # ids-only broadcast stays tens of MB
    unresolved = pts
    resolved_parts: list[DataFrame] = []
    radius = initial_radius
    while radius <= max_radius:
        index = _replicated_index(tgt, zoom, radius)
        cand = unresolved.join(F.broadcast(index), "cell", "inner")
        ranked = (
            cand.withColumn("dist_km", dist)
            .withColumn("knn_rank", F.row_number().over(w))
            .filter(F.col("knn_rank") <= k)
        )
        kth = ranked.groupBy("point_id").agg(
            F.count("*").alias("_n"),
            F.max("dist_km").alias("_kth_km"),
            F.first(F.abs(F.col("p_lat"))).alias("_abs_lat"),
        )
        lat_reach_kth = F.least(
            F.lit(85.0), F.col("_abs_lat") + F.lit((radius + 1) * tile_deg)
        )
        bound_kth = (
            F.lit(float(radius - 1)) * km_per_unit_at(lat_reach_kth) * F.lit(SAFETY)
        )
        done_ids = kth.filter((F.col("_n") >= k) & (F.col("_kth_km") <= bound_kth))
        undone_ids = (
            unresolved.select("point_id")
            .join(done_ids.select("point_id"), "point_id", "left_anti")
            .localCheckpoint(eager=True)
        )
        n_undone = undone_ids.count()
        undone_small = (
            F.broadcast(undone_ids) if n_undone <= BROADCAST_IDS_MAX else undone_ids
        )
        # done == not-undone within this round's candidate set
        resolved_parts.append(
            ranked.join(undone_small, "point_id", "left_anti").select(
                "point_id", "target_id", "dist_km", "knn_rank"
            )
        )
        if n_undone == 0:
            unresolved = None
            break
        unresolved = pts.join(undone_small, "point_id", "left_semi")
        radius *= 4

    # loop invariant: unresolved is None iff the last round's n_undone was 0, so
    # a surviving frame is known non-empty — no extra probe job needed here
    if unresolved is not None:
        # exact fallback for target-sparse stragglers: brute force vs all targets
        fallback = (
            unresolved.crossJoin(F.broadcast(tgt))
            .withColumn("dist_km", dist)
            .withColumn("knn_rank", F.row_number().over(w))
            .filter(F.col("knn_rank") <= k)
            .select("point_id", "target_id", "dist_km", "knn_rank")
        )
        resolved_parts.append(fallback)

    out = resolved_parts[0]
    for part in resolved_parts[1:]:
        out = out.unionByName(part)
    return out


def within_distance_join(
    points: DataFrame,
    targets: DataFrame,
    radius_km: float,
    zoom: int | None = None,
    point_id: str = "point_id",
    target_id: str = "target_id",
) -> DataFrame:
    """Distance range join: every (point, target) pair with haversine <= radius_km.

    The grid-replication shape of :func:`knn_join`, without escalation: each target
    is replicated to every cell within a Chebyshev radius sized so NO qualifying
    pair can be missed, the huge point side joins once on its own cell (broadcast
    equi-join, zero shuffle of the point table), and the exact haversine filter
    prunes the candidates.

    Completeness bound (Mercator is conformal, so the local km-per-tile scale is
    ``EARTH_CIRC * cos(lat) / 2^z`` in BOTH axes): a target not replicated to a
    point's cell lies > (R-1) tile units away in projected space, hence
    > (R-1) * km_min great-circle km, where km_min uses the highest latitude the
    pair's region can touch (|t_lat| + radius as degrees + one tile) and the same
    SAFETY factor as knn_join for second-order projection effects.  Choosing
    R = ceil(radius / (SAFETY * km_min)) + 1 per target therefore guarantees every
    pair within radius_km is a candidate; exactness is pinned against the
    brute-force oracle in tests and the driver contract.

    zoom=None picks the zoom where an equator tile ~ radius (R stays ~2-4).

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

    if zoom is None:
        zoom = max(1, min(18, int(math.floor(math.log2(EARTH_CIRC_KM / radius_km)))))
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


def knn_brute_force_arrow(
    points: DataFrame,
    targets: DataFrame,
    k: int = 3,
    point_id: str = "point_id",
    target_id: str = "target_id",
    block: int = 8192,
    _collected_targets: list | None = None,
) -> DataFrame:
    """Exact brute-force kNN as ONE zero-shuffle ``mapInArrow`` pass.

    The window formulation (``knn_brute_force``) shuffles the full N x M candidate
    cross product on point_id even though every point's candidates are born in the
    same partition; this kernel keeps them there — each Arrow batch computes the
    block x M haversine matrix in numpy and emits k rows per point directly.
    Ordering parity: targets are pre-sorted by target_id, so a STABLE argsort on
    distance breaks ties by target_id exactly like the (dist asc, target_id asc)
    window order.  Blocks bound the point x target temporaries (8192 x M x 8 B)
    inside cache, same discipline as functions/pip.py.
    """
    import numpy as np

    from geojson_utility_spark.functions.pip import haversine_km

    spark = points.sparkSession
    trows = sorted(
        (
            r
            for r in (
                _collected_targets
                if _collected_targets is not None
                else targets.select(target_id, "lat", "lon").collect()
            )
            # null coordinates cannot be ranked — skip, matching the grid path
            # (cell_expr yields null -> the row never joins)
            if r[1] is not None and r[2] is not None
        ),
        key=lambda r: r[0],
    )
    tids = [r[0] for r in trows]
    tlat = np.asarray([r[1] for r in trows], dtype=np.float64)
    tlon = np.asarray([r[2] for r in trows], dtype=np.float64)
    bc = spark.sparkContext.broadcast((tids, tlat, tlon))

    pts = points.select(
        F.col(point_id).alias("point_id"),
        F.col("lat").cast("double").alias("p_lat"),
        F.col("lon").cast("double").alias("p_lon"),
    )
    pid_type = dict(pts.dtypes)["point_id"]
    tid_type = dict(targets.select(target_id).dtypes)[target_id]
    out_schema = (
        f"point_id {pid_type}, target_id {tid_type}, dist_km double, knn_rank int"
    )

    def kernel(it):
        import pyarrow as pa

        ids, la, lo = bc.value
        m = len(ids)
        if m == 0:
            return
        kk = min(k, m)
        tid_arr = pa.array(ids)
        ranks = np.tile(np.arange(1, kk + 1, dtype=np.int32), block)
        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            plat = batch.column("p_lat").to_numpy(zero_copy_only=False)
            plon = batch.column("p_lon").to_numpy(zero_copy_only=False)
            for s in range(0, n, block):
                e = min(s + block, n)
                b = e - s
                d = haversine_km(
                    plat[s:e, None], plon[s:e, None], la[None, :], lo[None, :]
                )
                # stable sort + id-sorted targets == (dist asc, target_id asc)
                order = np.argsort(d, axis=1, kind="stable")[:, :kk]
                rows = np.repeat(np.arange(s, e, dtype=np.int64), kk)
                flat_t = order.reshape(-1)
                yield pa.RecordBatch.from_arrays(
                    [
                        batch.column("point_id").take(pa.array(rows)),
                        tid_arr.take(pa.array(flat_t)),
                        pa.array(d[np.repeat(np.arange(b), kk), flat_t]),
                        pa.array(ranks[: b * kk]),
                    ],
                    ["point_id", "target_id", "dist_km", "knn_rank"],
                )

    return pts.mapInArrow(kernel, out_schema)


def knn_brute_force(
    points: DataFrame,
    targets: DataFrame,
    k: int = 3,
    point_id: str = "point_id",
    target_id: str = "target_id",
) -> DataFrame:
    """Cross-join + window baseline (the JVM-only oracle for tests): exact, O(N*M)."""
    pts = points.select(
        F.col(point_id).alias("point_id"),
        F.col("lat").alias("p_lat"),
        F.col("lon").alias("p_lon"),
    )
    tgt = targets.select(
        F.col(target_id).alias("target_id"),
        F.col("lat").alias("t_lat"),
        F.col("lon").alias("t_lon"),
    )
    dist = haversine_expr(F.col("p_lat"), F.col("p_lon"), F.col("t_lat"), F.col("t_lon"))
    w = Window.partitionBy("point_id").orderBy(dist.asc(), F.col("target_id").asc())
    return (
        pts.crossJoin(F.broadcast(tgt))
        .withColumn("dist_km", dist)
        .withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select("point_id", "target_id", "dist_km", "knn_rank")
    )
