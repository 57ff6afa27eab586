"""kNN grid join vs brute-force oracle; raster tiling vs PIP oracle."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geojson_utility_spark import fixtures as FX
from geojson_utility_spark.operators import knn as K
from geojson_utility_spark.operators import spatial_join as SJ
from geojson_utility_spark.operators import tiling as TL


@pytest.fixture(scope="module")
def knn_data(spark):
    pts = FX.image_point([f"img_{i:012d}" for i in range(800)])
    polys = FX.make_polygons(40)
    pts_df = spark.createDataFrame(pts).withColumnRenamed("image_id", "point_id")
    tgt_df = spark.createDataFrame(
        polys[["polygon_id", "centroid_lat", "centroid_lon"]].rename(
            columns={"polygon_id": "target_id", "centroid_lat": "lat", "centroid_lon": "lon"}
        )
    )
    return pts_df, tgt_df


def test_knn_matches_brute_force(spark, knn_data, monkeypatch):
    # force the ring rounds: 40 targets would otherwise take the exhaustive pass
    monkeypatch.setattr(K, "_EXHAUSTIVE_MAX_TARGETS", 0)
    pts_df, tgt_df = knn_data
    k = 3
    got = K.knn_join(pts_df, tgt_df, k=k).toPandas()
    want = K.knn_brute_force(pts_df, tgt_df, k=k).toPandas()
    got_m = {(r.point_id, r.knn_rank): r.target_id for r in got.itertuples()}
    want_m = {(r.point_id, r.knn_rank): r.target_id for r in want.itertuples()}
    assert len(got_m) == len(want_m)
    diffs = {k_ for k_ in want_m if got_m.get(k_) != want_m[k_]}
    assert not diffs, f"{len(diffs)} rank mismatches, e.g. {sorted(diffs)[:5]}"


def test_knn_k1_and_large_k(spark, knn_data, monkeypatch):
    monkeypatch.setattr(K, "_EXHAUSTIVE_MAX_TARGETS", 0)
    pts_df, tgt_df = knn_data
    pts_small = pts_df.limit(100)
    for k in (1, 10):
        got = K.knn_join(pts_small, tgt_df, k=k).toPandas()
        want = K.knn_brute_force(pts_small, tgt_df, k=k).toPandas()
        m_g = {(r.point_id, r.knn_rank): r.target_id for r in got.itertuples()}
        m_w = {(r.point_id, r.knn_rank): r.target_id for r in want.itertuples()}
        assert m_g == m_w


def test_assign_tiles_and_quadkey(spark):
    pts = FX.image_point([f"img_{i:012d}" for i in range(200)])
    df = TL.assign_tiles(spark.createDataFrame(pts), zoom=13)
    out = df.withColumn("qk", TL.quadkey_udf(F.col("tile_cell"))).toPandas()
    from geojson_utility_spark.functions import cells as C

    want_cells = C.latlng_to_cell(pts["lat"].to_numpy(), pts["lon"].to_numpy(), 13)
    np.testing.assert_array_equal(out["tile_cell"].to_numpy(), want_cells)
    assert (out["qk"].str.len() == 13).all()
    np.testing.assert_array_equal(
        C.quadkey_to_cell(out["qk"].tolist()), want_cells
    )


def test_rasterize_masks_match_pip(spark):
    import json

    from geojson_utility_spark.functions import geometry as G
    from geojson_utility_spark.functions import pip as P
    from geojson_utility_spark.functions import cells as C

    polys = FX.make_polygons(8)
    norm = SJ.normalize_polygons(spark.createDataFrame(polys[["polygon_id", "geojson"]]))
    masks = TL.rasterize_polygons(norm, zoom=12, mask_size=16).toPandas()
    assert len(masks) > 0
    checked = 0
    for r in masks.itertuples():
        if checked >= 5:
            break
        ring = np.asarray(
            json.loads(
                norm.filter(F.col("polygon_id") == r.polygon_id)
                .select("ring_json").collect()[0][0]
            )
        )
        grid = TL.unpack_mask(r.mask, r.mask_size)
        w, s, e, n = (float(v) for v in C.cell_bounds(np.int64(r.tile_cell)))
        ii = (np.arange(r.mask_size) + 0.5) / r.mask_size
        glon, glat = np.meshgrid(w + ii * (e - w), n + ii * (s - n))
        want = P.points_in_polygon(glon.ravel(), glat.ravel(), [ring]).reshape(
            r.mask_size, r.mask_size
        )
        np.testing.assert_array_equal(grid, want)
        assert abs(r.coverage - want.mean()) < 1e-12
        checked += 1
    assert checked == 5
    # every covering tile of each polygon appears
    pid0 = masks["polygon_id"].iloc[0]
    ring0 = np.asarray(
        json.loads(norm.filter(F.col("polygon_id") == pid0).select("ring_json").collect()[0][0])
    )
    want_tiles = set(C.polygon_to_cells(ring0, 12).tolist())
    got_tiles = set(masks[masks["polygon_id"] == pid0]["tile_cell"])
    assert got_tiles == want_tiles


def test_knn_arrow_matches_window_brute_force(spark, knn_data):
    """knn_join's exhaustive pass (40 targets, under the cutover) must reproduce the
    JVM window formulation exactly: same (point, rank) -> target assignment,
    distances equal to float tolerance (numpy vs JVM libm)."""
    import numpy as np

    pts_df, tgt_df = knn_data
    k = 3
    got = K.knn_join(pts_df, tgt_df, k=k).toPandas()
    want = K.knn_brute_force(pts_df, tgt_df, k=k).toPandas()
    got_m = {(r.point_id, r.knn_rank): r.target_id for r in got.itertuples()}
    want_m = {(r.point_id, r.knn_rank): r.target_id for r in want.itertuples()}
    assert got_m == want_m
    gd = got.sort_values(["point_id", "knn_rank"])["dist_km"].to_numpy()
    wd = want.sort_values(["point_id", "knn_rank"])["dist_km"].to_numpy()
    assert np.allclose(gd, wd, rtol=1e-12, atol=1e-9)
    # plan shape: no exchange — the kernel emits final rows from the scan partition
    plan = K.knn_join(pts_df, tgt_df, k=k)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Window" not in plan


def test_knn_arrow_k_exceeds_targets(spark, knn_data):
    pts_df, tgt_df = knn_data
    n_tgt = tgt_df.count()
    got = K.knn_join(pts_df.limit(5), tgt_df, k=n_tgt + 10).toPandas()
    assert set(got["knn_rank"].unique()) == set(range(1, n_tgt + 1))


def test_knn_join_runs_two_jobs(spark, knn_data, monkeypatch):
    """One job collects the targets, one runs the Arrow pass — however many ring
    rounds the points need."""
    monkeypatch.setattr(K, "_EXHAUSTIVE_MAX_TARGETS", 0)
    pts_df, tgt_df = knn_data
    sc = spark.sparkContext
    sc.setJobGroup("knn_join_jobs", "knn_join job count")
    try:
        rows = K.knn_join(pts_df, tgt_df, k=3).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 3 * pts_df.count()
    assert len(sc.statusTracker().getJobIdsForGroup("knn_join_jobs")) <= 2


@pytest.mark.parametrize("exhaustive_max", [0, 300])
def test_knn_null_coordinates_get_and_give_no_rows(spark, monkeypatch, exhaustive_max):
    """A target with null lat/lon is never a neighbour (it used to rank first with a
    null dist_km), and a point with null lat/lon gets no rows — in knn_join on both
    passes and in the knn_brute_force reference."""
    monkeypatch.setattr(K, "_EXHAUSTIVE_MAX_TARGETS", exhaustive_max)
    tgt = spark.createDataFrame(
        [("t1", 10.0, 10.0), ("t2", 10.5, 10.5), ("t3", 11.0, 11.0), ("tnull", None, None)],
        "target_id string, lat double, lon double",
    )
    pts = spark.createDataFrame(
        [("p", 50.0, 50.0), ("q", 10.49, 10.49), ("pnull", None, None), ("plat", None, 3.0)],
        "point_id string, lat double, lon double",
    )
    want = [("p", "t3", 1), ("p", "t2", 2), ("q", "t2", 1), ("q", "t1", 2)]
    for out in (K.knn_join(pts, tgt, k=2, zoom=12), K.knn_brute_force(pts, tgt, k=2)):
        rows = out.collect()
        assert sorted((r.point_id, r.target_id, r.knn_rank) for r in rows) == sorted(want)
        assert all(r.dist_km is not None and np.isfinite(r.dist_km) for r in rows)


def test_within_distance_join_matches_brute_force(spark, knn_data):
    """Range join == brute-force haversine filter, at several radii (incl. one
    large enough to force multi-ring replication)."""
    import numpy as np

    from geojson_utility_spark.operators.knn import (
        haversine_expr,
        within_distance_join,
    )
    from pyspark.sql import functions as F

    pts_df, tgt_df = knn_data
    pts = pts_df.select("point_id", F.col("lat").alias("p_lat"), F.col("lon").alias("p_lon"))
    tgt = tgt_df.select("target_id", F.col("lat").alias("t_lat"), F.col("lon").alias("t_lon"))
    dist = haversine_expr(F.col("p_lat"), F.col("p_lon"), F.col("t_lat"), F.col("t_lon"))
    for radius in (25.0, 150.0, 700.0):
        got = within_distance_join(pts_df, tgt_df, radius_km=radius).toPandas()
        want = (
            pts.crossJoin(tgt)
            .withColumn("d", dist)
            .filter(F.col("d") <= radius)
            .toPandas()
        )
        g = set(map(tuple, got[["point_id", "target_id"]].values))
        w = set(map(tuple, want[["point_id", "target_id"]].values))
        assert g == w, f"radius {radius}: {len(g)} vs {len(w)}"
        gd = got.sort_values(["point_id", "target_id"])["dist_km"].to_numpy()
        wd = want.sort_values(["point_id", "target_id"])["d"].to_numpy()
        assert np.allclose(gd, wd, rtol=1e-12)


def test_within_distance_join_empty_targets(spark, knn_data):
    from geojson_utility_spark.operators.knn import within_distance_join
    from pyspark.sql import functions as F

    pts_df, tgt_df = knn_data
    out = within_distance_join(pts_df, tgt_df.filter(F.lit(False)), radius_km=50.0)
    assert out.count() == 0


def test_within_distance_join_radius_zero_returns_coincident_pairs(spark):
    """radius_km=0 is the coincident-pair query: it takes the finest auto zoom
    and keeps exactly the pairs at distance 0."""
    pts = spark.createDataFrame(
        [("a", 10.0, 20.0), ("b", 10.001, 20.0), ("c", -30.0, 40.0)],
        ["point_id", "lat", "lon"],
    )
    tgt = spark.createDataFrame(
        [("x", 10.0, 20.0), ("y", -30.0, 40.0), ("z", 50.0, 60.0)],
        ["target_id", "lat", "lon"],
    )
    got = K.within_distance_join(pts, tgt, radius_km=0.0).collect()
    assert sorted((r.point_id, r.target_id, r.dist_km) for r in got) == [
        ("a", "x", 0.0),
        ("c", "y", 0.0),
    ]


@pytest.mark.parametrize("radius", [-1.0, float("nan"), float("inf")])
def test_within_distance_join_rejects_bad_radius(spark, knn_data, radius):
    """A negative, NaN or infinite radius raises ValueError naming the argument
    before any Spark job."""
    pts_df, tgt_df = knn_data
    group = f"bad_radius_{radius}"
    sc = spark.sparkContext
    sc.setJobGroup(group, "must launch no job")
    try:
        with pytest.raises(ValueError, match="radius_km"):
            K.within_distance_join(pts_df, tgt_df, radius_km=radius)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup(group)


def test_within_distance_join_polar_targets(spark):
    """Targets past the Mercator clamp take the exact branch — pairs poleward of
    ~85 deg are no longer missed (ADVICE r2)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from geojson_utility_spark.operators.knn import haversine_expr, within_distance_join

    rng = np.random.default_rng(7)
    pts = pd.DataFrame({
        "point_id": range(400),
        "lat": np.concatenate([rng.uniform(84.0, 90.0, 200), rng.uniform(-60, 60, 200)]),
        "lon": rng.uniform(-180, 180, 400),
    })
    tgt = pd.DataFrame({
        "target_id": range(8),
        "lat": [86.5, 89.0, -87.0, 85.2, 10.0, 45.0, -30.0, 84.9],
        "lon": [0.0, 120.0, -60.0, 33.0, 77.0, -100.0, 5.0, 179.0],
    })
    pts_df, tgt_df = spark.createDataFrame(pts), spark.createDataFrame(tgt)
    got = within_distance_join(pts_df, tgt_df, radius_km=300.0).toPandas()
    dist = haversine_expr(F.col("p_lat"), F.col("p_lon"), F.col("t_lat"), F.col("t_lon"))
    want = (
        pts_df.select("point_id", F.col("lat").alias("p_lat"), F.col("lon").alias("p_lon"))
        .crossJoin(tgt_df.select("target_id", F.col("lat").alias("t_lat"), F.col("lon").alias("t_lon")))
        .withColumn("d", dist).filter(F.col("d") <= 300.0).toPandas()
    )
    g = set(map(tuple, got[["point_id", "target_id"]].values))
    w = set(map(tuple, want[["point_id", "target_id"]].values))
    assert g == w and any(t in (0, 1, 2) for _, t in w)
