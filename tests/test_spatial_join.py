"""Flagship spatial join vs brute-force numpy PIP oracle."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geojson_utility_spark import fixtures as FX
from geojson_utility_spark.functions import geometry as G
from geojson_utility_spark.functions import pip as P
from geojson_utility_spark.operators import spatial_join as SJ


@pytest.fixture(scope="module")
def data():
    pts = FX.image_point([f"img_{i:012d}" for i in range(3000)])
    polys = FX.make_polygons(40)
    return pts, polys


@pytest.fixture(scope="module")
def oracle_pairs(data):
    pts, polys = data
    want = set()
    valid_polys = 0
    for _, prow in polys.iterrows():
        norm, err = G.normalize_polygon_geojson(prow["geojson"])
        if err:
            continue
        valid_polys += 1
        ring = np.asarray(G.extract_outer_ring(norm), dtype=np.float64)
        inside = P.points_in_polygon(
            pts["lon"].to_numpy(), pts["lat"].to_numpy(), [ring]
        )
        for pid in pts.loc[inside, "image_id"]:
            want.add((pid, prow["polygon_id"]))
    assert valid_polys >= 35
    assert len(want) > 100, "fixture should produce plenty of matches"
    return want


@pytest.mark.parametrize(
    "compact,salt,refine",
    [
        (False, 1, "broadcast"),
        (False, 8, "cogroup"),
        (True, 8, "broadcast"),
        (True, 8, "cogroup"),
    ],
)
def test_spatial_join_matches_oracle(spark, data, oracle_pairs, compact, salt, refine):
    pts, polys = data
    pts_df = spark.createDataFrame(pts).withColumnRenamed("image_id", "point_id")
    polys_df = spark.createDataFrame(polys[["polygon_id", "geojson"]])
    got_df = SJ.spatial_join(
        pts_df, polys_df, compact=compact, salt=salt, refine=refine
    )
    got = {(r["point_id"], r["polygon_id"]) for r in got_df.collect()}
    assert got == oracle_pairs


def test_semi_anti(spark, data, oracle_pairs):
    pts, polys = data
    pts_df = spark.createDataFrame(pts).withColumnRenamed("image_id", "point_id")
    polys_df = spark.createDataFrame(polys[["polygon_id", "geojson"]])
    served = {p for p, _ in oracle_pairs}
    semi = SJ.spatial_join(pts_df, polys_df, how="left_semi")
    anti = SJ.spatial_join(pts_df, polys_df, how="left_anti")
    semi_ids = {r["point_id"] for r in semi.collect()}
    anti_ids = {r["point_id"] for r in anti.collect()}
    assert semi_ids == served
    assert anti_ids == set(pts["image_id"]) - served
    assert semi.count() + anti.count() == len(pts)


def test_normalize_polygons_flags_bowtie(spark, data):
    _, polys = data
    norm = SJ.normalize_polygons(spark.createDataFrame(polys[["polygon_id", "geojson"]]))
    bad = norm.filter(F.col("poly_errors") != "").toPandas()
    assert "poly_000013" in set(bad["polygon_id"])  # the fixture bow-tie
    assert any("self-intersecting" in e for e in bad["poly_errors"])


def test_cover_is_superset_of_point_cells(spark, data):
    """Candidate-stage no-false-negative property on the real fixture polygons."""
    from geojson_utility_spark.functions import cells as C

    pts, polys = data
    for _, prow in polys.iloc[:10].iterrows():
        norm, err = G.normalize_polygon_geojson(prow["geojson"])
        if err:
            continue
        ring = np.asarray(G.extract_outer_ring(norm))
        inside = P.points_in_polygon(pts["lon"].to_numpy(), pts["lat"].to_numpy(), [ring])
        if not inside.any():
            continue
        cover = set(C.polygon_to_cells(ring, SJ.DEFAULT_JOIN_ZOOM).tolist())
        pt_cells = C.latlng_to_cell(
            pts.loc[inside, "lat"].to_numpy(),
            pts.loc[inside, "lon"].to_numpy(),
            SJ.DEFAULT_JOIN_ZOOM,
        )
        assert set(pt_cells.tolist()) <= cover


def test_cell_heat_stats(spark, data):
    pts, _ = data
    pts_df = spark.createDataFrame(pts)
    heat = SJ.cell_heat_stats(pts_df, zoom=13).orderBy(F.desc("n_points")).toPandas()
    assert heat["n_points"].sum() == len(pts)
    # skew present: hottest cell should hold many points (Delhi blob)
    assert heat["n_points"].iloc[0] > len(pts) * 0.01


def test_refine_mask_matches_bruteforce():
    """pip.refine_mask over one batch with unsorted codes mixing single-ring
    polygons, a holed polygon and a None (invalid) polygon == per-row
    points_in_polygon; the RingKernel cache is filled only for single rings."""
    sq = lambda x0, y0, s: np.array(
        [[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s], [x0, y0]]
    )
    tri = np.array([[0.0, 0.0], [3.0, 0.0], [1.5, 3.0], [0.0, 0.0]])
    rings = [
        [sq(0, 0, 2)],                  # 0: single ring
        [sq(0, 0, 4), sq(1, 1, 2)],     # 1: holed
        None,                           # 2: invalid polygon
        [tri],                          # 3: single ring
    ]
    rng = np.random.default_rng(11)
    n = 4000
    lon = np.concatenate([rng.uniform(-0.5, 4.5, n), [2.0, 1.0, 0.0, 1.5]])
    lat = np.concatenate([rng.uniform(-0.5, 4.5, n), [2.0, 2.0, 2.0, 3.0]])
    codes = np.concatenate([rng.integers(0, 4, n), [1, 1, 1, 3]]).astype(np.int32)
    kernels = {}
    got = P.refine_mask(lon, lat, codes, rings, kernels)
    want = np.array([
        rings[c] is not None
        and bool(P.points_in_polygon(lon[i : i + 1], lat[i : i + 1], rings[c])[0])
        for i, c in enumerate(codes.tolist())
    ])
    np.testing.assert_array_equal(got, want)
    assert got.any() and not got.all()
    assert not got[codes == 2].any()
    assert set(kernels) == {0, 3}
    # planted: strictly inside the hole, on the hole edge, on the outer edge, apex
    assert got[n:].tolist() == [False, True, True, True]
    # a polygon group longer than one kernel block is tested in every block
    m = P._BLOCK + 100
    bx, by = rng.uniform(-0.5, 2.5, m), rng.uniform(-0.5, 2.5, m)
    np.testing.assert_array_equal(
        P.refine_mask(bx, by, np.zeros(m, dtype=np.int32), rings, {}),
        P.points_in_polygon(bx, by, rings[0]),
    )


def test_prepare_polygons_rejects_duplicate_ids(spark):
    """Two valid polygons sharing a polygon_id cannot be told apart in a match —
    prepare_polygons (and so spatial_join) refuses them, naming the id."""
    sq = lambda x0: _holed_fc(
        [[x0, 0.0], [x0 + 1.0, 0.0], [x0 + 1.0, 1.0], [x0, 1.0], [x0, 0.0]], []
    )
    polys = spark.createDataFrame(
        [("x", sq(0.0)), ("y", sq(1.5)), ("x", sq(3.0))], ["polygon_id", "geojson"]
    )
    pts = spark.createDataFrame([("p", 0.5, 0.5)], ["point_id", "lat", "lon"])
    with pytest.raises(ValueError, match="duplicate polygon_id 'x'"):
        SJ.prepare_polygons(polys, zoom=12)
    with pytest.raises(ValueError, match="duplicate polygon_id 'x'"):
        SJ.spatial_join(pts, polys, zoom=12, refine="cogroup")


def test_spatial_join_rejects_unknown_refine(spark):
    pts = spark.createDataFrame([("p", 0.5, 0.5)], ["point_id", "lat", "lon"])
    polys = spark.createDataFrame([("a", "{}")], ["polygon_id", "geojson"])
    with pytest.raises(ValueError, match="refine='expr'"):
        SJ.spatial_join(pts, polys, refine="expr")


@pytest.mark.parametrize("compact", [False, True])
@pytest.mark.parametrize(
    "rows", [[], [("bad", "{}"), ("bowtie", "not json")]], ids=["empty", "all_invalid"]
)
def test_spatial_join_without_valid_polygons_matches_nothing(spark, compact, rows):
    """An empty polygon table, or one whose every row is invalid, leaves no
    polygon to index: the join has no matches and left_anti returns every point."""
    pts = spark.createDataFrame(
        [("p", 0.5, 0.5), ("q", 10.0, 20.0)], ["point_id", "lat", "lon"]
    )
    polys = spark.createDataFrame(rows, "polygon_id string, geojson string")
    assert SJ.spatial_join(pts, polys, zoom=12, compact=compact).count() == 0
    anti = SJ.spatial_join(pts, polys, zoom=12, compact=compact, how="left_anti")
    assert sorted(r["point_id"] for r in anti.collect()) == ["p", "q"]


@pytest.mark.parametrize("compact,min_zoom", [(True, 16), (False, 12)])
def test_min_zoom_outside_compact_cover_is_rejected(spark, data, compact, min_zoom):
    """min_zoom above zoom would leave no probe zoom (an empty join), and without
    compact=True no cover reads it: both raise ValueError before any Spark job."""
    pts, polys = data
    pts_df = spark.createDataFrame(pts).withColumnRenamed("image_id", "point_id")
    polys_df = spark.createDataFrame(polys[["polygon_id", "geojson"]])
    group = f"min_zoom_{compact}_{min_zoom}"
    sc = spark.sparkContext
    sc.setJobGroup(group, "must launch no job")
    try:
        with pytest.raises(ValueError, match="min_zoom"):
            SJ.spatial_join(pts_df, polys_df, zoom=14, compact=compact, min_zoom=min_zoom)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup(group)


def test_polygon_intersect_join_matches_bruteforce(spark):
    """Cover-candidate + exact kernel == all-pairs kernel on mixed fixture rings."""
    import itertools

    from geojson_utility_spark.functions.polyops import rings_intersect
    from geojson_utility_spark.operators.spatial_join import polygon_intersect_join

    pdf = FX.make_polygons(25)[["polygon_id", "geojson"]]
    a = spark.createDataFrame(pdf.iloc[:15])
    b = spark.createDataFrame(
        pdf.iloc[10:].assign(polygon_id=lambda d: "b_" + d["polygon_id"])
    )
    got = {
        (r["a_id"], r["b_id"])
        for r in polygon_intersect_join(a, b, zoom=12).collect()
    }
    # brute force with the same kernel over normalized rings
    from geojson_utility_spark.functions import geometry as G

    def rings(frame):
        out = {}
        for pid, gj in zip(frame["polygon_id"], frame["geojson"]):
            norm, err = G.normalize_polygon_geojson(gj)
            if err:
                continue
            out[pid] = np.asarray(G.extract_outer_ring(norm), dtype=np.float64)
        return out

    ra = rings(pdf.iloc[:15])
    rb = {("b_" + k): v for k, v in rings(pdf.iloc[10:]).items()}
    want = {
        (ka, kb)
        for (ka, va), (kb, vb) in itertools.product(ra.items(), rb.items())
        if rings_intersect(va, vb)
    }
    assert got == want and len(want) > 0


def test_rings_intersect_kernel_cases():
    from geojson_utility_spark.functions.polyops import rings_intersect

    sq = lambda x0, y0, s: np.array(
        [[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s], [x0, y0]]
    )
    assert rings_intersect(sq(0, 0, 2), sq(1, 1, 2))          # overlap
    assert rings_intersect(sq(0, 0, 4), sq(1, 1, 1))          # containment
    assert rings_intersect(sq(1, 1, 1), sq(0, 0, 4))          # contained (swapped)
    assert rings_intersect(sq(0, 0, 1), sq(1, 0, 1))          # edge touch
    assert rings_intersect(sq(0, 0, 1), sq(1, 1, 1))          # corner touch
    assert not rings_intersect(sq(0, 0, 1), sq(3, 3, 1))      # disjoint
    # crossing with no contained vertex (plus shape): thin horizontal x thin vertical
    horiz = np.array([[-3, -0.1], [3, -0.1], [3, 0.1], [-3, 0.1], [-3, -0.1]])
    vert = np.array([[-0.1, -3], [0.1, -3], [0.1, 3], [-0.1, 3], [-0.1, -3]])
    assert rings_intersect(horiz, vert)


def test_polygon_intersect_join_bigint_ids(spark):
    """Non-string polygon ids round-trip with their input types (ADVICE r2)."""
    from geojson_utility_spark.operators.spatial_join import polygon_intersect_join

    pdf = FX.make_polygons(10)[["polygon_id", "geojson"]].reset_index(drop=True)
    pdf["polygon_id"] = pdf.index.astype("int64")
    a = spark.createDataFrame(pdf)
    out = polygon_intersect_join(a, a, zoom=12)
    assert dict(out.dtypes) == {"a_id": "bigint", "b_id": "bigint"}
    rows = out.collect()
    assert all(isinstance(r["a_id"], int) for r in rows) and len(rows) >= 10


def _holed_fc(outer, holes):
    import json as _j
    return _j.dumps({
        "type": "FeatureCollection",
        "features": [{
            "type": "Feature",
            "geometry": {"type": "Polygon", "coordinates": [outer] + holes},
            "properties": {},
        }],
    })


def test_spatial_join_keep_holes_matches_bruteforce(spark):
    """Opt-in hole-aware join == even-odd points_in_polygon oracle on a holed,
    non-convex fixture; default mode keeps the reference's outer-ring contract."""
    import numpy as np
    import pandas as pd

    from geojson_utility_spark.functions import pip as P
    from geojson_utility_spark.operators.spatial_join import spatial_join

    outer = [[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [5.0, 7.0], [0.0, 10.0], [0.0, 0.0]]
    hole1 = [[2.0, 2.0], [4.0, 2.0], [4.0, 4.0], [2.0, 4.0], [2.0, 2.0]]
    hole2 = [[6.0, 5.0], [8.0, 5.0], [7.0, 8.0], [6.0, 5.0]]
    gj = _holed_fc(outer, [hole1, hole2])
    polys = spark.createDataFrame([("holed", gj)], ["polygon_id", "geojson"])

    rng = np.random.default_rng(3)
    pts = pd.DataFrame({
        "point_id": range(640),
        "lon": np.concatenate([rng.uniform(-1, 11, 600),
                               [3.0, 2.0, 3.0, 0.0, 7.0, 6.5, 20.0, 10.0],
                               rng.uniform(2, 4, 16), rng.uniform(6, 8, 16)]),
        "lat": np.concatenate([rng.uniform(-1, 11, 600),
                               [3.0, 3.0, 2.0, 5.0, 6.0, 5.0, 20.0, 10.0],
                               rng.uniform(2, 4, 16), rng.uniform(5, 8, 16)]),
    })
    pts_df = spark.createDataFrame(pts)
    rings = [np.asarray(outer), np.asarray(hole1), np.asarray(hole2)]
    want_mask = P.points_in_polygon(
        pts["lon"].to_numpy(), pts["lat"].to_numpy(), rings
    )
    want = set(pts.loc[want_mask, "point_id"])
    for kwargs in ({}, {"refine": "cogroup"}):
        got = {
            r["point_id"]
            for r in spatial_join(pts_df, polys, zoom=14, keep_holes=True,
                                  **kwargs).collect()
        }
        assert got == want, f"{kwargs}: {len(got)} vs {len(want)}"
    # planted semantics: strictly inside hole -> out; ON hole edge -> in (covers)
    assert 600 not in want        # (3,3) strictly inside hole1
    assert 601 in want            # (2,3) on hole1 edge
    assert 603 in want            # (0,5) on outer edge
    # default (parity) mode keeps hole points: reference discards holes
    got_parity = {
        r["point_id"] for r in spatial_join(pts_df, polys, zoom=14).collect()
    }
    outer_only = P.points_in_polygon(
        pts["lon"].to_numpy(), pts["lat"].to_numpy(), [np.asarray(outer)]
    )
    assert got_parity == set(pts.loc[outer_only, "point_id"])
    assert 600 in got_parity


def test_normalize_polygons_keep_holes_validation(spark):
    """Hole rings are validated; bad holes annotate poly_errors with the hole index."""
    from geojson_utility_spark.operators.spatial_join import normalize_polygons

    good = _holed_fc(
        [[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]],
        [[[1.0, 1.0], [2.0, 1.0], [2.0, 2.0], [1.0, 2.0], [1.0, 1.0]]],
    )
    bad = _holed_fc(
        [[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]],
        [[[1.0, 1.0], [1.0, 1.0], [1.0, 1.0], [1.0, 1.0]]],  # degenerate hole
    )
    out = {
        r["polygon_id"]: r
        for r in normalize_polygons(
            spark.createDataFrame([("g", good), ("b", bad)], ["polygon_id", "geojson"]),
            keep_holes=True,
        ).collect()
    }
    assert out["g"]["poly_errors"] == ""
    import json as _j
    holes = _j.loads(out["g"]["holes_json"])
    assert len(holes) == 1 and len(holes[0]) == 5
    assert "hole 1" in out["b"]["poly_errors"]
    # default mode: holes silently dropped (reference parity), "[]" carried
    out_flat = normalize_polygons(
        spark.createDataFrame([("g", good)], ["polygon_id", "geojson"])
    ).collect()[0]
    assert out_flat["poly_errors"] == "" and out_flat["holes_json"] == "[]"


def test_spatial_join_multipolygon_union_semantics(spark):
    """MultiPolygon join == union of per-part even-odd PIP; one row per
    (point, feature) even when parts are adjacent; holes compose."""
    import json as _j

    import numpy as np
    import pandas as pd

    from geojson_utility_spark.functions import pip as P
    from geojson_utility_spark.operators.spatial_join import spatial_join_multi

    part_a = [[[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]],
              [[1.0, 1.0], [2.0, 1.0], [2.0, 2.0], [1.0, 2.0], [1.0, 1.0]]]  # + hole
    part_b = [[[6.0, 6.0], [9.0, 6.0], [9.0, 9.0], [6.0, 9.0], [6.0, 6.0]]]
    mp = _j.dumps({
        "type": "FeatureCollection",
        "features": [{
            "type": "Feature",
            "geometry": {"type": "MultiPolygon", "coordinates": [part_a, part_b]},
            "properties": {},
        }],
    })
    # a plain Polygon feature must pass through untouched alongside
    single = _j.dumps({
        "type": "FeatureCollection",
        "features": [{
            "type": "Feature",
            "geometry": {"type": "Polygon",
                         "coordinates": [[[3.0, 3.0], [7.0, 3.0], [7.0, 7.0],
                                          [3.0, 7.0], [3.0, 3.0]]]},
            "properties": {},
        }],
    })
    polys = spark.createDataFrame(
        [("multi", mp), ("single", single)], ["polygon_id", "geojson"]
    )
    rng = np.random.default_rng(5)
    pts = pd.DataFrame({
        "point_id": range(500),
        "lon": rng.uniform(-1, 10, 500),
        "lat": rng.uniform(-1, 10, 500),
    })
    pts_df = spark.createDataFrame(pts)
    lon, lat = pts["lon"].to_numpy(), pts["lat"].to_numpy()
    in_multi = P.points_in_polygon(lon, lat, [np.asarray(r) for r in part_a]) | \
        P.points_in_polygon(lon, lat, [np.asarray(part_b[0])])
    in_single = P.points_in_polygon(lon, lat, [np.asarray([[3.0, 3.0], [7.0, 3.0],
                                                           [7.0, 7.0], [3.0, 7.0],
                                                           [3.0, 3.0]])])
    want = {(int(i), "multi") for i in pts.loc[in_multi, "point_id"]} | \
           {(int(i), "single") for i in pts.loc[in_single, "point_id"]}
    got_rows = spatial_join_multi(pts_df, polys, zoom=14, keep_holes=True).collect()
    got = {(r["point_id"], r["polygon_id"]) for r in got_rows}
    assert got == want
    assert len(got_rows) == len(got)  # deduped: one row per (point, feature)
    # anti join: points in NO feature
    anti = {r["point_id"]
            for r in spatial_join_multi(pts_df, polys, how="left_anti",
                                        zoom=14, keep_holes=True).collect()}
    assert anti == set(pts["point_id"]) - {p for p, _ in want}


def test_prepared_polygons_reuse(spark, data, oracle_pairs):
    """prepare_polygons + repeated joins == per-call prep; geometry params travel
    with the index; unpersist releases cleanly."""
    pts, polys = data
    pts_df = spark.createDataFrame(pts).withColumnRenamed("image_id", "point_id")
    polys_df = spark.createDataFrame(polys[["polygon_id", "geojson"]])
    prep = SJ.prepare_polygons(polys_df, zoom=SJ.DEFAULT_JOIN_ZOOM, compact=True)
    got1 = {(r["point_id"], r["polygon_id"])
            for r in SJ.spatial_join(pts_df, prepared=prep).collect()}
    assert got1 == oracle_pairs
    # second batch (different point slice) reuses the same index
    half = spark.createDataFrame(pts.iloc[:1500]).withColumnRenamed("image_id", "point_id")
    got2 = {(r["point_id"], r["polygon_id"])
            for r in SJ.spatial_join(half, prepared=prep).collect()}
    assert got2 == {(p, g) for p, g in oracle_pairs
                    if p in set(pts.iloc[:1500]["image_id"])}
    # a contradicting zoom argument is ignored: the index's geometry wins
    got3 = {(r["point_id"], r["polygon_id"])
            for r in SJ.spatial_join(pts_df, zoom=5, prepared=prep).collect()}
    assert got3 == oracle_pairs
    prep.unpersist()
    with pytest.raises(ValueError, match="polygons or prepared"):
        SJ.spatial_join(pts_df)


def test_prepared_min_zoom_static_range_matches_oracle(spark, data, oracle_pairs):
    """compact+min_zoom (r7): the probe-zoom list is now the static range
    [min_zoom, zoom] (no cover-distinct job); matches must be unchanged vs the
    oracle, and the static list must cover every zoom the cover emits."""
    pts, polys = data
    pts_df = spark.createDataFrame(pts).withColumnRenamed("image_id", "point_id")
    polys_df = spark.createDataFrame(polys[["polygon_id", "geojson"]])
    z = SJ.DEFAULT_JOIN_ZOOM
    prep = SJ.prepare_polygons(polys_df, zoom=z, compact=True, min_zoom=z - 2)
    assert prep.zooms == list(range(z - 2, z + 1))
    cover_zooms = {
        r["cell_zoom"] for r in prep.cover.select("cell_zoom").distinct().collect()
    }
    assert cover_zooms <= set(prep.zooms)
    got = {(r["point_id"], r["polygon_id"])
           for r in SJ.spatial_join(pts_df, prepared=prep).collect()}
    assert got == oracle_pairs
    prep.unpersist()


def test_streaming_spatial_join_matches_batch(spark, tmp_path):
    """A file-source stream through spatial_join's prepared index == the batch
    join on the same rows: the plan is stateless (broadcast joins and a map-only
    refine, no watermark, no state store), so Structured Streaming runs it in
    append mode."""
    import time

    from geojson_utility_spark.operators.spatial_join import prepare_polygons

    pts = FX.image_point([f"img_{i:012d}" for i in range(4000)]).rename(
        columns={"image_id": "point_id"}
    )
    polys_df = spark.createDataFrame(FX.make_polygons(25)[["polygon_id", "geojson"]])
    prep = prepare_polygons(polys_df, compact=True)

    src = str(tmp_path / "pts_stream")
    # two micro-batch files
    spark.createDataFrame(pts.iloc[:2000]).write.mode("overwrite").parquet(src)
    spark.createDataFrame(pts.iloc[2000:]).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("point_id string, lat double, lon double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = SJ.spatial_join(stream, prepared=prep)
    q = (
        out.writeStream.format("memory")
        .queryName("sj_stream")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            q.processAllAvailable()
            got = spark.sql("SELECT point_id, polygon_id FROM sj_stream").collect()
            if got:
                break
        q.processAllAvailable()
        got = {
            (r["point_id"], r["polygon_id"])
            for r in spark.sql("SELECT point_id, polygon_id FROM sj_stream").collect()
        }
    finally:
        q.stop()
    want = {
        (r["point_id"], r["polygon_id"])
        for r in SJ.spatial_join(
            spark.createDataFrame(pts), prepared=prep
        ).collect()
    }
    assert got == want and len(want) > 50
    prep.unpersist()


def test_normalize_rejects_non_polygon_geometries(spark):
    """A FeatureCollection whose first feature is a Point/LineString/
    GeometryCollection lands in poly_errors with a SPECIFIC unsupported-type
    message (VERDICT r3 item 4 — the reference blindly indexes coordinates[0],
    so a real mixed-geometry GeoJSON user used to get a shape-crash message);
    MultiPolygon through the Polygon-only path names the union-semantics
    operators; valid Polygons are untouched, in BOTH keep_holes modes."""
    import json as _json

    def fc(geom):
        return _json.dumps({
            "type": "FeatureCollection",
            "features": [{"type": "Feature", "geometry": geom, "properties": {}}],
        })

    square = [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]]
    rows = [
        ("ok", fc({"type": "Polygon", "coordinates": [square]})),
        ("pt", fc({"type": "Point", "coordinates": [1.0, 2.0]})),
        ("ls", fc({"type": "LineString", "coordinates": [[0.0, 0.0], [1.0, 1.0]]})),
        ("gc", fc({"type": "GeometryCollection", "geometries": []})),
        ("mp", fc({"type": "MultiPolygon", "coordinates": [[square]]})),
    ]
    polys = spark.createDataFrame(rows, ["polygon_id", "geojson"])
    for keep_holes in (False, True):
        got = {
            r["polygon_id"]: r["poly_errors"]
            for r in SJ.normalize_polygons(polys, keep_holes=keep_holes).collect()
        }
        assert got["ok"] == ""
        for pid, gtype in (("pt", "Point"), ("ls", "LineString"),
                           ("gc", "GeometryCollection")):
            assert f"unsupported geometry type '{gtype}'" in got[pid], (pid, got[pid])
        assert "explode_multipolygon_parts" in got["mp"]
    # the multi path still explodes MultiPolygon and passes other types through
    # unchanged so its normalize annotates them with the same specific message
    parts = {
        (r["polygon_id"], r["part_idx"])
        for r in SJ.explode_multipolygon_parts(polys).collect()
    }
    assert ("mp", 0) in parts and ("ls", 0) in parts
    norm_multi = {
        r["polygon_id"]: r["poly_errors"]
        for r in SJ.normalize_polygons(SJ.explode_multipolygon_parts(polys)
                                       .drop("part_idx")).collect()
    }
    assert norm_multi["mp"] == ""  # exploded part is a plain Polygon now
    assert "unsupported geometry type 'LineString'" in norm_multi["ls"]
