"""Flagship spatial join vs brute-force numpy PIP oracle."""

import json

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geojson_utility_spark import fixtures as FX
from geojson_utility_spark.functions import geometry as G
from geojson_utility_spark.functions import pip as P
from geojson_utility_spark.operators import spatial_join as SJ
from geojson_utility_spark.session import release_deferred


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


@pytest.mark.parametrize("compact", [False, True])
def test_spatial_join_matches_oracle(spark, data, oracle_pairs, compact):
    pts, polys = data
    pts_df = spark.createDataFrame(pts).withColumnRenamed("image_id", "point_id")
    polys_df = spark.createDataFrame(polys[["polygon_id", "geojson"]])
    got_df = SJ.spatial_join(pts_df, polys_df, compact=compact)
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


def test_semi_anti_keep_rows_not_ids(spark):
    """left_semi and left_anti keep input ROWS, decided by each row's own
    coordinates: a null point_id inside, one id on a point inside and on a point
    outside, and NaN coordinates.  Semi returns exactly the rows the inner join
    pairs, anti exactly the others, and together they are the input."""
    from collections import Counter

    ring = [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]]
    doc = json.dumps(G.wrap_polygon_feature_collection(ring))
    polys = spark.createDataFrame([("sq", doc)], ["polygon_id", "geojson"])
    nan = float("nan")
    rows = [(None, 0.5, 0.5), ("dup", 0.25, 0.25), ("dup", 5.0, 5.0),
            ("out", 5.0, 5.0), ("nan", nan, 0.5), ("nan", 0.5, nan)]
    pts = spark.createDataFrame(rows, "point_id string, lat double, lon double")

    def bag(frame):
        return Counter((r["point_id"], repr(r["lat"]), repr(r["lon"])) for r in frame.collect())

    inside = bag(spark.createDataFrame(rows[:2], pts.schema))
    outside = bag(spark.createDataFrame(rows[2:], pts.schema))
    inner = SJ.spatial_join(pts, polys, zoom=12)
    assert bag(inner.select("point_id", "lat", "lon")) == inside
    semi = SJ.spatial_join(pts, polys, zoom=12, how="left_semi")
    anti = SJ.spatial_join(pts, polys, zoom=12, how="left_anti")
    assert semi.columns == anti.columns == ["point_id", "lat", "lon"]
    assert bag(semi) == inside
    assert bag(anti) == outside
    assert semi.count() + anti.count() == len(rows)


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
        SJ.spatial_join(pts, polys, zoom=12)


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_prepare_polygons_bounds_its_collect(spark, monkeypatch):
    """More valid polygons than PREPARED_POLYGONS_MAX raise ValueError naming the
    count read and the bound, and leave nothing cached."""
    polys = spark.createDataFrame(FX.make_polygons(12)[["polygon_id", "geojson"]])
    before = _persistent_rdds(spark)
    monkeypatch.setattr(SJ, "PREPARED_POLYGONS_MAX", 5)
    with pytest.raises(ValueError, match="read 6 polygons .* bound of 5"):
        SJ.prepare_polygons(polys, zoom=12)
    assert _persistent_rdds(spark) == before


def test_prepare_polygons_bounds_its_cover_collect(spark, monkeypatch):
    """More cover cells than COVER_CELLS_MAX raise ValueError naming the count
    read and the bound, and leave nothing cached."""
    polys = spark.createDataFrame(FX.make_polygons(3)[["polygon_id", "geojson"]])
    before = _persistent_rdds(spark)
    monkeypatch.setattr(SJ, "COVER_CELLS_MAX", 10)
    with pytest.raises(ValueError, match="read 11 cells .* bound of 10"):
        SJ.prepare_polygons(polys, zoom=12)
    assert _persistent_rdds(spark) == before


def test_prepared_polygons_unpersist_releases_everything(spark, data):
    """prepare -> join caches two frames (norm, cover_idx); unpersist() frees
    both and destroys the index broadcast."""
    pts, _ = data
    pts_df = spark.createDataFrame(pts).withColumnRenamed("image_id", "point_id")
    polys = spark.createDataFrame(FX.make_polygons(14)[["polygon_id", "geojson"]])
    before = _persistent_rdds(spark)
    prep = SJ.prepare_polygons(polys, compact=True)
    assert SJ.spatial_join(pts_df, prepared=prep).count() > 0
    assert len(_persistent_rdds(spark) - before) == 2
    prep.unpersist()
    assert _persistent_rdds(spark) == before
    assert not prep.rings._jbroadcast.isValid()


def test_prepared_polygons_unpersist_keeps_a_callers_cache(spark, data):
    """The index releases only its own blocks: a caller's cache of the same
    normalized polygons survives prepare -> join -> unpersist()."""
    pts, polys = data
    pts_df = spark.createDataFrame(pts).withColumnRenamed("image_id", "point_id")
    polys_df = spark.createDataFrame(polys[["polygon_id", "geojson"]])
    mine = SJ.normalize_polygons(polys_df).cache()
    mine.count()
    prep = SJ.prepare_polygons(polys_df, zoom=14)
    assert SJ.spatial_join(pts_df, prepared=prep).count() > 0
    prep.unpersist()
    assert mine.storageLevel.useMemory
    assert mine.count() == len(polys)
    mine.unpersist()


def test_unprepared_joins_release_their_index(spark, data):
    """An unprepared spatial_join defers its index's release: once the results
    are consumed, release_deferred brings persistent RDDs back to baseline."""
    pts, polys = data
    pts_df = spark.createDataFrame(pts).withColumnRenamed("image_id", "point_id")
    polys_df = spark.createDataFrame(polys[["polygon_id", "geojson"]])
    release_deferred()
    before = _persistent_rdds(spark)
    for _ in range(2):
        assert SJ.spatial_join(pts_df, polys_df, zoom=14).count() > 0
    assert _persistent_rdds(spark) != before
    release_deferred()
    assert _persistent_rdds(spark) == before


def test_spatial_join_bigint_polygon_ids(spark):
    """A non-string polygon_id is joined as its string, for a Polygon feature and
    for a MultiPolygon one alike."""
    ring = [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]]
    far = [[x + 3.0, y] for x, y in ring]
    pts = spark.createDataFrame([("in", 0.5, 0.5), ("out", 5.0, 5.0)], ["point_id", "lat", "lon"])
    for geom in ({"type": "Polygon", "coordinates": [ring]},
                 {"type": "MultiPolygon", "coordinates": [[ring], [far]]}):
        doc = _fc(geom)
        polys = spark.createDataFrame([(7, doc)], "polygon_id bigint, geojson string")
        got = SJ.spatial_join(pts, polys, zoom=12).select("point_id", "polygon_id").collect()
        assert [tuple(r) for r in got] == [("in", "7")], geom["type"]


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


@pytest.mark.parametrize("compact", [False, True])
def test_null_and_nan_points_match_nothing(spark, compact):
    """A point with a null or NaN coordinate lies in no polygon: the inner join
    gives it no row and left_anti returns it."""
    ring = [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]]
    doc = json.dumps(G.wrap_polygon_feature_collection(ring))
    polys = spark.createDataFrame([("sq", doc)], ["polygon_id", "geojson"])
    nan = float("nan")
    pts = spark.createDataFrame(
        [("in", 0.5, 0.5), ("out", 5.0, 5.0), ("null_lat", None, 0.5),
         ("null_lon", 0.5, None), ("nan_lat", nan, 0.5), ("nan_lon", 0.5, nan),
         ("nan_both", nan, nan)],
        "point_id string, lat double, lon double",
    )
    inner = SJ.spatial_join(pts, polys, zoom=12, compact=compact)
    assert [(r["point_id"], r["polygon_id"]) for r in inner.collect()] == [("in", "sq")]
    anti = SJ.spatial_join(pts, polys, zoom=12, compact=compact, how="left_anti")
    assert sorted(r["point_id"] for r in anti.collect()) == [
        "nan_both", "nan_lat", "nan_lon", "null_lat", "null_lon", "out",
    ]


@pytest.mark.parametrize(
    "kwargs,match",
    [
        pytest.param({"compact": True, "min_zoom": 16}, "min_zoom", id="True-16"),
        pytest.param({"compact": False, "min_zoom": 12}, "min_zoom", id="False-12"),
        pytest.param({"how": "outer"}, "how='outer'", id="how-outer"),
    ],
)
def test_min_zoom_outside_compact_cover_is_rejected(spark, data, kwargs, match):
    """min_zoom above zoom would leave no probe zoom (an empty join), without
    compact=True no cover reads it, and spatial_join has no 'outer' join: each
    raises ValueError before any Spark job runs or any frame is cached."""
    pts, polys = data
    pts_df = spark.createDataFrame(pts).withColumnRenamed("image_id", "point_id")
    polys_df = spark.createDataFrame(polys[["polygon_id", "geojson"]])
    group = "rejected_" + "_".join(f"{k}_{v}" for k, v in kwargs.items())
    sc = spark.sparkContext
    before = _persistent_rdds(spark)
    sc.setJobGroup(group, "must launch no job")
    try:
        with pytest.raises(ValueError, match=match):
            SJ.spatial_join(pts_df, polys_df, zoom=14, **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup(group)
    assert _persistent_rdds(spark) == before


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


def test_polygon_intersect_join_multipolygon_pairs_once(spark):
    """A two-part feature meets another feature when any part does, and the pair
    is reported once even when both parts meet it."""
    from geojson_utility_spark.operators.spatial_join import polygon_intersect_join

    sq = lambda x0, y0, s: [[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s], [x0, y0]]
    a = spark.createDataFrame(
        [("mp", _fc({"type": "MultiPolygon", "coordinates": [[sq(0, 0, 1)], [sq(2, 0, 1)]]})),
         ("far", _fc({"type": "Polygon", "coordinates": [sq(10, 10, 1)]}))],
        ["polygon_id", "geojson"],
    )
    bar = [[0.5, 0.25], [2.5, 0.25], [2.5, 0.75], [0.5, 0.75], [0.5, 0.25]]
    b = spark.createDataFrame(
        [("bar", _fc({"type": "Polygon", "coordinates": [bar]})),      # meets both parts
         ("touch", _fc({"type": "Polygon", "coordinates": [sq(3, 0, 1)]})),  # part 1's edge
         ("none", _fc({"type": "Polygon", "coordinates": [sq(5, 5, 1)]}))],
        ["polygon_id", "geojson"],
    )
    got = [tuple(r) for r in polygon_intersect_join(a, b, zoom=10).collect()]
    assert sorted(got) == [("mp", "bar"), ("mp", "touch")]


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


def _fc(geom):
    """A one-Feature FeatureCollection document of ``geom``."""
    return json.dumps({
        "type": "FeatureCollection",
        "features": [{"type": "Feature", "geometry": geom, "properties": {}}],
    })


def _holed_fc(outer, holes):
    return _fc({"type": "Polygon", "coordinates": [outer] + holes})


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
    got = {
        r["point_id"]
        for r in spatial_join(pts_df, polys, zoom=14, keep_holes=True).collect()
    }
    assert got == want, f"{len(got)} vs {len(want)}"
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
    from geojson_utility_spark.operators.spatial_join import spatial_join

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
    got_rows = spatial_join(pts_df, polys, zoom=14, keep_holes=True).collect()
    got = {(r["point_id"], r["polygon_id"]) for r in got_rows}
    assert got == want
    assert len(got_rows) == len(got)  # deduped: one row per (point, feature)
    # anti join: points in NO feature
    anti = {r["point_id"]
            for r in spatial_join(pts_df, polys, how="left_anti",
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
        r["cell_zoom"] for r in prep.cover_idx.select("cell_zoom").distinct().collect()
    }
    assert cover_zooms <= set(prep.zooms)
    got = {(r["point_id"], r["polygon_id"])
           for r in SJ.spatial_join(pts_df, prepared=prep).collect()}
    assert got == oracle_pairs
    prep.unpersist()


def test_streaming_spatial_join_matches_batch(spark, tmp_path):
    """A file-source stream through spatial_join's prepared index == the batch
    join on the same rows: the plan is stateless (one map-only Arrow pass, no
    watermark, no state store), so Structured Streaming runs it in append mode."""
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
    a MultiPolygon yields one row per part, each validated on its own; valid
    Polygons are untouched, in BOTH keep_holes modes."""
    square = [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]]
    shifted = [[x + 2.0, y] for x, y in square]
    bowtie = [[0.0, 0.0], [1.0, 1.0], [1.0, 0.0], [0.0, 1.0], [0.0, 0.0]]
    rows = [
        ("ok", _fc({"type": "Polygon", "coordinates": [square]})),
        ("pt", _fc({"type": "Point", "coordinates": [1.0, 2.0]})),
        ("ls", _fc({"type": "LineString", "coordinates": [[0.0, 0.0], [1.0, 1.0]]})),
        ("gc", _fc({"type": "GeometryCollection", "geometries": []})),
        ("mp", _fc({"type": "MultiPolygon", "coordinates": [[square], [shifted]]})),
        ("mp_bad", _fc({"type": "MultiPolygon", "coordinates": [[square], [bowtie]]})),
    ]
    polys = spark.createDataFrame(rows, ["polygon_id", "geojson"])
    for keep_holes in (False, True):
        got = {
            (r["polygon_id"], r["part_idx"]): r["poly_errors"]
            for r in SJ.normalize_polygons(polys, keep_holes=keep_holes).collect()
        }
        assert got[("ok", 0)] == ""
        for pid, gtype in (("pt", "Point"), ("ls", "LineString"),
                           ("gc", "GeometryCollection")):
            err = got[(pid, 0)]
            assert f"unsupported geometry type '{gtype}'" in err, (pid, err)
        assert got[("mp", 0)] == got[("mp", 1)] == ""
        assert got[("mp_bad", 0)] == ""
        assert "self-intersecting" in got[("mp_bad", 1)]
        assert len(got) == 8
