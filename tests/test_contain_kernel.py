"""The spatial join's kernel (functions/contain.py) against brute force (no Spark).

Every (point, polygon) pair ``contain_blocks`` yields over a cover index must be
exactly the pairs ``pip.points_in_polygon`` finds by ray-casting every point
against every polygon's rings.  The index is built as ``prepare_polygons`` builds
it: ``polygon_cells`` per polygon, ``cover_index`` over all of them, and the probe
zooms ``prepare_polygons`` would pick.
"""

import numpy as np
import pyarrow as pa
import pytest

from geojson_utility_spark.functions import cells as C
from geojson_utility_spark.functions import contain as K
from geojson_utility_spark.functions import pip as P
from geojson_utility_spark.operators.spatial_join import polygon_cells

ZOOM = 13


def _square(w, s, e, n):
    return np.array([[w, s], [e, s], [e, n], [w, n], [w, s]], dtype=np.float64)


def _polygons():
    """[outer, *holes] per polygon: two overlapping squares that share cover
    cells, a square whose edges lie on tile edges, a triangle, a holed square."""
    tw, ts, te, tn = (float(v) for v in C.cell_bounds(C.latlng_to_cell(5.0, 5.0, 9)))
    return [
        [_square(1.0, 1.0, 2.0, 2.0)],
        [_square(1.5, 1.5, 2.5, 2.5)],
        [_square(tw, ts, te, tn)],
        [np.array([[3.0, 0.2], [4.2, 0.2], [3.6, 1.4], [3.0, 0.2]])],
        [_square(6.0, 0.0, 7.0, 1.0), _square(6.3, 0.3, 6.7, 0.7)],
    ]


def _index(polys, compact, min_zoom):
    parts = [polygon_cells(rings, ZOOM, compact, min_zoom) for rings in polys]
    cells = np.concatenate([c for c, _ in parts])
    poly = np.concatenate([np.full(len(c), i, np.int32) for i, (c, _) in enumerate(parts)])
    interior = np.concatenate([i for _, i in parts])
    if not compact:
        zooms = [ZOOM]
    elif min_zoom is not None:
        zooms = list(range(min_zoom, ZOOM + 1))
    else:
        zooms = np.unique(C.unpack_cell(cells)[0]).tolist()
    return K.cover_index(cells, poly, interior), zooms


def _points(polys, index):
    """Random points over the polygons, plus every polygon vertex and edge
    midpoint, every cover tile corner and tile edge midpoint, and non-finite
    and null coordinates (a null reads from Arrow as NaN)."""
    rng = np.random.default_rng(5)
    lon = [rng.uniform(0.5, 7.5, 6000)]
    lat = [rng.uniform(-0.5, 6.0, 6000)]
    for rings in polys:
        for r in rings:
            mid = (r[:-1] + r[1:]) / 2
            lon += [r[:, 0], mid[:, 0]]
            lat += [r[:, 1], mid[:, 1]]
    w, s, e, n = C.cell_bounds(index[0])
    lon += [w, w, e, e, (w + e) / 2, (w + e) / 2, w, e]
    lat += [s, n, s, n, s, n, (s + n) / 2, (s + n) / 2]
    bad = pa.array([1.5, None, np.nan, np.inf, -np.inf, 1.5], pa.float64())
    lon.append(bad.to_numpy(zero_copy_only=False))
    lat.append(bad.to_numpy(zero_copy_only=False)[::-1])
    return np.concatenate(lat), np.concatenate(lon)


def _brute_force(lat, lon, polys):
    ok = np.isfinite(lat + lon)
    return {
        (int(row), k)
        for k, rings in enumerate(polys)
        for row in np.flatnonzero(ok)[P.points_in_polygon(lon[ok], lat[ok], rings)]
    }


def _pairs(lat, lon, index, polys, zooms):
    got = [(r, p) for r, p in K.contain_blocks(lat, lon, index, polys, ZOOM, zooms, {})]
    rows = [int(v) for r, _ in got for v in r]
    pairs = {(int(r), int(p)) for rs, ps in got for r, p in zip(rs, ps)}
    assert len(rows) == len(pairs), "a (point, polygon) pair was yielded twice"
    return pairs


@pytest.mark.parametrize("block", [K.BLOCK, 700])
@pytest.mark.parametrize(
    "compact,min_zoom", [(False, None), (True, None), (True, ZOOM - 1)],
    ids=["expanded", "compact", "compact-min_zoom"],
)
def test_contain_blocks_match_brute_force(monkeypatch, block, compact, min_zoom):
    polys = _polygons()
    index, zooms = _index(polys, compact, min_zoom)
    if compact:
        assert len(zooms) > 1, "the cover should span several zooms"
        assert len(np.unique(index[0])) < len(index[0]), "polygons should share cells"
    lat, lon = _points(polys, index)
    monkeypatch.setattr(K, "BLOCK", block)
    want = _brute_force(lat, lon, polys)
    got = _pairs(lat, lon, index, polys, zooms)
    assert got == want
    # every polygon matches; the overlap puts points in two polygons; the hole
    # and the non-finite rows match nothing
    assert {p for _, p in want} == set(range(len(polys)))
    rows = [r for r, _ in want]
    assert len(rows) > len(set(rows))
    hole_centre = np.flatnonzero((np.abs(lon - 6.5) < 0.1) & (np.abs(lat - 0.5) < 0.1))
    assert hole_centre.size and not {r for r in rows if r in set(hole_centre)}


def test_contain_blocks_skip_empty_blocks(monkeypatch):
    """A block of only non-finite points and an empty input yield nothing, and
    the blocks after an empty one keep their input rows."""
    polys = _polygons()
    index, zooms = _index(polys, True, None)
    monkeypatch.setattr(K, "BLOCK", 4)
    lat = np.array([np.nan, np.inf, np.nan, np.nan, 1.25, 9.0])
    lon = np.array([1.25, np.nan, -np.inf, np.nan, 1.25, 9.0])
    assert _pairs(lat, lon, index, polys, zooms) == {(4, 0)}
    empty = np.empty(0)
    assert list(K.contain_blocks(empty, empty, index, polys, ZOOM, zooms, {})) == []
    no_cover = K.cover_index(np.empty(0, np.int64), np.empty(0, np.int32), np.empty(0, bool))
    assert list(K.contain_blocks(lat, lon, no_cover, polys, ZOOM, [], {})) == []


@pytest.mark.parametrize("compact", [False, True], ids=["expanded", "compact"])
def test_two_part_feature_pairs_once(compact):
    """Feature 0 has two parts that share an edge (lon 2, lat 1..2); feature 1 is
    one square.  A point on the shared edge or on a shared vertex lies in both
    parts and still yields one (point, feature) pair; the pairs equal the union
    of the parts' brute-force pairs."""
    polys = [[_square(1.0, 1.0, 2.0, 2.0)], [_square(2.0, 1.0, 3.0, 2.0)],
             [_square(5.0, 5.0, 6.0, 6.0)]]
    feature = np.array([0, 0, 1], dtype=np.int32)
    parts = [polygon_cells(rings, ZOOM, compact, None) for rings in polys]
    cells = np.concatenate([c for c, _ in parts])
    part = np.concatenate([np.full(len(c), i, np.int32) for i, (c, _) in enumerate(parts)])
    index = K.cover_index(cells, part, np.concatenate([i for _, i in parts]), feature)
    zooms = np.unique(C.unpack_cell(cells)[0]).tolist()
    planted_lon = np.array([2.0, 2.0, 2.0, 1.5, 2.5, 5.5, 9.0])
    planted_lat = np.array([1.5, 1.0, 2.0, 1.5, 1.5, 5.5, 9.0])
    rng = np.random.default_rng(7)
    lon = np.concatenate([planted_lon, rng.uniform(0.5, 6.5, 3000)])
    lat = np.concatenate([planted_lat, rng.uniform(0.5, 6.5, 3000)])
    got = _pairs(lat, lon, index, polys, zooms)
    assert {(r, f) for r, f in got if r < 7} == {(0, 0), (1, 0), (2, 0), (3, 0), (4, 0), (5, 1)}
    assert got == {(r, int(feature[k])) for r, k in _brute_force(lat, lon, polys)}
