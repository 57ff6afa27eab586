"""Spark-free equivalence of the polygon-side kernels with their plain formulations.

The tile cover computes each cross product once (``cells._tiles_meet_ring``,
``cells._chains_meet``) and the raster ray-casts one pixel row at a time
(``pip.RingKernel.covers_grid``).  Both must give exactly what the plain
formulations give: the four ``on_seg`` segment test below, and
``points_in_polygon`` over the pixel meshgrid.  The rings are integer grids, so
the degenerate cases are exact: collinear edges, ring vertices on tile corners and
pixels, horizontal edges on a pixel row, ring edges along a tile side.
"""

import numpy as np
import pytest

from geojson_utility_spark.functions import cells as C
from geojson_utility_spark.functions import pip as P
from geojson_utility_spark.functions.polyops import rings_intersect

pytestmark = pytest.mark.filterwarnings("error::RuntimeWarning")


def _segments_intersect(a1, a2, b1, b2):
    """Proper or touching intersection of every (a, b) segment pair, with each
    endpoint-on-segment case recomputing its cross product."""
    def cross(o, d, p):
        return (d[..., 0] - o[..., 0]) * (p[..., 1] - o[..., 1]) - (
            d[..., 1] - o[..., 1]
        ) * (p[..., 0] - o[..., 0])

    a1e, a2e = a1[:, None, :], a2[:, None, :]
    b1e, b2e = b1[None, :, :], b2[None, :, :]
    d1, d2 = cross(a1e, a2e, b1e), cross(a1e, a2e, b2e)
    d3, d4 = cross(b1e, b2e, a1e), cross(b1e, b2e, a2e)
    proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))

    def on_seg(o, d, p):
        return (
            (cross(o, d, p) == 0)
            & (np.minimum(o[..., 0], d[..., 0]) <= p[..., 0])
            & (p[..., 0] <= np.maximum(o[..., 0], d[..., 0]))
            & (np.minimum(o[..., 1], d[..., 1]) <= p[..., 1])
            & (p[..., 1] <= np.maximum(o[..., 1], d[..., 1]))
        )

    touch = (
        on_seg(a1e, a2e, b1e) | on_seg(a1e, a2e, b2e)
        | on_seg(b1e, b2e, a1e) | on_seg(b1e, b2e, a2e)
    )
    return proper | touch


def _sides_meet(w, s, e, n, ring):
    """Tile sides S, E, N, W one at a time against every ring edge."""
    hit = np.zeros(w.shape[0], dtype=bool)
    for ax, ay, bx, by in ((w, s, e, s), (e, s, e, n), (e, n, w, n), (w, n, w, s)):
        a1, a2 = np.stack([ax, ay], axis=1), np.stack([bx, by], axis=1)
        hit |= _segments_intersect(a1, a2, ring[:-1], ring[1:]).any(axis=1)
    return hit


def _classify_tiles(cand, ring):
    """The cover's tile classification with one corner ray cast per tile corner and
    the per-side segment test."""
    w, s, e, n = C.cell_bounds(cand)
    corners_in = np.stack(
        [C._points_in_ring(px, py, ring) for px, py in ((w, s), (w, n), (e, s), (e, n))]
    )
    all_corners, any_corner = corners_in.all(axis=0), corners_in.any(axis=0)
    vx, vy = ring[:-1, 0][None, :], ring[:-1, 1][None, :]
    vert_in = (
        (vx >= w[:, None]) & (vx <= e[:, None]) & (vy >= s[:, None]) & (vy <= n[:, None])
    ).any(axis=1)
    edge_cross = _sides_meet(w, s, e, n, ring) & (~vert_in | all_corners)
    center_in = C._points_in_ring((w + e) / 2.0, (s + n) / 2.0, ring)
    return (
        all_corners & ~vert_in & ~edge_cross,
        any_corner | vert_in | edge_cross | center_in,
    )


def _integer_rings(rng, n, hi):
    """Random closed rings on the integer grid [0, hi]^2, plus shapes that put
    every degenerate case on the grid."""
    rings = [
        [(0, 0), (2, 0), (4, 0), (4, 4), (0, 4)],  # collinear vertices along y = 0
        [(1, 1), (3, 1), (3, 3), (1, 3)],  # edges along grid lines
        [(0, 0), (4, 4), (0, 4)],  # diagonal through grid vertices
        [(0, 2), (2, 0), (4, 2), (2, 4)],  # diamond: vertices on grid lines
        [(1, 0), (1, 4), (1, 2), (3, 2)],  # spike back along its own edge
        [(0, 0), (1, 0), (1, 1), (2, 1), (2, 2), (0, 2)],  # staircase
    ]
    for _ in range(n):
        m = int(rng.integers(3, 8))
        rings.append([tuple(v) for v in rng.integers(0, hi + 1, (m, 2))])
    return [np.asarray(r + [r[0]], dtype=np.float64) for r in rings]


def test_tile_sides_match_on_seg_formulation():
    rng = np.random.default_rng(20)
    rects = rng.integers(0, 6, (400, 4))
    w = np.minimum(rects[:, 0], rects[:, 1]).astype(float)
    e = np.maximum(rects[:, 0], rects[:, 1]).astype(float) + 1.0
    s = np.minimum(rects[:, 2], rects[:, 3]).astype(float)
    n = np.maximum(rects[:, 2], rects[:, 3]).astype(float) + 1.0
    touched = 0
    for ring in _integer_rings(rng, 300, 6):
        want = _sides_meet(w, s, e, n, ring)
        np.testing.assert_array_equal(C._tiles_meet_ring(w, s, e, n, ring), want)
        touched += int(want.sum())
    assert touched > 1000


def _grid_vertices(z, x0, y0, size):
    """Lon of grid columns and lat of grid rows [x0, x0 + size] x [y0, y0 + size] at
    zoom z: the exact corner coordinates of the tiles there."""
    k = np.arange(size + 1)
    w, _, _, n = C.cell_bounds(C.pack_cell(z, x0 + k, y0 + k))
    return w, n


@pytest.mark.parametrize("z", [6, 12, 17])
def test_classify_tiles_matches_plain_formulation(z):
    rng = np.random.default_rng(z)
    x0, y0, size = 5 << (z - 5), 11 << (z - 5), 6
    lons, lats = _grid_vertices(z, x0, y0, size)
    for ring in _integer_rings(rng, 60, size):
        # ring vertices on tile corners: grid index -> that corner's lon / lat
        geo = np.stack([lons[ring[:, 0].astype(int)], lats[ring[:, 1].astype(int)]], axis=1)
        for dz in (0, 1, 2):
            xs = np.arange(x0 << dz, (x0 + size) << dz)
            ys = np.arange(y0 << dz, (y0 + size) << dz)
            gx, gy = np.meshgrid(xs, ys, indexing="ij")
            cand = C.pack_cell(z + dz, gx.ravel(), gy.ravel())
            got = C._classify_tiles(cand, geo)
            want = _classify_tiles(cand, geo)
            np.testing.assert_array_equal(got[0], want[0])
            np.testing.assert_array_equal(got[1], want[1])


def test_rings_intersect_matches_plain_formulation():
    rng = np.random.default_rng(21)
    met = 0
    for _ in range(1500):
        a = rng.integers(0, 7, (int(rng.integers(3, 7)), 2)).astype(float)
        b = rng.integers(0, 7, (int(rng.integers(3, 7)), 2)).astype(float)
        ra, rb = P.ensure_closed(a), P.ensure_closed(b)
        want = bool(
            P.points_in_ring(b[:, 0], b[:, 1], a).any()
            or P.points_in_ring(a[:, 0], a[:, 1], b).any()
            or _segments_intersect(ra[:-1], ra[1:], rb[:-1], rb[1:]).any()
        )
        assert rings_intersect(a, b) == want
        met += want
    assert 0 < met < 1500


def _meshgrid_covers(ring, px, py):
    glon, glat = np.meshgrid(px, py)
    return P.points_in_polygon(glon.ravel(), glat.ravel(), [ring]).reshape(
        py.shape[0], px.shape[0]
    )


def test_covers_grid_matches_meshgrid_on_integer_pixels():
    rng = np.random.default_rng(22)
    px = np.arange(-1.0, 9.0)
    on_edge = 0
    for ring in _integer_rings(rng, 300, 7):
        kern = P.RingKernel(ring)
        for py in (px[::-1], px):  # raster rows run north to south
            got = kern.covers_grid(px, py)
            np.testing.assert_array_equal(got, _meshgrid_covers(ring, px, py))
        glon, glat = np.meshgrid(px, px)
        on_edge += int(kern.test_block(glon.ravel(), glat.ravel())[1].sum())
    assert on_edge > 1000


def test_covers_grid_matches_meshgrid_on_tile_pixels():
    """Ring vertices on pixel centres of a real tile: horizontal ring edges lie on
    pixel rows, and the tile's own sides are ring edges too."""
    rng = np.random.default_rng(23)
    size = 16
    ii = (np.arange(size) + 0.5) / size
    cells = C.pack_cell(10, np.array([730, 731]), np.array([430, 431]))
    for w, s, e, n in zip(*C.cell_bounds(cells)):
        lons, lats = w + ii * (e - w), n + ii * (s - n)
        pts_x = np.concatenate([[w], lons, [e]])
        pts_y = np.concatenate([[n], lats, [s]])
        rings = [np.array([[w, s], [e, s], [e, n], [w, n], [w, s]])]
        for _ in range(80):
            m = int(rng.integers(3, 8))
            v = np.stack(
                [pts_x[rng.integers(0, size + 2, m)], pts_y[rng.integers(0, size + 2, m)]],
                axis=1,
            )
            rings.append(np.vstack([v, v[:1]]))
        for ring in rings:
            got = P.RingKernel(ring).covers_grid(lons, lats)
            np.testing.assert_array_equal(got, _meshgrid_covers(ring, lons, lats))


def test_subnormal_dy_edge_crossing():
    """dx / dy overflows on the edge (0, 0) -> (10, 1e-310); its crossing must
    still land at x = 5 on the row y = 5e-311.  The cover's ray cast computes
    (py - y1) * dx / dy for every (point, edge) pair, so a point far above the
    edge overflows there too, without a warning."""
    tri = np.array([[0.0, 0.0], [10.0, 1e-310], [5.0, 5.0]])
    px, py = np.array([20.0, 3.0]), np.array([5e-311, 5e-311])
    np.testing.assert_array_equal(P.points_in_ring(px, py, tri), [False, True])
    np.testing.assert_array_equal(
        P.RingKernel(tri).covers_grid(px[::-1], py[:1]), [[True, False]]
    )
    closed = np.vstack([tri, tri[:1]])
    np.testing.assert_array_equal(
        C._points_in_ring(px, np.array([1.0, 5e-311]), closed), [False, True]
    )


def test_min_normal_dy_edge_crossing():
    """On the edge (0, 0) -> (2, 2**-1022) dx / dy = 2**1023 is finite, so
    ``(py - y1) * slope`` overflows for a point far above the edge; that pair does
    not straddle and must be dropped without a warning."""
    tri = np.array([[0.0, 0.0], [2.0, 2.0**-1022], [1.0, 5.0]])
    px, py = np.array([3.0, 0.5, 1.0]), np.array([2.0**-1023, 2.0**-1023, 4.0])
    np.testing.assert_array_equal(P.points_in_ring(px, py, tri), [False, True, True])
    np.testing.assert_array_equal(
        P.RingKernel(tri).covers_grid(np.array([0.5, 3.0]), np.array([2.0**-1023, 4.0])),
        [[True, False], [False, False]],
    )
