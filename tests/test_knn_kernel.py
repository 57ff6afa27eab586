"""knn_join's numpy kernel (functions/nearest.py: ring rounds + exhaustive pass)
against a numpy brute force that breaks distance ties by target id — no Spark."""

import math

import numpy as np
import pytest

from geojson_utility_spark.functions import nearest as N
from geojson_utility_spark.functions.pip import haversine_km

pytestmark = pytest.mark.filterwarnings("error::RuntimeWarning")


def brute(plat, plon, tlat, tlon, k):
    """(target positions, km) of each point's k nearest: by km, then position."""
    d = haversine_km(plat[:, None], plon[:, None], tlat[None, :], tlon[None, :])
    pos = np.broadcast_to(np.arange(tlat.size), d.shape)
    order = np.lexsort((pos, d), axis=1)[:, :k]
    return order, np.take_along_axis(d, order, 1)


def run_kernel(plat, plon, tlat, tlon, k, zoom, grid=True):
    """(target positions, km, resolving radius) per point, ranks as columns."""
    plat, plon, tlat, tlon = (np.asarray(v, dtype=np.float64) for v in (plat, plon, tlat, tlon))
    kk = min(k, tlat.size)
    got_t = np.full((plat.size, kk), -1)
    got_d = np.full((plat.size, kk), np.nan)
    radius = np.full(plat.size, -1)
    n_rows = 0
    for row, tpos, dist, rank, r in N.knn_blocks(plat, plon, N.knn_index(tlat, tlon, zoom, grid), k, zoom):
        got_t[row, rank - 1] = tpos
        got_d[row, rank - 1] = dist
        radius[row] = r
        n_rows += row.size
    assert n_rows == plat.size * kk and (got_t >= 0).all()
    return got_t, got_d, radius


def assert_exact(plat, plon, tlat, tlon, k, zoom, grid=True):
    plat, plon, tlat, tlon = (np.asarray(v, dtype=np.float64) for v in (plat, plon, tlat, tlon))
    got_t, got_d, radius = run_kernel(plat, plon, tlat, tlon, k, zoom, grid)
    want_t, want_d = brute(plat, plon, tlat, tlon, k)
    np.testing.assert_array_equal(got_t, want_t)
    np.testing.assert_allclose(got_d, want_d, rtol=0, atol=1e-9)
    return radius


def east_of(lat, lon, km):
    """Longitude of the point ``km`` due east of (lat, lon) on the same parallel."""
    dlon = 2 * math.asin(math.sin(km / (2 * 6371.0088)) / math.cos(math.radians(lat)))
    return lon + math.degrees(dlon)


def bound_km(r, lat, zoom):
    """The resolution bound, restated: (R-1) tile units at the window's highest
    latitude, times SAFETY = 0.95."""
    reach = min(85.0, abs(lat) + (r + 1) * 360.0 / 2**zoom)
    return 0.95 * (r - 1) * 40075.016686 / 2**zoom * math.cos(math.radians(reach))


def tpch_lattice(n_supp, n_cust):
    """The PTS_CUSTOMER x TGT_SUPPLIER formulas of the oracle's knn_grid entry."""
    s, c = np.arange(1, n_supp + 1), np.arange(1, n_cust + 1)
    tlat, tlon = (s * 37) % 140 - 70 + 0.5, (s * 73) % 340 - 170 + 0.5
    plat, plon = (c * 9973) % 14000 / 100.0 - 70.0, (c * 7919) % 34000 / 100.0 - 170.0
    return plat, plon, tlat.astype(float), tlon.astype(float)


def test_points_resolve_at_each_radius():
    """k-th candidate 2% past the R = 2, 8, 32 bounds: the point resolves one round
    later (32 -> exhaustive).  Pins R-1 and SAFETY: with R, or without SAFETY,
    each of these points would resolve a round early."""
    zoom, lat = 11, 0.02
    lons = [10.03, 30.03, 50.03, 70.03]
    kms = [0.5 * bound_km(2, lat, zoom)] + [1.02 * bound_km(r, lat, zoom) for r in (2, 8, 32)]
    tlon = [east_of(lat, lon, km) for lon, km in zip(lons, kms)]
    radius = assert_exact([lat] * 4, lons, [lat] * 4, tlon, 1, zoom)
    assert radius.tolist() == [2, 8, 32, 0]


@pytest.mark.parametrize("n_supp,n_cust", [(100, 1500), (1000, 3000)])
@pytest.mark.parametrize("grid", [False, True])
def test_tpch_lattice(n_supp, n_cust, grid):
    plat, plon, tlat, tlon = tpch_lattice(n_supp, n_cust)
    radius = assert_exact(plat, plon, tlat, tlon, 3, 7, grid)
    assert (radius > 0).any() == grid


@pytest.mark.parametrize("grid", [False, True])
def test_exact_ties_go_to_smaller_id(grid):
    """Mirror-image targets tie exactly.  The smaller id sits east (a later tile
    column) or south (a later tile row), so key order alone would pick wrong."""
    lats = np.linspace(-60.0, 60.0, 25)
    # points (lat, 0) between targets (lat, +x) [smaller id] and (lat, -x)
    plat, plon = list(lats), [0.0] * lats.size
    tlat, tlon = list(lats) + list(lats), [0.3] * lats.size + [-0.3] * lats.size
    # points (0, lon) between targets (-y, lon) [smaller id] and (+y, lon)
    lons = np.linspace(20.0, 170.0, 25)
    plat += [0.0] * lons.size
    plon += list(lons)
    tlat += [-0.2] * lons.size + [0.2] * lons.size
    tlon += list(lons) + list(lons)
    for k in (1, 2):
        assert_exact(plat, plon, tlat, tlon, k, 11, grid)
    got_t, got_d, _ = run_kernel(plat, plon, tlat, tlon, 2, 11, grid)
    assert (got_d[:, 0] == got_d[:, 1]).all()
    assert (got_t[:, 0] < got_t[:, 1]).all()


def test_duplicate_target_positions():
    rng = np.random.default_rng(3)
    lat, lon = rng.uniform(40, 41, 200), rng.uniform(0, 1, 200)
    perm = rng.permutation(600)  # copies of one position get scattered ids
    tlat, tlon = np.repeat(lat, 3)[perm], np.repeat(lon, 3)[perm]
    plat, plon = rng.uniform(40, 41, 2000), rng.uniform(0, 1, 2000)
    for k in (1, 4):
        assert_exact(plat, plon, tlat, tlon, k, 11)


@pytest.mark.parametrize("zoom", [5, 7, 11])
@pytest.mark.parametrize("k", [1, 3])
def test_poles_and_antimeridian(zoom, k):
    rng = np.random.default_rng(zoom)
    tlat = np.concatenate([np.degrees(np.arcsin(rng.uniform(-1, 1, 400))), rng.uniform(85.1, 90, 5)])
    tlon = rng.uniform(-180, 180, tlat.size)
    plat = np.concatenate([
        np.degrees(np.arcsin(rng.uniform(-1, 1, 1000))),
        rng.uniform(85.06, 90, 200),  # past the Mercator limit, both poles
        rng.uniform(-90, -85.06, 200),
        rng.uniform(-20, 20, 300),  # across the antimeridian
    ])
    plon = np.concatenate([rng.uniform(-180, 180, 1400), rng.choice([-1, 1], 300) * rng.uniform(179, 180, 300)])
    assert_exact(plat, plon, tlat, tlon, k, zoom)


def test_antimeridian_neighbours():
    """Points just east of -180 whose nearest targets sit just west of +180."""
    rng = np.random.default_rng(5)
    plat, plon = rng.uniform(-10, 10, 1000), rng.uniform(-180, -179.5, 1000)
    tlat = rng.uniform(-10, 10, 400)
    tlon = np.where(np.arange(400) % 2 == 0, rng.uniform(179, 180, 400), rng.uniform(-150, -140, 400))
    radius = assert_exact(plat, plon, tlat, tlon, 2, 9)
    assert (radius == 2).mean() > 0.5


def test_path_over_the_pole():
    """From (88, 0) the target at (88, 180) is 445 km away over the pole, outside
    every window; (82, 0) at 667 km is inside the R = 32 window and within its
    tile bound.  The meridian distance to the Mercator limit caps the bound."""
    rng = np.random.default_rng(9)
    tlat = np.concatenate([[88.0, 82.0], rng.uniform(-60, -50, 400)])
    tlon = np.concatenate([[180.0, 0.0], rng.uniform(0, 10, 400)])
    got_t, _, _ = run_kernel([88.0], [0.0], tlat, tlon, 1, 7)
    assert got_t[0, 0] == 0
    assert_exact([88.0, 84.0, -87.0], [0.0, 0.0, 5.0], tlat, tlon, 2, 7)


@pytest.mark.parametrize("n_tgt,k", [(3, 5), (301, 305)])
@pytest.mark.parametrize("grid", [False, True])
def test_k_exceeds_targets(n_tgt, k, grid):
    rng = np.random.default_rng(n_tgt)
    plat, plon = rng.uniform(-50, 50, 200), rng.uniform(-50, 50, 200)
    tlat, tlon = rng.uniform(-50, 50, n_tgt), rng.uniform(-50, 50, n_tgt)
    got_t, _, radius = run_kernel(plat, plon, tlat, tlon, k, 9, grid)
    assert got_t.shape == (200, n_tgt) and (radius == 0).all()
    assert_exact(plat, plon, tlat, tlon, k, 9, grid)


@pytest.mark.parametrize("grid", [False, True])
def test_no_targets(grid):
    index = N.knn_index(np.empty(0), np.empty(0), 9, grid)
    assert list(N.knn_blocks(np.array([1.0]), np.array([2.0]), index, 3, 9)) == []


@pytest.mark.parametrize("grid", [False, True])
def test_many_blocks_and_chunks(monkeypatch, grid):
    """Small BLOCK and CAND_MAX: many point blocks, candidate chunks and
    exhaustive sub-blocks per call give the same rows."""
    monkeypatch.setattr(N, "BLOCK", 100)
    monkeypatch.setattr(N, "CAND_MAX", 5000)
    plat, plon, tlat, tlon = tpch_lattice(1000, 3000)
    radius = assert_exact(plat, plon, tlat, tlon, 3, 7, grid)
    assert (radius > 0).any() == grid


@pytest.mark.parametrize("grid", [False, True])
def test_non_finite_points_get_no_rows(grid):
    rng = np.random.default_rng(11)
    tlat, tlon = rng.uniform(-50, 50, 400), rng.uniform(-50, 50, 400)
    plat, plon = rng.uniform(-50, 50, 300), rng.uniform(-50, 50, 300)
    bad = np.arange(0, 300, 7)
    plat[bad[::2]], plon[bad[1::2]] = np.nan, np.inf
    out = list(N.knn_blocks(plat, plon, N.knn_index(tlat, tlon, 9, grid), 3, 9))
    rows = np.concatenate([row for row, *_ in out])
    assert not np.isin(rows, bad).any() and rows.size == 3 * (300 - bad.size)
    good = np.setdiff1d(np.arange(300), bad)
    assert_exact(plat[good], plon[good], tlat, tlon, 3, 9, grid)
