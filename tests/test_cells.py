"""Unit tests for the pure-numpy hierarchical cell index (functions/cells.py)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from geojson_utility_spark.functions import cells as C
from geojson_utility_spark.functions import pip as P


def test_pack_unpack_roundtrip():
    z = np.array([0, 5, 13, 29])
    x = np.array([0, 17, 4000, (1 << 29) - 1])
    y = np.array([0, 3, 8000, (1 << 29) - 1])
    cz, cx, cy = C.unpack_cell(C.pack_cell(z, x, y))
    np.testing.assert_array_equal(cz, z)
    np.testing.assert_array_equal(cx, x)
    np.testing.assert_array_equal(cy, y)


def test_latlng_to_cell_known_values():
    # zoom 1: 2x2 tiles; Delhi (28.5, 77.07) -> east half, north half -> x=1, y=0
    cell = int(C.latlng_to_cell(28.5065162, 77.073938, 1)[()] if np.isscalar(28.5) else C.latlng_to_cell([28.5065162], [77.073938], 1)[0])
    z, x, y = (int(v) for v in C.unpack_cell(np.int64(cell)))
    assert (z, x, y) == (1, 1, 0)


def test_cell_contains_its_center():
    lats = np.array([28.5065162, -33.8688, 51.5072, 0.0001])
    lons = np.array([77.073938, 151.2093, -0.1276, 0.0001])
    for zoom in (5, 13, 17):
        cell = C.latlng_to_cell(lats, lons, zoom)
        w, s, e, n = C.cell_bounds(cell)
        again = C.latlng_to_cell((s + n) / 2.0, (w + e) / 2.0, zoom)
        np.testing.assert_array_equal(cell, again)


@given(
    lat=st.floats(min_value=-85.0, max_value=85.0, allow_nan=False),
    lon=st.floats(min_value=-179.999, max_value=179.999, allow_nan=False),
    zoom=st.integers(min_value=1, max_value=20),
)
@settings(max_examples=200, deadline=None)
def test_parent_is_prefix(lat, lon, zoom):
    fine = C.latlng_to_cell([lat], [lon], zoom)
    coarse = C.latlng_to_cell([lat], [lon], zoom - 1)
    np.testing.assert_array_equal(C.cell_to_parent(fine, zoom - 1), coarse)


def test_cell_bounds_contain_point():
    lat, lon = 28.5065162, 77.073938
    cell = C.latlng_to_cell([lat], [lon], 13)
    w, s, e, n = C.cell_bounds(cell)
    assert w[0] <= lon <= e[0]
    assert s[0] <= lat <= n[0]


def test_children_partition_parent():
    cell = int(C.latlng_to_cell([28.5], [77.0], 10)[0])
    kids = C.cell_to_children(cell, 12)
    assert len(kids) == 16
    np.testing.assert_array_equal(
        np.unique(C.cell_to_parent(kids, 10)), np.array([cell], dtype=np.int64)
    )


SQUARE = np.array([[77.0, 28.0], [77.2, 28.0], [77.2, 28.2], [77.0, 28.2], [77.0, 28.0]])


def test_polygon_to_cells_covers_interior_points():
    zoom = 12
    cover = set(C.polygon_to_cells(SQUARE, zoom).tolist())
    rng = np.random.default_rng(42)
    lats = rng.uniform(28.0001, 28.1999, 500)
    lons = rng.uniform(77.0001, 77.1999, 500)
    pt_cells = C.latlng_to_cell(lats, lons, zoom)
    assert set(pt_cells.tolist()) <= cover, "covering must be a superset (no false negatives)"


def test_polygon_to_cells_not_too_loose():
    zoom = 12
    cover = C.polygon_to_cells(SQUARE, zoom)
    # bbox of covering cells shouldn't exceed polygon bbox by more than 1 tile margin
    w, s, e, n = C.cell_bounds(cover)
    tile_w = (e - w).max()
    assert w.min() >= 77.0 - tile_w
    assert e.max() <= 77.2 + tile_w


def test_compact_uncompact_roundtrip():
    zoom = 12
    cover = C.polygon_to_cells(SQUARE, zoom)
    compacted = C.compact_cells(cover)
    assert len(compacted) < len(cover)  # square region must compact
    restored = C.uncompact_cells(compacted, zoom)
    np.testing.assert_array_equal(restored, np.sort(cover))


def test_compact_full_parent():
    parent = int(C.latlng_to_cell([28.5], [77.0], 10)[0])
    kids = C.cell_to_children(parent, 11)
    out = C.compact_cells(kids)
    np.testing.assert_array_equal(out, np.array([parent], dtype=np.int64))
    # partial set does not compact
    out2 = C.compact_cells(kids[:3])
    assert len(out2) == 3


def test_quadkey_roundtrip_and_prefix():
    cell = C.latlng_to_cell([28.5065162], [77.073938], 15)
    qk = C.cell_to_quadkey(cell)
    assert len(qk[0]) == 15
    np.testing.assert_array_equal(C.quadkey_to_cell(qk), cell)
    parent_qk = C.cell_to_quadkey(C.cell_to_parent(cell, 10))
    assert qk[0].startswith(parent_qk[0])  # quadkey hierarchy = string prefix


@given(
    lat=st.floats(min_value=-85.0, max_value=85.0, allow_nan=False),
    lon=st.floats(min_value=-180.0, max_value=179.999, allow_nan=False),
)
@settings(max_examples=100, deadline=None)
def test_quadkey_bijection(lat, lon):
    cell = C.latlng_to_cell([lat], [lon], 17)
    np.testing.assert_array_equal(C.quadkey_to_cell(C.cell_to_quadkey(cell)), cell)


def test_adaptive_cover_equals_bruteforce():
    """adaptive descent + uncompact == brute-force fine-zoom covering."""
    from geojson_utility_spark.functions import geometry as G

    rings = [
        SQUARE,
        G.synth_catchment_ring(28.6, 77.2, 5000, "drive_distance"),
        G.synth_catchment_ring(19.0, 72.8, 150000, "drive_distance", 48),
    ]
    for ring in rings:
        for zoom in (10, 12):
            brute = C.polygon_to_cells(np.asarray(ring), zoom)
            adaptive = C.uncompact_cells(
                C.polygon_to_cells_adaptive(np.asarray(ring), zoom), zoom
            )
            np.testing.assert_array_equal(adaptive, np.sort(brute))


def test_adaptive_cover_is_compact_and_fast():
    import time

    from geojson_utility_spark.functions import geometry as G

    big = G.synth_catchment_ring(19.0, 72.8, 150000, "drive_distance", 48)
    t0 = time.perf_counter()
    cover = C.polygon_to_cells_adaptive(np.asarray(big), 13)
    dt = time.perf_counter() - t0
    assert dt < 2.0, f"adaptive covering too slow: {dt:.2f}s"
    # mixed zooms present and far fewer cells than the uncompacted cover
    zs = C.unpack_cell(cover)[0]
    assert len(set(zs.tolist())) > 1
    full = C.uncompact_cells(cover, 13)
    assert len(cover) < len(full) / 3
