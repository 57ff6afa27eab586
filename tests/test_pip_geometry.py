"""PIP + polygon normalize/validate tests, incl. property tests vs a scalar oracle."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from geojson_utility_spark.functions import geometry as G
from geojson_utility_spark.functions import pip as P

pytestmark = pytest.mark.filterwarnings("error::RuntimeWarning")

SQUARE = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]])
CONCAVE = np.array(  # C-shape
    [[0, 0], [10, 0], [10, 3], [3, 3], [3, 7], [10, 7], [10, 10], [0, 10], [0, 0]],
    dtype=np.float64,
)


def scalar_pip_oracle(px, py, ring):
    """Textbook scalar even-odd ray cast (independent oracle)."""
    inside = False
    n = len(ring) - 1
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[i + 1]
        if (y1 <= py) != (y2 <= py):
            xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
            if px < xint:
                inside = not inside
    return inside


def test_square_basic():
    px = np.array([5.0, -1.0, 10.5, 5.0])
    py = np.array([5.0, 5.0, 5.0, 15.0])
    got = P.points_in_ring(px, py, SQUARE)
    np.testing.assert_array_equal(got, [True, False, False, False])


def test_boundary_inclusive():
    px = np.array([0.0, 10.0, 5.0, 0.0])
    py = np.array([5.0, 5.0, 0.0, 0.0])  # left edge, right edge, bottom edge, corner
    got = P.points_in_ring(px, py, SQUARE, boundary="include")
    np.testing.assert_array_equal(got, [True, True, True, True])
    strict = P.points_in_ring(px, py, SQUARE, boundary="exclude")
    np.testing.assert_array_equal(strict, [False, False, False, False])


def test_concave():
    px = np.array([5.0, 5.0, 5.0])
    py = np.array([1.0, 5.0, 9.0])  # bottom arm, notch (outside), top arm
    got = P.points_in_ring(px, py, CONCAVE)
    np.testing.assert_array_equal(got, [True, False, True])


def test_polygon_with_hole():
    outer = SQUARE
    hole = np.array([[3.0, 3.0], [7.0, 3.0], [7.0, 7.0], [3.0, 7.0], [3.0, 3.0]])
    px = np.array([1.0, 5.0, 3.0])
    py = np.array([1.0, 5.0, 5.0])  # in ring, in hole, on hole edge
    got = P.points_in_polygon(px, py, [outer, hole], boundary="include")
    np.testing.assert_array_equal(got, [True, False, True])


@given(
    px=st.floats(min_value=-15, max_value=15, allow_nan=False),
    py=st.floats(min_value=-15, max_value=15, allow_nan=False),
)
@settings(max_examples=300, deadline=None)
def test_pip_matches_scalar_oracle(px, py):
    for ring in (SQUARE, CONCAVE):
        got = P.points_in_ring(np.array([px]), np.array([py]), ring, boundary="exclude")
        covers = P.points_in_ring(np.array([px]), np.array([py]), ring, boundary="include")
        if got[0] == covers[0]:  # off the edges: the oracle is half-open on them
            assert got[0] == scalar_pip_oracle(px, py, ring)


@given(
    cx=st.floats(min_value=-50, max_value=50),
    cy=st.floats(min_value=-50, max_value=50),
    r=st.floats(min_value=0.1, max_value=20),
    nv=st.integers(min_value=3, max_value=40),
    frac=st.floats(min_value=0.0, max_value=2.0),
    theta=st.floats(min_value=0, max_value=6.28),
)
@settings(max_examples=200, deadline=None)
def test_pip_regular_polygon_radial(cx, cy, r, nv, frac, theta):
    """Point at radius frac*apothem from center of a regular polygon: inside iff frac<1
    (apothem = inradius, so anything under it is inside regardless of angle)."""
    ang = np.linspace(0, 2 * np.pi, nv, endpoint=False)
    ring = np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang)], axis=1)
    ring = np.vstack([ring, ring[:1]])
    apothem = r * np.cos(np.pi / nv)
    px = cx + frac * apothem * np.cos(theta)
    py = cy + frac * apothem * np.sin(theta)
    got = P.points_in_ring(np.array([px]), np.array([py]), ring)[0]
    if frac < 0.999:
        assert got
    elif frac > 1.0 / np.cos(np.pi / nv) + 0.001:  # beyond circumradius
        assert not got


def test_signed_area_and_winding():
    assert G.signed_area(SQUARE) > 0  # CCW
    assert G.signed_area(SQUARE[::-1]) < 0
    fixed = G.normalize_winding(SQUARE[::-1].copy(), ccw=True)
    assert G.signed_area(fixed) > 0


def test_self_intersection_bowtie():
    bowtie = np.array([[0, 0], [10, 10], [10, 0], [0, 10], [0, 0]], dtype=np.float64)
    assert G.ring_self_intersects(bowtie)
    assert not G.ring_self_intersects(SQUARE)
    assert not G.ring_self_intersects(CONCAVE)


def test_validate_ring_errors():
    assert G.validate_ring(SQUARE) == []
    assert "self-intersecting" in "; ".join(
        G.validate_ring([[0, 0], [10, 10], [10, 0], [0, 10], [0, 0]])
    )
    assert any("zero area" in e for e in G.validate_ring([[0, 0], [5, 5], [10, 10], [0, 0]]))
    assert any(
        "latitude" in e for e in G.validate_ring([[0, -95], [1, -95], [1, -94], [0, -95]])
    )


def test_extract_outer_ring_reference_contract():
    # holes + extra features are DISCARDED, exactly like the reference
    doc = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [SQUARE.tolist(), [[3, 3], [7, 3], [7, 7], [3, 3]]],
                },
                "properties": {"keep": "no"},
            },
            {"type": "Feature", "geometry": {"type": "Point", "coordinates": [0, 0]}},
        ],
    }
    out = G.wrap_polygon_feature_collection(G.extract_outer_ring(doc))
    assert out == {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "geometry": {"type": "Polygon", "coordinates": [SQUARE.tolist()]},
                "properties": {},
            }
        ],
    }


def test_extract_errors_match_reference_strings():
    import pytest

    with pytest.raises(G.GeometryError, match="No features found in GeoJSON response"):
        G.extract_outer_ring({"type": "FeatureCollection", "features": []})
    with pytest.raises(G.GeometryError, match="Invalid or missing coordinates in geometry"):
        G.extract_outer_ring(
            {"features": [{"geometry": {"type": "Polygon", "coordinates": None}}]}
        )


def test_synth_catchment_deterministic_and_valid():
    r1 = G.synth_catchment_ring(28.5065, 77.0739, 500, "drive_distance")
    r2 = G.synth_catchment_ring(28.5065, 77.0739, 500, "drive_distance")
    np.testing.assert_array_equal(r1, r2)
    assert G.validate_ring(r1) == []
    # point is inside its own catchment
    assert P.points_in_ring(np.array([77.0739]), np.array([28.5065]), r1)[0]
    r3 = G.synth_catchment_ring(28.5065, 77.0739, 600, "drive_distance")
    assert not np.array_equal(r1, r3)
