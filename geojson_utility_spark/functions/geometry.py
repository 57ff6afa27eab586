"""Polygon normalization / validation + the reference's exact GeoJSON contract.

Pure numpy + stdlib json.  Reproduces bit-for-bit the reference's ring-extraction
projection (reference: backend/routers/catchment.py:92-114): from a FeatureCollection,
take ``features[0].geometry.coordinates[0]`` (outer ring ONLY — holes and extra features
discarded), rewrap as a 1-Feature Polygon FeatureCollection with ``"properties": {}``.

Adds the engine-side validation the reference outsources (it trusts the external API's
geometry): ring closure, minimum vertex count, winding normalization via shoelace signed
area, and self-intersection detection (bow-ties flagged invalid) — FIXTURES.md §3.
"""

from __future__ import annotations

import json

import numpy as np


class GeometryError(ValueError):
    pass


# what a malformed document raises while it is read
_PARSE_ERRORS = (GeometryError, json.JSONDecodeError, AttributeError, TypeError)


def _geometry(geojson: str | dict, types: tuple) -> tuple[str | None, list]:
    """(type, coordinates) of features[0]'s geometry, with the reference's exact
    error strings (reference: backend/routers/catchment.py:94-99).

    Engine extension past the reference (which blindly indexes coordinates[0] —
    backend/routers/catchment.py:100 — so a LineString/Point feature produces a
    shape crash or silent garbage): a geometry type outside ``types`` raises with
    the type named.  A missing ``type`` key keeps the reference's lenient behavior
    (coordinates decide)."""
    doc = json.loads(geojson) if isinstance(geojson, str) else geojson
    features = doc.get("features", [])
    if not features:
        raise GeometryError("No features found in GeoJSON response")
    geom = features[0].get("geometry", {}) or {}
    gtype = geom.get("type")
    if gtype is not None and gtype not in types:
        raise GeometryError(
            f"unsupported geometry type '{gtype}' in features[0] "
            f"(expected {' or '.join(types)})"
        )
    coords = geom.get("coordinates")
    if not coords or not isinstance(coords, list):
        raise GeometryError("Invalid or missing coordinates in geometry")
    return gtype, coords


def extract_outer_ring(geojson: str | dict) -> list[list[float]]:
    """The reference's projection: features[0].geometry.coordinates[0] of a Polygon.

    Raises GeometryError with the reference's exact error strings; any other
    geometry type, MultiPolygon included, gets the unsupported-type message."""
    return _geometry(geojson, ("Polygon",))[1][0]


def _normalize_part(rings, keep_holes: bool) -> tuple[list | None, str]:
    """One Polygon part -> (normalized rings as nested lists, errors): the outer
    ring validated and wound CCW, and with ``keep_holes`` every hole validated
    (errors prefixed ``hole i:``) and wound CW (RFC 7946)."""
    if not rings or not isinstance(rings, list):
        return None, "Invalid or missing coordinates in geometry"
    errors = validate_ring(rings[0])
    if errors:
        return None, "; ".join(errors)
    out = [normalize_winding(np.asarray(rings[0], dtype=np.float64), ccw=True).tolist()]
    for i, hole in enumerate(rings[1:] if keep_holes else [], start=1):
        herr = validate_ring(hole)
        if herr:
            return None, "; ".join(f"hole {i}: {e}" for e in herr)
        out.append(
            normalize_winding(np.asarray(hole, dtype=np.float64), ccw=False).tolist()
        )
    return out, ""


def normalize_polygon_parts(geojson: str, keep_holes: bool) -> list[tuple[list | None, str]]:
    """One document, parsed once -> one (rings, errors) per Polygon part of
    features[0]: one part for a Polygon, one per member of a MultiPolygon.  A
    document that fails to parse is one errored part.

    keep_holes=False reproduces the reference's contract: interior rings are
    DISCARDED (reference: backend/routers/catchment.py:100 takes coordinates[0]
    only) and each part is its outer ring.  keep_holes=True validates and carries
    the interior rings for the hole-aware even-odd PIP."""
    try:
        gtype, coords = _geometry(geojson, ("Polygon", "MultiPolygon"))
    except _PARSE_ERRORS as e:
        return [(None, str(e) or "invalid GeoJSON document")]
    parts = coords if gtype == "MultiPolygon" else [coords]
    return [_normalize_part(rings, keep_holes) for rings in parts]


def wrap_polygon_feature_collection(outer_ring) -> dict:
    """Rebuild the reference's normalized output document — exact key order and shape
    of backend/routers/catchment.py:101-113."""
    if hasattr(outer_ring, "tolist"):
        outer_ring = outer_ring.tolist()
    return {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "geometry": {"type": "Polygon", "coordinates": [outer_ring]},
                "properties": {},
            }
        ],
    }


# ---------------------------------------------------------------------------
# Ring validation / normalization (engine addition)
# ---------------------------------------------------------------------------

def signed_area(ring: np.ndarray) -> float:
    """Shoelace signed area; > 0 -> counter-clockwise winding."""
    ring = np.asarray(ring, dtype=np.float64)
    if (ring[0] == ring[-1]).all():
        ring = ring[:-1]
    x = ring[:, 0]
    y = ring[:, 1]
    return 0.5 * float(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))


def ensure_closed(ring: np.ndarray) -> np.ndarray:
    """The ring as float64 with its first vertex repeated at the end if missing."""
    ring = np.asarray(ring, dtype=np.float64)
    if not (ring[0] == ring[-1]).all():
        ring = np.vstack([ring, ring[:1]])
    return ring


def normalize_winding(ring: np.ndarray, ccw: bool = True) -> np.ndarray:
    """Return the ring with the requested winding (GeoJSON RFC 7946 wants CCW outer)."""
    ring = ensure_closed(ring)
    if (signed_area(ring) > 0) != ccw:
        ring = ring[::-1].copy()
    return ring


def ring_self_intersects(ring: np.ndarray) -> bool:
    """True if any two non-adjacent segments properly intersect (bow-tie detection).

    O(M^2) vectorized over segment pairs — rings here are small (catchment polygons,
    tens to low hundreds of vertices), so this runs inside Arrow batches comfortably.
    """
    ring = ensure_closed(ring)
    a = ring[:-1]
    b = ring[1:]
    m = a.shape[0]
    if m < 4:
        return False
    i = np.arange(m)
    # pair (i, j) with j >= i + 2, excluding the wrap-adjacent pair (0, m-1)
    ii, jj = np.meshgrid(i, i, indexing="ij")
    mask = (jj >= ii + 2) & ~((ii == 0) & (jj == m - 1))
    a1 = a[ii[mask]]
    a2 = b[ii[mask]]
    b1 = a[jj[mask]]
    b2 = b[jj[mask]]

    def cross(o, d, p):
        return (d[:, 0] - o[:, 0]) * (p[:, 1] - o[:, 1]) - (d[:, 1] - o[:, 1]) * (
            p[:, 0] - o[:, 0]
        )

    d1 = cross(a1, a2, b1)
    d2 = cross(a1, a2, b2)
    d3 = cross(b1, b2, a1)
    d4 = cross(b1, b2, a2)
    proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))
    return bool(proper.any())


def validate_ring(ring) -> list[str]:
    """Engine polygon-validation predicate -> list of error strings (empty = valid).

    Mirrors the reference's filter-that-annotates shape (SURVEY.md §2.2): invalid
    polygons are *kept* with populated errors, not dropped.
    """
    errors: list[str] = []
    arr = np.asarray(ring, dtype=np.float64)
    if arr.ndim != 2 or arr.shape[1] != 2:
        return ["ring must be an array of [lon, lat] pairs"]
    closed = ensure_closed(arr)
    if closed.shape[0] < 4:
        errors.append("ring must have at least 3 distinct vertices")
        return errors
    lon = closed[:, 0]
    lat = closed[:, 1]
    if np.any(~np.isfinite(lon)) or np.any(~np.isfinite(lat)):
        errors.append("ring contains non-finite coordinates")
        return errors
    if np.any(lat < -90) or np.any(lat > 90):
        errors.append("latitude in ring must be between -90 and 90.")
    if np.any(lon < -180) or np.any(lon > 180):
        errors.append("longitude in ring must be between -180 and 180.")
    if abs(signed_area(closed)) == 0.0:
        errors.append("ring has zero area (degenerate)")
    if ring_self_intersects(closed):
        errors.append("ring is self-intersecting")
    return errors


def normalize_polygon_geojson(geojson: str) -> tuple[str | None, str]:
    """Full normalize pipeline for one geojson document:
    extract outer ring -> validate -> fix winding (CCW) -> rewrap.

    Returns (normalized_json or None, '; '-joined errors) — same error-join convention
    as the reference's row errors (backend/routers/catchment.py:360).
    """
    try:
        ring = extract_outer_ring(geojson)
    except _PARSE_ERRORS as e:
        return None, str(e) or "invalid GeoJSON document"
    rings, err = _normalize_part([ring], keep_holes=False)
    if err:
        return None, err
    return json.dumps(wrap_polygon_feature_collection(rings[0])), ""


def synth_catchment_ring(
    lat: float, lon: float, magnitude: float, catchment_type: str, n_vertices: int = 24
) -> np.ndarray:
    """Local deterministic replacement for the reference's external catchment API
    (S5 in SURVEY.md §2.1): a drive-distance/drive-time isochrone approximated as a
    deterministic star-shaped polygon around the point.  No external calls, fully
    reproducible — radius scales with magnitude, per-vertex jitter derives from a
    seeded integer hash of the inputs so the same (lat, lon, type, magnitude) always
    yields the same ring.
    """
    # km radius: distance given in meters; time in minutes at ~30 km/h
    if catchment_type == "drive_distance":
        radius_km = max(magnitude, 1.0) / 1000.0
    else:
        radius_km = max(magnitude, 1.0) * 0.5
    radius_km = min(radius_km, 200.0)
    seed = np.uint64(
        (
            int(np.float64(lat * 1e4).astype(np.int64)) * 1000003
            + int(np.float64(lon * 1e4).astype(np.int64)) * 7919
            + int(magnitude) * 31
            + (1 if catchment_type == "drive_distance" else 2)
        )
        & 0xFFFFFFFFFFFFFFFF
    )
    k = np.arange(n_vertices, dtype=np.uint64)
    with np.errstate(over="ignore"):
        jitter_bits = (
            seed * np.uint64(6364136223846793005)
            + k * np.uint64(1442695040888963407)
        ) % np.uint64(1000)
    jitter = 0.75 + 0.5 * (jitter_bits.astype(np.float64) / 1000.0)
    theta = 2.0 * np.pi * k / n_vertices
    r_deg = (radius_km * jitter) / 111.32  # ~km per degree latitude
    dlat = r_deg * np.sin(theta)
    dlon = r_deg * np.cos(theta) / np.maximum(np.cos(np.radians(lat)), 0.01)
    ring = np.stack([lon + dlon, lat + dlat], axis=1)
    return ensure_closed(ring)
