"""Reference answers in plain numpy, written apart from the engine's kernels.

Each check in the benchmark compares an engine output against one of these:
containment by crossing number with an explicit on-edge test (boundary
points count as inside), ring validity, haversine top-k, and pixel-centre
tile masks.  None of this imports the engine.
"""

from __future__ import annotations

import json
import math

import numpy as np

EARTH_RADIUS_KM = 6371.0088


def outer_ring(geojson: str) -> np.ndarray:
    """Closed (m, 2) lon/lat outer ring of a one-feature FeatureCollection."""
    geom = json.loads(geojson)["features"][0]["geometry"]
    ring = np.asarray(geom["coordinates"][0], dtype=np.float64)
    if not np.array_equal(ring[0], ring[-1]):
        ring = np.vstack([ring, ring[:1]])
    return ring


def _orient(ax, ay, bx, by, cx, cy):
    return np.sign((bx - ax) * (cy - ay) - (by - ay) * (cx - ax))


def ring_is_valid(ring: np.ndarray) -> bool:
    """At least three distinct vertices, finite, within lon/lat range, non-zero
    area, and no two non-adjacent edges meet."""
    if ring.ndim != 2 or ring.shape[0] < 4 or not np.isfinite(ring).all():
        return False
    if (np.abs(ring[:, 1]) > 90).any() or (np.abs(ring[:, 0]) > 180).any():
        return False
    x, y = ring[:, 0], ring[:, 1]
    if np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]) == 0.0:
        return False
    m = ring.shape[0] - 1
    for i in range(m):
        j = np.arange(i + 2, m)
        if i == 0:
            j = j[j != m - 1]  # the last edge shares the first vertex
        if j.size == 0:
            continue
        ax, ay, bx, by = x[i], y[i], x[i + 1], y[i + 1]
        cx, cy, dx, dy = x[j], y[j], x[j + 1], y[j + 1]
        o1 = _orient(ax, ay, bx, by, cx, cy)
        o2 = _orient(ax, ay, bx, by, dx, dy)
        o3 = _orient(cx, cy, dx, dy, ax, ay)
        o4 = _orient(cx, cy, dx, dy, bx, by)
        if ((o1 != o2) & (o3 != o4)).any():
            return False
    return True


def covers(ring: np.ndarray, px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """Boundary-inclusive point-in-ring by crossing number, one edge at a time."""
    inside = np.zeros(px.shape[0], dtype=bool)
    on_edge = np.zeros(px.shape[0], dtype=bool)
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        up = (y1 > py) != (y2 > py)
        if y1 != y2:
            x_at = x1 + (x2 - x1) * (py - y1) / (y2 - y1)
            inside ^= up & (px < x_at)
        on_edge |= (
            ((x2 - x1) * (py - y1) == (y2 - y1) * (px - x1))
            & (px >= min(x1, x2)) & (px <= max(x1, x2))
            & (py >= min(y1, y2)) & (py <= max(y1, y2))
        )
    return inside | on_edge


def containment_pairs(
    rings: list[np.ndarray], lat: np.ndarray, lon: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(point index, ring index) of every point covered by every ring, using a
    latitude sort and per-ring bounding boxes to skip far points."""
    order = np.argsort(lat, kind="stable")
    lat_s = lat[order]
    pts, polys = [], []
    for k, ring in enumerate(rings):
        lo = np.searchsorted(lat_s, ring[:, 1].min(), side="left")
        hi = np.searchsorted(lat_s, ring[:, 1].max(), side="right")
        idx = order[lo:hi]
        idx = idx[(lon[idx] >= ring[:, 0].min()) & (lon[idx] <= ring[:, 0].max())]
        hit = idx[covers(ring, lon[idx], lat[idx])]
        pts.append(hit)
        polys.append(np.full(hit.shape[0], k, dtype=np.int64))
    if not pts:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return np.concatenate(pts), np.concatenate(polys)


def haversine_km(lat1, lon1, lat2, lon2) -> np.ndarray:
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp, dl = p2 - p1, np.radians(lon2) - np.radians(lon1)
    h = np.sin(dp / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
    return 2 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(h))


def knn(
    plat: np.ndarray, plon: np.ndarray, tlat: np.ndarray, tlon: np.ndarray,
    tids: np.ndarray, k: int,
) -> tuple[np.ndarray, np.ndarray]:
    """(target ids, km) of each point's k nearest targets, nearest first; ties
    go to the smaller target id."""
    d = haversine_km(plat[:, None], plon[:, None], tlat[None, :], tlon[None, :])
    by_id = np.argsort(tids, kind="stable")
    d_sorted = d[:, by_id]
    nearest = np.argsort(d_sorted, axis=1, kind="stable")[:, :k]
    rows = np.arange(plat.shape[0])[:, None]
    return tids[by_id][nearest], d_sorted[rows, nearest]


def tile_mask(ring: np.ndarray, z: int, x: int, y: int, size: int) -> np.ndarray:
    """(size, size) pixel-centre containment of the XYZ tile, row 0 north."""
    n = 2.0**z
    west, east = x / n * 360.0 - 180.0, (x + 1) / n * 360.0 - 180.0
    north = math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * y / n))))
    south = math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * (y + 1) / n))))
    frac = (np.arange(size) + 0.5) / size
    glon, glat = np.meshgrid(west + frac * (east - west), north + frac * (south - north))
    return covers(ring, glon.ravel(), glat.ravel()).reshape(size, size)
