"""Exact k-nearest-neighbour kernel in numpy — the work inside ``knn_join``'s one
``mapInArrow`` pass (operators/knn.py).  It imports numpy only, so a Python worker
starts it cheaply.

A grid index over the targets (:func:`knn_index`) sorts them by (tile row, tile
column, target_id) at a zoom.  Per block of points, :func:`knn_blocks` runs rounds
at ring radius R = 2, 8, 32.  A round gathers, for each unresolved point, the
targets in the (2R+1)^2 tiles around its own tile (one ``searchsorted`` span per
tile row, wrapping at the antimeridian) and keeps its first k candidates by
(haversine km, target_id), by k passes of segment minima.  Points whose k-th
candidate is provably the true k-th (bound below) resolve; the rest — a shrinking
minority in target-sparse regions — go to the next round.  Points left after
R = 32, and every point of an index without a grid, take the exhaustive pass: a
block x M haversine matrix and a stable argsort over the id-sorted targets.

Exactness bound: tiles are unit squares in projected (Web-Mercator tile-unit) space.
A target outside a point's window sits at Chebyshev cell-distance > R, hence at
projected distance > (R - 1) tile units from any point in the centre cell (the
point may sit on its cell edge: > R-1, not R).  One tile unit is worth at least
``(EARTH_CIRC/2^z) * cos(lat_reach)`` km anywhere in the window, where
``lat_reach = |p_lat| + (R+1) * 360/2^z`` caps the highest latitude it can touch
(mercator tiles shrink toward the poles).  So when a point's k-th candidate lies
within (R - 1) such units times SAFETY, every true top-k member is a candidate.
SAFETY (0.95) absorbs the second-order latitude variation of the Mercator scale
factor across the window, since ranking uses true haversine distance while the
completeness bound is projected.  The grid ends at ±MAX_LAT, where a path over the
pole leaves the window without crossing its edges, so the bound is also capped by
the point's meridian distance to ±MAX_LAT.
"""

from __future__ import annotations

import math

import numpy as np

from geojson_utility_spark.functions.cells import MAX_LAT, latlng_to_cell, unpack_cell
from geojson_utility_spark.functions.pip import haversine_km

SAFETY = 0.95
EARTH_CIRC_KM = 40075.016686
KM_PER_DEG = math.radians(6371.0088)  # meridian km per degree on the haversine sphere
RING_RADII = (2, 8, 32)
BLOCK = 8192  # points per ring-round block and per exhaustive-pass haversine matrix
CAND_MAX = 1 << 22  # candidates (or block x M distances) per numpy temporary


def knn_index(
    tlat: np.ndarray, tlon: np.ndarray, zoom: int, grid: bool = True
) -> tuple:
    """Grid index over targets given in target_id order: (tlat, tlon, keys, by_key),
    ``keys`` the tile keys ``row * 2^zoom + column`` sorted by (row, column, target_id)
    and ``by_key`` the matching target positions.  ``grid=False`` builds no grid
    (keys None): every point then takes the exhaustive pass."""
    if not grid:
        return tlat, tlon, None, None
    _, tx, ty = unpack_cell(latlng_to_cell(tlat, tlon, zoom))
    key = (ty << zoom) + tx
    by_key = np.argsort(key, kind="stable")  # stable: target_id order within a tile
    return tlat, tlon, key[by_key], by_key


def _segment_topk(d, tpos, seg, first, k, m):
    """The k smallest (d, tpos) of each segment, by k passes of segment minima —
    cheaper than a lexsort of all candidates.  Every segment holds >= k entries."""
    best_d = np.empty((first.size, k))
    best_t = np.empty((first.size, k), dtype=np.int64)
    for j in range(k):
        dmin = np.minimum.reduceat(d, first)
        tmin = np.minimum.reduceat(np.where(d == dmin[seg], tpos, m), first)
        best_d[:, j], best_t[:, j] = dmin, tmin
        d[tpos == tmin[seg]] = np.inf  # a target occurs once per segment
    return best_d, best_t


def _ring_round(pts, px, py, plat, plon, index, k, zoom, r):
    """One ring round for points ``pts`` (at most ``BLOCK``): the resolved points
    and their top-k (target, km)."""
    tlat, tlon, keys, by_key = index
    n, u, w = 1 << zoom, pts.size, 2 * r + 1
    y = py[pts, None] + np.arange(-r, r + 1)  # (u, w) window rows
    lo, hi = px[pts] - r, px[pts] + r
    if w >= n:  # the window spans every column: one whole-row span
        lo, hi = np.zeros_like(lo), np.full_like(hi, n - 1)
    # per row two column spans [c0, c1]: the in-range part and the part wrapped
    # across the antimeridian (empty, c1 < c0, when nothing wraps)
    c0 = np.stack([np.maximum(lo, 0), np.where(lo < 0, lo + n, 0)], 1)
    c1 = np.stack([np.minimum(hi, n - 1), np.where(lo < 0, n - 1, hi - n)], 1)
    base = (y * n)[:, :, None]
    start = np.searchsorted(keys, (base + c0[:, None, :]).ravel(), "left")
    end = np.searchsorted(keys, (base + c1[:, None, :]).ravel(), "right")
    cnt = np.maximum(end - start, 0).reshape(u, w, 2) * ((y >= 0) & (y < n))[:, :, None]
    start, cnt = start.reshape(u, 2 * w), cnt.reshape(u, 2 * w)
    per = cnt.sum(1)
    ok = np.flatnonzero(per >= k)
    done, tops_t, tops_d = [pts[:0]], [np.empty((0, k), np.int64)], [np.empty((0, k))]
    csum = np.cumsum(per[ok])
    s = 0
    while s < ok.size:  # chunks of <= CAND_MAX candidates (>= one point)
        cap = (csum[s - 1] if s else 0) + CAND_MAX
        e = max(s + 1, int(np.searchsorted(csum, cap, "right")))
        sel = ok[s:e]
        c, pc = cnt[sel].ravel(), per[sel]
        pos = np.repeat(start[sel].ravel() - (np.cumsum(c) - c), c) + np.arange(c.sum())
        tpos = by_key[pos]
        seg = np.repeat(np.arange(sel.size), pc)
        p = pts[sel]
        d = haversine_km(plat[p][seg], plon[p][seg], tlat[tpos], tlon[tpos])
        best_d, best_t = _segment_topk(d, tpos, seg, np.cumsum(pc) - pc, k, tlat.size)
        alat = np.abs(plat[p])
        reach = np.minimum(85.0, alat + (r + 1) * 360.0 / n)
        bound = SAFETY * np.minimum(
            (r - 1) * EARTH_CIRC_KM / n * np.cos(np.radians(reach)),
            (MAX_LAT - alat) * KM_PER_DEG,
        )
        res = best_d[:, -1] <= bound
        done.append(p[res])
        tops_t.append(best_t[res])
        tops_d.append(best_d[res])
        s = e
    return np.concatenate(done), np.concatenate(tops_t), np.concatenate(tops_d)


def knn_blocks(plat, plon, index, k, zoom):
    """Exact kNN of points against a :func:`knn_index`, ties to the smaller target_id.

    A generator over blocks of output rows, so a caller can stream each block out
    while the next computes.  Each yields ``(row, tpos, dist_km, rank, radius)``:
    per output row the point's input row, the target's position in target_id order,
    haversine km and rank 1..min(k, M); and the ring radius R that resolved the
    block's points (0: the exhaustive pass).  Points run ``BLOCK`` at a time; the
    exhaustive pass takes fewer per block when M is large (``CAND_MAX`` bounds its
    block x M distance matrix).  A point with a NaN or infinite coordinate (a null
    read from Arrow is NaN) gets no rows.
    """
    tlat, tlon, keys, _ = index
    m = tlat.size
    if not m:
        return
    kk = min(k, m)
    ranks = np.tile(np.arange(1, kk + 1, dtype=np.int32), BLOCK)
    step = max(1, min(BLOCK, CAND_MAX // m))
    if keys is not None:
        with np.errstate(invalid="ignore"):  # non-finite points get cells, never used
            _, px, py = unpack_cell(latlng_to_cell(plat, plon, zoom))
    for s in range(0, plat.size, BLOCK):
        todo = s + np.flatnonzero(np.isfinite(plat[s : s + BLOCK] + plon[s : s + BLOCK]))
        if keys is not None:
            for r in RING_RADII:
                done, best_t, best_d = _ring_round(todo, px, py, plat, plon, index, k, zoom, r)
                if done.size:
                    yield np.repeat(done, k), best_t.ravel(), best_d.ravel(), ranks[: done.size * k], r
                    todo = todo[~np.isin(todo, done, assume_unique=True)]
        for e in range(0, todo.size, step):
            p = todo[e : e + step]
            d = haversine_km(plat[p][:, None], plon[p][:, None], tlat[None, :], tlon[None, :])
            # stable sort + id-ordered targets == (dist asc, target_id asc)
            order = np.argsort(d, axis=1, kind="stable")[:, :kk]
            yield (
                np.repeat(p, kk),
                order.ravel(),
                np.take_along_axis(d, order, 1).ravel(),
                ranks[: p.size * kk],
                0,
            )
