"""Exact point-in-polygon — vectorized numpy ray casting, cache-blocked.

This is the refinement half of the two-phase spatial join (SURVEY.md §2.3 "Exact PIP
refinement"): after the cell-cover lookup (functions/contain.py), each (point, polygon)
pair from a boundary cell is resolved exactly here by :func:`refine_mask`, once per
block of the join's ``mapInArrow`` pass — no per-row Python (BASELINE.json input_hint).

Boundary semantics: ``covers`` (boundary-inclusive), chosen and documented per SURVEY.md
§7 hard part (b) — a point exactly on a ring edge or vertex counts as inside.  The
even-odd crossing count is combined with an explicit on-edge test so the result is
deterministic for boundary points (plain ray casting is half-open and orientation-
dependent there).

Performance: the kernel is FUSED (crossing count + on-edge test in one pass) and
CHUNKED (points processed in blocks sized so the point-x-edge temporaries stay inside
the CPU cache).  A naive full-matrix formulation allocates ~15 P-x-E float64
temporaries — 200 MB each at P=1e6 — and becomes memory-bandwidth-bound, killing
multi-core scaling (32 executor threads saturate DRAM and run no faster than 8).
The blocked kernel is ~6x faster single-core and scales with cores.
"""

from __future__ import annotations

import json

import numpy as np

from geojson_utility_spark.functions.geometry import ensure_closed

_BLOCK = 16384  # points per block: 16k x 64 edges x 8 B ≈ 8 MB of temporaries


class RingKernel:
    """Precomputed per-edge data for one ring — built once per polygon group, reused
    across point blocks."""

    def __init__(self, ring: np.ndarray):
        ring = ensure_closed(ring)
        self.x1 = ring[:-1, 0].copy()
        self.y1 = ring[:-1, 1].copy()
        self.x2 = ring[1:, 0].copy()
        self.y2 = ring[1:, 1].copy()
        dx = self.x2 - self.x1
        dy = self.y2 - self.y1
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            slope = np.where(dy != 0.0, dx / np.where(dy == 0.0, 1.0, dy), 0.0)
        # dx / dy overflows when dy is subnormal: such edges take their crossing from
        # (py - y1) / dy, which stays within [0, 1] on the rows the edge straddles
        self.steep = ~np.isfinite(slope)
        self.any_steep = bool(self.steep.any())
        self.slope = np.where(self.steep, 0.0, slope)
        self.dx = dx
        self.dy = dy
        self.exmin = np.minimum(self.x1, self.x2)
        self.exmax = np.maximum(self.x1, self.x2)
        self.eymin = np.minimum(self.y1, self.y2)
        self.eymax = np.maximum(self.y1, self.y2)

    def _xint(self, py, e=slice(None)):
        """Crossing x of the horizontal line y = py with edges ``e``: the finite-slope
        ``x1 + (py - y1) * slope`` (the flagship oracle mirrors it), or
        ``x1 + ((py - y1) / dy) * dx`` on the edges whose slope overflowed.

        A finite but huge slope (``dy`` near the smallest normal) overflows only where
        the edge does not straddle ``py``; callers drop those pairs by the straddle
        mask, so the overflow is ignored."""
        x1, y1 = self.x1[e], self.y1[e]
        with np.errstate(over="ignore"):
            xint = x1 + (py - y1) * self.slope[e]
        if self.any_steep:
            with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
                alt = x1 + ((py - y1) / self.dy[e]) * self.dx[e]
            xint = np.where(self.steep[e], alt, xint)
        return xint

    def test_block(
        self, px: np.ndarray, py: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray]:
        """(strict_inside, on_edge) for one block of points — single fused pass."""
        pxc = px[:, None]
        pyc = py[:, None]
        # crossing count (half-open rule: y1 <= py != y2 <= py)
        straddle = (self.y1 <= pyc) != (self.y2 <= pyc)
        xint = self._xint(pyc)
        inside = ((straddle & (pxc < xint)).sum(axis=1) & 1).astype(bool)
        # exact on-edge: collinear and within the edge bbox
        cross = self.dx * (pyc - self.y1) - self.dy * (pxc - self.x1)
        on_edge = (
            (cross == 0.0)
            & (pxc >= self.exmin)
            & (pxc <= self.exmax)
            & (pyc >= self.eymin)
            & (pyc <= self.eymax)
        ).any(axis=1)
        return inside, on_edge

    def covers_grid(self, px: np.ndarray, py: np.ndarray) -> np.ndarray:
        """Covers mask (len(py), len(px)) of the pixel grid px x py, equal to
        :meth:`test_block`'s ``inside | on_edge`` over the meshgrid.

        Ray-cast one row at a time: a row's crossings depend only on its y, so each
        row computes ``xint`` only for the edges that straddle it, with
        :meth:`_xint`'s expression, and compares its pixels' x against only those;
        the on-edge test runs only against the edges whose y-range holds the row.
        """
        nr, m = py.shape[0], px.shape[0]
        yc = py[:, None]
        ri, ei = np.nonzero((self.y1 <= yc) != (self.y2 <= yc))
        left = px[None, :] < self._xint(py[ri], ei)[:, None]
        pi, pj = np.nonzero(left)
        crossings = np.bincount(ri[pi] * m + pj, minlength=nr * m)
        covers = (crossings & 1).astype(bool).reshape(nr, m)
        bi, be = np.nonzero((self.eymin <= yc) & (yc <= self.eymax))
        e, pxr = be[:, None], px[None, :]
        cross = self.dx[e] * (py[bi, None] - self.y1[e]) - self.dy[e] * (pxr - self.x1[e])
        on_edge = (cross == 0.0) & (pxr >= self.exmin[e]) & (pxr <= self.exmax[e])
        oi, oj = np.nonzero(on_edge)
        covers[bi[oi], oj] = True
        return covers


def _ring_tests(px, py, ring) -> tuple[np.ndarray, np.ndarray]:
    px = np.ascontiguousarray(px, dtype=np.float64)
    py = np.ascontiguousarray(py, dtype=np.float64)
    n = px.shape[0]
    kern = RingKernel(ring)
    inside = np.empty(n, dtype=bool)
    on_edge = np.empty(n, dtype=bool)
    for s in range(0, n, _BLOCK):
        e = min(s + _BLOCK, n)
        ins, edg = kern.test_block(px[s:e], py[s:e])
        inside[s:e] = ins
        on_edge[s:e] = edg
    return inside, on_edge


def points_in_ring(px, py, ring, boundary: str = "include") -> np.ndarray:
    """Even-odd ray cast of P points against one closed ring. (P,) bool.

    ring: (M, 2) (lon, lat) or (x, y); closed or open (closure enforced).
    boundary: 'include' -> covers semantics; 'exclude' -> strict interior.
    """
    ring = np.asarray(ring, dtype=np.float64)
    if ring.shape[0] < 3:
        return np.zeros(np.asarray(px).shape[0], dtype=bool)
    inside, on_edge = _ring_tests(px, py, ring)
    if boundary == "include":
        return inside | on_edge
    return inside & ~on_edge


def points_in_polygon(
    px: np.ndarray,
    py: np.ndarray,
    rings: list[np.ndarray],
    boundary: str = "include",
) -> np.ndarray:
    """PIP against a polygon with holes: ring[0] = outer, rest = holes (even-odd).

    Mirrors the reference's normalized polygon contract — the reference *discards*
    holes (reference: backend/routers/catchment.py:100 takes ``coordinates[0]`` only),
    so engine polygons normally arrive as a single outer ring (fast path: one fused
    pass); holes are supported for the general GeoJSON case.
    """
    if not rings:
        return np.zeros(np.asarray(px).shape[0], dtype=bool)
    inside, on_outer = _ring_tests(px, py, rings[0])
    if len(rings) == 1:
        if boundary == "include":
            return inside | on_outer
        return inside & ~on_outer
    result = inside & ~on_outer  # strict interior of outer ring
    for hole in rings[1:]:
        in_hole, on_hole = _ring_tests(px, py, hole)
        if boundary == "include":
            result &= ~(in_hole & ~on_hole)
        else:
            result &= ~(in_hole | on_hole)
    if boundary == "include":
        result |= on_outer
    return result


def rings_from_json(ring_json: str, holes_json: str | None) -> list[np.ndarray]:
    """A normalized polygon row's (ring_json, holes_json) -> [outer, *holes]."""
    return [np.asarray(json.loads(ring_json), dtype=np.float64)] + [
        np.asarray(h, dtype=np.float64) for h in json.loads(holes_json or "[]")
    ]


def refine_mask(lon, lat, codes, rings, kernels: dict) -> np.ndarray:
    """Covers mask of candidate rows: row i is kept when (lon[i], lat[i]) lies in
    polygon ``rings[codes[i]]`` (boundary-inclusive).

    rings: indexable by code -> [outer] or [outer, *holes] (see
    :func:`rings_from_json`), or None for a polygon that is never matched.
    kernels: code -> RingKernel cache; pass the same dict across batches so each
    single-ring polygon builds its edge table once.  Holed polygons run the
    even-odd :func:`points_in_polygon` over all rings.
    """
    n = len(codes)
    keep = np.zeros(n, dtype=bool)
    # one argsort groups all rows by polygon — NOT a codes==gi scan per polygon
    # (that is U full-array passes per batch and dominates runtime when hundreds
    # of polygons are present in every batch)
    order = np.argsort(codes, kind="stable")
    uniq, starts = np.unique(codes[order], return_index=True)
    ends = np.append(starts[1:], n)
    for k, gi in enumerate(uniq.tolist()):
        poly = rings[gi]
        if poly is None:
            continue
        idx = order[starts[k] : ends[k]]
        if len(poly) > 1:
            keep[idx] = points_in_polygon(lon[idx], lat[idx], poly)
            continue
        kern = kernels.get(gi)
        if kern is None:
            kern = kernels[gi] = RingKernel(poly[0])
        for s in range(0, len(idx), _BLOCK):
            b = idx[s : s + _BLOCK]
            ins, edg = kern.test_block(lon[b], lat[b])
            keep[b] = ins | edg
    return keep


def haversine_km(lat1, lon1, lat2, lon2) -> np.ndarray:
    """Vectorized great-circle distance in km (public haversine formula)."""
    lat1, lon1, lat2, lon2 = (
        np.radians(np.asarray(v, dtype=np.float64)) for v in (lat1, lon1, lat2, lon2)
    )
    dlat = lat2 - lat1
    dlon = lon2 - lon1
    a = np.sin(dlat / 2.0) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2.0) ** 2
    return 2.0 * 6371.0088 * np.arcsin(np.sqrt(a))
