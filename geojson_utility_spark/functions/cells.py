"""Hierarchical spatial cell index — pure numpy, vectorized.

An H3/S2-style discrete global grid implemented as a Web-Mercator quadtree (the public
XYZ/quadkey tiling scheme): a *cell* is a (zoom, x, y) tile packed into one int64.  The
API surface deliberately mirrors the h3-py vocabulary (``latlng_to_cell``,
``cell_to_parent``, ``polygon_to_cells``, ``compact_cells``) so the
engine's spatial-join semantics (SURVEY.md §2.3) read like an H3 pipeline, but everything
is numpy arithmetic — no native libraries — so it ships via ``spark-submit --py-files``
and runs inside Arrow-batched pandas UDFs with zero per-row Python.

Cell-id layout (int64, always positive):
    bits 58..62 : zoom  z in [0, 29]
    bits 29..57 : x tile index in [0, 2^z)
    bits  0..28 : y tile index in [0, 2^z)

A quadtree cell at zoom z has exactly 4 children at z+1 (vs H3's 7), which makes
``compact_cells`` exact (no aperture-7 approximation) and ``cell_to_parent`` a pair of
bit-shifts.  Tiles are axis-aligned rectangles in (lon, lat) space — y boundaries are
horizontal latitude lines — so polygon covering reduces to rect-vs-polygon intersection
tests computable with vectorized cross products.

Resolution mapping used by the engine (≈ H3 res 7/8/9 edge lengths):
    zoom 13 ≈ 4.9 km tiles ≈ H3 res 7;  zoom 15 ≈ H3 res 8;  zoom 16/17 ≈ H3 res 9.
"""

from __future__ import annotations

import numpy as np

# Web-Mercator latitude clamp (tan() diverges at the poles).
MAX_LAT = 85.05112878
_Z_SHIFT = 58
_X_SHIFT = 29
_XY_MASK = (1 << 29) - 1


def pack_cell(z: np.ndarray | int, x: np.ndarray | int, y: np.ndarray | int) -> np.ndarray:
    z = np.asarray(z, dtype=np.int64)
    x = np.asarray(x, dtype=np.int64)
    y = np.asarray(y, dtype=np.int64)
    return (z << _Z_SHIFT) | (x << _X_SHIFT) | y


def unpack_cell(cell: np.ndarray | int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    cell = np.asarray(cell, dtype=np.int64)
    return cell >> _Z_SHIFT, (cell >> _X_SHIFT) & _XY_MASK, cell & _XY_MASK


def latlng_to_cell(lat, lon, zoom: int) -> np.ndarray:
    """Vectorized point -> cell id at ``zoom``.  lat/lon in degrees (any array-like)."""
    lat = np.clip(np.asarray(lat, dtype=np.float64), -MAX_LAT, MAX_LAT)
    lon = np.asarray(lon, dtype=np.float64)
    n = np.int64(1) << zoom
    xf = (lon + 180.0) / 360.0 * n
    lat_rad = np.radians(lat)
    yf = (1.0 - np.log(np.tan(lat_rad) + 1.0 / np.cos(lat_rad)) / np.pi) / 2.0 * n
    x = np.clip(np.floor(xf).astype(np.int64), 0, n - 1)
    y = np.clip(np.floor(yf).astype(np.int64), 0, n - 1)
    return pack_cell(zoom, x, y)


def cell_to_parent(cell, parent_zoom: int) -> np.ndarray:
    z, x, y = unpack_cell(cell)
    dz = z - parent_zoom
    if np.any(dz < 0):
        raise ValueError("parent_zoom must be <= cell zoom")
    return pack_cell(parent_zoom, x >> dz, y >> dz)


def cell_to_children(cell: int, child_zoom: int) -> np.ndarray:
    """All descendant cells of one cell at ``child_zoom`` (child_zoom >= cell zoom)."""
    z, x, y = (int(v) for v in unpack_cell(np.int64(cell)))
    dz = child_zoom - z
    if dz < 0:
        raise ValueError("child_zoom must be >= cell zoom")
    k = 1 << dz
    xs = (int(x) << dz) + np.arange(k, dtype=np.int64)
    ys = (int(y) << dz) + np.arange(k, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys, indexing="ij")
    return pack_cell(child_zoom, gx.ravel(), gy.ravel())


def cell_bounds(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(lon_w, lat_s, lon_e, lat_n) of each cell — axis-aligned in lon/lat."""
    z, x, y = unpack_cell(cell)
    n = (np.int64(1) << z).astype(np.float64)
    lon_w = x / n * 360.0 - 180.0
    lon_e = (x + 1) / n * 360.0 - 180.0

    def _lat(yv):
        t = np.pi * (1.0 - 2.0 * yv / n)
        return np.degrees(np.arctan(np.sinh(t)))

    lat_n = _lat(y.astype(np.float64))
    lat_s = _lat((y + 1).astype(np.float64))
    return lon_w, lat_s, lon_e, lat_n


# ---------------------------------------------------------------------------
# Polygon covering
# ---------------------------------------------------------------------------

def _points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd ray cast of points against one ring.  Kept apart from pip's
    ``RingKernel`` and its row-wise ``covers_grid`` on purpose: this computes the
    crossing x as mul-then-div, ``(py - y1) * (x2 - x1) / (y2 - y1)``, where the
    kernel multiplies by a precomputed slope, and the ``rasterize_masks`` oracle SQL
    mirrors each op order at its site.  The cover's probes are tile corners and
    centres scattered over many distinct latitudes, so a row-wise cast would not
    share work here (measured slower)."""
    x1 = ring[:-1, 0][None, :]
    y1 = ring[:-1, 1][None, :]
    x2 = ring[1:, 0][None, :]
    y2 = ring[1:, 1][None, :]
    pxc = px[:, None]
    pyc = py[:, None]
    straddle = (y1 <= pyc) != (y2 <= pyc)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1 + (pyc - y1) * (x2 - x1) / (y2 - y1)
    crossings = (straddle & (pxc < xint)).sum(axis=1)
    return (crossings % 2) == 1


def _cross(ox, oy, dx, dy, px, py):
    """Orientation of point p against the directed segment o -> d: (d - o) x (p - o)."""
    return (dx - ox) * (py - oy) - (dy - oy) * (px - ox)


def _orientations(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Every cross product the segment-pair test needs, each computed once.

    a: (..., N+1, 2) vertices of chains of N segments (leading axes batch chains);
    b: (M+1, 2) one chain of M segments.  Returns (va, vb):
    va (..., N, M+1): a-segment i against b vertex j — d1 of pair (i, j), d2 of (i, j-1);
    vb (..., N+1, M): a vertex i against b-segment j — d3 of pair (i, j), d4 of (i-1, j).
    """
    ax, ay = a[..., :, None, 0], a[..., :, None, 1]
    bx, by = b[:, 0], b[:, 1]
    va = _cross(ax[..., :-1, :], ay[..., :-1, :], ax[..., 1:, :], ay[..., 1:, :], bx, by)
    vb = _cross(bx[:-1], by[:-1], bx[1:], by[1:], ax, ay)
    return va, vb


def _in_box(o: np.ndarray, d: np.ndarray, p: np.ndarray) -> np.ndarray:
    """Point p within the bounding box of segment o -> d; all (K, 2)."""
    return (
        (np.minimum(o[:, 0], d[:, 0]) <= p[:, 0])
        & (p[:, 0] <= np.maximum(o[:, 0], d[:, 0]))
        & (np.minimum(o[:, 1], d[:, 1]) <= p[:, 1])
        & (p[:, 1] <= np.maximum(o[:, 1], d[:, 1]))
    )


def _chains_meet(
    va: np.ndarray, vb: np.ndarray, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """(..., N, M) boolean: segment i of chain a meets segment j of chain b, touching
    and collinear overlap included.  va, vb from :func:`_orientations` (a, b).

    A pair meets on a proper crossing ((d1 > 0) != (d2 > 0) and (d3 > 0) != (d4 > 0))
    or when one endpoint lies on the other segment: that d is exactly 0 and the
    endpoint is within the segment's bounding box.  The box test runs only on pairs
    with a zero d that are not already proper crossings.
    """
    pos_a, pos_b = va > 0, vb > 0
    hit = (pos_a[..., :-1] != pos_a[..., 1:]) & (pos_b[..., :-1, :] != pos_b[..., 1:, :])
    zero_a, zero_b = va == 0, vb == 0
    if not (zero_a.any() or zero_b.any()):
        return hit
    z1, z2 = zero_a[..., :-1], zero_a[..., 1:]
    z3, z4 = zero_b[..., :-1, :], zero_b[..., 1:, :]
    pair = np.nonzero(~hit & (z1 | z2 | z3 | z4))
    if pair[0].size:
        *lead, i, j = pair
        a1, a2 = a[(*lead, i)], a[(*lead, i + 1)]
        b1, b2 = b[j], b[j + 1]
        hit[pair] = (
            (z1[pair] & _in_box(a1, a2, b1))
            | (z2[pair] & _in_box(a1, a2, b2))
            | (z3[pair] & _in_box(b1, b2, a1))
            | (z4[pair] & _in_box(b1, b2, a2))
        )
    return hit


def _tiles_meet_ring(w, s, e, n, ring: np.ndarray) -> np.ndarray:
    """(T,) boolean: some side of tile t meets some edge of the closed ring.

    The tile outlines SW -> SE -> NE -> NW -> SW are the chains a of
    :func:`_orientations`, computed bit for bit as it would, but with the differences
    that sides and corners share taken once: va (T, 4, E+1) is each side against every
    ring vertex, vb (T, 5, E) each corner against every ring edge (the closing SW row
    is a copy of the first).  Each corner thus serves as d3 of one side and d4 of the
    side before it.
    """
    bx, by = ring[:, 0], ring[:, 1]
    outline = np.stack(
        [np.stack([w, e, e, w, w], axis=1), np.stack([s, s, n, n, s], axis=1)], axis=2
    )
    w, s, e, n = w[:, None], s[:, None], e[:, None], n[:, None]
    dys, dyn, dxw, dxe = by - s, by - n, bx - w, bx - e
    va = np.empty((w.shape[0], 4, bx.shape[0]))
    va[:, 0] = (e - w) * dys - (s - s) * dxw
    va[:, 1] = (e - e) * dys - (n - s) * dxe
    va[:, 2] = (w - e) * dyn - (n - n) * dxe
    va[:, 3] = (w - w) * dyn - (s - n) * dxw
    x1, y1 = bx[:-1], by[:-1]
    ex, ey = bx[1:] - x1, by[1:] - y1
    south, north = ex * (s - y1), ex * (n - y1)
    west, east = ey * (w - x1), ey * (e - x1)
    vb = np.empty((w.shape[0], 5, x1.shape[0]))
    np.subtract(south, west, out=vb[:, 0])
    np.subtract(south, east, out=vb[:, 1])
    np.subtract(north, east, out=vb[:, 2])
    np.subtract(north, west, out=vb[:, 3])
    vb[:, 4] = vb[:, 0]
    return _chains_meet(va, vb, outline, ring).any(axis=(1, 2))


def polygon_to_cells(ring: np.ndarray, zoom: int) -> np.ndarray:
    """Conservative covering: every cell at ``zoom`` whose rectangle intersects the
    polygon's outer ring.  Superset guarantee: any point inside the polygon lands in a
    covered cell (no false negatives at the candidate stage — SURVEY.md §7 hard part c).

    ring: (M, 2) array of (lon, lat), closed or open (closure enforced here).
    The one-level case of :func:`polygon_to_cells_adaptive`: every bbox tile at
    ``zoom`` is classified once by :func:`_classify_tiles`.
    """
    return polygon_to_cells_adaptive(ring, zoom, coarse_zoom=zoom)


def _classify_tiles(cand: np.ndarray, ring: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(fully_inside, intersecting) boolean masks for candidate tiles vs a closed ring.

    fully_inside: every corner inside AND no ring edge crosses the tile AND no ring
    vertex inside (sufficient for a simple polygon without holes).
    intersecting: tile ∩ polygon ≠ ∅ (corners inside OR vertex in tile OR edge cross).

    Every value is computed once: a grid vertex shared by adjacent tiles is ray-cast
    once, and the side-vs-edge test (:func:`_tiles_meet_ring`) shares its cross
    products — each tile side against each ring vertex (d1/d2 of two neighbouring
    edges) and each tile corner against each ring edge (d3/d4 of the two sides that
    meet there).
    """
    w, s, e, n = cell_bounds(cand)
    # adjacent tiles share corners: ray-cast each distinct grid vertex (x, y) once
    _, x, y = unpack_cell(cand)
    keys = np.concatenate(
        [x << 30 | (y + 1), x << 30 | y, (x + 1) << 30 | (y + 1), (x + 1) << 30 | y]
    )
    _, first, inv = np.unique(keys, return_index=True, return_inverse=True)
    px = np.concatenate([w, w, e, e])[first]
    py = np.concatenate([s, n, s, n])[first]
    corners_in = _points_in_ring(px, py, ring)[inv].reshape(4, -1)
    all_corners = corners_in.all(axis=0)
    any_corner = corners_in.any(axis=0)

    vx = ring[:-1, 0][None, :]
    vy = ring[:-1, 1][None, :]
    vert_in = (
        (vx >= w[:, None]) & (vx <= e[:, None]) & (vy >= s[:, None]) & (vy <= n[:, None])
    ).any(axis=1)

    # edge crossings only where undecided by the cheap tests: vertex-in already
    # implies intersecting AND not-fully-inside
    edge_cross = np.zeros(cand.shape[0], dtype=bool)
    idx = np.nonzero(~vert_in | all_corners)[0]
    if idx.size:
        edge_cross[idx] = _tiles_meet_ring(w[idx], s[idx], e[idx], n[idx], ring)

    fully_inside = all_corners & ~vert_in & ~edge_cross
    # tile center inside catches the tile-engulfs-nothing corner case conservatively
    cx = (w + e) / 2.0
    cy = (s + n) / 2.0
    center_in = _points_in_ring(cx, cy, ring)
    intersecting = any_corner | vert_in | edge_cross | center_in
    return fully_inside, intersecting


def polygon_to_cells_adaptive(
    ring: np.ndarray, zoom: int, coarse_zoom: int | None = None,
    return_interior: bool = False,
):
    """Compact multi-zoom covering via quadtree descent — the scale path.

    Starts at a coarse zoom over the ring bbox; fully-inside tiles are emitted as-is
    (already 'compacted'), disjoint tiles dropped, boundary tiles descend to children
    until ``zoom``.  Cost is O(perimeter) tiles per level instead of O(area) at the
    finest level, which is what makes oversized polygons (150 km catchments covering
    ~10^5 fine tiles) cheap to index.  Superset guarantee preserved: every point of the
    polygon lies in an emitted tile.
    """
    ring = np.asarray(ring, dtype=np.float64)
    if not (ring[0] == ring[-1]).all():
        ring = np.vstack([ring, ring[:1]])
    lon_min, lat_min = ring.min(axis=0)
    lon_max, lat_max = ring.max(axis=0)
    if coarse_zoom is None:
        # pick the coarsest zoom where the bbox spans <= ~8 tiles per axis
        span_deg = max(lon_max - lon_min, lat_max - lat_min, 1e-9)
        coarse_zoom = max(0, min(zoom, int(np.floor(np.log2(360.0 / span_deg * 8)))))
    c_min = latlng_to_cell(lat_max, lon_min, coarse_zoom)
    c_max = latlng_to_cell(lat_min, lon_max, coarse_zoom)
    _, x0, y0 = (int(v) for v in unpack_cell(c_min))
    _, x1, y1 = (int(v) for v in unpack_cell(c_max))
    xs = np.arange(x0, x1 + 1, dtype=np.int64)
    ys = np.arange(y0, y1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys, indexing="ij")
    frontier = pack_cell(coarse_zoom, gx.ravel(), gy.ravel())
    out: list[np.ndarray] = []
    out_interior: list[np.ndarray] = []
    z = coarse_zoom
    while frontier.size:
        full, inter = _classify_tiles(frontier, ring)
        if z == zoom:
            final = frontier[inter]
            out.append(final)
            out_interior.append(full[inter])  # fine tiles can still be fully inside
            break
        emitted = frontier[full]
        out.append(emitted)
        out_interior.append(np.ones(emitted.shape[0], dtype=bool))
        boundary = frontier[inter & ~full]
        if boundary.size == 0:
            break
        bz, bx, by = unpack_cell(boundary)
        dx = np.array([0, 0, 1, 1], dtype=np.int64)
        dy = np.array([0, 1, 0, 1], dtype=np.int64)
        cx = (bx[:, None] << 1) + dx[None, :]
        cy = (by[:, None] << 1) + dy[None, :]
        frontier = pack_cell(z + 1, cx.ravel(), cy.ravel())
        z += 1
    if not out:
        cells_out = np.empty(0, dtype=np.int64)
        interior = np.empty(0, dtype=bool)
    else:
        cells_out = np.concatenate(out)
        interior = np.concatenate(out_interior)
        order = np.argsort(cells_out)
        cells_out = cells_out[order]
        interior = interior[order]
    if return_interior:
        return cells_out, interior
    return cells_out


def compact_cells(cells: np.ndarray) -> np.ndarray:
    """Replace every complete set of 4 sibling cells by their parent, recursively —
    exact on a quadtree (unlike aperture-7 H3).  Input may mix zooms."""
    cells = np.unique(np.asarray(cells, dtype=np.int64))
    if cells.size == 0:
        return cells
    z, _, _ = unpack_cell(cells)
    by_zoom: dict[int, np.ndarray] = {
        int(zi): cells[z == zi] for zi in np.unique(z)
    }
    out: list[np.ndarray] = []
    zoom = max(by_zoom)
    while zoom >= 0:
        cur = by_zoom.pop(zoom, np.empty(0, dtype=np.int64))
        if cur.size == 0:
            zoom -= 1
            continue
        if zoom == 0:
            out.append(cur)
            break
        parents = cell_to_parent(cur, zoom - 1)
        uniq, counts = np.unique(parents, return_counts=True)
        full = uniq[counts == 4]
        out.append(cur[~np.isin(parents, full)])
        if full.size:
            prev = by_zoom.get(zoom - 1, np.empty(0, dtype=np.int64))
            by_zoom[zoom - 1] = np.unique(np.concatenate([prev, full]))
        zoom -= 1
    return np.sort(np.concatenate(out))


def uncompact_cells(cells: np.ndarray, zoom: int) -> np.ndarray:
    """Expand a compacted (mixed-zoom) cover back to uniform ``zoom``."""
    cells = np.asarray(cells, dtype=np.int64)
    parts = [cell_to_children(int(c), zoom) for c in cells]
    return np.sort(np.concatenate(parts)) if parts else cells


# ---------------------------------------------------------------------------
# XYZ / quadkey interop (raster-tile assignment, SURVEY.md §7 M5)
# ---------------------------------------------------------------------------

def cell_to_quadkey(cell) -> np.ndarray:
    """Bing-style quadkey string per cell (public Bing Maps tile-system scheme)."""
    z, x, y = unpack_cell(np.atleast_1d(np.asarray(cell, dtype=np.int64)))
    out = []
    for zi, xi, yi in zip(z.tolist(), x.tolist(), y.tolist()):
        qk = []
        for i in range(zi, 0, -1):
            digit = ((xi >> (i - 1)) & 1) | (((yi >> (i - 1)) & 1) << 1)
            qk.append(str(digit))
        out.append("".join(qk))
    return np.asarray(out, dtype=object)


def quadkey_to_cell(quadkeys) -> np.ndarray:
    out = np.empty(len(quadkeys), dtype=np.int64)
    for i, qk in enumerate(quadkeys):
        x = y = 0
        for ch in qk:
            d = int(ch)
            x = (x << 1) | (d & 1)
            y = (y << 1) | (d >> 1)
        out[i] = int(pack_cell(len(qk), x, y))
    return out
