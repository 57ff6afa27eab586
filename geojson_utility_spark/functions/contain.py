"""Point-in-polygon join kernel in numpy — the work inside ``spatial_join``'s one
``mapInArrow`` pass (operators/spatial_join.py).  It imports numpy only, so a Python
worker starts it cheaply.

The index (:func:`cover_index`) is every polygon part's cover sorted by cell: per
cover cell its part and whether the cell lies wholly inside that part.  A feature
is one part (a Polygon) or several (a MultiPolygon).  Per block of points,
:func:`contain_blocks` computes each point's cell at the finest zoom and its
ancestor at every probe zoom by bit shift, and looks each one up as a
``searchsorted`` range, since parts may share a cell.  A hit on an interior cell is
a match; a hit on a boundary cell is ray-cast by ``pip.refine_mask``.  One part's
cover cells are disjoint, so a point meets each part at most once; a point on an
edge two parts of one feature share meets that feature twice, and only an index
with a multi-part feature pays for the dedupe.
"""

from __future__ import annotations

import numpy as np

from geojson_utility_spark.functions.cells import latlng_to_cell, pack_cell, unpack_cell
from geojson_utility_spark.functions.pip import refine_mask

BLOCK = 65536  # points per block: bounds the probe and candidate temporaries


def cover_index(cells, part, interior, feature=None) -> tuple:
    """The index of the cover rows, sorted by (cell, part): (cells, part,
    interior, feature).  ``feature`` maps each part to its feature, ascending; it
    is None when every feature has one part, so part and feature coincide."""
    order = np.lexsort((part, cells))
    return cells[order], part[order], interior[order], feature


def contain_blocks(lat, lon, index, rings, zoom, zooms, kernels: dict):
    """The (point, feature) containment pairs, boundary-inclusive, of points
    against a :func:`cover_index` built at ``zoom`` with cover cells at ``zooms``.

    A generator over blocks of ``BLOCK`` points, so a caller can stream each block
    out while the next computes.  Each yields ``(row, feature)``: the point's input
    row and the feature it lies in, each pair once.  ``rings`` (by part) and
    ``kernels`` are :func:`pip.refine_mask`'s.  A point with a NaN or infinite
    coordinate (a null read from Arrow is NaN) gets no pairs.
    """
    cells, part, interior, feature = index
    if not cells.size:
        return
    for s in range(0, lat.size, BLOCK):
        row = s + np.flatnonzero(np.isfinite(lat[s : s + BLOCK] + lon[s : s + BLOCK]))
        if not row.size:
            continue
        _, x, y = unpack_cell(latlng_to_cell(lat[row], lon[row], zoom))
        # probe i is point i % row.size's ancestor at zooms[i // row.size]
        probe = np.concatenate([pack_cell(z, x >> (zoom - z), y >> (zoom - z)) for z in zooms])
        # sorted needles search ~5x faster than scattered ones
        order = np.argsort(probe)
        probe = probe[order]
        lo = np.searchsorted(cells, probe, "left")
        cnt = np.searchsorted(cells, probe, "right") - lo
        hit = np.flatnonzero(cnt)
        cnt = cnt[hit]
        # each hit's range lo..lo+cnt of cover positions, laid end to end
        pos = np.repeat(lo[hit] - (np.cumsum(cnt) - cnt), cnt) + np.arange(cnt.sum())
        pts = row[np.repeat(order[hit] % row.size, cnt)]
        keep = interior[pos]
        edge = np.flatnonzero(~keep)
        keep[edge] = refine_mask(lon[pts[edge]], lat[pts[edge]], part[pos[edge]], rings, kernels)
        if feature is None:
            yield pts[keep], part[pos[keep]]
            continue
        # a point can lie in two parts of one feature (on an edge they share)
        n = np.int64(feature[-1]) + 1
        pair = np.unique(pts[keep] * n + feature[part[pos[keep]]])
        yield pair // n, pair % n
