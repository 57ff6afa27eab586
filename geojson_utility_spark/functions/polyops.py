"""Polygon-polygon intersection kernel — pure numpy, called from Arrow batches.

Two simple polygons intersect (share any point, boundary-inclusive) iff
  (a) any vertex of A lies in B (covers semantics), or
  (b) any vertex of B lies in A, or
  (c) any edge of A intersects any edge of B (incl. touching/collinear overlap).
(a)/(b) catch full containment; (c) catches boundary crossings with no contained
vertex.  Vertex tests reuse the ray-cast PIP kernel; the edge test is
``cells._chains_meet``, the orientation/on-segment predicate the tile cover uses,
vectorized over the full E_a x E_b grid (ring sizes are tens of vertices, so the grid
is tiny per pair), with each edge-vs-vertex cross product computed once by
``cells._orientations``.
"""

from __future__ import annotations

import numpy as np

from geojson_utility_spark.functions import cells as C
from geojson_utility_spark.functions import pip as P


def rings_intersect(a: np.ndarray, b: np.ndarray) -> bool:
    """Boundary-inclusive intersection test for two simple rings."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    # cheap bbox reject first
    if (
        a[:, 0].max() < b[:, 0].min() or b[:, 0].max() < a[:, 0].min()
        or a[:, 1].max() < b[:, 1].min() or b[:, 1].max() < a[:, 1].min()
    ):
        return False
    if P.points_in_ring(b[:, 0], b[:, 1], a, boundary="include").any():
        return True
    if P.points_in_ring(a[:, 0], a[:, 1], b, boundary="include").any():
        return True
    ra, rb = P._closed(a), P._closed(b)
    va, vb = C._orientations(ra, rb)
    return bool(C._chains_meet(va, vb, ra, rb).any())
