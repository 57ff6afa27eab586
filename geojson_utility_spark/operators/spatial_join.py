"""The flagship spatial join: a cell-cover lookup + exact PIP refine in one Arrow pass.

Semantics: ``points JOIN polygons ON ST_Covers(polygon, point)`` — the Spark-native
re-expression of the reference's per-row enrichment join (SURVEY.md §2.3; the reference
fetches one polygon per point over HTTPS; we invert it into a set-oriented join).  A
feature is a Polygon or a MultiPolygon; a MultiPolygon is its parts, and a point in
any part matches the feature once.  ``spatial_join`` is the one point-in-polygon
operator: every ``how`` and every feature runs the same plan.

Physical plan, for many points against at most ``PREPARED_POLYGONS_MAX`` polygon parts:

1. **Polygon side (small), once per index**: parse + validate + normalize each
   GeoJSON document into its Polygon parts in ``mapInPandas`` batches; cover each
   part via ADAPTIVE QUADTREE DESCENT — O(perimeter) tiles per level, every cell
   classified interior vs boundary (conservative covering — superset, no false
   negatives).  :func:`prepare_polygons` collects the valid rings and the cover
   (each bounded), sorts the cover by cell and broadcasts it with the rings and
   the ids ONCE.
2. **Point side (huge), per call**: ONE zero-shuffle ``mapInArrow`` pass
   (functions/contain.py).  Per block of points: the cell at the finest zoom, its
   ancestors at every probe zoom by bit shift, a ``searchsorted`` range per cell;
   interior-cell hits are matches, boundary-cell hits are ray-cast by
   ``pip.refine_mask``.  ``inner`` emits ``polygon_id`` itself; ``left_semi`` and
   ``left_anti`` mark each Arrow batch's matched rows and keep them or the rest, so
   rows are kept by row, never re-joined by id.

The measured trade (BENCH.md): every point crosses into Python once, and no
broadcast is built per call.  The former plan kept the point side in the JVM but
exploded ~6 probe rows per point into two broadcast hash joins rebuilt per call;
one Arrow pass runs one job per call instead of four and takes 0.6x the time
per ``bulk_join`` op.  Work follows partition size, so no polygon can skew it.
"""

from __future__ import annotations

import json
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geojson_utility_spark.functions import cells as C
from geojson_utility_spark.functions import geometry as G
from geojson_utility_spark.functions import pip as P
from geojson_utility_spark.functions.contain import contain_blocks, cover_index
from geojson_utility_spark.functions.spark_geo import cell_expr
from geojson_utility_spark.session import defer, release_staged, stage

DEFAULT_JOIN_ZOOM = 16  # finest boundary-cell zoom (~600 m tiles ≈ H3 res 9).
# Interior cells stay coarse (adaptive cover), so a fine max zoom shrinks the
# boundary band that needs Python ray-casting ~4x per level at O(perimeter) cover cost.
PREPARED_POLYGONS_MAX = 1_000_000  # valid parts prepare_polygons may collect and broadcast
COVER_CELLS_MAX = 10_000_000  # cover cells it may collect and broadcast: ~130 MB of numpy

POLYGON_NORM_SCHEMA = T.StructType(
    [
        T.StructField("polygon_id", T.StringType()),
        T.StructField("part_idx", T.IntegerType()),  # 0 for a Polygon
        T.StructField("ring_json", T.StringType()),  # normalized outer ring [[lon,lat]..]
        T.StructField("holes_json", T.StringType()),  # "[]" unless keep_holes=True
        T.StructField("poly_errors", T.StringType()),
        T.StructField("n_vertices", T.IntegerType()),
        T.StructField("area", T.DoubleType()),
    ]
)

COVER_SCHEMA = T.StructType(
    [
        T.StructField("polygon_id", T.StringType()),
        T.StructField("part_idx", T.IntegerType()),
        T.StructField("cell", T.LongType()),
        T.StructField("cell_zoom", T.IntegerType()),
        T.StructField("interior", T.BooleanType()),
    ]
)


def normalize_polygons(polygons: DataFrame, keep_holes: bool = False) -> DataFrame:
    """geojson string column -> one row per Polygon part: validated,
    winding-normalized rings, ``part_idx`` 0 for a Polygon and 0.. for the members
    of a MultiPolygon.

    Invalid parts are retained with ``poly_errors`` set (filter-that-annotates, same
    contract as row validation) — callers filter ``poly_errors == ''`` for the join.
    A document that fails to parse is one errored row with ``part_idx`` 0.

    keep_holes=False (default) reproduces the reference's contract — interior rings
    are DISCARDED (reference: backend/routers/catchment.py:100 takes coordinates[0]
    only) and ``holes_json`` is "[]".  keep_holes=True validates and carries interior
    rings (RFC 7946 winding: CCW outer, CW holes) for the hole-aware even-odd PIP.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for pid, gj in zip(pdf["polygon_id"], pdf["geojson"]):
                parts = G.normalize_polygon_parts(gj, keep_holes)
                for i, (rings, err) in enumerate(parts):
                    if err:
                        rows.append((pid, i, None, None, err, None, None))
                        continue
                    arr = np.asarray(rings[0], dtype=np.float64)
                    rows.append(
                        (
                            pid,
                            i,
                            json.dumps(rings[0]),
                            json.dumps(rings[1:]),
                            "",
                            int(arr.shape[0]),
                            abs(G.signed_area(arr)),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "polygon_id", "part_idx", "ring_json", "holes_json",
                    "poly_errors", "n_vertices", "area",
                ],
            )

    spark = polygons.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return (
        polygons.select(F.col("polygon_id").cast("string"), "geojson")
        .repartition(n_part, "polygon_id")
        .mapInPandas(batches, POLYGON_NORM_SCHEMA)
    )


def polygon_cells(
    rings: list[np.ndarray], zoom: int, compact: bool, min_zoom: int | None
) -> tuple[np.ndarray, np.ndarray]:
    """(cells, interior) cover of one polygon ``[outer, *holes]``, as
    :func:`polygon_cover` describes it."""
    # adaptive quadtree descent: O(perimeter) work per level, emits an
    # already-compacted multi-zoom cover (oversized polygons stay cheap)
    # with per-cell interior/boundary classification
    cover, interior = C.polygon_to_cells_adaptive(rings[0], zoom, return_interior=True)
    expand_to = zoom if not compact else min_zoom
    if expand_to is not None:
        coarse = C.unpack_cell(cover)[0] < expand_to
        if coarse.any():
            parts = [
                (C.cell_to_children(int(c), expand_to), bool(i))
                for c, i in zip(cover[coarse].tolist(), interior[coarse].tolist())
            ]
            cover = np.concatenate([cover[~coarse]] + [p[0] for p in parts])
            interior = np.concatenate(
                [interior[~coarse]] + [np.full(len(p[0]), p[1], dtype=bool) for p in parts]
            )
    # hole-aware demotion: an "interior" classification only consults the OUTER
    # ring — any cell whose bbox touches a hole's bbox must fall back to the
    # boundary (refine) path, where the even-odd PIP handles the hole exactly.
    # Conservative (bbox-vs-bbox) and cheap; cells fully inside a hole simply
    # refine to zero matches.
    if len(rings) > 1 and interior.any():
        w_, s_, e_, n_ = C.cell_bounds(cover)
        demote = np.zeros(len(cover), dtype=bool)
        for h in rings[1:]:
            hw, hs = h[:, 0].min(), h[:, 1].min()
            he, hn = h[:, 0].max(), h[:, 1].max()
            demote |= (w_ <= he) & (e_ >= hw) & (s_ <= hn) & (n_ >= hs)
        interior = interior & ~demote
    return cover, interior


def polygon_cover(
    polygons: DataFrame,
    zoom: int = DEFAULT_JOIN_ZOOM,
    compact: bool = False,
    min_zoom: int | None = None,
) -> DataFrame:
    """(polygon_id, part_idx, cell, cell_zoom, interior) covering rows for the
    valid parts of :func:`normalize_polygons`, each part covered on its own.

    ``compact=True`` keeps the multi-zoom adaptive cover (bounds cover size for
    oversized polygons, point side multi-probes per zoom); ``compact=False`` expands
    everything to ``zoom`` (single probe, bigger broadcast).  ``min_zoom`` (with
    compact=True) partially uncompacts: cells coarser than min_zoom expand to
    min_zoom, capping the number of probe levels at ``zoom - min_zoom + 1`` while the
    boundary band stays at the fine ``zoom``.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_pid, out_part, out_cell, out_zoom, out_int = [], [], [], [], []
            for pid, part, rj, hj in zip(
                pdf["polygon_id"], pdf["part_idx"], pdf["ring_json"], pdf["holes_json"]
            ):
                if rj is None:
                    continue
                cover, interior = polygon_cells(
                    P.rings_from_json(rj, hj), zoom, compact, min_zoom
                )
                zs = C.unpack_cell(cover)[0]
                out_pid.extend([pid] * len(cover))
                out_part.extend([part] * len(cover))
                out_cell.extend(cover.tolist())
                out_zoom.extend(zs.tolist())
                out_int.extend(interior.tolist())
            yield pd.DataFrame(
                {
                    "polygon_id": out_pid,
                    "part_idx": pd.array(out_part, dtype="int32"),
                    "cell": pd.array(out_cell, dtype="int64"),
                    "cell_zoom": pd.array(out_zoom, dtype="int32"),
                    "interior": pd.array(out_int, dtype="bool"),
                }
            )

    valid = polygons.filter(F.col("poly_errors") == "")
    # spread cover computation across the cluster — a handful of driver-side input
    # partitions would serialize the per-polygon covering work
    spark = polygons.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return valid.repartition(n_part, "polygon_id").mapInPandas(batches, COVER_SCHEMA)


class PreparedPolygons:
    """A reusable polygon-side index: normalized rings + multi-zoom cover, built
    ONCE and shared across many spatial_join calls.

    The production pattern is a FIXED polygon set (serviceability areas) joined
    against many point batches/streams; rebuilding the index per call costs
    O(polygons) normalize + adaptive-cover + broadcast work that this object
    amortizes to zero.  Construct with :func:`prepare_polygons`; pass as
    ``spatial_join(..., prepared=...)`` (geometry parameters travel with the
    object)."""

    def __init__(self, zoom, zooms, norm, cover_idx, rings):
        self.zoom = zoom
        self.zooms = zooms
        self.norm = norm
        self.cover_idx = cover_idx
        # sc.broadcast of (per-part ring lists ([outer] or [outer, *holes]),
        # contain.cover_index arrays, feature ids as a pa.array by feature index)
        self.rings = rings

    def unpersist(self):
        """Release the staged frames and destroy the index broadcast.  Only the
        index's own blocks go: a caller's cache of a plan-equal frame stays."""
        release_staged(self.norm)
        release_staged(self.cover_idx)
        self.rings.destroy()


def prepare_polygons(
    polygons: DataFrame,
    zoom: int = DEFAULT_JOIN_ZOOM,
    compact: bool = False,
    min_zoom: int | None = None,
    keep_holes: bool = False,
) -> PreparedPolygons:
    """Build the reusable polygon index for :func:`spatial_join` (see
    :class:`PreparedPolygons`) over the valid parts of every feature.  Raises
    ``ValueError`` when two valid parts share a ``(polygon_id, part_idx)`` (two
    features share an id, and a match could not say which one it hit), when there
    are more than ``PREPARED_POLYGONS_MAX`` valid parts or more than
    ``COVER_CELLS_MAX`` cover cells (both are collected to the driver), and,
    before any Spark job, when ``min_zoom`` is given without ``compact=True``
    (only a compact cover reads it) or above ``zoom`` (no probe zoom would
    remain)."""
    if min_zoom is not None and not (compact and min_zoom <= zoom):
        raise ValueError(
            f"min_zoom={min_zoom} needs compact=True and min_zoom <= zoom={zoom} "
            f"(got compact={compact!r})"
        )
    # staged: normalize+cover run once; the cover job and callers reread them
    norm = stage(normalize_polygons(polygons, keep_holes=keep_holes), eager=False)
    # ONE bounded collect serves both the dense part list and the rings
    norm_rows = (
        norm.filter(F.col("poly_errors") == "")
        .select("polygon_id", "part_idx", "ring_json", "holes_json")
        .limit(PREPARED_POLYGONS_MAX + 1)
        .collect()
    )
    if len(norm_rows) > PREPARED_POLYGONS_MAX:
        release_staged(norm)
        raise ValueError(
            f"prepare_polygons collects the valid rings to the driver: read "
            f"{len(norm_rows):,} polygons before stopping, over the bound of "
            f"{PREPARED_POLYGONS_MAX:,}"
        )
    # dense integer surrogates: a part's poly_idx is its position in
    # (polygon_id, part_idx) order, a feature's its position in the sorted ids
    norm_rows.sort(key=lambda r: (r["polygon_id"], r["part_idx"]))
    keys = [(r["polygon_id"], r["part_idx"]) for r in norm_rows]
    dup = next((k[0] for k, n in zip(keys, keys[1:]) if k == n), None)
    if dup is not None:
        release_staged(norm)
        raise ValueError(f"duplicate polygon_id {dup!r}: polygon ids must be unique")
    part_ids = pa.array([k[0] for k in keys], pa.string())
    ids = pc.unique(part_ids)
    feature = pc.index_in(part_ids, value_set=ids).to_numpy().astype(np.int32)
    # (feature, part_idx) ascends with poly_idx: a cover row finds its part by search
    part_key = (feature.astype(np.int64) << 32) | np.array([k[1] for k in keys], np.int64)
    cover_idx = stage(
        polygon_cover(norm, zoom=zoom, compact=compact, min_zoom=min_zoom), eager=False
    )
    cover = (
        cover_idx.select("polygon_id", "part_idx", "cell", "interior")
        .limit(COVER_CELLS_MAX + 1)
        .toArrow()
    )
    if cover.num_rows > COVER_CELLS_MAX:
        release_staged(norm)
        release_staged(cover_idx)
        raise ValueError(
            f"prepare_polygons collects the cover to the driver: read "
            f"{cover.num_rows:,} cells before stopping, over the bound of "
            f"{COVER_CELLS_MAX:,}"
        )
    cells = cover["cell"].to_numpy()
    cover_key = (
        pc.index_in(cover["polygon_id"], value_set=ids).to_numpy().astype(np.int64) << 32
    ) | cover["part_idx"].to_numpy().astype(np.int64)
    lookup = cover_index(
        cells,
        np.searchsorted(part_key, cover_key).astype(np.int32),
        cover["interior"].to_numpy(),
        # the kernel dedupes (point, feature) pairs only if a feature has several parts
        None if len(ids) == len(keys) else feature,
    )
    if not compact:
        zooms = [zoom]
    elif min_zoom is not None:
        # the partially-uncompacted cover only emits cells in [min_zoom, zoom]
        zooms = list(range(min_zoom, zoom + 1))
    else:
        # unbounded-coarseness covers can reach any zoom >= 0: probe the
        # zooms present in the cover
        zooms = np.unique(C.unpack_cell(cells)[0]).tolist()
    rings = [P.rings_from_json(r["ring_json"], r["holes_json"]) for r in norm_rows]
    index = polygons.sparkSession.sparkContext.broadcast((rings, lookup, ids))
    return PreparedPolygons(zoom, zooms, norm, cover_idx, index)


def _points(points: DataFrame, point_id: str) -> DataFrame:
    """(point_id, lat, lon) with lat/lon normalized to double at the boundary
    (SQL-derived inputs may arrive as DECIMAL; every kernel and the result schema
    assume float64)."""
    return points.select(
        F.col(point_id).alias("point_id"),
        F.col("lat").cast("double").alias("lat"),
        F.col("lon").cast("double").alias("lon"),
    )


def _check_how(how: str) -> None:
    """Reject an unsupported ``how`` before any Spark job runs."""
    if how not in ("inner", "left_semi", "left_anti"):
        raise ValueError(f"unsupported how={how!r}")


def spatial_join(
    points: DataFrame,
    polygons: DataFrame | None = None,
    zoom: int = DEFAULT_JOIN_ZOOM,
    compact: bool = False,
    point_id: str = "point_id",
    how: str = "inner",
    min_zoom: int | None = None,
    keep_holes: bool = False,
    prepared: PreparedPolygons | None = None,
) -> DataFrame:
    """points(point_id, lat, lon) ⋈ polygons(polygon_id, geojson) on containment.

    A Polygon or MultiPolygon feature matches a point inside any of its valid
    parts, once (union semantics, per the GeoJSON spec).
    keep_holes=False (default) keeps the reference's outer-ring-only contract.
    keep_holes=True joins on the full even-odd polygon (interior rings excluded,
    hole BOUNDARIES still included — covers semantics): cover cells touching a
    hole's bbox are demoted to the refine path and the kernel ray-casts against
    every ring.

    how: 'inner' -> (point_id, lat, lon, polygon_id as a string) matches;
         'left_semi' -> the point rows inside some feature (served points);
         'left_anti' -> the other rows (serviceability gaps), null or NaN
         coordinates included; semi and anti partition the input rows;
         anything else raises ``ValueError`` before any Spark job.
    min_zoom: with compact=True only, and at most ``zoom``: cover cells coarser
      than it expand to it (see :func:`polygon_cover`); otherwise ``ValueError``.
    Without ``prepared``, ``session.release_deferred`` frees the index built here.
    """
    _check_how(how)
    pts = _points(points, point_id)
    if prepared is None:
        if polygons is None:
            raise ValueError("spatial_join needs either polygons or prepared")
        prepared = prepare_polygons(
            polygons, zoom=zoom, compact=compact, min_zoom=min_zoom,
            keep_holes=keep_holes,
        )
        defer(prepared.unpersist)
    # geometry parameters travel with the index (a mismatched zoom would
    # silently probe the wrong cells); locals: the closure must not capture frames
    zoom, zooms, bc = prepared.zoom, prepared.zooms, prepared.rings
    names = ["point_id", "lat", "lon", "polygon_id"]
    # result schema tracks the caller's point-id type (string/bigint/...)
    schema = f"point_id {dict(pts.dtypes)['point_id']}, lat double, lon double"

    # mapInArrow, not mapInPandas: point ids stay in columnar buffers and only
    # lat/lon are viewed as numpy
    def kernel(it):
        rings, index, ids = bc.value
        kernels: dict[int, object] = {}
        for batch in it:
            lat = batch.column("lat").to_numpy(zero_copy_only=False)
            lon = batch.column("lon").to_numpy(zero_copy_only=False)
            pairs = contain_blocks(lat, lon, index, rings, zoom, zooms, kernels)
            if how == "inner":
                # each block's matches stream back to the JVM while the next computes
                for row, feature in pairs:
                    cols = [batch.column(c).take(row) for c in names[:3]]
                    yield pa.RecordBatch.from_arrays(cols + [ids.take(feature)], names)
                continue
            hit = np.zeros(batch.num_rows, dtype=bool)
            for row, _ in pairs:
                hit[row] = True
            yield batch.filter(pa.array(hit if how == "left_semi" else ~hit))

    if how == "inner":
        schema += ", polygon_id string"
    return pts.mapInArrow(kernel, schema)


def polygon_intersect_join(
    polys_a: DataFrame,
    polys_b: DataFrame,
    zoom: int = 12,
) -> DataFrame:
    """Polygon x polygon intersection join: (a_id, b_id) once for every pair of
    features that share any point (boundary-inclusive), i.e. any valid part of
    one meets any valid part of the other.

    Physical plan (both sides potentially large — neither is broadcast wholesale):
    1. normalize + cover BOTH sides' parts at one zoom (the usual adaptive
       descent, expanded) — cover rows are (id, part, cell);
    2. candidates = cover_a equi-join cover_b on cell, deduped — parts can only
       intersect if their covers share a cell (covers are conservative supersets),
       so the candidate set is complete and the only shuffle is on the cell key;
    3. exact refine per candidate part pair with the vertex-containment + segment-
       intersection kernel (functions/polyops.py) inside mapInPandas, rings
       delivered via a join on the normalized tables (ring pairs are tiny —
       tens of vertices each), then a distinct over the feature pairs.

    zoom trades candidate precision against cover size exactly like the point
    join; intersection semantics match the box-overlap oracle (entry
    ``polygon_intersect_join``) and the brute-force kernel pytest.
    """
    # the final select casts a_id/b_id back to the INPUT id types
    a_id_type = dict(polys_a.dtypes).get("polygon_id", "string")
    b_id_type = dict(polys_b.dtypes).get("polygon_id", "string")
    na = normalize_polygons(polys_a).filter(F.col("poly_errors") == "")
    nb = normalize_polygons(polys_b).filter(F.col("poly_errors") == "")

    def side(norm, s):
        """(s_id, s_part) renamed keys of a normalized side and of its cover."""
        keys = [F.col("polygon_id").alias(f"{s}_id"), F.col("part_idx").alias(f"{s}_part")]
        cover = polygon_cover(norm, zoom=zoom, compact=False).select(*keys, "cell")
        return cover, norm.select(*keys, F.col("ring_json").alias(f"_r{s}"))

    ca, ra = side(na, "a")
    cb, rb = side(nb, "b")
    cand = ca.join(cb, "cell").drop("cell").dropDuplicates()
    pairs = cand.join(ra, ["a_id", "a_part"]).join(rb, ["b_id", "b_part"])

    def refine(it: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        from geojson_utility_spark.functions.polyops import rings_intersect

        for pdf in it:
            keep = []
            for ra, rb in zip(pdf["_ra"], pdf["_rb"]):
                a = np.asarray(json.loads(ra), dtype=np.float64)
                b = np.asarray(json.loads(rb), dtype=np.float64)
                keep.append(rings_intersect(a, b))
            yield pdf.loc[keep, ["a_id", "b_id"]]

    schema = "a_id string, b_id string"
    return pairs.mapInPandas(refine, schema).distinct().select(
        F.col("a_id").cast(a_id_type).alias("a_id"),
        F.col("b_id").cast(b_id_type).alias("b_id"),
    )


def cell_heat_stats(points: DataFrame, zoom: int = DEFAULT_JOIN_ZOOM) -> DataFrame:
    """Engine metric: per-cell point density (groupBy count — partial agg map-side)."""
    return (
        points.withColumn("cell", cell_expr(F.col("lat"), F.col("lon"), zoom))
        .groupBy("cell")
        .agg(F.count("*").alias("n_points"))
    )
