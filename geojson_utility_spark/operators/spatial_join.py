"""The flagship two-phase spatial join: broadcast cell-candidate join + exact PIP refine.

Semantics: ``points JOIN polygons ON ST_Covers(polygon, point)`` — the Spark-native
re-expression of the reference's per-row enrichment join (SURVEY.md §2.3; the reference
fetches one polygon per point over HTTPS; we invert it into a set-oriented join).

Physical plan, designed for 10^12 points vs ~10^5 polygons:

1. **Polygon side (small)**: parse + validate + normalize each GeoJSON document in
   ``mapInPandas`` batches; cover each polygon via ADAPTIVE QUADTREE DESCENT —
   O(perimeter) tiles per level, every cell classified interior vs boundary
   (conservative covering — superset, no false negatives).
2. **Point side (huge)**: cell assignment is a pure Catalyst expression
   (functions/spark_geo.py) — stays inside whole-stage codegen, columns pruned to
   (id, lat, lon), predicate pushdown unaffected.  One probe expression: ancestors
   at every cover zoom come from bit-shift expressions + one explode (a single
   probe at one zoom for an uncompacted cover).
3. **Candidate joins**: two broadcast hash joins of the probe against DISJOINT
   halves of the cover — interior cells and boundary cells — so ZERO shuffle of
   the trillion-row side and one cover's worth of broadcast in total.
4. **Interior short-circuit**: points landing in fully-interior cover cells are
   matches with NO refinement and never cross the Python boundary (which costs a JVM
   feeder thread + a Python worker per task — the scarcest resource of the join).
   Only the O(perimeter) boundary band is refined.
5. **Refine**: the valid rings (collected once by ``prepare_polygons``, at most
   ``PREPARED_POLYGONS_MAX``) are broadcast to every Python worker, and a
   zero-shuffle ``mapInArrow`` ray-casts each boundary candidate with
   ``functions/pip.refine_mask`` — work follows partition size, so no polygon can
   skew it.

At 1000 executors: everything through refine is map-only — the join's only exchanges
hash-partition the tiny polygon side.
"""

from __future__ import annotations

import json
from collections import Counter
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geojson_utility_spark.functions import cells as C
from geojson_utility_spark.functions import geometry as G
from geojson_utility_spark.functions import pip as P
from geojson_utility_spark.functions.spark_geo import cell_expr, cell_parent_expr
from geojson_utility_spark.session import defer, release_staged, stage

DEFAULT_JOIN_ZOOM = 16  # finest boundary-cell zoom (~600 m tiles ≈ H3 res 9).
# Interior cells stay coarse (adaptive cover), so a fine max zoom shrinks the
# boundary band that needs Python ray-casting ~4x per level at O(perimeter) cover cost.
PREPARED_POLYGONS_MAX = 1_000_000  # valid rings prepare_polygons may collect and broadcast

POLYGON_NORM_SCHEMA = T.StructType(
    [
        T.StructField("polygon_id", T.StringType()),
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
        T.StructField("cell", T.LongType()),
        T.StructField("cell_zoom", T.IntegerType()),
        T.StructField("interior", T.BooleanType()),
    ]
)


def normalize_polygons(polygons: DataFrame, keep_holes: bool = False) -> DataFrame:
    """geojson string column -> validated, winding-normalized outer rings.

    Invalid polygons are retained with ``poly_errors`` set (filter-that-annotates, same
    contract as row validation) — callers filter ``poly_errors == ''`` for the join.

    keep_holes=False (default) reproduces the reference's contract — interior rings
    are DISCARDED (reference: backend/routers/catchment.py:100 takes coordinates[0]
    only) and ``holes_json`` is "[]".  keep_holes=True validates and carries interior
    rings (RFC 7946 winding: CCW outer, CW holes) for the hole-aware even-odd PIP.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for pid, gj in zip(pdf["polygon_id"], pdf["geojson"]):
                if keep_holes:
                    rings, err = G.normalize_polygon_rings(gj)
                else:
                    norm, err = G.normalize_polygon_geojson(gj)
                    rings = None if err else [G.extract_outer_ring(norm)]
                if err:
                    rows.append((pid, None, None, err, None, None))
                    continue
                arr = np.asarray(rings[0], dtype=np.float64)
                rows.append(
                    (
                        pid,
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
                    "polygon_id", "ring_json", "holes_json",
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


def polygon_cover(
    polygons: DataFrame,
    zoom: int = DEFAULT_JOIN_ZOOM,
    compact: bool = False,
    min_zoom: int | None = None,
) -> DataFrame:
    """(polygon_id, cell, cell_zoom, interior) covering rows for valid polygons.

    ``compact=True`` keeps the multi-zoom adaptive cover (bounds cover size for
    oversized polygons, point side multi-probes per zoom); ``compact=False`` expands
    everything to ``zoom`` (single probe, bigger broadcast).  ``min_zoom`` (with
    compact=True) partially uncompacts: cells coarser than min_zoom expand to
    min_zoom, capping the number of probe levels at ``zoom - min_zoom + 1`` while the
    boundary band stays at the fine ``zoom``.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_pid, out_cell, out_zoom, out_int = [], [], [], []
            for pid, rj, hj in zip(pdf["polygon_id"], pdf["ring_json"], pdf["holes_json"]):
                if rj is None:
                    continue
                ring = np.asarray(json.loads(rj), dtype=np.float64)
                # adaptive quadtree descent: O(perimeter) work per level, emits an
                # already-compacted multi-zoom cover (oversized polygons stay cheap)
                # with per-cell interior/boundary classification
                cover, interior = C.polygon_to_cells_adaptive(
                    ring, zoom, return_interior=True
                )
                expand_to = zoom if not compact else min_zoom
                if expand_to is not None:
                    zs0 = C.unpack_cell(cover)[0]
                    coarse = zs0 < expand_to
                    if coarse.any():
                        parts = [
                            (C.cell_to_children(int(c), expand_to), bool(i))
                            for c, i in zip(
                                cover[coarse].tolist(), interior[coarse].tolist()
                            )
                        ]
                        cover = np.concatenate(
                            [cover[~coarse]] + [p[0] for p in parts]
                        )
                        interior = np.concatenate(
                            [interior[~coarse]]
                            + [np.full(len(p[0]), p[1], dtype=bool) for p in parts]
                        )
                # hole-aware demotion: an "interior" classification only consults
                # the OUTER ring — any cell whose bbox touches a hole's bbox must
                # fall back to the boundary (refine) path, where the even-odd PIP
                # handles the hole exactly.  Conservative (bbox-vs-bbox) and cheap;
                # cells fully inside a hole simply refine to zero matches.
                holes = json.loads(hj) if hj else []
                if holes and interior.any():
                    w_, s_, e_, n_ = C.cell_bounds(cover)
                    demote = np.zeros(len(cover), dtype=bool)
                    for hole in holes:
                        h = np.asarray(hole, dtype=np.float64)
                        hw, hs = h[:, 0].min(), h[:, 1].min()
                        he, hn = h[:, 0].max(), h[:, 1].max()
                        demote |= (w_ <= he) & (e_ >= hw) & (s_ <= hn) & (n_ >= hs)
                    interior = interior & ~demote
                zs = C.unpack_cell(cover)[0]
                out_pid.extend([pid] * len(cover))
                out_cell.extend(cover.tolist())
                out_zoom.extend(zs.tolist())
                out_int.extend(interior.tolist())
            yield pd.DataFrame(
                {
                    "polygon_id": out_pid,
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
    """A reusable polygon-side index: normalized rings + multi-zoom cover +
    dense-id broadcast frames, built ONCE and shared across many spatial_join
    calls.

    The production pattern is a FIXED polygon set (serviceability areas) joined
    against many point batches/streams; rebuilding the index per call costs
    O(polygons) normalize + adaptive-cover + broadcast work (~6 s for 120
    polygons at z19 on the sandbox) that this object amortizes to zero.
    Construct with :func:`prepare_polygons`; pass as ``spatial_join(...,
    prepared=...)`` (geometry parameters travel with the object)."""

    def __init__(self, zoom, zooms, norm, pid_map, cover_idx, rings):
        self.zoom = zoom
        self.zooms = zooms
        self.norm = norm
        self.pid_map = pid_map
        self.cover_idx = cover_idx
        # sc.broadcast of per-poly_idx ring lists ([outer] or [outer, *holes])
        self.rings = rings

    def unpersist(self):
        """Release the staged frames and destroy the ring broadcast.  Only the
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
    :class:`PreparedPolygons`).  Raises ``ValueError`` when two valid polygons
    share a ``polygon_id`` (a match could not say which one it hit) or when there
    are more than ``PREPARED_POLYGONS_MAX`` valid polygons (their rings are
    collected to the driver), and, before any Spark job, when ``min_zoom`` is
    given without ``compact=True`` (only a compact cover reads it) or above
    ``zoom`` (no probe zoom would remain)."""
    if min_zoom is not None and not (compact and min_zoom <= zoom):
        raise ValueError(
            f"min_zoom={min_zoom} needs compact=True and min_zoom <= zoom={zoom} "
            f"(got compact={compact!r})"
        )
    spark = polygons.sparkSession
    # staged: normalize+cover run once; consumers join under broadcast hints
    norm = stage(normalize_polygons(polygons, keep_holes=keep_holes), eager=False)
    # ONE bounded collect serves both the dense-id list and the ring broadcast
    norm_rows = (
        norm.filter(F.col("poly_errors") == "")
        .select("polygon_id", "ring_json", "holes_json")
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
    # dense integer polygon surrogate: candidate rows carry a 4-byte poly_idx instead
    # of the polygon_id string — string columns double the per-row cost of the Python
    # handoff; ids are re-attached JVM-side from a tiny broadcast map at the end.
    norm_rows.sort(key=lambda r: r["polygon_id"])
    pid_rows = [r["polygon_id"] for r in norm_rows]
    if len(set(pid_rows)) != len(pid_rows):
        release_staged(norm)
        dup = Counter(pid_rows).most_common(1)[0][0]
        raise ValueError(f"duplicate polygon_id {dup!r}: polygon ids must be unique")
    # explicit schema: with no valid polygon there are no rows to infer from
    pid_map = spark.createDataFrame(
        list(enumerate(pid_rows)), "poly_idx long, polygon_id string"
    )
    cover = polygon_cover(norm, zoom=zoom, compact=compact, min_zoom=min_zoom)
    cover_idx = cover.join(F.broadcast(pid_map), "polygon_id").select(
        F.col("poly_idx").cast("int").alias("poly_idx"),
        "cell",
        "cell_zoom",
        "interior",
    )
    cover_idx = stage(cover_idx, eager=False)
    if not compact:
        zooms = [zoom]
    elif min_zoom is not None:
        # static zoom range (r7): the partially-uncompacted cover only emits
        # cells in [min_zoom, zoom], so probing that whole range needs no
        # cover-distinct job per call — a probe at a zoom absent from the cover
        # joins against nothing (identical matches, one fewer Spark job)
        zooms = list(range(min_zoom, zoom + 1))
    else:
        # distinct zooms present in the compacted cover (small driver-side
        # list); unbounded-coarseness covers can reach any zoom >= 0, so the
        # probe list must come from the data
        zooms = sorted(
            r["cell_zoom"] for r in cover_idx.select("cell_zoom").distinct().collect()
        )
    rings = spark.sparkContext.broadcast(
        [P.rings_from_json(r["ring_json"], r["holes_json"]) for r in norm_rows]
    )
    return PreparedPolygons(zoom, zooms, norm, pid_map, cover_idx, rings)


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


def _apply_how(pts: DataFrame, matches: DataFrame, how: str) -> DataFrame:
    """'inner' -> the matches; 'left_semi' / 'left_anti' -> the points with /
    without any match."""
    if how == "inner":
        return matches
    return pts.join(matches.select("point_id").distinct(), "point_id", how)


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

    keep_holes=False (default) keeps the reference's outer-ring-only contract.
    keep_holes=True joins on the full even-odd polygon (interior rings excluded,
    hole BOUNDARIES still included — covers semantics): cover cells touching a
    hole's bbox are demoted to the refine path and the kernel ray-casts against
    every ring.

    how: 'inner' -> (point_id, lat, lon, polygon_id as a string) matches;
         'left_semi' -> served points; 'left_anti' -> serviceability-gap points;
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
    else:
        # geometry parameters travel with the index (a mismatched zoom would
        # silently probe the wrong cells)
        zoom = prepared.zoom
    zooms = prepared.zooms
    pid_map = prepared.pid_map
    cover_idx = prepared.cover_idx

    # candidate join: broadcast ONLY (poly_idx, cell) — rings never enter the
    # broadcast nor the per-candidate shuffle rows (they weigh KBs vs ~40 B/candidate).
    # One probe expression: ancestors at every cover zoom come from bit-shift
    # expressions and one explode multiplies rows JVM-side (cell ids embed their
    # zoom, so a single join key covers all zooms collision-free).
    fine = pts.withColumn("_cell_fine", cell_expr(F.col("lat"), F.col("lon"), zoom))
    ancestors = F.array(
        *[cell_parent_expr(F.col("_cell_fine"), z, zoom) for z in zooms]
    )
    probe = fine.withColumn("_cell", F.explode(ancestors)).drop("_cell_fine")

    # interior/boundary split: a point in a FULLY-INSIDE cover cell is a match with no
    # refinement — it never crosses the Python boundary (which costs ~5 µs/row of core
    # time in Spark's row<->Arrow machinery and would otherwise dominate the join);
    # only boundary-cell candidates — O(perimeter), a small fraction — get ray-cast.
    # The two broadcast hash joins carry DISJOINT halves of the cover (interior cells
    # vs boundary cells), so total broadcast volume equals one full cover; each branch
    # scans the point side.  (A single shared broadcast + post-join filters was tried
    # and REGRESSED: Catalyst pushes the interior filter into the build side,
    # defeating ReusedExchange, and each branch then ships the whole cover — 2x the
    # rows of the disjoint split.  One join keeping the interior flag, with interior
    # rows passed through the kernel, was 7x slower at 96M points: BENCH.md.)
    interior_matches = probe.join(
        F.broadcast(
            cover_idx.filter(F.col("interior")).select(
                "poly_idx", F.col("cell").alias("_cell")
            )
        ),
        "_cell",
        "inner",
    ).select("point_id", "lat", "lon", "poly_idx")
    candidates = probe.join(
        F.broadcast(
            cover_idx.filter(~F.col("interior")).select(
                "poly_idx", F.col("cell").alias("_cell")
            )
        ),
        "_cell",
        "inner",
    ).select("point_id", "lat", "lon", "poly_idx")

    # result schema tracks the caller's point-id type (string/bigint/...)
    pid_type = dict(pts.dtypes)["point_id"]
    result_schema = f"point_id {pid_type}, lat double, lon double, poly_idx int"

    # map-only refine: all normalized rings broadcast once per executor; each
    # Arrow batch is grouped locally by poly_idx and ray-cast per group.
    # No shuffle, no sort, no skew — candidate rows never leave their partition.
    # mapInArrow, NOT mapInPandas: at ~10^8 candidate rows the Arrow->pandas
    # conversion materializes billions of Python string objects (id columns) and
    # becomes the memory-bandwidth ceiling of the whole join; in Arrow the ids
    # stay in columnar buffers and only lat/lon are viewed as numpy.
    bc_rings = prepared.rings  # a local: the closure must not capture the frames

    def refine_arrow(it):
        import pyarrow as pa

        rings = bc_rings.value
        kernels: dict[int, object] = {}
        for batch in it:
            if batch.num_rows == 0:
                continue
            # asarray(float64): decimal-typed lat/lon (e.g. SQL-derived) arrive
            # as object arrays of Decimal — coerce before the numpy kernel
            lon = np.asarray(
                batch.column("lon").to_numpy(zero_copy_only=False), dtype=np.float64
            )
            lat = np.asarray(
                batch.column("lat").to_numpy(zero_copy_only=False), dtype=np.float64
            )
            codes = batch.column("poly_idx").to_numpy(zero_copy_only=False)
            keep = P.refine_mask(lon, lat, codes, rings, kernels)
            yield batch.filter(pa.array(keep))

    refined = candidates.mapInArrow(refine_arrow, result_schema)

    # cover cells are disjoint, so interior and boundary matches cannot overlap;
    # polygon_id strings re-attach here, JVM-side, from the tiny broadcast map
    matches = (
        interior_matches.unionByName(refined)
        .join(F.broadcast(pid_map), "poly_idx")
        .select("point_id", "lat", "lon", "polygon_id")
    )
    return _apply_how(pts, matches, how)


def explode_multipolygon_parts(polygons: DataFrame) -> DataFrame:
    """(polygon_id, geojson) -> one row per polygon PART: (polygon_id, part_idx,
    geojson) where each part is rewrapped as a single-Polygon FeatureCollection
    (holes preserved).

    GeoJSON 'Polygon' geometries pass through as part 0; 'MultiPolygon' geometries
    emit one part per member polygon.  Documents that fail to parse pass through
    unchanged (part_idx 0) so the downstream normalize annotates them with the
    reference's exact error strings instead of dropping rows here."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pids, idxs, docs = [], [], []
            for pid, gj in zip(pdf["polygon_id"], pdf["geojson"]):
                parts = None
                try:
                    doc = json.loads(gj)
                    geom = doc["features"][0].get("geometry") or {}
                    gtype = geom.get("type")
                    if gtype == "MultiPolygon":
                        parts = geom["coordinates"]
                    elif gtype in (None, "Polygon"):
                        parts = [geom["coordinates"]]
                    else:
                        # non-polygonal geometry: pass through UNCHANGED so the
                        # downstream normalize annotates it with the specific
                        # unsupported-type message (rewrapping as 'Polygon' here
                        # would masquerade it as a malformed ring instead)
                        parts = None
                except Exception:
                    parts = None
                if not parts:
                    pids.append(pid); idxs.append(0); docs.append(gj)
                    continue
                for i, coords in enumerate(parts):
                    pids.append(pid)
                    idxs.append(i)
                    docs.append(json.dumps({
                        "type": "FeatureCollection",
                        "features": [{
                            "type": "Feature",
                            "geometry": {"type": "Polygon", "coordinates": coords},
                            "properties": {},
                        }],
                    }))
            yield pd.DataFrame(
                {"polygon_id": pids, "part_idx": idxs, "geojson": docs}
            )

    return polygons.select(F.col("polygon_id").cast("string"), "geojson").mapInPandas(
        batches, "polygon_id string, part_idx int, geojson string"
    )


def spatial_join_multi(
    points: DataFrame,
    polygons: DataFrame,
    how: str = "inner",
    **kwargs,
) -> DataFrame:
    """MultiPolygon-aware spatial join: a point matches a feature when it is inside
    ANY member polygon (union semantics, per the GeoJSON spec — parts are disjoint).

    Physical shape: parts exploded to independent rows (the polygon side stays the
    small side — parts multiply it by the part count, not the point count), joined
    with the regular two-phase engine under part ids ``<polygon_id>#<part_idx>``,
    then each match is mapped back to its feature id by stripping that suffix and
    deduped per (point, feature).  Composes with ``keep_holes=True`` — every part
    carries its own interior rings."""
    _check_how(how)
    parts = explode_multipolygon_parts(polygons).select(
        F.concat_ws("#", "polygon_id", F.col("part_idx").cast("string")).alias(
            "polygon_id"
        ),
        "geojson",
    )
    matches = (
        spatial_join(points, parts, how="inner", **kwargs)
        .withColumn("polygon_id", F.regexp_replace("polygon_id", "#[0-9]+$", ""))
        .dropDuplicates(["point_id", "polygon_id"])
    )
    pts = _points(points, kwargs.get("point_id", "point_id"))
    return _apply_how(pts, matches, how)


def polygon_intersect_join(
    polys_a: DataFrame,
    polys_b: DataFrame,
    zoom: int = 12,
) -> DataFrame:
    """Polygon x polygon intersection join: (a_id, b_id) for every pair of valid
    polygons that share any point (boundary-inclusive).

    Physical plan (both sides potentially large — neither is broadcast wholesale):
    1. normalize + cover BOTH sides at one zoom (the usual adaptive descent,
       expanded) — cover rows are (id, cell);
    2. candidates = cover_a equi-join cover_b on cell, deduped — polygons can only
       intersect if their covers share a cell (covers are conservative supersets),
       so the candidate set is complete and the only shuffle is on the cell key;
    3. exact refine per candidate pair with the vertex-containment + segment-
       intersection kernel (functions/polyops.py) inside mapInPandas, rings
       delivered via a join on the normalized tables (ring pairs are tiny —
       tens of vertices each).

    zoom trades candidate precision against cover size exactly like the point
    join; intersection semantics match the box-overlap oracle (entry
    ``polygon_intersect_join``) and the brute-force kernel pytest.
    """
    # the final select casts a_id/b_id back to the INPUT id types
    a_id_type = dict(polys_a.dtypes).get("polygon_id", "string")
    b_id_type = dict(polys_b.dtypes).get("polygon_id", "string")
    na = normalize_polygons(polys_a).filter(F.col("poly_errors") == "")
    nb = normalize_polygons(polys_b).filter(F.col("poly_errors") == "")
    ca = polygon_cover(na, zoom=zoom, compact=False).select(
        F.col("polygon_id").alias("a_id"), "cell"
    )
    cb = polygon_cover(nb, zoom=zoom, compact=False).select(
        F.col("polygon_id").alias("b_id"), "cell"
    )
    cand = ca.join(cb, "cell").select("a_id", "b_id").dropDuplicates(["a_id", "b_id"])
    pairs = (
        cand.join(na.select(F.col("polygon_id").alias("a_id"),
                            F.col("ring_json").alias("_ra")), "a_id")
        .join(nb.select(F.col("polygon_id").alias("b_id"),
                        F.col("ring_json").alias("_rb")), "b_id")
    )

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
    return pairs.mapInPandas(refine, schema).select(
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
