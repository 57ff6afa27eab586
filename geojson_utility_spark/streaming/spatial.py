"""Streaming spatial join — point streams against a prepared polygon index.

The batch join's physical shape (broadcast cell-candidate join + map-only Arrow
PIP refine, ZERO shuffles of the point side — operators/spatial_join.py) is
exactly the shape Structured Streaming requires for stateless micro-batch
operators: every transformation is a narrow map or a broadcast hash join, so the
same code path runs unchanged on a streaming DataFrame with no state store, no
watermark, and per-batch latency equal to the batch join's per-partition cost.

The polygon side MUST be prepared up front (:func:`operators.spatial_join.
prepare_polygons`): its normalize/cover/collect steps are driver actions, which
are illegal on a streaming frame and wasteful per micro-batch.  This is also the
production deployment shape — a fixed serviceability-polygon set, a stream of
geotagged rows (orders, image ingests), matches appended to a sink.

Semantics: 'inner' only.  left_semi/left_anti need `matches.distinct()` over the
whole stream — a stateful aggregation; express gap reports as a downstream
windowed aggregation instead (streaming/windows.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from geojson_utility_spark.operators.spatial_join import (
    PreparedPolygons,
    spatial_join,
)


def streaming_spatial_join(
    stream_points: DataFrame,
    prepared: PreparedPolygons,
    point_id: str = "point_id",
) -> DataFrame:
    """stream(point_id, lat, lon) ⋈ prepared polygons -> streaming matches frame
    (point_id, lat, lon, polygon_id), ready for `.writeStream`.

    Identical results to the batch join (pinned by test): the plan contains only
    stateless narrow ops + broadcast joins, so Structured Streaming accepts it in
    append mode without watermarks.
    """
    if not stream_points.isStreaming:
        raise ValueError(
            "streaming_spatial_join expects a streaming DataFrame; "
            "use spatial_join for batch inputs"
        )
    return spatial_join(stream_points, prepared=prepared, point_id=point_id)
