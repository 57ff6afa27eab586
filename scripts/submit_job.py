#!/usr/bin/env python
"""spark-submit entry point (north_rule: "run via spark-submit --py-files").

Usage:
    python scripts/package.py                       # builds dist/geojson_utility_spark.zip
    spark-submit --master local[32] \
        --py-files dist/geojson_utility_spark.zip \
        scripts/submit_job.py --points <parquet> --polygons <parquet> --out <dir>

Runs the flagship spatial join end-to-end: read points parquet, read polygons parquet
(polygon_id, geojson), join, write matches parquet + a lineage row with metrics.
Everything imports from the zip — no repo checkout needed on executors.
"""

from __future__ import annotations

import argparse
import json
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--points", required=True)
    ap.add_argument("--polygons", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--zoom", type=int, default=13)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("geojson_utility_spark_job").getOrCreate()
    from geojson_utility_spark.operators.spatial_join import spatial_join
    from geojson_utility_spark.plans.checkpoint import StageCheckpointer

    pts = spark.read.parquet(args.points)
    polys = spark.read.parquet(args.polygons)
    ck = StageCheckpointer(spark, args.out, run_id=int(time.time()))
    t0 = time.perf_counter()
    result = ck.run_stage(
        "spatial_join",
        lambda: spatial_join(pts, polys, zoom=args.zoom, compact=True),
        fingerprint=f"{args.points}|{args.polygons}|{args.zoom}",
    )
    n = result.count()
    lineage = ck.partition_lineage("spatial_join", result)
    lineage.write.mode("overwrite").parquet(f"{args.out}/lineage")
    print(json.dumps({"matches": n, "sec": round(time.perf_counter() - t0, 2)}))
    spark.stop()


if __name__ == "__main__":
    main()
