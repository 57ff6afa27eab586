"""Physical-plan assertions — the plan-shape contracts that make the engine scale.

These pin the properties a 1000-executor run depends on: the candidate join stays a
broadcast hash join (never a sort-merge shuffle of the point table), parquet scans
prune to the referenced columns (an image-table query that doesn't touch ``bytes``
must not read it), and filters push into the scan.
"""

from pyspark.sql import functions as F

from geojson_utility_spark import fixtures as FX
from geojson_utility_spark.operators.spatial_join import spatial_join


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_candidate_join_is_broadcast(spark, tmp_path):
    pts_path = str(tmp_path / "pts.parquet")
    spark.createDataFrame(
        FX.image_point([f"img_{i:012d}" for i in range(2000)])
    ).withColumnRenamed("image_id", "point_id").write.parquet(pts_path)
    pts = spark.read.parquet(pts_path)
    polys = spark.createDataFrame(FX.make_polygons(10)[["polygon_id", "geojson"]])
    plan = _plan(spatial_join(pts, polys, compact=True))
    assert "BroadcastHashJoin" in plan
    # the trillion-row side must never shuffle for the candidate join
    assert "SortMergeJoin" not in plan


def test_column_pruning_reaches_scan(spark, tmp_path):
    """A query not touching `bytes` must not read it from the images parquet."""
    from geojson_utility_spark.schemas import IMAGES_SCHEMA

    path = str(tmp_path / "images.parquet")
    spark.createDataFrame(FX.make_images(30), schema=IMAGES_SCHEMA).write.parquet(path)
    images = spark.read.parquet(path)
    q = images.filter(F.col("fmt") == "png").select("image_id", "phash")
    plan = _plan(q)
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "bytes" not in read_schema, f"bytes column not pruned: {read_schema}"
    assert "phash" in read_schema
    # predicate pushed to the scan
    assert "PushedFilters" in plan
    assert "fmt" in plan.split("PushedFilters:")[1].splitlines()[0]


def test_validation_stays_in_codegen(spark):
    """Validation predicates compile into WholeStageCodegen spans (no Python in the
    predicate path; the only UDF is the 4-dp rounding projection)."""
    from geojson_utility_spark.operators.validation import validate_locations

    df = spark.createDataFrame(FX.make_locations(20).astype(object))
    plan = _plan(validate_locations(df).select("errors", "catchment_type", "magnitude"))
    # '*(n)' operator prefix marks WholeStageCodegen spans in executedPlan toString
    assert "*(" in plan


def test_flagship_single_shuffle(spark, tmp_path):
    """The inner spatial join never shuffles the point side: candidates come from
    broadcast hash joins, the refine is map-only, and every shuffle Exchange is on
    the tiny polygon side."""
    pts_path = str(tmp_path / "pts2.parquet")
    spark.createDataFrame(
        FX.image_point([f"img_{i:012d}" for i in range(2000)])
    ).withColumnRenamed("image_id", "point_id").write.parquet(pts_path)
    pts = spark.read.parquet(pts_path)
    polys = spark.createDataFrame(FX.make_polygons(10)[["polygon_id", "geojson"]])
    plan = _plan(spatial_join(pts, polys, compact=True))
    # point-side rows must NEVER shuffle: every Exchange in the plan is on the tiny
    # polygon side (normalize/cover repartition over ~10-10^5 rows). Verify no
    # exchange consumes the point table by checking none sits above the parquet scan:
    # the candidate path is Scan -> (codegen) -> BroadcastHashJoin -> mapInArrow.
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # every Exchange must hash-partition on polygon_id (tiny side); the point table
    # reaches the broadcast join straight from its parquet scan

    for line in plan.splitlines():
        # ANY shuffle exchange (hash/range/round-robin) must be on the tiny
        # polygon side; broadcast exchanges are the candidate broadcast itself
        if "Exchange" in line and "BroadcastExchange" not in line:
            assert "polygon_id" in line, f"point-side shuffle found: {line.strip()}"


def test_prepared_index_join_plan_shape(spark, tmp_path):
    """spatial_join through a PreparedPolygons index keeps the zero-point-shuffle
    plan: broadcast hash join only, every exchange on the tiny polygon side."""

    from geojson_utility_spark.operators.spatial_join import prepare_polygons

    pts_path = str(tmp_path / "pts_prep.parquet")
    spark.createDataFrame(
        FX.image_point([f"img_{i:012d}" for i in range(2000)])
    ).withColumnRenamed("image_id", "point_id").write.parquet(pts_path)
    pts = spark.read.parquet(pts_path)
    polys = spark.createDataFrame(FX.make_polygons(10)[["polygon_id", "geojson"]])
    prep = prepare_polygons(polys, compact=True)
    plan = _plan(spatial_join(pts, prepared=prep))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    for line in plan.splitlines():
        if "Exchange" in line and "BroadcastExchange" not in line:
            assert "polygon_id" in line, f"point-side shuffle found: {line.strip()}"
    prep.unpersist()


def test_ngram_shingle_distinct_fuses_with_keyed_spread(spark):
    """The round-5 prefix-stage contract: after _spread_keyed(doc_id), the
    distinct over (doc_id, shingle) — keys clustered by doc_id — must plan with
    exactly ONE Exchange (the keyed repartition itself), never a second
    exchange of the ~10x-larger shingle frame."""
    from geojson_utility_spark.operators import dedup as D

    docs = spark.range(0, 500).select(
        F.col("id").alias("doc_id"), F.md5(F.col("id").cast("string")).alias("text")
    )
    norm = D._spread_keyed(
        docs.select(
            "doc_id",
            F.regexp_replace(F.lower(F.col("text")), r"\s+", " ").alias("_norm"),
        ),
        "doc_id",
    )
    sh = (
        norm.select(
            "doc_id",
            "_norm",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.length("_norm") - 7, F.lit(1)))
            ).alias("_i"),
        )
        .select(
            "doc_id", F.substring(F.col("_norm"), F.col("_i"), F.lit(8)).alias("shingle")
        )
        .distinct()
    )
    plan = _plan(sh)
    n_exchanges = plan.count("Exchange")
    assert n_exchanges == 1, f"distinct subtree must fuse to 1 exchange:\n{plan}"
