"""Physical-plan assertions — the plan-shape contracts that make the engine scale.

These pin the properties a 1000-executor run depends on: the spatial join is one
``MapInArrow`` pass straight over the point scan against a broadcast index (never a
shuffle or a join of the point table), parquet scans prune to the referenced columns
(an image-table query that doesn't touch ``bytes`` must not read it), and filters
push into the scan.
"""

import pytest
from pyspark.sql import functions as F

from geojson_utility_spark import fixtures as FX
from geojson_utility_spark.operators.spatial_join import spatial_join


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_one_arrow_pass(plan: str) -> None:
    """A spatial join against a built index: one MapInArrow at the root, straight
    over the point scan, with no Exchange, SortMergeJoin or BroadcastHashJoin
    anywhere (the polygon side was collected and broadcast before the call)."""
    assert plan.splitlines()[0].startswith("MapInArrow"), plan
    assert plan.count("MapInArrow") == 1, plan
    assert plan.count("FileScan parquet") == 1, plan
    for node in ("Exchange", "SortMergeJoin", "BroadcastHashJoin"):
        assert node not in plan, f"{node} in the join plan:\n{plan}"


def test_candidate_join_is_broadcast(spark, tmp_path):
    pts_path = str(tmp_path / "pts.parquet")
    spark.createDataFrame(
        FX.image_point([f"img_{i:012d}" for i in range(2000)])
    ).withColumnRenamed("image_id", "point_id").write.parquet(pts_path)
    pts = spark.read.parquet(pts_path)
    polys = spark.createDataFrame(FX.make_polygons(10)[["polygon_id", "geojson"]])
    plan = _plan(spatial_join(pts, polys, compact=True))
    # the candidates come from the broadcast index inside the one Arrow pass:
    # the trillion-row side never shuffles or joins
    _assert_one_arrow_pass(plan)


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
    """The inner spatial join never shuffles the point side: an unprepared call
    builds its index first (the polygon side's only shuffles run there), and the
    plan it returns is one map-only Arrow pass over the point scan."""
    pts_path = str(tmp_path / "pts2.parquet")
    spark.createDataFrame(
        FX.image_point([f"img_{i:012d}" for i in range(2000)])
    ).withColumnRenamed("image_id", "point_id").write.parquet(pts_path)
    pts = spark.read.parquet(pts_path)
    polys = spark.createDataFrame(FX.make_polygons(10)[["polygon_id", "geojson"]])
    plan = _plan(spatial_join(pts, polys, compact=True))
    _assert_one_arrow_pass(plan)
    assert "ReadSchema: struct<point_id:string,lat:double,lon:double>" in plan


@pytest.mark.parametrize("how", ["inner", "left_semi", "left_anti"])
def test_prepared_index_join_plan_shape(spark, tmp_path, how):
    """spatial_join through a PreparedPolygons index is one MapInArrow over the
    point scan for every ``how``: no exchange, no join, no per-call broadcast,
    and one Spark job."""

    from geojson_utility_spark.operators.spatial_join import prepare_polygons

    pts_path = str(tmp_path / "pts_prep.parquet")
    spark.createDataFrame(
        FX.image_point([f"img_{i:012d}" for i in range(2000)])
    ).withColumnRenamed("image_id", "point_id").write.parquet(pts_path)
    pts = spark.read.parquet(pts_path)
    polys = spark.createDataFrame(FX.make_polygons(10)[["polygon_id", "geojson"]])
    prep = prepare_polygons(polys, compact=True)
    joined = spatial_join(pts, prepared=prep, how=how)
    _assert_one_arrow_pass(_plan(joined))
    sc = spark.sparkContext
    group = f"prepared_join_{how}"
    sc.setJobGroup(group, "one job per prepared join")
    try:
        joined.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
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
