"""session.stage / release_staged free everything a staged frame holds."""

from geojson_utility_spark.session import release_staged, stage


def test_release_staged_deletes_reliable_checkpoint_files(spark, tmp_path):
    """With a checkpoint dir set, stage() checkpoints RELIABLY to files; after
    release_staged the dir holds no checkpoint (rdd-*) files."""
    sc = spark.sparkContext
    ckpt = tmp_path / "ckpt"
    sc.setCheckpointDir(str(ckpt))
    try:
        df = stage(spark.range(0, 5000, numPartitions=4).selectExpr("id", "id * 2 AS x"))
        assert df.count() == 5000
        assert list(ckpt.rglob("rdd-*")), "no reliable checkpoint files written"
        release_staged(df)
        assert not list(ckpt.rglob("rdd-*"))
    finally:
        # clear the dir so later tests see the default localCheckpoint mode
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
