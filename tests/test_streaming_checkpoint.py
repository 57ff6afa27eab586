"""Streaming progress feed + checkpoint/resume tests."""

import json
import os

from pyspark.sql import functions as F

from geojson_utility_spark.plans.checkpoint import StageCheckpointer
from geojson_utility_spark.streaming import progress as PR


def test_progress_stream_end_to_end(spark, tmp_path):
    event_dir = str(tmp_path / "events")
    em = PR.ProgressEmitter(event_dir)
    em.emit(1, "pending", 0, 0, 10, emitted_at=1.0)
    em.emit(1, "processing", 0, 0, 10, emitted_at=2.0)
    em.emit(1, "processing", 5, 1, 10, emitted_at=3.0)  # same status -> still emitted
    em.emit(1, "done", 10, 1, 10, emitted_at=4.0)
    q = PR.run_progress_query(spark, event_dir, sink_table="prog_test")
    try:
        q.processAllAvailable()
        out = spark.sql("SELECT * FROM prog_test").orderBy("seq").toPandas()
    finally:
        q.stop()
    assert len(out) == 4
    assert out["event_type"].tolist() == ["update", "start", "start", "complete"]
    assert out["progress_pct"].iloc[2] == 50.0


def test_checkpoint_resume_skips_completed_stage(spark, tmp_path):
    root = str(tmp_path / "ckpt")
    ck = StageCheckpointer(spark, root, run_id=7)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(100).withColumn("v", F.col("id") * 2)

    out1 = ck.run_stage("stage_a", build, fingerprint="fp1")
    assert out1.count() == 100 and calls["n"] == 1
    # resume: same fingerprint -> no rebuild
    out2 = ck.run_stage("stage_a", build, fingerprint="fp1")
    assert out2.count() == 100 and calls["n"] == 1
    # changed inputs -> rebuild
    ck.run_stage("stage_a", build, fingerprint="fp2")
    assert calls["n"] == 2
    # manifest committed with metadata
    with open(os.path.join(root, "stage_a", "_MANIFEST.json")) as f:
        m = json.load(f)
    assert m["rows"] == 100 and m["committed"] and m["run_id"] == 7


def test_partition_lineage_rows(spark, tmp_path):
    ck = StageCheckpointer(spark, str(tmp_path / "ckpt2"), run_id=3)
    df = spark.range(1000).repartition(4)
    lin = ck.partition_lineage("enrich", df).toPandas()
    assert lin["rows"].sum() == 1000
    assert set(lin["stage"]) == {"enrich"}
    assert len(lin) == 4


def test_locations_csv_roundtrip(spark, tmp_path):
    from geojson_utility_spark import fixtures as FX
    from geojson_utility_spark.sources.locations_csv import (
        read_locations_csv,
        write_locations_csv,
    )

    pdf = FX.make_locations(10)
    src = str(tmp_path / "in.csv")
    pdf.to_csv(src, index=False)
    df = read_locations_csv(spark, src)
    assert df.columns[:6] == [
        "snp_id", "provider_id", "location_id", "location_gps",
        "drive_distance", "drive_time",
    ]
    assert df.count() == len(pdf)
    out_dir = str(tmp_path / "out_csv")
    write_locations_csv(df, out_dir)
    back = read_locations_csv(spark, out_dir)
    assert back.count() == len(pdf)


def test_heartbeat_rows(spark):
    """Explicit heartbeat events for idle gaps (reference catchment.py:601-609):
    one per 30 s of silence between events, trailing beats for open runs, none
    after terminal."""
    import pandas as pd

    from geojson_utility_spark.streaming.progress import with_heartbeats

    events = spark.createDataFrame(
        pd.DataFrame(
            {
                "run_id": [1, 1, 1, 2, 2],
                "seq": [1, 2, 3, 4, 5],
                "status": ["processing", "processing", "done",
                           "processing", "pending"],
                "completed": [0, 5, 10, 0, 3],
                "failed": [0, 0, 0, 0, 0],
                "total": [10, 10, 10, 10, 10],
                # run 1: 75 s gap (2 beats), then terminal at t=100
                # run 2: last event t=40, still open at now=130 -> 3 trailing beats
                "emitted_at": [0.0, 75.0, 100.0, 10.0, 40.0],
            }
        )
    )
    out = with_heartbeats(events, now=130.0, interval_s=30.0).toPandas()
    hb = out[out["event_type"] == "heartbeat"]
    r1 = hb[hb["run_id"] == 1]["emitted_at"].tolist()
    r2 = hb[hb["run_id"] == 2]["emitted_at"].tolist()
    assert r1 == [30.0, 60.0]          # inside the 0->75 gap; none after 'done'
    assert r2 == [40.0, 70.0, 100.0, 130.0]  # 10->40 gap beat + trailing beats
    # real events all present with their trigger types
    real = out[out["event_type"] != "heartbeat"]
    assert len(real) == 5
    assert set(real["event_type"]) == {"start", "update", "complete"}
    # feed ordering: heartbeats interleave chronologically per run
    per_run = out[out["run_id"] == 1]["emitted_at"].tolist()
    assert per_run == sorted(per_run)
