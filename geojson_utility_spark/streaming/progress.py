"""Progress-event stream — the Spark re-expression of the reference's SSE change feed.

Reference pipeline (SURVEY.md §2.8/§3.2): Postgres trigger fires on status *transition*
(backend/db/triggers.py:16 ``NEW.status != OLD.status``), maps status -> event type
(start/complete/update, triggers.py:21-25), fans out to per-subscriber queues, and the
SSE loop emits 30 s heartbeats and closes on terminal status.

Spark shape: batch jobs append JSON progress rows to an event directory (one file per
emission — the ``foreachBatch`` sink pattern); a Structured Streaming reader tails the
directory and emits every event, typed by the trigger's CASE and carrying its progress
percentage (no transition dedupe: the emitter decides what to publish); terminal
detection stops the query.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.IntegerType()),
        T.StructField("seq", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("completed", T.IntegerType()),
        T.StructField("failed", T.IntegerType()),
        T.StructField("total", T.IntegerType()),
        T.StructField("emitted_at", T.DoubleType()),
    ]
)

TERMINAL_STATUSES = ("done", "partial", "failed")


class ProgressEmitter:
    """Writes one JSON-lines file per emission into the event directory (the
    'trigger' side).  Deterministic sequencing; no Spark required to emit."""

    def __init__(self, event_dir: str):
        self.event_dir = event_dir
        os.makedirs(event_dir, exist_ok=True)
        self._seq = 0

    def emit(self, run_id: int, status: str, completed: int = 0, failed: int = 0,
             total: int = 0, emitted_at: float | None = None) -> None:
        self._seq += 1
        row = {
            "run_id": run_id,
            "seq": self._seq,
            "status": status,
            "completed": completed,
            "failed": failed,
            "total": total,
            "emitted_at": emitted_at if emitted_at is not None else time.time(),
        }
        path = os.path.join(self.event_dir, f"evt_{self._seq:08d}_{uuid.uuid4().hex}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(json.dumps(row) + "\n")
        os.rename(tmp, path)  # atomic publish — the reader never sees partial files


def event_type_expr():
    """The trigger's CASE (backend/db/triggers.py:21-25): processing->start,
    done/partial/failed->complete, else update."""
    return (
        F.when(F.col("status") == "processing", F.lit("start"))
        .when(F.col("status").isin(*TERMINAL_STATUSES), F.lit("complete"))
        .otherwise(F.lit("update"))
    )


def with_event_fields(events: DataFrame) -> DataFrame:
    """Adds event_type + progress percentage (A8 guard: total>0)."""
    pct = F.when(
        F.col("total") > 0, F.round(F.col("completed") * 100.0 / F.col("total"), 1)
    )
    return events.withColumn("event_type", event_type_expr()).withColumn("progress_pct", pct)


def with_heartbeats(
    events: DataFrame, now: float, interval_s: float = 30.0
) -> DataFrame:
    """Interleave explicit heartbeat rows into the event feed — the set-oriented
    re-expression of the reference's SSE idle heartbeat
    (/root/reference/backend/routers/catchment.py:601-609: on a 30 s asyncio timeout
    the loop yields ``{"type": "heartbeat", "csv_id", "timestamp"}``).

    For each run, a heartbeat is emitted every ``interval_s`` seconds of silence:
    between consecutive events, and between the last event and ``now`` unless the
    run reached a terminal status (the SSE loop closes on 'complete', so nothing
    beats after it).  Pure Catalyst: one lead() window + sequence/explode — no
    driver loop, scales with runs x gaps.

    Returns the union of real events (event_type from the trigger CASE) and
    heartbeat rows (event_type='heartbeat', progress fields null), ordered by
    (run_id, emitted_at, seq).
    """
    typed = with_event_fields(events)
    w = Window.partitionBy("run_id").orderBy("seq")
    nxt = F.lead("emitted_at").over(w)
    is_terminal = F.col("status").isin(*TERMINAL_STATUSES)
    # silence window after this event: until the next event, or until `now` for the
    # last event of a still-open run (terminal events close the feed)
    gap_end = F.coalesce(nxt, F.when(~is_terminal, F.lit(float(now))))
    n_beats = F.floor(
        (gap_end - F.col("emitted_at")) / F.lit(float(interval_s))
    ).cast("int")
    beats = (
        typed.withColumn("_n_beats", F.coalesce(n_beats, F.lit(0)))
        .filter(F.col("_n_beats") >= 1)
        .select(
            "run_id",
            "seq",
            "emitted_at",
            F.explode(F.sequence(F.lit(1), F.col("_n_beats"))).alias("_i"),
        )
        .select(
            "run_id",
            F.col("seq"),
            F.lit(None).cast("string").alias("status"),
            F.lit(None).cast("int").alias("completed"),
            F.lit(None).cast("int").alias("failed"),
            F.lit(None).cast("int").alias("total"),
            (F.col("emitted_at") + F.col("_i") * F.lit(float(interval_s))).alias(
                "emitted_at"
            ),
            F.lit("heartbeat").alias("event_type"),
            F.lit(None).cast("double").alias("progress_pct"),
        )
    )
    return typed.unionByName(beats).orderBy("run_id", "emitted_at", "seq")


def read_progress_stream(spark: SparkSession, event_dir: str) -> DataFrame:
    """Structured Streaming source over the event directory."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 100)
        .json(event_dir)
    )


def run_progress_query(
    spark: SparkSession, event_dir: str, sink_table: str = "progress_events"
):
    """Start the streaming query: tail events -> every event typed -> in-memory sink.

    Heartbeat = trigger interval; callers poll the sink table and stop on terminal
    status (mirrors the SSE loop's complete/heartbeat handling).
    """
    stream = with_event_fields(read_progress_stream(spark, event_dir))
    return (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(sink_table)
        .trigger(processingTime="1 second")
        .start()
    )
