"""Per-user sessionization over the events table (batch).

The reference has no data windows (its stream is status events only, SURVEY.md §2.8);
the engine keeps batch-first and sessionizes the events table with Spark's
``session_window``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-user sessionization: events chain into one session while each arrives
    at most ``gap`` after the previous (Spark merges AT exactly the gap — pinned
    by a boundary probe in the entry oracle); session_end = last event + gap
    (Spark ``session_window`` semantics, identical to the gaps-and-islands SQL
    formulation lag/cumsum oracles use).
    """
    return (
        events.groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )
