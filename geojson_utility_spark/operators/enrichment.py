"""The flagship batch pipeline: validate -> enrich -> union -> order-restore.

Re-expresses the reference's POST /catchment/bulk worker (reference: backend/routers/
catchment.py:205-420) as ONE lazy DataFrame plan.  The per-row HTTPS enrichment call
(S5) is replaced by a local deterministic catchment-polygon generator inside an
Arrow-batched pandas UDF; the 8-thread pool becomes executor parallelism; the
check-then-consume token accounting becomes a deterministic budget *predicate*
(``row_number() <= budget`` over the valid rows in input order — same rows enriched as
the reference's sequential quota, but decided declaratively).

Output contract (pinned by golden tests):
- all input rows retained, original order (row_idx), input cardinality preserved
- ``geojson`` = normalized 1-Feature FeatureCollection JSON for enriched rows,
  ``'{}'`` otherwise (catchment.py:283 initializes geojson_str = '{}')
- ``errors`` = '; '-joined messages, '' when clean
"""

from __future__ import annotations

import json
from functools import partial

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geojson_utility_spark.functions import geometry as G
from geojson_utility_spark.operators.validation import validate_locations
from geojson_utility_spark.session import defer, release_staged, stage

TOKEN_EXHAUSTED_ERROR = "Your token allocation has been exhausted"

OUTPUT_COLUMNS = [
    "snp_id", "provider_id", "location_id", "location_gps",
    "drive_distance", "drive_time", "geojson", "errors",
]


@F.pandas_udf(T.StringType())
def catchment_geojson_udf(
    lat: pd.Series, lon: pd.Series, ctype: pd.Series, magnitude: pd.Series
) -> pd.Series:
    """Vectorized batch: (lat, lon, type, magnitude) -> normalized FeatureCollection
    JSON.  Deterministic stand-in for the external API (SURVEY.md §2.1 S5) producing
    exactly the reference's normalized shape (catchment.py:101-113)."""
    out = []
    for la, lo, ct, mg in zip(lat, lon, ctype, magnitude):
        if la is None or ct is None or mg is None or pd.isna(la) or pd.isna(mg):
            out.append("{}")
            continue
        ring = G.synth_catchment_ring(float(la), float(lo), float(mg), str(ct))
        out.append(json.dumps(G.wrap_polygon_feature_collection(ring)))
    return pd.Series(out, dtype="object")


def enrich_locations(
    df: DataFrame, token_budget: int | None = None
) -> DataFrame:
    """validate -> (budget gate) -> catchment enrich -> union branches -> restore order.

    ``token_budget``: max number of rows enriched (reference per-user quota,
    backend/models/user.py:11 DEFAULT_USER_TOKENS); None = unlimited.
    """
    v = validate_locations(df)
    is_valid = F.col("errors") == ""

    if token_budget is not None:
        # deterministic budget predicate: first N valid rows in input order get tokens
        # (replaces the reference's SELECT...FOR UPDATE row-locked counter,
        #  backend/core/lepton_usage.py:51-64).  Distributed two-pass global rank:
        # per-partition valid counts -> driver prefix sums -> partition-local window
        # rank + broadcast offset.  No single-partition global window; row_idx
        # (monotonically_increasing_id) orders rows within AND across partitions.
        v = stage(v.withColumn("_pid", F.spark_partition_id()), eager=False)
        defer(partial(release_staged, v))
        counts = {
            r["_pid"]: r["n"]
            for r in v.filter(is_valid)
            .groupBy("_pid")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        offsets = {}
        acc = 0
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        offset_expr = F.coalesce(
            *(
                [
                    F.create_map(
                        *[
                            x
                            for pid, off in sorted(offsets.items())
                            for x in (F.lit(pid), F.lit(off))
                        ]
                    )[F.col("_pid")]
                ]
                if offsets
                else []
            ),
            F.lit(0),
        )
        w_local = Window.partitionBy("_pid").orderBy("row_idx")
        local_rank = F.sum(is_valid.cast("int")).over(w_local)
        v = v.withColumn(
            "_over_budget",
            is_valid & ((local_rank + offset_expr) > F.lit(token_budget)),
        ).drop("_pid")
    else:
        v = v.withColumn("_over_budget", F.lit(False))

    enriched = v.withColumn(
        "geojson",
        F.when(
            is_valid & ~F.col("_over_budget"),
            catchment_geojson_udf(
                F.col("lat"), F.col("lon"), F.col("catchment_type"), F.col("magnitude")
            ),
        ).otherwise(F.lit("{}")),
    ).withColumn(
        "errors",
        F.when(F.col("_over_budget"), F.lit(TOKEN_EXHAUSTED_ERROR)).otherwise(
            F.col("errors")
        ),
    )
    return enriched.orderBy("row_idx").select(*OUTPUT_COLUMNS, "row_idx", "lat", "lon")


def run_metrics(enriched: DataFrame) -> dict:
    """A1-A3: one aggregate pass -> counters + derived status with the reference's
    exact precedence (catchment.py:401-417)."""
    has_err = F.col("errors") != ""
    token_err = F.col("errors").contains(TOKEN_EXHAUSTED_ERROR)
    credit_err = F.col("errors").contains("Lepton Maps API: Not enough credits")
    other_err = has_err & ~token_err & ~credit_err
    row = enriched.agg(
        F.count("*").alias("total_rows"),
        F.sum(has_err.cast("int")).alias("failed_rows"),
        F.sum((~has_err).cast("int")).alias("successful_rows"),
        F.sum((F.col("geojson") != "{}").cast("int")).alias("api_calls_made"),
        F.max(token_err.cast("int")).alias("has_token_exhaustion"),
        F.max(credit_err.cast("int")).alias("has_credit_err"),
        F.max(other_err.cast("int")).alias("has_other_errors"),
    ).collect()[0]
    m = row.asDict()
    if m["has_token_exhaustion"] and not m["has_other_errors"] and not m["has_credit_err"]:
        status, error = "partial", "Token allocation exhausted during processing"
    elif m["has_credit_err"]:
        status, error = "failed", "Lepton API credits exhausted"
    elif m["failed_rows"]:
        status, error = "failed", "Some rows failed, see errors column"
    else:
        status, error = "done", None
    m["status"] = status
    m["error"] = error
    m["tokens_consumed"] = m["api_calls_made"]
    for k in ("has_token_exhaustion", "has_credit_err", "has_other_errors"):
        m.pop(k)
    return m
