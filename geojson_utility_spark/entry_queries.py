"""Driver-contract queries: one entry per implemented operator (SURVEY.md §2).

Each entry pairs a Spark implementation with an ANSI-SQL oracle DuckDB runs on the same
parquet tables.  Parity rules learned the hard way (pinned by tests/test_entry.py):

- float SUMS are order-dependent -> aggregate in DECIMAL (exact, order-free), cast the
  final result to double.
- DuckDB ``cast(double AS int)`` ROUNDS; Spark truncates -> always ``floor``/``trunc``
  explicitly in oracle SQL.
- DuckDB ``regexp_replace`` needs the 'g' flag; Spark's is global by default.
- shared arithmetic (point derivation, haversine, mercator tiles) is written as the
  IDENTICAL formula on both sides: same doubles in, same IEEE ops -> same doubles out.
- compared columns prefer ints/strings/decimals; doubles only when computed by one
  deterministic per-row expression (never an aggregation order).

Queries whose Spark side uses non-SQL machinery (Arrow PIP refinement, xxhash64
minhash/simhash, image codecs) get an arithmetic or literal-expectation oracle that
encodes the same semantics (half-plane tests, embedded fixture literals, regenerated
codec expectations) — as of round 5 every entry is oracled; none are rows-only.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def register_views(spark: SparkSession, sf_dir: str) -> None:
    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)


def _reclaim(spark: SparkSession) -> None:
    """At the START of the heavy pipelines, release the engine state earlier
    entries deferred (a caller's own caches survive): the driver runs all 50
    entries in ONE session, where a default-heap (1g) bare session OOMed
    around entry ~36 without it.  A released checkpoint cannot be recomputed:
    safe ONLY under the driver's collect-then-construct contract, where entry
    N-1's result is collected before entry N is built and nothing reruns it."""
    from geojson_utility_spark.operators.dedup import sweep_stale_shingle_tables
    from geojson_utility_spark.session import release_deferred

    release_deferred()
    sweep_stale_shingle_tables(spark)
    # Minimal-heap hardening (r6): in a bare default-heap session (~1g, the
    # driver-stress envelope) the composite pipelines' local checkpoint blocks
    # compete with the 32-thread execution pool for a ~300 MB storage budget.
    # Setting a checkpoint dir switches every session.stage to a
    # RELIABLE disk checkpoint (heap-neutral, restart-survivable).  Driver runs
    # with real heap keep the faster local checkpoint path.
    sc = spark.sparkContext
    if sc._jvm.java.lang.Runtime.getRuntime().maxMemory() < 1600 * 1024 * 1024:
        if not sc._jsc.sc().getCheckpointDir().isDefined():
            sc.setCheckpointDir(f"/tmp/gjus_ckpt_{os.getpid()}")
        # A bare session also shuffles at the 200-partition SQL default, which
        # with 32 concurrent tasks puts ~200 MB of bypass-merge shuffle file
        # buffers (tasks x partitions x 32 KB) in flight — a fifth of a 1g heap.
        # Entry results are partition-count-independent (hash-green at both 32
        # and 200), so cap the SQL shuffle width to the core count.
        if int(spark.conf.get("spark.sql.shuffle.partitions", "200")) > 64:
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(sc.defaultParallelism)
            )


def _sql_query(sql: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir)
        return spark.sql(sql)

    return run


# ---------------------------------------------------------------------------
# shared derivations (identical text on both engines)
# ---------------------------------------------------------------------------

# deterministic point cloud from customer keys (integer arithmetic -> exact doubles)
PTS_CUSTOMER = (
    "SELECT c_custkey AS point_id, "
    "((c_custkey*9973)%14000)/100.0 - 70.0 AS lat, "
    "((c_custkey*7919)%34000)/100.0 - 170.0 AS lon FROM customer"
)
PTS_EVENTS = (
    "SELECT event_id AS point_id, "
    "((event_id*9973)%14000)/100.0 - 70.0 AS lat, "
    "((event_id*7919)%34000)/100.0 - 170.0 AS lon FROM events"
)
TGT_SUPPLIER = (
    "SELECT s_suppkey AS target_id, "
    "((s_suppkey*37)%140) - 70 + 0.5 AS lat, "
    "((s_suppkey*73)%340) - 170 + 0.5 AS lon FROM supplier"
)

HAVERSINE = (
    "2*6371.0088*asin(sqrt("
    "sin(radians(t_lat-p_lat)/2)*sin(radians(t_lat-p_lat)/2)"
    "+cos(radians(p_lat))*cos(radians(t_lat))"
    "*sin(radians(t_lon-p_lon)/2)*sin(radians(t_lon-p_lon)/2)))"
)

# convex CCW quadrilateral for the PIP oracle (lon, lat)
CONVEX_RING = [(0.0, 0.0), (40.0, 10.0), (50.0, 50.0), (-10.0, 40.0), (0.0, 0.0)]

# flagship point cloud: image-row point derivation with the fixture hotspot mixture
# (fixtures.HOTSPOTS) expressed in PURE RATIONAL arithmetic — integer hashing plus
# +,-,*,/ only, which are IEEE-exact and bit-identical across Spark and DuckDB
# (transcendentals sin/cos/log are NOT: libm vs StrictMath differ in ULPs).
# Square blobs around the four urban hot spots preserve the cell-level skew the join
# is designed for; the background is uniform over the India-ish bbox.
PTS_IMAGES = (
    "SELECT point_id, "
    "CASE WHEN usel < 0.30 THEN 28.6139 + (u1 - 0.5) * 0.25 "
    "WHEN usel < 0.55 THEN 19.0760 + (u1 - 0.5) * 0.25 "
    "WHEN usel < 0.70 THEN 12.9716 + (u1 - 0.5) * 0.25 "
    "WHEN usel < 0.80 THEN 13.0827 + (u1 - 0.5) * 0.25 "
    "ELSE 8.0 + u1 * 26.0 END AS lat, "
    "CASE WHEN usel < 0.30 THEN 77.2090 + (u2 - 0.5) * 0.25 "
    "WHEN usel < 0.55 THEN 72.8777 + (u2 - 0.5) * 0.25 "
    "WHEN usel < 0.70 THEN 77.5946 + (u2 - 0.5) * 0.25 "
    "WHEN usel < 0.80 THEN 80.2707 + (u2 - 0.5) * 0.25 "
    "ELSE 68.0 + u2 * 24.0 END AS lon FROM ("
    "SELECT o_orderkey AS point_id, "
    "((o_orderkey * 9973) % 10000) / 10000.0 AS usel, "
    "((o_orderkey * 7919) % 1000000) / 1000000.0 AS u1, "
    "((o_orderkey * 104729) % 1000000) / 1000000.0 AS u2 "
    "FROM orders) t"
)


def _halfplane_sql() -> str:
    conds = []
    r = CONVEX_RING
    for (x1, y1), (x2, y2) in zip(r[:-1], r[1:]):
        # parenthesize vertices: a bare negative after '-' would form a '--' comment
        conds.append(
            f"((({x2})-({x1}))*(lat-({y1})) - (({y2})-({y1}))*(lon-({x1}))) >= 0"
        )
    return " AND ".join(conds)


# ---------------------------------------------------------------------------
# Group A/B — relational coverage (shared SQL text, Spark==DuckDB dialect subset)
# ---------------------------------------------------------------------------

SHARED_SQL: dict[str, str] = {
    # A4-A9 dashboard probes tag-unioned into ONE entry (frees driver-window
    # slots for the round-3 near-dup operators — VERDICT r3 item 2):
    #   'user'   rows: groupBy-count per user + greatest(0, limit-used) tokens (A4/A7/A9)
    #   'global' row : trailing-7-day count anchored at max(ts) + coalesce-sum (A5/A6)
    #   'status' rows: guarded percentage floor(1000*n/total) (A8)
    "agg_dashboard_probes": (
        "SELECT 'user' AS probe, cast(user_id AS string) AS k, "
        "count(*) AS v1, cast(greatest(0, 100 - count(*)) AS double) AS v2 "
        "FROM events GROUP BY user_id "
        "UNION ALL "
        "SELECT 'global' AS probe, '' AS k, "
        "(SELECT count(*) FROM events WHERE ts >= "
        "(SELECT max(ts) FROM events) - INTERVAL 7 DAY) AS v1, "
        "(SELECT cast(coalesce(sum(cast(value AS decimal(18,6))), 0) AS double) "
        "FROM events WHERE event_type = 'purchase') AS v2 "
        "UNION ALL "
        "SELECT 'status' AS probe, event_type AS k, "
        "cast(floor(n * 1000.0 / total) AS bigint) AS v1, "
        "cast(n AS double) AS v2 "
        "FROM (SELECT event_type, count(*) AS n, "
        "(SELECT count(*) FROM events) AS total FROM events GROUP BY event_type) t"
    ),
    # TPC-H Q1 shape + ROLLUP subtotals + exact distinct-counts, one statement:
    # multi-agg groupBy (decimal-exact sums), grouping-sets family, count(DISTINCT)
    "q1_pricing_rollup": (
        "SELECT l_returnflag, l_linestatus, "
        "cast(sum(cast(l_quantity AS decimal(18,2))) AS double) AS sum_qty, "
        "cast(sum(cast(l_extendedprice AS decimal(18,2))) AS double) AS sum_base_price, "
        "cast(sum(cast(l_extendedprice AS decimal(18,2)) * "
        "cast(1 - l_discount AS decimal(8,4))) AS double) AS sum_disc_price, "
        "count(*) AS count_order, "
        "count(DISTINCT l_partkey) AS n_parts, "
        "count(DISTINCT l_suppkey) AS n_supps "
        "FROM lineitem WHERE l_shipdate <= DATE '1997-09-01' "
        "GROUP BY ROLLUP (l_returnflag, l_linestatus)"
    ),
    # TPC-H Q3 shape: 3-way join + agg + deterministic top-10
    "q3_shipping_priority": (
        "SELECT o_orderkey, "
        "cast(sum(cast(l_extendedprice AS decimal(18,2)) * "
        "cast(1 - l_discount AS decimal(8,4))) AS double) AS revenue "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < DATE '1997-03-15' "
        "GROUP BY o_orderkey "
        "ORDER BY revenue DESC, o_orderkey LIMIT 10"
    ),
    # TPC-H Q5 shape: 6-way join
    "q5_region_volume": (
        "SELECT n_name, "
        "cast(sum(cast(l_extendedprice AS decimal(18,2)) * "
        "cast(1 - l_discount AS decimal(8,4))) AS double) AS revenue "
        "FROM region JOIN nation ON n_regionkey = r_regionkey "
        "JOIN customer ON c_nationkey = n_nationkey "
        "JOIN orders ON o_custkey = c_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey "
        "WHERE r_name = 'ASIA' GROUP BY n_name"
    ),
    # W4 topk + W1 top-1-by-timestamp + W-running cumulative frame, tag-unioned
    # (merged r4/r5 to free driver-window slots for dedup_components and
    # sample_stratified; the running-sum branch pins the ROWS BETWEEN frame and
    # decimal-sum semantics previously covered by the standalone
    # window_running_sum entry — bench.py still times that SQL standalone via
    # WINDOW_RUNNING_SUM_SQL for cross-round comparability)
    "window_rank_probes": (
        "SELECT 'top3' AS probe, p_brand AS k, p_partkey AS id, "
        "cast(p_retailprice AS double) AS val FROM ("
        "SELECT p_brand, p_partkey, p_retailprice, "
        "row_number() OVER (PARTITION BY p_brand "
        "ORDER BY p_retailprice DESC, p_partkey) AS rn FROM part) t WHERE rn <= 3 "
        "UNION ALL "
        "SELECT 'last_order' AS probe, cast(o_custkey AS string) AS k, "
        "o_orderkey AS id, cast(0.0 AS double) AS val FROM ("
        "SELECT o_custkey, o_orderkey, row_number() OVER "
        "(PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey) AS rn "
        "FROM orders) t WHERE rn = 1 "
        "UNION ALL "
        "SELECT 'run_sum' AS probe, cast(l_suppkey AS string) AS k, "
        "l_orderkey * 8 + l_linenumber AS id, "
        "cast(sum(cast(l_quantity AS decimal(18,2))) OVER "
        "(PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS double) AS val "
        "FROM lineitem WHERE l_suppkey <= 3"
    ),
    # W2 + W2b, tag-unioned: offset pagination page 3 (rows 21-30, global
    # row_number) and keyset pagination (the scale-safe page shape: range
    # predicate + ORDER BY/LIMIT = TakeOrdered, no global window)
    "window_pagination": (
        "SELECT 'offset' AS probe, o_orderkey, cast(rn AS string) AS val FROM ("
        "SELECT o_orderkey, row_number() OVER "
        "(ORDER BY o_orderdate DESC, o_orderkey) AS rn FROM orders) t "
        "WHERE rn > 20 AND rn <= 30 "
        "UNION ALL "
        "SELECT 'keyset' AS probe, o_orderkey, cast(o_orderdate AS string) AS val "
        "FROM (SELECT o_orderkey, o_orderdate FROM orders "
        "WHERE o_orderdate < DATE '1997-06-30' "
        "OR (o_orderdate = DATE '1997-06-30' AND o_orderkey > 1000) "
        "ORDER BY o_orderdate DESC, o_orderkey LIMIT 10) k"
    ),
    # semi + anti join, tag-unioned (serviceability-gap analog keeps both plans:
    # Spark compiles the two branches to LeftSemi and LeftAnti joins)
    "join_semi_anti": (
        "SELECT 'served' AS side, c_custkey, c_name FROM customer "
        "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) "
        "UNION ALL "
        "SELECT 'gap' AS side, c_custkey, c_name FROM customer "
        "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"
    ),
    # P4/P5: duplicate-group detection
    "dup_group_detection": (
        "SELECT l_orderkey, l_partkey, count(*) AS n_copies FROM lineitem "
        "GROUP BY l_orderkey, l_partkey HAVING count(*) > 1"
    ),
    # §2.6: union of annotated branches (errors-column shape), cardinality preserved
    "union_annotated_branches": (
        "SELECT l_orderkey, l_linenumber, 'high_discount' AS tag FROM lineitem "
        "WHERE l_discount > 0.05 "
        "UNION ALL "
        "SELECT l_orderkey, l_linenumber, '' AS tag FROM lineitem "
        "WHERE NOT (l_discount > 0.05)"
    ),
    # A3: status-derivation CASE with precedence
    "status_case_derivation": (
        "SELECT CASE WHEN o_orderstatus = 'F' THEN 'done' "
        "WHEN o_orderstatus = 'O' THEN 'processing' ELSE 'partial' END AS status, "
        "count(*) AS n FROM orders GROUP BY 1"
    ),
    # P10/P11: lenient numeric parse + precedence CASE + truncation
    "drive_value_precedence": (
        "SELECT l_orderkey, l_linenumber, "
        "CASE WHEN dist IS NOT NULL AND dist > 0 AND dist <= 100000 "
        "THEN 'drive_distance' "
        "WHEN time IS NOT NULL AND time > 0 AND time <= 10000 THEN 'drive_time' "
        "END AS catchment_type, "
        "CASE WHEN dist IS NOT NULL AND dist > 0 AND dist <= 100000 "
        "THEN cast(floor(dist) AS int) "
        "WHEN time IS NOT NULL AND time > 0 AND time <= 10000 "
        "THEN cast(floor(time) AS int) END AS magnitude "
        "FROM (SELECT l_orderkey, l_linenumber, "
        "CASE WHEN l_quantity > 30 THEN l_quantity * 1000 END AS dist, "
        "l_extendedprice / 10.0 AS time FROM lineitem) t"
    ),
    # scalar-function family (string/math per §2.7) + date extraction, one per-row
    # pass over orders (the monthly group-by shape is already pinned by the other
    # groupBy+decimal-sum entries)
    "scalar_date_functions": (
        "SELECT o_orderkey, "
        "upper(substring(o_orderpriority, 1, 1)) AS pri_initial, "
        "length(o_orderpriority) AS pri_len, "
        "cast(floor(o_totalprice / 1000) AS bigint) AS price_bucket, "
        "greatest(0, cast(floor(o_totalprice) AS bigint) - 100000) AS over_100k, "
        "cast(extract(year FROM o_orderdate) * 100 "
        "+ extract(month FROM o_orderdate) AS bigint) AS month "
        "FROM orders"
    ),
}

# Timed standalone by bench.py (cross-round comparability of the
# window_running_sum bench query); its correctness row now lives as the
# 'run_sum' branch of the window_rank_probes entry.
WINDOW_RUNNING_SUM_SQL = (
    "SELECT l_suppkey, l_orderkey, l_linenumber, "
    "cast(sum(cast(l_quantity AS decimal(18,2))) OVER "
    "(PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS double) AS running_qty "
    "FROM lineitem WHERE l_suppkey <= 3"
)


# ---------------------------------------------------------------------------
# Group C/D/E — operator-backed queries (DataFrame API) with arithmetic oracles
# ---------------------------------------------------------------------------

def q_tile_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XYZ tile/cell assignment — pure Catalyst expression on derived points."""
    from geojson_utility_spark.functions.spark_geo import cell_expr

    register_views(spark, sf_dir)
    pts = spark.sql(PTS_CUSTOMER)
    return pts.select(
        "point_id", cell_expr(F.col("lat"), F.col("lon"), 13).alias("cell")
    )


def oracle_tile_assignment() -> str:
    from geojson_utility_spark.functions.spark_geo import cell_sql

    return f"SELECT point_id, {cell_sql('lat', 'lon', 13)} AS cell FROM ({PTS_CUSTOMER}) t"


def q_cell_heat(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geojson_utility_spark.operators.spatial_join import cell_heat_stats

    register_views(spark, sf_dir)
    return cell_heat_stats(spark.sql(PTS_EVENTS), zoom=8)


def oracle_cell_heat() -> str:
    from geojson_utility_spark.functions.spark_geo import cell_sql

    return (
        f"SELECT {cell_sql('lat', 'lon', 8)} AS cell, count(*) AS n_points "
        f"FROM ({PTS_EVENTS}) t GROUP BY 1"
    )


def q_spatial_join_convex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner join + serviceability-gap anti join against a convex polygon the
    oracle can express as half-plane conjunctions, tag-unioned ('in'/'out') —
    exercises covering + broadcast + Arrow PIP refine AND the left_anti plan in
    one driver row."""
    import json

    from geojson_utility_spark.functions import geometry as G
    from geojson_utility_spark.operators.spatial_join import spatial_join

    register_views(spark, sf_dir)
    pts = spark.sql(PTS_CUSTOMER)
    ring = [[x, y] for x, y in CONVEX_RING]
    polys = spark.createDataFrame(
        [("convex_1", json.dumps(G.wrap_polygon_feature_collection(ring)))],
        ["polygon_id", "geojson"],
    )
    inner = (
        spatial_join(pts, polys, zoom=9)
        .select("point_id")
        .withColumn("side", F.lit("in"))
    )
    anti = (
        spatial_join(pts, polys, zoom=9, how="left_anti")
        .select("point_id")
        .withColumn("side", F.lit("out"))
    )
    return inner.unionByName(anti)


def oracle_spatial_join_convex() -> str:
    return (
        f"SELECT point_id, 'in' AS side FROM ({PTS_CUSTOMER}) t "
        f"WHERE {_halfplane_sql()} "
        "UNION ALL "
        f"SELECT point_id, 'out' AS side FROM ({PTS_CUSTOMER}) t "
        f"WHERE NOT ({_halfplane_sql()})"
    )


# second convex CCW part for the MultiPolygon probe — disjoint from CONVEX_RING
MULTI_RING_2 = [
    (60.0, -40.0), (90.0, -35.0), (95.0, -5.0), (55.0, -10.0), (60.0, -40.0)
]


def _halfplane_sql_for(ring) -> str:
    conds = []
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        conds.append(
            f"((({x2})-({x1}))*(lat-({y1})) - (({y2})-({y1}))*(lon-({x1}))) >= 0"
        )
    return " AND ".join(conds)


def q_spatial_join_multipolygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MultiPolygon union semantics: one feature with two disjoint convex parts —
    a point matches iff it is inside EITHER part, one row per (point, feature).
    Oracle = OR of the two parts' half-plane conjunctions."""
    import json

    from geojson_utility_spark.operators.spatial_join import spatial_join

    register_views(spark, sf_dir)
    pts = spark.sql(PTS_CUSTOMER)
    gj = json.dumps(
        {
            "type": "FeatureCollection",
            "features": [
                {
                    "type": "Feature",
                    "geometry": {
                        "type": "MultiPolygon",
                        "coordinates": [
                            [[[x, y] for x, y in CONVEX_RING]],
                            [[[x, y] for x, y in MULTI_RING_2]],
                        ],
                    },
                    "properties": {},
                }
            ],
        }
    )
    polys = spark.createDataFrame([("mp_1", gj)], ["polygon_id", "geojson"])
    return spatial_join(pts, polys, zoom=9).select("point_id", "polygon_id")


def oracle_spatial_join_multipolygon() -> str:
    return (
        f"SELECT point_id, 'mp_1' AS polygon_id FROM ({PTS_CUSTOMER}) t "
        f"WHERE ({_halfplane_sql_for(CONVEX_RING)}) "
        f"OR ({_halfplane_sql_for(MULTI_RING_2)})"
    )


def q_knn_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid kNN join (k-ring expansion + exact exhaustive pass) — oracle is the
    brute-force window.  zoom 7 tiles (~3 deg) suit the sparse derived target grid."""
    from geojson_utility_spark.operators.knn import knn_join

    register_views(spark, sf_dir)
    pts = spark.sql(PTS_CUSTOMER)
    tgt = spark.sql(TGT_SUPPLIER)
    return knn_join(pts, tgt, k=3, zoom=7).select("point_id", "target_id", "knn_rank")


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON document access (§2.7 json family): extract typed field from props."""
    register_views(spark, sf_dir)
    return spark.table("events").select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").try_cast("bigint").alias("k_value"),
    )


def oracle_json_extract() -> str:
    return (
        "SELECT event_id, try_cast(json_extract_string(props, '$.k') AS bigint) "
        "AS k_value FROM events"
    )


def q_validate_id_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 id predicates as error-string annotation (rlike vs regexp_matches)."""
    register_views(spark, sf_dir)
    v = F.trim(F.col("p_name"))
    err = (
        F.when(F.length(v) == 0, F.lit("p_name must be a non-empty string."))
        .when(F.length(v) > 255, F.lit("p_name must be at most 255 characters."))
        .when(~v.rlike(r"^[\w\.\-@/]+$"), F.lit("p_name contains invalid characters."))
        .otherwise(F.lit(""))
    )
    return spark.table("part").select("p_partkey", err.alias("errors"))


def oracle_validate_id_fields() -> str:
    return (
        "SELECT p_partkey, CASE "
        "WHEN length(trim(p_name)) = 0 THEN 'p_name must be a non-empty string.' "
        "WHEN length(trim(p_name)) > 255 THEN 'p_name must be at most 255 characters.' "
        "WHEN NOT regexp_matches(trim(p_name), '^[\\w\\.\\-@/]+$') "
        "THEN 'p_name contains invalid characters.' "
        "ELSE '' END AS errors FROM part"
    )


def q_heartbeat_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 heartbeat/liveness: the idle-gap heartbeat operator over a feed derived
    from the events table (run=user, seq=event_id, emitted_at=epoch seconds), with a
    deterministic ``now`` anchored at max(ts)+1 day and a 6 h interval — every beat
    time is exact double arithmetic, so the oracle hash-matches."""
    from geojson_utility_spark.streaming.progress import with_heartbeats

    register_views(spark, sf_dir)
    feed = spark.table("events").select(
        F.col("user_id").cast("int").alias("run_id"),
        F.col("event_id").alias("seq"),
        F.col("event_type").alias("status"),
        F.lit(0).alias("completed"),
        F.lit(0).alias("failed"),
        F.lit(0).alias("total"),
        # UTC session tz: NTZ -> timestamp is identity; micros/1e6 is the same
        # IEEE division DuckDB's epoch() performs -> identical doubles
        (F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1000000.0)).alias(
            "emitted_at"
        ),
    )
    now = feed.agg(F.max("emitted_at")).first()[0] + 86400.0
    out = with_heartbeats(feed, now=now, interval_s=21600.0)
    return out.select("run_id", "seq", "event_type", "emitted_at")


def oracle_heartbeat_events() -> str:
    terminal = "('done','partial','failed')"
    case = (
        "CASE WHEN status = 'processing' THEN 'start' "
        f"WHEN status IN {terminal} THEN 'complete' ELSE 'update' END"
    )
    return (
        "WITH ev AS (SELECT user_id::INT AS run_id, event_id AS seq, "
        "event_type AS status, epoch(ts)::DOUBLE AS emitted_at FROM events), "
        "anchor AS (SELECT max(emitted_at) + 86400.0 AS now FROM ev), "
        f"typed AS (SELECT run_id, seq, status, emitted_at, {case} AS event_type, "
        "lead(emitted_at) OVER (PARTITION BY run_id ORDER BY seq) AS nxt FROM ev), "
        "gaps AS (SELECT run_id, seq, emitted_at, "
        "coalesce(nxt, CASE WHEN status NOT IN " + terminal + " THEN "
        "(SELECT now FROM anchor) END) AS gap_end FROM typed), "
        "beats AS (SELECT run_id, seq, 'heartbeat' AS event_type, "
        "emitted_at + i * 21600.0 AS emitted_at FROM ("
        "SELECT run_id, seq, emitted_at, unnest(range(1, "
        "(CASE WHEN gap_end IS NULL THEN 0 ELSE "
        "floor((gap_end - emitted_at) / 21600.0)::BIGINT END) + 1)) AS i FROM gaps) t) "
        "SELECT run_id, seq, event_type, emitted_at FROM typed "
        "UNION ALL SELECT run_id, seq, event_type, emitted_at FROM beats"
    )




# locations-shaped rows synthesized from customer keys in pure integer/string
# arithmetic (exact cross-engine): a mix of valid rows and one negative vector per
# predicate family (P6 ids incl. the str(NaN)='nan' quirk, P7 gps formats, P9
# presence, P10 lenient parse, P11 precedence/bounds)
LOCS_SYNTH = (
    "SELECT c_custkey AS row_key, "
    "CASE WHEN c_custkey % 23 = 0 THEN '' "
    "WHEN c_custkey % 23 = 1 THEN 'bad id!' "
    "WHEN c_custkey % 23 = 2 THEN NULL "
    "ELSE concat('seller_', c_custkey) END AS snp_id, "
    "CASE WHEN c_custkey % 23 = 3 THEN ' ' "
    "ELSE concat('provider', c_custkey % 9) END AS provider_id, "
    "concat('L', c_custkey) AS location_id, "
    "CASE WHEN c_custkey % 29 = 0 THEN lat_str "
    "WHEN c_custkey % 29 = 1 THEN concat('abc,', lon_str) "
    "WHEN c_custkey % 29 = 2 THEN concat(lat_int, '.123,', lon_str) "
    "WHEN c_custkey % 29 = 3 THEN concat('95.12345,', lon_str) "
    "WHEN c_custkey % 29 = 4 THEN '' "
    "WHEN c_custkey % 29 = 5 THEN NULL "
    "WHEN c_custkey % 29 = 6 THEN concat(' ', lat_str, ' , ', lon_str, ' ') "
    "ELSE concat(lat_str, ',', lon_str) END AS location_gps, "
    "CASE WHEN c_custkey % 31 = 0 THEN '' "
    "WHEN c_custkey % 31 = 1 THEN 'abc' "
    "WHEN c_custkey % 31 = 2 THEN '-5' "
    "WHEN c_custkey % 31 = 3 THEN '100001' "
    "WHEN c_custkey % 31 = 4 THEN concat(c_custkey % 5000 + 1, '.5') "
    "WHEN c_custkey % 31 = 5 THEN NULL "
    "ELSE concat(c_custkey % 5000 + 1, '') END AS drive_distance, "
    "CASE WHEN c_custkey % 37 = 0 THEN '' "
    "WHEN c_custkey % 37 = 1 THEN 'xyz' "
    "WHEN c_custkey % 37 = 2 THEN '0' "
    "WHEN c_custkey % 37 = 3 THEN '10001' "
    "WHEN c_custkey % 37 = 4 THEN NULL "
    "ELSE concat(c_custkey % 120 + 1, '') END AS drive_time "
    "FROM (SELECT c_custkey, "
    "concat((c_custkey * 37) % 170 - 85, '.', "
    "lpad(concat((c_custkey * 9973) % 100000, ''), 5, '0')) AS lat_str, "
    "concat((c_custkey * 73) % 340 - 170, '.', "
    "lpad(concat((c_custkey * 7919) % 100000, ''), 5, '0')) AS lon_str, "
    "(c_custkey * 37) % 170 - 85 AS lat_int FROM customer) t"
)


def q_validate_locations_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE row-validation pipeline (P6-P11 + error assembly + precedence +
    exact %.4f rounding) run by the real operator over synthesized locations rows —
    oracle replicates every predicate in SQL, including the decimal-count string
    test, the str(NaN)='nan' quirk, concat_ws error joining, truncating int casts,
    and printf('%.4f') rounding (C semantics on both engines)."""
    from geojson_utility_spark.operators.validation import validate_locations

    register_views(spark, sf_dir)
    locs = spark.sql(LOCS_SYNTH)
    out = validate_locations(locs)
    return out.select(
        "row_key", "errors", "catchment_type", "magnitude", "lat", "lon"
    )


def oracle_validate_locations_full() -> str:
    gps_err = (
        "location_gps must be a string with two comma-separated floats, "
        "each with at least 4 decimals, valid range."
    )
    id_err = (
        "CASE WHEN length(s_{c}) = 0 THEN '{c} must be a non-empty string.' "
        "WHEN length(s_{c}) > 255 THEN '{c} must be at most 255 characters.' "
        "WHEN NOT regexp_matches(s_{c}, '^[\\w\\.\\-@/]+$') "
        "THEN '{c} contains invalid characters.' END"
    )
    return (
        f"WITH locs AS ({{locs}}), "
        "s AS (SELECT row_key, "
        "trim(coalesce(snp_id, 'nan')) AS s_snp_id, "
        "trim(coalesce(provider_id, 'nan')) AS s_provider_id, "
        "trim(coalesce(location_id, 'nan')) AS s_location_id, "
        "trim(coalesce(location_gps, 'nan')) AS gps, "
        "drive_distance, drive_time FROM locs), "
        "parts AS (SELECT *, str_split(gps, ',') AS p, "
        "trim(p[1]) AS lat_s, "
        "CASE WHEN len(p) >= 2 THEN trim(p[2]) END AS lon_s, "
        "try_cast(trim(p[1]) AS DOUBLE) AS lat_d, "
        "CASE WHEN len(p) >= 2 THEN try_cast(trim(p[2]) AS DOUBLE) END AS lon_d, "
        "drive_distance IS NOT NULL AND trim(drive_distance) <> '' AS dist_present, "
        "drive_time IS NOT NULL AND trim(drive_time) <> '' AS time_present, "
        "try_cast(trim(coalesce(drive_distance, '')) AS DOUBLE) AS dist_num, "
        "try_cast(trim(coalesce(drive_time, '')) AS DOUBLE) AS time_num "
        "FROM s), "
        "flags AS (SELECT *, "
        "(len(p) = 2 AND lat_d IS NOT NULL AND lon_d IS NOT NULL "
        "AND NOT isnan(lat_d) AND NOT isnan(lon_d) "
        "AND strpos(lat_s, '.') > 0 "
        "AND length(regexp_extract(lat_s, '[^.]*$')) >= 4 "
        "AND lon_s IS NOT NULL AND strpos(lon_s, '.') > 0 "
        "AND length(regexp_extract(lon_s, '[^.]*$')) >= 4 "
        "AND lat_d BETWEEN -90 AND 90 AND lon_d BETWEEN -180 AND 180) AS gps_ok, "
        "(dist_present AND dist_num IS NOT NULL AND NOT isnan(dist_num)) AS dist_parsed, "
        "(time_present AND time_num IS NOT NULL AND NOT isnan(time_num)) AS time_parsed "
        "FROM parts), "
        "prec AS (SELECT *, "
        "(dist_parsed AND dist_num > 0 AND dist_num <= 100000) AS use_dist, "
        "(NOT (dist_parsed AND dist_num > 0 AND dist_num <= 100000) "
        "AND time_parsed AND time_num > 0 AND time_num <= 10000) AS use_time, "
        "CASE WHEN gps_ok THEN printf('%.4f', lat_d)::DOUBLE END AS lat, "
        "CASE WHEN gps_ok THEN printf('%.4f', lon_d)::DOUBLE END AS lon "
        "FROM flags) "
        "SELECT row_key, concat_ws('; ', "
        + id_err.format(c="snp_id") + ", "
        + id_err.format(c="provider_id") + ", "
        + id_err.format(c="location_id") + ", "
        f"CASE WHEN NOT gps_ok THEN '{gps_err}' END, "
        "CASE WHEN gps_ok AND NOT (lat BETWEEN -90 AND 90) "
        "THEN 'latitude in location_gps must be between -90 and 90.' END, "
        "CASE WHEN gps_ok AND NOT (lon BETWEEN -180 AND 180) "
        "THEN 'longitude in location_gps must be between -180 and 180.' END, "
        "CASE WHEN NOT dist_present AND NOT time_present "
        "THEN 'Either drive_distance or drive_time must be provided and non-empty.' END, "
        "CASE WHEN dist_present AND NOT dist_parsed "
        "THEN 'drive_distance must be a valid number if present.' END, "
        "CASE WHEN dist_parsed AND dist_num <= 0 "
        "THEN 'drive_distance must be a positive number.' END, "
        "CASE WHEN dist_parsed AND dist_num > 100000 "
        "THEN 'drive_distance is unreasonably large.' END, "
        "CASE WHEN NOT use_dist AND time_present AND NOT time_parsed "
        "THEN 'drive_time must be a valid number if present.' END, "
        "CASE WHEN NOT use_dist AND time_parsed AND time_num <= 0 "
        "THEN 'drive_time must be a positive number.' END, "
        "CASE WHEN NOT use_dist AND time_parsed AND time_num > 10000 "
        "THEN 'drive_time is unreasonably large.' END) AS errors, "
        "CASE WHEN use_dist THEN 'drive_distance' "
        "WHEN use_time THEN 'drive_time' END AS catchment_type, "
        "CASE WHEN use_dist THEN trunc(dist_num)::INT "
        "WHEN use_time THEN trunc(time_num)::INT END AS magnitude, "
        "lat, lon FROM prec"
    ).format(locs=LOCS_SYNTH)





def oracle_quality_scores() -> str:
    from geojson_utility_spark.operators.textops import LANG_PROFILES

    in_list = ", ".join(f"'{w}'" for w in LANG_PROFILES["en"])
    toks = "str_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"
    return (
        "WITH base AS (SELECT doc_id, "
        "length(text) AS n_chars, "
        "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE "
        "len(str_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) END AS n_tokens, "
        "len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct, "
        "len(regexp_extract_all(text, '[0-9]')) AS n_digit, "
        f"len(list_filter({toks}, x -> x IN ({in_list}))) AS n_stop "
        "FROM documents), "
        "r AS (SELECT doc_id, n_chars, n_tokens, "
        "greatest(n_chars, 1)::DOUBLE AS sc, greatest(n_tokens, 1)::DOUBLE AS st, "
        "n_punct, n_digit, n_stop FROM base), "
        "f AS (SELECT doc_id, n_chars AS n_chars_calc, n_tokens, "
        "sc / st AS mean_token_len, "
        "n_punct / sc AS punct_ratio, n_digit / sc AS digit_ratio, "
        "n_stop / st AS stopword_ratio FROM r) "
        "SELECT doc_id, n_chars_calc, n_tokens, mean_token_len, punct_ratio, "
        "digit_ratio, stopword_ratio, "
        "greatest(0.0, ((1.0 - least(1.0, punct_ratio * 4) "
        "- least(1.0, digit_ratio * 2)) * least(1.0, stopword_ratio * 5)) "
        "* (CASE WHEN mean_token_len >= 3 AND mean_token_len <= 12 "
        "THEN 1.0 ELSE 0.5 END)) AS quality_score FROM f"
    )




def q_box_tile_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct oracle for the COVERING machinery: axis-aligned boxes (rings built
    from supplier keys in rational arithmetic) through the real normalize +
    adaptive-quadtree cover pipeline, expanded to one zoom.  For a box the exact
    cover is the rectangle of intersecting tiles — expressible in SQL as two
    generate_series over the mercator-floored corner tiles.  (Verified offline:
    50/50 random boxes produce exactly that rectangle.)"""
    import json as _json

    from geojson_utility_spark.functions import geometry as G
    from geojson_utility_spark.operators.spatial_join import (
        normalize_polygons,
        polygon_cover,
    )

    register_views(spark, sf_dir)
    keys = [
        int(r[0])
        for r in spark.table("supplier")
        .filter(F.col("s_suppkey") <= 60)
        .select("s_suppkey")
        .collect()
    ]
    rows = []
    for k in keys:
        lat0 = 8.0 + (k * 997 % 2000) / 100.0
        lon0 = 68.0 + (k * 787 % 2000) / 100.0
        dlat = 0.3 + (k % 7) * 0.17
        dlon = 0.2 + (k % 5) * 0.23
        ring = [
            [lon0, lat0], [lon0 + dlon, lat0], [lon0 + dlon, lat0 + dlat],
            [lon0, lat0 + dlat], [lon0, lat0],
        ]
        rows.append(
            (f"box_{k}", _json.dumps(G.wrap_polygon_feature_collection(ring)))
        )
    polys = spark.createDataFrame(rows, ["polygon_id", "geojson"])
    cover = polygon_cover(normalize_polygons(polys), zoom=10, compact=False)
    return cover.select("polygon_id", "cell")


def oracle_box_tile_cover() -> str:
    n = 1 << 10
    zbase = 10 * (1 << 58)
    xmul = 1 << 29
    merc_y = (
        "floor((1.0 - ln(tan(radians({lat})) + 1.0 / cos(radians({lat}))) / pi()) "
        f"/ 2.0 * {n})::BIGINT"
    )
    return (
        "WITH b AS (SELECT s_suppkey AS k, "
        "8.0 + (s_suppkey * 997 % 2000) / 100.0 AS lat0, "
        "68.0 + (s_suppkey * 787 % 2000) / 100.0 AS lon0, "
        "0.3 + (s_suppkey % 7) * 0.17 AS dlat, "
        "0.2 + (s_suppkey % 5) * 0.23 AS dlon "
        "FROM supplier WHERE s_suppkey <= 60), "
        "m AS (SELECT k, "
        f"floor((lon0 + 180.0) / 360.0 * {n})::BIGINT AS tx0, "
        f"floor((lon0 + dlon + 180.0) / 360.0 * {n})::BIGINT AS tx1, "
        + merc_y.format(lat="lat0 + dlat") + " AS ty0, "
        + merc_y.format(lat="lat0") + " AS ty1 FROM b), "
        "xs AS (SELECT k, ty0, ty1, unnest(range(tx0, tx1 + 1)) AS tx FROM m), "
        "ys AS (SELECT k, tx, unnest(range(ty0, ty1 + 1)) AS ty FROM xs) "
        f"SELECT concat('box_', k) AS polygon_id, "
        f"{zbase} + tx * {xmul} + ty AS cell FROM ys"
    )




def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style document fingerprint (min rolling hash) under the md5
    (SQL-reproducible) family — the codegen explode/groupBy-min pipeline shared
    with the xxhash64 production family."""
    from geojson_utility_spark.operators.textops import rolling_fingerprint

    register_views(spark, sf_dir)
    return rolling_fingerprint(
        spark.table("documents"), "text", "doc_id", hash_family="md5"
    )


def oracle_rolling_fingerprint() -> str:
    hexval = "(strpos('0123456789abcdef', substring(h, {i}, 1)) - 1)::BIGINT"
    th = " + ".join(f"{hexval.format(i=i)} * {16 ** (15 - i)}" for i in range(1, 16))
    return (
        "WITH norm AS (SELECT doc_id, "
        "regexp_replace(lower(text), '\\s+', ' ', 'g') AS n FROM documents), "
        "pos AS (SELECT doc_id, n, "
        "unnest(range(1, greatest(length(n) - 7, 1) + 1)) AS i FROM norm), "
        "grams AS (SELECT doc_id, md5(substring(n, i, 8)) AS h FROM pos) "
        f"SELECT doc_id, min({th}) AS fingerprint FROM grams GROUP BY doc_id"
    )




def q_range_join_within_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance range join (points within 150 km of any target) via the grid-
    replication operator — oracle is the brute-force haversine filter.  Rank-free
    comparison: only the pair set and distances are compared, and a cross-engine
    disagreement would need a pair within float noise of exactly 150 km."""
    from geojson_utility_spark.operators.knn import within_distance_join

    register_views(spark, sf_dir)
    pts = spark.sql(PTS_CUSTOMER)
    tgt = spark.sql(TGT_SUPPLIER)
    return within_distance_join(pts, tgt, radius_km=150.0).select(
        "point_id", "target_id"
    )


def oracle_range_join_within_km() -> str:
    return (
        "SELECT point_id, target_id FROM "
        f"({PTS_CUSTOMER}) p(point_id, p_lat, p_lon) "
        f"CROSS JOIN ({TGT_SUPPLIER}) s(target_id, t_lat, t_lon) "
        f"WHERE {HAVERSINE} <= 150.0"
    )




# as-of right side: orders re-timestamped into the events month (integer-derived
# seconds offsets — identical arithmetic both engines)
ASOF_RIGHT_SQL = (
    "SELECT o_orderkey % 150 AS user_id, "
    "TIMESTAMP '2024-01-01 00:00:00' + (o_orderkey % 2592000) * INTERVAL 1 SECOND "
    "AS rts, o_orderkey FROM orders"
)


def q_as_of_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (as-of) join: each event picks up the latest order row whose
    timestamp precedes it — the temporal-enrichment operator Spark SQL lacks,
    implemented as one keyed window over a tagged union (operators/temporal.py).
    Oracle: DuckDB's native ASOF LEFT JOIN over the identical derived tables."""
    from geojson_utility_spark.operators.temporal import as_of_join

    register_views(spark, sf_dir)
    left = spark.table("events").select("event_id", "user_id", "ts")
    right = spark.sql(ASOF_RIGHT_SQL)
    out = as_of_join(
        left, right, key="user_id", left_ts="ts", right_ts="rts",
        right_cols=["o_orderkey"], tiebreaker="o_orderkey",
    )
    return out.select("event_id", "user_id", "o_orderkey")


def oracle_as_of_join() -> str:
    return (
        f"WITH r AS ({ASOF_RIGHT_SQL}), "
        "rd AS (SELECT user_id, rts, max(o_orderkey) AS o_orderkey "
        "FROM r GROUP BY user_id, rts) "
        "SELECT e.event_id, e.user_id, rd.o_orderkey "
        "FROM events e ASOF LEFT JOIN rd "
        "ON e.user_id = rd.user_id AND e.ts >= rd.rts"
    )




def q_polygon_intersect_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon x polygon intersection join over two box families (rational-arithmetic
    corners from supplier keys) through the REAL cover-candidate + exact-kernel
    pipeline — for axis-aligned boxes the truth is interval overlap, trivially
    expressible in SQL (boundary-inclusive on both sides)."""
    import json as _json

    from geojson_utility_spark.functions import geometry as G
    from geojson_utility_spark.operators.spatial_join import polygon_intersect_join

    register_views(spark, sf_dir)
    keys = [
        int(r[0])
        for r in spark.table("supplier")
        .filter(F.col("s_suppkey") <= 40)
        .select("s_suppkey")
        .collect()
    ]

    def boxes(prefix, latm, lonm, dm):
        rows = []
        for k in keys:
            lat0 = 8.0 + (k * latm % 2000) / 100.0
            lon0 = 68.0 + (k * lonm % 2000) / 100.0
            d = 0.5 + (k % dm) * 0.3
            ring = [
                [lon0, lat0], [lon0 + d, lat0], [lon0 + d, lat0 + d],
                [lon0, lat0 + d], [lon0, lat0],
            ]
            rows.append(
                (f"{prefix}_{k}", _json.dumps(G.wrap_polygon_feature_collection(ring)))
            )
        return spark.createDataFrame(rows, ["polygon_id", "geojson"])

    a = boxes("a", 997, 787, 7)
    b = boxes("b", 641, 907, 5)
    return polygon_intersect_join(a, b, zoom=11)


def oracle_polygon_intersect_join() -> str:
    def box(latm, lonm, dm):
        return (
            f"SELECT s_suppkey AS k, "
            f"8.0 + (s_suppkey * {latm} % 2000) / 100.0 AS y0, "
            f"68.0 + (s_suppkey * {lonm} % 2000) / 100.0 AS x0, "
            f"0.5 + (s_suppkey % {dm}) * 0.3 AS d "
            "FROM supplier WHERE s_suppkey <= 40"
        )

    return (
        f"WITH a AS ({box(997, 787, 7)}), b AS ({box(641, 907, 5)}) "
        "SELECT concat('a_', a.k) AS a_id, concat('b_', b.k) AS b_id "
        "FROM a CROSS JOIN b "
        "WHERE a.x0 <= b.x0 + b.d AND b.x0 <= a.x0 + a.d "
        "AND a.y0 <= b.y0 + b.d AND b.y0 <= a.y0 + a.d"
    )


def q_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The simhash vote/assembly pipeline under the md5 (SQL-reproducible) token
    hash — a hard oracle for the aggregation machinery the production xxhash64
    family shares (same explode -> per-bit vote sums -> sign assembly)."""
    from geojson_utility_spark.operators.dedup import simhash64

    register_views(spark, sf_dir)
    return simhash64(spark.table("documents"), "text", "doc_id", hash_family="md5")


def oracle_simhash_md5() -> str:
    # token hash = first 15 hex chars of md5 -> 60-bit int (per-hex-digit strpos
    # arithmetic; DuckDB has no conv());  votes: sum(+1/-1) per bit; assembly:
    # sum of 2^b over positive-vote bits
    hexval = (
        "(strpos('0123456789abcdef', substring(h, {i}, 1)) - 1)::BIGINT"
    )
    th = " + ".join(
        f"{hexval.format(i=i)} * {16 ** (15 - i)}" for i in range(1, 16)
    )
    votes = ", ".join(
        f"sum(CASE WHEN (th >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(60)
    )
    assemble = " + ".join(f"CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(60))
    return (
        "WITH toks AS (SELECT doc_id, unnest(str_split(trim(regexp_replace("
        "lower(text), '\\s+', ' ', 'g')), ' ')) AS tok FROM documents), "
        f"hashed AS (SELECT doc_id, ({th}) AS th FROM "
        "(SELECT doc_id, md5(tok) AS h FROM toks) t), "
        f"votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id) "
        f"SELECT doc_id, ({assemble})::BIGINT AS simhash FROM votes"
    )


def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 sessionization: Spark session_window over the events table — oracle is
    the classic gaps-and-islands (lag + running sum) formulation.  Semantics pinned
    cross-engine by a boundary probe: Spark merges events AT exactly the gap
    (<= timeout chains, verified empirically); session_end = last event + gap."""
    from geojson_utility_spark.streaming.windows import session_counts

    register_views(spark, sf_dir)
    return session_counts(spark.table("events"), gap="30 minutes")


def oracle_session_windows() -> str:
    return (
        "WITH marked AS (SELECT user_id, ts, value, "
        "CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) "
        "<= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_s FROM events), "
        "sess AS (SELECT user_id, ts, value, "
        "sum(new_s) OVER (PARTITION BY user_id ORDER BY ts "
        "ROWS UNBOUNDED PRECEDING) AS sid FROM marked) "
        "SELECT min(ts) AS session_start, "
        "max(ts) + INTERVAL 30 MINUTE AS session_end, user_id, "
        "count(*) AS n_events, "
        "cast(sum(cast(value AS decimal(18,6))) AS double) AS total_value "
        "FROM sess GROUP BY user_id, sid"
    )


def q_string_hash_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 string family + hash/crypto family in ONE per-row pass over customer
    (merged r5 to free a driver-window slot for the composite dedup pipeline;
    both probes were identical single-table projections keyed on c_custkey).
    Strings: upper/substring/replace/length/concat.  Hashes (reference
    backend/core/security.py:3-7 hashes secrets with sha256; auth.py:22 mints
    uuid tokens): sha2-256 + md5 digests and a deterministic name-based uuid
    (md5 hex formatted 8-4-4-4-12, the uuid3 layout) — the engine's
    content-addressing primitives."""
    register_views(spark, sf_dir)
    m = F.md5(F.col("c_name"))
    uuid3 = F.concat_ws(
        "-",
        F.substring(m, 1, 8),
        F.substring(m, 9, 4),
        F.substring(m, 13, 4),
        F.substring(m, 17, 4),
        F.substring(m, 21, 12),
    )
    return spark.table("customer").select(
        "c_custkey",
        F.upper(F.col("c_mktsegment")).alias("seg_upper"),
        F.substring(F.col("c_name"), 1, 8).alias("name_prefix"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("C")).alias("name_short"),
        F.length(F.col("c_name")).alias("name_len"),
        F.concat(F.col("c_mktsegment"), F.lit("/"), F.col("c_name")).alias("seg_name"),
        F.sha2(F.col("c_name"), 256).alias("sha256_hex"),
        m.alias("md5_hex"),
        uuid3.alias("name_uuid"),
    )


def oracle_string_hash_functions() -> str:
    return (
        "SELECT c_custkey, upper(c_mktsegment) AS seg_upper, "
        "substring(c_name, 1, 8) AS name_prefix, "
        "replace(c_name, 'Customer', 'C') AS name_short, "
        "length(c_name) AS name_len, "
        "c_mktsegment || '/' || c_name AS seg_name, "
        "sha256(c_name) AS sha256_hex, md5(c_name) AS md5_hex, "
        "substring(md5(c_name), 1, 8) || '-' || substring(md5(c_name), 9, 4) || '-' "
        "|| substring(md5(c_name), 13, 4) || '-' || substring(md5(c_name), 17, 4) "
        "|| '-' || substring(md5(c_name), 21, 12) AS name_uuid FROM customer"
    )




def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geojson_utility_spark.operators.textops import fingerprint

    register_views(spark, sf_dir)
    docs = spark.table("documents")
    return (
        docs.select(fingerprint(F.col("text")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"))
    )


def oracle_dedup_fingerprint() -> str:
    # fingerprint(): md5(trim(regexp_replace(lower(text), '[^\w]+', ' ', 'g')))
    return (
        "SELECT fp, min(doc_id) AS keep_doc_id FROM "
        "(SELECT doc_id, md5(trim(regexp_replace(lower(text), '[^0-9a-z_]+', ' ', 'g'))) "
        "AS fp FROM documents) t GROUP BY fp"
    )


def oracle_knn_grid() -> str:
    return (
        "SELECT point_id, target_id, knn_rank FROM ("
        "SELECT p.point_id, s.target_id, row_number() OVER ("
        f"PARTITION BY p.point_id ORDER BY {HAVERSINE}, target_id) AS knn_rank "
        f"FROM ({PTS_CUSTOMER}) p(point_id, p_lat, p_lon) "
        f"CROSS JOIN ({TGT_SUPPLIER}) s(target_id, t_lat, t_lon)) t "
        "WHERE knn_rank <= 3"
    )



def oracle_lang_id() -> str:
    from geojson_utility_spark.operators.textops import LANG_PROFILES

    score_sqls = {}
    for lang, words in LANG_PROFILES.items():
        in_list = ", ".join(f"'{w}'" for w in words)
        score_sqls[lang] = (
            "len(list_filter(str_split(trim(regexp_replace(lower(text), "
            f"'\\s+', ' ', 'g')), ' '), x -> x IN ({in_list})))"
        )
    langs = list(LANG_PROFILES)
    cases = []
    for i, lang in enumerate(langs):
        conds = [f"s_{lang} > 0"]
        # strict '>' vs every EARLIER profile, '>=' vs every LATER one (first-wins ties)
        for other in langs[:i]:
            conds.append(f"s_{lang} > s_{other}")
        for other in langs[i + 1 :]:
            conds.append(f"s_{lang} >= s_{other}")
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    inner = ", ".join(f"{sql} AS s_{lang}" for lang, sql in score_sqls.items())
    return (
        f"SELECT doc_id, CASE {' '.join(cases)} ELSE 'und' END AS lang_pred "
        f"FROM (SELECT doc_id, {inner} FROM documents) t"
    )



def oracle_token_count_bpe() -> str:
    return (
        "SELECT doc_id, len(regexp_extract_all(text, "
        "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe FROM documents"
    )




def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geojson_utility_spark.operators.dedup import dedup_exact

    register_views(spark, sf_dir)
    docs = spark.table("documents")
    return dedup_exact(docs, "text", "doc_id").select("doc_id")


def oracle_dedup_exact() -> str:
    return "SELECT min(doc_id) AS doc_id FROM documents GROUP BY text"


def q_embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geojson_utility_spark.operators.similarity import cosine_topk

    register_views(spark, sf_dir)
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk(emb, queries, k=5).select("query_id", "vec_id", "rank")


def oracle_embedding_cosine_topk() -> str:
    # identical fold order: list_dot_product over float->double casts; ranking only
    return (
        "SELECT query_id, vec_id, rank FROM ("
        "SELECT q.vec_id AS query_id, e.vec_id AS vec_id, row_number() OVER ("
        "PARTITION BY q.vec_id ORDER BY "
        "list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) / "
        "(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * "
        "sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))) DESC, "
        "e.vec_id) AS rank "
        "FROM embeddings e CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q) t "
        "WHERE rank <= 5"
    )


# ---------------------------------------------------------------------------
# rows-only entries (non-SQL-expressible: Arrow geometry, xxhash64 LSH, image codecs)
# ---------------------------------------------------------------------------

def q_flagship_image_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BASELINE.json metric query: image-derived points vs ONDC-shaped polygons
    (fixtures §3) through the full candidate+refine pipeline.

    Points derive from image rows (keyed by orders) via :data:`PTS_IMAGES` — the same
    hotspot-skew mixture as fixtures.image_point but in oracle-expressible rational
    arithmetic, so the hard oracle (ray-cast crossing count in SQL over the normalized
    fixture rings) verifies rows+schema+hash, not just row counts.
    """
    from geojson_utility_spark import fixtures as FX
    from geojson_utility_spark.operators.spatial_join import spatial_join

    register_views(spark, sf_dir)
    pts = spark.sql(PTS_IMAGES)
    polys = spark.createDataFrame(FX.make_polygons(60)[["polygon_id", "geojson"]])
    return spatial_join(pts, polys, compact=True).select(
        "point_id", "polygon_id"
    )


def oracle_flagship_image_join() -> str:
    """Exact SQL oracle for the flagship join: even-odd ray cast + on-edge test per
    (point, polygon), with the normalized fixture rings embedded as edge literals.

    Mirrors functions/pip.py RingKernel EXACTLY — same crossing rule
    ``(y1 <= py) != (y2 <= py) AND px < x1 + (py - y1) * slope`` with the slope
    precomputed to the identical float64, and the same collinear+bbox on-edge test —
    so both engines evaluate the identical IEEE expressions on identical doubles.
    Invalid polygons (the fixture bow-tie) are excluded on both sides, matching
    normalize_polygons' poly_errors contract.
    """
    import json as _json

    from geojson_utility_spark import fixtures as FX
    from geojson_utility_spark.functions import geometry as G

    polys = FX.make_polygons(60)
    edge_rows = []
    for pid, gj in zip(polys["polygon_id"], polys["geojson"]):
        norm, err = G.normalize_polygon_geojson(gj)
        if err:
            continue
        # parse the normalized json so the oracle sees EXACTLY the doubles the
        # Arrow kernel sees (json round-trip via repr is exact for float64)
        ring = _json.loads(norm)["features"][0]["geometry"]["coordinates"][0]
        if ring[0] != ring[-1]:
            ring = ring + [ring[0]]
        for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
            dx = x2 - x1
            dy = y2 - y1
            slope = dx / dy if dy != 0.0 else 0.0  # same rule as RingKernel
            edge_rows.append(
                f"('{pid}',{x1!r},{y1!r},{x2!r},{y2!r},{slope!r},{dx!r},{dy!r},"
                f"{min(x1, x2)!r},{max(x1, x2)!r},{min(y1, y2)!r},{max(y1, y2)!r})"
            )
    edges_values = ",".join(edge_rows)
    return (
        f"WITH pts AS ({PTS_IMAGES}), "
        "edges(polygon_id, x1, y1, x2, y2, slope, dx, dy, exmin, exmax, eymin, eymax)"
        f" AS (VALUES {edges_values}), "
        "tests AS (SELECT p.point_id, e.polygon_id, "
        "sum(CASE WHEN ((e.y1 <= p.lat) <> (e.y2 <= p.lat)) "
        "AND p.lon < e.x1 + (p.lat - e.y1) * e.slope THEN 1 ELSE 0 END) AS crossings, "
        "max(CASE WHEN e.dx * (p.lat - e.y1) - e.dy * (p.lon - e.x1) = 0.0 "
        "AND p.lon >= e.exmin AND p.lon <= e.exmax "
        "AND p.lat >= e.eymin AND p.lat <= e.eymax THEN 1 ELSE 0 END) AS on_edge "
        "FROM pts p CROSS JOIN edges e GROUP BY p.point_id, e.polygon_id) "
        "SELECT point_id, polygon_id FROM tests "
        "WHERE crossings % 2 = 1 OR on_edge = 1"
    )


def _jaccard_oracle_sql(threshold: float, shingle_n: int = 8) -> str:
    """Exact all-pairs n-gram Jaccard in DuckDB (inverted-index join) — the oracle
    for both the exact Spark operator and the MinHash-LSH pipeline (whose output
    equals the exact answer whenever LSH recall is complete on the corpus; the
    fixed-seed hash family makes that deterministic and pinned by test_entry)."""
    k = shingle_n - 1
    return (
        "WITH norm AS (SELECT doc_id, "
        "regexp_replace(lower(text), '\\s+', ' ', 'g') AS n FROM documents), "
        "pos AS (SELECT doc_id, n, "
        f"unnest(range(1, greatest(length(n) - {k}, 1) + 1)) AS i FROM norm), "
        f"sh AS (SELECT DISTINCT doc_id, substring(n, i, {shingle_n}) AS s FROM pos), "
        "sizes AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni "
        "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) "
        "SELECT doc_a, doc_b, ni::DOUBLE / (sa.ns + sb.ns - ni) AS jaccard "
        "FROM inter JOIN sizes sa ON sa.doc_id = doc_a "
        "JOIN sizes sb ON sb.doc_id = doc_b "
        f"WHERE ni::DOUBLE / (sa.ns + sb.ns - ni) >= {threshold}"
    )


def q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    _reclaim(spark)
    from geojson_utility_spark.operators.dedup import minhash_near_dups

    register_views(spark, sf_dir)
    docs = spark.table("documents")
    return minhash_near_dups(docs, "text", "doc_id", threshold=0.5)


def oracle_minhash_near_dups() -> str:
    # the corpus' true near-dup pairs all sit at jaccard >= 0.83 (measured), where
    # the 32-hash/8-band family's miss probability is ~0.6% per pair and the fixed
    # seed makes the outcome deterministic — the LSH output EQUALS the exact answer
    # on this corpus, verified empirically at sf0.01 (test_entry) each run
    return _jaccard_oracle_sql(0.5)


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    _reclaim(spark)
    from geojson_utility_spark.operators.dedup import ngram_jaccard_pairs_exact

    register_views(spark, sf_dir)
    docs = spark.table("documents")
    return ngram_jaccard_pairs_exact(docs, "text", "doc_id", threshold=0.8)


def oracle_ngram_jaccard_pairs() -> str:
    return _jaccard_oracle_sql(0.8)


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> connected components (min-id cluster representative) —
    the collapse step a dedup pipeline runs after any pair operator.  Edges are
    the EXACT ngram-Jaccard pairs (already oracled standalone), so the oracle is
    a recursive min-label propagation over the same exact pair set."""
    _reclaim(spark)
    from geojson_utility_spark.operators.dedup import (
        dedup_components,
        ngram_jaccard_pairs_exact,
    )

    register_views(spark, sf_dir)
    docs = spark.table("documents")
    pairs = ngram_jaccard_pairs_exact(docs, "text", "doc_id", threshold=0.8)
    return dedup_components(pairs)


def oracle_dedup_components() -> str:
    """DuckDB recursive CTE: min reachable doc_id over the symmetrized exact
    ngram-Jaccard pair graph — the fixpoint equals min-label propagation."""
    j = _jaccard_oracle_sql(0.8)
    return (
        f"WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ({j}) jj), "
        "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs "
        "UNION SELECT doc_b AS src, doc_a AS dst FROM pairs), "
        "reach(node, comp) AS ("
        "SELECT src, src FROM edges "
        "UNION "
        "SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node) "
        "SELECT node AS doc_id, min(comp) AS component FROM reach GROUP BY node"
    )


def q_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL dedup pipeline a 100 TB corpus run composes: MinHash-LSH pair
    generation -> connected-components collapse -> min-id representative
    decision for EVERY document (singletons keep themselves).  Output is the
    linear (doc_id, keep_doc_id, is_representative) keep/drop table — the
    artifact a training-data pipeline actually materializes, not the quadratic
    pair list.  Each stage is also oracled standalone (``minhash_near_dups``,
    ``dedup_components``); this entry pins their COMPOSITION end-to-end."""
    _reclaim(spark)
    from geojson_utility_spark.operators.dedup import (
        dedup_components,
        minhash_near_dups,
    )

    register_views(spark, sf_dir)
    docs = spark.table("documents")
    pairs = minhash_near_dups(docs, "text", "doc_id", threshold=0.5)
    comps = dedup_components(pairs)
    keep = F.coalesce(F.col("component"), F.col("doc_id"))
    return (
        docs.select("doc_id")
        .join(comps, "doc_id", "left")
        .select(
            "doc_id",
            keep.alias("keep_doc_id"),
            (keep == F.col("doc_id")).alias("is_representative"),
        )
    )


def oracle_dedup_pipeline() -> str:
    """Recursive-CTE oracle for the composed pipeline: exact Jaccard pairs at
    the minhash entry's threshold (LSH == exact on this corpus, see
    ``oracle_minhash_near_dups``), min-reachable-id components, left-joined
    back to the full documents table."""
    j = _jaccard_oracle_sql(0.5)
    return (
        f"WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ({j}) jj), "
        "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs "
        "UNION SELECT doc_b AS src, doc_a AS dst FROM pairs), "
        "reach(node, comp) AS ("
        "SELECT src, src FROM edges "
        "UNION "
        "SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node), "
        "comp AS (SELECT node AS doc_id, min(comp) AS component "
        "FROM reach GROUP BY node) "
        "SELECT d.doc_id, coalesce(c.component, d.doc_id) AS keep_doc_id, "
        "coalesce(c.component, d.doc_id) = d.doc_id AS is_representative "
        "FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id"
    )


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sampling family (r5): per-stratum hash-Bernoulli fractions
    + exact-k deterministic reservoir, tag-unioned over orders.  Runs the md5
    hash family so DuckDB reproduces the row selection bit-for-bit (the
    15-hex-chars-to-60-bit recipe proven by ``simhash_md5``); the production
    xxhash64 family is pinned by pytest determinism/fraction tests and the
    independent Python XXH64 parity check."""
    from geojson_utility_spark.operators.sampling import (
        reservoir_k,
        stratified_sample,
    )

    register_views(spark, sf_dir)
    orders = spark.table("orders")
    strat = stratified_sample(
        orders,
        "o_orderstatus",
        {"O": 0.2, "F": 0.1, "P": 0.5},
        key_col="o_orderkey",
        seed=7,
        hash_family="md5",
    )
    res = reservoir_k(
        orders, "o_orderpriority", "o_orderkey", k=5, seed=7, hash_family="md5"
    )
    return strat.select(
        F.lit("strat").alias("probe"),
        F.col("o_orderstatus").alias("grp"),
        F.col("o_orderkey").alias("id"),
    ).unionByName(
        res.select(
            F.lit("reservoir").alias("probe"),
            F.col("o_orderpriority").alias("grp"),
            F.col("o_orderkey").alias("id"),
        )
    )


def oracle_sample_stratified() -> str:
    from geojson_utility_spark.operators.sampling import _threshold

    hexval = "(strpos('0123456789abcdef', substring(h, {i}, 1)) - 1)::BIGINT"
    th = " + ".join(f"{hexval.format(i=i)} * {16 ** (15 - i)}" for i in range(1, 16))
    case = (
        "CASE o_orderstatus "
        f"WHEN 'F' THEN {_threshold(0.1)} "
        f"WHEN 'O' THEN {_threshold(0.2)} "
        f"WHEN 'P' THEN {_threshold(0.5)} ELSE 0 END"
    )
    return (
        "WITH hashed AS (SELECT o_orderkey, o_orderstatus, o_orderpriority, "
        "md5(o_orderkey::VARCHAR || ':7') AS h FROM orders), "
        f"b AS (SELECT o_orderkey, o_orderstatus, o_orderpriority, "
        f"({th}) % 1000000 AS bucket FROM hashed), "
        f"strat AS (SELECT 'strat' AS probe, o_orderstatus AS grp, "
        f"o_orderkey AS id FROM b WHERE bucket < {case}), "
        "res AS (SELECT 'reservoir' AS probe, o_orderpriority AS grp, "
        "o_orderkey AS id FROM ("
        "SELECT o_orderpriority, o_orderkey, row_number() OVER ("
        "PARTITION BY o_orderpriority ORDER BY bucket, o_orderkey) AS rn "
        "FROM b) t WHERE rn <= 5) "
        "SELECT * FROM strat UNION ALL SELECT * FROM res"
    )


def q_hamming_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH hamming pair engines over a 32-bit sign signature of the embedding
    column, tag-unioned (the r5 branch pattern):

    - variant='exact'  — :func:`hamming_pairs` (pigeonhole exact chunks +
      hot-bucket refinement), d <= 6: the moderate-N engine under simhash/phash
      near-dups.
    - variant='probed' — :func:`hamming_pairs_probed` (wide chunks + 1-bit
      multi-probe), d <= 5 with its default c=3 chunks (guarantee d <= 2c-1=5):
      the large-N engine, previously pytest-only (r5 VERDICT gap #5).

    Both branches guarantee FULL recall at their thresholds, so one brute-force
    bit_count(xor) oracle per threshold is a hard equality check — any missed
    candidate, probe-flip bug, or chunk-bound error is a hash mismatch."""
    _reclaim(spark)
    from functools import reduce
    from operator import add

    from geojson_utility_spark.operators.dedup import hamming_pairs, hamming_pairs_probed

    register_views(spark, sf_dir)
    emb = spark.table("embeddings")
    terms = [
        F.when(F.element_at(F.col("embedding"), i + 1) > 0, F.lit(1 << i))
        .otherwise(F.lit(0))
        .cast("long")
        for i in range(32)
    ]
    sigs = emb.select("vec_id", reduce(add, terms).alias("sig"))
    exact = hamming_pairs(sigs, "vec_id", "sig", max_distance=6, n_bits=32).select(
        F.lit("exact").alias("variant"), "id_a", "id_b", "hamming"
    )
    probed = hamming_pairs_probed(
        sigs, "vec_id", "sig", max_distance=5, n_bits=32
    ).select(F.lit("probed").alias("variant"), "id_a", "id_b", "hamming")
    return exact.unionByName(probed)


def oracle_hamming_near_dups() -> str:
    bits = " + ".join(
        f"CASE WHEN embedding[{i + 1}] > 0 THEN {1 << i} ELSE 0 END" for i in range(32)
    )
    return (
        f"WITH sigs AS (SELECT vec_id, ({bits})::BIGINT AS sig FROM embeddings), "
        "bf AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
        "bit_count(xor(a.sig, b.sig)) AS hamming "
        "FROM sigs a JOIN sigs b ON a.vec_id < b.vec_id) "
        "SELECT 'exact' AS variant, id_a, id_b, hamming FROM bf WHERE hamming <= 6 "
        "UNION ALL "
        "SELECT 'probed' AS variant, id_a, id_b, hamming FROM bf WHERE hamming <= 5"
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION simhash family (xxhash64, 64 bits) — oracled since r5 via
    a literal token->hash map computed by the repo's independent pure-Python
    XXH64 (functions/xxh64.py, written from the public spec and pinned against
    F.xxhash64 by pytest), letting DuckDB reproduce tokenize -> per-bit votes ->
    sign assembly end-to-end."""
    from geojson_utility_spark.operators.dedup import simhash64

    register_views(spark, sf_dir)
    return simhash64(spark.table("documents"), "text", "doc_id")


def oracle_simhash() -> str:
    """Literal-hash-map oracle for the xxhash64 simhash family.

    DuckDB has no xxhash64, so the corpus' DISTINCT tokens (31 at sf0.01 — the
    synthetic documents draw from a small vocabulary) are hashed driver-side by
    the independent Python XXH64 and embedded as (tok, th) VALUES; everything
    else — tokenization, per-bit +1/-1 vote sums, sign-bitmap assembly including
    the two's-complement bit 63 — runs in DuckDB SQL, mirroring
    ``oracle_simhash_md5`` with the hash step swapped for the literal lookup.

    Guards: a membership error() fires if DuckDB tokenizes a token absent from
    the literal map (tokenizer drift fails loudly, not as silent vote loss), and
    a corpus fingerprint (count, min/max doc_id, sum(n_chars)) fails loudly on a
    scale-factor mismatch — this is DATA-coupled like ``oracle_ivf_ann_topk``
    (override the build corpus via SPARK_GRAFT_ORACLE_SF)."""
    import os
    import re

    import duckdb

    from geojson_utility_spark.functions.xxh64 import xxh64_str

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    rows = duckdb.sql(
        "SELECT text, doc_id, n_chars FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    toks = set()
    for text, _, _ in rows:
        toks.update(re.sub(r"\s+", " ", text.lower()).strip().split(" "))
    tok_vals = ", ".join(
        f"({t!r}, {xxh64_str(t)})" for t in sorted(toks)
    )
    fp_n = len(rows)
    fp_min = min(r[1] for r in rows)
    fp_max = max(r[1] for r in rows)
    fp_chars = sum(r[2] for r in rows)
    votes = ", ".join(
        f"sum(CASE WHEN (th >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(64)
    )
    # bits 0..62 sum disjoint powers of two; bit 63 adds -(2^63) — exactly the
    # two's-complement value of a sign bit, keeping the total in BIGINT range
    assemble = " + ".join(
        f"CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(63)
    ) + " + CASE WHEN v63 > 0 THEN (-9223372036854775807 - 1) ELSE 0 END"
    return (
        f"WITH tok_map(tok, th) AS (VALUES {tok_vals}), "
        "guard AS (SELECT CASE WHEN "
        f"(SELECT count(*) FROM documents) <> {fp_n} "
        f"OR (SELECT min(doc_id) FROM documents) <> {fp_min} "
        f"OR (SELECT max(doc_id) FROM documents) <> {fp_max} "
        f"OR (SELECT sum(n_chars) FROM documents) <> {fp_chars} "
        "THEN error('oracle_simhash corpus fingerprint mismatch: the literal "
        f"token hash map was built from {sf_dir} — set SPARK_GRAFT_ORACLE_SF "
        "to the sf the entry runs at') ELSE 1 END AS ok), "
        "toks AS (SELECT doc_id, unnest(str_split(trim(regexp_replace("
        "lower(text), '\\s+', ' ', 'g')), ' ')) AS tok FROM documents), "
        "hashed AS (SELECT t.doc_id, coalesce(m.th, "
        "error('oracle_simhash: token missing from literal hash map: ' || t.tok"
        ")) AS th FROM toks t LEFT JOIN tok_map m ON m.tok = t.tok), "
        f"votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id) "
        f"SELECT doc_id, ({assemble})::BIGINT AS simhash FROM votes "
        "JOIN guard ON guard.ok = 1"
    )


def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geojson_utility_spark.operators.similarity import lsh_topk

    register_views(spark, sf_dir)
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_topk(emb, queries, k=5, n_bits=4, n_tables=8).select(
        "query_id", "vec_id", "rank"
    )


def oracle_lsh_ann_topk() -> str:
    """Hard oracle for sign-LSH ANN: the hyperplanes are CONSTANTS (seeded
    numpy, embedded as literals), so signatures are pure sign-of-dot-product
    arithmetic — no transcendentals, reproducible in SQL.  Bucket join + exact
    cosine re-rank mirror operators/similarity.lsh_topk step for step.

    Accepted float-noise risk (documented, same class as range_join_within_km):
    the 64-term dot products are summed by numpy BLAS (blocked/FMA) on the Spark
    side and left-associatively by DuckDB — a dot within a few ULPs of zero could
    flip a signature bit, and a near-tied cosine could swap adjacent ranks, at a
    different scale factor even though the entry is green at sf0.01.  The fixture
    embeddings are drawn away from those knife edges (measured at sf0.01: min
    |dot| across all vectors x planes is 4.3e-5 and the tightest adjacent top-10
    cosine gap is 2.0e-4 — both ~10 orders of magnitude above summation-order
    noise), so the comparison is deterministic on the driver's data."""
    import numpy as np

    from geojson_utility_spark.operators.similarity import _hyperplanes

    n_bits, n_tables, dim, k = 4, 8, 64, 5
    sig_selects = []
    for t in range(n_tables):
        planes = np.asarray(_hyperplanes(dim, n_bits, 42 + t))
        bits = []
        for i in range(n_bits):
            dot = " + ".join(
                f"embedding[{j + 1}] * ({planes[i, j]!r})" for j in range(dim)
            )
            bits.append(f"(CASE WHEN ({dot}) > 0 THEN {1 << i} ELSE 0 END)")
        sig_selects.append(
            f"SELECT vec_id, {t} AS t, ({' + '.join(bits)})::BIGINT AS sig "
            "FROM embeddings"
        )
    sigs = " UNION ALL ".join(sig_selects)
    cos = (
        "list_dot_product(e.embedding::DOUBLE[], qe.embedding::DOUBLE[]) / "
        "(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * "
        "sqrt(list_dot_product(qe.embedding::DOUBLE[], qe.embedding::DOUBLE[])))"
    )
    return (
        f"WITH sigs AS ({sigs}), "
        "cand AS (SELECT DISTINCT q.vec_id AS query_id, s.vec_id AS vec_id "
        "FROM sigs s JOIN sigs q ON s.t = q.t AND s.sig = q.sig "
        "WHERE q.vec_id < 5), "
        "scored AS (SELECT c.query_id, c.vec_id, row_number() OVER ("
        f"PARTITION BY c.query_id ORDER BY {cos} DESC, c.vec_id) AS rank "
        "FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id "
        "JOIN embeddings qe ON qe.vec_id = c.query_id) "
        f"SELECT query_id, vec_id, rank FROM scored WHERE rank <= {k}"
    )


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file / k-means coarse quantizer) ANN — the clustered scale
    path beside sign-LSH.  Oracled since r4: training is fully deterministic
    (hash-spaced id-sorted sample, fixed seed), so the oracle reproduces the
    quantizer driver-side and embeds the centroids as literals (the same
    embedded-literal recipe as ``lsh_ann_topk``)."""
    from geojson_utility_spark.operators.similarity import ivf_topk

    register_views(spark, sf_dir)
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(emb, queries, k=5, n_lists=16, n_probe=4).select(
        "query_id", "vec_id", "rank"
    )


def oracle_ivf_ann_topk() -> str:
    """Centroid-literal oracle for IVF ANN: the quantizer is deterministic
    (``_training_sample`` takes every ~N/10k-th vector by id hash, SORTED by id;
    ``_kmeans_fit`` is pure seeded numpy), so this builder reproduces it from the
    same parquet the driver compares against (sf0.01 per the driver contract;
    override via SPARK_GRAFT_ORACLE_SF) and embeds the centroids as DOUBLE[]
    literals.  The SQL then mirrors ivf_topk step for step: each vector joins its
    argmin-d2 list (d2 via the same ||v||^2 - 2 v.c + ||c||^2 expansion), each
    query probes its 4 cosine-nearest lists, and candidates re-rank by exact
    cosine.

    Accepted float-noise risk (same class as lsh_ann_topk, measured at sf0.01):
    numpy-BLAS vs DuckDB summation order could flip an assignment or rank only
    within ULPs, and the data sits far from every knife edge — min 1st-to-2nd
    centroid d2 gap 1.25e-4, min probe-4-vs-5 cosine gap 1.5e-2, min adjacent
    top-10 cosine gap 1.0e-3 (~11 orders above summation noise; re-measured by
    tests/test_entry.py::test_fixture_oracle_margins each run).

    KNOWN COUPLING: this is the one DATA-coupled oracle — running the Spark
    entry at a different sf than this builder read (without setting
    SPARK_GRAFT_ORACLE_SF to match) would embed centroids from the wrong
    corpus.  The SQL therefore carries a corpus-fingerprint guard (row count +
    min/max vec_id of the parquet this builder read, asserted via error()) so
    an sf mismatch fails LOUDLY at oracle execution instead of as a silent
    hash-red.  The driver contract fixes both sides at sf0.01."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from geojson_utility_spark.operators.similarity import _kmeans_fit

    n_lists, n_probe, k, seed = 16, 4, 5, 42
    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    tbl = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    ids = np.asarray(tbl.column("vec_id").to_pylist())
    mat = np.asarray(
        [list(v) for v in tbl.column("embedding").to_pylist()], dtype=np.float64
    )
    mat = mat[np.argsort(ids)]
    # _training_sample: every = max(1, N // n_train) == 1 for N <= 10k (true at
    # sf0.01 and sf0.1) -> the sample is ALL rows in id order; larger corpora
    # would need the xxhash64 spacing replicated here
    if len(mat) > 10_000:
        raise ValueError("oracle_ivf_ann_topk assumes N <= 10k (every == 1)")
    cents = _kmeans_fit(mat, n_lists, 10, seed)
    cent_vals = ", ".join(
        f"({c}, [{','.join(repr(float(x)) for x in cents[c])}]::DOUBLE[])"
        for c in range(len(cents))
    )
    d2 = (
        "list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv) "
        "+ list_dot_product(c.cv, c.cv)"
    )
    qcos = (
        "list_dot_product(q.v, c.cv) / "
        "greatest(sqrt(list_dot_product(q.v, q.v)) * "
        "sqrt(list_dot_product(c.cv, c.cv)), 1e-300)"
    )
    cos = (
        "list_dot_product(ev.v, qv.v) / "
        "(sqrt(list_dot_product(ev.v, ev.v)) * sqrt(list_dot_product(qv.v, qv.v)))"
    )
    fp_n, fp_min, fp_max = len(mat), int(ids.min()), int(ids.max())
    # count/min/max alone cannot tell sf0.001 from sf0.01 (both 500 rows,
    # ids 0..499) — add a value-derived integer: rows whose first component is
    # positive (min |component| ~2e-4 across SFs, no sign knife edge)
    fp_pos = int((mat[:, 0] > 0).sum())
    guard = (
        "guard AS (SELECT CASE WHEN "
        f"(SELECT count(*) FROM emb) <> {fp_n} "
        f"OR (SELECT min(vec_id) FROM emb) <> {fp_min} "
        f"OR (SELECT max(vec_id) FROM emb) <> {fp_max} "
        f"OR (SELECT count(*) FROM emb WHERE v[1] > 0) <> {fp_pos} "
        "THEN error('oracle_ivf_ann_topk corpus fingerprint mismatch: oracle "
        f"centroids were built from {sf_dir} ({fp_n} rows, vec_id "
        f"{fp_min}..{fp_max}) but the compared corpus differs — set "
        "SPARK_GRAFT_ORACLE_SF to the sf the entry runs at') "
        "ELSE 1 END AS ok)"
    )
    return (
        "WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
        f"cents(list_id, cv) AS (VALUES {cent_vals}), "
        f"{guard}, "
        "assigned AS (SELECT vec_id, list_id FROM ("
        "SELECT e.vec_id, c.list_id, row_number() OVER ("
        f"PARTITION BY e.vec_id ORDER BY {d2}, c.list_id) AS rn "
        "FROM emb e CROSS JOIN cents c) t WHERE rn = 1), "
        "probes AS (SELECT query_id, list_id FROM ("
        "SELECT q.vec_id AS query_id, c.list_id, row_number() OVER ("
        f"PARTITION BY q.vec_id ORDER BY {qcos} DESC, c.list_id) AS rn "
        "FROM (SELECT * FROM emb WHERE vec_id < 5) q CROSS JOIN cents c) t "
        f"WHERE rn <= {n_probe}), "
        "cand AS (SELECT DISTINCT p.query_id, a.vec_id "
        "FROM probes p JOIN assigned a ON a.list_id = p.list_id), "
        "scored AS (SELECT cand.query_id, cand.vec_id, row_number() OVER ("
        f"PARTITION BY cand.query_id ORDER BY {cos} DESC, cand.vec_id) AS rank "
        "FROM cand JOIN emb ev ON ev.vec_id = cand.vec_id "
        "JOIN emb qv ON qv.vec_id = cand.query_id) "
        "SELECT query_id, vec_id, rank FROM scored JOIN guard ON guard.ok = 1 "
        f"WHERE rank <= {k}"
    )


def q_cosine_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded multi-table sign-LSH embedding near-dups over the planted fixture
    (the sf embeddings have no pair above cosine 0.52 — an empty probe would be
    weak), verified against the candidate-contract oracle: pairs sharing any
    (table, signature) bucket with exact cosine >= threshold."""
    _reclaim(spark)
    from geojson_utility_spark import fixtures as FX
    from geojson_utility_spark.operators.similarity import cosine_near_dups

    # Explicit schema: the driver's session is Arrow-less, and the non-Arrow
    # fallback cannot infer list<np.float64> columns (r4 regression root cause).
    vecs = spark.createDataFrame(
        FX.make_neardup_embeddings(), schema="vec_id long, embedding array<double>"
    )
    return cosine_near_dups(vecs, threshold=0.8, n_bits=8, n_tables=8).select(
        "id_a", "id_b"
    )


def oracle_cosine_near_dups() -> str:
    """Hard oracle for the LSH-banded near-dup operator: fixture vectors AND the
    seeded hyperplanes are embedded as DOUBLE[] literals, the 8x8 signature
    arithmetic is pure sign-of-dot-product, and the verify predicate is exact
    cosine — DuckDB replicates the operator's full candidate contract.  Float
    margins measured and pinned in fixtures.make_neardup_embeddings."""
    import numpy as np

    from geojson_utility_spark import fixtures as FX
    from geojson_utility_spark.operators.similarity import _hyperplanes

    n_bits, n_tables, t, seed = 8, 8, 0.8, 42
    pdf = FX.make_neardup_embeddings()
    dim = len(pdf["embedding"][0])
    vals = ", ".join(
        f"({int(i)}, [{','.join(repr(float(x)) for x in v)}]::DOUBLE[])"
        for i, v in zip(pdf["vec_id"], pdf["embedding"])
    )
    sig_selects = []
    for tt in range(n_tables):
        planes = np.asarray(_hyperplanes(dim, n_bits, seed + tt))
        bits = []
        for b in range(n_bits):
            arr = ",".join(repr(float(x)) for x in planes[b])
            bits.append(
                f"(CASE WHEN list_dot_product(v, [{arr}]::DOUBLE[]) > 0 "
                f"THEN {1 << b} ELSE 0 END)"
            )
        sig_selects.append(
            f"SELECT vec_id, {tt} AS t, ({' + '.join(bits)})::BIGINT AS sig FROM vecs"
        )
    sigs = " UNION ALL ".join(sig_selects)
    return (
        f"WITH vecs(vec_id, v) AS (VALUES {vals}), "
        f"sigs AS ({sigs}), "
        "cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b "
        "FROM sigs a JOIN sigs b ON a.t = b.t AND a.sig = b.sig "
        "AND a.vec_id < b.vec_id) "
        "SELECT c.id_a, c.id_b FROM cand c "
        "JOIN vecs va ON va.vec_id = c.id_a JOIN vecs vb ON vb.vec_id = c.id_b "
        "WHERE list_dot_product(va.v, vb.v) / "
        "(sqrt(list_dot_product(va.v, va.v)) * "
        f"sqrt(list_dot_product(vb.v, vb.v))) >= {t}"
    )


def q_ivf_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cluster-blocked near-dups (the SemDeDup shape) over the clustered
    fixture at a LOOSE threshold — the regime where sign-LSH separation degrades
    and list blocking is the right tool.  train_size >= N keeps the deterministic
    sample == the full id-sorted fixture, so the oracle can reproduce the
    quantizer exactly."""
    _reclaim(spark)
    from geojson_utility_spark import fixtures as FX
    from geojson_utility_spark.operators.similarity import ivf_near_dups

    # Explicit schema — same non-Arrow-session safety as q_cosine_near_dups.
    vecs = spark.createDataFrame(
        FX.make_clustered_embeddings(), schema="vec_id long, embedding array<double>"
    )
    return ivf_near_dups(
        vecs, threshold=0.8, n_lists=8, n_probe=2, train_size=1000, seed=42
    ).select("id_a", "id_b")


def oracle_ivf_near_dups() -> str:
    """Centroid-literal oracle for the cluster-blocked near-dup operator:
    fixture vectors and the reproduced k-means centroids are embedded as
    literals; each vector joins its 2 d2-nearest lists, pairs sharing any list
    verify by exact cosine.  Float margins measured and pinned in
    fixtures.make_clustered_embeddings."""
    import numpy as np

    from geojson_utility_spark import fixtures as FX
    from geojson_utility_spark.operators.similarity import _kmeans_fit

    n_lists, n_probe, t, seed = 8, 2, 0.8, 42
    pdf = FX.make_clustered_embeddings()
    mat = np.asarray(list(pdf["embedding"]), dtype=np.float64)
    cents = _kmeans_fit(mat, n_lists, 10, seed)
    vals = ", ".join(
        f"({int(i)}, [{','.join(repr(float(x)) for x in v)}]::DOUBLE[])"
        for i, v in zip(pdf["vec_id"], pdf["embedding"])
    )
    cent_vals = ", ".join(
        f"({c}, [{','.join(repr(float(x)) for x in cents[c])}]::DOUBLE[])"
        for c in range(len(cents))
    )
    d2 = (
        "list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv) "
        "+ list_dot_product(c.cv, c.cv)"
    )
    return (
        f"WITH vecs(vec_id, v) AS (VALUES {vals}), "
        f"cents(list_id, cv) AS (VALUES {cent_vals}), "
        "assigned AS (SELECT vec_id, list_id FROM ("
        "SELECT e.vec_id, c.list_id, row_number() OVER ("
        f"PARTITION BY e.vec_id ORDER BY {d2}, c.list_id) AS rn "
        "FROM vecs e CROSS JOIN cents c) t "
        f"WHERE rn <= {n_probe}), "
        "cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b "
        "FROM assigned a JOIN assigned b ON a.list_id = b.list_id "
        "AND a.vec_id < b.vec_id) "
        "SELECT c.id_a, c.id_b FROM cand c "
        "JOIN vecs va ON va.vec_id = c.id_a JOIN vecs vb ON vb.vec_id = c.id_b "
        "WHERE list_dot_product(va.v, vb.v) / "
        "(sqrt(list_dot_product(va.v, va.v)) * "
        f"sqrt(list_dot_product(vb.v, vb.v))) >= {t}"
    )



def q_phash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    _reclaim(spark)
    from geojson_utility_spark import fixtures as FX
    from geojson_utility_spark.operators.dedup import phash_near_dups
    from geojson_utility_spark.schemas import IMAGES_SCHEMA

    images = spark.createDataFrame(FX.make_images(300), schema=IMAGES_SCHEMA)
    return phash_near_dups(images, max_distance=8)


def q_rasterize_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geojson_utility_spark import fixtures as FX
    from geojson_utility_spark.operators.spatial_join import normalize_polygons
    from geojson_utility_spark.operators.tiling import rasterize_polygons

    polys = spark.createDataFrame(FX.make_polygons(20)[["polygon_id", "geojson"]])
    return rasterize_polygons(normalize_polygons(polys), zoom=12, mask_size=32).drop(
        "mask", "part_idx"
    )


def oracle_rasterize_masks() -> str:
    """Full-SQL oracle for the rasterized tile masks (mask bytes dropped; the packed
    bitmask itself is pinned by tests/test_tiling.py round-trips).

    Literal inputs, all derived independently of the engine's normalize/cover code:
    - fixture rings parsed straight from the fixture geojson with stdlib ``json``,
      winding-normalized by an independent shoelace + reverse, and invalid rings
      excluded by an independent O(M^2) proper-intersection bow-tie check;
    - per-polygon candidate tile ranges from the public XYZ formula
      (floor((lon+180)/360*2^z), floor((1-log(tan+sec)/pi)/2*2^z));
    - the per-tile-row mercator boundary latitudes (DuckDB has no ``sinh``), same
      literal technique as the hyperplane/centroid ANN oracles.

    Everything else is computed in SQL with bit-identical IEEE arithmetic (parity
    rules at the top of this file): the three-way conservative cover rule of
    functions/cells.py:_classify_tiles (probe-point even-odd parity for center +
    4 corners, ring-vertex-in-rect, ring-edge x tile-edge intersection incl.
    collinear touch), then the 32x32 pixel-center covers-PIP of functions/pip.py
    (half-open even-odd crossing OR exact on-edge) and the coverage fraction
    k/1024 (a dyadic rational -> exact in both engines).
    """
    import json as _json

    import numpy as np

    from geojson_utility_spark import fixtures as FX

    zoom, msize = 12, 32
    n_tiles = np.int64(1) << zoom
    max_lat = 85.05112878  # web-mercator clamp (public constant)

    def _cross(o, d, p):
        return (d[0] - o[0]) * (p[1] - o[1]) - (d[1] - o[1]) * (p[0] - o[0])

    def _self_intersects(ring):  # proper intersection of non-adjacent segments
        m = len(ring) - 1
        for i in range(m):
            for j in range(i + 2, m):
                if i == 0 and j == m - 1:
                    continue
                a1, a2, b1, b2 = ring[i], ring[i + 1], ring[j], ring[j + 1]
                d1, d2 = _cross(a1, a2, b1), _cross(a1, a2, b2)
                d3, d4 = _cross(b1, b2, a1), _cross(b1, b2, a2)
                if ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0)):
                    return True
        return False

    def _tile_xy(lat, lon):
        """Public XYZ point->tile formula, numpy float64 ops (same IEEE results)."""
        lat = np.clip(np.float64(lat), -max_lat, max_lat)
        xf = (lon + 180.0) / 360.0 * n_tiles
        lat_rad = np.radians(lat)
        yf = (
            (1.0 - np.log(np.tan(lat_rad) + 1.0 / np.cos(lat_rad)) / np.pi)
            / 2.0
            * n_tiles
        )
        x = int(np.clip(np.floor(xf), 0, float(n_tiles - 1)))
        y = int(np.clip(np.floor(yf), 0, float(n_tiles - 1)))
        return x, y

    edge_rows, vert_rows, rng_rows = [], [], []
    y_needed: set[int] = set()
    for _, row in FX.make_polygons(20).iterrows():
        doc = _json.loads(row["geojson"])
        ring = [list(map(float, p)) for p in
                doc["features"][0]["geometry"]["coordinates"][0]]
        if ring[0] != ring[-1]:
            ring.append(ring[0])
        if _self_intersects(ring):
            continue  # the planted bow-tie: normalize flags it, rasterize drops it
        area2 = sum(x1 * y2 - x2 * y1 for (x1, y1), (x2, y2) in zip(ring, ring[1:]))
        if not area2 > 0.0:  # normalize_winding: CCW outer ring
            ring = ring[::-1]
        pid = row["polygon_id"]
        for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
            edge_rows.append(f"('{pid}', {x1!r}, {y1!r}, {x2!r}, {y2!r})")
        for x1, y1 in ring[:-1]:
            vert_rows.append(f"('{pid}', {x1!r}, {y1!r})")
        arr = np.asarray(ring, dtype=np.float64)
        lon_min, lat_min = arr.min(axis=0)
        lon_max, lat_max = arr.max(axis=0)
        x0, y0 = _tile_xy(lat_max, lon_min)  # NW corner -> min x, min y
        x1_, y1_ = _tile_xy(lat_min, lon_max)  # SE corner -> max x, max y
        rng_rows.append(f"('{pid}', {x0}, {x1_}, {y0}, {y1_})")
        y_needed.update(range(y0, y1_ + 2))

    ys = np.asarray(sorted(y_needed), dtype=np.float64)
    lats = np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * ys / float(n_tiles)))))
    # float() first: repr(np.float64) under numpy >= 2.0 is "np.float64(...)",
    # which would land verbatim in the VALUES list and break the SQL parse
    ylat_rows = [f"({int(y)}, {float(lat)!r})" for y, lat in zip(ys, lats)]

    # half-open even-odd crossing term; `xint` spelled with the engine's exact op
    # order at each site (cover: mul-then-div; pixel kernel: precomputed slope).
    def _parity(px, py, xint):
        return (
            f"SUM(CASE WHEN (ed.ey1 <= {py}) != (ed.ey2 <= {py}) "
            f"AND {px} < ed.ex1 + {xint} THEN 1 ELSE 0 END) % 2 = 1"
        )

    cover_xint = "({py} - ed.ey1) * (ed.ex2 - ed.ex1) / (ed.ey2 - ed.ey1)"
    pixel_xint = "({py} - ed.ey1) * ((ed.ex2 - ed.ex1) / (ed.ey2 - ed.ey1))"

    # engine tile-edge order: S, E, N, W (functions/cells.py:_classify_tiles)
    tile_edges = "(w, s, e, s), (e, s, e, n), (e, n, w, n), (w, n, w, s)"

    return f"""
WITH edges(pid, ex1, ey1, ex2, ey2) AS (VALUES {', '.join(edge_rows)}),
verts(pid, vx, vy) AS (VALUES {', '.join(vert_rows)}),
rngs(pid, x0, x1, y0, y1) AS (VALUES {', '.join(rng_rows)}),
ylat(y, lat) AS (VALUES {', '.join(ylat_rows)}),
cx AS (SELECT pid, unnest(generate_series(x0, x1)) AS x, y0, y1 FROM rngs),
cand AS (SELECT pid, x, unnest(generate_series(y0, y1)) AS y FROM cx),
bounds AS (
  SELECT c.pid, c.x, c.y,
         c.x / {float(n_tiles)} * 360.0 - 180.0 AS w,
         (c.x + 1) / {float(n_tiles)} * 360.0 - 180.0 AS e,
         ys.lat AS s, yn.lat AS n
  FROM cand c
  JOIN ylat yn ON yn.y = c.y
  JOIN ylat ys ON ys.y = c.y + 1
),
probes AS (
  SELECT pid, x, y, (w + e) / 2.0 AS px, (s + n) / 2.0 AS py FROM bounds
  UNION ALL SELECT pid, x, y, w, s FROM bounds
  UNION ALL SELECT pid, x, y, w, n FROM bounds
  UNION ALL SELECT pid, x, y, e, s FROM bounds
  UNION ALL SELECT pid, x, y, e, n FROM bounds
),
cov_probe AS (
  SELECT p.pid, p.x, p.y
  FROM probes p JOIN edges ed ON ed.pid = p.pid
  GROUP BY p.pid, p.x, p.y, p.px, p.py
  HAVING {_parity('p.px', 'p.py', cover_xint.format(py='p.py'))}
),
cov_vert AS (
  SELECT b.pid, b.x, b.y
  FROM bounds b JOIN verts v ON v.pid = b.pid
  WHERE v.vx >= b.w AND v.vx <= b.e AND v.vy >= b.s AND v.vy <= b.n
),
tedges AS (
  SELECT pid, x, y, te.ax1, te.ay1, te.ax2, te.ay2
  FROM bounds, LATERAL (VALUES {tile_edges}) te(ax1, ay1, ax2, ay2)
),
cov_edge AS (
  SELECT t.pid, t.x, t.y
  FROM tedges t JOIN edges ed ON ed.pid = t.pid
  WHERE (
    ((t.ax2 - t.ax1) * (ed.ey1 - t.ay1) - (t.ay2 - t.ay1) * (ed.ex1 - t.ax1) > 0)
      != ((t.ax2 - t.ax1) * (ed.ey2 - t.ay1) - (t.ay2 - t.ay1) * (ed.ex2 - t.ax1) > 0)
    AND
    ((ed.ex2 - ed.ex1) * (t.ay1 - ed.ey1) - (ed.ey2 - ed.ey1) * (t.ax1 - ed.ex1) > 0)
      != ((ed.ex2 - ed.ex1) * (t.ay2 - ed.ey1) - (ed.ey2 - ed.ey1) * (t.ax2 - ed.ex1) > 0)
  ) OR (
    (t.ax2 - t.ax1) * (ed.ey1 - t.ay1) - (t.ay2 - t.ay1) * (ed.ex1 - t.ax1) = 0
    AND ed.ex1 >= least(t.ax1, t.ax2) AND ed.ex1 <= greatest(t.ax1, t.ax2)
    AND ed.ey1 >= least(t.ay1, t.ay2) AND ed.ey1 <= greatest(t.ay1, t.ay2)
  ) OR (
    (t.ax2 - t.ax1) * (ed.ey2 - t.ay1) - (t.ay2 - t.ay1) * (ed.ex2 - t.ax1) = 0
    AND ed.ex2 >= least(t.ax1, t.ax2) AND ed.ex2 <= greatest(t.ax1, t.ax2)
    AND ed.ey2 >= least(t.ay1, t.ay2) AND ed.ey2 <= greatest(t.ay1, t.ay2)
  ) OR (
    (ed.ex2 - ed.ex1) * (t.ay1 - ed.ey1) - (ed.ey2 - ed.ey1) * (t.ax1 - ed.ex1) = 0
    AND t.ax1 >= least(ed.ex1, ed.ex2) AND t.ax1 <= greatest(ed.ex1, ed.ex2)
    AND t.ay1 >= least(ed.ey1, ed.ey2) AND t.ay1 <= greatest(ed.ey1, ed.ey2)
  ) OR (
    (ed.ex2 - ed.ex1) * (t.ay2 - ed.ey1) - (ed.ey2 - ed.ey1) * (t.ax2 - ed.ex1) = 0
    AND t.ax2 >= least(ed.ex1, ed.ex2) AND t.ax2 <= greatest(ed.ex1, ed.ex2)
    AND t.ay2 >= least(ed.ey1, ed.ey2) AND t.ay2 <= greatest(ed.ey1, ed.ey2)
  )
),
cover AS (
  SELECT b.pid, b.x, b.y, b.w, b.e, b.s, b.n FROM bounds b
  WHERE EXISTS (SELECT 1 FROM cov_probe c
                WHERE c.pid = b.pid AND c.x = b.x AND c.y = b.y)
     OR EXISTS (SELECT 1 FROM cov_vert c
                WHERE c.pid = b.pid AND c.x = b.x AND c.y = b.y)
     OR EXISTS (SELECT 1 FROM cov_edge c
                WHERE c.pid = b.pid AND c.x = b.x AND c.y = b.y)
),
pix AS (
  SELECT c.pid, c.x, c.y, gi.i, gj.j,
         c.w + ((gi.i + 0.5) / 32.0) * (c.e - c.w) AS px,
         c.n + ((gj.j + 0.5) / 32.0) * (c.s - c.n) AS py
  FROM cover c,
       (SELECT unnest(generate_series(0, 31)) AS i) gi,
       (SELECT unnest(generate_series(0, 31)) AS j) gj
),
pixin AS (
  -- exactness-preserving prune: an edge whose [ymin, ymax] band excludes py can
  -- neither straddle it (crossing term false) nor contain it (on-edge false),
  -- so it contributes nothing to this pixel's test and is dropped from the join.
  SELECT p.pid, p.x, p.y, p.i, p.j,
    ({_parity('p.px', 'p.py', pixel_xint.format(py='p.py'))})
    OR bool_or(
      (ed.ex2 - ed.ex1) * (p.py - ed.ey1) - (ed.ey2 - ed.ey1) * (p.px - ed.ex1) = 0
      AND p.px >= least(ed.ex1, ed.ex2) AND p.px <= greatest(ed.ex1, ed.ex2)
    ) AS ins
  FROM pix p JOIN edges ed ON ed.pid = p.pid
    AND p.py >= least(ed.ey1, ed.ey2) AND p.py <= greatest(ed.ey1, ed.ey2)
  GROUP BY p.pid, p.x, p.y, p.i, p.j, p.px, p.py
),
pixcnt AS (
  SELECT pid, x, y, SUM(CASE WHEN ins THEN 1 ELSE 0 END) AS n_in
  FROM pixin GROUP BY pid, x, y
)
SELECT c.pid AS polygon_id,
  (CAST({zoom} AS BIGINT) << 58) | (CAST(c.x AS BIGINT) << 29) | CAST(c.y AS BIGINT)
    AS tile_cell,
  CAST({zoom} AS INT) AS tile_z,
  CAST(c.x AS BIGINT) AS tile_x,
  CAST(c.y AS BIGINT) AS tile_y,
  CAST({msize} AS INT) AS mask_size,
  CAST(COALESCE(pc.n_in, 0) AS DOUBLE) / {msize * msize}.0 AS coverage
FROM cover c
LEFT JOIN pixcnt pc ON pc.pid = c.pid AND pc.x = c.x AND pc.y = c.y
"""


def q_enrich_locations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full bulk pipeline (validate -> gate -> enrich -> union ->
    order restore) over the SQL-synthesized locations rows.  Every column except
    the geojson ring content is oracled (errors, pass-throughs, and the
    geojson-production gate); the ring JSON itself is pinned by the golden-CSV
    pytest against the reference fixture."""
    from geojson_utility_spark.operators.enrichment import enrich_locations

    register_views(spark, sf_dir)
    locs = spark.sql(LOCS_SYNTH)
    out = enrich_locations(locs)
    return out.select(
        "location_id", "snp_id", "provider_id", "location_gps",
        "drive_distance", "drive_time", "errors",
        (F.col("geojson") != "{}").alias("has_geojson"),
    )


# convex CCW square hole inside CONVEX_RING (axis-aligned -> exact cross products)
HOLE_RING = [(10.0, 15.0), (30.0, 15.0), (30.0, 30.0), (10.0, 30.0), (10.0, 15.0)]


def _hole_strict_sql() -> str:
    """Strict interior of the CCW hole as half-plane conjunctions (all cross > 0).
    Points exactly ON a hole edge are NOT strict-inside — matching the engine's
    covers semantics (hole boundaries belong to the polygon)."""
    conds = []
    for (x1, y1), (x2, y2) in zip(HOLE_RING[:-1], HOLE_RING[1:]):
        conds.append(
            f"((({x2})-({x1}))*(lat-({y1})) - (({y2})-({y1}))*(lon-({x1}))) > 0"
        )
    return " AND ".join(conds)


def q_spatial_join_holes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hole-aware even-odd spatial join (opt-in keep_holes=True): convex outer ring
    with a convex interior ring, so the oracle is outer half-planes AND NOT the
    hole's STRICT half-planes.  Exercises normalize(keep_holes) -> cover demotion
    around the hole bbox -> multi-ring Arrow PIP."""
    import json

    from geojson_utility_spark.operators.spatial_join import spatial_join

    register_views(spark, sf_dir)
    pts = spark.sql(PTS_CUSTOMER)
    gj = json.dumps(
        {
            "type": "FeatureCollection",
            "features": [
                {
                    "type": "Feature",
                    "geometry": {
                        "type": "Polygon",
                        "coordinates": [
                            [[x, y] for x, y in CONVEX_RING],
                            [[x, y] for x, y in HOLE_RING],
                        ],
                    },
                    "properties": {},
                }
            ],
        }
    )
    polys = spark.createDataFrame([("holed_1", gj)], ["polygon_id", "geojson"])
    out = spatial_join(pts, polys, zoom=9, keep_holes=True)
    return out.select("point_id", "polygon_id")


def oracle_spatial_join_holes() -> str:
    return (
        f"SELECT point_id, 'holed_1' AS polygon_id FROM ({PTS_CUSTOMER}) t "
        f"WHERE {_halfplane_sql()} AND NOT ({_hole_strict_sql()})"
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full per-document text-analysis pass in ONE scan: language id, BPE-ish
    token count, whitespace token count, stopword/punct/digit ratios, and the
    composite quality score (merges the former lang_id / token_count_ws /
    token_count_bpe / stopword_ratio / quality_scores entries — same operators,
    one driver row)."""
    from geojson_utility_spark.operators.textops import (
        lang_id,
        quality_features,
        token_count_bpe,
    )

    register_views(spark, sf_dir)
    docs = spark.table("documents").select(
        "doc_id",
        "text",
        lang_id(F.col("text")).alias("lang_pred"),
        token_count_bpe(F.col("text")).alias("n_bpe"),
    )
    return quality_features(docs, "text").select(
        "doc_id", "lang_pred", "n_bpe", "n_chars_calc", "n_tokens",
        "mean_token_len", "punct_ratio", "digit_ratio", "stopword_ratio",
        "quality_score",
    )


def oracle_text_stats() -> str:
    q = oracle_quality_scores()
    l = oracle_lang_id()
    b = oracle_token_count_bpe()
    return (
        f"SELECT q.doc_id, l.lang_pred, b.n_bpe, q.n_chars_calc, q.n_tokens, "
        "q.mean_token_len, q.punct_ratio, q.digit_ratio, q.stopword_ratio, "
        f"q.quality_score FROM ({q}) q JOIN ({l}) l USING (doc_id) "
        f"JOIN ({b}) b USING (doc_id)"
    )


def q_media_decode_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three multimodal decode pipelines (image PNG codec, audio RIFF/WAVE
    PCM16, video frame sampling) tag-unioned into one rows-only entry — byte
    streams are not SQL-decodable, so per-row invariants are pinned by
    tests/test_images_ops.py and tests/test_media_ops.py; the driver sees one
    row per verified item / sampled frame."""
    from geojson_utility_spark import fixtures as FX
    from geojson_utility_spark.operators.images import decode_and_verify
    from geojson_utility_spark.operators.media import (
        AUDIO_SCHEMA,
        VIDEO_SCHEMA,
        decode_and_verify_audio,
        frame_sample,
    )
    from geojson_utility_spark.schemas import IMAGES_SCHEMA

    img = decode_and_verify(
        spark.createDataFrame(FX.make_images(200), schema=IMAGES_SCHEMA)
    ).select(
        F.lit("image").alias("modality"),
        F.col("image_id").alias("item_id"),
        (
            F.col("decode_ok") & F.col("dims_ok") & F.col("phash_ok")
            & F.col("caption_ok") & (F.col("psnr_vs_reencode") >= 40.0)
        ).alias("ok"),
        F.lit("").alias("detail"),
    )
    aud = decode_and_verify_audio(
        spark.createDataFrame(FX.make_audio(120), schema=AUDIO_SCHEMA)
    ).select(
        F.lit("audio").alias("modality"),
        F.col("audio_id").alias("item_id"),
        (
            F.col("decode_ok") & F.col("meta_ok") & F.col("caption_ok")
            & F.col("roundtrip_exact")
        ).alias("ok"),
        F.lit("").alias("detail"),
    )
    vid = frame_sample(
        spark.createDataFrame(FX.make_videos(40), schema=VIDEO_SCHEMA), every_n=5
    ).select(
        F.lit("video_frame").alias("modality"),
        F.col("video_id").alias("item_id"),
        F.lit(True).alias("ok"),
        F.concat_ws(
            ":", F.col("frame_idx").cast("string"), F.col("frame_phash").cast("string")
        ).alias("detail"),
    )
    return img.unionByName(aud).unionByName(vid)


def oracle_media_decode_verify() -> str:
    """Literal-expectation oracle for all three multimodal decode pipelines.

    The expected rows are derived in the builder WITHOUT running any engine codec:
    - image/video pixels are regenerated from the fixture's documented generation
      formulas (integer gradient patterns keyed by a re-implemented public FNV-1a
      of the item id) — i.e. from the *input* parameters, not from decoding bytes;
    - the fake-jpeg lossy path is simulated as its documented quantization
      ``px // 2 * 2`` to predict which items keep ``phash_ok`` (PNG/WAV/fvid are
      lossless -> ok by construction, audio metadata matches the fixture columns);
    - frame sampling indices are ``range(0, n_frames, every_n)`` per the operator
      contract, and the 64-bit average-hash is the same public recipe re-derived
      here (shared-arithmetic parity rule at the top of this file).

    Spark must therefore decode real PNG/RIFF/fvid byte streams and reproduce
    every flag and frame hash bit-for-bit to match — the decode path itself is the
    thing under test (operators/images.py:37, operators/media.py:60,153)."""
    import numpy as np

    from geojson_utility_spark import fixtures as FX

    def _fnv1a(s: str) -> int:
        h = 0xCBF29CE484222325
        for b in s.encode():
            h = ((h ^ b) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
        return h

    def _avg_hash(px: np.ndarray) -> int:
        gray = px.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
        hh, ww = gray.shape
        ys = (np.arange(9) * hh) // 8
        xs = (np.arange(9) * ww) // 8
        blocks = np.empty((8, 8))
        for i in range(8):
            for j in range(8):
                blocks[i, j] = gray[
                    ys[i]: max(ys[i + 1], ys[i] + 1), xs[j]: max(xs[j + 1], xs[j] + 1)
                ].mean()
        med = np.median(blocks)
        val = 0
        for i, b in enumerate((blocks > med).ravel()):
            if b:
                val |= 1 << i
        return val - (1 << 64) if val >= (1 << 63) else val

    rows = []
    for r in FX.make_images(200).itertuples():
        yy, xx = np.mgrid[0: r.h, 0: r.w]
        phase = _fnv1a(r.image_id) % 256
        px = np.stack(
            [
                (xx * 255 // max(r.w - 1, 1) + phase) % 256,
                (yy * 255 // max(r.h - 1, 1)) % 256,
                (xx + yy + phase) % 256,
            ],
            axis=2,
        ).astype(np.uint8)
        if r.fmt == "png":
            ok = True  # lossless round trip: every check holds by construction
        else:  # fake-jpeg: step-2 quantization; phash of the dequantized decode
            ok = _avg_hash((px // 2 * 2).astype(np.uint8)) == int(r.phash)
        rows.append(("image", r.image_id, ok, ""))
    for r in FX.make_audio(120).itertuples():
        rows.append(("audio", r.audio_id, True, ""))  # PCM16/WAV is exact
    for r in FX.make_videos(40).itertuples():
        vid_i = int(r.video_id.split("_")[1])
        yy, xx = np.mgrid[0: r.h, 0: r.w]
        for f in range(0, int(r.n_frames), 5):
            px = np.stack(
                [
                    (xx * 4 + f * 3 + vid_i) % 256,
                    (yy * 4 + f * 5) % 256,
                    (xx + yy + f * 7) % 256,
                ],
                axis=2,
            ).astype(np.uint8)
            rows.append(("video_frame", r.video_id, True, f"{f}:{_avg_hash(px)}"))

    vals = ", ".join(
        f"('{m}', '{i}', {str(bool(o)).upper()}, '{d}')" for m, i, o, d in rows
    )
    return (
        f"SELECT modality, item_id, CAST(ok AS BOOLEAN) AS ok, detail "
        f"FROM (VALUES {vals}) t(modality, item_id, ok, detail)"
    )


def oracle_phash_near_dups() -> str:
    """Brute-force hamming oracle over the image fixture's phash column — the
    fixture is deterministic, so the 300 (image_id, phash) pairs are embedded as
    literals (same technique as the hyperplane-literal LSH oracle)."""
    from geojson_utility_spark import fixtures as FX

    im = FX.make_images(300)
    vals = ", ".join(
        f"('{i}', {int(p)})" for i, p in zip(im["image_id"], im["phash"])
    )
    return (
        f"WITH sigs(image_id, phash) AS (VALUES {vals}) "
        "SELECT a.image_id AS image_a, b.image_id AS image_b, "
        "bit_count(xor(a.phash::BIGINT, b.phash::BIGINT)) AS hamming "
        "FROM sigs a JOIN sigs b ON a.image_id < b.image_id "
        "WHERE bit_count(xor(a.phash::BIGINT, b.phash::BIGINT)) <= 8"
    )


def oracle_enrich_locations() -> str:
    """Every SQL-expressible column of the bulk-enrichment pipeline: pass-through
    input columns, the assembled errors string, and the geojson-gate flag
    (geojson != '{}' iff the row validated).  The ring CONTENT is pinned separately
    by the golden-CSV pytest (tests/test_validation.py) — ring trig is
    transcendental and not cross-engine hashable."""
    v = oracle_validate_locations_full()
    return (
        f"WITH v AS ({v}), locs AS ({LOCS_SYNTH}) "
        "SELECT l.location_id, l.snp_id, l.provider_id, l.location_gps, "
        "l.drive_distance, l.drive_time, v.errors, "
        "(v.errors = '') AS has_geojson "
        "FROM locs l JOIN v ON v.row_key = l.row_key"
    )


# Registration order IS driver-visible: the driver evaluates the FIRST 50 entries
# of queries() only (round-2 lesson — 4 oracled entries fell past the window).
# Contract: the flagship leads, every oracled entry precedes every rows-only entry,
# and len(queries()) <= 50 so nothing is silently dropped.  tests/test_entry.py
# pins all three properties.  As of round 5 every entry is oracled (rows-only: none).


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "flagship_image_join": q_flagship_image_join,
    }
    out.update({name: _sql_query(sql) for name, sql in SHARED_SQL.items()})
    out.update(
        {
            # oracled operator-backed entries
            "tile_assignment": q_tile_assignment,
            "cell_heat": q_cell_heat,
            "spatial_join_convex": q_spatial_join_convex,
            "spatial_join_holes": q_spatial_join_holes,
            "spatial_join_multipolygon": q_spatial_join_multipolygon,
            "knn_grid": q_knn_grid,
            "text_stats": q_text_stats,
            "dedup_exact": q_dedup_exact,
            "embedding_cosine_topk": q_embedding_cosine_topk,
            "validate_id_fields": q_validate_id_fields,
            "dedup_fingerprint_winner": q_dedup_fingerprint,
            "json_extract": q_json_extract,
            "string_hash_functions": q_string_hash_functions,
            "heartbeat_events": q_heartbeat_events,
            "session_windows": q_session_windows,
            "simhash_md5": q_simhash_md5,
            "box_tile_cover": q_box_tile_cover,
            "rolling_fingerprint": q_rolling_fingerprint,
            "range_join_within_km": q_range_join_within_km,
            "as_of_join": q_as_of_join,
            "polygon_intersect_join": q_polygon_intersect_join,
            "validate_locations_full": q_validate_locations_full,
            "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
            "dedup_components": q_dedup_components,
            "dedup_pipeline": q_dedup_pipeline,
            "sample_stratified": q_sample_stratified,
            "hamming_near_dups": q_hamming_near_dups,
            "minhash_near_dups": q_minhash_near_dups,
            "lsh_ann_topk": q_lsh_ann_topk,
            "ivf_ann_topk": q_ivf_ann_topk,
            "cosine_near_dups": q_cosine_near_dups,
            "ivf_near_dups": q_ivf_near_dups,
            "phash_near_dups": q_phash_near_dups,
            "enrich_locations": q_enrich_locations,
            "simhash": q_simhash,
            "rasterize_masks": q_rasterize_masks,
            "media_decode_verify": q_media_decode_verify,
        }
    )
    return out


def oracle_sql() -> dict[str, str]:
    out = {"flagship_image_join": oracle_flagship_image_join()}
    out.update(SHARED_SQL)
    out.update(
        {
            "tile_assignment": oracle_tile_assignment(),
            "cell_heat": oracle_cell_heat(),
            "spatial_join_convex": oracle_spatial_join_convex(),
            "spatial_join_holes": oracle_spatial_join_holes(),
            "spatial_join_multipolygon": oracle_spatial_join_multipolygon(),
            "knn_grid": oracle_knn_grid(),
            "text_stats": oracle_text_stats(),
            "dedup_exact": oracle_dedup_exact(),
            "embedding_cosine_topk": oracle_embedding_cosine_topk(),
            "validate_id_fields": oracle_validate_id_fields(),
            "dedup_fingerprint_winner": oracle_dedup_fingerprint(),
            "json_extract": oracle_json_extract(),
            "string_hash_functions": oracle_string_hash_functions(),
            "heartbeat_events": oracle_heartbeat_events(),
            "session_windows": oracle_session_windows(),
            "simhash_md5": oracle_simhash_md5(),
            "box_tile_cover": oracle_box_tile_cover(),
            "rolling_fingerprint": oracle_rolling_fingerprint(),
            "range_join_within_km": oracle_range_join_within_km(),
            "as_of_join": oracle_as_of_join(),
            "polygon_intersect_join": oracle_polygon_intersect_join(),
            "validate_locations_full": oracle_validate_locations_full(),
            "ngram_jaccard_pairs": oracle_ngram_jaccard_pairs(),
            "dedup_components": oracle_dedup_components(),
            "dedup_pipeline": oracle_dedup_pipeline(),
            "sample_stratified": oracle_sample_stratified(),
            "hamming_near_dups": oracle_hamming_near_dups(),
            "minhash_near_dups": oracle_minhash_near_dups(),
            "lsh_ann_topk": oracle_lsh_ann_topk(),
            "ivf_ann_topk": oracle_ivf_ann_topk(),
            "cosine_near_dups": oracle_cosine_near_dups(),
            "ivf_near_dups": oracle_ivf_near_dups(),
            "phash_near_dups": oracle_phash_near_dups(),
            "enrich_locations": oracle_enrich_locations(),
            "simhash": oracle_simhash(),
            "rasterize_masks": oracle_rasterize_masks(),
            "media_decode_verify": oracle_media_decode_verify(),
        }
    )
    return out
