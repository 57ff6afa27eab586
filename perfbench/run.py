#!/usr/bin/env python3
"""Geo-engine benchmark: closed-loop workloads over the engine's public API.

    python3 perfbench/run.py --workload bulk_join --seed 1 --seconds 10 --trace 0

Run from the repository root.  One client thread sends one op at a time
(closed loop).  Inputs derive from --seed.  Every op's output is materialized
in full and checked against the numpy reference in reference.py; an op that
raises or fails its check counts as failed.  The last stdout line is one JSON
object: correct, attempted, failed and metrics.  --trace 0 reports the
end-to-end metrics; --trace 1 runs the same ops with spans and the Spark event
log on, and reports the per-layer metrics.  README.md lists the workloads,
their sizes and which layer metrics each end-to-end metric depends on.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402

import procstat  # noqa: E402
import reference as ref  # noqa: E402
from tracing import Tracer, SpanStats, read_eventlog  # noqa: E402

JOIN_GEOMETRY = dict(zoom=16, compact=True, min_zoom=14)  # bench.py's flagship
N_POLYGONS = 120
BULK_POINTS = 1_000_000  # about; the seed picks them from the fixture's first 2M
BULK_SAMPLE_MOD = 50  # points with id % 50 == 0 are checked: ~20k of ~1M
SELLER_ROWS = 989  # + 11 fixed rows = 1,000; ~890 enriched sellers, the kNN targets
SELLER_SAMPLE_POINTS = 100_000  # about, picked like the bulk points
KNN_POINTS = 2_000
KNN_ZOOM = 7  # its R = 8 round reaches ~1,000 km, so no R = 32 round (README)
TILE_ZOOM = 14
RASTER_ZOOM = 10
RASTER_CHECKED = 4
YOUNG_GEN = "1g"


class CheckFailed(Exception):
    pass


def rng_for(seed: int, *stream) -> np.random.Generator:
    """Independent generator per purpose and op, all derived from --seed."""
    return np.random.default_rng([seed, *(zlib.crc32(str(s).encode()) for s in stream)])


def size_session() -> tuple[int, str]:
    """Sizes Spark to this host through the env vars session.py reads."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / 2**20
    heap = f"{max(1, min(8, int(mem_gb * 0.3)))}g"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    # Python workers import the engine by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    return cpus, heap


def start_spark(cpus: int, heap: str, trace: bool):
    from geojson_utility_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # a heap of fixed size and a young generation of fixed size: the heap
        # is not resized by GC timing, so resident memory follows what is
        # kept on the heap (old and humongous regions), not when G1 grew it
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap} -Xmn{YOUNG_GEN} -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            # per-task peaks of JVM heap and storage memory in the log
            "spark.executor.metrics.pollingInterval": "100ms",
        })
    return get_spark("perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stops the session, then the JVM, and waits for every child to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while len(procstat.descendants()) > 1 and time.time() < deadline:
        time.sleep(0.1)
    for pid in procstat.descendants()[1:]:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


class Ctx:
    def __init__(self, spark, tracer: Tracer, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.index_stats: list[dict] = []  # one per built polygon index

    def span(self, name):
        return self.tracer.span(name)

    def noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def observed(self, df, *aggs):
        """(df with aggs observed, Observation) — the aggregates ride on the
        action that materializes df, with no extra job."""
        from pyspark.sql import Observation

        obs = Observation()
        return df.observe(obs, *aggs), obs


def fixture_polygons():
    """The fixed serviceability set: fixtures.make_polygons(120), plus the
    reference's view of it (valid outer rings and their polygon numbers)."""
    from geojson_utility_spark import fixtures as FX

    pdf = FX.make_polygons(N_POLYGONS)[["polygon_id", "geojson"]]
    rings, numbers = [], []
    for pid, doc in zip(pdf["polygon_id"], pdf["geojson"]):
        ring = ref.outer_ring(doc)
        if ref.ring_is_valid(ring):
            rings.append(ring)
            numbers.append(int(pid.split("_")[1]))
    return pdf, rings, np.asarray(numbers, dtype=np.int64)


def build_index(ctx: Ctx, polygons):
    """prepare_polygons plus the first materialization of its cover, which
    the join would otherwise build on first use."""
    from pyspark.sql import functions as F

    from geojson_utility_spark.operators.spatial_join import prepare_polygons

    with ctx.span("prepare_polygons"):
        prepared = prepare_polygons(polygons, **JOIN_GEOMETRY)
    with ctx.span("cover_index"):
        cover, obs = ctx.observed(
            prepared.cover_idx, F.count(F.lit(1)).alias("cells"),
            F.sum(F.col("interior").cast("long")).alias("interior"),
        )
        ctx.noop(cover)
    ctx.index_stats.append(obs.get)
    return prepared


# ------------------------------------------------------------------ workloads

class BulkJoin:
    """Repeated spatial_join of a staged point table against the prepared
    fixture index, materialized through a noop sink."""

    def __init__(self, ctx: Ctx):
        from pyspark.sql import functions as F

        from inputs import staged_points

        self.ctx = ctx
        spark = ctx.spark
        with ctx.span("stage_points"):
            self.points, self.rows_per_op = staged_points(
                spark, BULK_POINTS, ctx.seed, os.path.join(WORK, "bulk_points.parquet"))
        polys, self.rings, self.numbers = fixture_polygons()
        self.kernel_docs = list(polys["geojson"])
        self.prepared = build_index(ctx, spark.createDataFrame(polys))
        picked = F.col("point_id") % BULK_SAMPLE_MOD == 0
        self.sample = self.points.filter(picked)
        self.expected = None
        poly = F.substring("polygon_id", 6, 6).cast("long")
        self.aggs = [
            F.count(F.lit(1)).alias("matches"),
            F.sum(F.when(picked, 1).otherwise(0)).alias("n"),
            F.sum(F.when(picked, F.col("point_id") * 1000 + poly)).alias("s1"),
            F.sum(F.when(picked, (F.col("point_id") * 7919 + poly * 104729) % 1000003)).alias("s2"),
        ]

    def request(self, i):
        return None

    def op(self, i, req):
        from geojson_utility_spark.operators.spatial_join import spatial_join

        with self.ctx.span("spatial_join"):
            out, obs = self.ctx.observed(spatial_join(self.points, prepared=self.prepared), *self.aggs)
            self.ctx.noop(out)
        return obs.get

    def check(self, i, req, got):
        if self.expected is None:  # the reference is worked out once, after the first op
            sample = self.sample.toPandas()
            p, k = ref.containment_pairs(self.rings, sample["lat"].to_numpy(), sample["lon"].to_numpy())
            self.expected = _pair_sums(sample["point_id"].to_numpy()[p], self.numbers[k])
        want = self.expected
        seen = {k: int(got[k] or 0) for k in ("n", "s1", "s2")}
        if seen != want or not got["matches"]:
            raise CheckFailed(f"bulk_join sample {seen} != reference {want}")


def _pair_sums(pid: np.ndarray, poly: np.ndarray) -> dict:
    pid = pid.astype(np.int64)
    return {
        "n": int(pid.shape[0]),
        "s1": int(np.sum(pid * 1000 + poly)),
        "s2": int(np.sum((pid * 7919 + poly * 104729) % 1000003)),
    }


class SellerIngest:
    """One upload per op, the reference's path and what the platform builds
    from it: read -> validate and enrich under a token budget -> write CSV +
    run metrics -> index the new catchments -> join a fixed point sample ->
    3 nearest new sellers of a sample slice (grid kNN) -> XYZ tiles and
    quadkeys of the slice -> raster masks of the new catchments -> release."""

    rows_per_op = SELLER_ROWS + 11  # seeded sellers + 2 golden + 9 planted rows

    def __init__(self, ctx: Ctx):
        from pyspark.sql import functions as F

        from inputs import point_frame

        self.ctx = ctx
        pdf = point_frame(ctx.spark, SELLER_SAMPLE_POINTS, ctx.seed)
        self.sample_lat, self.sample_lon = pdf["lat"].to_numpy(), pdf["lon"].to_numpy()
        path = os.path.join(WORK, "seller_sample.parquet")
        with ctx.span("stage_points"):
            ctx.spark.createDataFrame(pdf).write.mode("overwrite").parquet(path)
        self.sample = ctx.spark.read.parquet(path)
        self.qk_aggs = [F.count(F.lit(1)).alias("rows"),
                        F.sum((F.length("quadkey") == TILE_ZOOM).cast("long")).alias("qk_ok")]
        self.kernel_docs: list[str] = []
        self.results: list[dict] = []

    def request(self, i):
        from inputs import seller_upload

        up = seller_upload(rng_for(self.ctx.seed, "upload", i), SELLER_ROWS, f"u{i}")
        d = os.path.join(WORK, "uploads", str(i))
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, "locations.csv")
        up.drop(columns="_expect").to_csv(path, index=False)
        n_valid = int((up["_expect"] == "").sum())
        first = (i % (len(self.sample_lat) // KNN_POINTS)) * KNN_POINTS
        return {"path": path, "out": os.path.join(d, "out"), "upload": up, "n_valid": n_valid,
                "budget": n_valid - max(1, n_valid // 10), "slice": (first, first + KNN_POINTS)}

    def op(self, i, req):
        from pyspark.sql import functions as F

        from geojson_utility_spark.operators.enrichment import enrich_locations, run_metrics
        from geojson_utility_spark.operators.knn import knn_join
        from geojson_utility_spark.operators.spatial_join import spatial_join
        from geojson_utility_spark.operators.tiling import assign_tiles, quadkey_udf, rasterize_polygons
        from geojson_utility_spark.sources.locations_csv import read_locations_csv, write_locations_csv

        ctx, spark = self.ctx, self.ctx.spark
        with ctx.span("read_locations_csv"):
            df = read_locations_csv(spark, req["path"])
        with ctx.span("enrich_locations"):
            enriched = enrich_locations(df, token_budget=req["budget"])
        with ctx.span("write_locations_csv"):
            write_locations_csv(enriched, req["out"])
        with ctx.span("run_metrics"):
            metrics = run_metrics(enriched)
        with ctx.span("read_catchments"):
            written = read_locations_csv(spark, req["out"]).filter(F.col("geojson") != "{}")
            catchments = written.select(F.col("location_id").alias("polygon_id"), "geojson")
            gps = F.split("location_gps", ",")
            sellers = written.select(F.col("location_id").alias("target_id"),
                                     gps[0].cast("double").alias("lat"), gps[1].cast("double").alias("lon"))
        prepared = build_index(ctx, catchments)
        with ctx.span("spatial_join"):
            out, obs = ctx.observed(spatial_join(self.sample, prepared=prepared),
                                    F.count(F.lit(1)).alias("matches"))
            ctx.noop(out)
        slice_ = self.sample.filter(F.col("point_id").between(req["slice"][0], req["slice"][1] - 1))
        with ctx.span("knn_join"):
            nearest = knn_join(slice_, sellers, k=3, zoom=KNN_ZOOM).collect()
        with ctx.span("assign_tiles"):
            tiles, tiles_obs = ctx.observed(
                assign_tiles(slice_, TILE_ZOOM).withColumn("quadkey", quadkey_udf("tile_cell")), *self.qk_aggs)
            ctx.noop(tiles)
        with ctx.span("rasterize_polygons"):
            raster = rasterize_polygons(prepared.norm, RASTER_ZOOM).collect()
        with ctx.span("unpersist"):
            prepared.unpersist()
        return {"metrics": metrics, "matches": obs.get["matches"], "nearest": nearest,
                "tiles": tiles_obs.get, "raster": raster}

    def check(self, i, req, got):
        import pandas as pd

        from geojson_utility_spark.operators.tiling import unpack_mask
        from inputs import TOKEN_ERROR

        parts = sorted(glob.glob(os.path.join(req["out"], "part-*.csv")))
        out = pd.concat([pd.read_csv(p, dtype=str, keep_default_na=False, escapechar="\\")
                         for p in parts], ignore_index=True)
        up = req["upload"]
        bytes_written = sum(os.path.getsize(p) for p in parts)
        shutil.rmtree(os.path.dirname(req["path"]), ignore_errors=True)
        problems = []
        if len(out) != len(up):
            problems.append(f"{len(out)} rows written for {len(up)} uploaded")
        planted = up.loc[up["_expect"] != "", "_expect"].value_counts()
        for msg, n in planted.items():
            seen = int(out["errors"].str.contains(msg, regex=False).sum())
            if seen != n:
                problems.append(f"{seen} rows with {msg!r}, planted {n}")
        exhausted = int((out["errors"] == TOKEN_ERROR).sum())
        if exhausted != req["n_valid"] - req["budget"]:
            problems.append(f"{exhausted} token-exhausted rows, want {req['n_valid'] - req['budget']}")
        m = got["metrics"]
        # planted invalid rows outrank token exhaustion in the reference's status
        if m["status"] != "failed" or m["total_rows"] != len(up):
            problems.append(f"run metrics {m}")
        enriched = out[out["geojson"] != "{}"]
        rings = {lid: ref.outer_ring(doc) for lid, doc in zip(enriched["location_id"], enriched["geojson"])}
        valid = [r for r in rings.values() if ref.ring_is_valid(r)]
        want = ref.containment_pairs(valid, self.sample_lat, self.sample_lon)[0].shape[0]
        if got["matches"] != want:
            problems.append(f"sample join {got['matches']} matches, reference {want}")
        problems += self._check_nearest(req["slice"], enriched, got["nearest"])
        if got["tiles"]["rows"] != KNN_POINTS or got["tiles"]["qk_ok"] != KNN_POINTS:
            problems.append(f"tiles {got['tiles']}")
        raster = got["raster"]
        rng = rng_for(self.ctx.seed, "raster-check", i)
        for j in rng.choice(len(raster), min(RASTER_CHECKED, len(raster)), replace=False).tolist():
            r = raster[j]
            mask = ref.tile_mask(rings[r["polygon_id"]], r["tile_z"], r["tile_x"], r["tile_y"], r["mask_size"])
            if not np.array_equal(unpack_mask(r["mask"], r["mask_size"]), mask):
                problems.append(f"mask of {r['polygon_id']} tile {r['tile_x']},{r['tile_y']}")
        if len({r["polygon_id"] for r in raster}) != len(valid):
            problems.append(f"raster covers {len({r['polygon_id'] for r in raster})} of {len(valid)} catchments")
        if problems:
            raise CheckFailed("seller_ingest: " + "; ".join(problems))
        self.kernel_docs = enriched["geojson"].tolist()
        self.raster_tiles = len(raster)
        self.results.append({
            "invalid": int(planted.sum()), "rows": len(up),
            "valid": req["n_valid"], "enriched": m["api_calls_made"], "bytes_written": bytes_written,
        })

    def _check_nearest(self, bounds, sellers, rows) -> list[str]:
        """kNN ranks of every slice point against a numpy haversine top-3."""
        gps = sellers["location_gps"].str.split(",", expand=True).astype(float)
        ids, km = ref.knn(self.sample_lat[bounds[0]:bounds[1]], self.sample_lon[bounds[0]:bounds[1]],
                          gps[0].to_numpy(), gps[1].to_numpy(), sellers["location_id"].to_numpy(), 3)
        by_point: dict[int, list] = {}
        for r in rows:
            by_point.setdefault(r["point_id"], []).append((r["knn_rank"], r["target_id"], r["dist_km"]))
        if len(rows) != 3 * KNN_POINTS:
            return [f"{len(rows)} kNN rows for {KNN_POINTS} points"]
        for row, pid in enumerate(range(*bounds)):
            ranked = sorted(by_point.get(pid, []))
            if [t for _, t, _ in ranked] != ids[row].tolist() or not np.allclose(
                    [d for _, _, d in ranked], km[row], rtol=0, atol=1e-9):
                return [f"kNN of point {pid}: {ranked} != {ids[row].tolist()}"]
        return []


WORKLOADS = {"bulk_join": BulkJoin, "seller_ingest": SellerIngest}
WARMUP = 1_000_000  # op id of the untimed warm-up op, apart from the timed ones


# ------------------------------------------------------------------ run loop

def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    cpus, heap = size_session()
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "eventlog"):
        os.makedirs(os.path.join(WORK, d))
    with procstat.PeakRss() as rss:
        spark = start_spark(cpus, heap, trace)
        try:
            t_session = procstat.process_age_s()
            ctx = Ctx(spark, Tracer(spark.sparkContext if trace else None), seed)
            wl = WORKLOADS[workload](ctx)
            t_inputs = procstat.process_age_s()
            req = wl.request(WARMUP)  # one untimed op
            wl.check(WARMUP, req, wl.op(WARMUP, req))
            setup_s = procstat.process_age_s()
            print(f"setup: session {t_session:.1f} s, inputs and index {t_inputs - t_session:.1f} s, "
                  f"warm-up {setup_s - t_inputs:.1f} s", file=sys.stderr)
            ops = timed_loop(ctx, wl, seconds)
            rss.sample()
            kernels = kernel_timings(wl, seed) if trace else {}
        finally:
            stop_spark(spark)
    ok = [o for o in ops if o["ok"]]
    # medians over the ops that passed: one op slowed by the host moves them little
    p50 = statistics.median(o["s"] for o in ok) if ok else 0.0
    cpu_p50 = statistics.median(o["cpu"] for o in ok) if ok else 0.0
    e2e = {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (wl.rows_per_op / p50 if p50 else 0.0, "rows/s"),
        "op_p50_s": (p50, "s"),
        "peak_rss_mb": (rss.peak / 1e6, "MB"),
        "cpu_us_per_row": (cpu_p50 * 1e6 / wl.rows_per_op, "us/row"),
    }
    if trace:
        metrics = layer_metrics(ctx, wl, ops, kernels, e2e)
        write_trace(ctx, workload, seed, ops)
    else:
        metrics = e2e
    return {
        "correct": bool(ok) and not any(o.get("wrong") for o in ops),
        "attempted": len(ops),
        "failed": len(ops) - len(ok),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def timed_loop(ctx: Ctx, wl, seconds: float) -> list[dict]:
    """Runs ops until they have taken ``seconds`` in total; output checks run
    between ops and are not counted.  Ops that fail at once cannot keep the
    run going for more than three times ``seconds``."""
    ops = []
    busy = 0.0
    stop_at = time.perf_counter() + 3 * seconds
    i = 0
    while busy < seconds and time.perf_counter() < stop_at:
        req = wl.request(i)
        ctx.tracer.op = i
        cpu0 = procstat.tree_usage()[1]
        t0 = time.perf_counter()
        rec = {"i": i, "ok": True}
        try:
            with ctx.span("op"):
                got = wl.op(i, req)
        except Exception:  # a failed op is counted, and the run goes on
            rec.update(ok=False, error=traceback.format_exc(limit=3))
            got = None
        rec["s"] = time.perf_counter() - t0
        busy += rec["s"]
        rec["cpu"] = procstat.tree_usage()[1] - cpu0
        ctx.tracer.op = None
        if rec["ok"]:
            try:
                wl.check(i, req, got)
            except CheckFailed as e:
                rec.update(ok=False, wrong=True, error=str(e))
        print(f"op {i}: {rec['s']:.3f} s" + ("" if rec["ok"] else f" FAILED {rec['error']}"), file=sys.stderr)
        ops.append(rec)
        i += 1
    return ops


# ------------------------------------------------------------------ traced run

def kernel_timings(wl, seed: int) -> dict:
    """The engine's pure numpy kernels timed on the driver, outside any op."""
    from geojson_utility_spark.functions import cells as C
    from geojson_utility_spark.functions import geometry as G
    from geojson_utility_spark.functions import pip as P
    from inputs import hotspot_points

    docs = wl.kernel_docs[:200]
    out = {}
    t0 = time.perf_counter()
    normalized = [G.normalize_polygon_geojson(d) for d in docs]
    out["geometry.normalize_us_per_polygon"] = (time.perf_counter() - t0) * 1e6 / max(1, len(docs))
    rings = [np.asarray(G.extract_outer_ring(n), dtype=np.float64) for n, err in normalized if not err]
    t0 = time.perf_counter()
    n_cells = sum(len(C.polygon_to_cells_adaptive(r, JOIN_GEOMETRY["zoom"])) for r in rings)
    out["cells.cover_ms_per_polygon"] = (time.perf_counter() - t0) * 1e3 / max(1, len(rings))
    out["cells.cells_per_polygon"] = n_cells / max(1, len(rings))
    rng = rng_for(seed, "kernels")
    kernel_s, kernel_rows = 0.0, 0
    for r in rings:
        px = rng.uniform(r[:, 0].min(), r[:, 0].max(), 16384)
        py = rng.uniform(r[:, 1].min(), r[:, 1].max(), 16384)
        kern = P.RingKernel(r)
        t0 = time.perf_counter()
        kern.test_block(px, py)
        kernel_s += time.perf_counter() - t0
        kernel_rows += px.shape[0]
    out["pip.kernel_ns_per_row"] = kernel_s * 1e9 / max(1, kernel_rows)
    lat, lon = hotspot_points(seed, 2000)
    mags = rng.integers(500, 5001, 2000)
    t0 = time.perf_counter()
    for la, lo, mg in zip(lat.tolist(), lon.tolist(), mags.tolist()):
        json.dumps(G.wrap_polygon_feature_collection(G.synth_catchment_ring(la, lo, mg, "drive_distance")))
    out["geometry.catchment_us_per_row"] = (time.perf_counter() - t0) * 1e6 / 2000
    return out


def layer_metrics(ctx: Ctx, wl, ops, kernels: dict, e2e: dict) -> dict:
    """Per-layer metrics: the median over ops of what each op's spans cost."""
    logs = glob.glob(os.path.join(WORK, "eventlog", "*"))
    by_span = read_eventlog(max(logs, key=os.path.getmtime)) if logs else {}
    spans = ctx.tracer.spans
    dur = {s["id"]: s["end"] - s["start"] for s in spans}
    good = {o["i"] for o in ops if o["ok"]}

    def per_op(name=None):
        """op id -> (wall seconds, SpanStats) of its spans called name (all spans if None)."""
        acc: dict = {}
        for s in spans:
            if s["op"] in good and (name is None and s["name"] != "op" or s["name"] == name):
                w, st = acc.setdefault(s["op"], [0.0, SpanStats()])
                acc[s["op"]][0] = w + dur[s["id"]]
                st.add(by_span.get(s["id"], SpanStats()))
        return acc

    def med(values):
        values = list(values)
        return statistics.median(values) if values else 0.0

    def instances(name):
        """(wall, SpanStats) of every span called name, setup included."""
        return [(dur[s["id"]], by_span.get(s["id"], SpanStats())) for s in spans if s["name"] == name]

    op_wall = {op: w for op, (w, _) in per_op("op").items() if w}

    def op_share(*names):
        """median over ops of the share of op wall time spent in spans names."""
        walls = [per_op(n) for n in names]
        return med(sum(x.get(op, (0.0,))[0] for x in walls) / w for op, w in op_wall.items())

    m: dict[str, tuple[float, str]] = {}
    prep, cover = instances("prepare_polygons"), instances("cover_index")
    m["spatial_join.prepare_s"] = (med(a[0] + b[0] for a, b in zip(prep, cover)), "s")
    m["spatial_join.normalize_s"] = (med(w for w, _ in prep), "s")
    m["spatial_join.cover_s"] = (med(w for w, _ in cover), "s")
    idx = ctx.index_stats
    m["spatial_join.cover_cells"] = (med(x["cells"] for x in idx), "count")
    m["spatial_join.interior_share"] = (med(x["interior"] / x["cells"] for x in idx if x["cells"]), "ratio")

    sj = per_op("spatial_join").values()
    r = lambda st, k: st.roles.get(k, 0.0)  # noqa: E731
    m["spatial_join.probe_rows"] = (med(r(st, "probe_rows") for _, st in sj), "count")
    m["spatial_join.interior_rows"] = (med(r(st, "interior_rows") for _, st in sj), "count")
    m["spatial_join.candidate_rows"] = (med(r(st, "candidate_rows") for _, st in sj), "count")
    m["spatial_join.refine_hit_ratio"] = (med(
        r(st, "arrow.number of output rows") / r(st, "candidate_rows")
        for _, st in sj if r(st, "candidate_rows")), "ratio")
    m["spatial_join.task_s"] = (med(st.run_s for _, st in sj), "s")
    m["spatial_join.task_cpu_s"] = (med(st.cpu_s for _, st in sj), "s")
    m["spatial_join.task_skew"] = (med(st.skew() for _, st in sj), "ratio")
    m["spatial_join.jobs_per_op"] = (med(st.jobs for _, st in sj), "count")
    m["spatial_join.stages_per_op"] = (med(st.stages for _, st in sj), "count")
    m["spatial_join.broadcast_mb"] = (med(r(st, "bcast_bytes") / 1e6 for _, st in sj), "MB")
    m["spatial_join.broadcast_build_s"] = (med(r(st, "bcast_time") for _, st in sj), "s")
    m["spatial_join.driver_s"] = (med(w - st.jobs_wall_s() for w, st in sj), "s")

    for metric, role, unit, scale in (
        ("python_boot_s", "time to start Python workers", "s", 1),
        ("python_init_s", "time to initialize Python workers", "s", 1),
        ("python_total_s", "time to run Python workers", "s", 1),
        ("bytes_to_python_mb", "data sent to Python workers", "MB", 1e-6),
        ("bytes_from_python_mb", "data returned from Python workers", "MB", 1e-6),
    ):
        m[f"pip.{metric}"] = (med(r(st, "arrow." + role) * scale for _, st in sj), unit)
    m["pip.rows_to_python"] = (med(r(st, "candidate_rows") for _, st in sj), "count")
    m["pip.kernel_ns_per_row"] = (kernels.get("pip.kernel_ns_per_row", 0.0), "ns")
    m["cells.cover_ms_per_polygon"] = (kernels.get("cells.cover_ms_per_polygon", 0.0), "ms")
    m["cells.cells_per_polygon"] = (kernels.get("cells.cells_per_polygon", 0.0), "count")
    m["geometry.normalize_us_per_polygon"] = (kernels.get("geometry.normalize_us_per_polygon", 0.0), "us")
    m["geometry.catchment_us_per_row"] = (kernels.get("geometry.catchment_us_per_row", 0.0), "us")

    res = getattr(wl, "results", [])
    m["validation.invalid_share"] = (med(x["invalid"] / x["rows"] for x in res), "ratio")
    enrich = per_op("enrich_locations")
    m["enrichment.s"] = (med(w for w, _ in enrich.values()), "s")
    evaluated = {}
    for name in ("enrich_locations", "write_locations_csv", "run_metrics"):
        for op, (_, st) in per_op(name).items():
            evaluated.setdefault(op, SpanStats()).add(st)
    m["enrichment.python_total_s"] = (med(r(st, "udf.time to run Python workers") for st in evaluated.values()), "s")
    m["enrichment.jobs_per_op"] = (med(st.jobs for st in evaluated.values()), "count")
    m["enrichment.enriched_share"] = (med(x["enriched"] / x["valid"] for x in res), "ratio")
    m["sources.read_s"] = (med(w for w, _ in per_op("read_locations_csv").values()), "s")
    m["sources.write_s"] = (med(w for w, _ in per_op("write_locations_csv").values()), "s")
    m["sources.bytes_written_mb"] = (med(x["bytes_written"] / 1e6 for x in res), "MB")

    knn = per_op("knn_join").values()
    m["knn.s"] = (med(w for w, _ in knn), "s")
    m["knn.jobs_per_op"] = (med(st.jobs for _, st in knn), "count")
    m["knn.broadcast_rows"] = (med(r(st, "bcast_rows") for _, st in knn), "count")
    m["knn.broadcast_mb"] = (med(r(st, "bcast_bytes") / 1e6 for _, st in knn), "MB")
    m["knn.candidate_rows"] = (med(r(st, "grid_candidate_rows") for _, st in knn), "count")
    m["knn.task_s"] = (med(st.run_s for _, st in knn), "s")
    m["knn.op_share"] = (op_share("knn_join"), "ratio")
    m["knn.heap_peak_mb"] = (med(st.heap_peak_b / 1e6 for _, st in knn), "MB")

    assign = per_op("assign_tiles").values()
    raster = per_op("rasterize_polygons").values()
    m["tiling.assign_s"] = (med(w for w, _ in assign), "s")
    m["tiling.quadkey_python_s"] = (med(r(st, "udf.time to run Python workers") for _, st in assign), "s")
    m["tiling.raster_s"] = (med(w for w, _ in raster), "s")
    tiles = getattr(wl, "raster_tiles", 0)
    m["tiling.raster_tiles"] = (tiles, "count")
    m["tiling.raster_pixels_per_s"] = (med(tiles * 64 * 64 / w for w, _ in raster if w), "1/s")
    m["tiling.op_share"] = (op_share("assign_tiles", "rasterize_polygons"), "ratio")

    allspans = per_op().values()
    m["session.gc_s"] = (med(st.gc_s for _, st in allspans), "s")
    m["session.spill_mb"] = (med(st.spill_b / 1e6 for _, st in allspans), "MB")
    m["session.shuffle_write_mb"] = (med(st.shuffle_write_b / 1e6 for _, st in allspans), "MB")
    m["session.tasks_per_op"] = (med(st.tasks for _, st in allspans), "count")
    m["session.heap_peak_mb"] = (med(st.heap_peak_b / 1e6 for _, st in allspans), "MB")
    m["session.storage_peak_mb"] = (med(st.storage_peak_b / 1e6 for _, st in allspans), "MB")
    for name, (value, unit) in e2e.items():
        m[f"traced.{name}"] = (value, unit)
    return m


def write_trace(ctx: Ctx, workload: str, seed: int, ops) -> None:
    """Spans with self times and op errors, for reading after the run."""
    self_s = ctx.tracer.self_times()
    spans = [dict(s, self_s=self_s.get(s["id"])) for s in ctx.tracer.spans]
    path = os.path.join(WORK, f"trace_{workload}_{seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": workload, "seed": seed, "ops": ops, "spans": spans}, f, indent=1)
    print(f"trace written to {os.path.relpath(path, ROOT)}", file=sys.stderr)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    import geojson_utility_spark  # noqa: F401  fail fast when the engine is absent

    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
