"""Replicates the driver's correctness gate: every queries() entry runs, and every
oracle_sql() entry matches the Spark result (row count + sorted-value comparison)."""

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as E
from geojson_utility_spark.entry_queries import TABLES
from geojson_utility_spark.session import release_deferred

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


ORACLES = E.oracle_sql()
ALL_QUERIES = E.queries()


def _engine_state(spark) -> tuple[set[int], set[str]]:
    """Persistent RDD ids and the engine's ``gjus_*`` catalog tables."""
    rdds = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    tables = {t.name for t in spark.catalog.listTables() if t.name.startswith("gjus_")}
    return rdds, tables


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_match(spark, ddb, name):
    """Each entry matches its oracle, and once its result is collected,
    ``release_deferred`` leaves no persistent RDD and no shingle table behind."""
    release_deferred()
    before = _engine_state(spark)
    got = _canon(ALL_QUERIES[name](spark, SF_DIR).toPandas())
    release_deferred()
    assert _engine_state(spark) == before, f"{name}: engine state left behind"
    want = _canon(ddb.execute(ORACLES[name]).fetchdf())
    assert list(got.columns) == list(want.columns), (
        f"{name}: columns {list(got.columns)} vs {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: rows {len(got)} vs {len(want)}"
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True,
                                  obj=name)


@pytest.mark.parametrize("name", sorted(set(ALL_QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = ALL_QUERIES[name](spark, SF_DIR)
    n = df.count()
    assert n >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    df = E.entry(spark)
    assert df.count() > 0


def test_driver_window_contract():
    """The driver evaluates only the FIRST 50 queries() entries (round-2 lesson:
    4 oracled entries fell past the window).  Pin: flagship leads, every oracled
    entry precedes every rows-only entry, and nothing falls outside the window."""
    names = list(ALL_QUERIES)
    assert names[0] == "flagship_image_join"
    assert len(names) <= 50, f"{len(names)} entries exceed the driver's window"
    assert set(ORACLES) <= set(names[:50])
    rows_only = [n for n in names if n not in ORACLES]
    if rows_only:  # round 5: every entry is oracled; keep the guard for new ones
        first_rows_only = min(names.index(n) for n in rows_only)
        last_oracled = max(names.index(n) for n in ORACLES)
        assert last_oracled < first_rows_only, "rows-only entries must register last"


def test_fixture_oracle_margins():
    """The embedded-literal oracles (cosine_near_dups, ivf_near_dups,
    ivf_ann_topk) are deterministic only because the data sits far from every
    float knife edge — BLAS-vs-SQL summation order differs by ULPs, so a plane
    dot near 0, a pair cosine near the threshold, or a near-tied centroid
    assignment could flip between engines.  Pin the measured margins so a
    fixture/seed/RNG-stream change that lands near a knife edge fails HERE,
    not as a flaky driver hash mismatch."""
    import numpy as np
    import pyarrow.parquet as pq

    from geojson_utility_spark import fixtures as FX
    from geojson_utility_spark.operators.similarity import (
        _hyperplanes,
        _kmeans_fit,
    )

    # cosine_near_dups fixture: t=0.8, 8 bits x 8 tables, seed 42 (entry params)
    pdf = FX.make_neardup_embeddings()
    m = np.asarray(list(pdf["embedding"]), dtype=np.float64)
    planes = np.concatenate(
        [np.asarray(_hyperplanes(m.shape[1], 8, 42 + t)) for t in range(8)]
    )
    assert np.abs(m @ planes.T).min() > 1e-6          # sign-bit stability
    norms = np.linalg.norm(m, axis=1)
    cos = (m @ m.T) / np.outer(norms, norms)
    pc = cos[np.triu_indices(len(m), 1)]
    assert np.abs(pc - 0.8).min() > 1e-6              # verify-threshold margin
    assert (pc >= 0.8).sum() >= 10                    # probe is non-trivial

    # ivf_near_dups fixture: 8 lists, n_probe=2, seed 42 (entry params)
    pdf2 = FX.make_clustered_embeddings()
    mb = np.asarray(list(pdf2["embedding"]), dtype=np.float64)
    cents = _kmeans_fit(mb, 8, 10, 42)
    d2 = ((mb * mb).sum(1)[:, None] - 2.0 * (mb @ cents.T)
          + (cents * cents).sum(1)[None, :])
    s = np.sort(d2, axis=1)
    assert (s[:, 2] - s[:, 1]).min() > 1e-6           # probe-2 set stability
    nb = np.linalg.norm(mb, axis=1)
    pcb = ((mb @ mb.T) / np.outer(nb, nb))[np.triu_indices(len(mb), 1)]
    assert np.abs(pcb - 0.8).min() > 1e-6

    # ivf_ann_topk on the REAL sf0.01 embeddings: 16 lists, n_probe=4, k=5
    tbl = pq.read_table(f"{SF_DIR}/embeddings.parquet",
                        columns=["vec_id", "embedding"])
    ids = np.asarray(tbl.column("vec_id").to_pylist())
    mr = np.asarray([list(v) for v in tbl.column("embedding").to_pylist()],
                    dtype=np.float64)[np.argsort(ids)]
    cr = _kmeans_fit(mr, 16, 10, 42)
    d2r = ((mr * mr).sum(1)[:, None] - 2.0 * (mr @ cr.T)
           + (cr * cr).sum(1)[None, :])
    sr = np.sort(d2r, axis=1)
    assert (sr[:, 1] - sr[:, 0]).min() > 1e-6         # assignment stability
    q = mr[np.sort(ids) < 5]
    qc = (q @ cr.T) / np.outer(np.linalg.norm(q, axis=1),
                               np.linalg.norm(cr, axis=1))
    sq = np.sort(qc, axis=1)[:, ::-1]
    assert (sq[:, 3] - sq[:, 4]).min() > 1e-6         # probe-4 set stability


def test_rasterize_oracle_builder_matches_normalizer_validity(spark):
    """The rasterize_masks oracle excludes invalid fixture rings via an
    INDEPENDENT bow-tie check (stdlib json + proper-intersection loops).  Pin
    that its polygon set equals the engine normalizer's valid set, so a fixture
    change that adds a new invalid-ring class fails here instead of as a driver
    row-count mismatch."""
    import re

    from geojson_utility_spark import fixtures as FX
    from geojson_utility_spark.operators.spatial_join import normalize_polygons

    polys = spark.createDataFrame(FX.make_polygons(20)[["polygon_id", "geojson"]])
    valid = {
        r["polygon_id"]
        for r in normalize_polygons(polys).filter("poly_errors = ''").collect()
    }
    sql = ORACLES["rasterize_masks"]
    edges_vals = sql.split("edges(pid, ex1, ey1, ex2, ey2) AS (VALUES", 1)[1]
    oracle_pids = set(re.findall(r"'(poly_\d+)'", edges_vals.split("),\nverts")[0]))
    assert oracle_pids == valid


def test_media_oracle_phash_margins():
    """The media_decode_verify oracle predicts fake-jpeg phash_ok by simulating
    the px//2*2 quantization and re-deriving the average-hash.  That equality
    is deterministic only while no 8x8 block mean sits within float noise of
    the median (a strict-> comparison would then depend on summation order).
    Pin the margins over every fixture image, original AND quantized, so a
    fixture/pattern change that lands on the knife edge fails HERE."""
    import numpy as np

    from geojson_utility_spark import fixtures as FX

    def block_margin(px):
        gray = px.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
        h, w = gray.shape
        ys = (np.arange(9) * h) // 8
        xs = (np.arange(9) * w) // 8
        blocks = np.empty((8, 8))
        for i in range(8):
            for j in range(8):
                blocks[i, j] = gray[
                    ys[i]: max(ys[i + 1], ys[i] + 1), xs[j]: max(xs[j + 1], xs[j] + 1)
                ].mean()
        med = np.median(blocks)
        nz = np.abs(blocks - med)
        nz = nz[nz > 0.0]
        return nz.min() if nz.size else np.inf

    def regen(r):
        yy, xx = np.mgrid[0: r.h, 0: r.w]
        h = 0xCBF29CE484222325
        for b in r.image_id.encode():
            h = ((h ^ b) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
        phase = h % 256
        return np.stack(
            [
                (xx * 255 // max(r.w - 1, 1) + phase) % 256,
                (yy * 255 // max(r.h - 1, 1)) % 256,
                (xx + yy + phase) % 256,
            ],
            axis=2,
        ).astype(np.uint8)

    worst = np.inf
    for r in FX.make_images(200).itertuples():
        px = regen(r)
        worst = min(worst, block_margin(px))
        if r.fmt == "jpeg":
            worst = min(worst, block_margin((px // 2 * 2).astype(np.uint8)))
    assert worst > 1e-9, f"phash median margin too small: {worst}"


def test_heavy_entries_reclaim_session_cache(spark, sf_dir):
    """Heavy entries release the engine state earlier entries left, so the
    driver's 50-entry sequence cannot accumulate it (BENCH.md round-5 addendum
    3), and leave a caller's own cache alone.  Pin one representative entry."""
    from pyspark.sql import functions as F

    release_deferred()
    before = _engine_state(spark)[0]
    ALL_QUERIES["minhash_near_dups"](spark, sf_dir).collect()
    left = _engine_state(spark)[0] - before
    assert left  # the entry's staged signatures, bands and pairs
    mine = spark.range(0, 10).select(F.col("id").alias("x")).cache()
    mine.count()
    ALL_QUERIES["minhash_near_dups"](spark, sf_dir)
    # building the next entry's frame (no action needed) released the state
    # the first run left, and only that
    assert not left & _engine_state(spark)[0]
    assert mine.storageLevel.useMemory
    mine.unpersist()
