"""Deterministic fixture generators (FIXTURES.md) — fixed seed, no wall clock, no I/O.

Generates the fixture tables as pandas frames (Arrow-converted to Spark):
- ``images``   : input_hint schema; encoded PNG/fake-JPEG pixels + phash; each image_id
                 maps deterministically to a (lat, lon) point clustered around urban
                 hot spots (skew driver) plus a uniform background.
- ``polygons`` : ONDC-shaped serviceability areas in the reference's normalized
                 FeatureCollection shape, incl. adversarial rings (CW winding, concave,
                 bow-tie, cell-straddling, one oversized skew driver).
- ``locations``: the reference's upload CSV incl. golden rows from backend/sample.csv
                 and one negative vector per validation predicate P1-P11.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd

from geojson_utility_spark.functions import geometry as G
from geojson_utility_spark.functions import imaging as I

SEED = 42

# Urban hot spots (lat, lon, weight) — drive H3-cell skew like real seller density.
HOTSPOTS = [
    (28.6139, 77.2090, 0.30),  # Delhi
    (19.0760, 72.8777, 0.25),  # Mumbai
    (12.9716, 77.5946, 0.15),  # Bengaluru
    (13.0827, 80.2707, 0.10),  # Chennai
]
_BG_WEIGHT = 1.0 - sum(w for _, _, w in HOTSPOTS)


def image_point(image_ids: np.ndarray | list[str]) -> pd.DataFrame:
    """Deterministic image_id -> (lat, lon): hot-spot clustered + uniform background.

    Pure integer hashing of the id string (FNV-1a), no RNG state — the same id always
    maps to the same point on every executor.
    """
    ids = np.asarray(image_ids, dtype=object)
    h = _fnv1a64(ids)
    u_sel = (h % np.uint64(10_000)).astype(np.float64) / 10_000.0  # cluster selector
    h2 = _mix(h)
    h3_ = _mix(h2)
    u1 = (h2 % np.uint64(1_000_000)).astype(np.float64) / 1_000_000.0
    u2 = (h3_ % np.uint64(1_000_000)).astype(np.float64) / 1_000_000.0
    lat = np.empty(len(ids))
    lon = np.empty(len(ids))
    # background: uniform over India-ish bbox
    lat[:] = 8.0 + u1 * (34.0 - 8.0)
    lon[:] = 68.0 + u2 * (92.0 - 68.0)
    acc = _BG_WEIGHT
    for clat, clon, w in HOTSPOTS:
        sel = (u_sel >= acc) & (u_sel < acc + w)
        # ~10km gaussian-ish blob via Box-Muller on the two uniforms
        r = np.sqrt(-2.0 * np.log(np.clip(u1[sel], 1e-9, 1.0))) * 0.05
        th = 2.0 * np.pi * u2[sel]
        lat[sel] = clat + r * np.sin(th)
        lon[sel] = clon + r * np.cos(th)
        acc += w
    return pd.DataFrame({"image_id": ids, "lat": lat, "lon": lon})


def image_point_df(spark, n: int, num_partitions: int | None = None):
    """Spark-native deterministic point cloud with the same hotspot-mixture *shape* as
    :func:`image_point` (xxhash64 family instead of FNV — identical distribution
    geometry, not row-identical) — generates billions of rows with zero driver work.

    All expressions, all codegen: `spark.range` -> hash -> mixture selection ->
    Box-Muller blobs around the hotspots + uniform background.
    """
    from pyspark.sql import functions as F

    # explicit partitioning lets billion-row generation write straight from
    # codegen — a downstream repartition() would spill the whole table to shuffle
    df = spark.range(0, n, 1, num_partitions) if num_partitions else spark.range(n)
    df = df.select(
        F.concat(F.lit("img_"), F.lpad(F.col("id").cast("string"), 12, "0")).alias(
            "point_id"
        ),
        F.col("id"),
    )
    u_sel = F.pmod(F.xxhash64("id"), F.lit(10_000)) / F.lit(10_000.0)
    u1 = F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1_000_000)) / F.lit(1_000_000.0)
    u2 = F.pmod(F.xxhash64("id", F.lit(2)), F.lit(1_000_000)) / F.lit(1_000_000.0)
    r = F.sqrt(F.lit(-2.0) * F.log(F.greatest(u1, F.lit(1e-9)))) * F.lit(0.05)
    th = F.lit(2.0 * np.pi) * u2
    lat = F.lit(8.0) + u1 * F.lit(26.0)
    lon = F.lit(68.0) + u2 * F.lit(24.0)
    acc = _BG_WEIGHT
    for clat, clon, wgt in HOTSPOTS:
        sel = (u_sel >= F.lit(acc)) & (u_sel < F.lit(acc + wgt))
        lat = F.when(sel, F.lit(clat) + r * F.sin(th)).otherwise(lat)
        lon = F.when(sel, F.lit(clon) + r * F.cos(th)).otherwise(lon)
        acc += wgt
    return df.select("point_id", lat.alias("lat"), lon.alias("lon"))


def _fnv1a64(ids: np.ndarray) -> np.ndarray:
    out = np.empty(len(ids), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for i, s in enumerate(ids):
            h = np.uint64(0xCBF29CE484222325)
            for ch in str(s).encode():
                h = (h ^ np.uint64(ch)) * np.uint64(0x100000001B3)
            out[i] = h
    return out


def _mix(h: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        h = h ^ (h >> np.uint64(33))
        h = h * np.uint64(0xFF51AFD7ED558CCD)
        h = h ^ (h >> np.uint64(33))
    return h


def make_images(n: int = 200, seed: int = SEED) -> pd.DataFrame:
    """The input_hint table: deterministic pixel patterns, real PNG + fake-JPEG bytes."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        image_id = f"img_{i:012d}"
        w = int(rng.integers(8, 65))
        h = int(rng.integers(8, 65))
        # deterministic per-id pixel pattern (gradient + id-derived phase)
        yy, xx = np.mgrid[0:h, 0:w]
        phase = int(_fnv1a64(np.array([image_id]))[0] % np.uint64(256))
        px = np.stack(
            [
                (xx * 255 // max(w - 1, 1) + phase) % 256,
                (yy * 255 // max(h - 1, 1)) % 256,
                (xx + yy + phase) % 256,
            ],
            axis=2,
        ).astype(np.uint8)
        fmt = "png" if i % 2 == 0 else "jpeg"
        data = I.encode_image(px, fmt)
        rows.append(
            {
                "image_id": image_id,
                "bytes": data,
                "w": w,
                "h": h,
                "fmt": fmt,
                "caption": f"caption of {image_id}",
                "phash": I.phash64(px),
            }
        )
    return pd.DataFrame(rows)


def make_polygons(n: int = 40, seed: int = SEED) -> pd.DataFrame:
    """ONDC-shaped catchments around hotspot-bias centers + adversarial rings."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        pid = f"poly_{i:06d}"
        hs = HOTSPOTS[i % len(HOTSPOTS)]
        clat = hs[0] + float(rng.normal(0, 0.2))
        clon = hs[1] + float(rng.normal(0, 0.2))
        magnitude = float(rng.integers(500, 20000))
        ring = G.synth_catchment_ring(clat, clon, magnitude, "drive_distance")
        if i % 7 == 1:
            ring = ring[::-1].copy()  # CW winding — normalizer must flip
        if i == 13:  # one bow-tie — must be flagged invalid
            ring = np.array(
                [[clon, clat], [clon + 0.1, clat + 0.1], [clon + 0.1, clat],
                 [clon, clat + 0.1], [clon, clat]]
            )
        if i == 17:  # oversized skew driver — covers many cells
            ring = G.synth_catchment_ring(clat, clon, 150000, "drive_distance", 48)
        rows.append(
            {
                "polygon_id": pid,
                "snp_id": f"snp_{i % 5}.com",
                "provider_id": f"provider{i % 9}",
                "location_id": f"L{i}",
                "geojson": json.dumps(G.wrap_polygon_feature_collection(ring)),
                "centroid_lat": float(f"{clat:.4f}"),
                "centroid_lon": float(f"{clon:.4f}"),
            }
        )
    return pd.DataFrame(rows)


def make_audio(n: int = 100, seed: int = SEED) -> pd.DataFrame:
    """Audio fixture: deterministic PCM16 clips (mixed mono/stereo, varied rates)
    encoded with the real WAV codec (functions/media.py)."""
    from geojson_utility_spark.functions import media as M

    rng = np.random.default_rng(seed)
    rows = []
    rates = [8000, 16000, 44100]
    for i in range(n):
        audio_id = f"aud_{i:012d}"
        sr = rates[i % len(rates)]
        ch = 1 if i % 3 else 2
        n_samples = int(rng.integers(sr // 100, sr // 4))
        t = np.arange(n_samples, dtype=np.float64)
        freq = 100.0 + (i * 37) % 4000
        wave = np.sin(2 * np.pi * freq * t / sr) * (3000 + (i * 97) % 20000)
        samples = np.stack([wave] * ch, axis=1).astype(np.int16)
        rows.append(
            {
                "audio_id": audio_id,
                "bytes": M.encode_wav(samples, sr),
                "sample_rate": sr,
                "n_channels": ch,
                "n_samples": n_samples,
                "fmt": "wav",
                "caption": f"caption of {audio_id}",
            }
        )
    return pd.DataFrame(rows)


def make_videos(n: int = 30, seed: int = SEED) -> pd.DataFrame:
    """Video fixture: deterministic moving-gradient frames in the clearly-labeled
    fvid stand-in container (real demuxers need codec libs absent here)."""
    from geojson_utility_spark.functions import media as M

    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        video_id = f"vid_{i:012d}"
        w = int(rng.integers(16, 49))
        h = int(rng.integers(16, 49))
        n_frames = int(rng.integers(5, 40))
        fps = float(rng.choice([10.0, 24.0, 30.0]))
        yy, xx = np.mgrid[0:h, 0:w]
        frames = np.stack(
            [
                np.stack(
                    [
                        (xx * 4 + f * 3 + i) % 256,
                        (yy * 4 + f * 5) % 256,
                        (xx + yy + f * 7) % 256,
                    ],
                    axis=2,
                ).astype(np.uint8)
                for f in range(n_frames)
            ]
        )
        rows.append(
            {
                "video_id": video_id,
                "bytes": M.encode_fvid(frames, fps),
                "w": w,
                "h": h,
                "fps": fps,
                "n_frames": n_frames,
                "fmt": "fvid",
                "caption": f"caption of {video_id}",
            }
        )
    return pd.DataFrame(rows)


GOLDEN_LOCATION_ROWS = [
    # verbatim backend/sample.csv rows 1-2
    ("sample_seller", "sample_provider", "L1", "28.5065162,77.073938", "500.5", ""),
    ("sample_seller", "sample_provider", "L2", "30.7135305,76.7454157", "", "20.5"),
]

NEGATIVE_LOCATION_ROWS = [
    # one per predicate P6-P11 (file-level P2-P5 are exercised separately)
    ("", "prov", "L10", "28.5065,77.0739", "100", ""),          # P6 empty snp_id
    ("a" * 256, "prov", "L11", "28.5065,77.0739", "100", ""),    # P6 >255 chars
    ("bad id!", "prov", "L12", "28.5065,77.0739", "100", ""),    # P6 invalid chars
    ("ok", "prov", "L13", "28.506,77.0739", "100", ""),          # P7 3-decimal lat
    ("ok", "prov", "L14", "95.5065,77.0739", "100", ""),         # P7 out-of-range lat
    ("ok", "prov", "L15", "28.5065", "100", ""),                  # P7 one part
    ("ok", "prov", "L16", "28.5065,77.0739", "", ""),            # P11 both empty
    ("ok", "prov", "L17", "28.5065,77.0739", "abc", ""),         # P11 non-numeric
    ("ok", "prov", "L18", "28.5065,77.0739", "-5", ""),          # P11 negative
    ("ok", "prov", "L19", "28.5065,77.0739", "100001", ""),      # P11 over-bound dist
    ("ok", "prov", "L20", "28.5065,77.0739", "", "10001"),       # P11 over-bound time
    ("ok", "prov", "L21", "28.5065,77.0739", "-1", "15.7"),      # dist invalid -> time used
]


def make_locations(n_extra: int = 50, seed: int = SEED) -> pd.DataFrame:
    """Golden + negative vectors + n_extra deterministic valid rows."""
    rng = np.random.default_rng(seed)
    rows = list(GOLDEN_LOCATION_ROWS) + list(NEGATIVE_LOCATION_ROWS)
    for i in range(n_extra):
        hs = HOTSPOTS[i % len(HOTSPOTS)]
        lat = hs[0] + float(rng.normal(0, 0.3))
        lon = hs[1] + float(rng.normal(0, 0.3))
        use_dist = i % 3 != 0
        rows.append(
            (
                f"seller_{i}.com",
                f"provider{i % 7}",
                f"LX{i}",
                f"{lat:.7f},{lon:.7f}",
                str(int(rng.integers(100, 5000))) if use_dist else "",
                "" if use_dist else str(int(rng.integers(5, 120))),
            )
        )
    return pd.DataFrame(
        rows,
        columns=[
            "snp_id", "provider_id", "location_id",
            "location_gps", "drive_distance", "drive_time",
        ],
    )


def make_neardup_embeddings(
    n: int = 300, dim: int = 32, n_planted: int = 20, seed: int = SEED
) -> pd.DataFrame:
    """(vec_id, embedding list<double>) with planted near-dup PAIRS — the driver
    fixture for the ``cosine_near_dups`` entry (the sf tables have no pair above
    cosine 0.52, so a table-driven near-dup probe would be empty).

    Row n-1-i is a perturbed copy of row i (eps sweeping 0.05..0.9), so the pair
    cosines sweep both sides of the 0.8 entry threshold and the verify filter is
    exercised.  Oracle-margin properties at the entry's LSH family (8 bits x 8
    tables, seed 42), pinned by tests/test_entry.py: min |plane.v| = 1.1e-3 and
    min |pair_cosine - 0.8| = 1.0e-3 — ~12 orders above the BLAS-vs-SQL
    summation-order noise, so the literal-embedded DuckDB oracle is
    deterministic; max bucket size 8 (no hot buckets at any sane cap).
    """
    rng = np.random.default_rng(seed)
    m = rng.normal(size=(n, dim))
    eps = np.linspace(0.05, 0.9, n_planted)
    for i in range(n_planted):
        m[n - 1 - i] = m[i] + eps[i] * rng.normal(size=dim)
    # Pure-Python floats: the driver's session has no Arrow conf, and the
    # non-Arrow createDataFrame fallback cannot infer np.float64-in-list
    # (CANNOT_INFER_TYPE_FOR_FIELD — the round-4 regression).
    return pd.DataFrame(
        {
            "vec_id": np.arange(n),
            "embedding": [[float(x) for x in r] for r in m],
        }
    )


def make_clustered_embeddings(
    n_clusters: int = 5, per_cluster: int = 50, dim: int = 16, seed: int = SEED + 1
) -> pd.DataFrame:
    """(vec_id, embedding list<double>) drawn from well-separated Gaussian
    clusters — the driver fixture for the ``ivf_near_dups`` entry (loose-threshold
    near-dups live WITHIN clusters, the regime IVF blocking is built for).

    Oracle-margin properties at the entry's quantizer (8 lists, n_probe 2,
    seed 42), pinned by tests/test_entry.py: min d2 gap between the 2nd and 3rd
    nearest centroid is 8.9e-2 (probe-set stability) and min |pair_cosine - 0.8|
    is 0.17 — the centroid-literal DuckDB oracle is deterministic; max list size
    100 (never over cap).
    """
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim)) * 5.0
    rows = []
    for c in centers:
        for _ in range(per_cluster):
            rows.append(c + rng.normal(size=dim) * 0.4)
    # Pure-Python floats for non-Arrow createDataFrame inference (see
    # make_neardup_embeddings).
    return pd.DataFrame(
        {
            "vec_id": np.arange(len(rows)),
            "embedding": [[float(x) for x in r] for r in rows],
        }
    )
