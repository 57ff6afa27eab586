"""Imaging codec + fixture-generator tests (input_hint per-row invariants)."""

import numpy as np

from geojson_utility_spark import fixtures as FX
from geojson_utility_spark.functions import imaging as I


def _pattern(w, h, phase=7):
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack(
        [(xx * 3 + phase) % 256, (yy * 5) % 256, (xx + yy) % 256], axis=2
    ).astype(np.uint8)


def test_png_roundtrip_lossless():
    px = _pattern(33, 17)
    out = I.decode_png(I.encode_png(px))
    np.testing.assert_array_equal(out, px)
    assert I.psnr_db(px, out) == float("inf")


def test_png_crc_detects_corruption():
    data = bytearray(I.encode_png(_pattern(8, 8)))
    data[40] ^= 0xFF
    try:
        I.decode_png(bytes(data))
        raise AssertionError("corruption not detected")
    except ValueError:
        pass


def test_fake_jpeg_psnr_gate():
    px = _pattern(64, 48)
    out = I.decode_fake_jpeg(I.encode_fake_jpeg(px))
    p = I.psnr_db(px, out)
    assert p >= 40.0, f"lossy PSNR {p} below input_hint gate"
    assert out.shape == px.shape


def test_unknown_format_raises():
    import pytest

    with pytest.raises(NotImplementedError):
        I.decode_image(b"xx", "webp")


def test_phash_properties():
    px = _pattern(32, 32)
    h1 = I.phash64(px)
    assert h1 == I.phash64(px)
    # similar image -> small hamming distance (inline 64-bit popcount)
    noisy = np.clip(px.astype(int) + 1, 0, 255).astype(np.uint8)
    d_same = bin((h1 ^ I.phash64(noisy)) & (2**64 - 1)).count("1")
    assert d_same <= 8


def test_images_fixture_invariants():
    df = FX.make_images(40)
    assert list(df.columns) == ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    for _, row in df.iterrows():
        px = I.decode_image(row["bytes"], row["fmt"])
        assert px.shape == (row["h"], row["w"], 3)
        assert row["caption"] == f"caption of {row['image_id']}"
        # re-encode determinism
        assert I.encode_image(px if row["fmt"] == "png" else px, row["fmt"])
    # deterministic across calls
    df2 = FX.make_images(40)
    assert df.drop(columns=["bytes"]).equals(df2.drop(columns=["bytes"]))
    assert all(a == b for a, b in zip(df["bytes"], df2["bytes"]))


def test_image_points_deterministic_and_skewed():
    ids = [f"img_{i:012d}" for i in range(2000)]
    pts = FX.image_point(ids)
    pts2 = FX.image_point(ids)
    assert pts.equals(pts2)
    assert pts["lat"].between(-90, 90).all()
    assert pts["lon"].between(-180, 180).all()
    # skew: a nontrivial share lands within 0.5 deg of Delhi hotspot
    near_delhi = (
        (pts["lat"] - 28.6139).abs().lt(0.5) & (pts["lon"] - 77.2090).abs().lt(0.5)
    ).mean()
    assert near_delhi > 0.15


def test_polygons_fixture():
    import json

    from geojson_utility_spark.functions import geometry as G

    df = FX.make_polygons()
    assert len(df) == 40
    n_invalid = 0
    n_cw = 0
    for _, row in df.iterrows():
        ring = G.extract_outer_ring(row["geojson"])
        errs = G.validate_ring(ring)
        if errs:
            n_invalid += 1
        elif G.signed_area(np.asarray(ring)) < 0:
            n_cw += 1
        doc = json.loads(row["geojson"])
        assert doc["features"][0]["properties"] == {}
    assert n_invalid >= 1  # the bow-tie
    assert n_cw >= 1  # CW rings for the normalizer to fix


def test_locations_fixture_has_goldens():
    df = FX.make_locations()
    assert df.iloc[0]["location_gps"] == "28.5065162,77.073938"
    assert df.iloc[1]["drive_time"] == "20.5"
    assert len(df) == len(FX.GOLDEN_LOCATION_ROWS) + len(FX.NEGATIVE_LOCATION_ROWS) + 50


def test_png_all_filter_types_roundtrip():
    """decode_png must invert every standard scanline filter (spec §6): forward-filter
    a known image per type, wrap as PNG, decode, require exact pixels."""
    import struct
    import zlib

    import numpy as np

    from geojson_utility_spark.functions import imaging as I

    rng = np.random.default_rng(3)
    h, w = 40, 53
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    bpp = 3

    def forward(ftype, cur, prev):
        cur = cur.astype(np.int32)
        prev = prev.astype(np.int32)
        out = np.empty_like(cur)
        for i in range(len(cur)):
            a = cur[i - bpp] if i >= bpp else 0  # RECON left (unfiltered source)
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out[i] = (cur[i] - pred) & 0xFF
        return out.astype(np.uint8)

    flat = px.reshape(h, w * bpp)
    for ftype in range(5):
        raw = bytearray()
        prev = np.zeros(w * bpp, dtype=np.uint8)
        for r in range(h):
            raw.append(ftype)
            raw.extend(forward(ftype, flat[r], prev).tobytes())
            prev = flat[r]
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        png = (
            I._PNG_SIG
            + I._chunk(b"IHDR", ihdr)
            + I._chunk(b"IDAT", zlib.compress(bytes(raw), 6))
            + I._chunk(b"IEND", b"")
        )
        got = I.decode_png(png)
        assert (got == px).all(), f"filter type {ftype} roundtrip failed"
