"""Property-based tests (hypothesis) for the pure kernels — adversarial inputs the
fixture corpus can't cover: random rings/points for PIP, random filter mixes for the
PNG codec, random hash sets for the pigeonhole guarantees, printf-parity rounding.

Kernels only (no SparkSession): these properties hold per element, so exercising the
numpy functions IS exercising what every executor runs inside the Arrow batches.
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from geojson_utility_spark.functions import imaging as I
from geojson_utility_spark.functions import media as M
from geojson_utility_spark.functions import pip as P

pytestmark = pytest.mark.filterwarnings("error::RuntimeWarning")


@st.composite
def convex_polygons(draw):
    """Random convex polygon: sorted angles around a center -> strictly convex ring."""
    n = draw(st.integers(min_value=3, max_value=12))
    cx = draw(st.floats(min_value=-170, max_value=170))
    cy = draw(st.floats(min_value=-80, max_value=80))
    angles = sorted(
        draw(
            st.lists(
                st.floats(min_value=0, max_value=2 * np.pi - 1e-6),
                min_size=n, max_size=n, unique=True,
            )
        )
    )
    radii = draw(
        st.lists(
            st.floats(min_value=0.1, max_value=5.0), min_size=n, max_size=n
        )
    )
    ring = np.array(
        [
            [cx + r * np.cos(a), cy + r * np.sin(a)]
            for a, r in zip(angles, radii)
        ]
    )
    return ring


@given(convex_polygons(), st.integers(min_value=0, max_value=2**32 - 1))
@settings(max_examples=60, deadline=None)
def test_pip_matches_halfplane_on_convex(ring, seed):
    """Ray-cast PIP == half-plane conjunction for convex CCW polygons (the same
    equivalence the spatial_join_convex oracle relies on)."""
    from geojson_utility_spark.functions.geometry import normalize_winding, signed_area

    if abs(signed_area(np.vstack([ring, ring[:1]]))) < 1e-9:
        return  # degenerate (collinear) draw
    ring = normalize_winding(ring, ccw=True)
    closed = np.vstack([ring, ring[:1]])
    rng = np.random.default_rng(seed)
    lo = closed.min(axis=0) - 1.0
    hi = closed.max(axis=0) + 1.0
    px = rng.uniform(lo[0], hi[0], size=200)
    py = rng.uniform(lo[1], hi[1], size=200)
    got = P.points_in_ring(px, py, closed, boundary="include")
    # half-plane test: inside iff left-of-or-on every CCW edge
    want = np.ones(px.shape, dtype=bool)
    for (x1, y1), (x2, y2) in zip(closed[:-1], closed[1:]):
        cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
        want &= cross >= -1e-9
    # allow disagreement only within float noise of an edge (|cross| tiny)
    margin = np.ones(px.shape, dtype=bool)
    for (x1, y1), (x2, y2) in zip(closed[:-1], closed[1:]):
        cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
        scale = max(abs(x2 - x1) + abs(y2 - y1), 1e-12)
        margin &= np.abs(cross) > 1e-9 * scale
    disagree = (got != want) & margin
    assert not disagree.any()


@given(
    st.integers(min_value=2, max_value=24),
    st.integers(min_value=2, max_value=24),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=40, deadline=None)
def test_png_roundtrip_random_filter_rows(w, h, seed):
    """PNG decode inverts a stream whose rows use RANDOM filter types (real encoders
    mix types per row; fixtures use one type per image)."""
    import struct
    import zlib

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    bpp = 3
    flat = px.reshape(h, w * bpp)
    raw = bytearray()
    prev = np.zeros(w * bpp, dtype=np.int32)
    for r in range(h):
        ftype = int(rng.integers(0, 5))
        cur = flat[r].astype(np.int32)
        out = np.empty_like(cur)
        for i in range(len(cur)):
            a = cur[i - bpp] if i >= bpp else 0
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
        raw.append(ftype)
        raw.extend(out.astype(np.uint8).tobytes())
        prev = flat[r].astype(np.int32)
    png = (
        I._PNG_SIG
        + I._chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + I._chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + I._chunk(b"IEND", b"")
    )
    assert (I.decode_png(png) == px).all()


@given(
    st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1),
             min_size=2, max_size=40, unique=True),
    st.integers(min_value=0, max_value=6),
)
@settings(max_examples=60, deadline=None)
def test_pigeonhole_chunk_cover(hashes, d):
    """The chunk decompositions behind hamming_pairs: any pair within distance d
    shares >= n_chunks - d exact chunks (n_chunks = d + 2), and some chunk has
    <= floor(d/c) errors for the probed scheme — verified directly on random data."""
    from geojson_utility_spark.operators.dedup import _chunk_bounds

    n_chunks = d + 2
    bounds = _chunk_bounds(64, n_chunks)
    for i in range(len(hashes)):
        for j in range(i + 1, len(hashes)):
            x = (hashes[i] ^ hashes[j]) & (2**64 - 1)
            if bin(x).count("1") > d:
                continue
            shared = sum(
                1 for off, w_ in bounds if (x >> off) & ((1 << w_) - 1) == 0
            )
            assert shared >= n_chunks - d
            # probed scheme: c = ceil((d+2)/2) wide chunks, some chunk <= 1 error
            c = max(2, (d + 2) // 2)
            wide = _chunk_bounds(64, c)
            best = min(
                bin((x >> off) & ((1 << w_) - 1)).count("1") for off, w_ in wide
            )
            assert best * c <= d or best <= d // c + (1 if d % c else 0)


@given(st.floats(min_value=-200, max_value=200,
                 allow_nan=False, allow_infinity=False))
@settings(max_examples=200, deadline=None)
def test_round4_matches_python_format(v):
    """np.char.mod('%.4f') == float(f'{v:.4f}') — the parity claim behind round4_udf
    and the DuckDB printf oracle — for arbitrary doubles in the GPS range."""
    got = float(np.char.mod("%.4f", np.array([v], dtype=np.float64))[0])
    want = float(f"{v:.4f}")
    assert got == want


@given(
    st.integers(min_value=1, max_value=2000),
    st.integers(min_value=1, max_value=2),
    st.sampled_from([8000, 16000, 44100]),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=40, deadline=None)
def test_wav_roundtrip_property(n, ch, sr, seed):
    rng = np.random.default_rng(seed)
    s = rng.integers(-32768, 32767, size=(n, ch), dtype=np.int16)
    out, sr2 = M.decode_wav(M.encode_wav(s, sr))
    assert sr2 == sr and np.array_equal(out, s)


@given(st.integers(0, 10_000), st.integers(1, 3))
@settings(max_examples=25, deadline=None)
def test_holed_pip_even_odd_property(seed, n_holes):
    """points_in_polygon with interior rings == (inside outer, boundary-incl)
    minus (strictly inside any hole) — random rectangle outer + random disjoint
    rectangle holes, random + planted-on-edge points."""
    rng = np.random.default_rng(seed)

    def rect(x0, y0, x1, y1):
        return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], float)

    outer = rect(0.0, 0.0, 10.0, 8.0)
    holes = []
    for i in range(n_holes):
        x0 = 0.5 + 3.0 * i + rng.uniform(0, 0.5)
        y0 = rng.uniform(0.5, 3.0)
        holes.append(rect(x0, y0, x0 + rng.uniform(0.5, 2.0), y0 + rng.uniform(0.5, 3.5)))
    px = np.concatenate([rng.uniform(-1, 11, 300), [holes[0][0, 0]], [5.0]])
    py = np.concatenate([rng.uniform(-1, 9, 300), [(holes[0][0, 1] + holes[0][2, 1]) / 2], [0.0]])
    got = P.points_in_polygon(px, py, [outer] + holes)
    in_outer = P.points_in_ring(px, py, outer, boundary="include")
    strict_hole = np.zeros_like(in_outer)
    for h in holes:
        strict_hole |= P.points_in_ring(px, py, h, boundary="exclude")
    want = in_outer & ~strict_hole
    assert (got == want).all()
    # planted: on-hole-edge point stays inside; on-outer-edge point stays inside
    assert got[-2] and got[-1]
