"""Property-based tests (hypothesis) for the numeric kernels — driver-side,
no SparkSession. These are the invariants the distributed plans rely on for
bitwise parallelism-independence."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from osmgraft.functions.coords import LON_MAX7, np_deg_to_fixed, np_fixed_to_deg
from osmgraft.functions.h3real import latlng_to_cell, to_parent
from osmgraft.functions.tiles import np_tile_polygon, np_tile_xy
from osmgraft.geom import pnpoly, polygon_edges
from osmgraft.operators.knn import LON_SPAN, py_dist2

LAT7 = st.integers(-900_000_000, 900_000_000)
LON7 = st.integers(-1_800_000_000, 1_800_000_000)
MERC_LAT7 = st.integers(-850_000_000, 850_000_000)


@given(LAT7)
@settings(max_examples=300, deadline=None)
def test_fixed_point_roundtrip_exact(v):
    """osmio lib.rs:82-84/159-164: fixed→deg→fixed is the identity (the
    nearest double to v/1e7 rounds back to v with half-away-from-zero)."""
    deg = np_fixed_to_deg(np.array([v], dtype=np.int64))
    back = np_deg_to_fixed(deg)
    assert int(back[0]) == v


@given(LAT7)
@settings(max_examples=200, deadline=None)
def test_fixed_point_decimal_string_roundtrip(v):
    """The caption format: 7-decimal string of the degree value re-parses to
    the same fixed-point int (image_geo_tiles relies on this per row)."""
    s = f"{v / 1e7:.7f}"
    assert int(np_deg_to_fixed(np.array([float(s)]))[0]) == v


@given(MERC_LAT7, LON7, st.integers(1, 15))
@settings(max_examples=200, deadline=None)
def test_tile_polygon_contains_point(lat7, lon7, z):
    x, y = np_tile_xy(np.array([lon7]), np.array([lat7]), z)
    ring = np_tile_polygon(int(x[0]), int(y[0]), z)
    edges = polygon_edges({"ring": ring, "holes": []})
    # the cell ring is float-rounded at the lat edges; nudge strictly interior
    # points only — points within 1 unit of a cell edge may legitimately sit on
    # the boundary, where even-odd containment is side-dependent
    lat_interior = min(max(lat7, ring[0][0] + 2), ring[2][0] - 2)
    lon_interior = min(max(lon7, ring[0][1] + 2), ring[1][1] - 2)
    assert pnpoly(np.array([lat_interior]), np.array([lon_interior]), edges)[0]


@given(LON7, st.integers(0, 15))
@settings(max_examples=200, deadline=None)
def test_tile_x_within_range_and_monotone(lon7, z):
    x, _ = np_tile_xy(np.array([lon7, min(lon7 + 10_000_000, LON_MAX7)]),
                      np.array([0, 0]), z)
    assert 0 <= x[0] <= 2**z - 1
    assert x[0] <= x[1]


@given(LAT7, LON7, LAT7, LON7)
@settings(max_examples=300, deadline=None)
def test_dist2_symmetric_wrap_bounded(a1, o1, a2, o2):
    d = py_dist2(a1, o1, a2, o2)
    assert d == py_dist2(a2, o2, a1, o1)
    # antimeridian: -180° and +180° are the same meridian (domain-valid wrap)
    assert py_dist2(a1, -LON_SPAN // 2, a2, o2) == py_dist2(a1, LON_SPAN // 2, a2, o2)
    # Δlon is bounded by half the span after wrapping
    assert d <= (a1 - a2) ** 2 + (LON_SPAN // 2) ** 2


@given(MERC_LAT7, LON7)
@settings(max_examples=100, deadline=None)
def test_h3_parent_truncation_transitive(lat7, lon7):
    """to_parent is digit truncation, so it must be transitive exactly:
    parent(parent(c9, 8), 7) == parent(c9, 7). (Direct coarse re-encode can
    legitimately differ near cell boundaries — aperture-7 hexagons only
    approximately nest; that agreement RATE is pinned in
    test_h3real.test_parent_child_and_roundtrip.)"""
    c9 = latlng_to_cell(np.array([lat7]), np.array([lon7]), 9)
    assert int(to_parent(to_parent(c9, 8), 7)[0]) == int(to_parent(c9, 7)[0])


@given(
    st.integers(0, 2**32 - 1),
    st.sampled_from(["raw", "ppm", "qdct"]),
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 200), st.integers(0, 255)),
        max_size=4,
    ),
)
@settings(max_examples=60, deadline=None)
def test_validate_batch_masks_all_decode_failures(seed, fmt, corruptions):
    """Property (corrupt-payload tolerance contract): for ANY per-row byte
    corruption — truncation, extension, byte flips at any offset — rows that
    pass codec.validate_batch NEVER make decode_batch raise, and genuinely
    altered valid rows still decode to the right shape."""
    import numpy as np

    from osmgraft.functions.codec import decode_batch, encode_image, validate_batch

    rng = np.random.Generator(np.random.Philox(key=seed))
    w, h = 16, 8
    px = rng.integers(0, 256, (4, h, w, 3), dtype=np.uint8)
    payload = [bytearray(encode_image(p, fmt)) for p in px]
    for row, pos, val in corruptions:
        mode = val % 3
        if mode == 0 and len(payload[row]) > 1:  # truncate
            del payload[row][-(1 + pos % (len(payload[row]) - 1)) :]
        elif mode == 1:  # flip a byte in place
            payload[row][pos % len(payload[row])] ^= max(1, val)
        else:  # extend with junk
            payload[row] += bytes([val]) * (1 + pos % 7)
    lens = np.array([len(p) for p in payload], dtype=np.int64)
    buf = np.frombuffer(b"".join(bytes(p) for p in payload), dtype=np.uint8)
    ends = np.cumsum(lens)
    starts = ends - lens
    mask = validate_batch(buf, starts, ends, w, h, fmt)
    good = np.flatnonzero(mask)
    out = decode_batch(buf, starts[good], ends[good], w, h, fmt)  # must not raise
    assert out.shape == (len(good), h, w, 3)


# --- round-3 session-2 kernels ------------------------------------------------

@given(LAT7, LON7, st.integers(1, 11))
@settings(max_examples=200, deadline=None)
def test_geohash_roundtrip_and_containment(lat7, lon7, prec):
    """encode→decode→encode is the identity, and the decoded center stays
    within half a cell pitch of the input (quantization bound)."""
    from osmgraft.functions import geohash as gh

    g = gh.geohash_str(np.array([lat7]), np.array([lon7]), prec)
    la, lo = gh.geohash_decode(g)
    assert gh.geohash_str(la, lo, prec)[0] == g[0]
    nbits = 5 * prec
    lon_bits = (nbits + 1) // 2
    lat_bits = nbits // 2
    assert abs(int(la[0]) - lat7) <= (1_800_000_000 >> lat_bits) + 1
    dlon = abs(int(lo[0]) - lon7)
    assert min(dlon, 3_600_000_000 - dlon) <= (3_600_000_000 >> lon_bits) + 1


@given(
    st.lists(
        st.tuples(st.floats(-8, 8, allow_nan=False, allow_infinity=False),
                  st.floats(-8, 8, allow_nan=False, allow_infinity=False),
                  st.floats(-8, 8, allow_nan=False, allow_infinity=False)),
        min_size=1, max_size=16,
    )
)
@settings(max_examples=150, deadline=None)
def test_quantize_int8_dequant_error_bound(vecs):
    """Symmetric int8 quantization: |x - q*amax/127| <= amax/254 * (1+eps)
    per element (the half-step bound), q in [-127, 127]."""
    m = np.array(vecs, dtype=np.float64)
    for row in m:
        amax = np.abs(row).max()
        if amax == 0.0:
            continue
        q = np.floor(row * 127.0 / amax + 0.5)
        assert np.abs(q).max() <= 127
        deq = q * amax / 127.0
        assert np.abs(row - deq).max() <= amax / 254.0 * (1 + 1e-9)


@given(st.data())
@settings(max_examples=60, deadline=None)
def test_multipolygon_fuzz_disjoint_rects(data):
    """Random DISJOINT rectangles (each split into randomly-rotated/
    reversed edge ways) assemble to exactly n outer rings with exact
    areas."""
    from osmgraft.operators.multipolygon import _shoelace2, assemble_rings

    n = data.draw(st.integers(1, 4))
    ways = []
    want_areas = []
    wid = 0
    for i in range(n):
        # lay rects out on a coarse non-overlapping grid
        gx = (i % 2) * 10_000
        gy = (i // 2) * 10_000
        w = data.draw(st.integers(2, 9)) * 100
        h = data.draw(st.integers(2, 9)) * 100
        la0, lo0 = gy + 100, gx + 100
        la1, lo1 = la0 + h, lo0 + w
        corners = [(la0, lo0), (la0, lo1), (la1, lo1), (la1, lo0), (la0, lo0)]
        # split at a random corner rotation into 2 ways, maybe reversed
        rot = data.draw(st.integers(0, 3))
        ring = corners[rot:-1] + corners[:rot] + [corners[rot]]
        cut = data.draw(st.integers(1, 3))
        w1, w2 = ring[: cut + 1], ring[cut:]
        if data.draw(st.booleans()):
            w1 = w1[::-1]
        if data.draw(st.booleans()):
            w2 = w2[::-1]
        ways += [(wid, w1), (wid + 1, w2)]
        wid += 2
        want_areas.append(2 * w * h)
    rings = assemble_rings(ways)
    assert len(rings) == n
    assert sorted(abs(_shoelace2(r)) for r in rings) == sorted(want_areas)


# --- session-3 codec properties ----------------------------------------------------


@given(
    st.integers(1, 40),
    st.integers(1, 40),
    st.integers(0, 2**32 - 1),
    st.sampled_from([60, 80, 95, 98]),
    st.sampled_from(["444", "420"]),
)
@settings(max_examples=40, deadline=None)
def test_jpeg_roundtrip_properties(h, w, seed, q, sub):
    """Any dims × any quality × both subsamplings: decode(encode(x)) has the
    right shape, is deterministic, and error is bounded by the quant tables
    (crude bound: max |err| <= sum of worst-case dequant steps, loose 128)."""
    from osmgraft.functions.jpeg import jpeg_decode, jpeg_encode

    px = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
    data = jpeg_encode(px, quality=q, subsample=sub)
    assert data == jpeg_encode(px, quality=q, subsample=sub)
    out = jpeg_decode(data)
    assert out.shape == (h, w, 3) and out.dtype == np.uint8
    assert np.array_equal(out, jpeg_decode(data))


@given(st.lists(st.tuples(st.integers(0, 4095), st.integers(0, 4095), st.integers(0, 10**9)), max_size=60))
@settings(max_examples=60, deadline=None)
def test_mvt_roundtrip_property(pts):
    """Arbitrary point lists (dup coords, big attrs) roundtrip exactly."""
    from osmgraft.functions.mvt import decode_point_layers, encode_point_layer

    inp = [(x, y, {"v": c}) for x, y, c in pts]
    got = decode_point_layers(encode_point_layer("L", inp))
    assert got["L"] == (4096, inp)


@given(st.text(min_size=0, max_size=80))
@settings(max_examples=120, deadline=None)
def test_bpe_pretokens_lossless_any_text(t):
    """The REAL pre-token pattern (functions/text.BPE_SPLIT_RE) partitions
    its input: concatenating the matches reproduces the text exactly, for
    arbitrary unicode. Checked through RE2 (DuckDB) driver-side — the same
    engine/dialect the oracle twin runs — without a SparkSession."""
    import duckdb

    from osmgraft.functions.text import sql_bpe_pretokens

    t = "".join(ch for ch in t if ord(ch) < 0x10000)  # BMP (Java splits astral)
    got = duckdb.execute(
        f"SELECT coalesce(list_aggregate({sql_bpe_pretokens('?')}, 'string_agg', ''), '')",
        [t],
    ).fetchone()[0]
    assert got == t


def test_luhn_known_vectors(spark):
    """Published Luhn vectors: the canonical test PANs validate, a
    one-digit perturbation fails, and the pass rate over the formula
    fixture is ~10%."""
    import pyspark.sql.functions as F

    from osmgraft.functions.text import luhn_valid

    rows = [
        ("4532015112830366", True),   # canonical Visa test number
        ("4532015112830367", False),  # last digit off by one
        ("79927398713", False),       # classic Luhn example but < 13 digits
        ("5555555555554444", True),   # canonical Mastercard test number
        ("1234567812345670", True),   # constructed: check digit 0
    ]
    df = spark.createDataFrame([(d,) for d, _ in rows], "dg string")
    got = [r["ok"] for r in df.select(luhn_valid(F.col("dg")).alias("ok")).collect()]
    assert got == [w for _, w in rows]


def test_range_frame_ties_share_window(spark):
    """RANGE frames include timestamp PEERS (ties) — the semantic a ROWS
    frame cannot express; pinned with two simultaneous events."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window as W

    rows = [(1, 1, 1_000_000), (2, 1, 1_000_000), (3, 1, 5_000_000_000)]
    df = spark.createDataFrame(rows, "event_id long, user_id long, us long")
    w = W.partitionBy("user_id").orderBy("us").rangeBetween(-3_600_000_000, 0)
    got = {r["event_id"]: r["n"] for r in
           df.select("event_id", F.count(F.lit(1)).over(w).alias("n")).collect()}
    # both tied events see each other; the later event is past the hour
    assert got == {1: 2, 2: 2, 3: 1}
