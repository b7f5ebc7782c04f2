"""Golden-vector tests for the cell kernels (VERDICT r1 "Next round" #4).

Three tiers of evidence, strongest first:

1. PUBLISHED CONSTANTS — the S2 Hilbert tables (kPosToIJ / kIJtoPos /
   kPosToOrientation from s2geometry's s2coords.cc, public) and the quadratic
   ST↔UV projection values are pinned as literals. A transposed lookup
   constant — the failure mode VERDICT r1 called out — fails here.
2. SPEC-FORCED IDS — cell ids that the published S2CellId layout forces
   regardless of implementation details: FromFace ids ((2f+1)<<60), and the
   Hilbert curve's first/last cells per face (curve position 0 at the
   st=(0,0) corner; all-digit-2 positions at the st=(1,1) corner, which holds
   for both start orientations because POS_TO_IJ[0][2]=3, POS_TO_IJ[1][2]=3
   and POS_TO_ORIENTATION[2]=0).
3. REGRESSION VECTORS — absolute (lat7, lon7, level)→id pins computed by this
   implementation. No independent S2 library is installed to diff against,
   so these pin today's behavior against silent refactor drift. (H3 ids are
   pinned against Uber H3's published vectors in tests/test_h3real.py.)
"""

from __future__ import annotations

import numpy as np
import pytest

from osmgraft.functions.s2 import (
    _POS_TO_IJ,
    _POS_TO_ORIENT,
    s2_cell_id,
    st_to_uv,
    uv_to_st,
)


def _s64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


# --- tier 1: published constants ---------------------------------------------
def test_s2_hilbert_tables_match_s2geometry():
    """s2coords.cc literals (public): kPosToIJ, its inverse kIJtoPos, and
    kPosToOrientation = {kSwapMask, 0, 0, kSwapMask|kInvertMask}."""
    k_pos_to_ij = [[0, 1, 3, 2], [0, 2, 3, 1], [3, 2, 0, 1], [3, 1, 0, 2]]
    k_ij_to_pos = [[0, 1, 3, 2], [0, 3, 1, 2], [2, 3, 1, 0], [2, 1, 3, 0]]
    assert _POS_TO_IJ.tolist() == k_pos_to_ij
    inv = np.zeros_like(_POS_TO_IJ)
    for o in range(4):
        inv[o, _POS_TO_IJ[o]] = np.arange(4)
    assert inv.tolist() == k_ij_to_pos
    assert _POS_TO_ORIENT.tolist() == [1, 0, 0, 3]


def test_s2_quadratic_projection_goldens():
    """STtoUV/UVtoST golden values forced by the published quadratic formulas
    (s2coords.h S2_QUADRATIC_PROJECTION)."""
    s = np.array([0.0, 0.25, 0.5, 0.75, 1.0])
    # u = (1/3)(4s²-1) for s ≥ 1/2 else -(1/3)(1-4(1-s)²); at s=3/4: 5/12
    want_u = np.array([-1.0, -5.0 / 12.0, 0.0, 5.0 / 12.0, 1.0])
    assert np.allclose(st_to_uv(s), want_u, atol=1e-15)
    assert np.allclose(uv_to_st(want_u), s, atol=1e-15)
    rnd = np.random.Generator(np.random.Philox(key=5)).uniform(-1, 1, 1000)
    assert np.allclose(st_to_uv(uv_to_st(rnd)), rnd, atol=1e-12)


# --- tier 2: spec-forced ids -------------------------------------------------
_FACE_CENTERS_LL7 = [
    (0, 0),  # +x → face 0
    (0, 900000000),  # +y → face 1
    (900000000, 0),  # +z → face 2
    (0, 1800000000),  # -x → face 3
    (0, -900000000),  # -y → face 4
    (-900000000, 0),  # -z → face 5
]


def test_s2_from_face_ids():
    """Level-0 id of every face-center point = S2CellId::FromFace(f) =
    (2f+1) << 60 — forced by the published 3-bit-face + trailing-1 layout."""
    la = np.array([c[0] for c in _FACE_CENTERS_LL7])
    lo = np.array([c[1] for c in _FACE_CENTERS_LL7])
    got = list(map(int, s2_cell_id(la, lo, 0)))
    assert got == [_s64((2 * f + 1) << 60) for f in range(6)]


def _face_uv_to_latlon7(face: int, u: float, v: float) -> tuple[int, int]:
    """Published FaceUVtoXYZ table (s2coords.h)."""
    x, y, z = {
        0: (1.0, u, v),
        1: (-u, 1.0, v),
        2: (-u, -v, 1.0),
        3: (-1.0, -v, -u),
        4: (v, -1.0, -u),
        5: (v, u, -1.0),
    }[face]
    n = np.sqrt(x * x + y * y + z * z)
    lat = np.degrees(np.arcsin(z / n))
    lon = np.degrees(np.arctan2(y, x))
    return int(round(lat * 1e7)), int(round(lon * 1e7))


@pytest.mark.parametrize("face", range(6))
def test_s2_hilbert_curve_corner_cells(face):
    """On every face, the st=(0,0) corner is curve position 0 and the
    st=(1,1) corner walks digit 2 at every level — forced by the published
    orientation tables for both start orientations. Checked at level 5."""
    level, lsb = 5, 1 << 50
    la, lo = _face_uv_to_latlon7(face, float(st_to_uv(np.array([0.01]))[0]), float(st_to_uv(np.array([0.01]))[0]))
    first = int(s2_cell_id(np.array([la]), np.array([lo]), level)[0])
    assert first == _s64((face << 61) | lsb)
    la, lo = _face_uv_to_latlon7(face, float(st_to_uv(np.array([0.99]))[0]), float(st_to_uv(np.array([0.99]))[0]))
    last = int(s2_cell_id(np.array([la]), np.array([lo]), level)[0])
    pos = int("22222", 4)  # digit 2 at each of 5 levels
    assert last == _s64((face << 61) | (pos << 51) | lsb)


# --- tier 3: regression vectors ----------------------------------------------
_PTS_LL7 = [
    (377749000, -1224194000),  # San Francisco
    (407128000, -740060000),  # New York
    (-338688000, 1512093000),  # Sydney
    (515074000, -1278000),  # London
    (12900000, 778000000),  # Indian Ocean
    (-620000000, -585000000),  # Southern Ocean
    (0, 0),
    (375000000, 1388000000),
    (-900000000, 0),  # south pole
    (655000000, -190000000),
]

_S2_L13 = [
    -9185794457449005056, -8520148434366234624, 7715420684360351744,
    5221366092202508288, 4264538294521430016, -4867387291531739136,
    1152921521786716160, 6914620252449931264, -5764607505854365696,
    5247536839765524480,
]
_S2_L30 = [
    -9185794446467429279, -8520148442738587287, 7715420701375135829,
    5221366101706051497, 4264538289768623221, -4867387293726287023,
    1152921504606846977, 6914620258518467607, -5764607523034234879,
    5247536845341870827,
]

def test_s2_regression_vectors():
    la = np.array([p[0] for p in _PTS_LL7])
    lo = np.array([p[1] for p in _PTS_LL7])
    assert list(map(int, s2_cell_id(la, lo, 13))) == _S2_L13
    assert list(map(int, s2_cell_id(la, lo, 30))) == _S2_L30
    # l13 ids are the l30 ancestors: same high bits, correct lsb
    for a, b in zip(_S2_L13, _S2_L30):
        lsb = 1 << (2 * (30 - 13))
        assert a == _s64(((b & ~(2 * lsb - 1)) | lsb) & ((1 << 64) - 1))

