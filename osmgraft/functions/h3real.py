"""Uber-H3-compatible cell index (latLngToCell, res 0-15) from scratch.

This module produces cell ids BIT-IDENTICAL to Uber H3's ``latLngToCell`` —
a user can join them against externally-produced H3 data; it is the
engine's one H3 implementation (the north rule names "H3 res-7/-9").

Everything here derives from PUBLIC knowledge:

* The algorithm is H3's published one (h3geo.org docs; h3 C library,
  Apache-2.0: faceijk.c ``_geoToHex2d``/``_hex2dToCoordIJK``, coordijk.c
  ``_upAp7``/``_upAp7r``, h3Index.c ``_faceIjkToH3``): gnomonic projection
  onto the nearest icosahedron face, hex rounding on the aperture-7 Class
  II/III lattice, integer parent-chain digit extraction, base-cell lookup,
  and canonical digit rotation (pentagons use the K-axis-skipping rotation
  plus the cw-offset leading-K fixup).
* ``_FACE_CENTER_GEO`` / ``_FACE_AZ0`` are H3's published face constants
  (faceijk.c).  They self-verify: the 20 centers form an exact icosahedron
  (pairwise-dot spectrum {±1, ±√5/3, ±1/3} to 1e-15) and each azimuth snaps
  to a derived vertex azimuth to 1e-15 — corruption would be detected.
* ``_BASE``/``_ROT``/``_PENT_CELLS``/``_CW_OFFSET``/``_HOME`` (the
  faceIjkBaseCells / baseCellData content) were RE-DERIVED geometrically by
  ``tools/h3_table_builder.py`` rather than copied: base cells enumerated as
  the 122 res-0 lattice sites (80 face-interior + 30 edge-midpoint + 12
  vertex pentagons), numbered by descending latitude, homes assigned by the
  (1,1,0)-slot / (2,0,0)-corner rules, per-slot rotations fitted by
  cross-face digit-consistency + replay-distance + zero-collision search.

Validation (tests/test_h3real.py, all from public H3 docs/tests):
  * latLngToCell vectors: SF res 9 -> 0x8928308280fffff, Cupertino res 5 ->
    0x85283473fffffff, Paris res 9 -> 0x891fb466257ffff (exercises a
    non-zero base-cell rotation), (0,0) res 0 -> 0x8075fffffffffff.
  * cellToLatLng twins: centers of 8928308280fffff / 85283473fffffff match
    the published coordinates to ~1e-9 deg.
  * Pentagon base cells == {4,14,24,38,49,58,63,72,83,97,107,117}.
  * Exact global cell counts 122/842/5882/41162 at res 0-3 with zero
    spatial-collision groups (3M-point sweep in the table builder; a smaller
    sweep in pytest).
  * faceIjkBaseCells face-0 golden block (27 entries incl. rotations).

Decode is exact everywhere since round 3: ``cell_to_latlng`` applies H3's
cross-face overage hop (faceijk.c _adjustOverageClassII mechanics, Class III
via the res+1 substrate, pentagon leading-5 index rotation and leading-4
vertex fixup) with a face-orientation table RE-DERIVED empirically from the
validated encoder (tools/h3_face_neighbors.py — unique-lattice-isometry fit,
60/60 entries unambiguous over 55k overage samples).  Evidence:
re-encoding every cell center returns its cell for the full global cell set
at res 0-5 and 200k-point sweeps at res 6-13, pentagons included; published
center vectors match to 1e-9 deg.

All kernels are numpy-vectorized int64/float64 — no per-row Python
(input_hint contract).  Pure functions of the inputs: bitwise-identical at
any partitioning/parallelism.
"""

from __future__ import annotations

import numpy as np

from osmgraft.functions.coords import LON_SPAN

MAX_RES = 15
_SQRT7 = 2.6457513110645905905016157536393
_RES0_U_GNOMONIC = 0.38196601125010500003  # 1/phi^2 (H3 constants)
_AP7_ROT = 0.3334731722518321  # asin(sqrt(3/28)): Class III lattice twist
_SIN60 = np.sqrt(3.0) / 2.0

# H3 faceijk.c faceCenterGeo (lat, lng radians) — published data
_FACE_CENTER_GEO = np.array([
    [0.803582649718989942, 1.248397419617396099],
    [1.307747883455638156, 2.536945009877921159],
    [1.054751253523952054, -1.347517358900396623],
    [0.600191595538186799, -0.450603909469755746],
    [0.491715428198773866, 0.401988202911306943],
    [0.172745327415618701, 1.678146885280433686],
    [0.605929321571350690, 2.953923329812411617],
    [0.427370518328979641, -1.888876200336285401],
    [-0.079066118549212831, -0.733429513380867741],
    [-0.230961644455383637, 0.506495587332349035],
    [0.079066118549212831, 2.408163140208925497],
    [0.230961644455383637, -2.635097066257444203],
    [-0.172745327415618701, -1.463445768309359553],
    [-0.605929321571350690, -0.187669323777381622],
    [-0.427370518328979641, 1.252716453253507838],
    [-0.600191595538186799, 2.690988744120037492],
    [-0.491715428198773866, -2.739604450678486295],
    [-0.803582649718989942, -1.893195233972397139],
    [-1.307747883455638156, -0.604647643711872080],
    [-1.054751253523952054, 1.794075294689396615],
])
# H3 faceijk.c faceAxesAzRadsCII[..][0] — azimuth of each face's CII i-axis
_FACE_AZ0 = np.array([
    5.619958268523939882, 5.760339081714187279, 0.780213654393430055,
    0.430469363979999913, 6.130269123335111400, 2.692877706530642877,
    2.982963003477243874, 3.532912002790141181, 3.494305004259568154,
    3.003214169499538391, 5.930472956509811562, 0.138378484090254847,
    0.448714947059150361, 0.158629650112549365, 5.891865957979238535,
    2.711123289609793325, 3.294508837434268316, 3.804819692245439833,
    3.664438879055192436, 2.361378999196363184,
])
_FACE_XYZ = np.stack([
    np.cos(_FACE_CENTER_GEO[:, 0]) * np.cos(_FACE_CENTER_GEO[:, 1]),
    np.cos(_FACE_CENTER_GEO[:, 0]) * np.sin(_FACE_CENTER_GEO[:, 1]),
    np.sin(_FACE_CENTER_GEO[:, 0]),
], axis=1)

# digit <-> axial unit vectors (coordijk.c UNIT_VECS, axial = (i-k, j-k))
_DIG_AX = np.array([(0, 0), (-1, -1), (0, 1), (-1, 0), (1, 0), (0, -1), (1, 1)],
                   dtype=np.int64)
# 60-degree digit rotations (CENTER,K,J,JK,I,IK,IJ)
_ROT_CCW = np.array([0, 5, 3, 1, 6, 4, 2], dtype=np.int64)
_ROT_CW = np.array([0, 3, 6, 2, 5, 1, 4], dtype=np.int64)
_BASE = np.array([
    [[24, 32, 50, -1, -1], [10, 18, 30, 48, -1], [2, 5, 16, 33, 49], [-1, 0, 8, 22, 41], [-1, -1, 4, 15, 31]],
    [[14, 17, 25, -1, -1], [9, 6, 11, 23, -1], [7, 1, 2, 10, 24], [-1, 3, 0, 5, 18], [-1, -1, 4, 8, 16]],
    [[38, 34, 36, -1, -1], [29, 21, 19, 20, -1], [26, 13, 7, 9, 14], [-1, 12, 3, 1, 6], [-1, -1, 4, 0, 2]],
    [[58, 62, 64, -1, -1], [44, 42, 43, 47, -1], [31, 28, 26, 29, 38], [-1, 15, 12, 13, 21], [-1, -1, 4, 3, 7]],
    [[49, 61, 75, -1, -1], [33, 41, 53, 65, -1], [16, 22, 31, 44, 58], [-1, 8, 15, 28, 42], [-1, -1, 4, 12, 26]],
    [[49, 33, 16, -1, -1], [66, 48, 30, 18, -1], [85, 67, 50, 32, 24], [-1, 87, 70, 52, 37], [-1, -1, 83, 74, 57]],
    [[24, 10, 2, -1, -1], [37, 23, 11, 6, -1], [57, 39, 25, 17, 14], [-1, 59, 45, 35, 27], [-1, -1, 63, 56, 46]],
    [[14, 9, 7, -1, -1], [27, 20, 19, 21, -1], [46, 40, 36, 34, 38], [-1, 60, 55, 54, 51], [-1, -1, 72, 73, 71]],
    [[38, 29, 26, -1, -1], [51, 47, 43, 42, -1], [71, 69, 64, 62, 58], [-1, 89, 84, 82, 76], [-1, -1, 97, 98, 96]],
    [[58, 44, 31, -1, -1], [76, 65, 53, 41, -1], [96, 86, 75, 61, 49], [-1, 104, 94, 81, 66], [-1, -1, 107, 101, 85]],
    [[63, 79, 95, -1, -1], [45, 59, 78, 92, -1], [25, 39, 57, 74, 83], [-1, 23, 37, 52, 70], [-1, -1, 24, 32, 50]],
    [[72, 80, 90, -1, -1], [55, 60, 68, 77, -1], [36, 40, 46, 56, 63], [-1, 20, 27, 35, 45], [-1, -1, 14, 17, 25]],
    [[97, 103, 105, -1, -1], [84, 89, 91, 88, -1], [64, 69, 71, 73, 72], [-1, 47, 51, 54, 55], [-1, -1, 38, 34, 36]],
    [[107, 115, 119, -1, -1], [94, 104, 110, 111, -1], [75, 86, 96, 98, 97], [-1, 65, 76, 82, 84], [-1, -1, 58, 62, 64]],
    [[83, 100, 114, -1, -1], [70, 87, 102, 112, -1], [50, 67, 85, 101, 107], [-1, 48, 66, 81, 94], [-1, -1, 49, 61, 75]],
    [[83, 74, 57, -1, -1], [100, 92, 78, 59, -1], [114, 108, 95, 79, 63], [-1, 118, 109, 93, 77], [-1, -1, 117, 106, 90]],
    [[63, 56, 46, -1, -1], [79, 77, 68, 60, -1], [95, 93, 90, 80, 72], [-1, 109, 106, 99, 88], [-1, -1, 117, 113, 105]],
    [[72, 73, 71, -1, -1], [80, 88, 91, 89, -1], [90, 99, 105, 103, 97], [-1, 106, 113, 116, 111], [-1, -1, 117, 121, 119]],
    [[97, 98, 96, -1, -1], [103, 111, 110, 104, -1], [105, 116, 119, 115, 107], [-1, 113, 121, 120, 112], [-1, -1, 117, 118, 114]],
    [[107, 101, 85, -1, -1], [115, 112, 102, 87, -1], [119, 120, 114, 100, 83], [-1, 121, 118, 108, 92], [-1, -1, 117, 109, 95]],
], dtype=np.int64)

_ROT = np.array([
    [[0, 3, 3, 0, 0], [5, 0, 0, 3, 0], [5, 5, 0, 0, 1], [0, 5, 0, 0, 1], [0, 0, 0, 1, 1]],
    [[0, 3, 3, 0, 0], [5, 0, 0, 3, 0], [5, 5, 0, 0, 1], [0, 5, 0, 0, 1], [0, 0, 1, 1, 1]],
    [[0, 3, 3, 0, 0], [5, 0, 0, 3, 0], [5, 5, 0, 0, 1], [0, 5, 0, 0, 1], [0, 0, 2, 1, 1]],
    [[0, 3, 3, 0, 0], [5, 0, 0, 3, 0], [5, 5, 0, 0, 1], [0, 5, 0, 0, 1], [0, 0, 3, 1, 1]],
    [[0, 3, 3, 0, 0], [5, 0, 0, 3, 0], [5, 5, 0, 0, 1], [0, 5, 0, 0, 1], [0, 0, 4, 1, 1]],
    [[3, 3, 3, 0, 0], [3, 0, 3, 3, 0], [3, 0, 0, 0, 3], [0, 3, 0, 0, 3], [0, 0, 0, 3, 3]],
    [[3, 3, 3, 0, 0], [3, 0, 3, 3, 0], [3, 0, 0, 0, 3], [0, 3, 0, 0, 3], [0, 0, 0, 3, 3]],
    [[3, 3, 3, 0, 0], [3, 0, 3, 3, 0], [3, 0, 0, 0, 3], [0, 3, 0, 0, 3], [0, 0, 0, 3, 3]],
    [[3, 3, 3, 0, 0], [3, 0, 3, 3, 0], [3, 0, 0, 0, 3], [0, 3, 0, 0, 3], [0, 0, 0, 3, 3]],
    [[3, 3, 3, 0, 0], [3, 0, 3, 3, 0], [3, 0, 0, 0, 3], [0, 3, 0, 0, 3], [0, 0, 0, 3, 3]],
    [[3, 3, 3, 0, 0], [3, 0, 0, 3, 0], [3, 3, 0, 0, 3], [0, 3, 0, 3, 3], [0, 0, 0, 3, 3]],
    [[3, 3, 3, 0, 0], [3, 0, 0, 3, 0], [3, 3, 0, 0, 3], [0, 3, 0, 3, 3], [0, 0, 0, 3, 3]],
    [[3, 3, 3, 0, 0], [3, 0, 0, 3, 0], [3, 3, 0, 0, 3], [0, 3, 0, 3, 3], [0, 0, 0, 3, 3]],
    [[3, 3, 3, 0, 0], [3, 0, 0, 3, 0], [3, 3, 0, 0, 3], [0, 3, 0, 3, 3], [0, 0, 0, 3, 3]],
    [[3, 3, 3, 0, 0], [3, 0, 0, 3, 0], [3, 3, 0, 0, 3], [0, 3, 0, 3, 3], [0, 0, 0, 3, 3]],
    [[0, 3, 3, 0, 0], [5, 0, 3, 3, 0], [5, 5, 0, 0, 1], [0, 5, 0, 0, 1], [0, 0, 0, 1, 1]],
    [[0, 3, 3, 0, 0], [5, 0, 3, 3, 0], [5, 5, 0, 0, 1], [0, 5, 0, 0, 1], [0, 0, 4, 1, 1]],
    [[0, 3, 3, 0, 0], [5, 0, 3, 3, 0], [5, 5, 0, 0, 1], [0, 5, 0, 0, 1], [0, 0, 3, 1, 1]],
    [[0, 3, 3, 0, 0], [5, 0, 3, 3, 0], [5, 5, 0, 0, 1], [0, 5, 0, 0, 1], [0, 0, 2, 1, 1]],
    [[0, 3, 3, 0, 0], [5, 0, 3, 3, 0], [5, 5, 0, 0, 1], [0, 5, 0, 0, 1], [0, 0, 1, 1, 1]],
], dtype=np.int64)

_PENT_CELLS = [4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117]
_CW_OFFSET = {14: (2, 6), 24: (1, 5), 38: (3, 7), 49: (0, 9), 58: (4, 8), 63: (11, 15), 72: (12, 16), 83: (10, 19), 97: (13, 17), 107: (14, 18)}
_HOME = {16: (0, (0, 0)), 8: (0, (1, 0)), 33: (0, (0, 1)), 18: (0, (-1, -1)), 22: (0, (1, 1)), 30: (0, (-1, 0)), 5: (1, (1, 1)), 4: (0, (2, 0)), 49: (14, (2, 0)), 24: (10, (2, 0)), 2: (1, (0, 0)), 0: (1, (1, 0)), 10: (1, (0, 1)), 6: (1, (-1, -1)), 11: (1, (-1, 0)), 1: (2, (1, 1)), 14: (11, (2, 0)), 7: (2, (0, 0)), 3: (2, (1, 0)), 9: (2, (0, 1)), 21: (2, (-1, -1)), 19: (2, (-1, 0)), 13: (3, (1, 1)), 38: (12, (2, 0)), 26: (3, (0, 0)), 12: (3, (1, 0)), 29: (3, (0, 1)), 42: (3, (-1, -1)), 43: (3, (-1, 0)), 28: (4, (1, 1)), 58: (13, (2, 0)), 31: (4, (0, 0)), 15: (4, (1, 0)), 44: (4, (0, 1)), 41: (4, (-1, -1)), 53: (4, (-1, 0)), 50: (5, (0, 0)), 70: (5, (1, 0)), 32: (5, (0, 1)), 48: (5, (-1, -1)), 52: (5, (1, 1)), 67: (5, (0, -1)), 83: (5, (2, 0)), 25: (6, (0, 0)), 45: (6, (1, 0)), 17: (6, (0, 1)), 23: (6, (-1, -1)), 35: (6, (1, 1)), 39: (6, (0, -1)), 63: (6, (2, 0)), 36: (7, (0, 0)), 55: (7, (1, 0)), 34: (7, (0, 1)), 20: (7, (-1, -1)), 54: (7, (1, 1)), 40: (7, (0, -1)), 72: (7, (2, 0)), 64: (8, (0, 0)), 84: (8, (1, 0)), 62: (8, (0, 1)), 47: (8, (-1, -1)), 82: (8, (1, 1)), 69: (8, (0, -1)), 97: (8, (2, 0)), 75: (9, (0, 0)), 94: (9, (1, 0)), 61: (9, (0, 1)), 65: (9, (-1, -1)), 81: (9, (1, 1)), 86: (9, (0, -1)), 107: (9, (2, 0)), 57: (10, (0, 0)), 37: (10, (1, 0)), 74: (10, (0, 1)), 59: (10, (-1, -1)), 78: (10, (-1, 0)), 46: (11, (0, 0)), 27: (11, (1, 0)), 56: (11, (0, 1)), 60: (11, (-1, -1)), 68: (11, (-1, 0)), 71: (12, (0, 0)), 51: (12, (1, 0)), 73: (12, (0, 1)), 89: (12, (-1, -1)), 91: (12, (-1, 0)), 96: (13, (0, 0)), 76: (13, (1, 0)), 98: (13, (0, 1)), 104: (13, (-1, -1)), 110: (13, (-1, 0)), 85: (14, (0, 0)), 66: (14, (1, 0)), 101: (14, (0, 1)), 87: (14, (-1, -1)), 102: (14, (-1, 0)), 95: (15, (0, 0)), 109: (15, (1, 0)), 79: (15, (0, 1)), 92: (15, (-1, -1)), 93: (15, (1, 1)), 108: (19, (1, 1)), 117: (15, (2, 0)), 90: (16, (0, 0)), 106: (16, (1, 0)), 80: (16, (0, 1)), 77: (16, (-1, -1)), 99: (16, (1, 1)), 105: (17, (0, 0)), 113: (17, (1, 0)), 103: (17, (0, 1)), 88: (17, (-1, -1)), 116: (17, (1, 1)), 119: (18, (0, 0)), 121: (18, (1, 0)), 115: (18, (0, 1)), 111: (18, (-1, -1)), 120: (18, (1, 1)), 114: (19, (0, 0)), 118: (19, (1, 0)), 100: (19, (0, 1)), 112: (19, (-1, -1))}

_IS_PENT = np.zeros(122, dtype=bool)
_IS_PENT[np.array(_PENT_CELLS)] = True
_CW_ARR = np.zeros((122, 20), dtype=bool)
for _c, _faces in _CW_OFFSET.items():
    for _f in _faces:
        _CW_ARR[_c, _f] = True


def _pos_angle(a):
    return np.mod(a, 2 * np.pi)


def _geo_az(lat1, lng1, lat2, lng2):
    """Great-circle azimuth (H3 _geoAzimuthRads)."""
    return np.arctan2(
        np.cos(lat2) * np.sin(lng2 - lng1),
        np.cos(lat1) * np.sin(lat2)
        - np.sin(lat1) * np.cos(lat2) * np.cos(lng2 - lng1),
    )


def _geo_dist(lat1, lng1, lat2, lng2):
    sl = np.sin((lat2 - lat1) / 2)
    sg = np.sin((lng2 - lng1) / 2)
    a = sl * sl + np.cos(lat1) * np.cos(lat2) * sg * sg
    return 2 * np.arctan2(np.sqrt(a), np.sqrt(1 - a))


def _hex2d_to_axial(x, y):
    """Nearest hex center via cube rounding; cube coords (ai, aj-ai, -aj)
    are integral exactly at lattice points."""
    aj = y / _SIN60
    ai = x + aj / 2.0
    cx, cy, cz = ai, aj - ai, -aj
    rx, ry, rz = np.round(cx), np.round(cy), np.round(cz)
    dx, dy, dz = np.abs(rx - cx), np.abs(ry - cy), np.abs(rz - cz)
    fx = (dx > dy) & (dx > dz)
    fy = ~fx & (dy > dz)
    rx = np.where(fx, -ry - rz, rx)
    ry = np.where(fy, -rx - rz, ry)
    rz = np.where(fx | fy, rz, -rx - ry)
    return rx.astype(np.int64), (-rz).astype(np.int64)


def _round_div7(n):
    """round-half-away-from-zero of n/7, exact int64 (C lroundl parity)."""
    pos = (2 * n + 7) // 14
    neg = -((-2 * n + 7) // 14)
    return np.where(n >= 0, pos, neg)


def _up(ai, aj, ccw):
    if ccw:  # _upAp7 (collapsing a Class III res)
        return _round_div7(3 * ai - aj), _round_div7(ai + 2 * aj)
    return _round_div7(2 * ai + aj), _round_div7(3 * aj - ai)  # _upAp7r


def _down(ai, aj, ccw):
    if ccw:  # _downAp7
        return 2 * ai + aj, -ai + 3 * aj
    return 3 * ai - aj, ai + 2 * aj  # _downAp7r


def _lead_nonzero(digs):
    out = np.zeros(len(digs), dtype=np.int64)
    found = np.zeros(len(digs), dtype=bool)
    for r in range(digs.shape[1]):
        pick = (~found) & (digs[:, r] != 0)
        out[pick] = digs[pick, r]
        found |= pick
    return out


def latlng_to_cell(lat7, lon7, res: int) -> np.ndarray:
    """Uber-H3-compatible cell ids for fixed-point 1e-7 degree coordinates.

    Vectorized end to end; ~3M rows/s/core. Matches h3.latlng_to_cell
    bit-for-bit (see module docstring for the validation battery)."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be 0..{MAX_RES}")
    lat = np.radians(np.asarray(lat7, dtype=np.int64).astype(np.float64) / 1e7)
    lng = np.radians(np.asarray(lon7, dtype=np.int64).astype(np.float64) / 1e7)
    n = lat.size
    p = np.stack([np.cos(lat) * np.cos(lng), np.cos(lat) * np.sin(lng),
                  np.sin(lat)], axis=-1)
    # explicit left-associative dot (not matmul): the DuckDB oracle twin
    # (sql_h3_cell) evaluates px*fx + py*fy + pz*fz the same way, so the
    # face argmax is bit-identical across engines; BLAS matmul reorders the
    # sum and can flip a near-tie at a face boundary
    dots = (p[:, 0:1] * _FACE_XYZ[:, 0] + p[:, 1:2] * _FACE_XYZ[:, 1]
            + p[:, 2:3] * _FACE_XYZ[:, 2])
    face = np.argmax(dots, axis=-1)
    flat = _FACE_CENTER_GEO[face, 0]
    flng = _FACE_CENTER_GEO[face, 1]
    r = _geo_dist(flat, flng, lat, lng)
    theta = _pos_angle(_FACE_AZ0[face] - _pos_angle(_geo_az(flat, flng, lat, lng)))
    if res % 2 == 1:  # Class III: lattice twisted ccw by the aperture angle
        theta = _pos_angle(theta - _AP7_ROT)
    rr = np.tan(r) / _RES0_U_GNOMONIC * (_SQRT7 ** res)
    ai, aj = _hex2d_to_axial(rr * np.cos(theta), rr * np.sin(theta))
    return _axial_to_cell(face, ai, aj, res)


def _axial_to_cell(face, ai, aj, res: int) -> np.ndarray:
    """(face chart, axial lattice address at res) -> H3 id: the encoder tail
    (integer parent-chain digit extraction, base-cell lookup, pentagon
    leading-K fixup, canonical rotations).  Exact for any address the 5x5
    base table can absorb — the face triangle plus its one-cell overhang,
    which covers encode rounding AND unit-step neighbor walks (grid_disk)."""
    face = np.asarray(face, dtype=np.int64)
    ai = np.asarray(ai, dtype=np.int64).copy()
    aj = np.asarray(aj, dtype=np.int64).copy()
    n = ai.size
    # integer parent chain, extracting one digit per res (h3Index.c)
    digs = np.empty((n, res), dtype=np.int64)
    for rl in range(res, 0, -1):
        ccw = rl % 2 == 1
        pi, pj = _up(ai, aj, ccw)
        ci, cj = _down(pi, pj, ccw)
        di, dj = ai - ci, aj - cj
        # diff is always a unit digit vector; encode via 3*di+dj perfect hash
        digs[:, rl - 1] = _DIG_HASH[3 * di + dj + 4]
        ai, aj = pi, pj
    if ((np.abs(ai) > 2) | (np.abs(aj) > 2)).any():
        raise ValueError(
            "axial address outside the base table after parent collapse — "
            "the position is beyond the face's one-cell overhang; hop it to "
            "its containing chart first (_adjust_overage / grid_disk does)"
        )
    base = _BASE[face, ai + 2, aj + 2]
    if (base < 0).any():
        raise ValueError("axial address hits an empty base-table slot")
    rots = _ROT[face, ai + 2, aj + 2]
    pent = _IS_PENT[base]
    if res:
        # pentagon leading-K fixup BEFORE the canonical rotations (h3Index.c)
        lead = _lead_nonzero(digs)
        fix = pent & (lead == 1)
        if fix.any():
            cwf = fix & _CW_ARR[base, face]
            digs[cwf] = _ROT_CW[digs[cwf]]
            ccwf = fix & ~_CW_ARR[base, face]
            digs[ccwf] = _ROT_CCW[digs[ccwf]]
        for _ in range(5):
            m = rots > 0
            if not m.any():
                break
            hexm = m & ~pent
            digs[hexm] = _ROT_CCW[digs[hexm]]
            pm = m & pent
            if pm.any():  # _h3RotatePent60ccw: skip the deleted K subsequence
                digs[pm] = _ROT_CCW[digs[pm]]
                again = pm & (_lead_nonzero(digs) == 1)
                digs[again] = _ROT_CCW[digs[again]]
            rots = rots - m.astype(np.int64)
    out = np.full(n, np.int64(1) << np.int64(59), dtype=np.int64)  # mode 1
    out |= np.int64(res) << np.int64(52)
    out |= base << np.int64(45)
    acc = np.zeros(n, dtype=np.int64)
    for rl in range(1, MAX_RES + 1):
        d = digs[:, rl - 1] if rl <= res else np.full(n, 7, dtype=np.int64)
        acc = (acc << np.int64(3)) | d
    return out | acc


# perfect hash for unit-digit diffs: index 3*di+dj+4 over di,dj in [-1..1]
_DIG_HASH = np.full(9, -1, dtype=np.int64)
for _d, (_i, _j) in enumerate(_DIG_AX):
    _DIG_HASH[3 * _i + _j + 4] = _d


def get_resolution(cell) -> np.ndarray:
    return (np.asarray(cell, dtype=np.int64) >> np.int64(52)) & np.int64(0xF)


def get_base_cell(cell) -> np.ndarray:
    return (np.asarray(cell, dtype=np.int64) >> np.int64(45)) & np.int64(0x7F)


def is_pentagon(cell) -> np.ndarray:
    """True iff the cell is a pentagon (base pentagon + all-zero digits)."""
    cell = np.asarray(cell, dtype=np.int64)
    res = get_resolution(cell)
    base = get_base_cell(cell)
    zero = np.ones(cell.shape, dtype=bool)
    for rl in range(1, MAX_RES + 1):
        d = (cell >> np.int64(3 * (MAX_RES - rl))) & np.int64(7)
        zero &= (d == 0) | (rl > res)
    return _IS_PENT[base] & zero


def to_parent(cell, parent_res: int) -> np.ndarray:
    """Exact algebraic parent: truncate digits below parent_res (H3
    cellToParent semantics — ids stay Uber-compatible)."""
    cell = np.asarray(cell, dtype=np.int64)
    if (parent_res > get_resolution(cell)).any():
        raise ValueError("parent_res must be <= cell res")
    out = cell & ~(np.int64(0xF) << np.int64(52))
    out |= np.int64(parent_res) << np.int64(52)
    for rl in range(parent_res + 1, MAX_RES + 1):
        out |= np.int64(0x7) << np.int64(3 * (MAX_RES - rl))
    return out


# --- cross-face overage (faceijk.c _adjustOverageClassII mechanics) ----------
#
# A cell whose center lies past its home face's icosahedron edge must be
# re-expressed in the adjacent face's chart before the inverse gnomonic
# projection — otherwise the center drifts (the r2-documented limitation,
# closed in r3).  The orientation table below was RE-DERIVED empirically by
# tools/h3_face_neighbors.py (fit of the unique lattice isometry between
# overflowed home coordinates and the encoder's own addresses in the true
# containing chart, majority-voted over 55k overage samples, 60/60 entries
# unambiguous) — not copied from H3's faceNeighbors literal.
_FACE_NEIGH = {  # (face, quadrant IJ=1/KI=2/JK=3) -> (new_face, ccw_rot60, unit_translate_axial)
    (0, 1): (4, 1, 0, -2), (0, 2): (1, 5, 2, 2), (0, 3): (5, 3, -2, 0),
    (1, 1): (0, 1, 0, -2), (1, 2): (2, 5, 2, 2), (1, 3): (6, 3, -2, 0),
    (2, 1): (1, 1, 0, -2), (2, 2): (3, 5, 2, 2), (2, 3): (7, 3, -2, 0),
    (3, 1): (2, 1, 0, -2), (3, 2): (4, 5, 2, 2), (3, 3): (8, 3, -2, 0),
    (4, 1): (3, 1, 0, -2), (4, 2): (0, 5, 2, 2), (4, 3): (9, 3, -2, 0),
    (5, 1): (10, 3, 2, 2), (5, 2): (14, 3, 0, -2), (5, 3): (0, 3, -2, 0),
    (6, 1): (11, 3, 2, 2), (6, 2): (10, 3, 0, -2), (6, 3): (1, 3, -2, 0),
    (7, 1): (12, 3, 2, 2), (7, 2): (11, 3, 0, -2), (7, 3): (2, 3, -2, 0),
    (8, 1): (13, 3, 2, 2), (8, 2): (12, 3, 0, -2), (8, 3): (3, 3, -2, 0),
    (9, 1): (14, 3, 2, 2), (9, 2): (13, 3, 0, -2), (9, 3): (4, 3, -2, 0),
    (10, 1): (5, 3, 2, 2), (10, 2): (6, 3, 0, -2), (10, 3): (15, 3, -2, 0),
    (11, 1): (6, 3, 2, 2), (11, 2): (7, 3, 0, -2), (11, 3): (16, 3, -2, 0),
    (12, 1): (7, 3, 2, 2), (12, 2): (8, 3, 0, -2), (12, 3): (17, 3, -2, 0),
    (13, 1): (8, 3, 2, 2), (13, 2): (9, 3, 0, -2), (13, 3): (18, 3, -2, 0),
    (14, 1): (9, 3, 2, 2), (14, 2): (5, 3, 0, -2), (14, 3): (19, 3, -2, 0),
    (15, 1): (16, 1, 0, -2), (15, 2): (19, 5, 2, 2), (15, 3): (10, 3, -2, 0),
    (16, 1): (17, 1, 0, -2), (16, 2): (15, 5, 2, 2), (16, 3): (11, 3, -2, 0),
    (17, 1): (18, 1, 0, -2), (17, 2): (16, 5, 2, 2), (17, 3): (12, 3, -2, 0),
    (18, 1): (19, 1, 0, -2), (18, 2): (17, 5, 2, 2), (18, 3): (13, 3, -2, 0),
    (19, 1): (15, 1, 0, -2), (19, 2): (18, 5, 2, 2), (19, 3): (14, 3, -2, 0),
}
# rotation lookup: axial ccw60 is the linear map (a, b) -> (a - b, a)
_ROT_AX = np.stack([
    np.linalg.matrix_power(np.array([[1, -1], [1, 0]], dtype=np.int64), n)
    for n in range(6)
])
_FN_FACE = np.full((20, 4), -1, dtype=np.int64)
_FN_ROT = np.zeros((20, 4), dtype=np.int64)
_FN_TI = np.zeros((20, 4), dtype=np.int64)
_FN_TJ = np.zeros((20, 4), dtype=np.int64)
for (_f, _q), (_g, _r, _ti, _tj) in _FACE_NEIGH.items():
    _FN_FACE[_f, _q] = _g
    _FN_ROT[_f, _q] = _r
    _FN_TI[_f, _q] = _ti
    _FN_TJ[_f, _q] = _tj


def _adjust_overage(face, ai, aj, res_cii, pent_lead4):
    """One vectorized _adjustOverageClassII pass on axial coords at a Class
    II resolution.  Returns (face, ai, aj, overaged_mask)."""
    maxdim = 2 * 7 ** (res_cii // 2)
    us = 7 ** (res_cii // 2)
    m = np.minimum(np.minimum(ai, aj), 0)
    i, j, k = ai - m, aj - m, -m
    over = (i + j + k) > maxdim
    if not over.any():
        return face, ai, aj, over
    q = np.where(k > 0, np.where(j > 0, 3, 2), 1)  # JK / KI / IJ
    ai, aj = ai.copy(), aj.copy()
    # pentagon leading-4: rotate cw about the pentagon's KI vertex
    # (origin {maxDim,0,0}, axial (maxdim, 0)) before hopping
    fix = over & pent_lead4 & (q == 2)
    if fix.any():
        a0, b0 = ai[fix] - maxdim, aj[fix]
        ai[fix] = b0 + maxdim  # rot60cw axial: (a, b) -> (b, b - a)
        aj[fix] = b0 - a0
    f = np.where(over, face, 0)
    qq = np.where(over, q, 1)
    rot = _FN_ROT[f, qq]
    r00, r01 = _ROT_AX[rot, 0, 0], _ROT_AX[rot, 0, 1]
    r10, r11 = _ROT_AX[rot, 1, 0], _ROT_AX[rot, 1, 1]
    na = r00 * ai + r01 * aj + _FN_TI[f, qq] * us
    nb = r10 * ai + r11 * aj + _FN_TJ[f, qq] * us
    return (
        np.where(over, _FN_FACE[f, qq], face),
        np.where(over, na, ai),
        np.where(over, nb, aj),
        over,
    )


def _to_face_axial(cell):
    """(face, ai, aj, res) — each cell's lattice address in the chart of the
    face that actually contains its center (home-frame digit replay + the
    overage face-hop, Class III via the res+1 Class II substrate like H3's
    _h3ToFaceIjk).  Cells sharing one call must share one resolution."""
    cell = np.asarray(cell, dtype=np.int64).ravel()
    res = int(get_resolution(cell[:1])[0])
    if (get_resolution(cell) != res).any():
        raise ValueError("mixed resolutions in one _to_face_axial call")
    base = get_base_cell(cell)
    face = np.array([_HOME[int(x)][0] for x in base], dtype=np.int64)
    ai = np.array([_HOME[int(x)][1][0] for x in base], dtype=np.int64)
    aj = np.array([_HOME[int(x)][1][1] for x in base], dtype=np.int64)
    digs = np.empty((cell.size, res), dtype=np.int64)
    for rl in range(1, res + 1):
        digs[:, rl - 1] = (cell >> np.int64(3 * (MAX_RES - rl))) & np.int64(7)
    if res:
        # pentagon missing-K sequence: a leading 5 digit means the whole
        # index must rotate 60deg cw before replay (h3Index.c _h3ToFaceIjk)
        rot5 = _IS_PENT[base] & (_lead_nonzero(digs) == 5)
        if rot5.any():
            digs[rot5] = _ROT_CW[digs[rot5]]
    for rl in range(1, res + 1):
        ai, aj = _down(ai, aj, rl % 2 == 1)
        d = digs[:, rl - 1]
        ai = ai + _DIG_AX[d, 0]
        aj = aj + _DIG_AX[d, 1]
    orig_ai, orig_aj = ai, aj
    res_cii = res
    if res % 2 == 1:  # Class III: hop in the next-finer Class II substrate
        ai, aj = _down(ai, aj, False)  # _downAp7r
        res_cii = res + 1
    pent_lead4 = (
        _IS_PENT[base] & (_lead_nonzero(digs) == 4)
        if res
        else np.zeros(cell.shape, dtype=bool)
    )
    adjusted = np.zeros(cell.shape, dtype=bool)
    for it in range(4):  # pentagon corners can need a secondary hop
        face, ai, aj, over = _adjust_overage(
            face, ai, aj, res_cii, pent_lead4 if it == 0 else np.zeros(cell.shape, bool)
        )
        adjusted |= over
        if not over.any():
            break
    if res % 2 == 1:
        ua, uaj = _up(ai, aj, False)  # _upAp7r back to the native res
        ai = np.where(adjusted, ua, orig_ai)
        aj = np.where(adjusted, uaj, orig_aj)
    return face, ai, aj, res


def cell_to_latlng(cell) -> tuple[np.ndarray, np.ndarray]:
    """(lat_deg, lng_deg) of cell centers: digit replay + overage face-hop +
    inverse gnomonic.  Exact H3 centers EVERYWHERE since round 3 (the
    cross-face drift is gone): re-encoding every center returns its cell at
    res 0-9 over global sweeps, incl. pentagon bases (tests/test_h3real.py)."""
    cell = np.asarray(cell, dtype=np.int64).ravel()
    res_all = get_resolution(cell)
    lat = np.empty(cell.shape, dtype=np.float64)
    lng = np.empty(cell.shape, dtype=np.float64)
    for res in np.unique(res_all):
        sel = res_all == res
        fh, ai, aj, _ = _to_face_axial(cell[sel])
        x = ai - 0.5 * aj
        y = aj * _SIN60
        rr = np.hypot(x, y)
        theta = np.arctan2(y, x)
        if res % 2 == 1:
            theta = theta + _AP7_ROT
        dist = np.arctan(rr * _RES0_U_GNOMONIC / (_SQRT7 ** int(res)))
        az = _FACE_AZ0[fh] - theta
        lat1 = _FACE_CENTER_GEO[fh, 0]
        lng1 = _FACE_CENTER_GEO[fh, 1]
        sl2 = np.sin(lat1) * np.cos(dist) + np.cos(lat1) * np.sin(dist) * np.cos(az)
        lat2 = np.arcsin(np.clip(sl2, -1, 1))
        y2 = np.sin(az) * np.sin(dist) * np.cos(lat1)
        x2 = np.cos(dist) - np.sin(lat1) * sl2
        lng2 = lng1 + np.arctan2(y2, x2)
        lat[sel] = np.degrees(lat2)
        lng[sel] = np.degrees(np.arctan2(np.sin(lng2), np.cos(lng2)))
    return lat, lng


def cell_to_string(cell) -> np.ndarray:
    """Lowercase 15-hex-digit H3 string form (h3.h3_to_string parity)."""
    return np.array([format(int(c) & 0xFFFFFFFFFFFFFFFF, "x") for c in
                     np.asarray(cell, dtype=np.int64).ravel()], dtype=object)


def string_to_cell(s) -> np.ndarray:
    return np.array([np.int64(int(v, 16)) for v in np.asarray(s).ravel()],
                    dtype=np.int64)


# --- DuckDB SQL twin of latlng_to_cell --------------------------------------

def _sql_rot(expr: str, table: np.ndarray) -> str:
    """CASE expression applying a 7-entry digit-rotation table."""
    whens = " ".join(f"WHEN {d} THEN {int(table[d])}" for d in range(1, 7))
    return f"(CASE {expr} {whens} ELSE 0 END)"


def _sql_div7(n: str) -> str:
    """round-half-away-from-zero of n/7 — both // branches see positive
    operands, where DuckDB's integer division equals Python's floor //."""
    return (f"(CASE WHEN {n} >= 0 THEN (2*({n})+7)//14"
            f" ELSE -((-2*({n})+7)//14) END)")


def sql_h3_cell(pts_cte: str, res: int, per_point: bool = False) -> str:
    """DuckDB twin of ``latlng_to_cell(res)`` over a points CTE — converts
    the H3 cell-count queries from rows-only to hash-gated.

    Every float leg is spelled to match the numpy kernel bit-for-bit:

    * face centers / azimuths / unit vectors and their cos/sin are inlined
      as ``repr()`` round-trip literals of the exact doubles the engine
      holds (computed once here by the same numpy calls), cast ``::DOUBLE``
      so DuckDB never routes them through DECIMAL arithmetic;
    * the face argmax uses the same left-associative ``px*fx+py*fy+pz*fz``
      the engine now computes (see latlng_to_cell), tie-broken by face id
      ascending exactly like ``np.argmax``;
    * ``np.mod(x, 2π)`` is ``fmod`` + conditional ``+2π`` — verified
      bit-identical to numpy's remainder semantics;
    * the aperture-7 digit extraction, base/rotation lookup, pentagon
      leading-K fixup and canonical rotation unroll are pure int64 math
      (chained CTEs; one per resolution step, two per rotation step).

    Residual cross-engine risk is documented measure-zero: libm trig may
    differ by ~1 ulp, which flips a cell only for a point within ~1e-16 of
    a hex boundary, and ``round()`` differs from ``np.round`` only at exact
    .5 values that trig outputs never hit. The lookup VALUES are the same
    base-cell/rotation tables the engine uses (themselves re-derived from
    the public face constants by tools/h3_table_builder.py and pinned
    against published H3 vectors) — the twin independently re-exercises the
    float-heavy legs where engines could diverge, the same oracle-
    independence trade sql_s2_cell_l13 documents."""
    if not 1 <= res <= MAX_RES:
        raise ValueError("sql twin supports res 1..15")

    def d(v: float) -> str:  # exact-double literal
        return f"{float(v)!r}::DOUBLE"

    fcl = np.cos(_FACE_CENTER_GEO[:, 0])
    fsl = np.sin(_FACE_CENTER_GEO[:, 0])
    face_rows = ",".join(
        f"({f},{d(_FACE_CENTER_GEO[f, 0])},{d(_FACE_CENTER_GEO[f, 1])},"
        f"{d(fcl[f])},{d(fsl[f])},{d(_FACE_AZ0[f])},"
        f"{d(_FACE_XYZ[f, 0])},{d(_FACE_XYZ[f, 1])},{d(_FACE_XYZ[f, 2])})"
        for f in range(20)
    )
    base_rows = ",".join(
        f"({f},{i - 2},{j - 2},{int(_BASE[f, i, j])},{int(_ROT[f, i, j])})"
        for f in range(20) for i in range(5) for j in range(5)
        if _BASE[f, i, j] >= 0
    )
    pents = ",".join(str(b) for b in _PENT_CELLS)
    cw_keys = ",".join(
        str(b * 20 + f) for b, faces in sorted(_CW_OFFSET.items()) for f in faces
    )
    two_pi = d(2 * np.pi)
    pow7 = d(_SQRT7 ** res)

    def posang(e: str) -> str:
        m = f"fmod({e}, {two_pi})"
        return f"(CASE WHEN {m} < 0 THEN {m} + {two_pi} ELSE {m} END)"

    # resolution-step CTEs: extract one digit per level, res -> 1
    digit_ctes = []
    dcols: list[str] = []
    prev = "hexr"
    for rl in range(res, 0, -1):
        ccw = rl % 2 == 1
        ui = "3*ai - aj" if ccw else "2*ai + aj"
        uj = "ai + 2*aj" if ccw else "3*aj - ai"
        ci = "2*pi + pj" if ccw else "3*pi - pj"
        cj = "-pi + 3*pj" if ccw else "pi + 2*pj"
        keep = ", ".join(["point_id", "f"] + dcols)
        digit_ctes.append(
            f"s{rl}a AS (SELECT {keep}, {_sql_div7(ui)} AS pi,"
            f" {_sql_div7(uj)} AS pj, ai, aj FROM {prev}),\n"
            f"s{rl} AS (SELECT {keep},"
            f" CASE 3*(ai - ({ci})) + (aj - ({cj}))"
            f" WHEN -4 THEN 1 WHEN -3 THEN 3 WHEN -1 THEN 5 WHEN 0 THEN 0"
            f" WHEN 1 THEN 2 WHEN 3 THEN 4 ELSE 6 END AS d{rl},"
            f" pi AS ai, pj AS aj FROM s{rl}a)"
        )
        dcols.append(f"d{rl}")
        prev = f"s{rl}"
    dlist = ", ".join(f"d{rl}" for rl in range(1, res + 1))
    lead = "COALESCE(" + ", ".join(
        f"NULLIF(d{rl}, 0)" for rl in range(1, res + 1)) + ", 0)"

    # pentagon leading-K fixup, then up to 5 canonical ccw rotations
    fix_cols = ", ".join(
        f"CASE WHEN pent AND {lead} = 1 THEN"
        f" CASE WHEN base*20 + f IN ({cw_keys})"
        f" THEN {_sql_rot(f'd{rl}', _ROT_CW)}"
        f" ELSE {_sql_rot(f'd{rl}', _ROT_CCW)} END"
        f" ELSE d{rl} END AS d{rl}"
        for rl in range(1, res + 1)
    )
    rot_ctes = []
    prev_r = "fx"
    for s in range(1, 6):
        once = ", ".join(
            f"CASE WHEN rot >= {s} THEN {_sql_rot(f'd{rl}', _ROT_CCW)}"
            f" ELSE d{rl} END AS d{rl}" for rl in range(1, res + 1))
        again = ", ".join(
            f"CASE WHEN rot >= {s} AND pent AND {lead} = 1"
            f" THEN {_sql_rot(f'd{rl}', _ROT_CCW)}"
            f" ELSE d{rl} END AS d{rl}" for rl in range(1, res + 1))
        rot_ctes.append(
            f"r{s}a AS (SELECT point_id, base, rot, pent, {once} FROM {prev_r}),\n"
            f"r{s} AS (SELECT point_id, base, rot, pent, {again} FROM r{s}a)"
        )
        prev_r = f"r{s}"

    header = (1 << 59) | (res << 52)
    tail7 = sum(7 << (3 * (MAX_RES - rl)) for rl in range(res + 1, MAX_RES + 1))
    packed = " + ".join(  # ::BIGINT — multipliers up to 2^42 overflow INT32
        f"d{rl}*{1 << (3 * (MAX_RES - rl))}::BIGINT" for rl in range(1, res + 1))

    digit_sql = ",\n".join(digit_ctes)
    rot_sql = ",\n".join(rot_ctes)
    return f"""WITH pts AS ({pts_cte}),
faces(f, flat, flng, fcl, fsl, az0, fx, fy, fz) AS (VALUES {face_rows}),
baserot(f, i, j, base, rot) AS (VALUES {base_rows}),
geo AS (SELECT point_id, radians(lat7/10000000.0) AS lat,
               radians(lon7/10000000.0) AS lng FROM pts),
p3 AS (SELECT point_id, lat, lng, cos(lat)*cos(lng) AS px,
              cos(lat)*sin(lng) AS py, sin(lat) AS pz FROM geo),
fsel AS (SELECT point_id, lat, lng, f, flat, flng, fcl, fsl, az0,
  row_number() OVER (PARTITION BY point_id
                     ORDER BY px*fx + py*fy + pz*fz DESC, f) AS rn
  FROM p3 CROSS JOIN faces),
f1 AS (SELECT point_id, lat, lng, f, flat, flng, fcl, fsl, az0
       FROM fsel WHERE rn = 1),
trig AS (SELECT point_id, f,
  sin((lat - flat)/2) AS sl, sin((lng - flng)/2) AS sg,
  atan2(cos(lat)*sin(lng - flng),
        fcl*sin(lat) - fsl*cos(lat)*cos(lng - flng)) AS az,
  fcl*cos(lat) AS cc, az0 FROM f1),
rdist AS (SELECT point_id, f,
  2*atan2(sqrt(sl*sl + cc*sg*sg), sqrt(1.0 - (sl*sl + cc*sg*sg))) AS r,
  {posang(f"az0 - {posang('az')}")} AS th0 FROM trig),
polar AS (SELECT point_id, f,
  (tan(r) / {d(_RES0_U_GNOMONIC)}) * {pow7} AS rr,
  {posang(f"th0 - {d(_AP7_ROT)}") if res % 2 == 1 else "th0"} AS theta
  FROM rdist),
hex0 AS (SELECT point_id, f, rr*cos(theta) AS x, rr*sin(theta) AS y FROM polar),
hex1 AS (SELECT point_id, f, x, y/{d(_SIN60)} AS ajf FROM hex0),
hex2 AS (SELECT point_id, f, x + ajf/2.0 AS cx, ajf FROM hex1),
hex3 AS (SELECT point_id, f, cx, ajf - cx AS cy, -ajf AS cz,
  round(cx) AS rx, round(ajf - cx) AS ry, round(-ajf) AS rz FROM hex2),
hex4 AS (SELECT point_id, f, rx, ry, rz,
  abs(rx - cx) > abs(ry - cy) AND abs(rx - cx) > abs(rz - cz) AS bx,
  NOT (abs(rx - cx) > abs(ry - cy) AND abs(rx - cx) > abs(rz - cz))
    AND abs(ry - cy) > abs(rz - cz) AS by FROM hex3),
hexr AS (SELECT point_id, f,
  CAST(CASE WHEN bx THEN -ry - rz ELSE rx END AS BIGINT) AS ai,
  CAST(-(CASE WHEN bx OR by THEN rz ELSE -rx - ry END) AS BIGINT) AS aj
  FROM hex4),
{digit_sql},
bj AS (SELECT p.point_id, p.f, {dlist}, br.base, br.rot,
              br.base IN ({pents}) AS pent
       FROM {prev} p JOIN baserot br
         ON br.f = p.f AND br.i = p.ai AND br.j = p.aj),
fx AS (SELECT point_id, base, rot, pent, {fix_cols} FROM bj),
{rot_sql},
ids AS (SELECT point_id,
        {header} + base*{1 << 45} + {packed} + {tail7} AS cell
        FROM {prev_r})
{"SELECT point_id, cell FROM ids" if per_point
 else "SELECT cell, count(*) AS cnt FROM ids GROUP BY cell"}"""


# --- neighbor traversal (gridDisk) on real H3 ids ----------------------------

def grid_disk(cell, k: int = 1) -> list[np.ndarray]:
    """H3 gridDisk: per input cell, the distinct cells within chart-lattice
    distance k (the cell itself included).  Geometric formulation: each
    cell's exact chart address (face, ai, aj) steps to every axial offset
    with hex distance <= k, and each stepped address converts back to an id
    through the encoder tail (_axial_to_cell) — whose pentagon fixups make
    positions in a pentagon fold resolve to the real covering cell, so
    pentagons naturally yield 5 neighbors (the duplicate collapses in the
    dedup).  Returns a list of int64 arrays (per-cell disks vary in size
    near pentagons).  Vectorized: one _to_face_axial + one _axial_to_cell
    over (n_cells x n_offsets)."""
    cell = np.asarray(cell, dtype=np.int64).ravel()
    if cell.size == 0:
        return []
    face, ai, aj, res = _to_face_axial(cell)
    offs = [
        (di, dj)
        for di in range(-k, k + 1)
        for dj in range(-k, k + 1)
        if (abs(di) + abs(dj) + abs(di - dj)) // 2 <= k
    ]
    offs = np.array(offs, dtype=np.int64)  # (m, 2)
    m = len(offs)
    f = np.repeat(face, m)
    a = (ai[:, None] + offs[:, 0]).ravel()
    b = (aj[:, None] + offs[:, 1]).ravel()
    # Addresses whose parent collapse exceeds the base table's one-cell
    # overhang (k >= 2 at coarse res) must hop to their containing chart
    # first; addresses already in range are left untouched so the validated
    # k=1 behavior (incl. pentagon folds) is bit-identical.
    bad = ~_collapses_in_table(f, a, b, res)
    if bad.any():
        fb, ab, bb = f[bad], a[bad], b[bad]
        res_cii, oa, ob = res, ab, bb
        if res % 2 == 1:
            ab, bb = _down(ab, bb, False)
            res_cii = res + 1
        adj = np.zeros(ab.shape, bool)
        for _ in range(4):
            fb, ab, bb, over = _adjust_overage(
                fb, ab, bb, res_cii, np.zeros(ab.shape, bool)
            )
            adj |= over
            if not over.any():
                break
        if res % 2 == 1:
            ua, ub = _up(ab, bb, False)
            ab = np.where(adj, ua, oa)
            bb = np.where(adj, ub, ob)
        f[bad], a[bad], b[bad] = fb, ab, bb
    ids = _axial_to_cell(f, a, b, res).reshape(cell.size, m)
    return [np.unique(row) for row in ids]


def _collapses_in_table(face, ai, aj, res: int) -> np.ndarray:
    """True where the address's parent collapse lands inside the 5x5 base
    table (the range _axial_to_cell can absorb)."""
    a, b = np.asarray(ai, dtype=np.int64), np.asarray(aj, dtype=np.int64)
    for rl in range(res, 0, -1):
        a, b = _up(a, b, rl % 2 == 1)
    ok = (np.abs(a) <= 2) & (np.abs(b) <= 2)
    safe_a = np.where(ok, a, 0)
    safe_b = np.where(ok, b, 0)
    return ok & (_BASE[np.asarray(face), safe_a + 2, safe_b + 2] >= 0)


def grid_ring_table(cells: np.ndarray, k: int = 1):
    """(cell, neighbor) int64 pair arrays for a batch — the flattened edge
    list grid_disk induces (self-pairs excluded).  Feed for DataFrame
    explode-style neighbor joins."""
    disks = grid_disk(cells, k)
    cells = np.asarray(cells, dtype=np.int64).ravel()
    src = np.concatenate(
        [np.full(len(d), c, dtype=np.int64) for c, d in zip(cells, disks)]
    ) if len(cells) else np.empty(0, dtype=np.int64)
    dst = np.concatenate(disks) if len(cells) else np.empty(0, dtype=np.int64)
    keep = src != dst
    return src[keep], dst[keep]


# --- polygonToCells (H3 polyfill: cells whose CENTER is in the polygon) ------

def polygon_to_cells(ring, holes, res: int) -> np.ndarray:
    """H3 polygonToCells for one polygon (fixed-point 1e-7 deg ring/holes,
    CLOSED rings — first vertex == last, the ADMIN_BOUNDARY_SCHEMA
    contract geom.polygon_edges expects): all cells at ``res`` whose
    center lies inside.

    Method: a covering point grid over the (margin-padded, wrap-split) bbox
    at <= half the minimum angular cell inradius guarantees every candidate
    cell receives a sample; encode + unique gives the candidate set; the
    EXACT decoded centers (cell_to_latlng, overage-correct) are then
    ray-cast against the polygon — so membership is H3's own
    center-containment semantics, not a sampling approximation.
    Completeness and membership are property-tested via grid_disk closure
    (tests/test_h3real.py).  Polar-cap polygons (ring enclosing a pole) are
    out of scope for the bbox sweep and raise."""
    from osmgraft.geom import pnpoly

    sw = _fill_sweep(ring, holes, res)
    inside = pnpoly(sw["clat7"], sw["clon7_pip"], sw["edges"])
    return sw["cand"][inside]


def _fill_sweep(ring, holes, res: int) -> dict:
    """Shared bbox-sweep scaffold behind :func:`polygon_to_cells` and its
    DuckDB twin (:func:`sql_h3_polyfill_oracle`): candidate cells, their
    EXACT fixed-point centers (encode frame + wrap-shifted PIP frame), the
    even-odd edge table, and the literal lattice parameters the twin
    replays with ``generate_series`` in SQL.  One construction keeps both
    sides sweeping the same sample family; membership (encode + PIP) is
    re-decided independently on each side."""
    from osmgraft.geom import polygon_edges

    ring = np.asarray(ring, dtype=np.int64)
    if not np.array_equal(ring[0], ring[-1]):
        raise ValueError("ring must be closed (first vertex == last)")
    lat_lo, lat_hi = ring[:, 0].min() / 1e7, ring[:, 0].max() / 1e7
    lons = ring[:, 1] / 1e7
    wrap = lons.max() - lons.min() > 180.0  # fixture contract: wrapped ring
    if wrap:
        # unwrapped frame: negative lons shifted +360 so the ring (and the
        # center ray-cast below) is contiguous across the antimeridian
        ring = ring.copy()
        ring[:, 1] = np.where(ring[:, 1] < 0, ring[:, 1] + LON_SPAN, ring[:, 1])
        holes = [
            [(p[0], p[1] + LON_SPAN if p[1] < 0 else p[1]) for p in hh]
            for hh in holes
        ]
    edges = polygon_edges({"ring": [tuple(p) for p in ring],
                           "holes": [[tuple(p) for p in h] for h in holes]})
    if lat_hi > 89.0 or lat_lo < -89.0:
        raise ValueError("polar-cap polygons unsupported by the bbox sweep")
    # min angular pitch: tan-space lattice pitch compressed by the worst
    # gnomonic distortion cos^2(face circumradius ~37.4deg) ~ 0.63
    pitch = np.degrees(_RES0_U_GNOMONIC / _SQRT7 ** res)
    s = pitch * 0.63 / 2 * 0.9
    margin = 4 * s
    lat_base = lat_lo - margin
    glat_full = np.arange(lat_base, lat_hi + margin + s, s)
    keep = (glat_full > -89.9) & (glat_full < 89.9)
    glat = glat_full[keep]
    lat_k0 = int(np.nonzero(keep)[0][0]) if keep.any() else 0
    # physical lon spacing is slon*cos(lat), LARGEST at the smallest |lat|
    # in the box — that latitude is the binding covering constraint (using
    # max|lat| here under-sampled the low-latitude band; caught in review)
    lat_minabs = 0.0 if lat_lo <= 0.0 <= lat_hi else min(abs(lat_lo), abs(lat_hi))
    slon = s / max(np.cos(np.radians(lat_minabs)), 0.05)
    if wrap:
        east = lons[lons > 0].min()
        west = lons[lons < 0].max()
        lon_parts = [
            np.arange(east - margin, 180.0, slon),
            np.arange(-180.0, west + margin + slon, slon),
        ]
        lon_specs = [(east - margin, len(lon_parts[0]), slon),
                     (-180.0, len(lon_parts[1]), slon)]
        glon = np.concatenate(lon_parts)
    else:
        glon = np.arange(lons.min() - margin, lons.max() + margin + slon, slon)
        lon_specs = [(lons.min() - margin, len(glon), slon)]
    la = np.repeat(glat, len(glon))
    lo = np.tile(glon, len(glat))
    lo = np.mod(lo + 180.0, 360.0) - 180.0
    cand = np.unique(latlng_to_cell(
        np.round(la * 1e7).astype(np.int64),
        np.round(lo * 1e7).astype(np.int64), res))
    cla, clo = cell_to_latlng(cand)
    # np.round here is half-EVEN while the SQL twin's round() is
    # half-AWAY; they agree except at an exact .5 double, where the two
    # lattices would silently desync and flip the gate spuriously. There
    # is no Niven-style no-tie argument for arbitrary latd*1e7 doubles
    # (unlike the DCT-basis twin), so instead of assuming measure-zero we
    # CHECK it at twin-build time: any exact tie fails loudly here rather
    # than shipping a desynced oracle.
    for arr in (la * 1e7, lo * 1e7, cla * 1e7, clo * 1e7):
        frac = np.abs(arr - np.floor(arr) - 0.5)
        if frac.size and float(frac.min()) == 0.0:
            raise AssertionError(
                "polyfill lattice hit an exact .5 quantization tie — "
                "np.round (half-even) and SQL round() (half-away) would "
                "desync; nudge the sweep spec or pin floor(x+0.5) on both"
            )
    clat7 = np.round(cla * 1e7).astype(np.int64)
    clon7_enc = np.round(clo * 1e7).astype(np.int64)
    if wrap:
        clon7_pip = np.where(clon7_enc < 0, clon7_enc + LON_SPAN, clon7_enc)
    else:
        clon7_pip = clon7_enc
    return {
        "cand": cand, "clat7": clat7, "clon7_enc": clon7_enc,
        "clon7_pip": clon7_pip, "edges": edges, "wrap": wrap,
        "lat_spec": (lat_base, lat_k0, len(glat), s), "lon_specs": lon_specs,
    }


def sql_h3_polyfill_oracle(polys: list[dict], res: int) -> str:
    """DuckDB twin of ``polygon_to_cells`` over a boundary fixture list —
    converts the polyfill query from rows-only to hash-gated.

    Twin independence is layered the way the other H3 twins are:

    * the CANDIDATE sweep is re-run in SQL — the per-boundary lattice specs
      from :func:`_fill_sweep` expand through ``generate_series`` and every
      lattice point goes through :func:`sql_h3_cell`'s from-scratch encoder
      chain (NOT the engine's numpy kernel); a candidate cell the SQL sweep
      finds but the engine-seeded set lacks surfaces as a sentinel row
      (cell = -1, the ``orphan`` CTE) so engine UNDER-coverage flips the
      hash red rather than being silently inner-joined away;
    * the CENTERS are seeded as exact fixed-point literals (decode has its
      own independent gate: the center-child bit-math oracle of
      `h3_center_child_r7_r9`) and every seeded center is re-encoded by the
      SQL encoder — a drifted center whose encode no longer returns its own
      cell drops the row and flips the gate red;
    * MEMBERSHIP is the shared even-odd PIP expression text
      (geom.sql_pip_predicate shape) over the seeded centers, evaluated on
      the same IEEE doubles as the numpy kernel — bit-identical booleans.

    Residual untested sliver: a decode drift small enough to stay inside
    its own cell yet large enough to cross the polygon edge — bounded by
    the center-child gate to sub-inradius scales and measure-zero in the
    fixtures (no center sits within float-ulp of an edge)."""
    spec_rows, seed_rows, edge_rows = [], [], []
    seq = 0
    sid = 0
    for b in polys:
        sw = _fill_sweep(b["ring"], b["holes"], res)
        bid = int(b["boundary_id"])
        lat_base, lat_k0, nlat, s = sw["lat_spec"]
        for lon_base, nlon, slon in sw["lon_specs"]:
            spec_rows.append(
                f"({sid},{bid},{float(lat_base)!r},{lat_k0},{nlat},"
                f"{float(s)!r},{float(lon_base)!r},{nlon},{float(slon)!r})")
            sid += 1
        for c, la7, loe, lop in zip(
            sw["cand"], sw["clat7"], sw["clon7_enc"], sw["clon7_pip"]
        ):
            seed_rows.append(f"({seq},{bid},{int(c)},{int(la7)},{int(loe)},{int(lop)})")
            seq += 1
        for y1, x1, y2, x2 in sw["edges"]:
            edge_rows.append(
                f"({bid},{float(y1)!r},{float(x1)!r},{float(y2)!r},{float(x2)!r})")
    lattice_pts = (
        "SELECT sid*10000000000 + i*nlon + j AS point_id,"
        " CAST(round(latd*10000000.0) AS BIGINT) AS lat7,"
        " CAST(round((fmod(fmod(lonb + j*slon + 180.0, 360.0) + 360.0, 360.0)"
        " - 180.0)*10000000.0) AS BIGINT) AS lon7 FROM lon_j"
    )
    seed_pts = "SELECT seq AS point_id, clat7 AS lat7, clon7e AS lon7 FROM seed"
    return f"""WITH specs(sid, bid, latb, k0, nlat, s, lonb, nlon, slon) AS (VALUES
    {",".join(spec_rows)}),
lat_i AS (SELECT sid, bid, latb, k0, s, lonb, nlon, slon,
                 unnest(generate_series(0, nlat - 1)) AS i FROM specs),
lon_j AS (SELECT sid, bid, latb + (k0 + i)*s AS latd, i, lonb, slon, nlon,
                 unnest(generate_series(0, nlon - 1)) AS j FROM lat_i),
lenc AS ({sql_h3_cell(lattice_pts, res, per_point=True)}),
cand AS (SELECT DISTINCT s.bid, e.cell
         FROM lenc e JOIN specs s ON s.sid = e.point_id // 10000000000),
seed(seq, bid, cell, clat7, clon7e, clon7p) AS (VALUES
    {",".join(seed_rows)}),
senc AS ({sql_h3_cell(seed_pts, res, per_point=True)}),
ver AS (SELECT sd.bid, sd.cell, sd.clat7, sd.clon7p
        FROM seed sd JOIN senc e ON e.point_id = sd.seq AND e.cell = sd.cell),
cv AS (SELECT v.bid, v.cell, v.clat7, v.clon7p
       FROM cand c JOIN ver v ON v.bid = c.bid AND v.cell = c.cell),
orphan AS (SELECT DISTINCT c.bid, CAST(-1 AS BIGINT) AS cell
           FROM cand c WHERE NOT EXISTS (
             SELECT 1 FROM ver v WHERE v.bid = c.bid AND v.cell = c.cell)),
pedges(bid, y1, x1, y2, x2) AS (VALUES
    {",".join(edge_rows)}),
crossings AS (SELECT cv.bid, cv.cell,
  CASE WHEN ((e.y1 > CAST(cv.clat7 AS DOUBLE)) <> (e.y2 > CAST(cv.clat7 AS DOUBLE)))
    AND (CAST(cv.clon7p AS DOUBLE) <
         (e.x2 - e.x1) * (CAST(cv.clat7 AS DOUBLE) - e.y1) / (e.y2 - e.y1) + e.x1)
  THEN 1 ELSE 0 END AS c
  FROM cv JOIN pedges e ON e.bid = cv.bid)
SELECT bid AS boundary_id, cell FROM crossings
GROUP BY bid, cell HAVING sum(c) % 2 = 1
UNION ALL
SELECT bid AS boundary_id, cell FROM orphan"""


# --- cellToBoundary (hexagons; substrate-grid vertices per faceijk.c) --------
#
# H3 defines cell vertices on a "substrate" grid: the center moves through
# aperture-3 + aperture-3r (and, for Class III, one aperture-7r) downscales,
# after which the six vertex offsets are fixed lattice vectors; each vertex
# is then INDEPENDENTLY overage-adjusted into its true face chart
# (substrate variant: maxDim and unitScale scale by 3) and inverse-gnomonic
# projected with the substrate magnitude corrections (/3, and /sqrt7 for
# Class III).  Class III cell edges can cross an icosahedron edge: H3 adds
# the 2D intersection point with the face triangle as an extra boundary
# vertex — reproduced here.  Pentagons use a different algorithm (their 5
# vertices all distort) and raise for now; hexagon parity is what the
# raster/vector bridge needs.

# axial forms of coordijk.c downAp3 / downAp3r (aperture-3 lattice maps)
_AP3 = np.array([[1, 1], [-1, 2]], dtype=np.int64)     # (a,b) -> (a+b, 2b-a)
_AP3R = np.array([[2, -1], [1, 1]], dtype=np.int64)    # (a,b) -> (2a-b, a+b)
# vertex offsets (axial) of an origin cell on the substrate grid
_VERTS_CII = np.array([(2, 1), (1, 2), (-1, 1), (-2, -1), (-1, -2), (1, -1)],
                      dtype=np.int64)
_VERTS_CIII = np.array([(5, 4), (1, 5), (-4, 1), (-5, -4), (-1, -5), (4, -1)],
                       dtype=np.int64)
# direction (IJ=1/KI=2/JK=3) of each adjacent face, inverted from _FACE_NEIGH
_ADJ_DIR = {}
for (_f, _q), (_g, _r, _ti, _tj) in _FACE_NEIGH.items():
    _ADJ_DIR[(_f, _g)] = _q


def _axial_to_xy(a, b):
    return a - 0.5 * b, b * _SIN60


def _chart_to_latlng(x, y, face, substrate_cii):
    """Inverse gnomonic of chart coords on `face`; magnitudes carry the
    substrate (/3) and Class-III (/sqrt7 — substrate_cii is res+1)
    corrections."""
    rr = np.hypot(x, y)
    theta = np.arctan2(y, x)
    # substrate grids are Class II at adjRes: no extra lattice twist term
    dist = np.arctan(rr * _RES0_U_GNOMONIC / (3.0 * _SQRT7 ** substrate_cii))
    az = _FACE_AZ0[face] - theta
    lat1 = _FACE_CENTER_GEO[face, 0]
    lng1 = _FACE_CENTER_GEO[face, 1]
    sl2 = np.sin(lat1) * np.cos(dist) + np.cos(lat1) * np.sin(dist) * np.cos(az)
    lat2 = np.arcsin(np.clip(sl2, -1, 1))
    y2 = np.sin(az) * np.sin(dist) * np.cos(lat1)
    x2 = np.cos(dist) - np.sin(lat1) * sl2
    lng2 = lng1 + np.arctan2(y2, x2)
    return (np.degrees(lat2),
            np.degrees(np.arctan2(np.sin(lng2), np.cos(lng2))))


def _adjust_overage_scalar(face, a, b, res_cii, substrate):
    """Single-address _adjustOverageClassII; returns (face, a, b, overage)
    with overage in {0: none, 1: new face, 2: on edge}."""
    maxdim = 2 * 7 ** (res_cii // 2)
    us = 7 ** (res_cii // 2)
    if substrate:
        maxdim *= 3
        us *= 3
    m = min(a, b, 0)
    i, j, k = a - m, b - m, -m
    s = i + j + k
    if substrate and s == maxdim:
        return face, a, b, 2
    if s <= maxdim:
        return face, a, b, 0
    if k > 0:
        q = 3 if j > 0 else 2
    else:
        q = 1
    g, rot, ti, tj = _FACE_NEIGH[(face, q)]
    for _ in range(rot):
        a, b = a - b, a
    a, b = a + ti * us, b + tj * us
    if substrate:
        m = min(a, b, 0)
        if (a - m) + (b - m) + (-m) == maxdim:
            return g, a, b, 2
    return g, a, b, 1


def cell_to_boundary(cell: int) -> np.ndarray:
    """(n_verts, 2) [lat_deg, lng_deg] boundary of a HEXAGON cell, ccw from
    the i-axis vertex — H3 _faceIjkToCellBoundary parity incl. Class III
    icosahedron-edge distortion vertices.  Pentagons route to the
    _faceIjkPentToCellBoundary twin (5 base vertices, every vertex
    overage-hopped off the home face, Class III distortion points on every
    edge)."""
    cell = int(cell)
    if bool(is_pentagon(np.array([cell]))[0]):
        return _pent_boundary(cell)
    farr, aarr, barr, res = _to_face_axial(np.array([cell], dtype=np.int64))
    face, a, b = int(farr[0]), int(aarr[0]), int(barr[0])
    class3 = res % 2 == 1
    # center into the substrate grid: downAp3 then downAp3r (then 7r for CIII)
    a, b = int(_AP3[0, 0] * a + _AP3[0, 1] * b), int(_AP3[1, 0] * a + _AP3[1, 1] * b)
    a, b = int(_AP3R[0, 0] * a + _AP3R[0, 1] * b), int(_AP3R[1, 0] * a + _AP3R[1, 1] * b)
    adj = res
    if class3:
        a, b = 3 * a - b, a + 2 * b  # _downAp7r (axial form)
        adj = res + 1
    verts = _VERTS_CIII if class3 else _VERTS_CII
    vaddr = [(a + int(va), b + int(vb)) for va, vb in verts]
    out = []
    last_face, last_overage = -1, 0
    for vert in range(7):  # extra iteration to test the closing edge
        v = vert % 6
        va, vb = vaddr[v]
        f2, a2, b2, overage = _adjust_overage_scalar(face, va, vb, adj, True)
        if class3 and vert > 0 and f2 != last_face and last_overage != 2:
            # the edge crossed an icosahedron edge: add the 2D intersection
            # with the face triangle (in the CENTER face's chart)
            lastv = (v + 5) % 6
            x0, y0 = _axial_to_xy(*vaddr[lastv])
            x1, y1 = _axial_to_xy(*vaddr[v])
            maxdim = 3 * 2 * 7 ** (adj // 2)
            corners = {  # axial forms of {3maxDim,0,0},{0,3maxDim,0},{0,0,3maxDim}
                0: (maxdim, 0),
                1: (0, maxdim),
                2: (-maxdim, -maxdim),
            }
            face2 = f2 if last_face == face else last_face
            d = _ADJ_DIR[(face, face2)]
            e0, e1 = {1: (0, 1), 3: (1, 2), 2: (2, 0)}[d]
            ex0, ey0 = _axial_to_xy(*corners[e0])
            ex1, ey1 = _axial_to_xy(*corners[e1])
            # 2D segment intersection (H3 _v2dIntersect: infinite-line form)
            s1x, s1y = x1 - x0, y1 - y0
            s2x, s2y = ex1 - ex0, ey1 - ey0
            den = -s2x * s1y + s1x * s2y
            if den != 0:
                t = (s2x * (y0 - ey0) - s2y * (x0 - ex0)) / den
                ix, iy = x0 + t * s1x, y0 + t * s1y
                if not ((abs(ix - x0) < 1e-9 and abs(iy - y0) < 1e-9)
                        or (abs(ix - x1) < 1e-9 and abs(iy - y1) < 1e-9)):
                    out.append(_chart_to_latlng(
                        np.array([ix]), np.array([iy]), face, adj))
        if vert < 6:
            x, y = _axial_to_xy(a2, b2)
            out.append(_chart_to_latlng(
                np.array([x]), np.array([y]), f2, adj))
        last_face, last_overage = f2, overage
    return np.array([(la[0], lo[0]) for la, lo in out])


# --- pentagon boundaries (faceijk.c _faceIjkPentToCellBoundary parity) -------

_PENT_VERTS_CII = _VERTS_CII[:5]
_PENT_VERTS_CIII = _VERTS_CIII[:5]


def _rot_translate_into(face_from, a, b, target_dir_face, adj):
    """Apply faceNeighbors[face_from][dir(face_from->target)] to (a, b) on
    the substrate grid (unitScale x3) — the frame hop H3 uses to express a
    vertex in an adjacent face's chart."""
    d = _ADJ_DIR[(face_from, target_dir_face)]
    g, rot, ti, tj = _FACE_NEIGH[(face_from, d)]
    for _ in range(rot):
        a, b = a - b, a
    us = 7 ** (adj // 2) * 3
    return g, a + ti * us, b + tj * us


def _pent_boundary(cell: int) -> np.ndarray:
    farr, aarr, barr, res = _to_face_axial(np.array([cell], dtype=np.int64))
    face, a, b = int(farr[0]), int(aarr[0]), int(barr[0])
    class3 = res % 2 == 1
    a, b = 3 * a, 3 * b  # downAp3 . downAp3r == scale by 3 (axial)
    adj = res
    if class3:
        a, b = 3 * a - b, a + 2 * b  # downAp7r
        adj = res + 1
    verts = _PENT_VERTS_CIII if class3 else _PENT_VERTS_CII
    # every pentagon vertex overages (possibly repeatedly) off the home face
    vlist = []
    for va, vb in verts:
        f2, a2, b2 = face, a + int(va), b + int(vb)
        for _ in range(4):
            f2, a2, b2, ov = _adjust_overage_scalar(f2, a2, b2, adj, True)
            if ov != 1:
                break
        vlist.append((f2, a2, b2))
    out = []
    last = None
    for vert in range(6):  # extra iteration closes the ring
        f2, a2, b2 = vlist[vert % 5]
        if class3 and vert > 0:
            lf, la_, lb_ = last
            # previous vertex in ITS OWN face frame
            x0, y0 = _axial_to_xy(la_, lb_)
            # current vertex re-expressed in the LAST face's frame
            gf, ga, gb = _rot_translate_into(f2, a2, b2, lf, adj)
            x1, y1 = _axial_to_xy(ga, gb)
            maxdim = 3 * 2 * 7 ** (adj // 2)
            corners = {0: (maxdim, 0), 1: (0, maxdim), 2: (-maxdim, -maxdim)}
            d = _ADJ_DIR[(lf, f2)]
            e0, e1 = {1: (0, 1), 3: (1, 2), 2: (2, 0)}[d]
            ex0, ey0 = _axial_to_xy(*corners[e0])
            ex1, ey1 = _axial_to_xy(*corners[e1])
            s1x, s1y = x1 - x0, y1 - y0
            s2x, s2y = ex1 - ex0, ey1 - ey0
            den = -s2x * s1y + s1x * s2y
            if den != 0:
                t = (s2x * (y0 - ey0) - s2y * (x0 - ex0)) / den
                ix, iy = x0 + t * s1x, y0 + t * s1y
                if not ((abs(ix - x0) < 1e-9 and abs(iy - y0) < 1e-9)
                        or (abs(ix - x1) < 1e-9 and abs(iy - y1) < 1e-9)):
                    out.append(_chart_to_latlng(
                        np.array([ix]), np.array([iy]), lf, adj))
        if vert < 5:
            x, y = _axial_to_xy(a2, b2)
            out.append(_chart_to_latlng(np.array([x]), np.array([y]), f2, adj))
        last = (f2, a2, b2)
    return np.array([(la[0], lo[0]) for la, lo in out])
