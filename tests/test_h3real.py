"""Uber-H3 compatibility gates for functions/h3real.py.

Every expected value here is PUBLIC H3 data (h3geo.org docs, h3-py README,
h3 C library baseCells.c) — none is generated by this engine, so these are
external-truth tests, not self-consistency pins.
"""

from __future__ import annotations

import numpy as np
import pytest

from osmgraft.functions import h3real as h


# --- published latLngToCell vectors -------------------------------------------
VECTORS = [
    # (lat7, lon7, res, expected id) — h3geo.org quickstart / h3-py README
    (377752702, -1224183072, 9, 0x8928308280FFFFF),
    (373615593, -1220553238, 5, 0x85283473FFFFFFF),
    (488566000, 23522000, 9, 0x891FB466257FFFF),  # nonzero base-cell rotation
    (0, 0, 0, 0x8075FFFFFFFFFFF),
]


def test_published_latlng_to_cell_vectors():
    lat = np.array([v[0] for v in VECTORS], dtype=np.int64)
    lon = np.array([v[1] for v in VECTORS], dtype=np.int64)
    for (la, lo, res, want) in VECTORS:
        got = int(h.latlng_to_cell(np.array([la]), np.array([lo]), res)[0])
        assert got == want, (hex(got), hex(want))


def test_published_cell_centers():
    """cellToLatLng twins from H3 docs (interior cells — replay is exact)."""
    la, lo = h.cell_to_latlng(np.array([0x8928308280FFFFF]))
    assert abs(la[0] - 37.77670234943567) < 1e-9
    assert abs(lo[0] - (-122.41845932318311)) < 1e-9
    la, lo = h.cell_to_latlng(np.array([0x85283473FFFFFFF]))
    assert abs(la[0] - 37.34579337536848) < 1e-9
    assert abs(lo[0] - (-121.97637597255124)) < 1e-9


def test_pentagon_base_cells():
    """The 12 pentagon base cells (public H3 constant)."""
    want = [4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117]
    assert sorted(h._PENT_CELLS) == want
    # '821c07fffffffff' is a pentagon cell (h3 docs is_pentagon example)
    assert bool(h.is_pentagon(np.array([0x821C07FFFFFFFFF]))[0])
    assert not bool(h.is_pentagon(np.array([0x8928308280FFFFF]))[0])


def test_face_ijk_base_cells_face0_golden():
    """faceIjkBaseCells face-0 block from H3 baseCells.c — 27 (cell, rot)
    entries including the rotation values that canonicalize digits."""
    want = {
        (0, 0, 0): (16, 0), (0, 0, 1): (18, 0), (0, 0, 2): (24, 0),
        (0, 1, 0): (33, 0), (0, 1, 1): (30, 0), (0, 1, 2): (32, 3),
        (0, 2, 0): (49, 1), (0, 2, 1): (48, 3), (0, 2, 2): (50, 3),
        (1, 0, 0): (8, 0), (1, 0, 1): (5, 5), (1, 0, 2): (10, 5),
        (1, 1, 0): (22, 0), (1, 1, 1): (16, 0), (1, 1, 2): (18, 0),
        (1, 2, 0): (41, 1), (1, 2, 1): (33, 0), (1, 2, 2): (30, 0),
        (2, 0, 0): (4, 0), (2, 0, 1): (0, 5), (2, 0, 2): (2, 5),
        (2, 1, 0): (15, 1), (2, 1, 1): (8, 0), (2, 1, 2): (5, 5),
        (2, 2, 0): (31, 1), (2, 2, 1): (22, 0), (2, 2, 2): (16, 0),
    }
    for (i, j, k), (cell, rot) in want.items():
        mn = min(i, j, k)
        ax = ((i - mn) - (k - mn), (j - mn) - (k - mn))
        assert int(h._BASE[0, ax[0] + 2, ax[1] + 2]) == cell, (i, j, k)
        assert int(h._ROT[0, ax[0] + 2, ax[1] + 2]) == rot, (i, j, k)


def test_face_constants_are_exact_icosahedron():
    """The embedded face constants self-verify: centers form a perfect
    icosahedron; each azimuth points at a derived vertex to 1e-12."""
    d = h._FACE_XYZ @ h._FACE_XYZ.T
    off = d[np.triu_indices(20, 1)]
    legal = np.array([-1.0, -np.sqrt(5) / 3, -1 / 3, 1 / 3, np.sqrt(5) / 3])
    assert np.abs(off[:, None] - legal[None, :]).min(axis=1).max() < 1e-12


def _fib(n):
    i = np.arange(n, dtype=float)
    phi = (1 + 5 ** 0.5) / 2
    lat = np.arcsin(1 - 2 * (i + 0.5) / n)
    lng = np.mod((i / phi) * 2 * np.pi + np.pi, 2 * np.pi) - np.pi
    return ((np.degrees(lat) * 1e7).astype(np.int64),
            (np.degrees(lng) * 1e7).astype(np.int64))


@pytest.mark.parametrize("res,expect", [(0, 122), (1, 842), (2, 5882)])
def test_global_cell_counts(res, expect):
    """Exact published cell-count-per-resolution; any table error merges or
    splits cells and breaks the count."""
    lat7, lon7 = _fib(400_000)
    ids = h.latlng_to_cell(lat7, lon7, res)
    assert len(np.unique(ids)) == expect


def test_parent_child_and_roundtrip():
    rng = np.random.default_rng(42)
    lat7 = (np.degrees(np.arcsin(rng.uniform(-1, 1, 5000))) * 1e7).astype(np.int64)
    lon7 = rng.integers(-1_800_000_000, 1_800_000_000, 5000)
    c9 = h.latlng_to_cell(lat7, lon7, 9)
    c7 = h.latlng_to_cell(lat7, lon7, 7)
    # REAL H3 semantics: aperture-7 children do NOT nest geographically
    # (child cells overhang the parent hexagon), so truncated-parent ==
    # direct-encode only away from parent boundaries — ~94% of points.
    # Exact equality everywhere would be an exactly nesting lattice, not H3.
    rate = (h.to_parent(c9, 7) == c7).mean()
    assert 0.90 < rate < 0.99, rate
    assert (h.get_resolution(c9) == 9).all()
    assert (h.get_resolution(h.to_parent(c9, 7)) == 7).all()
    # center roundtrip: EXACT everywhere since round 3 (overage face-hop
    # in cell_to_latlng — off-home-face cells no longer drift)
    la, lo = h.cell_to_latlng(c7)
    back = h.latlng_to_cell((np.round(la * 1e7)).astype(np.int64),
                            (np.round(lo * 1e7)).astype(np.int64), 7)
    assert (back == c7).all()


def test_center_roundtrip_exact_all_res():
    """Re-encoding every decoded center returns its cell: the FULL global
    cell set at res 0-3 (every pentagon child path included) and random
    global sweeps at res 5/9/13 (Class III and II, deep digit chains)."""
    rng = np.random.default_rng(7)
    n = 60_000
    lon = rng.uniform(-180, 180, n)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
    lat7 = (lat * 1e7).astype(np.int64)
    lon7 = (lon * 1e7).astype(np.int64)
    for res, expect_all in ((0, 122), (1, 842), (2, 5882), (3, 40748)):
        cells = np.unique(h.latlng_to_cell(lat7, lon7, res))
        if res <= 1:
            assert len(cells) == expect_all  # sweep saturates the level
        la, lo = h.cell_to_latlng(cells)
        back = h.latlng_to_cell((np.round(la * 1e7)).astype(np.int64),
                                (np.round(lo * 1e7)).astype(np.int64), res)
        assert (back == cells).all(), res
    for res in (5, 9, 13):
        cells = np.unique(h.latlng_to_cell(lat7, lon7, res))
        la, lo = h.cell_to_latlng(cells)
        back = h.latlng_to_cell((np.round(la * 1e7)).astype(np.int64),
                                (np.round(lo * 1e7)).astype(np.int64), res)
        assert (back == cells).all(), res


def test_string_roundtrip():
    c = h.latlng_to_cell(np.array([377752702]), np.array([-1224183072]), 9)
    s = h.cell_to_string(c)
    assert s[0] == "8928308280fffff"
    assert int(h.string_to_cell(s)[0]) == int(c[0])


def test_sql_twin_matches_kernel():
    """The DuckDB oracle twin (sql_h3_cell) is bit-identical to the numpy
    encoder — random global points plus dense caps around every res-0
    pentagon (exercising the leading-K fixup and rotation unroll)."""
    import duckdb
    import pandas as pd

    rng = np.random.default_rng(42)
    n = 30_000
    lat7 = rng.integers(-900_000_000, 900_000_001, n, dtype=np.int64)
    lon7 = rng.integers(-1_800_000_000, 1_800_000_000, n, dtype=np.int64)
    pent_ids = np.array(
        [(1 << 59) | (b << 45) | int("7" * 15, 8) for b in h._PENT_CELLS],
        dtype=np.int64)
    pla, plo = h.cell_to_latlng(pent_ids)
    cap_lat = np.clip(
        (np.repeat(pla, 1000) + rng.normal(0, 2, 12_000)) * 1e7,
        -899_999_999, 899_999_999).astype(np.int64)
    cap_lon = ((((np.repeat(plo, 1000) + rng.normal(0, 2, 12_000)) * 1e7)
                + 1_800_000_000) % 3_600_000_000 - 1_800_000_000).astype(np.int64)
    vlat = np.concatenate([lat7, cap_lat])
    vlon = np.concatenate([lon7, cap_lon])
    con = duckdb.connect()
    con.register("p", pd.DataFrame(
        {"point_id": np.arange(len(vlat)), "lat7": vlat, "lon7": vlon}))
    for res in (7, 9):
        want = h.latlng_to_cell(vlat, vlon, res)
        sql = h.sql_h3_cell("SELECT point_id, lat7, lon7 FROM p", res)
        per_point = (sql[: sql.rindex("SELECT cell")]
                     + "SELECT point_id, cell FROM ids ORDER BY point_id")
        got = con.execute(per_point).fetchnumpy()["cell"]
        assert np.array_equal(got, want), (res, int((got != want).sum()))
        # pentagon rows really flow through the fixup path
        base = (want >> 45) & 0x7F
        assert np.isin(base, h._PENT_CELLS).sum() > 10_000


def test_parent_bit_expr_matches_to_parent():
    """The JVM Column bit expression used by h3_rollup_r9_to_r7 equals
    h3real.to_parent on random res-9 cells."""
    rng = np.random.default_rng(3)
    lat7 = rng.integers(-900_000_000, 900_000_001, 5000, dtype=np.int64)
    lon7 = rng.integers(-1_800_000_000, 1_800_000_000, 5000, dtype=np.int64)
    c9 = h.latlng_to_cell(lat7, lon7, 9)
    clear = np.int64(~((0xF << 52) | (0x3F << 18)))
    setb = np.int64((7 << 52) | (0x3F << 18))
    assert np.array_equal((c9 & clear) | setb, h.to_parent(c9, 7))


def test_grid_disk_structure():
    """Disk sizes (7 hex / 6 pentagon incl. self), symmetry, and agreement
    with an independent nearest-centers oracle (exact decoded centers)."""
    rng = np.random.default_rng(11)
    lat7, lon7 = _fib(400_000)
    cells = np.unique(h.latlng_to_cell(lat7, lon7, 2))  # saturates res 2
    assert len(cells) == 5882
    disks = h.grid_disk(cells, 1)
    sizes = np.array([len(d) for d in disks])
    pent = h.is_pentagon(cells)
    assert (sizes[~pent] == 7).all() and (sizes[pent] == 6).all()
    # symmetry over the full level
    dmap = {int(c): set(map(int, d)) for c, d in zip(cells, disks)}
    for c, nbrs in dmap.items():
        for nb in nbrs:
            if nb != c:
                assert c in dmap[nb]
    # independent oracle: disk(1) == self + 6 (5) nearest cell centers
    cla, clo = h.cell_to_latlng(cells)
    idx = {int(c): i for i, c in enumerate(cells)}
    for c in map(int, rng.choice(cells, 60, replace=False)):
        i = idx[c]
        d = (np.sin(np.radians(cla - cla[i]) / 2) ** 2
             + np.cos(np.radians(cla[i])) * np.cos(np.radians(cla))
             * np.sin(np.radians(clo - clo[i]) / 2) ** 2)
        order = np.argsort(d)
        want = {c} | {int(cells[o]) for o in order[1 : len(dmap[c])]}
        assert want == dmap[c], hex(c)


def test_grid_disk_k2():
    rng = np.random.default_rng(3)
    lat7 = rng.integers(-800_000_000, 800_000_001, 500, dtype=np.int64)
    lon7 = rng.integers(-1_800_000_000, 1_800_000_000, 500, dtype=np.int64)
    cells = np.unique(h.latlng_to_cell(lat7, lon7, 7))
    d2 = h.grid_disk(cells, 2)
    d1 = h.grid_disk(cells, 1)
    for a, b in zip(d1, d2):
        assert set(map(int, a)) <= set(map(int, b))
    sizes = np.array([len(d) for d in d2])
    assert (sizes == 19).all()  # away from pentagons: 1 + 6 + 12


def test_grid_ring_table():
    cells = np.unique(h.latlng_to_cell(
        np.array([377752702, -100000000]), np.array([-1224183072, 300000000]), 7))
    src, dst = h.grid_ring_table(cells, 1)
    assert len(src) == 12 and (src != dst).all()


def _shifted_edges(b):
    from osmgraft.geom import polygon_edges

    ring = np.asarray(b["ring"], dtype=np.int64)
    wrap = (ring[:, 1].max() - ring[:, 1].min()) > 1_800_000_000
    holes = b["holes"]
    if wrap:
        ring = ring.copy()
        ring[:, 1] = np.where(ring[:, 1] < 0, ring[:, 1] + 3_600_000_000, ring[:, 1])
        holes = [[(p[0], p[1] + 3_600_000_000 if p[1] < 0 else p[1]) for p in hh]
                 for hh in holes]
    return polygon_edges({"ring": [tuple(p) for p in ring],
                          "holes": [[tuple(p) for p in hh] for hh in holes]}), wrap


def test_polygon_to_cells_membership_and_closure():
    """H3 polyfill semantics on every fixture boundary (donut hole and
    antimeridian wrap included): every returned cell's exact center is
    inside the polygon, and no grid_disk neighbor with an inside center is
    missing (closure == completeness for a connected fill)."""
    from osmgraft.geom import pnpoly
    from osmgraft.synth import COVER_BOUNDARIES

    for b in COVER_BOUNDARIES:
        cells = h.polygon_to_cells(b["ring"], b["holes"], 4)
        edges, wrap = _shifted_edges(b)
        la, lo = h.cell_to_latlng(cells)
        lo7 = np.round(lo * 1e7).astype(np.int64)
        if wrap:
            lo7 = np.where(lo7 < 0, lo7 + 3_600_000_000, lo7)
        assert pnpoly(np.round(la * 1e7).astype(np.int64), lo7, edges).all(), b["name"]
        assert len(cells), b["name"]
        nb = np.unique(np.concatenate(h.grid_disk(cells, 1)))
        extra = np.setdiff1d(nb, cells)
        ela, elo = h.cell_to_latlng(extra)
        elo7 = np.round(elo * 1e7).astype(np.int64)
        if wrap:
            elo7 = np.where(elo7 < 0, elo7 + 3_600_000_000, elo7)
        leak = pnpoly(np.round(ela * 1e7).astype(np.int64), elo7, edges)
        assert not leak.any(), (b["name"], int(leak.sum()))


def test_grid_disk_coarse_k_hops_charts():
    """k >= 2 at res 0/1 overflows the base table's one-cell overhang; the
    overage hop must canonicalize those addresses (review fix: previously
    emitted base-cell-127 ids or raised IndexError)."""
    rng = np.random.default_rng(13)
    lat7 = rng.integers(-880_000_000, 880_000_001, 300)
    lon7 = rng.integers(-1_800_000_000, 1_800_000_000, 300)
    for res, k in ((0, 2), (0, 3), (1, 2), (2, 3)):
        cells = np.unique(h.latlng_to_cell(lat7, lon7, res))
        allc = np.unique(np.concatenate(h.grid_disk(cells, k)))
        bases = h.get_base_cell(allc)
        assert bases.min() >= 0 and bases.max() <= 121
        la, lo = h.cell_to_latlng(allc)
        back = h.latlng_to_cell((np.round(la * 1e7)).astype(np.int64),
                                (np.round(lo * 1e7)).astype(np.int64), res)
        assert (back == allc).all(), (res, k)


def test_polyfill_equator_spanning_box():
    """Review fix: the lon sampling step must bind at the SMALLEST |lat| in
    the box — an equator-to-high-lat box previously under-sampled its
    low-latitude band and silently dropped interior cells."""
    from osmgraft.geom import pnpoly, polygon_edges

    ring = [(0, 100_000_000), (0, 300_000_000), (800_000_000, 300_000_000),
            (800_000_000, 100_000_000), (0, 100_000_000)]
    cells = h.polygon_to_cells(ring, [], 2)
    nb = np.unique(np.concatenate(h.grid_disk(cells, 1)))
    extra = np.setdiff1d(nb, cells)
    ela, elo = h.cell_to_latlng(extra)
    edges = polygon_edges({"ring": ring, "holes": []})
    leak = pnpoly(np.round(ela * 1e7).astype(np.int64),
                  np.round(elo * 1e7).astype(np.int64), edges)
    assert not leak.any(), int(leak.sum())


def test_cell_to_boundary_geometry():
    """Boundary validity without an external H3 lib: interior probes toward
    every vertex re-encode to the cell (30% and 85% radii), Class III cells
    straddling icosahedron edges grow distortion vertices (7+), and
    adjacent cells agree on their shared vertices to ~1e-9 deg."""
    rng = np.random.default_rng(21)
    lat7 = rng.integers(-880_000_000, 880_000_001, 300)
    lon7 = rng.integers(-1_800_000_000, 1_800_000_000, 300)
    for res in (4, 7):
        cells = np.unique(h.latlng_to_cell(lat7, lon7, res))
        cells = cells[~h.is_pentagon(cells)][:120]
        la, lo = h.cell_to_latlng(cells)
        for c, cla, clo in zip(cells, la, lo):
            b = h.cell_to_boundary(int(c))
            assert len(b) >= 6
            for (vla, vlo) in b:
                dlo = (vlo - clo + 180) % 360 - 180
                for t in (0.3, 0.85):
                    pla = cla + t * (vla - cla)
                    plo = clo + t * dlo
                    got = int(h.latlng_to_cell(
                        np.array([int(pla * 1e7)]),
                        np.array([int(round(((plo + 180) % 360 - 180) * 1e7))]),
                        res)[0])
                    assert got == int(c)
    # dense cap over a face edge: distortion vertices appear at odd res
    f0, f4 = h._FACE_CENTER_GEO[0], h._FACE_CENTER_GEO[4]
    mla = np.degrees((f0[0] + f4[0]) / 2)
    mlo = np.degrees((f0[1] + f4[1]) / 2)
    lat7 = ((mla + rng.normal(0, 3, 15000)) * 1e7).astype(np.int64)
    lon7 = ((mlo + rng.normal(0, 3, 15000)) * 1e7).astype(np.int64)
    cells = np.unique(h.latlng_to_cell(lat7, lon7, 5))
    cells = cells[~h.is_pentagon(cells)]
    sizes = [len(h.cell_to_boundary(int(c))) for c in cells]
    assert max(sizes) >= 7  # at least one edge-crossing cell in the cap
    # shared-vertex consistency across an adjacent pair (both 6-vertex)
    hexes = [c for c, s in zip(cells, sizes) if s == 6]
    c0 = hexes[0]
    for nb in h.grid_disk(np.array([c0]), 1)[0]:
        if nb == c0 or len(h.cell_to_boundary(int(nb))) != 6:
            continue
        b0 = h.cell_to_boundary(int(c0))
        b1 = h.cell_to_boundary(int(nb))
        shared = 0
        for v0 in b0:
            d = np.abs(b1 - v0).sum(axis=1)
            if d.min() < 1e-8:
                shared += 1
        assert shared == 2, shared  # adjacent hexagons share one edge
        break


def test_cell_to_boundary_pentagons():
    """Pentagon boundaries (the _faceIjkPentToCellBoundary twin): 5 verts
    at Class II, 10 at Class III (every edge crosses an icosahedron edge),
    interior probes re-encode to the pentagon, and EVERY vertex coincides
    with a vertex of an adjacent hexagon (cross-algorithm consistency)."""
    for res in (4, 5):
        for b in h._PENT_CELLS[:4]:
            pent = (1 << 59) | (res << 52) | (b << 45) | ((1 << (3 * (15 - res))) - 1)
            bp = h.cell_to_boundary(int(pent))
            assert len(bp) == (5 if res % 2 == 0 else 10)
            cla, clo = h.cell_to_latlng(np.array([pent]))
            cla, clo = cla[0], clo[0]
            for (vla, vlo) in bp:
                dlo = (vlo - clo + 180) % 360 - 180
                for t in (0.3, 0.8):
                    got = int(h.latlng_to_cell(
                        np.array([int((cla + t * (vla - cla)) * 1e7)]),
                        np.array([int(round((((clo + t * dlo) + 180) % 360 - 180) * 1e7))]),
                        res)[0])
                    assert got == int(pent)
            nbrs = [int(x) for x in h.grid_disk(np.array([pent]), 1)[0]
                    if int(x) != pent]
            assert len(nbrs) == 5
            nb_verts = np.vstack([h.cell_to_boundary(n) for n in nbrs])
            for v in bp:
                assert np.abs(nb_verts - v).sum(axis=1).min() < 1e-7


def test_cell_to_boundary_matches_center_centroids():
    """Independent truth for interior cells: each hexagon vertex equals the
    gnomonic-chart centroid of the 3 cell centers sharing it (exact decode
    makes the centers exact).  Both resolution classes."""
    for res in (4, 5):
        fla = np.degrees(h._FACE_CENTER_GEO[0][0])
        flo = np.degrees(h._FACE_CENTER_GEO[0][1])
        c = int(h.latlng_to_cell(np.array([int(fla * 1e7)]),
                                 np.array([int(flo * 1e7)]), res)[0])
        nbrs = [int(x) for x in h.grid_disk(np.array([c]), 1)[0] if int(x) != c]
        cla, clo = h.cell_to_latlng(np.array([c] + nbrs))

        def chart(lat_deg, lon_deg):
            lat, lon = np.radians(lat_deg), np.radians(lon_deg)
            r = h._geo_dist(h._FACE_CENTER_GEO[0, 0], h._FACE_CENTER_GEO[0, 1], lat, lon)
            th = h._pos_angle(h._FACE_AZ0[0] - h._pos_angle(
                h._geo_az(h._FACE_CENTER_GEO[0, 0], h._FACE_CENTER_GEO[0, 1], lat, lon)))
            return np.tan(r) * np.cos(th), np.tan(r) * np.sin(th)

        cx, cy = chart(cla, clo)
        ang = np.arctan2(cy[1:] - cy[0], cx[1:] - cx[0])
        order = np.argsort(ang)
        want = set()
        for i in range(6):
            a, b = order[i] + 1, order[(i + 1) % 6] + 1
            want.add((round((cx[0] + cx[a] + cx[b]) / 3, 9),
                      round((cy[0] + cy[a] + cy[b]) / 3, 9)))
        bnd = h.cell_to_boundary(c)
        bx, by = chart(bnd[:, 0], bnd[:, 1])
        got = {(round(x, 9), round(y, 9)) for x, y in zip(bx, by)}
        assert got == want, (res, got ^ want)
