"""PIP truth table (FIXTURES.md golden_pip cases), STR-tree candidate
correctness, and the PIP join operator incl. semi/anti."""

import numpy as np

from osmgraft.geom import STRTree, pnpoly, pnpoly_int, pnpoly_pairs, polygon_bbox, polygon_edges
from osmgraft.operators.pip import pip_join
from osmgraft.synth import ADMIN_BOUNDARIES, admin_boundaries_df

SQUARE = {"ring": [(0, 0), (0, 100), (100, 100), (100, 0), (0, 0)], "holes": []}
DONUT = {
    "ring": [(0, 0), (0, 100), (100, 100), (100, 0), (0, 0)],
    "holes": [[(25, 25), (25, 75), (75, 75), (75, 25), (25, 25)]],
}
LSHAPE = {
    "ring": [(0, 0), (0, 100), (40, 100), (40, 40), (100, 40), (100, 0), (0, 0)],
    "holes": [],
}


def _inside(poly, pts):
    e = polygon_edges(poly)
    lat = np.array([p[0] for p in pts], dtype=np.int64)
    lon = np.array([p[1] for p in pts], dtype=np.int64)
    return pnpoly(lat, lon, e).tolist()


def test_square_truth_table():
    #              inside     outside   far-outside  on-left-edge on-corner
    pts = [(50, 50), (150, 50), (-1, -1), (50, 0), (0, 0)]
    got = _inside(SQUARE, pts)
    assert got[0] is True and got[1] is False and got[2] is False
    # edge/vertex behavior: deterministic (value pinned, either side acceptable)
    assert got == [True, False, False, True, True]


def test_donut_hole():
    pts = [(50, 50), (10, 10), (26, 26), (75, 76)]
    assert _inside(DONUT, pts) == [False, True, False, True]


def test_lshape_nonconvex():
    # (70,70) is outside the L (bbox-inside, hull-inside)
    pts = [(20, 20), (70, 20), (20, 70), (70, 70)]
    assert _inside(LSHAPE, pts) == [True, True, True, False]


def test_strtree_candidates_superset():
    polys = ADMIN_BOUNDARIES
    bboxes = np.array([polygon_bbox(p) for p in polys])
    tree = STRTree(bboxes, cap=4)  # force multi-level
    rng = np.random.default_rng(3)
    lat = rng.integers(-900_000_000, 900_000_000, 2000)
    lon = rng.integers(-1_800_000_000, 1_800_000_000, 2000)
    pi, gi = tree.query_point_batch(lat, lon)
    got = set(zip(pi.tolist(), gi.tolist()))
    # brute force bbox truth
    want = set()
    for g, bb in enumerate(bboxes):
        hit = (lat >= bb[0]) & (lon >= bb[1]) & (lat <= bb[2]) & (lon <= bb[3])
        want |= {(int(i), g) for i in np.nonzero(hit)[0]}
    assert got == want


def test_pip_join_variants(spark):
    pts = spark.createDataFrame(
        [(1, 407_000_000, -740_000_000), (2, 0, 0), (3, 350_000_000, 350_000_000)],
        "point_id long, lat7 int, lon7 int",
    )
    inner = pip_join(pts, ADMIN_BOUNDARIES, how="inner").collect()
    pairs = {(r.point_id, r.boundary_id) for r in inner}
    assert (1, 1) in pairs          # hot-nyc box
    assert (2, 8) in pairs          # meridian box contains origin
    assert (3, 7) not in pairs      # donut hole
    semi = {r.point_id for r in pip_join(pts, ADMIN_BOUNDARIES, how="left_semi").collect()}
    anti = {r.point_id for r in pip_join(pts, ADMIN_BOUNDARIES, how="left_anti").collect()}
    assert semi | anti == {1, 2, 3} and semi & anti == set()
    assert 3 in anti  # in-hole point is "outside any boundary"


def test_boundaries_df_builds(spark):
    df = admin_boundaries_df(spark)
    assert df.count() == len(ADMIN_BOUNDARIES)
    # closed-ring invariant (osmio is_closed, lib.rs:456-461)
    import pyspark.sql.functions as F

    bad = df.filter(
        (F.element_at("ring", 1)["lat7"] != F.element_at("ring", -1)["lat7"])
        | (F.element_at("ring", 1)["lon7"] != F.element_at("ring", -1)["lon7"])
    ).count()
    assert bad == 0


def test_pip_join_matches_brute_force(spark):
    """pip_join equals every point tested against every polygon with the
    plain kernel (pnpoly / pnpoly_int), for all three join modes and both
    refine kernels."""
    from pyspark.sql import functions as F

    from osmgraft.synth import points_projection

    orders = spark.range(1, 30_001, 1, 4).select(F.col("id").alias("o_orderkey"))
    pts = points_projection(orders)
    rows = [tuple(r) for r in pts.collect()]
    lat = np.array([r[pts.columns.index("lat7")] for r in rows])
    lon = np.array([r[pts.columns.index("lon7")] for r in rows])
    bids = [p["boundary_id"] for p in ADMIN_BOUNDARIES]
    for refine, test in (("raycast", pnpoly), ("parity_int", pnpoly_int)):
        inside = np.stack([test(lat, lon, polygon_edges(p)) for p in ADMIN_BOUNDARIES], axis=1)
        want = {
            "inner": [rows[i] + (bids[g],) for i, g in zip(*np.nonzero(inside))],
            "left_semi": [rows[i] for i in np.flatnonzero(inside.any(axis=1))],
            "left_anti": [rows[i] for i in np.flatnonzero(~inside.any(axis=1))],
        }
        assert want["inner"] and want["left_anti"]
        for how, rows_want in want.items():
            got = sorted(map(tuple, pip_join(pts, ADMIN_BOUNDARIES, how=how,
                                             refine=refine).collect()))
            assert got == sorted(rows_want), (refine, how)


def test_pnpoly_pairs_matches_per_pair_kernel():
    """One kernel call per distinct polygon gives the same mask as testing
    each (point, polygon) pair alone; no pairs gives an empty mask."""
    rng = np.random.default_rng(8)
    edges = {7: polygon_edges(SQUARE), 9: polygon_edges(DONUT), 11: polygon_edges(LSHAPE)}
    lat = rng.integers(-20, 120, 500)
    lon = rng.integers(-20, 120, 500)
    poly = rng.choice([7, 9, 11], 500)
    for test in (pnpoly, pnpoly_int):
        got = pnpoly_pairs(lat, lon, poly, edges, test)
        want = [bool(test(lat[i:i + 1], lon[i:i + 1], edges[poly[i]])[0]) for i in range(500)]
        assert got.tolist() == want and 0 < got.sum() < 500
        assert pnpoly_pairs(lat[:0], lon[:0], poly[:0], edges, test).shape == (0,)


def test_haversine_m_col_matches_numpy(spark):
    """JVM integer-meter haversine == numpy reference rounded the same way."""
    import numpy as np
    from pyspark.sql import functions as F

    from osmgraft.geom import haversine_m_col, np_haversine_m

    rng = np.random.default_rng(4)
    n = 2000
    a_lat = rng.integers(-890_000_000, 890_000_001, n)
    a_lon = rng.integers(-1_800_000_000, 1_800_000_000, n)
    b_lat = rng.integers(-890_000_000, 890_000_001, n)
    b_lon = rng.integers(-1_800_000_000, 1_800_000_000, n)
    df = spark.createDataFrame(
        [(int(w), int(x), int(y), int(z)) for w, x, y, z in zip(a_lat, a_lon, b_lat, b_lon)],
        "a_lat long, a_lon long, b_lat long, b_lon long",
    )
    got = [
        r[0]
        for r in df.select(
            haversine_m_col(F.col("a_lat"), F.col("a_lon"), F.col("b_lat"), F.col("b_lon"))
        ).collect()
    ]
    want = np.floor(np_haversine_m(a_lat, a_lon, b_lat, b_lon) + 0.5).astype(np.int64)
    diff = np.abs(np.array(got) - want)
    assert diff.max() <= 1  # ulp-boundary rounding may differ by 1 m, never more
    assert (diff == 0).mean() > 0.999


def test_way_area_centroid_golden(spark):
    """Hand-computable ring: unit square scaled to fixed-point (side 1e7 =
    1°).  CCW orientation → positive area2 = 2·(1e7)²; centroid at the
    middle; numerators = 6·A·C with A = area2/2."""
    from decimal import Decimal

    from osmgraft.operators.osm import way_area_centroid

    s = 10_000_000  # 1 degree in 1e-7 units
    ring = [(0, 0), (s, 0), (s, s), (0, s)]  # CCW
    rows = [(1, i + 1, x, y) for i, (x, y) in enumerate(ring)]
    # CW copy must flip the sign of everything
    rows += [(2, i + 1, x, y) for i, (x, y) in enumerate(ring[::-1])]
    # translated copy: area identical, centroid numerators shift
    rows += [(3, i + 1, x + 7 * s, y - 2 * s) for i, (x, y) in enumerate(ring)]
    df = spark.createDataFrame(rows, "way_id long, seq int, x int, y int")
    out = {r["way_id"]: r for r in way_area_centroid(df).collect()}
    a2 = 2 * s * s
    assert out[1]["area2"] == Decimal(a2)
    # 6·A·Cx = 3·area2·Cx with Cx = s/2 → 3·a2·s/2
    assert out[1]["cx6_num"] == Decimal(3 * a2 * s // 2)
    assert out[1]["cy6_num"] == Decimal(3 * a2 * s // 2)
    assert out[2]["area2"] == Decimal(-a2)
    assert out[2]["cx6_num"] == Decimal(-3 * a2 * s // 2)
    assert out[3]["area2"] == Decimal(a2)
    cx3 = (7 * s + s // 2)
    cy3 = (-2 * s + s // 2)
    assert out[3]["cx6_num"] == Decimal(3 * a2 * cx3)
    assert out[3]["cy6_num"] == Decimal(3 * a2 * cy3)
    assert all(r["n_vertices"] == 4 for r in out.values())


def test_pnpoly_int_knife_edge_exact(spark=None):
    """The integer kernel is exact where the float one could waver: points
    ON a vertical edge / vertex vs just inside/outside by 1 unit."""
    import numpy as np

    from osmgraft.geom import pnpoly, pnpoly_int, ring_edges

    ring = [(0, 0), (0, 1_000_000), (1_000_000, 1_000_000), (1_000_000, 0), (0, 0)]
    edges = ring_edges(ring)
    lat = np.array([500_000, 500_000, 500_000, 1, 999_999, 0])
    lon = np.array([500_000, -1, 1_000_001, 1, 999_999, 500_000])
    got = pnpoly_int(lat, lon, edges)
    assert got.tolist()[:5] == [True, False, False, True, True]
    # interior agreement with the float kernel on random strictly-interior pts
    rng = np.random.default_rng(7)
    la = rng.integers(1, 1_000_000, 500)
    lo = rng.integers(1, 1_000_000, 500)
    assert (pnpoly_int(la, lo, edges) == pnpoly(la, lo, edges)).all()


def test_boundary_density_donut_area(spark):
    """The composed density query's area leg: donut = |outer| − |hole|
    exactly (2·(3e8² − 1e8²) in fixed-point²)."""
    from osmgraft.queries import boundary_density

    out = {r["boundary_id"]: r for r in boundary_density(spark, "/root/testdata/sf0.001").collect()}
    assert out[7]["area2"] == 2 * (300_000_000 ** 2 - 100_000_000 ** 2)
    assert all(r["area2"] > 0 and r["cnt"] > 0 for r in out.values())


def test_spherical_excess_golden_and_planar_agreement():
    """Octant = 4π/8 steradians exactly; a 1°x1° equatorial square's
    spherical area matches the planar-equirectangular value within 0.01%."""
    import math

    import duckdb

    from osmgraft.geom import sql_spherical_tri_excess

    ex = sql_spherical_tri_excess(("la0", "lo0"), ("la1", "lo1"), ("la2", "lo2"))
    con = duckdb.connect()
    octant = con.sql(
        f"SELECT {ex} AS e FROM (SELECT 0.0 la0, 0.0 lo0, 0.0 la1,"
        " radians(90) lo1, radians(90) la2, 0.0 lo2)"
    ).fetchone()[0]
    assert abs(octant - math.pi / 2) < 1e-12
    # unit square at the equator split into two fan triangles from (0,0)
    r = math.radians(1.0)

    def excess(p0, p1, p2):
        q = f"""SELECT {ex} AS e FROM (SELECT {p0[0]} la0, {p0[1]} lo0,
                {p1[0]} la1, {p1[1]} lo1, {p2[0]} la2, {p2[1]} lo2)"""
        return con.sql(q).fetchone()[0]

    e_total = excess((0, 0), (0, r), (r, r)) + excess((0, 0), (r, r), (r, 0))
    area_km2 = abs(e_total) * 6371.0088 ** 2
    planar_km2 = (math.pi / 180 * 6371.0088) ** 2  # 1 deg x 1 deg at equator
    assert abs(area_km2 - planar_km2) / planar_km2 < 1e-4
