"""PIP truth table (FIXTURES.md golden_pip cases), the polygon cover, and
the PIP join operator incl. semi/anti."""

import logging
import re
from fractions import Fraction

import numpy as np

from osmgraft.geom import COVER_CAP, pnpoly, pnpoly_int, polygon_bbox, polygon_cover, polygon_edges
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


# Polygons whose bboxes sit on, inside and across 1° cell lines (1° = 1e7):
# a triangle with vertices on cell corners and a second one sharing its west
# edge; a concave ring with a hole straddling the 0° lines; a sliver touching
# the antimeridian, where wrapped cells alias lon −180° onto +180°; a box with
# fractional vertices a quarter unit inside a cell's negative borders; a
# shallow triangle whose long edge crosses the −49° line at an integer point
# the float kernel puts an ulp west of the edge (the integer kernel has it on
# the edge); a sawtooth whose ten teeth share one boundary interval until its
# band is halved; and a comb of vertical teeth 2 units apart, which halving
# cannot thin.
_G = 10_000_000
_X0 = -100 * _G
PLANTED_POLYS = [
    {"boundary_id": 1, "ring": [(10 * _G, 20 * _G), (12 * _G, 20 * _G), (11 * _G, 23 * _G),
                                (10 * _G, 20 * _G)], "holes": []},
    {"boundary_id": 2,
     "ring": [(-15_000_000, -25_000_001), (-15_000_000, 4_999_999), (5_000_003, 4_999_999),
              (5_000_003, -3_000_000), (-2_000_000, -3_000_000), (-2_000_000, -25_000_001),
              (-15_000_000, -25_000_001)],
     "holes": [[(-10_000_000, -20_000_000), (-10_000_000, -10_000_000), (-5_000_000, -10_000_000),
                (-5_000_000, -20_000_000), (-10_000_000, -20_000_000)]]},
    {"boundary_id": 3, "ring": [(-3 * _G - 1, 1_790_000_001), (-3 * _G - 1, 1_800_000_000),
                                (-_G + 1, 1_800_000_000), (-_G + 1, 1_790_000_001),
                                (-3 * _G - 1, 1_790_000_001)], "holes": []},
    {"boundary_id": 4, "ring": [(-41 * _G + 0.75, -60 * _G + 0.75), (-41 * _G + 0.75, -59 * _G - 0.25),
                                (-40 * _G - 0.25, -59 * _G - 0.25), (-40 * _G - 0.25, -60 * _G + 0.75),
                                (-41 * _G + 0.75, -60 * _G + 0.75)], "holes": []},
    {"boundary_id": 5, "ring": [(10 * _G, 20 * _G), (11 * _G, 17 * _G), (12 * _G, 20 * _G),
                                (10 * _G, 20 * _G)], "holes": []},
    {"boundary_id": 6, "ring": [(-500_685_133, -1_535_775_958), (-487_191_592, -325_855_115),
                                (-500_685_133, -325_855_115), (-500_685_133, -1_535_775_958)],
     "holes": []},
    {"boundary_id": 7,
     "ring": [(30 * _G + 1_000_000, 50 * _G), (30 * _G + 1_000_000, 52 * _G)]
     + [(30 * _G + 1_000_000 + k * 700_000, 52 * _G + k % 2 * 300_000) for k in range(1, 11)]
     + [(30 * _G + 8_000_000, 50 * _G), (30 * _G + 1_000_000, 50 * _G)], "holes": []},
    {"boundary_id": 8,
     "ring": [(60 * _G + 1_000, _X0)]
     + [v for t in range(5) for v in ((60 * _G + 5_000_000, _X0 + 4 * t),
                                      (60 * _G + 5_000_000, _X0 + 4 * t + 2),
                                      (60 * _G + 1_002, _X0 + 4 * t + 2),
                                      (60 * _G + 1_002, _X0 + 4 * t + 4))]
     + [(60 * _G + 1_000, _X0 + 20), (60 * _G + 1_000, _X0)], "holes": []},
]


def _planted_points(polys, rng):
    """Bbox corners and edge midpoints, every point within 2 units of a
    polygon vertex, the 1° cell corners around each bbox, points one unit
    either side of each bbox and of each bbox-cell border, the integer points
    where an edge crosses a 1° band line and their neighbours, their lon −180°
    aliases, and random points near each bbox."""
    pts = set()
    near = [(da, do) for da in range(-2, 3) for do in range(-2, 3)]
    for p in polys:
        lat0, lon0, lat1, lon1 = (int(v) for v in polygon_bbox(p))
        lats = {lat0, lat1, (lat0 + lat1) // 2, lat0 - 1, lat1 + 1}
        lons = {lon0, lon1, (lon0 + lon1) // 2, lon0 - 1, lon1 + 1}
        c_lat = range(lat0 // _G - 1, lat1 // _G + 3)
        c_lon = range(lon0 // _G - 1, lon1 // _G + 3)
        lats |= {c * _G + d for c in c_lat for d in (-1, 0, 1)}
        lons |= {c * _G + d for c in c_lon for d in (-1, 0, 1)}
        pts |= {(a, o) for a in lats for o in lons}
        for ring in [p["ring"]] + p["holes"]:
            pts |= {(int(a) + da, int(o) + do) for a, o in ring for da, do in near}
            for (y1, x1), (y2, x2) in zip(ring[:-1], ring[1:]):
                for k in range(int(min(y1, y2)) // _G + 1, int(max(y1, y2)) // _G + 1):
                    if y1 != y2 and k * _G != max(y1, y2):
                        x = Fraction(x1) + (Fraction(x2) - Fraction(x1)) * (k * _G - Fraction(y1)) / (
                            Fraction(y2) - Fraction(y1))
                        if x.denominator == 1:
                            pts |= {(k * _G + da, int(x) + do) for da, do in near}
        h, w = max(lat1 - lat0, _G), max(lon1 - lon0, _G)
        pts |= set(zip(rng.integers(lat0 - h, lat1 + h, 400).tolist(),
                       rng.integers(lon0 - w, lon1 + w, 400).tolist()))
    pts = {(a, o) for a, o in pts if -900_000_000 <= a <= 900_000_000}
    pts |= {(a, o - 3_600_000_000) for a, o in pts if o >= 1_790_000_000}
    return sorted((a, o) for a, o in pts if -1_800_000_000 <= o <= 1_800_000_000)


def test_pip_join_planted_points_match_brute_force(spark):
    """pip_join equals every point against every polygon with the plain
    kernel, for all three join modes and both refine kernels, on int columns
    and on double columns (the planted points half a unit lower), on points
    planted where a cover with a wrong margin, gap status or strip split
    would err, and where the float and integer kernels disagree; null and
    NaN coordinates match no polygon; no polygons match nothing."""
    from pyspark.sql import functions as F

    pts = _planted_points(PLANTED_POLYS, np.random.default_rng(11))
    rows = [(i, a, o) for i, (a, o) in enumerate(pts)]
    n = len(rows)
    nulls = [(n, None, 5), (n + 1, 5, None), (n + 2, None, None)]
    df = spark.createDataFrame(rows + nulls, "point_id long, lat7 int, lon7 int").repartition(3)
    half = [(i, a - 0.5, o - 0.5) for i, a, o in rows]
    nans = [(i, *(None if v is None else v - 0.5 for v in r)) for i, *r in nulls]
    nans += [(n + 3, float("nan"), 0.0), (n + 4, 0.0, float("nan"))]
    dfh = df.select("point_id", *[(F.col(c) - 0.5).alias(c) for c in ("lat7", "lon7")]).union(
        spark.createDataFrame(nans[len(nulls):], "point_id long, lat7 double, lon7 double"))
    lat, lon = np.array([r[1] for r in rows]), np.array([r[2] for r in rows])
    assert (pnpoly(lat, lon, polygon_edges(PLANTED_POLYS[5]))
            != pnpoly_int(lat, lon, polygon_edges(PLANTED_POLYS[5]))).any()
    bids = [p["boundary_id"] for p in PLANTED_POLYS]
    for frame, fr_rows, missing in ((df, rows, nulls), (dfh, half, nans)):
        lat = np.array([r[1] for r in fr_rows])
        lon = np.array([r[2] for r in fr_rows])
        for refine, test in (("raycast", pnpoly), ("parity_int", pnpoly_int)):
            inside = np.stack([test(lat, lon, polygon_edges(p)) for p in PLANTED_POLYS], axis=1)
            assert inside.any(axis=0).all() and not inside.all()
            want = {
                "inner": [fr_rows[i] + (bids[g],) for i, g in zip(*np.nonzero(inside))],
                "left_semi": [fr_rows[i] for i in np.flatnonzero(inside.any(axis=1))],
                "left_anti": [fr_rows[i] for i in np.flatnonzero(~inside.any(axis=1))] + missing,
            }
            for how, rows_want in want.items():
                got = pip_join(frame, PLANTED_POLYS, how=how, refine=refine).collect()
                key = lambda r: tuple(str(v) for v in r)  # noqa: E731 (None and NaN sort)
                assert sorted(map(key, got)) == sorted(map(key, rows_want)), (refine, how)
    for how, n_out in (("inner", 0), ("left_semi", 0), ("left_anti", len(rows) + len(nulls))):
        assert pip_join(df, [], how=how).count() == n_out, how


def test_pip_join_plan_is_one_broadcast_cover_join(spark):
    """Every join mode is one broadcast hash join of the points against the
    cover, and no point goes to Python."""
    pts = spark.createDataFrame([(1, 0, 0)], "point_id long, lat7 int, lon7 int")
    for how, jtype in (("inner", "Inner"), ("left_semi", "LeftSemi"), ("left_anti", "LeftAnti")):
        for refine in ("raycast", "parity_int"):
            plan = pip_join(pts, PLANTED_POLYS, how=how, refine=refine)._jdf.queryExecution()
            plan = plan.executedPlan().toString()
            joins = re.findall(r"(\w+Join) \[.*?\], \[.*?\], (\w+), (\w+),", plan)
            assert joins == [("BroadcastHashJoin", jtype, "BuildRight")], (how, joins)
            for node in ("MapInArrow", "ArrowEvalPython", "BatchEvalPython"):
                assert node not in plan, (how, node)


def test_pip_join_logs_its_cover_once(spark, caplog):
    """One DEBUG line per call names the cover's rows, cells, unrolled edge
    width, interior-row share and build seconds."""
    caplog.set_level(logging.DEBUG, logger="osmgraft.operators.pip")
    pts = spark.createDataFrame([(1, 0, 0)], "point_id long, lat7 int, lon7 int")
    pip_join(pts, ADMIN_BOUNDARIES, how="left_semi")
    lines = [r.getMessage() for r in caplog.records if r.getMessage().startswith("pip_join:")]
    assert len(lines) == 1, lines
    fields = dict(f.split("=") for f in lines[0].split()[1:])
    assert set(fields) == {"how", "refine", "rows", "cells", "width", "interior", "build_s"}
    assert int(fields["rows"]) >= int(fields["cells"]) > 0 and 0 < int(fields["width"]) <= COVER_CAP
    assert 0 < float(fields["interior"]) < 1 and float(fields["build_s"]) >= 0


def test_polygon_cover_halves_crowded_strips():
    """The sawtooth's ten teeth share one interval of its 1° band: halving
    the band leaves no row with more than COVER_CAP edges. The comb's teeth
    span every strip, so halving stops at once instead of doubling its rows
    down to one-unit strips."""
    saw, comb = PLANTED_POLYS[6], PLANTED_POLYS[7]
    rows, edges = polygon_cover([saw], _G)
    assert edges.shape[1] <= COVER_CAP
    assert ((rows["yhi"] - rows["ylo"]) < _G / 2).any()
    for integer in (False, True):
        rows, edges = polygon_cover([comb], _G, integer)
        assert edges.shape[1] > COVER_CAP and len(rows["cell"]) < 20
