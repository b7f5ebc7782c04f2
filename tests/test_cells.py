"""S2 kernel invariants (no reference lib in env — structural invariants +
published S2 constants pin correctness; ids are regression-pinned), H3
(h3real) structural invariants, the geohash kernels, and the exact wrapped
integer grid across its three engines."""

from itertools import product

import numpy as np
import pytest

from osmgraft.functions import h3real as H
from osmgraft.functions import s2 as S


@pytest.fixture(scope="module")
def pts():
    rng = np.random.default_rng(99)
    return (
        rng.integers(-890_000_000, 890_000_000, 20000),
        rng.integers(-1_800_000_000, 1_800_000_000, 20000),
    )


# --- S2 -------------------------------------------------------------------------
def test_s2_published_face_constant():
    # S2CellId::FromFace(0).id() == 0x1000000000000000 (published constant)
    assert int(S.s2_cell_id(np.array([0]), np.array([0]), 0)[0]) == 0x1000000000000000


def test_s2_level_extraction(pts):
    for lvl in (0, 7, 13, 30):
        ids = S.s2_cell_id(*pts, lvl)
        assert (S.s2_level(ids) == lvl).all()


def test_s2_hierarchy_prefix(pts):
    """A level-13 cell id shares the Hilbert-position prefix of its level-30 leaf."""
    l13 = S.s2_cell_id(*pts, 13).view(np.uint64)
    l30 = S.s2_cell_id(*pts, 30).view(np.uint64)
    shift = np.uint64(2 * (30 - 13))
    assert ((l13 >> (shift + np.uint64(1))) == (l30 >> (shift + np.uint64(1)))).all()


def test_s2_center_roundtrip(pts):
    ids = S.s2_cell_id(*pts, 13)
    clat, clon = S.s2_cell_center_latlon(ids)
    rt = S.s2_cell_id((clat * 1e7).astype(np.int64), (clon * 1e7).astype(np.int64), 13)
    assert (rt == ids).all()


def test_s2_locality(pts):
    """Points within ~100m nearly always share the level-13 cell (≈1km cells)."""
    lat, lon = pts
    近 = S.s2_cell_id(lat + 50, lon + 50, 13)  # 50 units = 5e-6 deg ≈ 0.5 m
    base = S.s2_cell_id(lat, lon, 13)
    assert (近 == base).mean() > 0.99


def test_s2_face_distribution(pts):
    ids = S.s2_cell_id(*pts, 13).view(np.uint64) >> np.uint64(61)
    assert set(np.unique(ids)) == set(range(6))


# --- H3 (h3real) -----------------------------------------------------------------
def test_h3_res_and_base(pts):
    c = H.latlng_to_cell(*pts, 7)
    assert (H.get_resolution(c) == 7).all()
    assert set(np.unique(H.get_base_cell(c))) <= set(range(122))
    assert np.unique(H.get_base_cell(c)).size == 122  # all base cells hit


def test_h3_algebraic_hierarchy(pts):
    """to_parent is exact digit truncation (base cell and the digits down to
    the parent res kept, finer digits set to the unused 7); parent of the
    res-9 encode agrees with the res-7 encode for the vast majority of
    points (boundary points may differ — aperture-7 children overhang)."""
    c7 = H.latlng_to_cell(*pts, 7)
    c9 = H.latlng_to_cell(*pts, 9)
    p7 = H.to_parent(c9, 7)
    assert (H.get_base_cell(p7) == H.get_base_cell(c9)).all()
    keep = ~np.int64((0xF << 52) | ((1 << 3 * (15 - 7)) - 1))
    assert ((p7 & keep) == (c9 & keep)).all()
    assert ((p7 & np.int64((1 << 3 * (15 - 7)) - 1)) == (1 << 3 * (15 - 7)) - 1).all()
    agree = (p7 == c7).mean()
    assert agree > 0.88, agree


def test_h3_axial_roundtrip(pts):
    c = H.latlng_to_cell(*pts, 7)
    face, i, j, res = H._to_face_axial(c)
    assert res == 7
    assert (H._axial_to_cell(face, i, j, 7) == c).all()


def test_h3_grid_disk():
    """Away from pentagons disk(k) holds 1 + 3k(k+1) distinct cells, its own
    center, and disk(k) ⊂ disk(k+1)."""
    c = H.latlng_to_cell(np.array([407_000_000]), np.array([-740_000_000]), 7)
    disks = []
    for k in (1, 2, 3):
        disk = H.grid_disk(c, k)[0]
        assert len(disk) == 1 + 3 * k * (k + 1)
        assert len(set(disk.tolist())) == len(disk)
        assert int(c[0]) in set(disk.tolist())
        disks.append(set(disk.tolist()))
    assert disks[0] <= disks[1] <= disks[2]


def test_h3_disk_cells_are_neighbors_spatially():
    """Points within 0.02° (a res-7 cell pitch) of a seed land in the seed's
    disk(2): disk adjacency is spatial adjacency."""
    lat0, lon0 = 407_000_000, -740_000_000
    seed = H.latlng_to_cell(np.array([lat0]), np.array([lon0]), 7)
    disk2 = set(H.grid_disk(seed, 2)[0].tolist())
    offs = np.array([-200_000, 0, 200_000])
    la, lo = np.meshgrid(lat0 + offs, lon0 + offs)
    assert set(H.latlng_to_cell(la.ravel(), lo.ravel(), 7).tolist()) <= disk2


def test_h3_determinism_and_vectorization(pts):
    """The encoder is a pure per-row function: repeated calls, copies and
    one-row batches give the same ids as the whole batch."""
    a = H.latlng_to_cell(*pts, 9)
    b = H.latlng_to_cell(pts[0].copy(), pts[1].copy(), 9)
    assert (a == b).all()
    one = [int(H.latlng_to_cell(pts[0][i:i + 1], pts[1][i:i + 1], 9)[0]) for i in range(200)]
    assert one == a[:200].tolist()


def test_s2_hierarchy_truncation_property():
    """parent(encode(l13), 10) == encode(l10) globally, and children invert."""
    import numpy as np

    from osmgraft.functions import s2

    lat = (np.linspace(-88, 88, 4001) * 1e7).astype(np.int64)
    lon = (np.linspace(-179, 179, 4001) * 1e7).astype(np.int64)
    l13 = s2.s2_cell_id(lat, lon, 13)
    l10 = s2.s2_cell_id(lat, lon, 10)
    assert np.array_equal(s2.s2_parent(l13, 10), l10)
    ch = s2.s2_children(l10[:256])
    assert np.all(s2.s2_parent(ch.ravel(), 10) == np.repeat(l10[:256], 4))
    assert np.all(s2.s2_level(ch.ravel()) == 11)


def test_s2_parent_col_matches_numpy(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from osmgraft.functions import s2

    lat = (np.linspace(-60, 60, 500) * 1e7).astype(np.int64)
    lon = (np.linspace(-170, 170, 500) * 1e7).astype(np.int64)
    ids = s2.s2_cell_id(lat, lon, 13)
    df = spark.createDataFrame([(int(c),) for c in ids], "cell long")
    got = [r[0] for r in df.select(s2.s2_parent_col("cell", 10).alias("p")).collect()]
    assert got == [int(x) for x in s2.s2_parent(ids, 10)]


def test_geohash_published_vectors_and_properties():
    """External truth: geohash.org / Wikipedia vectors; plus prefix nesting
    and quantization edge clamping."""
    import numpy as np

    from osmgraft.functions import geohash as gh

    vecs = [
        (57.64911, 10.40744, "u4pruydq"),
        (42.605, -5.603, "ezs42"),
        (48.669, -4.329, "gbsuv"),
        (57.64911, 10.40744, "u4pruydqqvj8"),  # full 12-char (numpy path)
    ]
    for lat, lon, want in vecs:
        got = gh.geohash_str(
            np.array([int(lat * 1e7)]), np.array([int(lon * 1e7)]),
            precision=len(want),
        )[0]
        assert got == want, (got, want)
    # prefix nesting: precision-k hash is a prefix of precision-(k+1)
    rng = np.random.default_rng(6)
    lat7 = rng.integers(-900_000_000, 900_000_001, 3000)
    lon7 = rng.integers(-1_800_000_000, 1_800_000_000, 3000)
    g5 = gh.geohash_str(lat7, lon7, 5)
    g8 = gh.geohash_str(lat7, lon7, 8)
    assert all(b.startswith(a) for a, b in zip(g5, g8))
    # poles/antimeridian clamp into range (no index overflow)
    edge = gh.geohash_str(
        np.array([900_000_000, -900_000_000]),
        np.array([1_800_000_000 - 1, -1_800_000_000]), 8)
    assert len(edge) == 2 and all(len(e) == 8 for e in edge)


def test_geohash_three_way_parity(spark):
    """numpy == JVM Column == DuckDB SQL at precisions 5 and 8."""
    import duckdb
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from osmgraft.functions import geohash as gh

    rng = np.random.default_rng(3)
    lat7 = rng.integers(-900_000_000, 900_000_001, 5000)
    lon7 = rng.integers(-1_800_000_000, 1_800_000_000, 5000)
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(lat7, lon7)], "lat7 long, lon7 long"
    )
    con = duckdb.connect()
    con.register("p", pd.DataFrame({"lat7": lat7, "lon7": lon7}))
    for prec in (5, 8):
        want = list(gh.geohash_str(lat7, lon7, prec))
        got = [
            r[0]
            for r in df.select(
                gh.geohash_str_col(F.col("lat7"), F.col("lon7"), prec)
            ).collect()
        ]
        assert got == want, prec
        duck = [
            r[0]
            for r in con.execute(
                "SELECT " + gh.sql_geohash_str("lat7", "lon7", prec) + " FROM p"
            ).fetchall()
        ]
        assert duck == want, prec


def test_geohash_decode_roundtrip_and_neighbors():
    import numpy as np

    from osmgraft.functions import geohash as gh

    rng = np.random.default_rng(12)
    lat7 = rng.integers(-900_000_000, 900_000_001, 20000)
    lon7 = rng.integers(-1_800_000_000, 1_800_000_000, 20000)
    for prec in (4, 5, 8, 11):
        g = gh.geohash_str(lat7, lon7, prec)
        la, lo = gh.geohash_decode(g)
        assert (gh.geohash_str(la, lo, prec) == g).all(), prec
    # dense cluster so neighbors exist in-set: symmetry + adjacency
    clat = rng.integers(400_000_000, 420_000_000, 4000)
    clon = rng.integers(100_000_000, 120_000_000, 4000)
    cells = np.unique(gh.geohash_str(clat, clon, 4))
    nbmap = {h: set(v) for h, v in zip(cells, gh.geohash_neighbors(cells))}
    pairs = 0
    for h, vs in nbmap.items():
        for v in vs:
            if v in nbmap:
                assert h in nbmap[v], (h, v)
                pairs += 1
    assert pairs > 100, pairs
    assert all(len(v) in (5, 8) for v in nbmap.values())
    # antimeridian wrap: a cell at lon ~180 lists neighbors across the seam
    g = str(gh.geohash_str(np.array([0]), np.array([1_799_999_999]), 4)[0])
    wrapped = gh.geohash_neighbors(np.array([g], dtype=object))[0]
    wl = [gh.geohash_decode(np.array([w], dtype=object))[1][0] for w in wrapped]
    assert any(x < 0 for x in wl), wl  # something on the west side of the seam


# --- the exact wrapped integer grid ----------------------------------------------
# negative non-multiples, exact multiples, the poles and the antimeridian
GRID_LATS = [-900_000_000, -50_000_001, -50_000_000, -1, 0, 49_999_999, 50_000_000, 900_000_000]
GRID_LONS = [-1_800_000_000, -1_200_000_001, -50_000_000, -1, 0, 50_000_000, 1_199_999_999,
             1_800_000_000]


def test_exact_grid_three_engines(spark):
    """Spark (floordiv, grid_cell, dist2), Python (//, py_grid_cell,
    py_dist2) and DuckDB (sql_floordiv, sql_grid_cell, sql_dist2) agree on int32
    columns. The divisor 1.2e9 ≥ 2^30 overflows int32 unless the dividend
    is cast to long first. floordiv stays exact on longs beyond ±2^53."""
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    from osmgraft.functions.cells import (
        dist2,
        floordiv,
        grid_cell,
        py_dist2,
        py_grid_cell,
        sql_dist2,
        sql_floordiv,
        sql_grid_cell,
    )

    divs, cells = (7, 50_000_000, 1_200_000_000), (50_000_000, 1_200_000_000)
    pts = list(product(GRID_LATS, GRID_LONS))
    rows = [(i, a, o, b, p) for i, ((a, o), (b, p)) in enumerate(zip(pts, pts[::-1]))]
    want = [
        tuple(v // g for g in divs for v in (a, o))
        + tuple(py_grid_cell(a, o, g) for g in cells)
        + (py_dist2(a, o, b, p),)
        for _, a, o, b, p in rows
    ]

    df = spark.createDataFrame(rows, "i int, lat7 int, lon7 int, lat_b int, lon_b int")
    lat, lon = F.col("lat7"), F.col("lon7")
    got = df.orderBy("i").select(
        *[floordiv(c, g) for g in divs for c in (lat, lon)],
        *[grid_cell(lat, lon, g) for g in cells],
        dist2(lat, lon, F.col("lat_b"), F.col("lon_b")),
    ).collect()
    assert [tuple(r) for r in got] == want

    con = duckdb.connect()
    con.register("p", pd.DataFrame(rows, columns=["i", "lat7", "lon7", "lat_b", "lon_b"])
                 .astype("int32"))
    exprs = [sql_floordiv(c, g) for g in divs for c in ("lat7", "lon7")]
    exprs += [sql_grid_cell("lat7", "lon7", g) for g in cells]
    exprs += [sql_dist2("lat7", "lon7", "lat_b", "lon_b")]
    duck = con.execute(f"SELECT {', '.join(exprs)} FROM p ORDER BY i").fetchall()
    assert duck == want

    # Past 2^53 a double no longer holds every long: the quotient must come
    # from integer division, on multiples and non-multiples of the divisor.
    big = [2**53 + 1, -(2**53 + 1), 2**53 + 2, -(2**53 + 2), 2**62 + 5, -(2**62) - 7]
    bdivs = (1, 3, 7, 1_200_000_000)
    bwant = [tuple(v // g for g in bdivs) for v in big]
    bdf = spark.createDataFrame(list(enumerate(big)), "i int, v long")
    got = bdf.orderBy("i").select(*[floordiv(F.col("v"), g) for g in bdivs]).collect()
    assert [tuple(r) for r in got] == bwant
    con.register("b", pd.DataFrame(list(enumerate(big)), columns=["i", "v"]))
    bexprs = ", ".join(sql_floordiv("v", g) for g in bdivs)
    assert con.execute(f"SELECT {bexprs} FROM b ORDER BY i").fetchall() == bwant


def test_lon_cells_rejects_non_divisor():
    from osmgraft.functions.cells import grid_cell, lon_cells

    assert lon_cells(50_000_000) == 72
    with pytest.raises(ValueError, match="must divide"):
        lon_cells(7)
    with pytest.raises(ValueError, match="must divide"):
        grid_cell(None, None, 7)
