"""kNN ring-expansion exactness vs brute force, determinism, edge cases."""

import logging

import numpy as np
import pyarrow as pa
import pytest

from osmgraft.operators.knn import knn_join


@pytest.fixture(scope="module")
def small_world(spark):
    rng = np.random.default_rng(42)
    n = 3000
    pts = spark.createDataFrame(
        list(
            zip(
                range(n),
                rng.integers(-600_000_000, 600_000_000, n).tolist(),
                rng.integers(-1_790_000_000, 1_790_000_000, n).tolist(),
            )
        ),
        "point_id long, lat7 int, lon7 int",
    )
    qs = spark.createDataFrame(
        list(
            zip(
                range(7),
                rng.integers(-600_000_000, 600_000_000, 7).tolist(),
                rng.integers(-1_790_000_000, 1_790_000_000, 7).tolist(),
            )
        ),
        "query_id long, lat7 int, lon7 int",
    )
    return pts, qs


def _brute(pts_rows, q_rows, k):
    from osmgraft.operators.knn import py_dist2

    out = {}
    for q in q_rows:
        d = sorted(
            ((py_dist2(q.lat7, q.lon7, p.lat7, p.lon7), p.point_id) for p in pts_rows)
        )[:k]
        out[q.query_id] = [(pid, dist) for dist, pid in d]
    return out


def _assert_brute(got, pts, qs, k):
    """The WHOLE result equals brute force: same queries, ranks 1..n in
    (dist2, neighbor_id) order, same neighbors and distances."""
    by_q = {}
    for r in sorted(got.collect(), key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.dist2))
    want = _brute(pts.collect(), qs.collect(), k)
    assert set(by_q) == set(want)
    for qid, rows in by_q.items():
        assert [r[0] for r in rows] == list(range(1, len(rows) + 1)), qid
        assert [(r[1], r[2]) for r in rows] == want[qid], qid


def _rounds(caplog):
    """(r, pts_cached) of every ring round knn_join logged."""
    out = []
    for rec in caplog.records:
        msg = rec.getMessage()
        if rec.name == "osmgraft.operators.knn" and "round r=" in msg:
            fields = dict(f.split("=") for f in msg.split()[2:])
            out.append((int(fields["r"]), fields["pts_cached"] == "True"))
    return out


def _pts_df(spark, rows):
    return spark.createDataFrame(rows, "point_id long, lat7 int, lon7 int")


def _qs_df(spark, rows):
    return spark.createDataFrame(rows, "query_id long, lat7 int, lon7 int")


def test_knn_exact_vs_brute(spark, small_world):
    pts, qs = small_world
    got = knn_join(pts, qs, k=5).collect()
    want = _brute(pts.collect(), qs.collect(), 5)
    for r in got:
        pid, dist = want[r.query_id][r.rank - 1]
        assert (r.neighbor_id, r.dist2) == (pid, dist), r


def test_knn_small_cell_forces_expansion(spark, small_world):
    pts, qs = small_world
    got = knn_join(pts, qs, k=3, cell_size=1_000_000)  # tiny cells → many rings + fallback
    want = _brute(pts.collect(), qs.collect(), 3)
    for r in got.collect():
        pid, dist = want[r.query_id][r.rank - 1]
        assert (r.neighbor_id, r.dist2) == (pid, dist)


def test_knn_antimeridian_wrap(spark):
    """Nearest neighbor across the ±180° line must be found via wrapped cells."""
    pts = spark.createDataFrame(
        [(1, 0, -1_789_000_000), (2, 0, 1_000_000_000)],
        "point_id long, lat7 int, lon7 int",
    )
    qs = spark.createDataFrame(
        [(9, 0, 1_789_000_000)], "query_id long, lat7 int, lon7 int"
    )
    got = knn_join(pts, qs, k=1).collect()
    assert len(got) == 1 and got[0].neighbor_id == 1
    assert got[0].dist2 == 22_000_000**2  # wrapped, not (3.578e9)^2


def test_knn_k_exceeds_points(spark):
    pts = spark.createDataFrame(
        [(1, 0, 0), (2, 10, 10)], "point_id long, lat7 int, lon7 int"
    )
    qs = spark.createDataFrame([(9, 5, 5)], "query_id long, lat7 int, lon7 int")
    got = knn_join(pts, qs, k=5)
    assert got.count() == 2
    _assert_brute(got, pts, qs, 5)


def test_knn_k_exceeds_points_skips_rings(spark, caplog):
    """|points| <= k: no ring round can resolve a query, so the point count
    round 1 observes sends every query straight to brute force, with no
    escalation round in between."""
    caplog.set_level(logging.DEBUG, logger="osmgraft.operators.knn")
    pts = _pts_df(spark, [(1, 0, 0), (2, 10, 10), (3, -400_000_000, 900_000_000)])
    qs = _qs_df(spark, [(9, 5, 5), (10, 300_000_000, -1_000_000_000)])
    _assert_brute(knn_join(pts, qs, k=3), pts, qs, 3)
    msgs = [r.getMessage() for r in caplog.records if r.name == "osmgraft.operators.knn"]
    brute = [i for i, m in enumerate(msgs) if "brute-force fallback for 2 queries" in m]
    assert len(brute) == 1
    assert _rounds(caplog) == [(1, False)]
    assert not any("round r=" in m for m in msgs[brute[0]:])


_G = 10_000_000  # 1-degree cells


def _arrow_df(spark, id_col, rows):
    """A frame of known size (a local relation, unlike a Python-list frame,
    whose RDD Catalyst cannot size)."""
    ids, lat, lon = zip(*rows)
    return spark.createDataFrame(pa.table({
        id_col: pa.array(ids, pa.int64()),
        "lat7": pa.array(lat, pa.int32()),
        "lon7": pa.array(lon, pa.int32()),
    }))


@pytest.fixture(scope="module")
def dense_world(spark):
    """2000 points over 2x2 one-degree cells, 5 queries inside them: round 1
    (r = 1) resolves every query for k = 5."""
    rng = np.random.default_rng(11)
    xy = rng.integers(0, 20_000_000, (2005, 2)).tolist()
    pts = _arrow_df(spark, "point_id", [(i, a, b) for i, (a, b) in enumerate(xy[:2000])])
    qs = _arrow_df(spark, "query_id", [(i, a, b) for i, (a, b) in enumerate(xy[2000:])])
    return pts, qs


def test_knn_single_round_job_count(spark, dense_world, caplog):
    """A query set that round 1 resolves costs the round's one action (its
    broadcast, shuffle and checkpoint jobs) plus the caller's collect: no
    stats, query-count or resolved-count job."""
    caplog.set_level(logging.DEBUG, logger="osmgraft.operators.knn")
    pts, qs = dense_world
    sc = spark.sparkContext
    sc.setJobGroup("knn-single-round", "knn_join job count")
    try:
        rows = knn_join(pts, qs, k=5, cell_size=_G).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("knn-single-round")
    assert _rounds(caplog) == [(1, False)]
    assert len(rows) == 25
    assert 1 <= len(jobs) <= 4, sorted(jobs)


@pytest.mark.parametrize("empty", ["points", "queries"])
def test_knn_empty_side_returns_empty(spark, dense_world, empty):
    """An empty local relation lets Spark drop the other join side's
    observed subtree, so round 1 sees no count for it: still no rows and no
    error."""
    pts, qs = dense_world
    if empty == "points":
        pts = _arrow_df(spark, "point_id", [(0, 0, 0)]).filter("point_id < 0")
    else:
        qs = _arrow_df(spark, "query_id", [(0, 0, 0)]).filter("query_id < 0")
    assert knn_join(pts, qs, k=5, cell_size=_G).collect() == []


def test_knn_round_one_disk_follows_size_estimate(spark, dense_world, caplog):
    """Round 1 sizes its disk before any count exists, from Catalyst's
    estimate of the query frame: broadcast under the session threshold,
    shuffled once the threshold is lowered below it. Both stay exact."""
    caplog.set_level(logging.DEBUG, logger="osmgraft.operators.knn")
    pts, qs = dense_world
    key = "spark.sql.autoBroadcastJoinThreshold"

    def round_one_disk():
        return [r.getMessage() for r in caplog.records if "round r=1 " in r.getMessage()][-1]

    _assert_brute(knn_join(pts, qs, k=5, cell_size=_G), pts, qs, 5)
    assert "disk=broadcast" in round_one_disk()
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "1000")
        _assert_brute(knn_join(pts, qs, k=5, cell_size=_G), pts, qs, 5)
    finally:
        spark.conf.set(key, old)
    assert "disk=shuffle" in round_one_disk()


# sparse background far from one query, plus a dense cluster: round 1 (r = 1)
# resolves the cluster query, the far query needs round two


def _far_inputs(spark, id0=0):
    rng = np.random.default_rng(7)
    cluster = [
        (id0 + i, 5_000_000 + int(a), 5_000_000 + int(b))
        for i, (a, b) in enumerate(rng.integers(-4_000_000, 4_000_000, (60, 2)))
    ]
    sparse = [(id0 + 100 + i, 200_000_000 + 3 * _G * i, 300_000_000) for i in range(6)]
    pts = _pts_df(spark, cluster + sparse)
    qs = _qs_df(spark, [(1, 5_000_000, 5_000_000), (2, 230_000_000, 330_000_000)])
    return pts, qs


@pytest.fixture(scope="module")
def far_world(spark):
    return _far_inputs(spark)


def test_knn_multi_round_caches_points_from_round_two(spark, far_world, caplog):
    caplog.set_level(logging.DEBUG, logger="osmgraft.operators.knn")
    pts, qs = far_world
    _assert_brute(knn_join(pts, qs, k=3, cell_size=_G), pts, qs, 3)
    rounds = _rounds(caplog)
    assert len(rounds) >= 2 and rounds[0] == (1, False)
    assert all(cached for _, cached in rounds[1:])


def test_knn_point_exactly_at_ring_bound(spark, caplog):
    """The kth neighbor at exactly r·cell_size along one axis resolves in
    round r (dist2 <= (r·G)² keeps it); a nearer-looking in-disk diagonal
    beyond the bound must lose to an out-of-disk point."""
    caplog.set_level(logging.DEBUG, logger="osmgraft.operators.knn")
    h = _G // 2  # query at the centre of cell (0, 0)
    pts = _pts_df(
        spark,
        [
            (1, h + _G, h),  # dist2 == G²: exactly on the r=1 bound
            (2, h + 12 * _G // 10, h + 12 * _G // 10),  # in the disk, 2.88 G²
            (3, h + 16 * _G // 10, h),  # outside the r=1 disk, 2.56 G²
        ],
    )
    qs = _qs_df(spark, [(7, h, h)])
    _assert_brute(knn_join(pts, qs, k=1, cell_size=_G), pts, qs, 1)
    assert _rounds(caplog) == [(1, False)]
    caplog.clear()
    _assert_brute(knn_join(pts, qs, k=2, cell_size=_G), pts, qs, 2)
    assert [r for r, _ in _rounds(caplog)] == [1, 4]


def test_knn_miss_sizes_next_radius_from_local_density(spark, caplog):
    """Points on a lattice of pitch 3 cells: round 1's ball holds one point
    for k = 20, so the next ball is sized for 80 points at that density,
    r = int(sqrt(80)) = 8, which holds 21. Quadrupling would run r = 4, then 16."""
    caplog.set_level(logging.DEBUG, logger="osmgraft.operators.knn")
    lattice = [(i, j) for i in range(-6, 7) for j in range(-6, 7)]
    pts = _pts_df(spark, [(n, 3 * _G * i, 3 * _G * j) for n, (i, j) in enumerate(lattice)])
    qs = _qs_df(spark, [(1, _G // 10, _G // 5)])
    _assert_brute(knn_join(pts, qs, k=20, cell_size=_G), pts, qs, 20)
    assert [r for r, _ in _rounds(caplog)] == [1, 8]


def test_knn_coarse_cells_wrap_alias(spark, caplog):
    """ncl = 6 lon cells: the r=4 disk spans 9 lon offsets, so lon offsets
    2..4 alias -4..-2. The points sit two lon cells from the query, in an
    aliased cell that must still be scanned once per query."""
    caplog.set_level(logging.DEBUG, logger="osmgraft.operators.knn")
    cell = 600_000_000  # 60 degrees
    rng = np.random.default_rng(3)
    lat = rng.integers(-100_000_000, 100_000_000, 12)
    lon = rng.integers(1_500_000_000, 1_700_000_000, 12)
    pts = _pts_df(spark, [(i, int(a), int(b)) for i, (a, b) in enumerate(zip(lat, lon))])
    qs = _qs_df(spark, [(1, 0, 300_000_000), (2, 50_000_000, 100_000_000)])
    _assert_brute(knn_join(pts, qs, k=3, cell_size=cell), pts, qs, 3)
    assert any(2 * r + 1 > 6 for r, _ in _rounds(caplog))


def test_knn_within_radius_matches_iterative(spark):
    """The distributed bounded-radius plan must agree with the exact iterative
    kNN for every query whose kth neighbor is inside the radius bound."""
    from pyspark.sql import functions as F

    from osmgraft.operators.knn import DEFAULT_CELL, knn_join, knn_within_radius
    from osmgraft.synth import points_projection

    orders = spark.range(1, 20_001, 1, 4).select(F.col("id").alias("o_orderkey"))
    pts = points_projection(orders).withColumnRenamed("point_id", "point_id")
    queries = (
        points_projection(
            spark.range(1, 8, 1, 2).select((F.col("id") * 977).alias("o_orderkey"))
        )
        .withColumnRenamed("point_id", "query_id")
    )
    k = 5
    exact = {
        (r.query_id, r.rank): (r.neighbor_id, r.dist2)
        for r in knn_join(pts, queries, k).collect()
    }
    radius = 2
    bound = (radius * DEFAULT_CELL) ** 2
    fast = knn_within_radius(pts, queries, k, radius_cells=radius).collect()
    by_q = {}
    for r in fast:
        by_q.setdefault(r.query_id, []).append(r)
    checked = 0
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        if len(rows) == k and rows[-1].dist2 <= bound:
            for r in rows:
                assert exact[(qid, r.rank)] == (r.neighbor_id, r.dist2)
            checked += 1
    assert checked >= 1  # at least one query fully resolved within the radius


def test_h3_pitch_lower_bound_holds():
    """The disk-sizing constant must sit BELOW the true minimum adjacent
    center pitch globally (it sizes the covering disk: smaller = safer)."""
    import numpy as np

    from osmgraft.functions import h3real as h3
    from osmgraft.operators.knn import _H3_PITCH_MIN_7

    rng = np.random.default_rng(17)
    for res in (4, 6):
        lat7 = rng.integers(-890_000_000, 890_000_001, 4000)
        lon7 = rng.integers(-1_800_000_000, 1_800_000_000, 4000)
        cells = np.unique(h3.latlng_to_cell(lat7, lon7, res))
        la, lo = h3.cell_to_latlng(cells)
        idx = {int(c): i for i, c in enumerate(cells)}
        worst = np.inf
        for c, disk in zip(cells, h3.grid_disk(cells, 1)):
            i = idx[int(c)]
            for nb in disk:
                j = idx.get(int(nb))
                if j is None or j == i:
                    continue
                dla = (la[i] - la[j]) * 1e7
                dlo = abs(lo[i] - lo[j]) * 1e7
                dlo = min(dlo, 3.6e9 - dlo) * np.cos(np.radians((la[i] + la[j]) / 2))
                worst = min(worst, np.hypot(dla, dlo))
        assert worst > _H3_PITCH_MIN_7[res], (res, worst, _H3_PITCH_MIN_7[res])


def test_knn_h3_ball_matches_bruteforce(spark):
    """H3-disk candidate pruning is exact: results equal brute-force ranked
    ball membership over all points (sf0.001)."""
    from pyspark.sql import functions as F

    from osmgraft.functions.cells import dist2
    from osmgraft.operators.knn import _topk, knn_h3_ball
    from osmgraft.queries import _knn_queries_df
    from osmgraft.synth import points_from_orders

    pts = points_from_orders(spark, "/root/testdata/sf0.001")
    q = _knn_queries_df(spark, "/root/testdata/sf0.001")
    r7 = 25_000_000
    got = sorted(map(tuple, knn_h3_ball(pts, q, k=5, radius7=r7, res=4)
                     .select("query_id", "neighbor_id", "dist2", "rank").collect()))
    brute_cand = (
        pts.crossJoin(q.select("query_id", F.col("lat7").alias("qlat7"),
                               F.col("lon7").alias("qlon7")))
        .select("query_id", F.col("point_id").alias("neighbor_id"),
                dist2(F.col("qlat7"), F.col("qlon7"), F.col("lat7"), F.col("lon7")).alias("dist2"))
        .where(F.col("dist2") <= r7 * r7)
    )
    want = sorted(map(tuple, _topk(brute_cand, 5)
                      .select("query_id", "neighbor_id", "dist2", "rank").collect()))
    assert got == want and len(got) > 0


def _cached_rdds(spark) -> int:
    """Persistent RDDs that are caches. The local checkpoints a result reads
    are persistent RDDs too, but they live exactly as long as that result."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return sum(not m.get(i).rdd().isLocallyCheckpointed() for i in m.keySet().toArray())


@pytest.mark.parametrize("path", ["single_round", "multi_round"])
def test_knn_leaves_no_cache(spark, path, caplog):
    caplog.set_level(logging.DEBUG, logger="osmgraft.operators.knn")
    # fresh point ids: a cache left by another call on equal data would
    # already count in `before`
    pts, qs = _far_inputs(spark, id0=1000 if path == "single_round" else 2000)
    if path == "single_round":
        qs = qs.filter("query_id = 1")  # inside the cluster: resolves at r0
    before = _cached_rdds(spark)
    got = knn_join(pts, qs, k=3, cell_size=_G)
    assert _cached_rdds(spark) == before
    assert got.count() == 3 * qs.count()
    assert _cached_rdds(spark) == before
    rounds = _rounds(caplog)
    assert (len(rounds) == 1) == (path == "single_round")
    assert any(cached for _, cached in rounds) == (path == "multi_round")
