"""kNN join via cell-neighbor ring expansion (north rule; SURVEY.md §2.3).

Both sides stay DISTRIBUTED. Points (the huge side — like osmio's nodestore
side, nodestore.rs:55-64) get one long grid cell id ``clat·ncl + clon`` with
``(clat, clon) = (lat7 // G, lon7 // G)`` and are cell-joined on it; queries
are a DataFrame throughout. Candidates are ranked per query by the exact
fixed-point planar metric

    dist2 = (Δlat7)² + (Δlon7)²            (int64 — bitwise deterministic)

with (dist2, neighbor_id) ordering. Δlon is WRAP-AWARE:
``dlon_w = min(|Δlon7|, 3.6e9 − |Δlon7|) ≤ 1.8e9`` — longitude cells wrap
modulo the 360° span (cell_size must divide 3_600_000_000), so antimeridian
neighbors are found. The grid (``grid_yx``, ``grid_cell``) and the metric
(``dist2``, ``py_dist2``) are the shared ones of :mod:`osmgraft.functions.cells`.

:func:`knn_join` runs ring ROUNDS. A round explodes every still-active query
into its full wrapped disk of (2r+1)² cells, joins it to the point cells
(the disk side is broadcast when it fits the session's broadcast threshold,
so the points stream through with no shuffle) and keeps only candidates with
dist2 ≤ (r·G)². Every point within that bound lies inside the disk, so the
kept set is exactly the ball of radius r·G: a query whose ball holds ≥ k
points (its rank-k row exists) has its exact answer and is resolved.

Each round is ONE Spark action, its eager localCheckpoint, whose observed
metrics (``Observation``) carry the loop's counts: points, active queries,
ranked rows, resolved queries. Round 1 runs at r = 1. On a miss, the ranked
rows of the unresolved queries (each short of k) measure the density around
them; the next ball is sized to hold ≥ 4k points, at least 4·r, at most
``_MAX_RADIUS_CELLS`` cells. Queries still unresolved there, or every query
when |points| ≤ k, fall back to one brute-force broadcast pass. The driver
sees ONLY those scalar counts, never candidate rows. Points are cached only
once a second round is needed. Engine choices (counts, disk choice and size
estimate, caching, fallback size) are logged at DEBUG.
"""

from __future__ import annotations

import logging
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from osmgraft.functions.cells import dist2, grid_cell, grid_yx, lon_cells
# re-exported: callers import the span and the Python metric from here
from osmgraft.functions.cells import py_dist2  # noqa: F401
from osmgraft.functions.coords import LON_SPAN  # noqa: F401

log = logging.getLogger(__name__)

DEFAULT_CELL = 50_000_000  # 5° in fixed-point units
# a query still unresolved at this ring radius (in cells) goes to brute force
_MAX_RADIUS_CELLS = 64
# UnsafeRow size of one (query_id, qlat7, qlon7, cell) disk row: null bitset
# word + four 8-byte slots — sizes the broadcast-disk decision
_DISK_ROW_BYTES = 40


def _point_cells(points: DataFrame, cell_size: int) -> DataFrame:
    cell = grid_cell(F.col("lat7"), F.col("lon7"), cell_size)
    return points.select("point_id", "lat7", "lon7", cell.alias("cell"))


def _query_cells(queries: DataFrame, cell_size: int) -> DataFrame:
    qclat, qclon = grid_yx(F.col("lat7"), F.col("lon7"), cell_size)
    return queries.select(
        "query_id",
        F.col("lat7").alias("qlat7"),
        F.col("lon7").alias("qlon7"),
        qclat.alias("qclat"),
        qclon.alias("qclon"),
    )


def _disk(q: DataFrame, r: int, ncl: int) -> DataFrame:
    """Explode each (query_id, qlat7, qlon7, qclat, qclon) row into the
    (2r+1)² wrapped grid cells of its chebyshev disk — JVM-side. One long
    cell id (the ``grid_cell`` key) makes the join build a LongHashedRelation."""
    d = F.sequence(F.lit(-r), F.lit(r))
    clon = F.pmod(F.col("qclon") + F.col("_dj"), F.lit(ncl))
    cell = (F.col("qclat") + F.col("_di")) * F.lit(ncl) + clon
    disk = (
        q.withColumn("_di", F.explode(d))
        .withColumn("_dj", F.explode(d))
        .select("query_id", "qlat7", "qlon7", cell.alias("cell"))
    )
    if 2 * r + 1 > ncl:
        # lon wrap aliases cells only when the disk spans every lon cell;
        # skipping the dedup otherwise saves a whole shuffle
        disk = disk.dropDuplicates(["query_id", "cell"])
    return disk


def _dist2_rows(pairs: DataFrame) -> DataFrame:
    """Joined (query, point) pairs → (query_id, neighbor_id, dist2)."""
    return pairs.select(
        "query_id",
        F.col("point_id").alias("neighbor_id"),
        dist2(F.col("qlat7"), F.col("qlon7"), F.col("lat7"), F.col("lon7")).alias("dist2"),
    )


def _topk(cand: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, dist2) → per-query top-k with rank."""
    w = Window.partitionBy("query_id").orderBy("dist2", "neighbor_id")
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _observed(obs: Observation) -> int:
    """The count an action observed. Spark drops the observed subtree of a
    join whose other side is empty, leaving no row: that reads as 0."""
    row = obs._jo.getRow()
    return row.getLong(0) if row.length() else 0


def knn_join(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    cell_size: int = DEFAULT_CELL,
) -> DataFrame:
    """points: (point_id, lat7, lon7); queries: (query_id, lat7, lon7).

    Returns (query_id, neighbor_id, dist2, rank) with exactly min(k, |points|)
    rows per query, rank 1..k ordered by (dist2, neighbor_id). Exact, fully
    distributed, adaptive radius: each ring round ranks the candidates of the
    full (2r+1)² disk that lie within r·cell_size and resolves every query
    whose rank-k row exists (module docstring). Each round is ONE Spark action
    that also observes the counts the loop needs; round 1 (r = 1) resolves
    every query whose k nearest points lie within cell_size. For a one-pass
    plan with a known density bound use :func:`knn_within_radius`.

    Round 1 picks a broadcast or shuffled disk from Catalyst's size estimate
    of ``queries``. Frames of unknown size (Python lists, RDDs, joins without
    CBO) estimate near Long.MaxValue and so shuffle every point in round 1,
    even for 2 queries; Arrow, parquet or range frames give a real estimate.

    ``queries`` must have DETERMINISTIC lineage (no un-seeded sample()/rand()/
    unordered limit()): every round and the brute-force fallback re-read it.
    Callers with such inputs should ``localCheckpoint(eager=True)`` it first.
    """
    spark = points.sparkSession
    ncl = lon_cells(cell_size)
    pts = _point_cells(points, cell_size)
    active = _query_cells(queries, cell_size)
    out_schema = "query_id long, neighbor_id long, dist2 long, rank int"
    threshold = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    # round 1's disk size (docstring); later rounds use the observed count
    q_bytes = active._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()

    done: list[DataFrame] = []  # resolved (query_id, neighbor_id, dist2, rank)
    cached = False
    r, n_active = 1, 0
    try:
        while r <= _MAX_RADIUS_CELLS:
            est = q_bytes * (2 * r + 1) ** 2
            broadcast = 0 <= est <= threshold
            obs = [Observation() for _ in range(4)]  # points, active, ranked, resolved
            disk = _disk(active.observe(obs[1], F.count(F.lit(1))), r, ncl)
            # clamp: (r·G)² can exceed int64 for large radii, but every real
            # dist2 ≤ 2·(1.8e9)² < 2^63, so the clamp is semantically exact
            bound = min((r * cell_size) ** 2, (1 << 63) - 1)
            cand = _dist2_rows(
                pts.observe(obs[0], F.count(F.lit(1)))
                .join(F.broadcast(disk) if broadcast else disk, "cell")
            )
            # the round's ONE action; the caller's action reads the checkpoint
            topk = (
                _topk(cand.filter(F.col("dist2") <= bound), k)
                .observe(obs[2], F.count(F.lit(1)))
                .observe(obs[3], F.count(F.when(F.col("rank") == k, 1)))
                .localCheckpoint(eager=True)
            )
            n, n_active, ranked, n_resolved = map(_observed, obs)
            log.debug(
                "knn_join: round r=%d n=%d active=%d ranked=%d resolved=%d disk=%s est=%d "
                "pts_cached=%s", r, n, n_active, ranked, n_resolved,
                "broadcast" if broadcast else "shuffle", est, cached,
            )
            if not (n and n_active):  # an empty side: the round's empty result
                if done:  # only round 1 can see one; later rounds rerun known sides
                    raise RuntimeError(f"knn_join: round r={r} saw n={n} active={n_active}")
                return spark.createDataFrame([], out_schema)
            if n <= k:  # every answer is all the points: straight to brute force
                break
            if n_resolved == n_active:
                done.append(topk)  # no semi-join: every ranked row is resolved
                n_active = 0
                break
            resolved = topk.filter(F.col("rank") == k).select("query_id")
            done.append(topk.join(F.broadcast(resolved), "query_id", "left_semi"))
            # miss: the unresolved queries' ranked rows give their local
            # density; size the next ball for ≥4k points (module docstring)
            short, n_active = ranked - k * n_resolved, n_active - n_resolved
            grow = max(4.0, (4.0 * k * n_active / short) ** 0.5 if short else 0)
            r = min(int(r * grow), _MAX_RADIUS_CELLS) if r < _MAX_RADIUS_CELLS else r + 1
            q_bytes = n_active * _DISK_ROW_BYTES
            # lazy: the next round's action materializes it
            active = active.join(F.broadcast(resolved), "query_id", "left_anti")
            active = active.localCheckpoint(eager=False)
            if not cached:
                pts, cached = pts.persist(), True  # later rounds rescan the points

        if n_active > 0:  # stragglers (k ≥ |points| or empty regions)
            log.debug("knn_join: brute-force fallback for %d queries", n_active)
            q = F.broadcast(active.select("query_id", "qlat7", "qlon7"))
            done.append(_topk(_dist2_rows(pts.crossJoin(q)), k))
        out = reduce(DataFrame.union, done).select("query_id", "neighbor_id", "dist2", "rank")
        # every round's frame reads localCheckpoint'd data, but the brute-force
        # pass reads the cached points: materialize it DISTRIBUTED before the
        # finally-block unpersists them — never a driver collect
        return out.localCheckpoint(eager=True) if cached and n_active > 0 else out
    finally:
        if cached:
            pts.unpersist()


def knn_within_radius(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    radius_cells: int = 2,
    cell_size: int = DEFAULT_CELL,
) -> DataFrame:
    """Fully-distributed kNN for a bounded search radius — the one-pass
    cluster-scale path when the query side is itself a big DataFrame (no
    driver collect, no iteration, lazy single plan).

    Each query row is exploded into its (2r+1)² wrapped grid-cell disk
    JVM-side (sequence × sequence), shuffled-joined against the cell-indexed
    point table, and ranked per query by the exact wrap-aware metric
    (dist2, neighbor_id). Results are exact for neighbors within
    ``radius_cells·cell_size`` along both axes; queries whose k-th neighbor
    lies farther return fewer/farther rows — callers choose the radius from
    data density (same contract as every bounded-radius spatial index scan).

    Scale: one explode (fan-out (2r+1)², JVM), one shuffle on the long cell
    id — salt-compatible with operators/celljoin if cells are hot — and one
    window top-k shuffled on query_id.
    """
    pts = _point_cells(points, cell_size)
    disk = _disk(_query_cells(queries, cell_size), radius_cells, lon_cells(cell_size))
    return _topk(_dist2_rows(disk.join(pts, "cell")), k)


# --- kNN over REAL H3 cells (north star: "kNN via cell-neighbor ring
# expansion" — this variant runs the ring expansion on Uber-compatible H3
# gridDisk neighborhoods instead of the wrapped integer grid) -----------------

# Conservative LOWER bound on the angular center-to-center pitch of adjacent
# H3 cells, in 1e-7-degree units per res.  Derivation: chart pitch
# u0/sqrt(7)^res radians, worst gnomonic compression cos^2(face
# circumradius 37.4deg) ~ 0.629, and an extra 0.9 safety factor; pinned
# against an empirical global minimum over sampled adjacent center pairs in
# tests/test_knn.py (the bound must sit BELOW the true minimum — it sizes
# the covering disk, so smaller = safer = more cells).
_H3_PITCH_MIN_7 = {
    res: int(0.9 * 0.629 * np.degrees(0.38196601125010500003 / 7 ** (res / 2)) * 1e7)
    for res in range(0, 11)
}


def knn_h3_ball(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    radius7: int,
    res: int = 6,
) -> DataFrame:
    """Exact k nearest neighbors WITHIN the metric ball dist2 <= radius7^2,
    candidate-pruned by real H3 gridDisk neighborhoods: each query explodes
    into the disk(R) of its H3 cell where R is sized so the disk provably
    covers the ball (R >= 1.5*sqrt(2)*radius7/pitch_min + 3 — hex-metric
    vs euclid factor 2/sqrt(3), degree-space vs great-circle sqrt(2), plus
    cross-face margin), candidates equi-join on cell id, the exact
    wrap-aware integer metric filters to the ball, and a window ranks
    (dist2, neighbor_id).  Ball semantics make the DuckDB twin plain SQL
    (rank among points with dist2 <= radius7^2) even though adjacency
    itself is not SQL-expressible.

    Scale: one pandas-UDF cell assignment per side, one disk explode over
    the (small) query side, one equi-join shuffle on cell id, one window —
    no driver loop; hot cells salt like any cell join."""
    from pyspark.sql.functions import pandas_udf

    from osmgraft.functions.cells import h3_cell_udf
    from osmgraft.functions.h3real import grid_disk

    if res not in _H3_PITCH_MIN_7:
        raise ValueError(
            f"res must be in {sorted(_H3_PITCH_MIN_7)} (pitch bound table)"
        )
    R = int(np.ceil(1.5 * 1.41422 * radius7 / _H3_PITCH_MIN_7[res])) + 3

    pts = points.select(
        "point_id", "lat7", "lon7",
        h3_cell_udf(res)(F.col("lat7"), F.col("lon7")).alias("cell"),
    )

    @pandas_udf("array<long>")
    def _disk(cells: pd.Series) -> pd.Series:
        if len(cells) == 0:
            return pd.Series([], dtype="object")
        return pd.Series([
            [int(x) for x in d] for d in grid_disk(cells.to_numpy(), R)
        ])

    q = queries.select(
        "query_id",
        F.col("lat7").alias("qlat7"),
        F.col("lon7").alias("qlon7"),
        h3_cell_udf(res)(F.col("lat7"), F.col("lon7")).alias("qcell"),
    )
    probe = q.select(
        "query_id", "qlat7", "qlon7", F.explode(_disk(F.col("qcell"))).alias("cell")
    )
    cand = _dist2_rows(pts.join(F.broadcast(probe), "cell")).where(
        F.col("dist2") <= F.lit(int(radius7) * int(radius7))
    )
    return _topk(cand, k)
