"""kNN join via cell-neighbor ring expansion (north rule; SURVEY.md §2.3).

Both sides stay DISTRIBUTED. Points (the huge side — like osmio's nodestore
side, nodestore.rs:55-64) get an integer grid cell ``(lat7 // G, lon7 // G)``
and are cell-joined; queries are a DataFrame throughout. Candidates are
ranked per query by the exact fixed-point planar metric

    dist2 = (Δlat7)² + (Δlon7)²            (int64 — bitwise deterministic)

with (dist2, neighbor_id) ordering. Δlon is WRAP-AWARE:
``dlon_w = min(|Δlon7|, 3.6e9 − |Δlon7|) ≤ 1.8e9`` — longitude cells wrap
modulo the 360° span (cell_size must divide 3_600_000_000), so antimeridian
neighbors are found. The grid (``grid_yx``) and the metric (``dist2``,
``py_dist2``) are the shared ones of :mod:`osmgraft.functions.cells`.

:func:`knn_join` runs ring ROUNDS. A round explodes every still-active query
into its full wrapped disk of (2r+1)² cells, joins it to the point cells
(the disk side is broadcast when it fits the session's broadcast threshold,
so the points stream through with no shuffle) and keeps only candidates with
dist2 ≤ (r·G)². Every point within that bound lies inside the disk, so the
kept set is exactly the ball of radius r·G: a query whose ball holds ≥ k
points (its rank-k row exists) has its exact answer and is resolved. The
rest run again with r quadrupled — r_next = min(4·r, 64) — so ≤ log₄(64) + 1
rounds; queries still unresolved at 64 cells (``_MAX_RADIUS_CELLS``), or
any query when |points| ≤ k, fall back to one brute-force broadcast pass.
A density-derived starting radius makes the common case a single round.

The driver sees ONLY a scalar resolved-query count per round (loop control,
like any Pregel-style iteration) — never candidate rows. Points are cached
only once a second round is needed. Engine choices (r0, per-round counts,
broadcast vs shuffle disk, caching, fallback size) are logged at DEBUG on
this module's logger.
"""

from __future__ import annotations

import logging
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osmgraft.functions.cells import dist2, grid_yx, lon_cells
# re-exported: callers import the span and the Python metric from here
from osmgraft.functions.cells import py_dist2  # noqa: F401
from osmgraft.functions.coords import LON_SPAN  # noqa: F401

log = logging.getLogger(__name__)

DEFAULT_CELL = 50_000_000  # 5° in fixed-point units
# a query still unresolved at this ring radius (in cells) goes to brute force
_MAX_RADIUS_CELLS = 64
# UnsafeRow size of one (query_id, qlat7, qlon7, clat, clon) disk row:
# null bitset word + five 8-byte slots — sizes the broadcast-disk decision
_DISK_ROW_BYTES = 48


def _point_cells(points: DataFrame, cell_size: int) -> DataFrame:
    clat, clon = grid_yx(F.col("lat7"), F.col("lon7"), cell_size)
    return points.select("point_id", "lat7", "lon7", clat.alias("clat"), clon.alias("clon"))


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
    (2r+1)² wrapped grid cells of its chebyshev disk — JVM-side."""
    d = F.sequence(F.lit(-r), F.lit(r))
    disk = (
        q.withColumn("_di", F.explode(d))
        .withColumn("_dj", F.explode(d))
        .select(
            "query_id",
            "qlat7",
            "qlon7",
            (F.col("qclat") + F.col("_di")).alias("clat"),
            F.pmod(F.col("qclon") + F.col("_dj"), F.lit(ncl)).alias("clon"),
        )
    )
    if 2 * r + 1 > ncl:
        # lon wrap aliases cells only when the disk spans every lon cell;
        # skipping the dedup otherwise saves a whole shuffle
        disk = disk.dropDuplicates(["query_id", "clat", "clon"])
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


def knn_join(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    cell_size: int = DEFAULT_CELL,
    ensure_parallelism: bool = False,
) -> DataFrame:
    """points: (point_id, lat7, lon7); queries: (query_id, lat7, lon7).

    Returns (query_id, neighbor_id, dist2, rank) with exactly min(k, |points|)
    rows per query, rank 1..k ordered by (dist2, neighbor_id). Exact, fully
    distributed, adaptive radius: one stats job seeds r0, then each ring
    round ranks the candidates of the full (2r+1)² disk that lie within
    r·cell_size and resolves every query whose rank-k row exists (module
    docstring). One blocking count per round; for a one-pass plan with a
    known density bound use :func:`knn_within_radius`.

    ``queries`` must have DETERMINISTIC lineage (no un-seeded sample()/rand()/
    unordered limit()): the operator evaluates it more than once (count +
    round joins) without an upfront snapshot — the standard Spark caveat for
    reusing a non-deterministic DataFrame. Callers with such inputs should
    ``localCheckpoint(eager=True)`` the query frame first.
    """
    from osmgraft.operators.util import maybe_parallelize

    spark = points.sparkSession
    ncl = lon_cells(cell_size)
    pts = _point_cells(maybe_parallelize(points, ensure_parallelism), cell_size)
    active = _query_cells(queries, cell_size)
    out_schema = "query_id long, neighbor_id long, dist2 long, rank int"

    # density-derived starting radius: one stats job picks r0 so the first
    # disk is expected to hold ≥4k candidates per query (occupied-cell
    # density — robust to clustered data). Wrong guesses only cost an extra
    # escalation round (exactness never depends on the estimate); a right
    # guess makes the common case a SINGLE round. The stats job and the query
    # count are independent — run them concurrently (each blocking job costs
    # ~0.3s of submit overhead in local mode, and this operator's wall is
    # job-count-bound, not data-bound, at small SF).
    with ThreadPoolExecutor(2) as ex:
        stats_f = ex.submit(
            lambda: pts.agg(
                F.count(F.lit(1)).alias("n"),
                # the estimate only seeds r0 — HLL beats an exact distinct's shuffle
                F.approx_count_distinct(F.col("clat") * ncl + F.col("clon"), rsd=0.1).alias(
                    "cells"
                ),
            ).collect()[0]
        )
        n_active_f = ex.submit(active.count)
        stats, n_active = stats_f.result(), n_active_f.result()
    if stats.n == 0:
        return spark.createDataFrame([], out_schema)
    density = stats.n / max(stats.cells, 1)
    r0 = int(((4.0 * k / density) ** 0.5 - 1) // 2 + 1)
    log.debug("knn_join: n=%d cells~%d density=%.1f/cell r0=%d", stats.n, stats.cells, density, r0)
    threshold = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()

    done: list[DataFrame] = []  # resolved (query_id, neighbor_id, dist2, rank)
    cached = False
    r = max(1, min(r0, _MAX_RADIUS_CELLS))
    try:
        # |points| ≤ k: every answer is all the points — straight to brute force
        while stats.n > k and n_active > 0 and r <= _MAX_RADIUS_CELLS:
            disk = _disk(active, r, ncl)
            broadcast = 0 <= n_active * (2 * r + 1) ** 2 * _DISK_ROW_BYTES <= threshold
            # clamp: (r·G)² can exceed int64 for large radii, but every real
            # dist2 ≤ 2·(1.8e9)² < 2^63, so the clamp is semantically exact
            bound = min((r * cell_size) ** 2, (1 << 63) - 1)
            cand = _dist2_rows(pts.join(F.broadcast(disk) if broadcast else disk, ["clat", "clon"]))
            # LAZY localCheckpoint: the resolved count below is the round's
            # ONE blocking action and materializes it as a side effect, and
            # the caller's action then reads it instead of re-joining
            topk = _topk(cand.filter(F.col("dist2") <= bound), k).localCheckpoint(eager=False)
            resolved = topk.filter(F.col("rank") == k).select("query_id")
            n_resolved = resolved.count()
            log.debug(
                "knn_join: round r=%d active=%d resolved=%d disk=%s pts_cached=%s",
                r, n_active, n_resolved, "broadcast" if broadcast else "shuffle", cached,
            )
            if n_resolved == n_active:
                done.append(topk)  # no semi-join: every ranked row is resolved
                n_active = 0
                break
            done.append(topk.join(F.broadcast(resolved), "query_id", "left_semi"))
            n_active -= n_resolved
            # lazy for the same reason: the next round's count materializes it
            active = active.join(F.broadcast(resolved), "query_id", "left_anti").localCheckpoint(
                eager=False
            )
            r = min(r * 4, _MAX_RADIUS_CELLS) if r < _MAX_RADIUS_CELLS else r + 1
            if r <= _MAX_RADIUS_CELLS and not cached:
                pts, cached = pts.persist(), True  # a second round rescans the points

        if n_active > 0:  # stragglers (k ≥ |points| or empty regions)
            log.debug("knn_join: brute-force fallback for %d queries", n_active)
            q = F.broadcast(active.select("query_id", "qlat7", "qlon7"))
            done.append(_topk(_dist2_rows(pts.crossJoin(q)), k))
        if not done:
            return spark.createDataFrame([], out_schema)
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
    ensure_parallelism: bool = False,
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

    Scale: one explode (fan-out (2r+1)², JVM), one shuffle on (clat, clon) —
    salt-compatible with operators/celljoin if cells are hot — and one
    window top-k shuffled on query_id.
    """
    from osmgraft.operators.util import maybe_parallelize

    pts = _point_cells(maybe_parallelize(points, ensure_parallelism), cell_size)
    disk = _disk(_query_cells(queries, cell_size), radius_cells, lon_cells(cell_size))
    return _topk(_dist2_rows(disk.join(pts, ["clat", "clon"])), k)


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
    ensure_parallelism: bool = False,
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
    from osmgraft.operators.util import maybe_parallelize

    if res not in _H3_PITCH_MIN_7:
        raise ValueError(
            f"res must be in {sorted(_H3_PITCH_MIN_7)} (pitch bound table)"
        )
    R = int(np.ceil(1.5 * 1.41422 * radius7 / _H3_PITCH_MIN_7[res])) + 3

    pts = maybe_parallelize(points, ensure_parallelism).select(
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
