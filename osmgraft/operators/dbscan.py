"""DBSCAN density clustering over fixed-point coordinates.

The classic density-based spatial clustering algorithm (Ester et al., KDD'96
— public knowledge) re-expressed as relational stages, the missing member of
the engine's clustering family (grid regions, near-dup components, semantic
dedup): points dense enough to have ``min_pts`` neighbors within ``eps``
become CORES, cores within ``eps`` of each other merge into one cluster,
non-cores within ``eps`` of a core attach as BORDERS, everything else is
NOISE.

Determinism: textbook DBSCAN assigns a border point to whichever core
reached it first (scan-order dependent). This implementation assigns it to
the MINIMUM cluster label among its reachable cores, making the output a
pure function of the input — hash-gateable and partitioning-independent.

Distance is the kNN operators' exact integer metric (``cells.dist2``):
squared planar fixed-point with antimeridian-wrapped longitude, so clusters
straddling ±180° merge correctly.

Relational shape (no driver loop; the component residual is size-gated):
  1. eps-pitch grid: each point keyed to ONE cell (lon cells wrap mod
     LON_SPAN/eps); the probe side explodes to its 3x3 cell neighborhood —
     every eps-close pair provably shares a (cell, probe-cell) key, so ONE
     equi-join enumerates all candidate pairs (each directed pair exactly
     once), refined by the exact metric in the same codegen stage.
  2. degree per point -> core flags (one map-side-combine count).
  3. core-core edges -> two-level components (stripe-local union-find in
     one applyInPandas job + size-gated residual merge; labels provably
     identical to cc_star's min-id labels).
  4. border attach: one join of non-core->core pairs against the core
     labels, min-aggregated.

100 TB shape: the candidate join shuffles on cell keys — dense urban cells
are exactly the skew the adaptive quadtree partitioner / AQE skew split
handle; degree and border aggregations are partial-aggregated map-side.
eps controls candidate fan-out (expected neighbors = pi*eps^2*density), the
same capacity knob the reference's cell-based spatial joins expose.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmgraft.functions.cells import dist2, grid_yx, lon_cells, sql_dist2, sql_grid_yx
from osmgraft.operators.graph import cc_two_level_banded


def _candidate_pairs(
    points: DataFrame, eps: int, id_col: str, lat_col: str, lon_col: str
) -> DataFrame:
    """Directed pairs (u, v), u != v, wrap-aware dist2 <= eps^2 — each
    ordered pair appears exactly once (v's probe explosion lands in u's cell
    for exactly one of the 9 offsets)."""
    ncl = lon_cells(eps)
    cy, cx = grid_yx(F.col(lat_col), F.col(lon_col), eps)
    base = points.select(
        F.col(id_col).alias("pid"),
        F.col(lat_col).cast("long").alias("plat"),
        F.col(lon_col).cast("long").alias("plon"),
        cy.alias("cy"),
        cx.alias("cx"),
    )
    probe = base.select(
        F.col("pid").alias("qid"),
        F.col("plat").alias("qlat"),
        F.col("plon").alias("qlon"),
        F.col("cy").alias("qcy"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("cy") + F.lit(dy)).alias("py"),
                        F.pmod(F.col("cx") + F.lit(dx), F.lit(ncl)).alias("px"),
                    )
                    for dy in (-1, 0, 1)
                    for dx in (-1, 0, 1)
                ]
            )
        ).alias("cell"),
    )
    return (
        base.join(
            probe,
            (F.col("cy") == F.col("cell.py")) & (F.col("cx") == F.col("cell.px")),
        )
        .where(
            (F.col("pid") != F.col("qid"))
            & (dist2(F.col("plat"), F.col("plon"), F.col("qlat"), F.col("qlon")) <= eps * eps)
        )
        .select(
            F.col("pid").alias("u"),
            F.col("qid").alias("v"),
            # lat-cell STRIPES (8 cells tall) as bands for the two-level
            # component merge: a function of each endpoint's OWN cell, so
            # banding is consistent per node; eps-sized clusters cross a
            # stripe boundary only every 8th cell row, so almost all core
            # edges are intra-band
            F.expr("cy div 8").alias("bu"),
            F.expr("qcy div 8").alias("bv"),
        )
    )


def dbscan(
    points: DataFrame,
    eps: int,
    min_pts: int,
    id_col: str = "point_id",
    lat_col: str = "lat7",
    lon_col: str = "lon7",
) -> DataFrame:
    """(point_id, role, label): role in {'core','border','noise'}; label is
    the cluster id (minimum member point_id) for cores/borders, NULL for
    noise. ``eps`` in 1e-7-degree units and must divide LON_SPAN evenly
    (uniform wrap); ``min_pts`` counts the point itself (>= 2)."""
    if min_pts < 2:
        raise ValueError("min_pts must be >= 2 (1 would mark every point core)")
    pairs = _candidate_pairs(points, eps, id_col, lat_col, lon_col).localCheckpoint(
        eager=False
    )
    deg = pairs.groupBy("u").agg(F.count(F.lit(1)).alias("cnt"))
    cores = deg.where(F.col("cnt") + 1 >= min_pts).select(F.col("u").alias("cid"))

    core_edges = (
        pairs.join(cores, pairs["u"] == cores["cid"], "leftsemi")
        .join(cores, pairs["v"] == cores["cid"], "leftsemi")
        .where(F.col("u") < F.col("v"))
    )
    # two-level merge (graph.cc_two_level_banded): stripe-local union-find in
    # ONE applyInPandas job + a size-gated residual — supercritical urban
    # clusters otherwise cost cc_star a full-shuffle round per log2(diameter)
    linked = cc_two_level_banded(core_edges.select("u", "v", "bu", "bv")).select(
        F.col("id").alias("cid"), F.col("comp").alias("core_label")
    )
    singles = cores.join(linked, "cid", "left_anti").select(
        "cid", F.col("cid").alias("core_label")
    )
    core_labels = linked.unionByName(singles)

    border_labels = (
        pairs.join(cores, pairs["u"] == cores["cid"], "left_anti")
        .join(core_labels, pairs["v"] == core_labels["cid"])
        .groupBy("u")
        .agg(F.min("core_label").alias("border_label"))
    )

    ids = points.select(F.col(id_col).alias("pid"))
    return (
        ids.join(core_labels, ids["pid"] == core_labels["cid"], "left")
        .join(border_labels, ids["pid"] == border_labels["u"], "left")
        .select(
            F.col("pid").alias(id_col),
            F.when(F.col("core_label").isNotNull(), F.lit("core"))
            .when(F.col("border_label").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            # noise carries the sentinel -1, never NULL: a nullable int
            # output column floatifies under pandas-path oracle fetches
            # (None → NaN → '4.0'-style hash skew; r5 DUCK_FETCH=df sweep)
            F.coalesce(F.col("core_label"), F.col("border_label"), F.lit(-1).cast("long")).alias(
                "label"
            ),
        )
    )


def sql_dbscan(pts_cte: str, eps: int, min_pts: int) -> str:
    """DuckDB twin over a (point_id, lat7, lon7) CTE body: identical cell
    candidates + metric text, but components via recursive-CTE transitive
    closure (the dedup_components discipline — two algorithms, one hash)."""
    ncl = lon_cells(eps)
    cy, cx = sql_grid_yx("lat7", "lon7", eps)
    d2 = sql_dist2("a.plat", "a.plon", "b.qlat", "b.qlon")
    return f"""WITH RECURSIVE pts AS ({pts_cte}),
c AS (
  SELECT point_id AS pid, CAST(lat7 AS BIGINT) AS plat, CAST(lon7 AS BIGINT) AS plon,
         {cy} AS cy, {cx} AS cx
  FROM pts
),
probe AS (
  SELECT pid AS qid, plat AS qlat, plon AS qlon,
         cy + dy AS py, ((cx + dx) % {ncl} + {ncl}) % {ncl} AS px
  FROM c, (VALUES (-1), (0), (1)) o1(dy), (VALUES (-1), (0), (1)) o2(dx)
),
pairs AS (
  SELECT a.pid AS u, b.qid AS v
  FROM c a JOIN probe b ON a.cy = b.py AND a.cx = b.px
  WHERE a.pid <> b.qid AND {d2} <= {eps * eps}
),
deg AS (SELECT u, count(*) AS cnt FROM pairs GROUP BY u),
cores AS (SELECT u AS cid FROM deg WHERE cnt + 1 >= {min_pts}),
core_sym AS (
  SELECT p.u AS src, p.v AS dst FROM pairs p
  JOIN cores x ON x.cid = p.u JOIN cores y ON y.cid = p.v
),
reach(src, dst) AS (
  SELECT src, dst FROM core_sym
  UNION
  SELECT r.src, e.dst FROM reach r JOIN core_sym e ON e.src = r.dst
),
linked AS (SELECT src AS cid, least(src, min(dst)) AS core_label FROM reach GROUP BY src),
core_labels AS (
  SELECT cid, core_label FROM linked
  UNION ALL
  SELECT cid, cid FROM cores WHERE cid NOT IN (SELECT cid FROM linked)
),
border_labels AS (
  SELECT p.u, min(cl.core_label) AS border_label
  FROM pairs p
  JOIN core_labels cl ON cl.cid = p.v
  WHERE p.u NOT IN (SELECT cid FROM cores)
  GROUP BY p.u
)
SELECT pts.point_id,
       CASE WHEN cl.core_label IS NOT NULL THEN 'core'
            WHEN bl.border_label IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       CAST(COALESCE(cl.core_label, bl.border_label, -1) AS BIGINT) AS label
FROM pts
LEFT JOIN core_labels cl ON cl.cid = pts.point_id
LEFT JOIN border_labels bl ON bl.u = pts.point_id"""
