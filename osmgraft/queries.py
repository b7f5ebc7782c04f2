"""Query registry backing ``__spark_entry__.py``.

Each entry: name → (spark_fn(spark, sf_dir) -> DataFrame, oracle_sql | None).
Oracle SQL runs in DuckDB over the same parquet views; Spark results must
match on row count + schema + order-insensitive value hash, so every computed
column is aliased identically on both sides and float-valued outputs are
avoided or made exactly reproducible (integer math / identical IEEE expression
shapes — see osmgraft.functions.tiles, osmgraft.geom).
"""

from __future__ import annotations

import logging
import os
from collections.abc import Callable

import pandas as pd  # noqa: F401  (resolves pandas_udf type hints under future-annotations)

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osmgraft.functions import coords, tiles
from osmgraft.functions.timestamps import ntz_from_epoch as _ntz_from_epoch
from osmgraft.geom import sql_pip_predicate
from osmgraft.io import read_fixture
from osmgraft.operators.pip import pip_join
from osmgraft.operators.util import ensure_min_parallelism
from osmgraft.synth import (
    _A_LAT,
    _A_LON,
    _B_LAT,
    _B_LON,
    _C_LAT,
    ADMIN_BOUNDARIES,
    points_from_orders,
    sql_points_cte,
)

log = logging.getLogger(__name__)

QueryFn = Callable[[SparkSession, str], DataFrame]
# oracle: SQL string, None (rows-only gate), or a zero-arg callable building
# the SQL lazily (for oracles whose construction is itself expensive — e.g.
# the h3_polyfill twin runs the bbox sweep; resolved + cached in all_oracles)
REGISTRY: dict[str, tuple[QueryFn, str | None | Callable[[], str]]] = {}


def register(name: str, oracle: str | None | Callable[[], str]):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = (fn, oracle)
        return fn

    return deco


_PTS = sql_points_cte()


# --- tiles ---------------------------------------------------------------------
@register(
    "tile_counts_z13",
    f"""WITH pts AS ({_PTS})
SELECT {tiles.sql_tile_x('lon7', 13)} AS tx, {tiles.sql_tile_y('lat7', 13)} AS ty,
       count(*) AS cnt
FROM pts GROUP BY tx, ty""",
)
def tile_counts_z13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slippy z13 tile assignment + per-tile counts (engine raster op, SQL twin)."""
    pts = points_from_orders(spark, sf_dir)
    return (
        pts.select(
            tiles.tile_x(F.col("lon7"), 13).alias("tx"),
            tiles.tile_y(F.col("lat7"), 13).alias("ty"),
        )
        .groupBy("tx", "ty")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "tile_assign_z7",
    f"""WITH pts AS ({_PTS})
SELECT point_id, {tiles.sql_tile_x('lon7', 7)} AS tx, {tiles.sql_tile_y('lat7', 7)} AS ty
FROM pts""",
)
def tile_assign_z7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-point z7 tile assignment — the column-pruned fast-scan shape (osmio node_id_pos.rs)."""
    return points_from_orders(spark, sf_dir).select(
        "point_id",
        tiles.tile_x(F.col("lon7"), 7).alias("tx"),
        tiles.tile_y(F.col("lat7"), 7).alias("ty"),
    )


# --- fixed-point codec (osmio lib.rs:82-84,159-164 roundtrip) --------------------
@register(
    "fixed_point_roundtrip",
    f"""WITH pts AS ({_PTS})
SELECT point_id, lat7, lon7,
  {coords.sql_deg_to_fixed(coords.sql_fixed_to_deg('lat7'))} AS lat7_rt,
  {coords.sql_deg_to_fixed(coords.sql_fixed_to_deg('lon7'))} AS lon7_rt
FROM pts""",
)
def fixed_point_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point codec identity deg->fixed->deg (osmio lib.rs:82-84,159-164)."""
    pts = points_from_orders(spark, sf_dir)
    return pts.select(
        "point_id",
        "lat7",
        "lon7",
        coords.deg_to_fixed(coords.fixed_to_deg(F.col("lat7"))).cast("int").alias("lat7_rt"),
        coords.deg_to_fixed(coords.fixed_to_deg(F.col("lon7"))).cast("int").alias("lon7_rt"),
    )


# --- point-in-polygon (flagship join) --------------------------------------------
_PIP_SQL = f"""WITH pts AS ({_PTS}),
{sql_pip_predicate(ADMIN_BOUNDARIES)}
SELECT point_id, boundary_id FROM pip"""


@register("pip_inner", _PIP_SQL)
def pip_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast STR-tree ray-cast point-in-polygon inner join (flagship)."""
    pts = points_from_orders(spark, sf_dir)
    return pip_join(pts, ADMIN_BOUNDARIES, how="inner").select(
        "point_id", "boundary_id"
    )


@register(
    "pip_anti",
    f"""WITH pts AS ({_PTS}),
{sql_pip_predicate(ADMIN_BOUNDARIES)}
SELECT p.point_id FROM pts p ANTI JOIN pip USING (point_id)""",
)
def pip_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIP anti-join: points inside no boundary (left_anti semantics)."""
    pts = points_from_orders(spark, sf_dir)
    return pip_join(pts, ADMIN_BOUNDARIES, how="left_anti").select(
        "point_id"
    )


# --- nearest boundary anchor for unmatched points -----------------------------
def _boundary_vertices() -> list[tuple[int, int, int, int]]:
    """(boundary_id, vidx, vlat, vlon) for every distinct ring/hole vertex of
    ADMIN_BOUNDARIES (closing duplicates skipped), vidx dense per boundary."""
    out = []
    for b in ADMIN_BOUNDARIES:
        vidx = 0
        for ring in [b["ring"], *b["holes"]]:
            body = ring[:-1] if ring[0] == ring[-1] else ring
            for vlat, vlon in body:
                out.append((b["boundary_id"], vidx, vlat, vlon))
                vidx += 1
    return out


_NV_GUARD = 300_000_000  # 30 degrees in fixed-point 1e7 units


def _sql_nearest_boundary_vertex() -> str:
    from osmgraft.operators.snap import vertex_d2_sql

    rows = ", ".join(
        f"({bid}, {vidx}, {vlat}, {vlon})"
        for bid, vidx, vlat, vlon in _boundary_vertices()
    )
    d2 = vertex_d2_sql("a.lon7", "a.lat7", "v.vlon", "v.vlat", guard=_NV_GUARD)
    return f"""WITH pts AS ({_PTS}),
{sql_pip_predicate(ADMIN_BOUNDARIES)},
unmatched AS (SELECT p.point_id, p.lat7, p.lon7 FROM pts p ANTI JOIN pip USING (point_id)),
v(boundary_id, vidx, vlat, vlon) AS (VALUES {rows}),
cand AS (
  SELECT a.point_id, v.boundary_id, v.vidx, {d2} AS d2
  FROM unmatched a CROSS JOIN v)
SELECT point_id, boundary_id, vidx, d2 FROM (
  SELECT point_id, boundary_id, vidx, d2,
         row_number() OVER (PARTITION BY point_id ORDER BY d2, boundary_id, vidx) AS rn
  FROM cand WHERE d2 < {_NV_GUARD * _NV_GUARD}) t
WHERE rn = 1"""


def _sql_assign_all_points() -> str:
    from osmgraft.operators.snap import vertex_d2_sql

    rows = ", ".join(
        f"({bid}, {vidx}, {vlat}, {vlon})"
        for bid, vidx, vlat, vlon in _boundary_vertices()
    )
    d2 = vertex_d2_sql("a.lon7", "a.lat7", "v.vlon", "v.vlat", guard=_NV_GUARD)
    return f"""WITH pts AS ({_PTS}),
{sql_pip_predicate(ADMIN_BOUNDARIES)},
unmatched AS (SELECT p.point_id, p.lat7, p.lon7 FROM pts p ANTI JOIN pip USING (point_id)),
v(boundary_id, vidx, vlat, vlon) AS (VALUES {rows}),
cand AS (
  SELECT a.point_id, v.boundary_id, {d2} AS d2
  FROM unmatched a CROSS JOIN v),
nearest AS (
  SELECT point_id, boundary_id FROM (
    SELECT point_id, boundary_id, d2,
           row_number() OVER (PARTITION BY point_id ORDER BY d2, boundary_id) AS rn
    FROM cand WHERE d2 < {_NV_GUARD * _NV_GUARD}) t
  WHERE rn = 1)
SELECT point_id, boundary_id, 'inside' AS how FROM pip
UNION ALL
SELECT point_id, boundary_id, 'nearest' AS how FROM nearest"""


@register("assign_all_points", _sql_assign_all_points())
def assign_all_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse-geocode EVERY point: containment winners from the broadcast
    ray-cast join (how='inside', one row per containing boundary), plus the
    nearest-vertex fallback for pip-anti points within 30° (how='nearest') —
    the full-assignment composition a geo-curation pipeline runs so no image
    is left unlabeled.  Pure pipeline composition of pip_join and
    snap.nearest_vertex: the point table streams through the anti kernel and
    a flat constant-argmin projection; no new shuffles beyond the two
    operators' own."""
    from osmgraft.operators.snap import nearest_vertex

    pts = points_from_orders(spark, sf_dir)
    inside = pip_join(pts, ADMIN_BOUNDARIES, how="inner").select(
        "point_id", "boundary_id", F.lit("inside").alias("how")
    )
    anti = pip_join(pts, ADMIN_BOUNDARIES, how="left_anti")
    near = (
        nearest_vertex(anti, _boundary_vertices(), guard=_NV_GUARD)
        .select("point_id", "boundary_id", F.lit("nearest").alias("how"))
    )
    # tie-break divergence guard: nearest_vertex breaks d2 ties by
    # (boundary_id, vidx); the oracle's rn orders by (d2, boundary_id) only —
    # identical winners because vidx never changes the winning boundary_id
    return inside.unionByName(near)


@register("nearest_boundary_vertex", _sql_nearest_boundary_vertex())
def nearest_boundary_vertex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unmatched-point assignment (operators/snap.py nearest_vertex): every
    pip-anti point gets the nearest admin-boundary VERTEX within 30°
    (boundary_id, vertex index, exact int64 squared distance, tie-break
    (d2, boundary_id, vidx)).

    100 TB shape: the vertex list is a CONSTANT, so this is not a join at
    all — one literal array of (d2, bid, vidx) structs per row, array_min
    argmin, radius filter: a flat whole-stage-codegen projection with zero
    shuffles after the pip anti kernel.  The DuckDB twin cross-joins a
    VALUES list and window-argmins — two generators, one clamped formula
    text (vertex_d2_sql), one hash."""
    from osmgraft.operators.snap import nearest_vertex

    pts = points_from_orders(spark, sf_dir)
    anti = pip_join(pts, ADMIN_BOUNDARIES, how="left_anti")
    return nearest_vertex(anti, _boundary_vertices(), guard=_NV_GUARD).select(
        "point_id", "boundary_id", "vidx", "d2"
    )


# --- temporal PIP: containment at EVENT TIME against versioned boundaries ----------
_PIPT_SHIFT = 2_000_000  # each version drifts 0.2° east (boundary redraws)
_PIPT_T1, _PIPT_T2 = "2024-01-11", "2024-01-21"


def _versioned_boundaries() -> list[dict]:
    out = []
    for b in ADMIN_BOUNDARIES:
        for v in range(3):
            out.append(
                {
                    "boundary_id": b["boundary_id"] * 10 + v,
                    "name": f"{b['name']}-v{v}",
                    "ring": [(la, lo + v * _PIPT_SHIFT) for la, lo in b["ring"]],
                    "holes": [
                        [(la, lo + v * _PIPT_SHIFT) for la, lo in h]
                        for h in b.get("holes", [])
                    ],
                    "tags": b["tags"],
                }
            )
    return out


def _sql_pip_temporal() -> str:
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("event_id")
    return f"""WITH pts AS (
  SELECT event_id AS point_id, {lat} AS lat7, {lon} AS lon7 FROM events),
{sql_pip_predicate(_versioned_boundaries())}
SELECT pip.point_id AS event_id, pip.boundary_id // 10 AS boundary_id,
       CAST(pip.boundary_id % 10 AS INTEGER) AS version
FROM pip JOIN events e ON e.event_id = pip.point_id
WHERE (pip.boundary_id % 10 = 0 AND e.ts < TIMESTAMP '{_PIPT_T1}')
   OR (pip.boundary_id % 10 = 1 AND e.ts >= TIMESTAMP '{_PIPT_T1}'
       AND e.ts < TIMESTAMP '{_PIPT_T2}')
   OR (pip.boundary_id % 10 = 2 AND e.ts >= TIMESTAMP '{_PIPT_T2}')"""


@register("pip_temporal", _sql_pip_temporal())
def pip_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon AT EVENT TIME against slowly-changing boundaries —
    the SCD-2 join real admin data needs (districts get redrawn; an event
    must match the version in force at its timestamp). Every boundary has
    three versions drifting 0.2° east with abutting validity windows.

    Plan: the versioned polygon set still broadcasts (dims × versions is
    dim-sized), the STR-tree spatial refine runs over ALL versions in the
    one mapInArrow pass (ts rides through the kernel untouched), and the
    validity window is a residual JVM predicate after containment — no
    second join, no point-side shuffle. DuckDB twin: the ray-cast oracle
    over the versioned edge set + the same window predicate."""
    from osmgraft.synth import latlon_of_key

    ev = ensure_min_parallelism(
        read_fixture(spark, sf_dir, "events")
    )
    lat, lon = latlon_of_key(F.col("event_id"))
    pts = ev.select(
        "event_id", "ts", lat.alias("lat7"), lon.alias("lon7")
    )
    hits = pip_join(pts, _versioned_boundaries(), how="inner")
    v = F.col("boundary_id") % 10
    t1 = F.lit(_PIPT_T1).cast("timestamp")
    t2 = F.lit(_PIPT_T2).cast("timestamp")
    in_force = (
        ((v == 0) & (F.col("ts") < t1))
        | ((v == 1) & (F.col("ts") >= t1) & (F.col("ts") < t2))
        | ((v == 2) & (F.col("ts") >= t2))
    )
    return hits.filter(in_force).select(
        "event_id",
        F.expr("boundary_id div 10").alias("boundary_id"),
        v.cast("int").alias("version"),
    )


# --- salted cell equi-join + refine (north-rule shuffle path) ----------------------
@register("pip_celljoin", _PIP_SQL)
def pip_celljoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Must produce EXACTLY the same rows as pip_inner (same oracle) — the
    salting/skew split is a physical rewrite, not a semantic one."""
    from osmgraft.operators.celljoin import cell_pip_join

    pts = points_from_orders(spark, sf_dir)
    return cell_pip_join(
        pts, ADMIN_BOUNDARIES, skew_threshold=500, salt_target=250
    ).select(
        "point_id", "boundary_id"
    )


# --- cell indexing (S2 / H3 / integer grid) ----------------------------------------
from osmgraft.functions.cells import (  # noqa: E402
    floordiv,
    lon_cells,
    sql_dist2,
    sql_floordiv,
    sql_grid_cell,
    sql_grid_yx,
)


@register(
    "cell_counts_grid",
    f"""WITH pts AS ({_PTS})
SELECT {sql_grid_cell('lat7', 'lon7', 50_000_000)} AS cell, count(*) AS cnt
FROM pts GROUP BY cell""",
)
def cell_counts_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wrapped integer grid cell counts (JVM-only cell index, SQL twin)."""
    from osmgraft.functions.cells import grid_cell

    pts = points_from_orders(spark, sf_dir)
    return (
        pts.select(grid_cell(F.col("lat7"), F.col("lon7"), 50_000_000).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _s2_oracle() -> str:
    from osmgraft.functions.s2 import sql_s2_cell_l13

    return sql_s2_cell_l13(_PTS)


@register("cell_counts_s2_l13", _s2_oracle())  # hash-gated since round 3
def cell_counts_s2_l13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 level-13 cell counts. The DuckDB twin (functions/s2.sql_s2_cell_l13)
    re-implements face selection, quadratic ST, ij discretization, the
    Hilbert walk (eight chained joins over a 1024-row lookup VALUES table)
    and the uint64→int64 bit assembly in SQL — converting this query from
    rows-only to hash-gated (r2 verdict ask #9)."""
    from osmgraft.functions.cells import s2_cell_udf

    pts = points_from_orders(spark, sf_dir)
    return (
        pts.select(s2_cell_udf(13)(F.col("lat7"), F.col("lon7")).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _h3_center_child_oracle() -> str:
    from osmgraft.functions.h3real import sql_h3_cell

    # center-child bit math: res nibble := 9, digits 8 and 9 := 0
    centered = "((cell & ~((15::BIGINT << 52) | (7::BIGINT << 21) | (7::BIGINT << 18))) | (9::BIGINT << 52))"
    return (
        f"SELECT cell AS cell_r7, {centered} AS center_r9, cnt\n"
        f"FROM ({sql_h3_cell(_PTS, 7)}) h"
    )


@register("h3_center_child_r7_r9", _h3_center_child_oracle())
def h3_center_child_r7_r9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end gate on the H3 DECODE path.  Spark runs the full
    decode -> re-encode roundtrip per res-7 cell (cell_to_latlng with the
    r3 cross-face overage hop, then latlng_to_cell at res 9); the oracle
    computes the expected answer INDEPENDENTLY from H3's center-child
    property (the 0-digit child shares its parent's center — pure bit math
    on the encoder twin's ids).  Any residual decode drift beyond the res-9
    inradius (~175 m; the pre-r3 off-face drift was up to ~30 km) produces
    a non-center-child id and flips the hash."""
    from osmgraft.functions.cells import h3_cell_udf, h3_center_reencode_udf

    pts = points_from_orders(spark, sf_dir)
    r7 = (
        pts.select(h3_cell_udf(7)(F.col("lat7"), F.col("lon7")).alias("cell_r7"))
        .groupBy("cell_r7")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return r7.select(
        "cell_r7",
        h3_center_reencode_udf(9)(F.col("cell_r7")).alias("center_r9"),
        "cnt",
    )


def _h3_polyfill_oracle() -> str:
    from osmgraft.functions.h3real import sql_h3_polyfill_oracle
    from osmgraft.synth import COVER_BOUNDARIES

    return sql_h3_polyfill_oracle(COVER_BOUNDARIES, 4)


@register("h3_polyfill_r4", _h3_polyfill_oracle)  # lazy: sweep runs on demand
def h3_polyfill_r4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3 polygonToCells (center-containment polyfill) of every fixture
    boundary — including the donut hole and the antimeridian-wrapped
    fiji box — at res 4, one applyInPandas group per polygon.  Hash-gated
    since r4: the DuckDB twin (h3real.sql_h3_polyfill_oracle) re-runs the
    covering-lattice sweep through the from-scratch SQL encoder, re-encodes
    every seeded exact center, and re-decides membership with the shared
    even-odd PIP expression; grid_disk-closure completeness stays
    property-gated in tests/test_h3real.py on exact decoded centers."""
    from osmgraft.operators.h3ops import h3_polyfill
    from osmgraft.schema import ADMIN_BOUNDARY_SCHEMA
    from osmgraft.synth import COVER_BOUNDARIES

    rows = [
        (
            b["boundary_id"],
            b["name"],
            [{"lat7": p[0], "lon7": p[1]} for p in b["ring"]],
            [[{"lat7": p[0], "lon7": p[1]} for p in h] for h in b["holes"]],
            b["tags"],
        )
        for b in COVER_BOUNDARIES
    ]
    return h3_polyfill(spark.createDataFrame(rows, ADMIN_BOUNDARY_SCHEMA), 4)


# Pinned by tools/h3_dissolve_fixture.py: (gid, center_cell, k) gridDisk
# regions at EVEN (Class II) resolutions with no pentagon inside disk(k+1),
# so public H3 geometry states the dissolved shape in closed form: one ring,
# 6*(2k+1) vertices, ring area == sum of member cell areas (shared edges
# cancel bitwise).
_DISSOLVE_FIXTURE = [
    (0, 598476651583504383, 1), (1, 598562482209947647, 2),
    (2, 607416147255492607, 3), (3, 607545398122250239, 1),
    (4, 598445152293355519, 3), (5, 607514455567237119, 2),
    (6, 597660882675171327, 1), (7, 597690406280364031, 2),
    (8, 606959571293962239, 3), (9, 606528018617204735, 1),
    (10, 597476276390854655, 3), (11, 606743271506444287, 2),
    (12, 596873640939618303, 1), (13, 597066545100750847, 2),
    (14, 605753831434747903, 3), (15, 605788029574971391, 1),
    (16, 596810625179451391, 3), (17, 606089174293938175, 2),
    (18, 596096054290546687, 1), (19, 596388679002357759, 2),
    (20, 605006671273525247, 3), (21, 605035235893051391, 1),
    (22, 596177486870478847, 3), (23, 604794369832124415, 2),
    (24, 595442875664171007, 1), (25, 595144461336444927, 2),
    (26, 603953614817329151, 3), (27, 604020916015333375, 1),
    (28, 595049353580642303, 3), (29, 604329810331697151, 2),
    (30, 594689358011826175, 1), (31, 594749899870830591, 2),
    (32, 603603414055649279, 3), (33, 603624780041551871, 1),
    (34, 594671508127743999, 3), (35, 603859360686276607, 2),
]


def _h3_dissolve_oracle() -> str:
    vals = ", ".join(f"({g}, {k}, {6 * (2 * k + 1)}, TRUE)" for g, _, k in _DISSOLVE_FIXTURE)
    return (
        f"SELECT * FROM (VALUES {vals}) AS t(gid, k, n_verts, area_ok)"
    )


@register("h3_dissolve_disks", _h3_dissolve_oracle())
def h3_dissolve_disks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster→vector DISSOLVE on real H3 ids (operators/h3ops.h3_dissolve):
    36 pinned gridDisk regions explode to their member cells IN SPARK, the
    dissolve operator cancels shared edges bitwise and stitches the exterior
    into rings, and per-cell shoelace areas re-aggregate to check exact
    additivity.  The oracle is public H3 geometry in closed form (Class II
    disks: ONE ring, 6*(2k+1) vertices, area-additive) — any drift in
    gridDisk, cellToBoundary vertex exactness, edge cancellation, ring
    stitching, or the shoelace flips the hash.  Spec-as-oracle, same license
    as multipolygon_assembly."""
    from pyspark.sql.functions import pandas_udf

    from osmgraft.operators.h3ops import h3_dissolve

    @pandas_udf("array<long>")
    def _disk(center: pd.Series, k: pd.Series) -> pd.Series:
        import numpy as np

        from osmgraft.functions.h3real import grid_disk

        out = []
        for c, kk in zip(center, k):
            out.append([int(x) for x in grid_disk(np.array([np.uint64(c)]), int(kk))[0]])
        return pd.Series(out)

    @pandas_udf("long")
    def _cell_area2(cells: pd.Series) -> pd.Series:
        from osmgraft.functions.h3real import cell_to_boundary
        from osmgraft.operators.multipolygon import _shoelace2

        out = []
        for c in cells:
            b = cell_to_boundary(int(c))
            iv = [(int(round(la * 1e7)), int(round(lo * 1e7))) for la, lo in b]
            out.append(abs(_shoelace2(iv)))
        return pd.Series(out, dtype="int64")

    fix = spark.createDataFrame(_DISSOLVE_FIXTURE, "gid long, center long, k int")
    cells = fix.select("gid", "k", F.explode(_disk("center", "k")).alias("cell"))
    diss = h3_dissolve(cells.select("gid", "cell"), group_col="gid", cell_col="cell")
    sums = cells.withColumn("a2", _cell_area2("cell")).groupBy("gid", "k").agg(
        F.sum("a2").alias("sum_a2"), F.count("*").alias("n_cells")
    )
    return (
        diss.groupBy("gid")
        .agg(
            F.count("*").alias("n_rings"),
            F.max("n_verts").alias("n_verts"),
            F.max("area2_fp").alias("area2_fp"),
        )
        .join(sums, "gid")
        .select(
            "gid",
            "k",
            # a second ring would break max(n_verts)==formula only sometimes —
            # fold ring count into the gated vertex column instead
            F.when(F.col("n_rings") == 1, F.col("n_verts")).otherwise(F.lit(-1)).alias("n_verts"),
            (F.col("area2_fp") == F.col("sum_a2")).alias("area_ok"),
        )
    )


from osmgraft.operators.multipolygon import sql_mp_expected  # noqa: E402


@register("multipolygon_assembly", sql_mp_expected())
def multipolygon_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OSM multipolygon assembly (operators/multipolygon.py): unordered,
    partially-REVERSED, split member ways stitch into closed rings per
    relation; outer/inner inferred by containment parity (roles untrusted);
    exact integer twice-shoelace areas.  Spec-as-oracle gate: the fixture
    is a pure integer function of the orders bucket set (rects + L-split
    holes + an extra single-way outer every 11th bucket), so DuckDB states
    the assembled result in closed form while Spark must actually run the
    ring walk on hash-shuffled input."""
    from osmgraft.operators.multipolygon import (
        assemble_multipolygons,
        mp_fixture_df,
    )

    return assemble_multipolygons(mp_fixture_df(spark, sf_dir))


def _geohash_oracle() -> str:
    from osmgraft.functions.geohash import sql_geohash_counts

    return sql_geohash_counts(_PTS, 6)


def _sql_stratified_sample() -> str:
    from osmgraft.functions.text import sql_md5_long
    from osmgraft.operators.packing import sql_proportional_quotas

    counts = f"""SELECT {tiles.sql_tile_x('lon7', 6)} AS tx, {tiles.sql_tile_y('lat7', 6)} AS ty,
         count(*) AS n
  FROM pts GROUP BY tx, ty"""
    quotas = sql_proportional_quotas(counts, 5000, "tx, ty")
    hk = sql_md5_long("CAST(point_id AS VARCHAR)")
    return f"""WITH pts AS ({_PTS}),
q AS ({quotas}),
keyed AS (
  SELECT point_id, {tiles.sql_tile_x('lon7', 6)} AS tx, {tiles.sql_tile_y('lat7', 6)} AS ty,
         {hk} AS hk
  FROM pts)
SELECT point_id, tx, ty FROM (
  SELECT k.point_id, k.tx, k.ty, q.quota,
         row_number() OVER (PARTITION BY k.tx, k.ty ORDER BY k.hk, k.point_id) AS rk
  FROM keyed k JOIN q USING (tx, ty)) t
WHERE rk <= quota"""


@register("stratified_sample_z6", _sql_stratified_sample())
def stratified_sample_z6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geographically stratified sampling to a GLOBAL budget of 5000 points:
    Hamilton largest-remainder apportionment (operators/packing.
    proportional_quotas — Σ quota == budget EXACTLY, pure int64) splits the
    budget across z6 tiles proportionally to their populations; each tile
    then keeps its quota in portable-md5 hash order (reshuffle- and
    engine-independent).  The geographic twin of mixture_sample_sources:
    spatial balance instead of source weights.

    100 TB shape: one count aggregation of the raw table (map-side combine),
    the apportionment windows run over the TILE table (≤ 4^6 rows), quotas
    broadcast-join back, one per-tile window picks the sample — the raw
    table is shuffled once for the agg and once for the selection window."""
    from osmgraft.functions.text import md5_long
    from osmgraft.operators.packing import proportional_quotas
    from pyspark.sql import Window as W

    pts = points_from_orders(spark, sf_dir).select(
        "point_id",
        tiles.tile_x(F.col("lon7"), 6).alias("tx"),
        tiles.tile_y(F.col("lat7"), 6).alias("ty"),
    )
    counts = pts.groupBy("tx", "ty").agg(F.count(F.lit(1)).alias("n"))
    quotas = proportional_quotas(counts, 5000).drop("n")
    w = W.partitionBy("tx", "ty").orderBy(
        md5_long(F.col("point_id").cast("string")), "point_id"
    )
    return (
        pts.join(F.broadcast(quotas), ["tx", "ty"])
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= F.col("quota"))
        .select("point_id", "tx", "ty")
    )


# --- spatiotemporal hotspot detection --------------------------------------------
def _sql_hotspot_days() -> str:
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("event_id")
    return f"""WITH pts AS (
  SELECT {tiles.sql_tile_x(f'({lon})', 5)} AS tx, {tiles.sql_tile_y(f'({lat})', 5)} AS ty,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day
  FROM events),
counts AS (SELECT tx, ty, day, count(*) AS cnt FROM pts GROUP BY tx, ty, day),
trailed AS (
  SELECT tx, ty, day, cnt,
         CAST(sum(cnt) OVER (PARTITION BY tx, ty ORDER BY day
                        RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS sum7
  FROM counts)
SELECT tx, ty, day, cnt, sum7 FROM trailed
WHERE 7 * cnt > 3 * sum7 AND sum7 > cnt"""


@register("hotspot_days_z5", _sql_hotspot_days())
def hotspot_days_z5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatiotemporal hotspot detection: per-(z5 tile, day) event counts, a
    trailing 7-day RANGE window (gap-correct — missing days contribute zero
    WITHOUT densifying the sparse tile-day grid), and an integer
    cross-multiplied anomaly flag (today's count > 3× the trailing 7-day
    mean: 7·cnt > 3·sum7, with sum7 > cnt requiring real history) — the
    burst detector a geo-event pipeline runs for breaking-activity feeds.

    100 TB shape: one hash aggregation of the raw events (map-side combine),
    then a window over the per-tile-day AGGREGATE — orders of magnitude
    smaller than the input; no IEEE anywhere, so the flag can't flake at a
    threshold boundary."""
    from osmgraft.synth import latlon_of_key
    from pyspark.sql import Window as W

    ev = ensure_min_parallelism(read_fixture(spark, sf_dir, "events"))
    lat, lon = latlon_of_key(F.col("event_id"))
    counts = (
        ev.select(
            tiles.tile_x(lon, 5).alias("tx"),
            tiles.tile_y(lat, 5).alias("ty"),
            # day as an integer date-diff, NOT floor(unix_timestamp/86400):
            # unix_timestamp() on a TIMESTAMP_NTZ column applies the SESSION
            # TIMEZONE, so the bucket would shift per-deployment; date-cast
            # truncation is tz-free and integer-exact on both engines.
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("day"),
        )
        .groupBy("tx", "ty", "day")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = W.partitionBy("tx", "ty").orderBy("day").rangeBetween(-6, 0)
    trailed = counts.withColumn("sum7", F.sum("cnt").over(w))
    return trailed.filter(
        (7 * F.col("cnt") > 3 * F.col("sum7")) & (F.col("sum7") > F.col("cnt"))
    ).select("tx", "ty", "day", "cnt", "sum7")


# --- hamming near-dup join, hash-gated -------------------------------------------
# image_phash_neardup exercises the REAL decode→pHash pipeline but is
# rows-only (DuckDB cannot decode pixels).  This twin runs the identical
# banded-hamming JOIN OPERATOR (multimodal.phash_near_dup_pairs, multi-probe
# path included) over a closed-form 63-bit sketch with planted 1-bit
# near-dups, so the banding/probe/verify machinery itself is cross-engine
# hash-gated: the oracle brute-forces all pairs with bit_count(xor()).
_HNP_CAP = 4000  # brute-force twin is O(n²); cap like the image queries


def _sketch_sql(v: str) -> str:
    """Closed-form 63-bit sketch of an index expression (both engines)."""
    return (
        f"(({v} * 2654435761) % 2147483648) * 4294967296"
        f" + (({v} * 40503 + 17) % 4294967296)"
    )


def _sql_hamming_neardup() -> str:
    return f"""WITH idxs AS (SELECT row_number() OVER () - 1 AS idx FROM orders),
capped AS (SELECT idx FROM idxs WHERE idx < {_HNP_CAP}),
ph AS (
  SELECT idx AS image_id,
         CASE WHEN idx % 50 = 49 AND idx > 0
              THEN xor({_sketch_sql('(idx - 1)')},
                       CAST(1 AS BIGINT) << CAST(idx % 40 AS INTEGER))
              ELSE {_sketch_sql('idx')} END AS phash
  FROM capped)
SELECT a.image_id AS id_a, b.image_id AS id_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
FROM ph a JOIN ph b ON a.image_id < b.image_id
WHERE bit_count(xor(a.phash, b.phash)) <= 4"""


@register("hamming_neardup_pairs", _sql_hamming_neardup())
def hamming_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-recall banded hamming join, hash-gated end to end (the
    rows-only image_phash_neardup's cross-engine twin): multi-probe banding
    (probe_flips=1) + popcount verify over a closed-form sketch table with
    planted 1-bit near-dups.  The DuckDB oracle brute-forces every pair —
    two radically different candidate generators, one pair set, one hash;
    any recall hole in the banding (the pigeonhole argument) drops a planted
    pair and fails the gate."""
    from osmgraft.operators.multimodal import phash_near_dup_pairs

    n = min(read_fixture(spark, sf_dir, "orders").count(), _HNP_CAP)
    i = F.col("id")
    base = ((i * 2654435761) % 2147483648) * 4294967296 + (
        (i * 40503 + 17) % 4294967296
    )
    j = i - 1
    prev = ((j * 2654435761) % 2147483648) * 4294967296 + (
        (j * 40503 + 17) % 4294967296
    )
    # F.shiftleft requires a python-int shift; a column shift needs expr()
    planted = prev.bitwiseXOR(
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(id % 40 AS INT))")
    )
    df = ensure_min_parallelism(spark.range(n)).select(
        i.alias("image_id"),
        F.when((i % 50 == 49) & (i > 0), planted).otherwise(base).alias("phash"),
    )
    return phash_near_dup_pairs(df, max_hamming=4, probe_flips=1).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


# --- convex hull (operators/hull.py) --------------------------------------------
# Spec-as-oracle fixture (the way_simplify_dp pattern): per group g, hull
# points sit on two facing parabolas — (t, t²) below and (t, 2000 − t²)
# above, t from a per-group arithmetic filter.  Parabola points are in
# strictly convex position by construction (no rounding), so the EXACT hull
# is known in closed form: the full lower parabola left→right, then the full
# upper parabola right→left (CCW from the lexicographic minimum).  Interior
# points (t, t²+1) and duplicate vertices are mixed in and must vanish.
_HULL_K = 2000
_HULL_G = 12
_HULL_T = 30


def _sql_convex_hull() -> str:
    return f"""WITH ts AS (
  SELECT g.i AS g, t.i AS t,
         row_number() OVER (PARTITION BY g.i ORDER BY t.i) - 1 AS idx,
         count(*) OVER (PARTITION BY g.i) AS n
  FROM range(0, {_HULL_G}) g(i) JOIN range(0, {_HULL_T}) t(i)
    ON (t.i + g.i) % 4 <> 0)
SELECT g, idx AS seq, t AS x, t * t AS y FROM ts
UNION ALL
SELECT g, n + (n - 1 - idx) AS seq, t AS x, {_HULL_K} - t * t AS y FROM ts"""


def _hull_fixture(spark: SparkSession) -> DataFrame:
    """Hull + interior + duplicate points, deterministically shuffled."""
    from pyspark.sql import Window as W

    base = (
        spark.range(_HULL_G)
        .select(F.col("id").alias("g"))
        .join(spark.range(_HULL_T).select(F.col("id").alias("t")))
        .filter((F.col("t") + F.col("g")) % 4 != 0)
    )
    lower = base.select("g", F.col("t").alias("x"), (F.col("t") * F.col("t")).alias("y"))
    upper = base.select(
        "g", F.col("t").alias("x"), (F.lit(_HULL_K) - F.col("t") * F.col("t")).alias("y")
    )
    # strictly interior: one above each non-extreme lower vertex
    w_min = F.min("t").over(W.partitionBy("g"))
    w_max = F.max("t").over(W.partitionBy("g"))
    interior = (
        base.withColumn("_t0", w_min)
        .withColumn("_t1", w_max)
        .filter((F.col("t") > F.col("_t0")) & (F.col("t") < F.col("_t1")))
        .select("g", F.col("t").alias("x"), (F.col("t") * F.col("t") + 1).alias("y"))
    )
    dups = lower.limit(40)  # duplicate vertices must not duplicate output
    pts = lower.unionByName(upper).unionByName(interior).unionByName(dups)
    return pts.repartition(7, "x").sortWithinPartitions("y")  # scramble order


@register("convex_hull_groups", _sql_convex_hull())
def convex_hull_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group strict convex hull (operators/hull.py): Andrew's monotone
    chain on PYTHON-INT cross products (exact at any fixed-point scale)
    behind a conservative vectorized Akl–Toussaint prune, distributed by one
    hash exchange on the group key (applyInPandas).  The fixture's facing
    parabolas make the exact hull closed-form for the DuckDB twin; interior
    and duplicate points are mixed in and must vanish; output order is
    canonical CCW from the lexicographic minimum, so the hash pins vertex
    ORDER, not just the set."""
    from osmgraft.operators.hull import convex_hull_per_group

    return convex_hull_per_group(_hull_fixture(spark), ["g"], "x", "y")


def _sql_hull_diameter() -> str:
    return f"""WITH hull AS ({_sql_convex_hull()}),
pairs AS (
  SELECT a.g, a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by,
         (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
  FROM hull a JOIN hull b ON a.g = b.g AND (a.x, a.y) < (b.x, b.y)),
n AS (SELECT g, count(*) AS n_hull FROM hull GROUP BY g)
SELECT g, n_hull, ax, ay, bx, by FROM (
  SELECT p.g, n.n_hull, p.ax, p.ay, p.bx, p.by,
         row_number() OVER (PARTITION BY p.g
                            ORDER BY p.d2 DESC, p.ax, p.ay, p.bx, p.by) AS rn
  FROM pairs p JOIN n USING (g)) t
WHERE rn = 1"""


@register("hull_diameter_groups", _sql_hull_diameter())
def hull_diameter_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group diameter (farthest pair) over the SAME parabola fixture:
    prune → exact chain → all-pairs on the tiny hull vertex set (python-int
    d2 — a squared fixed-point diameter overflows int64, so the operator
    returns the ENDPOINTS and compares exactly internally).  The DuckDB twin
    brute-forces pairs of the closed-form hull with the identical
    (d2 DESC, ax, ay, bx, by) tie-break."""
    from osmgraft.operators.hull import hull_diameter_per_group

    return hull_diameter_per_group(_hull_fixture(spark), ["g"], "x", "y")


def _sql_min_bounding_rect() -> str:
    return f"""WITH hull AS ({_sql_convex_hull()}),
n AS (SELECT g, count(*) AS n_hull FROM hull GROUP BY g),
edges AS (
  SELECT a.g, a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by,
         b.x - a.x AS ex, b.y - a.y AS ey
  FROM hull a JOIN n USING (g)
  JOIN hull b ON b.g = a.g AND b.seq = (a.seq + 1) % n.n_hull),
cand AS (
  SELECT e.g, e.ax, e.ay, e.bx, e.by,
         e.ex * e.ex + e.ey * e.ey AS e2,
         max(e.ex * (p.x - e.ax) + e.ey * (p.y - e.ay))
           - min(e.ex * (p.x - e.ax) + e.ey * (p.y - e.ay)) AS w_num,
         max(e.ex * (p.y - e.ay) - e.ey * (p.x - e.ax)) AS h_num
  FROM edges e JOIN hull p USING (g)
  GROUP BY e.g, e.ax, e.ay, e.bx, e.by, e.ex, e.ey)
SELECT c.g, n.n_hull, c.ax, c.ay, c.bx, c.by, c.e2, c.w_num, c.h_num
FROM cand c JOIN n USING (g)
ANTI JOIN cand f ON f.g = c.g AND (
     CAST(f.w_num AS HUGEINT) * f.h_num * c.e2 < CAST(c.w_num AS HUGEINT) * c.h_num * f.e2
  OR (CAST(f.w_num AS HUGEINT) * f.h_num * c.e2 = CAST(c.w_num AS HUGEINT) * c.h_num * f.e2
      AND (f.ax, f.ay, f.bx, f.by) < (c.ax, c.ay, c.bx, c.by)))"""


@register("min_bounding_rect_groups", _sql_min_bounding_rect())
def min_bounding_rect_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group minimum-area bounding rectangle (operators/hull.
    min_bounding_rect_per_group): every hull edge proposes W·H/|e|², the
    argmin compared as EXACT rationals (python ints Spark-side; HUGEINT
    cross-multiplication in the DuckDB anti-join twin — no float could
    order ~1e38 products).  Same parabola fixture; the twin derives edges
    from the closed-form hull by seq adjacency."""
    from osmgraft.operators.hull import min_bounding_rect_per_group

    return min_bounding_rect_per_group(_hull_fixture(spark), ["g"], "x", "y")


def _hilbert_oracle() -> str:
    from osmgraft.functions.hilbert import sql_hilbert_cte_chain

    base = f"""SELECT point_id,
  {tiles.sql_tile_x('lon7', 12)} AS hx, {tiles.sql_tile_y('lat7', 12)} AS hy,
  CAST(0 AS BIGINT) AS hd
FROM ({_PTS}) pts"""
    return sql_hilbert_cte_chain(12, base)


@register("hilbert_key_z12", _hilbert_oracle())
def hilbert_key_z12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-point Hilbert index on the z12 tile grid (functions/hilbert.py) —
    the locality-preserving write-clustering key (consecutive keys are grid
    NEIGHBORS, unlike Morton's diagonal jumps; pinned by test).  12 chained
    narrow projections, one engine-neutral step text per bit, collapsed by
    Catalyst into a single codegen stage — no shuffle, no Python.  The
    DuckDB twin chains the identical texts as CTEs."""
    from osmgraft.functions.hilbert import with_hilbert_key

    pts = points_from_orders(spark, sf_dir)
    return with_hilbert_key(
        pts.select(
            "point_id",
            tiles.tile_x(F.col("lon7"), 12).alias("_tx"),
            tiles.tile_y(F.col("lat7"), 12).alias("_ty"),
        ),
        F.col("_tx"),
        F.col("_ty"),
        12,
    ).select("point_id", "hkey")


# London-hotspot bbox in z12 tile coords: deliberately unaligned and
# non-square so the curve decomposition exercises partial quadrants on
# every boundary edge, and max_ranges=8 forces gap coalescing so the
# residual predicate is load-bearing (not a no-op).
_HRS_BBOX = (2040, 2055, 1355, 1375)


@register(
    "hilbert_range_scan_z12",
    f"""WITH pts AS ({_PTS})
SELECT point_id, tx, ty FROM (
  SELECT point_id,
         {tiles.sql_tile_x('lon7', 12)} AS tx,
         {tiles.sql_tile_y('lat7', 12)} AS ty
  FROM pts)
WHERE tx BETWEEN {_HRS_BBOX[0]} AND {_HRS_BBOX[1]}
  AND ty BETWEEN {_HRS_BBOX[2]} AND {_HRS_BBOX[3]}""",
)
def hilbert_range_scan_z12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase SFC index scan (operators/cluster.hilbert_range_scan): the
    bbox is decomposed driver-side into O(perimeter) contiguous Hilbert-key
    ranges (functions/hilbert.hilbert_bbox_ranges), coalesced to ≤8
    BETWEENs that push into the parquet scan, then an exact residual (x, y)
    predicate refines the coalescing false-positives.  The DuckDB twin is
    the plain bbox filter — hash equality proves ranges ∪ residual ≡ bbox,
    i.e. the decomposition neither drops nor invents cells.

    The scan runs against a PERSISTED Hilbert-clustered table (hilbert_write
    keep_key, materialized per sf_dir under tmp) — the operator's actual
    contract: the BETWEEN chain must land on a stored sort-key column whose
    row-group stats prune.  Filtering an inline 12-level key expression
    instead would make Catalyst's pushdown substitute that tree into all 16
    comparisons (exponential blowup — measured driver OOM), which is exactly
    the anti-pattern the persisted key exists to avoid."""
    import os
    import tempfile

    from osmgraft.operators.cluster import hilbert_range_scan, hilbert_write

    path = os.path.join(
        tempfile.gettempdir(),
        f"osmgraft_hrs_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    pts = points_from_orders(spark, sf_dir).select(
        "point_id",
        tiles.tile_x(F.col("lon7"), 12).alias("tx"),
        tiles.tile_y(F.col("lat7"), 12).alias("ty"),
    )
    hilbert_write(pts, path, "tx", "ty", 12, n_files=16, keep_key="hkey")
    table = spark.read.parquet(path)
    return hilbert_range_scan(
        table, "hkey", "tx", "ty", 12, _HRS_BBOX, max_ranges=8
    ).select("point_id", "tx", "ty")


@register("geohash6_counts", _geohash_oracle())
def geohash6_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash (Niemeyer base-32 Z-order) cell counts at precision 6 —
    completes the cell-index family (slippy, S2, H3, integer grid,
    geohash).  Pure JVM bit math: integer quantization + Morton spread +
    base-32 render, whole-stage codegen; the DuckDB twin is the identical
    expression chain, and published vectors (u4pruydq / ezs42 / gbsuv /
    u4pruydqqvj8) pin external truth in tests/test_cells.py."""
    from osmgraft.functions.geohash import with_geohash

    pts = points_from_orders(spark, sf_dir)
    return (
        with_geohash(pts, "lat7", "lon7", 6, out="gh")
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _s2_rollup_oracle() -> str:
    from osmgraft.functions.s2 import sql_s2_cell_l13, sql_s2_parent

    return (
        f"SELECT {sql_s2_parent('cell', 10)} AS parent_cell, sum(cnt)::BIGINT AS cnt\n"
        f"FROM ({sql_s2_cell_l13(_PTS)}) l13 GROUP BY parent_cell"
    )


@register("s2_rollup_l13_to_l10", _s2_rollup_oracle())
def s2_rollup_l13_to_l10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 hierarchy rollup: level-13 counts re-aggregated to level 10 with
    pure JVM bit math (functions/s2.s2_parent_col — the Hilbert curve is
    prefix-hierarchical, so parent = position truncation).  The scale story
    is the point: a level rollup at 10^12 rows is a map-side-combined
    re-aggregation of the fine-grained counts, never a re-encode of lat/lon;
    mirrors the slippy tile_pyramid rollup.  Hash-gated by wrapping the
    existing Hilbert-walk DuckDB twin with the same two's-complement mask.
    Structural pytest twin: parent(encode(level 13)) == encode(level 10)
    over a 4001-point global sweep (tests/test_cells.py)."""
    from osmgraft.functions.cells import s2_cell_udf
    from osmgraft.functions.s2 import s2_parent_col

    pts = points_from_orders(spark, sf_dir)
    l13 = pts.select(
        s2_cell_udf(13)(F.col("lat7"), F.col("lon7")).alias("cell")
    ).groupBy("cell").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        l13.select(s2_parent_col("cell", 10).alias("parent_cell"), "cnt")
        .groupBy("parent_cell")
        .agg(F.sum("cnt").alias("cnt"))
    )


@register(
    "h3_known_vectors",
    """SELECT * FROM (VALUES
  ('cupertino_res5', '85283473fffffff'),
  ('null_island_res0', '8075fffffffffff'),
  ('paris_res9', '891fb466257ffff'),
  ('sf_res9', '8928308280fffff')
) t(name, cell_hex)""",
)
def h3_known_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-gated external-truth check of the Uber-H3 encoder: the oracle
    VALUES are the PUBLISHED latLngToCell outputs from H3's own docs/tests
    (h3geo.org quickstart + h3-py README), not derived from this engine.
    The Spark side encodes the same coordinates through the h3real pandas
    UDF — any id drift fails the driver's hash gate."""
    from osmgraft.functions.cells import h3_cell_udf

    rows = [  # (name, lat7, lon7, res) — published (lat, lng, res) -> id
        ("sf_res9", 377752702, -1224183072, 9),
        ("cupertino_res5", 373615593, -1220553238, 5),
        ("paris_res9", 488566000, 23522000, 9),
        ("null_island_res0", 0, 0, 0),
    ]
    df = spark.createDataFrame(rows, "name string, lat7 long, lon7 long, res int")

    def enc(r):
        as_hex = F.conv(h3_cell_udf(r)(F.col("lat7"), F.col("lon7")).cast("string"), 10, 16)
        return F.lower(as_hex)

    cell = (F.when(F.col("res") == 9, enc(9))
            .when(F.col("res") == 5, enc(5))
            .otherwise(enc(0)))
    return df.select("name", cell.alias("cell_hex"))


def _h3_oracle(res: int) -> str:
    from osmgraft.functions.h3real import sql_h3_cell

    return sql_h3_cell(_PTS, res)


@register("cell_counts_h3_r7", _h3_oracle(7))  # hash-gated since round 3
def cell_counts_h3_r7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uber-H3 res-7 cell counts (functions/h3real.py — ids bit-identical to
    h3.latlng_to_cell). The DuckDB twin
    (h3real.sql_h3_cell) re-implements the full encoder in SQL — gnomonic
    face projection, aperture-7 digit chain, base-cell/rotation lookup,
    pentagon fixups — converting this query from rows-only to hash-gated;
    0 mismatches over 300k random + 180k pentagon-cap points in tests."""
    from osmgraft.functions.cells import h3_cell_udf

    pts = points_from_orders(spark, sf_dir)
    return (
        pts.select(h3_cell_udf(7)(F.col("lat7"), F.col("lon7")).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register("cell_counts_h3_r9", _h3_oracle(9))  # hash-gated since round 3
def cell_counts_h3_r9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star second H3 resolution (res 9, Uber-compatible ids);
    parent/child consistency with res 7 pinned in tests. Hash-gated via
    the same sql_h3_cell DuckDB twin as res 7."""
    from osmgraft.functions.cells import h3_cell_udf

    pts = points_from_orders(spark, sf_dir)
    return (
        pts.select(h3_cell_udf(9)(F.col("lat7"), F.col("lon7")).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# cellToParent as pure int64 bit math (H3 spec: truncate digits below the
# parent res; res field bits 52-55, digit rl occupies bits 3*(15-rl)).
# res 9 -> 7: clear the res nibble and digits 8-9, set res=7 and both
# digit fields to 7. Same literals on the Spark and DuckDB sides.
_H3_P_CLEAR = ~((0xF << 52) | (0x3F << 18))
_H3_P_SET = (7 << 52) | (0x3F << 18)


@register(
    "h3_rollup_r9_to_r7",
    f"""SELECT (cell & {_H3_P_CLEAR}) | {_H3_P_SET} AS parent,
       sum(cnt)::BIGINT AS cnt
FROM ({_h3_oracle(9)}) t GROUP BY parent""",
)
def h3_rollup_r9_to_r7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy rollup: res-9 cells truncated to their res-7 parents with
    PURE JVM Column bit math (no UDF after the encode — the scale path for
    pyramid aggregations over H3 ids). cellToParent(encode(p,9), 7) is NOT
    always encode(p,7) — hexagons don't nest exactly, so a point near a
    res-7 boundary can roll up into the neighbouring parent — hence the
    oracle applies the same truncation to the res-9 SQL twin rather than
    reusing the res-7 oracle. Parity of this bit expression with
    h3real.to_parent is pinned in test_h3real.py."""
    from osmgraft.functions.cells import h3_cell_udf

    pts = points_from_orders(spark, sf_dir)
    cells = pts.select(h3_cell_udf(9)(F.col("lat7"), F.col("lon7")).alias("cell"))
    parent = (
        F.col("cell").bitwiseAND(F.lit(_H3_P_CLEAR)).bitwiseOR(F.lit(_H3_P_SET))
    )
    return (
        cells.select(parent.alias("parent"))
        .groupBy("parent")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "h3_compact_roundtrip",
    f"""SELECT cell, 5 AS res FROM ({_h3_oracle(5)}) t""",
)
def h3_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3 compact/uncompact (operators/h3ops.py — H3's public compactCells
    semantics, pentagon-aware 6/7 child thresholds, pure JVM bit math):
    the distinct res-5 cells of the point set are uncompacted to their 49
    res-7 descendants each (6-way fanout in pentagon subtrees) and
    compacted back. The promotion cascade must
    reconstruct EXACTLY the direct res-5 encoding the DuckDB twin computes
    — any wrong child threshold, digit shift, pentagon skip or level
    bookkeeping breaks the hash."""
    from osmgraft.functions.cells import h3_cell_udf
    from osmgraft.operators.h3ops import compact_cells, uncompact_cells

    pts = points_from_orders(spark, sf_dir)
    cells5 = pts.select(
        h3_cell_udf(5)(F.col("lat7"), F.col("lon7")).alias("cell")
    ).distinct()
    expanded = uncompact_cells(cells5, target_res=7, min_res=5)
    return compact_cells(expanded, res=7, min_res=5)


# --- kNN via cell-ring expansion (north rule; exact planar fixed-point metric) -----
_QLAT = "(CAST(n_nationkey AS BIGINT) * 97234555 + 11) % 1200000000 - 600000000"
_QLON = "(CAST(n_nationkey AS BIGINT) * 211234479 + 7) % 3580000000 - 1790000000"
# the wrap-aware exact metric of osmgraft.functions.cells.dist2
_D2 = sql_dist2("q.qlat7", "q.qlon7", "p.lat7", "p.lon7")


def _knn_queries_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = read_fixture(spark, sf_dir, "nation")
    k = F.col("n_nationkey").cast("long")
    return n.select(
        k.alias("query_id"),
        ((k * 97234555 + 11) % 1200000000 - 600000000).cast("int").alias("lat7"),
        ((k * 211234479 + 7) % 3580000000 - 1790000000).cast("int").alias("lon7"),
    )


@register(
    "knn_k5",
    f"""WITH pts AS ({_PTS}),
q AS (SELECT CAST(n_nationkey AS BIGINT) AS query_id,
             CAST({_QLAT} AS INTEGER) AS qlat7, CAST({_QLON} AS INTEGER) AS qlon7
      FROM nation)
SELECT query_id, neighbor_id, dist2, CAST(rank AS INTEGER) AS rank FROM (
  SELECT q.query_id, p.point_id AS neighbor_id, {_D2} AS dist2,
         row_number() OVER (PARTITION BY q.query_id ORDER BY {_D2}, p.point_id) AS rank
  FROM q CROSS JOIN pts p) t
WHERE rank <= 5""",
)
def knn_k5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact kNN (k=5) via cell-ring expansion, wrap-aware fixed-point metric."""
    from osmgraft.operators.knn import knn_join

    pts = points_from_orders(spark, sf_dir)
    return knn_join(pts, _knn_queries_df(spark, sf_dir), k=5)


# --- reference-shaped analytics (aggregation suite, SURVEY §2.4) -------------------
@register(
    "q1_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS sum_qty,
  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_base_price_cents,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact aggregates (cents) so the cross-engine value hash is
    float-summation-order independent."""
    li = read_fixture(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.round(F.col("l_quantity"), 0).cast("long")).alias("sum_qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias(
                "sum_base_price_cents"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# Revenue as an EXACT integer: price and discount each have 2 decimal
# digits, so round(price*100) and round(discount*100) sit within ~1e-9 of
# an integer — every rounding mode agrees — and the per-row revenue
# pc·(100−pct) is pure int64 arithmetic. The r3/r4 form rounded the FLOAT
# product price·(1−disc)·100, which can land near .5 of a cent where
# engines whose round() is the floor(x+0.5) idiom diverge from true
# half-away — one of the two fragile constructs behind the repeat
# driver-reds on q3/q5 (the other: the uncast HUGEINT sum, see
# tools/verify_oracle.py docstring). Unit: 1e-4 currency units.
_REV_X10K = (
    "(CAST(round(l_extendedprice * 100, 0) AS BIGINT)"
    " * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)))"
)


def _rev_x10k_col():
    pc = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    pct = F.round(F.col("l_discount") * 100, 0).cast("long")
    return pc * (F.lit(100) - pct)


@register(
    "q3_shipping_priority",
    f"""SELECT l_orderkey,
  CAST(sum({_REV_X10K}) AS BIGINT) AS revenue_x10k,
  date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS o_day
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
GROUP BY l_orderkey, o_day
ORDER BY revenue_x10k DESC, l_orderkey LIMIT 10""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): customer⨝orders⨝lineitem 3-way
    join with selective filters on both outer sides, revenue top-10.
    Revenue is EXACT integer 1e-4-unit arithmetic (_REV_X10K — integer
    cents × integer discount percent, never a rounded float product), so
    the aggregate is an associative integer sum and the top-10 is
    deterministic (ties → orderkey). Dates leave as integer day offsets so
    the hash never touches date formatting.
    Plan: both dimension filters push into the scans; customer broadcasts."""
    cu = read_fixture(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = read_fixture(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-06-01 00:00:00").cast("timestamp")
    )
    li = read_fixture(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-06-01 00:00:00").cast("timestamp")
    )
    return (
        cu.join(o, cu.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "l_orderkey",
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
            ).alias("o_day"),
        )
        .agg(F.sum(_rev_x10k_col()).alias("revenue_x10k"))
        .orderBy(F.desc("revenue_x10k"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue_x10k", "o_day")
    )


@register(
    "q5_local_supplier_volume",
    f"""SELECT n_name, CAST(sum({_REV_X10K}) AS BIGINT) AS revenue_x10k
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name""",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): the 6-way join with the
    non-key c_nationkey = s_nationkey condition that makes Q5 the classic
    join-order stress test. Exact-integer revenue as in Q3 (_REV_X10K);
    nation/region broadcast, the fact-side joins shuffle on their keys."""
    o = read_fixture(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    return (
        read_fixture(spark, sf_dir, "customer")
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(read_fixture(spark, sf_dir, "lineitem"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            read_fixture(spark, sf_dir, "supplier"),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(read_fixture(spark, sf_dir, "nation")), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(read_fixture(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("n_name")
        .agg(F.sum(_rev_x10k_col()).alias("revenue_x10k"))
    )


@register(
    "top_event_types",
    """WITH c AS (SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type),
t AS (SELECT sum(cnt) AS total FROM c)
SELECT event_type, cnt FROM c, t WHERE cnt * 1000 >= total
ORDER BY cnt DESC, event_type LIMIT 100""",
)
def top_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 semantics: top-k + '>= 0.1%% of total' threshold
    (osmio bin/osmio-changeset-tags-to-sqlite.rs:128-144)."""
    ev = read_fixture(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    total = c.agg(F.sum("cnt").alias("total"))
    return (
        c.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * 1000 >= F.col("total"))
        .select("event_type", "cnt")
        .orderBy(F.desc("cnt"), "event_type")
        .limit(100)
    )


def _sql_gate_canary() -> str:
    """DuckDB side of gate_canary — one UNION ALL branch per probe."""
    from osmgraft.functions import text as T  # runs at import time, pre-1432

    zoo = "'a b' || chr(9) || 'c' || chr(10) || 'd' || chr(13) || 'e  f'"
    probes = [
        ("round_below_half", "CAST(round(CAST(0.49999999999999994 AS DOUBLE), 0) AS BIGINT)"),
        ("round_half_pos", "CAST(round(CAST(0.5 AS DOUBLE), 0) AS BIGINT)"),
        ("round_half_neg", "CAST(round(CAST(-2.5 AS DOUBLE), 0) AS BIGINT)"),
        ("round_cents_prod", "CAST(round(CAST(2.675 AS DOUBLE) * 100, 0) AS BIGINT)"),
        ("day_datecast", "CAST(date_diff('day', DATE '1970-01-01', CAST(TIMESTAMP '2024-01-15 23:30:00' AS DATE)) AS BIGINT)"),
        ("epoch_session_tz", "CAST(floor(epoch(TIMESTAMP '2024-01-16 00:00:00')) AS BIGINT)"),
        ("tile_ty_z5", tiles.sql_tile_y("515000000", 5)),
        ("tile_ty_z13", tiles.sql_tile_y("356000000", 13)),
        ("tile_tx_z5", tiles.sql_tile_x("-1000000", 5)),
        ("md5_conv", T.sql_md5_long("'osmgraft-canary'")),
        ("tok_zoo", T.sql_token_count(zoo)),
        ("sum_cast", "(SELECT CAST(sum(i) AS BIGINT) FROM range(1, 1001) t(i))"),
        ("collate_binary", "CASE WHEN 'Zebra' < 'apple' THEN 1 ELSE 0 END"),
        ("div_pos", "17 // 5"),
    ]
    return "\nUNION ALL ".join(
        f"SELECT '{n}' AS probe, CAST({e} AS BIGINT) AS value" for n, e in probes
    )


@register("gate_canary", _sql_gate_canary())
def gate_canary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine primitive canary (round-5 instrumentation for the r3/r4
    repeat driver-reds): 14 one-row probes, each exercising ONE fragile
    primitive in isolation — round() at exact .5 and at
    0.49999999999999994 (the floor(x+0.5) idiom detector), a float
    product round, date-cast day bucketing, epoch of a pinned timestamp
    (flips iff the Spark session timezone isn't UTC), the shared
    ln/tan/sqrt tile formula at three (lat, zoom) sites, the md5→conv
    60-bit hash, the whitespace-zoo tokenizer, a CAST sum (fetch-path
    probe), binary string collation, and positive integer division.  If a
    driver environment evaluates any primitive differently, this gate
    goes red and the mismatching probe NAMES the divergence — one
    artifact row localizes what five opaque reds could not."""
    pairs = [
        ("round_below_half", F.round(F.lit(0.49999999999999994), 0)),
        ("round_half_pos", F.round(F.lit(0.5), 0)),
        ("round_half_neg", F.round(F.lit(-2.5), 0)),
        ("round_cents_prod", F.round(F.lit(2.675) * 100, 0)),
        (
            "day_datecast",
            F.datediff(
                F.lit("2024-01-15 23:30:00").cast("timestamp").cast("date"),
                F.lit("1970-01-01").cast("date"),
            ),
        ),
        (
            "epoch_session_tz",
            F.unix_timestamp(F.lit("2024-01-16 00:00:00").cast("timestamp")),
        ),
        ("tile_ty_z5", tiles.tile_y(F.lit(515000000), 5)),
        ("tile_ty_z13", tiles.tile_y(F.lit(356000000), 13)),
        ("tile_tx_z5", tiles.tile_x(F.lit(-1000000), 5)),
        ("md5_conv", T.md5_long(F.lit("osmgraft-canary"))),
        ("tok_zoo", T.token_count(F.lit("a b\tc\nd\re  f"))),
        (
            "sum_cast",
            F.aggregate(
                F.sequence(F.lit(1), F.lit(1000)),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            ),
        ),
        ("collate_binary", F.when(F.lit("Zebra") < F.lit("apple"), 1).otherwise(0)),
        ("div_pos", F.expr("17 div 5")),
    ]
    rows = F.array(
        *[
            F.struct(
                F.lit(n).alias("probe"), v.cast("long").alias("value")
            )
            for n, v in pairs
        ]
    )
    return spark.range(1).select(F.inline(rows))


@register(
    "timestamps_iso",
    """SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS iso,
  CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s
FROM events""",
)
def timestamps_iso(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3/F4: epoch ↔ RFC3339 'Z' formatting (osmio utils.rs:4-15,
    xml/mod.rs:594 golden '1970-01-01T00:11:40Z')."""
    ev = read_fixture(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("iso"),
        F.unix_timestamp("ts").alias("epoch_s"),
    )


@register(
    "ts_cross_format_cmp",
    """SELECT event_id,
  CAST(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) < shifted THEN -1
            WHEN CAST(floor(epoch(ts)) AS BIGINT) > shifted THEN 1
            ELSE 0 END AS INTEGER) AS cmp,
  (CAST(floor(epoch(ts)) AS BIGINT) = shifted) AS eq
FROM (SELECT event_id, ts,
        CAST(floor(epoch(ts)) AS BIGINT) + event_id % 3 - 1 AS shifted
      FROM events)""",
)
def ts_cross_format_cmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: cross-format timestamp comparison (osmio lib.rs:296-313). Each
    event's ISO-string timestamp is compared against an epoch-number
    timestamp shifted by -1/0/+1 s — mixed formats, so the reference's
    to_epoch_number arm is the one exercised. Pure codegen expressions."""
    from osmgraft.functions.timestamps import ntz_epoch, ts_compare, ts_equal

    ev = read_fixture(spark, sf_dir, "events").select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("iso"),
        (ntz_epoch(F.col("ts")) + F.col("event_id") % 3 - 1).alias("shifted"),
    )
    return ev.select(
        "event_id",
        ts_compare(F.col("iso"), "iso", F.col("shifted"), "epoch").alias("cmp"),
        ts_equal(F.col("iso"), "iso", F.col("shifted"), "epoch").alias("eq"),
    )


# --- training-data ops: text analysis (SURVEY engine-added; brief §text) -----------
from osmgraft.functions import text as T  # noqa: E402



def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents scan with the single-split parallelism guard (local test files
    are one parquet split; expression-heavy text kernels need all cores)."""
    return ensure_min_parallelism(read_fixture(spark, sf_dir, "documents"))


@register(
    "text_stats",
    f"""SELECT doc_id,
  {T.sql_token_count('text')} AS n_tokens,
  length(text) AS n_chars_raw,
  {T.sql_punct_count('text')} AS n_punct,
  {T.sql_stopword_count('text', 'en')} AS n_stop_en
FROM documents""",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality metrics: length/punct/stopword/token counts (JVM expressions)."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars_raw"),
        T.punct_count(F.col("text")).alias("n_punct"),
        T.stopword_count(F.col("text"), "en").alias("n_stop_en"),
    )


@register(
    "doc_readability",
    f"""WITH rd AS (
  SELECT doc_id,
         {T.sql_word_count('text')} AS n_words,
         {T.sql_sentence_count('text')} AS n_sentences,
         {T.sql_syllable_count('text')} AS n_syllables
  FROM documents)
SELECT doc_id, n_words, n_sentences, n_syllables,
       CAST(206835 * n_sentences * n_words - 1015 * n_words * n_words
            - 84600 * n_syllables * n_sentences AS BIGINT) AS fre_num,
       CAST(1000 * n_sentences * n_words AS BIGINT) AS fre_den,
       CASE WHEN n_words = 0 THEN 'empty'
            WHEN 206835 * n_sentences * n_words - 1015 * n_words * n_words
                 - 84600 * n_syllables * n_sentences
                 >= 90 * 1000 * n_sentences * n_words THEN 'very_easy'
            WHEN 206835 * n_sentences * n_words - 1015 * n_words * n_words
                 - 84600 * n_syllables * n_sentences
                 >= 70 * 1000 * n_sentences * n_words THEN 'easy'
            WHEN 206835 * n_sentences * n_words - 1015 * n_words * n_words
                 - 84600 * n_syllables * n_sentences
                 >= 50 * 1000 * n_sentences * n_words THEN 'medium'
            WHEN 206835 * n_sentences * n_words - 1015 * n_words * n_words
                 - 84600 * n_syllables * n_sentences
                 >= 30 * 1000 * n_sentences * n_words THEN 'difficult'
            ELSE 'very_difficult' END AS fre_class
FROM rd""",
)
def doc_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease per document (functions/text.{word,sentence,
    syllable}_count; Flesch 1948, the curation-stack readability filter):
    the score is carried as the EXACT rational fre_num/fre_den =
    (206835·S·W − 1015·W² − 84600·Y·S)/(1000·S·W) — the published
    206.835/1.015/84.6 coefficients scaled to integers — and the
    very_easy … very_difficult band (90/70/50/30 cuts) cross-multiplies
    against the positive denominator, so no float is ever formed.
    Counting heuristics (word = [A-Za-z]+ run, sentence = [.!?]+ run
    floored at 1, syllable = vowel-letter run) are pinned and shared
    verbatim by both engines.

    100 TB: three regexp counters + integer arithmetic per row — one
    scan, map-only, whole-stage codegen; the quality-filter sibling of
    text_stats/bigram_quality."""
    docs = _docs(spark, sf_dir)
    w = T.word_count(F.col("text"))
    s = T.sentence_count(F.col("text"))
    y = T.syllable_count(F.col("text"))
    num = (
        F.lit(206835) * s * w - F.lit(1015) * w * w - F.lit(84600) * y * s
    ).cast("long")
    den = (F.lit(1000) * s * w).cast("long")
    cls = (
        F.when(w == 0, "empty")
        .when(num >= 90 * den, "very_easy")
        .when(num >= 70 * den, "easy")
        .when(num >= 50 * den, "medium")
        .when(num >= 30 * den, "difficult")
        .otherwise("very_difficult")
    )
    return docs.select(
        "doc_id",
        w.alias("n_words"),
        s.alias("n_sentences"),
        y.alias("n_syllables"),
        num.alias("fre_num"),
        den.alias("fre_den"),
        cls.alias("fre_class"),
    )


_TEXTRANK_EDGES_SQL = """
SELECT src, dst FROM (
  SELECT t[i] AS src, t[i+1] AS dst
  FROM (SELECT list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                           x -> x <> '') AS t FROM documents) d
  CROSS JOIN UNNEST(range(1, greatest(len(t), 1))) AS u(i)
) WHERE regexp_matches(src, '^[a-z]{3,}$') AND regexp_matches(dst, '^[a-z]{3,}$')
  AND src <> dst
UNION ALL
SELECT dst, src FROM (
  SELECT t[i] AS src, t[i+1] AS dst
  FROM (SELECT list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                           x -> x <> '') AS t FROM documents) d
  CROSS JOIN UNNEST(range(1, greatest(len(t), 1))) AS u(i)
) WHERE regexp_matches(src, '^[a-z]{3,}$') AND regexp_matches(dst, '^[a-z]{3,}$')
  AND src <> dst"""


def _sql_textrank() -> str:
    from osmgraft.operators.graph import sql_pagerank

    pr = sql_pagerank(_TEXTRANK_EDGES_SQL, iters=4)
    return f"""SELECT node_id AS word, rank_fx, rnk FROM (
  SELECT node_id, rank_fx,
         CAST(row_number() OVER (ORDER BY rank_fx DESC, node_id) AS BIGINT) AS rnk
  FROM ({pr})) WHERE rnk <= 30"""


@register("textrank_keywords", _sql_textrank())
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau EMNLP 2004) — the
    classic unsupervised keyword ranker, as a pure REUSE of the integer
    fixed-point pagerank kernel over the word co-occurrence graph:
    adjacent lowercase alpha tokens (≥ 3 chars) form symmetric
    multi-edges (co-occurrence frequency = edge multiplicity, which
    pagerank's outdeg arithmetic weights naturally), 4 fixed rounds,
    top-30 by (rank_fx DESC, word) with the pinned total order.  The
    corpus-keyword summary a curation stack puts beside tf-idf
    (frequency-based) and BM25 (query-based) — this is the GRAPH-based
    member.

    100 TB: bigram explode is map-only; each round one src equi-join +
    map-side-combined dst agg; ranking WindowGroupLimit-bounded."""
    from pyspark.sql import Window as W

    from osmgraft.operators.graph import pagerank

    docs = _docs(spark, sf_dir)
    toks = T.tokens(F.lower(F.col("text")))
    g = docs.select(F.explode(T.word_bigrams(toks)).alias("g"))
    sp = F.split(F.col("g"), " ")
    e = g.select(sp.getItem(0).alias("src"), sp.getItem(1).alias("dst")).where(
        F.col("src").rlike("^[a-z]{3,}$")
        & F.col("dst").rlike("^[a-z]{3,}$")
        & (F.col("src") != F.col("dst"))
    )
    edges = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    pr = pagerank(edges, iters=4)
    w = W.orderBy(F.desc("rank_fx"), F.asc("node_id"))
    return (
        pr.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 30)
        .select(F.col("node_id").alias("word"), "rank_fx", "rnk")
    )


_DECON_N = 4  # n-gram width; % 23 carves a deterministic "benchmark" subset


@register(
    "decontaminate_ngrams",
    f"""WITH grams AS (
  SELECT doc_id, unnest({T.sql_ngrams('text', _DECON_N)}) AS g FROM documents
),
b AS (SELECT DISTINCT g FROM grams WHERE doc_id % 23 = 0),
t AS (SELECT doc_id, g FROM grams WHERE doc_id % 23 <> 0)
SELECT t.doc_id AS doc_id, count(DISTINCT t.g) AS n_hits
FROM t JOIN b USING (g) GROUP BY t.doc_id""",
)
def decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the GPT-3-style n-gram overlap scrub
    every serious training corpus runs before training: training docs that
    share any word n-gram (n = _DECON_N) with the held-out benchmark set (here the
    deterministic doc_id % 23 == 0 subset standing in for an eval suite)
    are reported with their distinct-overlapping-gram count, so the
    curation pipeline can drop or redact them.

    100 TB shape: eval benchmarks are megabytes while the corpus is the
    100 TB side, so the benchmark gram set BROADCASTS (explicit hint) and
    the corpus side is never shuffled until the per-doc count — one scan,
    map-side gram explode, broadcast hash join, map-side-combined agg.
    Gram construction is pure JVM (functions/text.ngrams)."""
    docs = _docs(spark, sf_dir)
    grams = docs.select(
        "doc_id", F.explode(T.ngrams(F.col("text"), _DECON_N)).alias("g")
    )
    bench = grams.filter(F.col("doc_id") % 23 == 0).select("g").distinct()
    train = grams.filter(F.col("doc_id") % 23 != 0)
    return (
        train.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_hits"))
    )


@register(
    "text_bigram_quality",
    f"SELECT doc_id, {T.sql_bigram_quality('text')} AS bq FROM documents",
)
def text_bigram_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-bigram fluency score (integer per-mille of common-English
    bigrams — public frequency-table feature set): a cheap training-data
    quality signal that zeroes out gibberish/base64/non-Latin rows.  Pure
    JVM sequence/transform/filter expression; exact integer output makes
    the DuckDB twin bit-identical."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id", T.bigram_quality(F.col("text")).alias("bq")
    )


@register(
    "text_repetition_quality",
    f"""WITH t AS (SELECT doc_id, {T.sql_tokens('text')} AS toks FROM documents),
b AS (SELECT doc_id, toks, {T.sql_word_bigrams('toks')} AS bgs FROM t)
SELECT doc_id, len(toks) AS n_tokens,
  CASE WHEN len(toks) = 0 THEN 0
       ELSE (1000 * (len(toks) - len(list_distinct(toks)))) // len(toks) END AS tok_repeat_ptm,
  CASE WHEN len(toks) = 0 THEN 0
       ELSE (1000 * {T.sql_top_token_count('toks')}) // len(toks) END AS top_tok_ptm,
  CASE WHEN len(bgs) = 0 THEN 0
       ELSE (1000 * (len(bgs) - len(list_distinct(bgs)))) // len(bgs) END AS dup_bigram_ptm
FROM b""",
)
def text_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1, public):
    per-mille of repeated tokens, share of the single most frequent token, and
    per-mille of duplicated word bigrams — the standard filters that drop
    boilerplate/spam/keyword-stuffed documents before training.  Pure JVM
    array expressions per row (no explode, no shuffle, no Python); the token
    array is materialized with withColumn so no lambda recaptures the tokenize
    pipeline (see text.shingles).  Integer per-mille floor-division makes the
    DuckDB twin bit-identical."""
    docs = _docs(spark, sf_dir)
    t = docs.withColumn("toks", T.tokens(F.col("text")))
    b = t.withColumn("bgs", T.word_bigrams(F.col("toks")))
    n = F.size("toks")
    nb = F.size("bgs")
    return b.select(
        "doc_id",
        n.alias("n_tokens"),
        F.when(n == 0, F.lit(0))
        .otherwise(F.expr("(1000 * (size(toks) - size(array_distinct(toks)))) div size(toks)"))
        .cast("long")
        .alias("tok_repeat_ptm"),
        F.when(n == 0, F.lit(0))
        .otherwise(F.expr(f"(1000 * {_TOP_TOK_SPARK}) div size(toks)"))
        .cast("long")
        .alias("top_tok_ptm"),
        F.when(nb == 0, F.lit(0))
        .otherwise(F.expr("(1000 * (size(bgs) - size(array_distinct(bgs)))) div size(bgs)"))
        .cast("long")
        .alias("dup_bigram_ptm"),
    )


# Spark-SQL spelling of text.top_token_count over the materialized `toks`
# column (div needs F.expr anyway, so the whole numerator is stated in SQL)
_TOP_TOK_SPARK = (
    "coalesce(array_max(transform(array_distinct(toks), "
    "d -> size(filter(toks, t -> t = d)))), 0)"
)


from osmgraft.operators.packing import sql_pack_sequences  # noqa: E402


@register("doc_pack_sequences", sql_pack_sequences(128))
def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: documents → fixed-128-token training
    windows in a portable md5 global order.  The engine runs the two-pass
    distributed prefix scan (range shuffle + partitioned window + bounded
    per-partition offset table — operators/packing.py); the DuckDB twin states
    the same layout as one global-sort window cumsum.  Two genuinely different
    algorithms, one hash."""
    from osmgraft.operators.packing import pack_sequences

    docs = _docs(spark, sf_dir)
    return pack_sequences(docs, seq_len=128)


@register(
    "lang_id_pred",
    f"SELECT doc_id, {T.sql_lang_id('text')} AS lang_pred FROM documents",
)
def lang_id_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-heuristic language ID over documents."""
    docs = _docs(spark, sf_dir)
    return docs.select("doc_id", T.lang_id(F.col("text")).alias("lang_pred"))


@register(
    "doc_fingerprint",
    f"SELECT doc_id, {T.sql_fingerprint('text')} AS fp FROM documents",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint (dedup primitive)."""
    docs = _docs(spark, sf_dir)
    return docs.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))


@register(
    "token_count_bpe",
    f"""SELECT doc_id,
  {T.sql_token_count('text')} AS n_ws,
  len({T.sql_bpe_pretokens('text')}) AS n_bpe,
  {T.sql_md5_long(f"coalesce(list_aggregate({T.sql_bpe_pretokens('text')}, 'string_agg', chr(31)), '')")} AS stream_hash
FROM documents""",
)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, both flavors the brief names: whitespace tokens and
    GPT-2-style BPE pre-tokens (functions/text.py BPE_SPLIT_RE — the public
    pre-tokenizer split, lookahead-free so Java regex and RE2 agree). The
    gate also hashes the concatenated pre-token stream, pinning the exact
    split (alternation preference included), not just the count."""
    docs = _docs(spark, sf_dir)
    toks = T.bpe_pretokens(F.col("text"))
    return docs.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_ws"),
        F.size(toks).cast("long").alias("n_bpe"),
        T.md5_long(F.array_join(toks, "\x1f")).alias("stream_hash"),
    )


@register(
    "quadkey_counts_z9",
    f"""WITH pts AS ({_PTS})
SELECT {tiles.sql_quadkey('lon7', 'lat7', 9)} AS qk, count(*) AS cnt
FROM pts GROUP BY qk""",
)
def quadkey_counts_z9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadkey (Bing tile addressing) counts at zoom 9 — the SIXTH cell-index
    family member (slippy, S2, H3, grid, geohash, quadkey), rendered as the
    base-4 Morton string via the shared codegen bit-spreader; published
    vector (x=3,y=5,z=3)→'213' pinned in tests."""
    pts = points_from_orders(spark, sf_dir)
    return (
        pts.select(tiles.quadkey(F.col("lon7"), F.col("lat7"), 9).alias("qk"))
        .groupBy("qk")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


_QT_CAP, _QT_DEPTH = 256, 12


def _sql_quadtree() -> str:
    from osmgraft.operators.quadtree import sql_quadtree_leaves

    return sql_quadtree_leaves(_PTS, _QT_CAP, _QT_DEPTH)


@register("quadtree_leaves_cap256", _sql_quadtree())
def quadtree_leaves_cap256(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive quadtree decomposition of the point set (split while a quad
    holds > 256 points, to depth 12) — skew handled STRUCTURALLY: the dense
    hot-spot cities split deep while the ocean stays coarse, so every leaf
    (and hence every write partition / join task keyed on it) is capped.
    Closed-form min-depth formulation (operators/quadtree.py): one prefix
    explode + one count + a tiny counts self-join — no recursion, no driver
    loop. DuckDB twin is the same closed form over range(); leaf
    disjointness/completeness pinned in test_quadtree.py."""
    from osmgraft.operators.quadtree import quadtree_leaves

    return quadtree_leaves(
        points_from_orders(spark, sf_dir), _QT_CAP, _QT_DEPTH
    )


# road-graph edges: consecutive node refs of each synthetic way, both
# directions (the undirected road network the PIP/kNN fixtures walk)
_ROAD_EDGES_SQL = """
SELECT n AS src, nn AS dst FROM (
  SELECT o_orderkey AS n,
         lead(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS nn
  FROM orders
) WHERE nn IS NOT NULL
UNION ALL
SELECT nn, n FROM (
  SELECT o_orderkey AS n,
         lead(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS nn
  FROM orders
) WHERE nn IS NOT NULL"""


def _road_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = read_fixture(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    seg = orders.select(
        F.col("o_orderkey").alias("src"),
        F.lead("o_orderkey").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    return seg.unionByName(seg.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def _sql_pagerank_roads() -> str:
    from osmgraft.operators.graph import sql_pagerank

    return sql_pagerank(_ROAD_EDGES_SQL, iters=4)


def _sql_assort() -> str:
    from osmgraft.operators.graph import sql_assortativity

    return sql_assortativity(_ROAD_EDGES_SQL)


@register("road_assortativity", _sql_assort())
def road_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the road network (operators/graph.
    assortativity, Newman PRL 2002): Pearson of end-point degrees over
    symmetrized edges, emitted as exact integers — the symmetrization
    makes den_x = den_y so r = num/den with NO square root, and the
    assortative / disassortative / neutral class cross-multiplies at
    |r| ≥ ½.  The one-number mixing summary beside pagerank/hits'
    per-node scores: do hubs link hubs (social-like) or leaves
    (infrastructure-like)?

    100 TB: degree agg + two joins + one 4-counter agg."""
    from osmgraft.operators.graph import assortativity

    return assortativity(_road_edges(spark, sf_dir))


_MSF_Z = 5
_MSF_N = 1 << _MSF_Z


def _sql_msf_adj() -> str:
    tx = tiles.sql_tile_x("lon7", _MSF_Z)
    ty = tiles.sql_tile_y("lat7", _MSF_Z)
    return f"""
  SELECT ca.cid AS a, cb.cid AS b, abs(ca.cnt - cb.cnt) AS dcnt,
         abs(ca.cnt - cb.cnt)*16777216 + ca.cid*4096 + cb.cid AS wkey
  FROM (
    SELECT CAST({ty}*{_MSF_N} + {tx} AS BIGINT) AS cid,
           CAST(count(*) AS BIGINT) AS cnt
    FROM ({sql_points_cte()}) GROUP BY 1) ca
  JOIN (
    SELECT CAST({ty}*{_MSF_N} + {tx} AS BIGINT) AS cid,
           CAST(count(*) AS BIGINT) AS cnt
    FROM ({sql_points_cte()}) GROUP BY 1) cb
    ON cb.cid > ca.cid
   AND abs((ca.cid % {_MSF_N}) - (cb.cid % {_MSF_N})) <= 1
   AND abs((ca.cid // {_MSF_N}) - (cb.cid // {_MSF_N})) <= 1"""


def _sql_msf() -> str:
    from osmgraft.operators.graph import sql_msf_cut

    return sql_msf_cut(_sql_msf_adj())


@register("cell_msf_z5", _sql_msf())
def cell_msf_z5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum spanning forest over the occupied-z5-cell adjacency graph
    (operators/graph.boruvka_msf, Borůvka 1926): nodes are occupied
    slippy-z5 cells, edges connect 8-neighborhood cells with weight
    |Δcount| (the density-discontinuity cost — this MSF is the
    single-linkage dendrogram backbone HDBSCAN-style clustering cuts),
    tie-broken to DISTINCT weights by packing (a, b) into the low key
    bits, so the forest is unique and hash-exact.  Spark runs the
    natively-parallel Borůvka rounds (min_by per component + pointer-
    doubling contraction); DuckDB proves the same edge set by the CUT
    PROPERTY (strictly-lighter reachability in one recursive CTE) — two
    genuinely different algorithms, one hash.

    100 TB: per round two equi-joins + one map-side-combinable min_by
    per component; the 9-offset ring join (no cross product) builds
    adjacency; rounds = log₂(cells)."""
    from osmgraft.operators.graph import boruvka_msf

    pts = points_from_orders(spark, sf_dir)
    cells = (
        pts.select(
            (
                tiles.tile_y(F.col("lat7"), _MSF_Z) * _MSF_N
                + tiles.tile_x(F.col("lon7"), _MSF_Z)
            ).alias("cid")
        )
        .groupBy("cid")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    base = cells.select(
        "cid",
        "cnt",
        (F.col("cid") % _MSF_N).alias("tx"),
        (F.col("cid") / F.lit(_MSF_N)).cast("long").alias("ty"),
    )
    probe = base.select(
        F.col("cid").alias("acid"),
        F.col("cnt").alias("acnt"),
        F.explode(
            F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                      for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
        ).alias("o"),
        "tx",
        "ty",
    ).select(
        "acid",
        "acnt",
        (F.col("tx") + F.col("o.dx")).alias("ntx"),
        (F.col("ty") + F.col("o.dy")).alias("nty"),
    )
    edges = (
        probe.join(
            base.select(
                F.col("cid").alias("bcid"),
                F.col("cnt").alias("bcnt"),
                F.col("tx").alias("ntx"),
                F.col("ty").alias("nty"),
            ),
            ["ntx", "nty"],
        )
        .where(F.col("bcid") > F.col("acid"))
        .select(
            F.col("acid").alias("a"),
            F.col("bcid").alias("b"),
            F.abs(F.col("acnt") - F.col("bcnt")).cast("long").alias("dcnt"),
            (
                F.abs(F.col("acnt") - F.col("bcnt")) * F.lit(16777216)
                + F.col("acid") * F.lit(4096)
                + F.col("bcid")
            )
            .cast("long")
            .alias("wkey"),
        )
    )
    # z5 grid: nodes are cell ids, statically ≤ 32·32 — hint skips the
    # strategy-gate counting job (r4 ADVICE #4)
    return boruvka_msf(edges, nodes_hint=1 << 10)


_NEG_K = 2


def _sql_neg_samples() -> str:
    from osmgraft.functions.text import sql_md5_long

    h = sql_md5_long(
        "CAST(n.node AS VARCHAR) || ':' || CAST(t.i AS VARCHAR)"
    )
    return f"""WITH ns_e AS ({_ROAD_EDGES_SQL}),
ns_und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM ns_e WHERE src <> dst),
ns_nodes AS (
  SELECT node, row_number() OVER (ORDER BY node) - 1 AS ridx,
         count(*) OVER () AS nn
  FROM (SELECT DISTINCT a AS node FROM ns_und
        UNION SELECT DISTINCT b FROM ns_und)),
ns_cand AS (
  SELECT n.node AS u, t.i, ({h}) % n.nn AS cidx
  FROM ns_nodes n
  CROSS JOIN range(0, {_NEG_K}) t(i)),
ns_v AS (
  SELECT c.u, c.i, m.node AS v
  FROM ns_cand c JOIN ns_nodes m ON m.ridx = c.cidx
  WHERE m.node <> c.u)
SELECT u, v, CAST(i AS BIGINT) AS i
FROM ns_v c
WHERE NOT EXISTS (
  SELECT 1 FROM ns_und e
  WHERE e.a = least(c.u, c.v) AND e.b = greatest(c.u, c.v))"""


@register("edge_negative_samples", _sql_neg_samples())
def edge_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative edge sampling (the training-data op every
    link-prediction / GNN pipeline runs — Mikolov-style negatives made
    REPRODUCIBLE): per node u and slot i < 2, candidate v = node at
    dense rank md5(u:i) mod n — a pinned hash, so the sample is a pure
    function of the graph — with self-pairs and EXISTING edges
    anti-joined away (expected-k semantics, the standard trade;
    rejected slots simply drop).  Emits (u, v, i).

    100 TB: one dense-rank index, a k-slot explode, one broadcast-able
    rank join, one anti-join — no randomness, no driver state.  The
    undirected edge set and the rank index are pinned (eager checkpoint):
    und feeds three consumers (rank index, candidate join, anti-join) and
    idx two, so un-pinned the road-edge derivation re-executed ~4x in the
    final action (the pagerank lineage discipline, r4)."""
    from pyspark.sql import Window as W

    from osmgraft.functions.text import md5_long

    edges = _road_edges(spark, sf_dir)
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .distinct()
    )
    nn = nodes.count()
    idx = nodes.withColumn(
        "ridx", F.row_number().over(W.orderBy("node")).cast("long") - 1
    ).localCheckpoint()
    cand = (
        idx.select(F.col("node").alias("u"))
        .crossJoin(spark.range(_NEG_K).select(F.col("id").alias("i")))
        .select(
            "u",
            "i",
            (
                md5_long(
                    F.concat(
                        F.col("u").cast("string"), F.lit(":"), F.col("i").cast("string")
                    )
                )
                % nn
            ).alias("cidx"),
        )
    )
    v = cand.join(
        idx.select(F.col("ridx").alias("cidx"), F.col("node").alias("v")), "cidx"
    ).where(F.col("v") != F.col("u"))
    neg = v.join(
        und,
        (F.least("u", "v") == und.a) & (F.greatest("u", "v") == und.b),
        "left_anti",
    )
    return neg.select("u", "v", F.col("i").cast("long").alias("i"))


def _sql_linkpred() -> str:
    from osmgraft.operators.graph import sql_link_prediction

    return sql_link_prediction(_ROAD_EDGES_SQL, top_k=100)


@register("road_link_prediction", _sql_linkpred())
def road_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the road network (operators/graph.
    link_prediction, Liben-Nowell & Kleinberg CIKM 2003): the top-100
    non-adjacent pairs by floor-scaled exact Jaccard of their
    neighborhoods, with common-neighbor and preferential-attachment
    scores riding along — the missing-edge recommender every graph
    stack ships, division-free (jacc_e9 = cn·10⁹ div (du+dv−cn)) with
    a pinned total tie order so the slice is engine- and
    partitioning-exact.

    100 TB: wedge self-join on the hub (skew = Σd² — cap hub degrees),
    map-side-combinable pair counts, anti-join vs the edge set,
    WindowGroupLimit-bounded ranking."""
    from osmgraft.operators.graph import link_prediction

    return link_prediction(_road_edges(spark, sf_dir), top_k=100)


def _sql_hits_q() -> str:
    from osmgraft.operators.graph import sql_hits

    return sql_hits(
        "SELECT concat('u', CAST(user_id AS VARCHAR)) AS src,"
        " concat('t:', event_type) AS dst FROM events"
    )


@register("hits_user_types", _sql_hits_q())
def hits_user_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (operators/graph.hits, Kleinberg JACM 1999)
    over the directed user → event-type graph: hub users touch many
    authoritative types, authoritative types attract hubby users — the
    mutual-reinforcement sibling of pagerank_roads, run DIVISION-FREE
    (unnormalized integer iterates; normalization only rescales, so the
    ranking is exact HITS).  Fixed 2 rounds, hash-gated against the same
    recurrence unrolled as chained CTEs.

    100 TB: per round two equi-join + map-side-combinable sums (Pregel
    shape), no floats, no driver loop."""
    from osmgraft.operators.graph import hits

    ev = ensure_min_parallelism(read_fixture(spark, sf_dir, "events"))
    edges = ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("src"),
        F.concat(F.lit("t:"), F.col("event_type")).alias("dst"),
    )
    return hits(edges)


@register("pagerank_roads", _sql_pagerank_roads())
def pagerank_roads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the synthetic road network (ways → consecutive-node
    edges, undirected) — the canonical iterative graph workload, in integer
    fixed point so a FIXED 4-iteration run hash-gates against the same
    recurrence unrolled into chained CTEs in DuckDB (operators/graph.py).
    Per iteration: one src-keyed join + one dst aggregation, Pregel shape."""
    from osmgraft.operators.graph import pagerank

    return pagerank(_road_edges(spark, sf_dir), iters=4)


_HC_SOURCES = [1, 2, 3, 5, 8]


def _sql_harmonic() -> str:
    from osmgraft.operators.graph import sql_harmonic_centrality

    return sql_harmonic_centrality(_ROAD_EDGES_SQL, _HC_SOURCES, rounds=6)


@register("harmonic_centrality_roads", _sql_harmonic())
def harmonic_centrality_roads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality of a pinned source set over the road network
    (operators/graph.harmonic_centrality, Boldi & Vigna 2014): per
    source Σ 1/d within 6 hops carried EXACTLY as Σ 60/d
    (60 = lcm(1..6) — every reciprocal an integer) — the
    disconnected-graph-safe closeness member of the centrality family
    (pagerank ⋄ PPR ⋄ HITS ⋄ harmonic).

    100 TB: keyed min-plus relaxations, |sources|× the sssp shape."""
    from osmgraft.operators.graph import harmonic_centrality

    return harmonic_centrality(_road_edges(spark, sf_dir), _HC_SOURCES, rounds=6)


_PPR_SEEDS = [1, 2, 3, 5, 8]


def _sql_ppr_roads() -> str:
    from osmgraft.operators.graph import sql_personalized_pagerank

    return sql_personalized_pagerank(_ROAD_EDGES_SQL, _PPR_SEEDS, iters=4)


@register("ppr_roads", _sql_ppr_roads())
def ppr_roads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from a pinned seed set (operators/graph.
    personalized_pagerank, Haveliwala WWW 2002): the random-walk-with-
    restart proximity scores recommenders generate candidates with —
    identical integer fixed-point discipline to pagerank_roads but the
    teleport mass lands only on the seeds, so rank_fx measures
    closeness to them, not global centrality.  4 fixed rounds, chained-
    CTE twin with the same seed predicate.

    100 TB: Pregel shape — per round one src equi-join + one
    map-side-combined dst agg."""
    from osmgraft.operators.graph import personalized_pagerank

    return personalized_pagerank(_road_edges(spark, sf_dir), _PPR_SEEDS, iters=4)


def _weighted_road_edges_sql() -> str:
    from osmgraft.geom import sql_haversine_m_int

    seg = sql_haversine_m_int("pa.lat7", "pa.lon7", "pb.lat7", "pb.lon7")
    return f"""
WITH pts AS ({_PTS}),
seq AS (SELECT o_orderkey AS n,
        lead(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS nn
        FROM orders),
segs AS (SELECT s.n, s.nn, {seg} AS w_m
         FROM seq s
         JOIN pts pa ON pa.point_id = s.n
         JOIN pts pb ON pb.point_id = s.nn
         WHERE s.nn IS NOT NULL)
SELECT n AS src, nn AS dst, w_m FROM segs
UNION ALL
SELECT nn, n, w_m FROM segs"""


def _weighted_road_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from osmgraft.geom import haversine_m_col

    from osmgraft.synth import latlon_of_key

    orders = read_fixture(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    # coords are a closed-form projection of the key, so BOTH endpoints come
    # from the one window pass (lead key -> lead coords): zero joins where
    # the naive build self-joins the point table twice
    seq = orders.select(
        F.col("o_orderkey").alias("n"), F.lead("o_orderkey").over(w).alias("nn")
    ).filter(F.col("nn").isNotNull())
    a_lat, a_lon = latlon_of_key(F.col("n"))
    b_lat, b_lon = latlon_of_key(F.col("nn"))
    segs = seq.select(
        "n", "nn", haversine_m_col(a_lat, a_lon, b_lat, b_lon).alias("w_m")
    )
    fwd = segs.select(F.col("n").alias("src"), F.col("nn").alias("dst"), "w_m")
    return fwd.unionByName(
        segs.select(F.col("nn").alias("src"), F.col("n").alias("dst"), "w_m")
    )


_SP_SOURCES = [1, 7, 13]


def _sql_shortest_paths_roads() -> str:
    from osmgraft.operators.graph import sql_shortest_paths

    return sql_shortest_paths(_weighted_road_edges_sql(), _SP_SOURCES, rounds=6)


@register("shortest_paths_roads", _sql_shortest_paths_roads())
def shortest_paths_roads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source weighted shortest paths on the road network (6-round
    Bellman-Ford over integer-meter haversine edge weights — min-plus
    relaxation, operators/graph.py). The fixed round count makes the result
    '≤6-hop shortest distance', a deterministic function the DuckDB twin
    states as six unrolled relational rounds; integer weights keep min()
    bit-exact on both engines."""
    from osmgraft.operators.graph import shortest_paths

    return shortest_paths(
        _weighted_road_edges(spark, sf_dir), _SP_SOURCES, rounds=6
    )


_SEQ_FUNNEL_STEPS = ["view", "click", "purchase"]

_SEQ_FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t FROM events WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY e.user_id
)
SELECT 1 AS step, 'view' AS event_type, count(*) AS n_users FROM s1
UNION ALL SELECT 2, 'click', count(*) FROM s2
UNION ALL SELECT 3, 'purchase', count(*) FROM s3"""


@register("funnel_sequence", _SEQ_FUNNEL_SQL)
def funnel_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event-sequence funnel: users who did view, THEN click, THEN
    purchase in strict timestamp order (not mere set membership). Each step
    is one filtered aggregate joined to the previous step's first-completion
    time — per-step equi-joins on user_id, no window over raw events, no
    per-user state. The timestamp jitter in the fixture makes ties
    impossible, so strict '>' is well-defined on both engines."""
    ev = read_fixture(spark, sf_dir, "events")
    prev = None
    counts = []
    for i, step in enumerate(_SEQ_FUNNEL_STEPS, start=1):
        e = ev.filter(F.col("event_type") == step)
        if prev is None:
            cur = e.groupBy("user_id").agg(F.min("ts").alias("t"))
        else:
            cur = (
                e.join(prev.withColumnRenamed("t", "_pt"), "user_id")
                .filter(F.col("ts") > F.col("_pt"))
                .groupBy("user_id")
                .agg(F.min("ts").alias("t"))
            )
        counts.append(
            cur.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(i).alias("step"),
                F.lit(step).alias("event_type"),
                "n_users",
            )
        )
        prev = cur
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


_RETENTION_SQL = """
WITH act AS (
  SELECT DISTINCT user_id,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d
  FROM events
),
coh AS (SELECT user_id, min(d) AS cohort_d FROM act GROUP BY user_id)
SELECT c.cohort_d, a.d - c.cohort_d AS day_offset,
       count(DISTINCT a.user_id) AS n_users
FROM act a JOIN coh c USING (user_id)
WHERE a.d - c.cohort_d <= 30
GROUP BY c.cohort_d, day_offset"""


@register("retention_cohorts", _RETENTION_SQL)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-active day, counted on
    each later active day (offset ≤ 30) — the standard growth-analytics
    rollup. Two aggregations + one equi-join on user_id, all map-side
    combined; days are integer offsets from a fixed epoch so the hash gate
    never touches date formatting."""
    ev = read_fixture(spark, sf_dir, "events")
    act = ev.select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")).alias("d"),
    ).distinct()
    coh = act.groupBy("user_id").agg(F.min("d").alias("cohort_d"))
    return (
        act.join(coh, "user_id")
        .withColumn("day_offset", F.col("d") - F.col("cohort_d"))
        .filter(F.col("day_offset") <= 30)
        .groupBy("cohort_d", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def _sql_value_percentiles() -> str:
    from osmgraft.operators.stats import sql_exact_percentiles_native

    return sql_exact_percentiles_native(
        "SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events",
        keys=["event_type"],
        col="cents",
        quantiles_pm=[500, 900, 990],
    )


@register("value_percentiles_exact", _sql_value_percentiles())
def value_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distributed p50/p90/p99 of event value (cents) per event type —
    sketches can't hash-gate, integer histograms can (operators/stats.py:
    histogram + cumulative window over DISTINCT values, integer rational
    ranks). Oracle is DuckDB's NATIVE quantile_disc — an independent
    sort-based implementation of the same rank convention."""
    from osmgraft.operators.stats import exact_percentiles

    ev = read_fixture(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    return exact_percentiles(
        ev, keys=["event_type"], col="cents", quantiles_pm=[500, 900, 990]
    )


def _sql_asof_user_state() -> str:
    from osmgraft.operators.asof import sql_asof_join

    inner = sql_asof_join(
        left_sql="SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'",
        right_sql="SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view'",
        on=["user_id"],
        ts="ts",
        right_cols=["event_id", "value"],
        out_cols="l.event_id, l.user_id",
    )
    # unmatched rows carry -1 sentinels, never NULL ints: nullable int
    # output columns floatify under pandas-path oracle fetches (r5
    # fetch-invariance rule, tools/verify_oracle.py docstring)
    return f"""
SELECT event_id, user_id,
       CAST(COALESCE(event_id_ref, -1) AS BIGINT) AS ref_event_id,
       CAST(COALESCE(round(value_ref * 100), -1) AS BIGINT) AS ref_cents
FROM ({inner})"""


@register("asof_user_state", _sql_asof_user_state())
def asof_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join — the temporal join Spark lacks: every click event picks up
    the latest at-or-before 'view' event of the same user (its id + value).
    Engine side is the union-window technique (ONE key exchange + sort, no
    join node — operators/asof.py); the oracle is DuckDB's NATIVE ASOF LEFT
    JOIN, an independent sort/binary-search implementation of the same
    published semantics. Matched-row IDENTITY is part of the hash, not just
    the carried value."""
    from osmgraft.operators.asof import asof_join

    ev = read_fixture(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    right = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    j = asof_join(left, right, on=["user_id"], ts="ts", right_cols=["event_id", "value"])
    return j.select(
        "event_id",
        "user_id",
        F.coalesce(F.col("event_id_ref"), F.lit(-1)).cast("long").alias("ref_event_id"),
        F.coalesce(F.round(F.col("value_ref") * 100), F.lit(-1))
        .cast("long")
        .alias("ref_cents"),
    )


_SCD2_OPEN = (1 << 63) - 1  # open-interval sentinel (int64-max, both engines)


def _sql_scd2() -> str:
    from osmgraft.operators.asof import sql_scd2_build

    inner = sql_scd2_build(
        "SELECT user_id, event_type, ts, event_id FROM events",
        key_cols=["user_id"], state_col="event_type",
        order_tiebreak=["event_id"],
    )
    return f"""SELECT user_id, event_type, vf_us,
  CAST(COALESCE(vt_us, {_SCD2_OPEN}) AS BIGINT) AS vt_us
FROM ({inner})"""


@register("scd2_user_state", _sql_scd2())
def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD build — the inverse of asof_user_state: each user's event
    stream collapses into validity intervals of their current event_type
    (vf_us/vt_us microsecond epochs, open interval NULL-terminated;
    consecutive same-state events merge). ONE key exchange: the change-
    detection window and the interval lead() share partitioning and sort,
    so Catalyst reuses the exchange (plan-asserted). operators/asof.py."""
    from osmgraft.operators.asof import scd2_build

    ev = read_fixture(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    # open intervals close at int64-max, never NULL (fetch-invariance rule)
    return scd2_build(
        ev, key_cols=["user_id"], state_col="event_type",
        order_tiebreak=["event_id"],
    ).select(
        "user_id",
        "event_type",
        "vf_us",
        F.coalesce(F.col("vt_us"), F.lit(_SCD2_OPEN)).alias("vt_us"),
    )


# BPE merge list learned by operators/bpe.train_merges on the sf0.01 corpus
# (24 merges). Embedded as a literal so the ENCODE path is oracle-gateable at
# every SF; tests/test_bpe.py re-trains and asserts this exact list, pinning
# the distributed trainer's determinism end to end.
_BPE_MERGES = [
    (" ", "s"), ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("m", "er"),
    ("a", "t"), ("l", "u"), (" ", "c"), ("a", "s"), (" ", "b"), (" ", "v"),
    ("a", "r"), ("p", "ar"), (" ", "f"), (" ", "a"), (" ", "t"), ("j", "o"),
    ("jo", "in"), ("as", "h"), ("h", "ash"), (" ", "join"), ("s", "t"),
    ("r", "ow"),
]


def _sql_bpe_encode() -> str:
    from osmgraft.operators.bpe import sql_apply_merges

    # every symbol wrapped chr(31)+c+chr(30); pretokens joined by chr(29)
    wrap = (
        "list_aggregate(list_transform(string_split_regex(t, ''), "
        "c -> chr(31) || c || chr(30)), 'string_agg', '')"
    )
    seq = (
        f"coalesce(list_aggregate(list_transform(toks, t -> {wrap}), "
        "'string_agg', chr(29)), '')"
    )
    merged = sql_apply_merges("seq", _BPE_MERGES)
    return f"""
WITH pt AS (SELECT doc_id, {T.sql_bpe_pretokens('text')} AS toks FROM documents),
sq AS (SELECT doc_id, len(toks) AS n_pretokens, {seq} AS seq FROM pt),
mg AS (SELECT doc_id, n_pretokens, {merged} AS m FROM sq)
SELECT doc_id, n_pretokens,
       len(list_filter(string_split(m, chr(31)), x -> x <> '')) AS n_bpe_tokens,
       {T.sql_md5_long('m')} AS stream_hash
FROM mg"""


@register("bpe_encode", _sql_bpe_encode())
def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenization with a FIXED learned merge table: pre-tokenize
    (GPT-2 split), apply the 24 merges in order, count merged symbols and
    hash the full merged stream. Merging is a chain of non-overlapping
    leftmost `replace` calls over a separator-delimited whole-doc sequence —
    identical semantics in Spark and DuckDB, and a merge can never span the
    double-separator pre-token boundary (operators/bpe.doc_seq_col), so the
    per-row expression IS per-pretoken BPE with zero shuffles. The merge
    list itself comes from the distributed trainer (operators/bpe.
    train_merges); tests/test_bpe.py pins trainer output == this literal."""
    from osmgraft.operators.bpe import encode_tokens

    return encode_tokens(_docs(spark, sf_dir), _BPE_MERGES)


# deterministic PII augmentation: the synthetic corpus is clean word salad, so
# the scrub query plants PII inline — same concat spec on both engines — and
# the gate checks detection counts AND the hash of the redacted text.
def _pii_aug(cast: str, intdiv: str) -> str:
    """Augmentation expression rendered for one dialect: ``cast`` is the
    string type name (STRING / VARCHAR), ``intdiv`` the integer-div operator."""
    return (
        "text"
        f" || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS {cast})"
        "          || '@example.com for details' ELSE '' END"
        " || CASE WHEN doc_id % 11 = 0 THEN ' or call 415-555-'"
        f"          || lpad(CAST(doc_id % 10000 AS {cast}), 4, '0') ELSE '' END"
        " || CASE WHEN doc_id % 13 = 0 THEN ' logged from 10.0.'"
        f"          || CAST(doc_id % 256 AS {cast}) || '.'"
        f"          || CAST((doc_id {intdiv} 7) % 256 AS {cast})"
        "     ELSE '' END"
    )


_PII_AUG_SQL = _pii_aug("VARCHAR", "//")

_PII_SQL = f"""
WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS t FROM documents)
SELECT doc_id,
  {T.sql_pii_counts('t')['email']} AS n_email,
  {T.sql_pii_counts('t')['ipv4']} AS n_ipv4,
  {T.sql_pii_counts('t')['phone']} AS n_phone,
  {T.sql_md5_long(T.sql_pii_scrub('t'))} AS scrub_hash
FROM aug"""


@register("pii_scrub", _PII_SQL)
def pii_scrub_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: detect + replace emails / IPv4s / phone numbers
    with typed placeholders (patterns chosen to parse identically under Java
    regex and RE2 — functions/text.py PII_PATTERNS). The synthetic corpus is
    clean, so the query plants deterministic PII inline first; the gate then
    hashes the REDACTED text, so a missed or mangled redaction anywhere
    fails. Pure JVM regexp codegen — no shuffle, no Python."""
    docs = _docs(spark, sf_dir)
    aug = docs.select("doc_id", F.expr(_pii_aug("STRING", "div")).alias("t"))
    cnts = T.pii_counts(F.col("t"))
    return aug.select(
        "doc_id",
        cnts["email"].cast("long").alias("n_email"),
        cnts["ipv4"].cast("long").alias("n_ipv4"),
        cnts["phone"].cast("long").alias("n_phone"),
        T.md5_long(T.pii_scrub(F.col("t"))).alias("scrub_hash"),
    )


_FUNNEL_SQL = f"""
WITH sig AS (
  SELECT doc_id,
         {T.sql_lang_id('text')} AS lang,
         {T.sql_bigram_quality('text')} AS bq,
         {T.sql_token_count('text')} AS ntok,
         {T.sql_tokens('text')} AS toks,
         {T.sql_fingerprint('text')} AS fp
  FROM documents
),
flags AS (
  SELECT doc_id, fp,
         (lang = 'en') AS f1,
         (lang = 'en' AND bq >= 250) AS f2,
         (lang = 'en' AND bq >= 250
          AND (CASE WHEN len(toks) = 0 THEN 0
               ELSE (1000 * {T.sql_top_token_count('toks')}) // len(toks) END) < 140) AS f3,
         (lang = 'en' AND bq >= 250
          AND (CASE WHEN len(toks) = 0 THEN 0
               ELSE (1000 * {T.sql_top_token_count('toks')}) // len(toks) END) < 140
          AND ntok BETWEEN 20 AND 120) AS f4
  FROM sig
),
agg AS (
  SELECT count(*) AS n0,
         CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(sum(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
         CAST(sum(CASE WHEN f4 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
         count(DISTINCT CASE WHEN f4 THEN fp END) AS n5
  FROM flags
)
SELECT * FROM (
  SELECT 0 AS stage_idx, 'all' AS stage, n0 AS n_docs FROM agg
  UNION ALL SELECT 1, 'lang_en', n1 FROM agg
  UNION ALL SELECT 2, 'fluent_bq250', n2 FROM agg
  UNION ALL SELECT 3, 'low_repetition', n3 FROM agg
  UNION ALL SELECT 4, 'length_20_120', n4 FROM agg
  UNION ALL SELECT 5, 'unique_fingerprint', n5 FROM agg
)"""


@register("curation_funnel", _FUNNEL_SQL)
def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation funnel: how many documents survive each cumulative
    stage of a standard pretraining-data filter chain (language ID → bigram
    fluency → repetition cap → length band → exact-dedup canonicals). One
    shuffle-free pass computes every signal per row; one aggregate folds the
    stage counts; the 6-row reshape is driver-free (explode of a literal
    array). At 100 TB this is a single scan + one 1-row exchange."""
    docs = _docs(spark, sf_dir)
    toks = T.tokens(F.col("text"))
    sig = docs.select(
        "doc_id",
        T.lang_id(F.col("text")).alias("lang"),
        T.bigram_quality(F.col("text")).alias("bq"),
        T.token_count(F.col("text")).alias("ntok"),
        toks.alias("toks"),
        T.fingerprint(F.col("text")).alias("fp"),
    )
    top_ptm = F.when(F.size("toks") == 0, F.lit(0)).otherwise(
        F.expr(f"(1000 * {_TOP_TOK_SPARK}) div size(toks)")
    )
    flags = sig.withColumn("top_ptm", top_ptm).select(
        "fp",
        (F.col("lang") == "en").alias("f1"),
        ((F.col("lang") == "en") & (F.col("bq") >= 250)).alias("f2"),
        (
            (F.col("lang") == "en") & (F.col("bq") >= 250) & (F.col("top_ptm") < 140)
        ).alias("f3"),
        (
            (F.col("lang") == "en")
            & (F.col("bq") >= 250)
            & (F.col("top_ptm") < 140)
            & F.col("ntok").between(20, 120)
        ).alias("f4"),
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(F.col("f1").cast("long")).alias("n1"),
        F.sum(F.col("f2").cast("long")).alias("n2"),
        F.sum(F.col("f3").cast("long")).alias("n3"),
        F.sum(F.col("f4").cast("long")).alias("n4"),
        F.countDistinct(F.when(F.col("f4"), F.col("fp"))).alias("n5"),
    )
    stages = F.array(
        *[
            F.struct(
                F.lit(i).alias("stage_idx"),
                F.lit(name).alias("stage"),
                F.col(f"n{i}").cast("long").alias("n_docs"),
            )
            for i, name in enumerate(
                [
                    "all",
                    "lang_en",
                    "fluent_bq250",
                    "low_repetition",
                    "length_20_120",
                    "unique_fingerprint",
                ]
            )
        ]
    )
    return agg.select(F.explode(stages).alias("s")).select("s.*")


# --- training-data ops: lexical ranking (operators/ranking.py) ---------------------
from osmgraft.operators import ranking as R  # noqa: E402

# fixed retrieval workload over the synthetic vocab — literal on both sides
_BM25_QUERIES = [
    ("q0", "spark"), ("q0", "join"),
    ("q1", "hash", ), ("q1", "table"),
    ("q2", "slow"), ("q2", "fast"), ("q2", "filter"),
    ("q3", "window"),
]


@register("tfidf_top_terms", R.sql_tfidf_top_terms(k=3))
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by integer-quantized tf-idf
    (idf = 1+floor(log2(N div df)) via length(bin(…)) — exact on both engines;
    see operators/ranking.py for the plan shape at scale)."""
    return R.tfidf_top_terms(_docs(spark, sf_dir), k=3)


@register("lm_surprisal", R.sql_lm_surprisal())
def lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document surprisal under a self-trained corpus bigram LM with
    add-one smoothing — the perplexity-style quality filter (KenLM-shape,
    scored with the engine's exact integer-log2 discipline; the mean-bits
    division is never taken). Low bits/bigram = fluent corpus-typical text,
    high = gibberish/outliers. See operators/ranking.py lm_surprisal for
    the plan shape at 100 TB."""
    return R.lm_surprisal(_docs(spark, sf_dir))


@register(
    "bm25_search",
    R.sql_bm25_scores(
        ", ".join(f"('{q}', '{t}')" for q, t in _BM25_QUERIES), k=5
    ),
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-5 documents per query (k1=6/5, b=3/4), computed entirely in
    cross-multiplied int64 fixed point so Spark and DuckDB hash identically —
    the derivation that the integer expression IS BM25 is in
    operators/ranking.py:bm25_scores. Query set is a broadcast literal."""
    qdf = spark.createDataFrame(_BM25_QUERIES, "query_id string, term string")
    return R.bm25_scores(_docs(spark, sf_dir), qdf, k=5)


# --- training-data ops: dedup (brief §dedup) ----------------------------------------
from osmgraft.operators import dedup as D  # noqa: E402


@register("dedup_exact", D.sql_dedup_exact_groups())
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by content hash (hash-groupBy)."""
    docs = _docs(spark, sf_dir)
    return D.dedup_exact_groups(docs)


@register("dedup_minhash_lsh", D.sql_minhash_lsh_pairs())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH banded near-duplicate pairs with exact Jaccard verify."""
    docs = _docs(spark, sf_dir)
    return D.minhash_lsh_pairs(docs)


@register("dedup_clusters", D.sql_dedup_clusters())
def dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters + survivor/kill labels: the verified minhash pairs
    close into connected components (graph.cc_two_level) and the minimum
    doc_id of each group survives. DuckDB twin runs a recursive-CTE closure
    over the same pairs — two different component algorithms, one hash."""
    return D.dedup_clusters(_docs(spark, sf_dir))


@register("dedup_jaccard_ngram", D.sql_jaccard_ngram_pairs())
def dedup_jaccard_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs (inverted shingle-index join —
    the non-probabilistic sibling of dedup_minhash_lsh; exact recall at any
    threshold, df-skew trade documented in operators/dedup.py)."""
    docs = _docs(spark, sf_dir)
    return D.jaccard_ngram_pairs(docs)


def _sql_dedup_levenshtein() -> str:
    return f"""WITH src AS (
  SELECT doc_id, substr(regexp_replace(text, '[^ -~]', '', 'g'), 1, 80) AS t
  FROM documents WHERE doc_id < {_LEV_CAP}),
vars AS (
  SELECT doc_id + 100000 AS doc_id,
         concat(substr(t, 1, 5), '~', substr(t, 7, 14), substr(t, 22)) AS t
  FROM src WHERE doc_id % 5 = 0),
allrows AS (SELECT * FROM src UNION ALL SELECT * FROM vars)
SELECT least(a.doc_id, b.doc_id) AS doc_a, greatest(a.doc_id, b.doc_id) AS doc_b,
       CAST(levenshtein(a.t, b.t) AS INTEGER) AS dist
FROM allrows a JOIN allrows b
  ON a.doc_id < b.doc_id AND abs(length(a.t) - length(b.t)) <= 2
WHERE levenshtein(a.t, b.t) <= 2"""


_LEV_CAP = 400  # brute-force twin is O(n²·len²); cap like the image queries


@register("dedup_levenshtein", _sql_dedup_levenshtein())
def dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs (operators/dedup.levenshtein_neardup_pairs):
    PassJoin-pigeonhole segment candidates + exact F.levenshtein verify, over
    ASCII-projected 80-char caption prefixes with planted 2-edit variants
    (substitute pos 6, delete pos 21 — every 5th doc).  The DuckDB oracle
    brute-forces all pairs with its native levenshtein — two radically
    different candidate generators, one pair set, one hash; any recall hole
    in the pigeonhole window drops a planted pair and fails the gate.
    (ASCII projection pins semantics: Spark counts chars, DuckDB bytes.)"""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < _LEV_CAP)
    src = docs.select(
        "doc_id",
        F.substring(F.regexp_replace("text", "[^ -~]", ""), 1, 80).alias("t"),
    )
    vars_ = src.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(
            F.substring("t", 1, 5),
            F.lit("~"),
            F.substring("t", 7, 14),
            F.expr("substring(t, 22)"),
        ).alias("t"),
    )
    allrows = ensure_min_parallelism(src.unionByName(vars_))
    return D.levenshtein_neardup_pairs(allrows, k=2, id_col="doc_id", text_col="t")


# surname fixture for phonetic blocking: public common surnames plus the
# classic soundex homophone vectors (Robert/Rupert, Ashcraft/Ashcroft,
# Smith/Smyth...) so real code-equal pairs exist to surface
_SURNAMES = [
    "Robert", "Rupert", "Ashcraft", "Ashcroft", "Tymczak", "Pfister",
    "Honeyman", "Washington", "Lee", "Gutierrez", "Jackson", "VanDeusen",
    "Smith", "Smyth", "Williams", "Johnson", "Jonson", "Brown", "Braun",
    "Miller", "Mueller", "Davis", "Garcia", "Rodriguez", "Martinez",
    "Hernandez", "Lopez", "Gonzalez", "Wilson", "Anderson", "Thomas",
    "Taylor", "Moore", "Martin", "Thompson", "White", "Harris", "Clark",
    "Lewis", "Walker",
]


def _sql_soundex_q() -> str:
    from osmgraft.operators.dedup import sql_soundex_pairs

    vals = ", ".join(f"({i}, '{n}')" for i, n in enumerate(_SURNAMES))
    names = (
        f"SELECT d.doc_id AS name_id, v.name FROM documents d "
        f"JOIN (VALUES {vals}) v(i, name) ON v.i = d.doc_id % {len(_SURNAMES)}"
    )
    return sql_soundex_pairs(names)


@register("soundex_name_pairs", _sql_soundex_q())
def soundex_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic blocking join (operators/dedup.soundex_pairs, Russell &
    Odell 1918 American Soundex — the classic entity-resolution blocking
    key): surnames assigned to documents deterministically, coded by the
    FULL NARA rule set (first-letter retention, H/W transparency, vowel
    run-breaking, 0-pad) implemented as one chained string expression
    built from a single rule list — no engine soundex builtin, no RE2-
    incompatible backreferences — and self-joined on the code.  Classic
    homophones (Robert/Rupert R163, Ashcraft/Ashcroft A261, Smith/Smyth
    S530) are planted in the fixture; published vectors pinned in pytest.

    100 TB: distinct + equi-join on the 26·7³ code space — bucketed,
    never global n²; the code is pure codegen string algebra."""
    from osmgraft.operators.dedup import soundex_pairs

    docs = ensure_min_parallelism(
        read_fixture(spark, sf_dir, "documents")
    ).select("doc_id")
    lut = spark.createDataFrame(
        list(enumerate(_SURNAMES)), "i long, name string"
    )
    names = docs.join(
        F.broadcast(lut), docs.doc_id % len(_SURNAMES) == lut.i
    ).select(F.col("doc_id").alias("name_id"), "name")
    return soundex_pairs(names)


_LCS_CAP = 240


def _sql_dedup_lcs() -> str:
    from osmgraft.operators.dedup import sql_lcs_pairs

    src = f"""SELECT doc_id, lang,
         substr(regexp_replace(text, '[^ -~]', '', 'g'), 1, 16) AS t
  FROM documents WHERE doc_id < {_LCS_CAP}
  UNION ALL
  SELECT doc_id + 200000, lang,
         concat(substr(t, 1, 4), '#', substr(t, 5, 5), '@', substr(t, 10, 7))
  FROM (SELECT doc_id, lang,
               substr(regexp_replace(text, '[^ -~]', '', 'g'), 1, 16) AS t
        FROM documents WHERE doc_id < {_LCS_CAP}) WHERE doc_id % 4 = 0"""
    return sql_lcs_pairs(src, ["lang"], min_lcs=12)


@register("dedup_lcs_pairs", _sql_dedup_lcs())
def dedup_lcs_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-common-subsequence near-dup pairs (operators/dedup.
    lcs_pairs, Wagner & Fischer 1974): the ORDER-PRESERVING member of the
    string-similarity family (levenshtein charges edits, containment
    demands contiguity, LCS counts the longest shared subsequence — the
    excerpt-with-scattered-insertions signal both of those miss).  ASCII
    16-char caption prefixes bucketed by lang, with planted variants that
    interleave two junk chars — the original stays a full subsequence, so
    every planted pair MUST surface at lcs_len = 16; dropping one fails
    the gate.  Spark runs the DP as nested JVM aggregate folds (running-
    max row advance); the DuckDB twin advances each row in CLOSED FORM
    (max over prefix) in a recursive CTE — two algorithms, one hash.

    100 TB: bucketed equi-join, cost bounded by bucket size², no Python,
    no Cartesian."""
    from osmgraft.operators.dedup import lcs_pairs

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < _LCS_CAP)
    src = docs.select(
        "doc_id",
        "lang",
        F.substring(F.regexp_replace("text", "[^ -~]", ""), 1, 16).alias("t"),
    )
    vars_ = src.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        "lang",
        F.concat(
            F.substring("t", 1, 4),
            F.lit("#"),
            F.substring("t", 5, 5),
            F.lit("@"),
            F.substring("t", 10, 7),
        ).alias("t"),
    )
    allrows = ensure_min_parallelism(src.unionByName(vars_))
    return lcs_pairs(allrows, ["lang"], min_lcs=12)


@register("dedup_jaccard_prefix", D.sql_jaccard_ngram_pairs())
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin prefix-filtered exact Jaccard pairs
    (operators/dedup.jaccard_prefix_pairs): the SAME oracle as
    dedup_jaccard_ngram but a sub-quadratic candidate generator — rarest
    shingles only enter the self-join, verified by exact array_intersect.
    Two candidate schemes (full inverted index vs prefix filter), one
    DuckDB brute twin, one hash: any recall hole in the prefix lemma
    breaks the gate."""
    return D.jaccard_prefix_pairs(_docs(spark, sf_dir))


def _sql_span_corruption() -> str:
    from osmgraft.operators.packing import sql_span_corruption

    return sql_span_corruption()


@register("span_corruption_masks", _sql_span_corruption())
def span_corruption_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption masks (operators/packing.span_corruption):
    per doc, 15%-of-tokens noise in 3-token spans anchored by portable-md5
    rank, overlapping spans merged — the denoising-objective prep step,
    reproducible across engines and partitionings because the mask is a
    pure function of (doc_id, token position)."""
    from osmgraft.operators.packing import span_corruption

    return span_corruption(_docs(spark, sf_dir)).select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("n_masked").cast("long").alias("n_masked"),
    )


@register("cdc_chunks", D.sql_cdc_chunks())
def cdc_chunks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking: every document split at windowed-hash
    boundaries (FastCDC-style, stateless windows so the whole op is JVM
    array expressions — operators/dedup.py §CDC); hash-gated per chunk."""
    return D.cdc_chunks(_docs(spark, sf_dir))


@register("cdc_shared_chunks", D.sql_cdc_shared_chunks())
def cdc_shared_chunks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate: CDC chunks shared by ≥2 documents
    (partial-duplicate detection the near-dup ops can't see)."""
    return D.cdc_shared_chunks(_docs(spark, sf_dir))


@register(
    "doc_split_assign",
    f"""SELECT doc_id,
  CASE WHEN ({T.sql_md5_long('CAST(doc_id AS VARCHAR)')}) % 100 < 98 THEN 'train'
       WHEN ({T.sql_md5_long('CAST(doc_id AS VARCHAR)')}) % 100 < 99 THEN 'val'
       ELSE 'test' END AS split
FROM documents""",
)
def doc_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (98/1/1) by content-free id
    hash — the split must be a pure function of the doc id so it is stable
    across reshuffles, re-ingests, and engines (Spark's internal hash is
    not portable; md5 is).  Hash-gated: DuckDB computes the identical
    md5-prefix integer."""
    docs = _docs(spark, sf_dir)
    bucket = T.md5_long(F.col("doc_id").cast("string")) % 100
    return docs.select(
        "doc_id",
        F.when(bucket < 98, "train").when(bucket < 99, "val").otherwise("test").alias("split"),
    )


@register(
    "mixture_sample_sources",
    f"""WITH scored AS (
  SELECT doc_id, source,
         {T.sql_token_count('text')} AS n_tok,
         {T.sql_md5_long('CAST(doc_id AS VARCHAR)')} AS hk,
         (CAST(substr(source, 4) AS BIGINT) % 4 + 1) * 500 AS budget
  FROM documents)
SELECT doc_id, source, n_tok, CAST(cum_tok AS BIGINT) AS cum_tok FROM (
  SELECT doc_id, source, n_tok, budget,
         sum(n_tok) OVER (PARTITION BY source ORDER BY hk, doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum_tok
  FROM scored)
WHERE cum_tok <= budget""",
)
def mixture_sample_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture sampling (operators/packing.mixture_sample):
    per-source token budgets — (source index % 4 + 1)·500, standing in for
    mixing weights — filled greedily in md5-hash order, so the selected
    subset is reproducible across engines, reruns and partitionings. One
    exchange; hash-gated end to end including the running totals."""
    from osmgraft.operators.packing import mixture_sample

    docs = _docs(spark, sf_dir)
    budget = (
        F.substring("source", 4, 10).cast("long") % 4 + 1
    ) * 500
    return mixture_sample(
        docs,
        group_col="source",
        budget=budget,
        tok=T.token_count(F.col("text")),
        order_key=T.md5_long(F.col("doc_id").cast("string")),
    )


@register(
    "lang_quality_quota",
    f"""WITH scored AS (
  SELECT doc_id, {T.sql_lang_id('text')} AS lang,
         {T.sql_bigram_quality('text')} AS bq
  FROM documents)
SELECT doc_id, lang, bq, CAST(rk AS INTEGER) AS rk FROM (
  SELECT doc_id, lang, bq,
         row_number() OVER (PARTITION BY lang ORDER BY bq DESC, doc_id) AS rk
  FROM scored)
WHERE rk <= 50""",
)
def lang_quality_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing primitive: top-50 documents PER LANGUAGE by fluency
    score (deterministic tiebreak on doc_id) — the per-group quota pattern
    a curriculum/mixture builder runs to balance sources.  One window over
    integer scores; hash-gated end to end."""
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir)
    scored = docs.select(
        "doc_id",
        T.lang_id(F.col("text")).alias("lang"),
        T.bigram_quality(F.col("text")).alias("bq"),
    )
    w = W.partitionBy("lang").orderBy(F.desc("bq"), "doc_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 50)
        .select("doc_id", "lang", "bq", "rk")
    )


@register("dedup_components", D.sql_connected_components())
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup GROUP ASSEMBLY: connected components over the exact-Jaccard
    near-dup pair graph (comp = min reachable doc_id) — the step a real
    pipeline runs after pair detection to keep one canonical doc per
    duplicate cluster.  Spark runs iterative distributed min-label
    propagation (localCheckpoint per round, converges at graph diameter);
    the DuckDB twin computes the transitive closure with a recursive CTE —
    two genuinely different algorithms, one hash."""
    from osmgraft.operators.dedup import connected_components, jaccard_ngram_pairs

    docs = _docs(spark, sf_dir)
    return connected_components(jaccard_ngram_pairs(docs))


@register("simhash", f"SELECT doc_id, {D.sql_simhash('text')} AS simhash FROM documents")
def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document (near-dup primitive)."""
    docs = _docs(spark, sf_dir)
    return D.simhash_table(docs)


# --- training-data ops: similarity search (brief §similarity) -----------------------
@register("embedding_topk", None)  # registered with oracle below (import order)
def embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k, sequential-fold dot product (bitwise == DuckDB)."""
    from osmgraft.operators.similarity import cosine_topk

    emb = read_fixture(spark, sf_dir, "embeddings")
    return cosine_topk(ensure_min_parallelism(emb), emb.filter(F.col("vec_id") < 5), k=10)


from osmgraft.operators.similarity import sql_cosine_topk  # noqa: E402

REGISTRY["embedding_topk"] = (REGISTRY["embedding_topk"][0], sql_cosine_topk(k=10))


@register("embedding_topk_fast", None)  # oracle attached below
def embedding_topk_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized matmul brute-force cosine top-k (mapInArrow, per-partition
    partial top-k + tiny merge) — 55x faster than the HOF fold at 80k items
    x 8 queries; exact, same oracle as embedding_topk. Known accepted risk
    (ADVICE r1): rankings could in principle diverge from the fold-based
    oracle on sub-ulp cosine TIES (pairwise vs sequential float summation);
    the synthetic embeddings have no exact ties, and a tie would show as a
    hash flake here, not a wrong top-k."""
    from osmgraft.operators.similarity import cosine_topk_np

    emb = read_fixture(spark, sf_dir, "embeddings")
    return cosine_topk_np(ensure_min_parallelism(emb), emb.filter(F.col("vec_id") < 5), k=10)


REGISTRY["embedding_topk_fast"] = (
    REGISTRY["embedding_topk_fast"][0],
    sql_cosine_topk(k=10),
)


@register("embedding_topk_blocked", None)  # oracle attached below
def embedding_topk_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k via block-broadcast nested loop: the 40-query set is
    split into 16-row hash blocks, each block broadcast + matmul-scanned, and
    the per-block results union into one lazy plan. Closes the r1 caveat that
    the fast path collect()s the whole query side — driver memory here is one
    block, never the query set, never candidates. Same oracle as
    embedding_topk (exact; block boundaries cannot change an exact ranking)."""
    from osmgraft.operators.similarity import cosine_topk_blocked

    emb = read_fixture(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 40).cache()
    return cosine_topk_blocked(ensure_min_parallelism(emb), q, k=10, block_rows=16)


REGISTRY["embedding_topk_blocked"] = (
    REGISTRY["embedding_topk_blocked"][0],
    sql_cosine_topk(k=10, query_pred="vec_id < 40"),
)


@register(
    "embedding_semantic_dedup",
    """WITH RECURSIVE s AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
prs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM s a JOIN s b ON a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
        >= 0.42),
sym AS (SELECT id_a AS u, id_b AS v FROM prs UNION SELECT id_b, id_a FROM prs),
nodes AS (SELECT DISTINCT u AS id FROM sym),
reach(id, cur) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT r.id, s2.v FROM reach r JOIN sym s2 ON s2.u = r.cur),
lab AS (SELECT id, min(cur) AS cluster_id FROM reach GROUP BY id)
SELECT cluster_id, id AS vec_id, (id = cluster_id) AS is_survivor FROM lab""",
)
def embedding_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup (operators/similarity.py
    semantic_dedup_clusters): exact cosine-0.42 near-dup pairs close into
    connected components and the min vec_id survives per group. DuckDB twin
    runs a recursive-CTE closure over the same pairs — the embedding-modality
    sibling of dedup_clusters, one hash."""
    from osmgraft.operators.similarity import semantic_dedup_clusters

    emb = read_fixture(spark, sf_dir, "embeddings").cache()
    return semantic_dedup_clusters(
        ensure_min_parallelism(emb), threshold=0.42, block_rows=200
    )


@register(
    "embedding_cosine_neardup",
    """WITH s AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM s a JOIN s b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
      >= 0.42""",
)
def embedding_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (cosine >= 0.42, every unordered
    pair once) via the block-broadcast self nested loop — shuffle-free pair
    emission, driver bounded by one block. Output is id-pairs only so the
    cross-engine hash cannot flake on float summation order (the threshold
    sits >= 7e-4 away from every real cosine in the table at both oracle
    SFs). The LSH path (embedding_lsh_ann) is the sub-linear approximate
    twin; this is the exact contract it is measured against."""
    from osmgraft.operators.similarity import cosine_neardup_pairs

    emb = read_fixture(spark, sf_dir, "embeddings").cache()
    return cosine_neardup_pairs(
        ensure_min_parallelism(emb), threshold=0.42, block_rows=200
    )


def _lsh_ann_oracle() -> str:
    from osmgraft.operators.similarity import sql_lsh_ann_topk

    return sql_lsh_ann_topk(k=10, dim=64, n_planes=5, n_tables=6)


@register("embedding_lsh_ann", _lsh_ann_oracle)  # lazy (plane literals)
def embedding_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate NN — hash-gated since r4 (the last
    rows-only registry entry): the LSH output is APPROXIMATE relative to
    brute force (recall pinned in tests) but fully DETERMINISTIC given the
    Philox-seeded planes, so the DuckDB twin replays signatures (sequential
    double fold = list_dot_product order), the multi-table bucket union,
    and the exact cosine re-rank on one hash."""
    from osmgraft.operators.similarity import lsh_ann_topk

    emb = read_fixture(spark, sf_dir, "embeddings")
    return lsh_ann_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=10, dim=64, n_planes=5, n_tables=6
    )


def _join_ints(col: str):
    """Gate-layer canonicalization of an array<int> column: a comma-joined
    string.  Array OUTPUT columns are fetch-path-fragile on the oracle
    side (.fetchall() Python list vs .df() numpy array stringify
    differently — caught by the r5 DUCK_FETCH=df registry sweep), the same
    client-side-skew class as HUGEINT; operators keep their array
    semantics, only the registered gate serializes."""
    return F.concat_ws(",", F.transform(F.col(col), lambda x: x.cast("string")))


def _sql_join_ints(expr: str) -> str:
    return f"array_to_string(list_transform({expr}, x -> CAST(x AS VARCHAR)), ',')"


@register("embedding_quantize_int8", None)  # oracle attached below
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (embedding compression, 4x):
    pure JVM expressions, integer-only output, bit-identical DuckDB twin
    (floor(x+0.5) + exactly-specified IEEE division on both engines).
    The gate serializes the code vector to a comma string (_join_ints)."""
    from osmgraft.operators.similarity import quantize_int8

    return quantize_int8(read_fixture(spark, sf_dir, "embeddings")).select(
        "vec_id", _join_ints("q8").alias("q8"), "scale_micro"
    )


from osmgraft.operators.similarity import sql_quantize_int8  # noqa: E402

REGISTRY["embedding_quantize_int8"] = (
    REGISTRY["embedding_quantize_int8"][0],
    f"""SELECT vec_id, {_sql_join_ints('q8')} AS q8, scale_micro
FROM ({sql_quantize_int8()})""",
)


@register("embedding_ivf_ann", None)  # oracle attached below (needs anchor literals)
def embedding_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (the brief's named scale path): seeded coarse quantizer,
    map-only bucket assignment, broadcast probe join (nprobe=4 of 16
    buckets), exact sequential-fold rerank in bucket — HASH-GATED against a
    full DuckDB twin that inlines the identical anchor literals
    (sql_ivf_topk).  Unlike the LSH path this one is exactly reproducible
    cross-engine, so IVF is gated strictly while LSH stays recall-pinned."""
    from osmgraft.operators.similarity import ivf_anchors, ivf_topk

    emb = read_fixture(spark, sf_dir, "embeddings")
    return ivf_topk(
        ensure_min_parallelism(emb),
        emb.filter(F.col("vec_id") < 8),
        anchors=ivf_anchors(64, 16),
        nprobe=4,
        k=10,
    )


from osmgraft.operators.similarity import ivf_anchors as _ivf_anchors  # noqa: E402
from osmgraft.operators.similarity import sql_ivf_topk  # noqa: E402

REGISTRY["embedding_ivf_ann"] = (
    REGISTRY["embedding_ivf_ann"][0],
    sql_ivf_topk(_ivf_anchors(64, 16), nprobe=4, k=10, query_pred="vec_id < 8"),
)


@register("embedding_pq_codes", None)  # oracle attached below (codebook literals)
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode (Jégou et al., TPAMI 2011): 64 dims →
    m=8 subspace codes of ksub=16 against Philox-seeded codebooks — the
    32x embedding compression a 10^12-row ANN scan actually reads.
    Map-only vectorized pandas UDF; hash-gated against a DuckDB twin that
    argmins over the identical codebook literals with the same
    (d2 ASC, code ASC) tie rule."""
    from osmgraft.operators.similarity import pq_codebooks, pq_encode

    emb = read_fixture(spark, sf_dir, "embeddings")
    return pq_encode(emb, pq_codebooks(64, m=8, ksub=16)).select(
        "vec_id", _join_ints("codes").alias("codes")
    )


@register("embedding_pq_ann", None)  # oracle attached below
def embedding_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k (ADC): the code table is the ONLY thing
    scanned (8 ints/row); each query's (m × ksub) exact-subspace-distance
    LUT broadcasts and a candidate costs m lookups + adds in one vectorized
    mapInPandas pass; the sole shuffle is the final per-query top-k window.
    Completes the ANN family: brute-force (exact), LSH (recall-pinned),
    IVF (bucketed exact-rerank), PQ (compressed-domain)."""
    from osmgraft.operators.similarity import pq_adc_topk, pq_codebooks

    emb = read_fixture(spark, sf_dir, "embeddings")
    return pq_adc_topk(
        ensure_min_parallelism(emb),
        emb.filter(F.col("vec_id") < 8),
        pq_codebooks(64, m=8, ksub=16),
        k=10,
    )


from osmgraft.operators.similarity import pq_codebooks as _pq_cb  # noqa: E402
from osmgraft.operators.similarity import sql_pq_adc_topk, sql_pq_encode  # noqa: E402

REGISTRY["embedding_pq_codes"] = (
    REGISTRY["embedding_pq_codes"][0],
    f"""SELECT vec_id, {_sql_join_ints('codes')} AS codes
FROM ({sql_pq_encode(_pq_cb(64, m=8, ksub=16))})""",
)
REGISTRY["embedding_pq_ann"] = (
    REGISTRY["embedding_pq_ann"][0],
    sql_pq_adc_topk(_pq_cb(64, m=8, ksub=16), k=10, query_pred="vec_id < 8"),
)


# --- osmio format surface: XML escape, OPL encode, tag ops, area semantics ---------
from osmgraft.sources.opl import sql_opl_escape  # noqa: E402
from osmgraft.sources.osm_xml import sql_xml_escape, xml_escape  # noqa: E402


@register(
    "xml_escape_docs",
    f"SELECT doc_id, {sql_xml_escape('text')} AS escaped FROM documents",
)
def xml_escape_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S16 (osmio xml/mod.rs:59-71) over the documents table."""
    docs = _docs(spark, sf_dir)
    return docs.select("doc_id", xml_escape(F.col("text")).alias("escaped"))


def _customer_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OSM-node-shaped rows derived deterministically from customer."""
    import datetime as dt

    c = read_fixture(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    return c.select(
        k.alias("id"),
        F.lit(1).alias("version"),
        (k % 7 == 0).alias("deleted"),
        F.col("c_nationkey").cast("int").alias("changeset_id"),
        # NTZ construction — with-zone timestamp_seconds renders through the
        # session timezone in the OPL writer (r5 tz probe)
        _ntz_from_epoch(F.lit(1_300_000_000) + k * 61).alias("timestamp"),
        (k % 1000).cast("int").alias("uid"),
        F.col("c_name").alias("user"),
        F.create_map(F.lit("segment"), F.col("c_mktsegment")).alias("tags"),
        ((k * _A_LAT + _C_LAT) % F.lit(_B_LAT) - F.lit(_B_LAT // 2)).cast("int").alias("lat7"),
        ((k * _A_LON) % F.lit(_B_LON) - F.lit(_B_LON // 2)).cast("int").alias("lon7"),
    )


_CUSTOMER_NODES_SQL = f"""
SELECT c_custkey AS id, 1 AS version, (c_custkey % 7 = 0) AS deleted,
  c_nationkey AS changeset_id,
  to_timestamp(1300000000 + c_custkey * 61) AS timestamp,
  CAST(c_custkey % 1000 AS INTEGER) AS uid, c_name AS "user",
  c_mktsegment AS segment,
  CAST((c_custkey * {_A_LAT} + {_C_LAT}) % {_B_LAT} - {_B_LAT // 2} AS INTEGER) AS lat7,
  CAST((c_custkey * {_A_LON}) % {_B_LON} - {_B_LON // 2} AS INTEGER) AS lon7
FROM customer
""".strip()


def _sql_fixed7(expr: str) -> str:
    return (
        f"(CASE WHEN {expr} < 0 THEN '-' ELSE '' END || "
        f"CAST(abs(CAST({expr} AS BIGINT)) // 10000000 AS VARCHAR) || '.' || "
        f"lpad(CAST(abs(CAST({expr} AS BIGINT)) % 10000000 AS VARCHAR), 7, '0'))"
    )


@register(
    "opl_encode",
    f"""WITH n AS ({_CUSTOMER_NODES_SQL})
SELECT id,
  'n' || CAST(id AS VARCHAR)
  || ' v' || CAST(version AS VARCHAR)
  || ' d' || CASE WHEN deleted THEN 'D' ELSE 'V' END
  || ' c' || CAST(changeset_id AS VARCHAR)
  || ' t' || strftime(timestamp, '%Y-%m-%dT%H:%M:%SZ')
  || ' i' || CAST(uid AS VARCHAR)
  || ' u' || {sql_opl_escape('"user"')}
  || ' Tsegment=' || segment
  || ' x' || {_sql_fixed7('lon7')}
  || ' y' || {_sql_fixed7('lat7')} AS line
FROM n""",
)
def opl_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S18/S19 (osmio opl/mod.rs) — OPL line serialization, oracle-checked."""
    from osmgraft.sources.opl import node_to_opl

    return node_to_opl(_customer_nodes(spark, sf_dir))


@register(
    "tag_ops_events",
    """SELECT event_id,
  CAST(json_extract_string(props, '$.k') AS VARCHAR) AS k_val,
  1 AS n_before, 2 AS n_after,
  (json_extract(props, '$.k') IS NOT NULL) AS has_k
FROM events""",
)
def tag_ops_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4/P5/A1 tag ops (osmio string_types.rs:332-366) over JSON props."""
    from osmgraft.operators.osm import has_tag, num_tags, set_tag

    ev = read_fixture(spark, sf_dir, "events")
    tags = F.from_json(F.col("props"), "map<string,string>")
    return ev.select(
        "event_id",
        tags["k"].alias("k_val"),
        num_tags(tags).alias("n_before"),
        num_tags(set_tag(tags, "source", "events")).alias("n_after"),
        has_tag(tags, "k").alias("has_k"),
    )


@register(
    "area_semantics",
    """SELECT * FROM (VALUES
  (100, false, false), (101, true, true), (102, true, false), (103, true, true)
) AS t(id, closed, area)""",
)
def area_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 golden table (osmio tests.rs:90-165) — engine predicates over the
    4 reference ways; the oracle IS the reference's expected truth table."""
    from osmgraft.operators.osm import is_area, is_closed
    from osmgraft.synth import osm_ways_df

    ways = osm_ways_df(spark)
    return ways.select(
        F.col("id").cast("int").alias("id"),
        is_closed(F.col("nodes")).alias("closed"),
        is_area(F.col("nodes"), F.col("tags")).alias("area"),
    )


# --- multimodal image ops (bytes synthesized Spark-side → rows-only checks) --------
def _n_images(sf_dir: str) -> int:
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    return {"0.001": 300, "0.01": 1000, "0.1": 2000}.get(sf, 1000)


@register("image_stats", None)
def image_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image decode -> exact channel sums + pHash (Arrow kernel over binary
    column). Rows-only here (pixels are Philox-generated, not SQL-derivable);
    the SAME operator is hash-gated end to end on formula pixels by
    image_stats_phash_formula."""
    from osmgraft.operators.multimodal import image_stats
    from osmgraft.synth import synth_images

    return image_stats(synth_images(spark, _n_images(sf_dir)))


_PHF_CAP = 600  # formula images; SQL-capped like the audio fixture


def _sql_image_stats_phash() -> str:
    """DuckDB twin of image_stats over the textured formula fixture — the
    ENTIRE integer pHash pipeline re-derived relationally: BT.601
    milli-luma from the pixel formula, 32x32 half-up box resize (empty
    upsample bins = 0, matching resize_area's clamped count), the 2^16
    fixed-point 32-point DCT-II with the basis computed IN SQL from the
    cosine formula (bit-equal to codec._DCT_M_FX for all 1024 entries —
    np.round half-even vs round() half-away cannot differ: cos of rational
    multiples of pi is irrational except 0,±1/2,±1 by Niven, and those hit
    no .5 case at 2^16 scale), the 63-element exact median (order statistic
    rank 32), the numpy float64-domain bit comparison (CAST AS DOUBLE on
    both sides), and two's-complement 64-bit packing (fi=0 carries -2^63).
    Any decode, resize, DCT, median, or packing bug flips the hash."""
    return f"""
WITH idxs AS (SELECT row_number() OVER () - 1 AS i FROM orders),
imgs AS (SELECT i, 16 + (i % 3) * 8 AS w, 12 + (i % 2) * 6 AS h
         FROM idxs WHERE i < {_PHF_CAP}),
px AS (
  SELECT i, w, h, y.range AS y, x.range AS x,
         (i*37 + y.range*11 + x.range*7 + 13*y.range*x.range) % 256 AS b
  FROM imgs, range(0,32) y, range(0,32) x
  WHERE y.range < h AND x.range < w),
px3 AS (
  SELECT i, w, h, y, x,
         (b+0)%256 AS p0, (b+29)%256 AS p1, (b+58)%256 AS p2
  FROM px),
{_sql_phash_stats_tail()}
SELECT concat('timg', lpad(CAST(s.i AS VARCHAR), 9, '0')) AS image_id,
       CAST(s.sum_r AS BIGINT) AS sum_r, CAST(s.sum_g AS BIGINT) AS sum_g,
       CAST(s.sum_b AS BIGINT) AS sum_b, CAST(p.phash AS BIGINT) AS phash
FROM sums s JOIN ph p ON p.i = s.i"""


def _sql_phash_stats_tail() -> str:
    """Shared CTE-chain fragment of the relational pHash pipeline: consumes
    a preceding CTE ``px3(i, w, h, y, x, p0, p1, p2)`` (dense per-pixel
    rows, one per (image, y, x)) and defines ``sums(i, sum_r, sum_g,
    sum_b)`` and ``ph(i, phash)``.  See _sql_image_stats_phash for the
    numeric-discipline notes (half-up resize, in-SQL cosine basis, rank-32
    median, float64-domain bits, two's-complement packing).  Reused by the
    tile_mosaic_phash_z5 twin over assembled montage canvases."""
    return """lum AS (
  SELECT i, w, h, y, x, 299*p0 + 587*p1 + 114*p2 AS l, p0, p1, p2
  FROM px3),
sums AS (SELECT i, sum(p0) AS sum_r, sum(p1) AS sum_g, sum(p2) AS sum_b
         FROM lum GROUP BY i),
binagg AS (
  SELECT i, (y*32)//h AS yb, (x*32)//w AS xb, sum(l) AS s, count(*) AS c
  FROM lum GROUP BY i, (y*32)//h, (x*32)//w),
grid AS (SELECT di.i, yb.range AS yb, xb.range AS xb
         FROM (SELECT DISTINCT i FROM px3) di, range(0,32) yb, range(0,32) xb),
r AS (
  SELECT g.i, g.yb, g.xb,
         CASE WHEN b.c IS NULL THEN 0 ELSE (2*b.s + b.c) // (2*b.c) END AS v
  FROM grid g LEFT JOIN binagg b ON b.i=g.i AND b.yb=g.yb AND b.xb=g.xb),
m AS (SELECT n.range AS n, k.range AS k,
             CAST(round(cos(pi()/32 * (n.range + 0.5) * k.range) * 65536) AS BIGINT) AS m
      FROM range(0,32) n, range(0,8) k),
s1 AS (
  SELECT r.i, m.k AS k1, r.xb, sum(m.m * r.v) AS v
  FROM r JOIN m ON m.n = r.yb GROUP BY r.i, m.k, r.xb),
d AS (
  SELECT s1.i, s1.k1, m.k AS k2, sum(s1.v * m.m) AS v
  FROM s1 JOIN m ON m.n = s1.xb GROUP BY s1.i, s1.k1, m.k),
flat AS (SELECT i, k1*8 + k2 AS fi, v FROM d),
med AS (
  SELECT i, v AS medv FROM (
    SELECT i, v, row_number() OVER (PARTITION BY i ORDER BY v) AS rn
    FROM flat WHERE fi >= 1) t WHERE rn = 32),
bits AS (
  SELECT f.i, f.fi,
         CASE WHEN CAST(f.v AS DOUBLE) > CAST(m.medv AS DOUBLE) THEN 1 ELSE 0 END AS bit
  FROM flat f JOIN med m ON m.i = f.i),
ph AS (
  SELECT i,
    sum(CASE WHEN fi = 0 AND bit = 1 THEN -9223372036854775808
             WHEN fi > 0 AND bit = 1 THEN (1::BIGINT << (63 - fi))
             ELSE 0 END) AS phash
  FROM bits GROUP BY i)"""


@register("image_stats_phash_formula", _sql_image_stats_phash())
def image_stats_phash_formula(spark: SparkSession, sf_dir: str) -> DataFrame:
    """image_stats hash-gated END TO END (r4 — closes the last rows-only
    image gate class): real raw/ppm/PNG containers of the textured formula
    fixture are decoded by the Arrow batch kernel and reduced to channel
    sums + the 64-bit integer pHash; the DuckDB twin re-derives every
    pixel from the formula and replays the ENTIRE hash pipeline
    relationally (resize, in-SQL cosine DCT basis, fixed-point DCT,
    median, float64-domain bits, two's-complement packing) — see
    _sql_image_stats_phash. One wrong pixel anywhere in decode or one
    wrong coefficient in the hash flips the gate."""
    from osmgraft.operators.multimodal import image_stats
    from osmgraft.synth import synth_textured_images

    n = min(
        read_fixture(spark, sf_dir, "orders").count(), _PHF_CAP
    )
    return image_stats(synth_textured_images(spark, n))


def _sql_tile_mosaic_phash() -> str:
    """DuckDB twin of the GEO-MOSAIC montage pipeline (tile_mosaic_phash_z5):
    re-derives per z5 tile the rank-ordered top-64 pick (row_number over
    image_id ≡ idx for the fixed-width ids), each pick's 8×8 per-channel
    half-up area thumbnail straight from the pixel formula, the row-major
    canvas placement (rk-1 = (y//8)*8 + x//8), dense 64×64 zero-fill, and
    then the FULL relational pHash/stats pipeline over the canvases via
    the shared tail — so tile assignment, pick order, thumbnail resize,
    placement arithmetic, the PNG encode∘decode roundtrip and the hash all
    sit on one value hash."""
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("i")
    tx = tiles.sql_tile_x("lon7", 5)
    ty = tiles.sql_tile_y("lat7", 5)
    return f"""
WITH idxs AS (SELECT row_number() OVER () - 1 AS i FROM orders),
imgs0 AS (SELECT i, 16 + (i % 3) * 8 AS w, 12 + (i % 2) * 6 AS h
          FROM idxs WHERE i < {_PHF_CAP}),
geo AS (SELECT i, w, h, {lat} AS lat7, {lon} AS lon7 FROM imgs0),
tiled AS (SELECT i, w, h, {tx} AS tx, {ty} AS ty FROM geo),
ranked AS (SELECT * FROM (
    SELECT i, w, h, tx, ty,
           row_number() OVER (PARTITION BY tx, ty ORDER BY i) AS rk
    FROM tiled) t WHERE rk <= 64),
tpx AS (
  SELECT r.tx, r.ty, r.rk, r.i, r.w, r.h, y.range AS y, x.range AS x,
         (r.i*37 + y.range*11 + x.range*7 + 13*y.range*x.range) % 256 AS b
  FROM ranked r, range(0,32) y, range(0,32) x
  WHERE y.range < r.h AND x.range < r.w),
tb AS (
  SELECT tx, ty, rk, (y*8)//h AS yb, (x*8)//w AS xb,
         (2*sum((b+0)%256) + count(*)) // (2*count(*)) AS p0,
         (2*sum((b+29)%256) + count(*)) // (2*count(*)) AS p1,
         (2*sum((b+58)%256) + count(*)) // (2*count(*)) AS p2
  FROM tpx GROUP BY tx, ty, rk, (y*8)//h, (x*8)//w),
keys AS (SELECT tx, ty, count(*) AS n_images FROM ranked GROUP BY tx, ty),
cgrid AS (SELECT k.tx, k.ty, cy.range AS y, cx.range AS x
          FROM keys k, range(0,64) cy, range(0,64) cx),
px3 AS (
  SELECT g.tx*1024 + g.ty AS i, 64 AS w, 64 AS h, g.y, g.x,
         COALESCE(t.p0, 0) AS p0, COALESCE(t.p1, 0) AS p1, COALESCE(t.p2, 0) AS p2
  FROM cgrid g LEFT JOIN tb t
    ON t.tx = g.tx AND t.ty = g.ty
   AND t.rk = (g.y // 8) * 8 + (g.x // 8) + 1
   AND t.yb = g.y % 8 AND t.xb = g.x % 8),
{_sql_phash_stats_tail()}
SELECT concat('mz', CAST(s.i // 1024 AS VARCHAR), '_', CAST(s.i % 1024 AS VARCHAR)) AS image_id,
       CAST(k.n_images AS BIGINT) AS n_images,
       CAST(s.sum_r AS BIGINT) AS sum_r, CAST(s.sum_g AS BIGINT) AS sum_g,
       CAST(s.sum_b AS BIGINT) AS sum_b, CAST(p.phash AS BIGINT) AS phash
FROM sums s JOIN ph p ON p.i = s.i
JOIN keys k ON k.tx*1024 + k.ty = s.i"""


@register("tile_mosaic_phash_z5", _sql_tile_mosaic_phash)  # lazy (synth import)
def tile_mosaic_phash_z5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The photo-map montage pipeline hash-gated END TO END (r4): textured
    formula images get deterministic geo tags, operators/raster.mosaic_tiles
    assigns them to z5 tiles, picks each tile's 64 lowest ids BEFORE any
    decode (WindowGroupLimit), decodes the raw/ppm/PNG payloads, area-
    resizes to 8×8 thumbnails, places them row-major on a 64×64 canvas and
    PNG-encodes it; the canvases then roundtrip through image_stats
    (decode → channel sums + integer pHash).  The DuckDB twin re-derives
    canvases pixel-by-pixel from the formula and replays the hash
    relationally (_sql_tile_mosaic_phash) — placement off by one cell,
    a wrong pick order, resize bin, or canvas byte flips the gate."""
    from osmgraft.operators.multimodal import image_stats
    from osmgraft.operators.raster import mosaic_tiles
    from osmgraft.synth import latlon_of_key, synth_textured_images

    n = min(read_fixture(spark, sf_dir, "orders").count(), _PHF_CAP)
    imgs = synth_textured_images(spark, n)
    idx = F.substring("image_id", 5, 9).cast("long")
    lat, lon = latlon_of_key(idx)
    geo = imgs.select("*", lat.alias("lat7"), lon.alias("lon7"))
    mz = mosaic_tiles(geo, z=5)
    canv = mz.select(
        F.concat(
            F.lit("mz"), F.col("tx").cast("string"),
            F.lit("_"), F.col("ty").cast("string"),
        ).alias("image_id"),
        F.col("png").alias("bytes"),
        F.lit(64).cast("int").alias("w"),
        F.lit(64).cast("int").alias("h"),
        F.lit("png").alias("fmt"),
        F.col("n_images").cast("long").alias("n_images"),
    ).localCheckpoint()  # consumed twice (stats + n_images join)
    return image_stats(canv).join(canv.select("image_id", "n_images"), "image_id")


def _sql_tile_render_png_phash() -> str:
    """DuckDB twin of the heat-raster tile-server pipeline
    (tile_render_png_phash_z10): z13 counts → per-z10-parent 8×8 raster,
    intensity = (cnt·255) // tile-max (pure integer), nearest-neighbor
    8× upscale (pixel (y, x) reads cell (y//8, x//8)), gray RGB — then the
    shared relational pHash/stats tail over the dense 64×64 canvases.
    Gates rasterize + PNG encode∘decode + hash on one value hash."""
    tx = tiles.sql_tile_x("lon7", 13)
    ty = tiles.sql_tile_y("lat7", 13)
    return f"""
WITH pts AS ({_PTS}),
c13 AS (SELECT {tx} AS tx, {ty} AS ty, count(*) AS cnt FROM pts GROUP BY 1, 2),
pc AS (SELECT tx // 8 AS ptx, ty // 8 AS pty, tx % 8 AS sx, ty % 8 AS sy, cnt
       FROM c13),
mx AS (SELECT ptx, pty, max(cnt) AS mxc, sum(cnt) AS n_points
       FROM pc GROUP BY ptx, pty),
cells AS (SELECT p.ptx, p.pty, p.sx, p.sy,
                 (p.cnt * 255) // GREATEST(m.mxc, 1) AS v
          FROM pc p JOIN mx m ON m.ptx = p.ptx AND m.pty = p.pty),
cgrid AS (SELECT k.ptx, k.pty, y.range AS y, x.range AS x
          FROM mx k, range(0,64) y, range(0,64) x),
px3 AS (
  SELECT g.ptx*1024 + g.pty AS i, 64 AS w, 64 AS h, g.y, g.x,
         COALESCE(c.v, 0) AS p0, COALESCE(c.v, 0) AS p1, COALESCE(c.v, 0) AS p2
  FROM cgrid g LEFT JOIN cells c
    ON c.ptx = g.ptx AND c.pty = g.pty
   AND c.sy = g.y // 8 AND c.sx = g.x // 8),
{_sql_phash_stats_tail()}
SELECT concat('hz', CAST(s.i // 1024 AS VARCHAR), '_', CAST(s.i % 1024 AS VARCHAR)) AS image_id,
       CAST(k.n_points AS BIGINT) AS n_points,
       CAST(s.sum_r AS BIGINT) AS sum_r, CAST(s.sum_g AS BIGINT) AS sum_g,
       CAST(s.sum_b AS BIGINT) AS sum_b, CAST(p.phash AS BIGINT) AS phash
FROM sums s JOIN ph p ON p.i = s.i
JOIN mx k ON k.ptx*1024 + k.pty = s.i"""


@register("tile_render_png_phash_z10", _sql_tile_render_png_phash)  # lazy
def tile_render_png_phash_z10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raster tile-server materialization hash-gated END TO END (r4):
    render_tile_pngs rasterizes z13 counts per z10 parent (integer heat
    scaling, NN upscale, gray RGB, real PNG encode) and the PNGs roundtrip
    through image_stats; the twin recomputes every raster pixel
    relationally and replays the shared pHash tail.  Complements
    tile_render_png_z10 (which stays rows-only on the legally-zlib-varying
    container length) by pinning the decoded CONTENT cross-engine."""
    from osmgraft.operators.multimodal import image_stats
    from osmgraft.operators.raster import render_tile_pngs

    pts = points_from_orders(spark, sf_dir)
    counts = (
        pts.select(
            tiles.tile_x(F.col("lon7"), 13).alias("tx"),
            tiles.tile_y(F.col("lat7"), 13).alias("ty"),
        )
        .groupBy("tx", "ty")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    rz = render_tile_pngs(counts, z=13, parent_z=10, size=64)
    canv = rz.select(
        F.concat(
            F.lit("hz"), F.col("tx").cast("string"),
            F.lit("_"), F.col("ty").cast("string"),
        ).alias("image_id"),
        F.col("png").alias("bytes"),
        F.lit(64).cast("int").alias("w"),
        F.lit(64).cast("int").alias("h"),
        F.lit("png").alias("fmt"),
        F.col("n_points").cast("long").alias("n_points"),
    ).localCheckpoint()  # consumed twice (stats + n_points join)
    return image_stats(canv).join(canv.select("image_id", "n_points"), "image_id")


def _sql_tile_render_mvt_roundtrip() -> str:
    tx = tiles.sql_tile_x("lon7", 13)
    ty = tiles.sql_tile_y("lat7", 13)
    return f"""
WITH pts AS ({_PTS}),
c13 AS (SELECT {tx} AS tx, {ty} AS ty, count(*) AS cnt FROM pts GROUP BY 1, 2)
SELECT CAST(10 AS INTEGER) AS z, tx // 8 AS tx, ty // 8 AS ty,
       CAST((tx % 8) * 512 + 256 AS INTEGER) AS x,
       CAST((ty % 8) * 512 + 256 AS INTEGER) AS y,
       CAST(cnt AS BIGINT) AS cnt
FROM c13"""


@register("tile_render_mvt_roundtrip_z10", _sql_tile_render_mvt_roundtrip())
def tile_render_mvt_roundtrip_z10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-layer vector-tile write/read symmetry, hash-gated (r4 —
    completes the MVT roundtrip family: lines z6, polygons z8, points
    z10): z13 counts encode per z10 parent as real MVT POINT features at
    sub-cell centers (render_tile_mvt) and the generic wire parser
    (mvt_features) decodes them back in a separate distributed pass; the
    twin states the expected features in closed form (x = sx·512 + 256,
    extent 4096 over an 8×8 grid), so a zigzag, command-integer, or
    attribute-encoding bug flips the hash.  The rows-only
    tile_render_mvt_z10 keeps pinning container length in pytest."""
    from osmgraft.operators.raster import mvt_features, render_tile_mvt

    pts = points_from_orders(spark, sf_dir)
    counts = (
        pts.select(
            tiles.tile_x(F.col("lon7"), 13).alias("tx"),
            tiles.tile_y(F.col("lat7"), 13).alias("ty"),
        )
        .groupBy("tx", "ty")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return mvt_features(render_tile_mvt(counts, z=13, parent_z=10))


@register(
    "audio_window_energy",
    """WITH idxs AS (SELECT row_number() OVER () - 1 AS i FROM orders),
capped AS (SELECT i FROM idxs WHERE i < 300),
s AS (SELECT i, t.range AS t,
             ((i * 1103515245 + t.range * 12345 + 42) % 65536) - 32768 AS v
      FROM capped, range(0, 1024) t)
SELECT concat('aud', lpad(CAST(i AS VARCHAR), 9, '0')) AS media_id,
       CAST(t // 256 AS INTEGER) AS window_idx,
       CAST(sum(v * v) AS BIGINT) AS energy
FROM s GROUP BY 1, 2""",
)
def audio_window_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL RIFF/PCM16 WAV decode (round 3 — the r2 audio stub is gone) +
    per-window integer energy, hash-gated: the fixture's samples are pure
    integer arithmetic the DuckDB oracle regenerates, so a wrong header
    offset, byte order, or window split breaks the hash. The Spark side
    parses genuine WAV containers via the Arrow flat-buffer kernel
    (operators/multimodal.audio_window_energy, decoder='wav')."""
    from osmgraft.operators.multimodal import audio_window_energy as awe
    from osmgraft.synth import synth_audio

    n = min(read_fixture(spark, sf_dir, "orders").count(), 300)
    return awe(synth_audio(spark, n), window=256, decoder="wav")


@register(
    "audio_dft_bins",
    """WITH idxs AS (SELECT row_number() OVER () - 1 AS i FROM orders),
capped AS (SELECT i FROM idxs WHERE i < 300),
s AS (SELECT i, t.range AS t,
             ((i * 1103515245 + t.range * 12345 + 42) % 65536) - 32768 AS v
      FROM capped, range(0, 1024) t),
k(b) AS (VALUES (3), (5), (9)),
q AS (SELECT i, b, v,
  CAST(round(cos(2.0 * pi() * b * t / 1024.0) * 32768.0) AS BIGINT) AS cq,
  CAST(round(sin(2.0 * pi() * b * t / 1024.0) * 32768.0) AS BIGINT) AS sq
  FROM s, k)
SELECT concat('aud', lpad(CAST(i AS VARCHAR), 9, '0')) AS media_id,
       CAST(b AS INTEGER) AS bin,
       CAST(sum(v * cq) AS BIGINT) AS re_q,
       CAST(sum(v * sq) AS BIGINT) AS im_q
FROM q GROUP BY 1, 2""",
)
def audio_dft_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral features over REAL WAV decode: integer-quantized DFT bins
    (basis rounded at 2^-15 — 11 orders above libm ulp divergence, so the
    per-bin int64 sums are associative and cross-engine exact).  The DuckDB
    twin regenerates the PCM samples arithmetically and quantizes the same
    basis; Spark parses genuine RIFF containers."""
    from osmgraft.operators.multimodal import audio_dft_bins as adb
    from osmgraft.synth import synth_audio

    n = min(read_fixture(spark, sf_dir, "orders").count(), 300)
    return adb(synth_audio(spark, n), bins=(3, 5, 9), n_samples=1024)


def _sql_pyramid() -> str:
    from osmgraft.operators.multimodal import sql_image_pyramid_energies

    return sql_image_pyramid_energies(
        "SELECT idx FROM (SELECT row_number() OVER () - 1 AS idx FROM orders) "
        "WHERE idx < 250"
    )


@register("image_pyramid_energies", _sql_pyramid())
def image_pyramid_energies_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Gaussian/Laplacian pyramid step per image (operators/
    multimodal.image_pyramid_energies, Burt & Adelson 1983): separable
    integer 5-tap binomial (clamp-to-edge, pinned //16 per pass), 2×
    subsample, nearest-upsample Laplacian residual — level-1 moments and
    residual energies on one hash.  The DuckDB twin rebuilds BOTH filter
    passes relationally from the closed-form pixels, so decode, the two
    floor divisions, the subsample grid and the residual algebra are all
    gated.  The scale-space member of the image family (beside Haar's
    orthogonal subbands — the pyramid is the overcomplete one CV
    pipelines actually downsample with).

    100 TB: map-only mapInArrow, five clamped gathers + reduces per
    chunk, no shuffle."""
    from osmgraft.operators.multimodal import image_pyramid_energies
    from osmgraft.synth import synth_formula_images

    n = min(read_fixture(spark, sf_dir, "orders").count(), 250)
    imgs = ensure_min_parallelism(synth_formula_images(spark, n))
    return image_pyramid_energies(imgs)


def _sql_brief_match() -> str:
    from osmgraft.operators.multimodal import sql_brief_match_pairs

    return sql_brief_match_pairs(
        "SELECT idx FROM (SELECT row_number() OVER () - 1 AS idx FROM orders) "
        "WHERE idx < 250"
    )


@register("image_brief_match", _sql_brief_match())
def image_brief_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ORB-recipe matching pipeline end to end (operators/multimodal.
    brief_match_pairs; Rosten & Drummond 2006 + Calonder et al. 2010):
    FAST-9 corners → BRIEF-16 binary descriptors at each corner →
    per-image distinct descriptor sets → image pairs sharing ≥ 3
    descriptor values via the sub-linear bucket join on the descriptor
    value (never an all-pairs image join).  Runs on the TEXTURED
    fixture (synth_textured_images — a y·x cross term gives corners
    position-dependent context, so the 16-bit vocabulary spans
    thousands of words and matches are selective, ~8 % of pairs) —
    detector masks, the 9-rotation run test, all 16 comparisons, set
    semantics and the bucket join on one hash.

    100 TB: map-only extraction; one shuffle on the 16-bit descriptor;
    hot-bucket skew is the standard banding trade (documented)."""
    from osmgraft.operators.multimodal import brief_match_pairs
    from osmgraft.synth import synth_textured_images

    n = min(read_fixture(spark, sf_dir, "orders").count(), 250)
    return brief_match_pairs(ensure_min_parallelism(synth_textured_images(spark, n)))


def _sql_colorfulness() -> str:
    from osmgraft.operators.multimodal import sql_image_colorfulness

    return sql_image_colorfulness(
        "SELECT idx FROM (SELECT row_number() OVER () - 1 AS idx FROM orders) "
        "WHERE idx < 250"
    )


@register("image_colorfulness", _sql_colorfulness())
def image_colorfulness_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hasler–Süsstrunk colorfulness moments per image (operators/
    multimodal.image_colorfulness, SPIE 2003): exact opponent-axis
    moment parts (rg = R−G, yb2 = R+G−2B) over real container decode,
    with the colorful/drab class decided by the metric's variance term
    cross-multiplied at σ = 24 — the image-curation quality filter
    beside text's readability/fluency scores.

    100 TB: map-only mapInArrow, no shuffle."""
    from osmgraft.operators.multimodal import image_colorfulness
    from osmgraft.synth import synth_formula_images

    n = min(read_fixture(spark, sf_dir, "orders").count(), 250)
    return image_colorfulness(ensure_min_parallelism(synth_formula_images(spark, n)))


def _sql_blur() -> str:
    from osmgraft.operators.multimodal import sql_image_blur_metric

    return sql_image_blur_metric(
        "SELECT idx FROM (SELECT row_number() OVER () - 1 AS idx FROM orders) "
        "WHERE idx < 250"
    )


@register("image_blur_metric", _sql_blur())
def image_blur_metric_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blur detection per image (operators/multimodal.image_blur_metric,
    Pech-Pacheco et al. ICPR 2000): exact integer 4-neighbor Laplacian
    moments over real decode, blurry/sharp by the cross-multiplied
    variance cut — the focus member of the image-QA trio
    (colorfulness → color cast, histogram → exposure, Laplacian →
    blur).

    100 TB: map-only mapInArrow, four shifted subtractions."""
    from osmgraft.operators.multimodal import image_blur_metric
    from osmgraft.synth import synth_formula_images

    n = min(read_fixture(spark, sf_dir, "orders").count(), 250)
    return image_blur_metric(ensure_min_parallelism(synth_formula_images(spark, n)))


def _sql_clipping() -> str:
    from osmgraft.operators.multimodal import sql_audio_clipping_stats

    return sql_audio_clipping_stats(
        "SELECT idx FROM (SELECT row_number() OVER () - 1 AS idx FROM orders) "
        "WHERE idx < 300"
    )


@register("audio_clipping_stats", _sql_clipping())
def audio_clipping_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio QA scan over REAL WAV decode (operators/multimodal.
    audio_clipping_stats): exact peak, rails-clipped sample count,
    DC-offset sum, energy, and the pinned clipped/hot/ok class
    (100·n_clip ≥ n cross-multiplied) — the loudness/clipping filter an
    audio-curation pipeline runs before training.

    100 TB: map-only mapInPandas, no shuffle."""
    from osmgraft.operators.multimodal import audio_clipping_stats
    from osmgraft.synth import synth_audio

    n = min(read_fixture(spark, sf_dir, "orders").count(), 300)
    return audio_clipping_stats(synth_audio(spark, n))


def _sql_onset_flux() -> str:
    from osmgraft.operators.multimodal import sql_audio_onset_flux

    return sql_audio_onset_flux(
        "SELECT idx FROM (SELECT row_number() OVER () - 1 AS idx FROM orders) "
        "WHERE idx < 300"
    )


@register("audio_onset_flux", _sql_onset_flux())
def audio_onset_flux_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Onset detection by half-wave-rectified spectral flux over REAL WAV
    decode (operators/multimodal.audio_onset_flux; Masri 1996 / Bello et
    al. 2005): windowed integer-quantized DFT powers, flux_t =
    Σ_k max(0, p_t[k] − p_{t−1}[k]), and the pinned 3/2×-jump onset rule
    cross-multiplied in exact integers.  The DuckDB twin regenerates the
    PCM arithmetically and walks the same quantized STFT + lag — the MIR
    event-segmentation companion to audio_dft_bins (global spectrum) and
    audio_window_energy (time envelope).

    100 TB: map-only stacked einsum per batch; one lag window per clip
    is computed inside the kernel, so the plan has NO shuffle at all."""
    from osmgraft.operators.multimodal import audio_onset_flux
    from osmgraft.synth import synth_audio

    n = min(read_fixture(spark, sf_dir, "orders").count(), 300)
    return audio_onset_flux(synth_audio(spark, n))


@register(
    "video_frame_luma",
    """WITH idxs AS (SELECT row_number() OVER () - 1 AS i FROM orders),
clips AS (SELECT i, 4 + i % 3 AS nf FROM idxs WHERE i < 300),
sel AS (SELECT i, (k.range * (nf - 1)) // 2 AS frame_idx
        FROM clips, range(0, 3) k),
px AS (SELECT i, frame_idx,
              (i * 31 + frame_idx * 17 + y.range * 5 + x.range * 3) % 256 AS v
       FROM sel, range(0, 16) y, range(0, 16) x)
SELECT concat('vid', lpad(CAST(i AS VARCHAR), 12, '0')) AS media_id,
       CAST(frame_idx AS INTEGER) AS frame_idx,
       CAST(sum(v) AS BIGINT) AS luma_sum
FROM px GROUP BY 1, 2""",
)
def video_frame_luma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL YUV4MPEG2 video decode (round 3 — the r2 video stub is gone) +
    evenly-spread frame sampling + per-frame integer luma sums, hash-gated:
    the fixture's luma planes are pure integer arithmetic the DuckDB oracle
    regenerates pixel-by-pixel, so a wrong header scan, frame stride,
    FRAME-marker offset or sampling index breaks the hash. Clip lengths
    vary (4-6 frames) so the decode exercises the per-row path; the
    uniform one-reshape fast path is pinned equal in pytest."""
    from osmgraft.operators.multimodal import video_frame_sample
    from osmgraft.synth import synth_videos

    n = min(read_fixture(spark, sf_dir, "orders").count(), 300)
    frames = video_frame_sample(synth_videos(spark, n), frames_per_clip=3)
    return frames.select("media_id", "frame_idx", "luma_sum")


@register(
    "video_scene_cuts",
    """WITH idxs AS (SELECT row_number() OVER () - 1 AS i FROM orders),
clips AS (SELECT i, 4 + i % 3 AS nf FROM idxs WHERE i < 300),
d AS (
  SELECT c.i, f.range AS f,
         sum(abs(((c.i * 31 + f.range * 17 + y.range * 5 + x.range * 3) % 256)
               - ((c.i * 31 + (f.range - 1) * 17 + y.range * 5 + x.range * 3) % 256))) AS delta
  FROM clips c
  JOIN range(1, 6) f ON f.range < c.nf
  CROSS JOIN range(0, 16) y CROSS JOIN range(0, 16) x
  GROUP BY c.i, f.range)
SELECT concat('vid', lpad(CAST(i AS VARCHAR), 12, '0')) AS media_id,
       CAST(f AS INTEGER) AS f, CAST(delta AS BIGINT) AS delta,
       (1000 * delta > 30000 * 256) AS cut
FROM d""",
)
def video_scene_cuts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection over REAL y4m decode
    (operators/multimodal.video_scene_cuts): per consecutive frame pair,
    the exact int64 total |Δluma| plus an integer cross-multiplied
    mean-change threshold flag.  The DuckDB twin re-derives every frame
    difference from the closed-form luma formula — decode, frame stride,
    the diff stencil and the threshold algebra are all on the hash."""
    from osmgraft.operators.multimodal import video_scene_cuts
    from osmgraft.synth import synth_videos

    n = min(read_fixture(spark, sf_dir, "orders").count(), 300)
    return video_scene_cuts(synth_videos(spark, n))


@register("image_phash_neardup", None)
def image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pHash banded near-duplicate image pairs (JVM-only banding join)."""
    from osmgraft.operators.multimodal import phash_near_dup_pairs
    from osmgraft.synth import synth_images

    return phash_near_dup_pairs(synth_images(spark, _n_images(sf_dir)), max_hamming=8)


@register(
    "image_roundtrip_fidelity",
    """WITH idxs AS (SELECT row_number() OVER () - 1 AS idx FROM orders),
capped AS (SELECT idx FROM idxs WHERE idx < 2000),
legs AS (
  SELECT 'parquet' AS leg, idx FROM capped
  UNION ALL
  SELECT 'transcode' AS leg, idx FROM capped WHERE (idx + idx // 25) % 5 NOT IN (2, 4)
  UNION ALL
  SELECT 'transcode_jpeg' AS leg, idx FROM capped WHERE (idx + idx // 25) % 5 NOT IN (2, 4)
)
SELECT leg,
       concat('img', lpad(CAST(idx AS VARCHAR), 12, '0')) AS image_id,
       TRUE AS caption_ok,
       (leg = 'parquet') AS pixels_exact,
       TRUE AS psnr_ok
FROM legs""",
)
def image_roundtrip_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule per-row invariant, exercised end to end (input_hint:
    "decoded-pixel allclose (PSNR≥40 for lossy) + caption equality"), the
    DataFrame restatement of osmio's roundtrip discipline (E2,
    xml/mod.rs:565-597):

    - leg 'parquet': images → parquet write → read-back, per-row fidelity vs
      the originals — lossless storage, so every row must be pixel-exact with
      equal captions.
    - leg 'transcode': lossless-format rows re-encoded to the real lossy
      ``qdct`` codec (q=4 → ~46.9 dB quantization noise), per-row fidelity vs
      the originals — NO row may be pixel-exact, every row must clear the
      40 dB bar with equal captions.
    - leg 'transcode_jpeg': the same lossless rows through the REAL baseline
      JPEG codec (functions/jpeg.py, q=98 → ~43 dB even on white noise, the
      worst case for a DCT coder) — same per-row invariant on an actual
      interchange format.

    The oracle is the *specification*: DuckDB cannot decode images, but every
    output cell (which rows exist per leg, exactness per leg, the PSNR bar,
    caption equality) is provable from the synth construction, so any decode,
    transcode, join, or caption bug flips a boolean and fails the hash.
    Pixel decode is the same Arrow-buffer batch kernel as image_stats; the
    only Python is batched numpy."""
    import tempfile

    from osmgraft.operators.multimodal import (
        roundtrip_fidelity,
        transcode_jpeg,
        transcode_qdct,
    )
    from osmgraft.synth import synth_images

    n = min(read_fixture(spark, sf_dir, "orders").count(), 2000)
    imgs = synth_images(spark, n)
    # deterministic path + overwrite: repeated gate/plan runs reuse one dir
    # instead of leaking a fresh mkdtemp per call
    out = os.path.join(tempfile.gettempdir(), f"osmgraft_fid_{n}")
    imgs.write.mode("overwrite").parquet(out)
    leg_a = roundtrip_fidelity(imgs, spark.read.parquet(out)).withColumn(
        "leg", F.lit("parquet")
    )
    src = imgs.filter(~F.col("fmt").isin("qdct", "jpeg"))
    leg_b = roundtrip_fidelity(src, transcode_qdct(src, q=4)).withColumn(
        "leg", F.lit("transcode")
    )
    leg_c = roundtrip_fidelity(src, transcode_jpeg(src, quality=98)).withColumn(
        "leg", F.lit("transcode_jpeg")
    )
    return leg_a.unionByName(leg_b).unionByName(leg_c).select(
        "leg", "image_id", "caption_ok", "pixels_exact", "psnr_ok"
    )


@register(
    "image_header_scan",
    """WITH idxs AS (SELECT row_number() OVER () - 1 AS idx FROM orders),
capped AS (SELECT idx FROM idxs WHERE idx < 2000),
base AS (
  SELECT idx,
         CASE WHEN idx % 50 = 49 AND idx > 0 THEN idx - 1 ELSE idx END AS src,
         (ARRAY['raw','ppm','qdct','png','jpeg'])[CAST((idx + idx // 25) % 5 AS INTEGER) + 1] AS fmt
  FROM capped),
dims AS (
  SELECT idx, fmt,
         (ARRAY[16,32,64])[CAST(src % 3 AS INTEGER) + 1] AS w,
         (ARRAY[16,32,64])[CAST((src // 3) % 3 AS INTEGER) + 1] AS h
  FROM base)
SELECT concat('img', lpad(CAST(idx AS VARCHAR), 12, '0')) AS image_id,
       fmt,
       TRUE AS magic_ok,
       TRUE AS len_ok,
       CAST(CASE WHEN fmt = 'raw' THEN -1 ELSE w END AS BIGINT) AS hdr_w,
       CAST(CASE WHEN fmt = 'raw' THEN -1 ELSE h END AS BIGINT) AS hdr_h,
       TRUE AS dims_ok
FROM dims""",
)
def image_header_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-header validation (operators/multimodal.header_scan): magic,
    length contract and header-declared dims parsed from the binary column by
    pure JVM hex/substring/conv expressions — the frame-before-payload
    discipline of the reference's blob reader (S1, stringpbf/mod.rs:61-87) as
    a codegen'd lake-ingestion scan.

    Spec-as-oracle: DuckDB cannot parse blobs, but the synth construction
    makes every output cell provable in closed form (which fmt each idx gets,
    its w/h, that headers are well-formed). Any encoder or parser drift —
    wrong PNG IHDR offsets, a bad little-endian swap, a broken ppm regex —
    flips hdr_w/hdr_h/dims_ok and fails the hash."""
    from osmgraft.operators.multimodal import header_scan
    from osmgraft.synth import synth_images

    n = min(read_fixture(spark, sf_dir, "orders").count(), 2000)
    hs = header_scan(synth_images(spark, n))
    # headerless formats report -1 dims, never NULL (fetch-invariance rule)
    return hs.withColumn(
        "hdr_w", F.coalesce(F.col("hdr_w").cast("long"), F.lit(-1))
    ).withColumn("hdr_h", F.coalesce(F.col("hdr_h").cast("long"), F.lit(-1)))


# --- checkpoint/resume (north-rule lineage path) -----------------------------------
@register(
    "checkpointed_pip_tiles",
    f"""WITH pts AS ({_PTS}),
{sql_pip_predicate(ADMIN_BOUNDARIES)}
SELECT boundary_id, {tiles.sql_tile_x('lon7', 7)} AS tx, {tiles.sql_tile_y('lat7', 7)} AS ty,
       count(*) AS cnt
FROM pts JOIN pip USING (point_id)
GROUP BY boundary_id, tx, ty""",
)
def checkpointed_pip_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship pipeline executed through the Checkpointer in multiple
    file-batches (crash-resumable, lineage-manifested) — must hash-match the
    same oracle as the direct single-shot plan, proving batching + resume is
    a physical rewrite only. Integer counts re-aggregate exactly."""
    import tempfile

    from osmgraft.checkpoint import Checkpointer
    from osmgraft.synth import points_projection

    in_dir = tempfile.mkdtemp(prefix="osmgraft_ckpt_in_")
    out_dir = tempfile.mkdtemp(prefix="osmgraft_ckpt_out_")
    (
        read_fixture(spark, sf_dir, "orders")
        .repartition(6, "o_orderkey")
        .write.mode("overwrite")
        .parquet(in_dir)
    )

    def transform(orders: DataFrame) -> DataFrame:
        joined = pip_join(
            points_projection(ensure_min_parallelism(orders)), ADMIN_BOUNDARIES, how="inner"
        )
        return (
            joined.select(
                "boundary_id",
                tiles.tile_x(F.col("lon7"), 7).alias("tx"),
                tiles.tile_y(F.col("lat7"), 7).alias("ty"),
            )
            .groupBy("boundary_id", "tx", "ty")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    ck = Checkpointer(out_dir, files_per_batch=2)
    ck.run(spark, in_dir, transform)
    return (
        ck.output(spark)
        .groupBy("boundary_id", "tx", "ty")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


# --- J1: way→node location resolution (osmio nodestore.rs:27-64) ----------------
@register(
    "way_nodes_resolution",
    f"""WITH pts AS ({_PTS})
SELECT o.o_custkey AS way_id, count(*) AS n_nodes,
       min(p.lat7) AS lat_min, max(p.lat7) AS lat_max,
       min(p.lon7) AS lon_min, max(p.lon7) AS lon_max
FROM orders o JOIN pts p ON p.point_id = o.o_orderkey
GROUP BY way_id""",
)
def way_nodes_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's vestigial NodeStore (osmio nodestore.rs:27-64) is a
    random-access node_id→(lat,lon) lookup used to resolve way geometry; the
    Spark-native form is build-way-arrays → explode → distributed equi-join
    on node id → re-aggregate per way (bbox here). The oracle is the
    join-only equivalent, so the collect_list→explode path must be lossless.

    Scale: explode(ways.nodes) has one row per way-node reference (for OSM,
    ~8x ways); the join shuffles both sides on node id — at 100 TB this is
    the classic sort-merge case, and Parquet min/max on the id-sorted node
    table prunes row groups for selective way subsets."""
    orders = read_fixture(spark, sf_dir, "orders")
    pts = points_from_orders(spark, sf_dir)
    ways = orders.groupBy(F.col("o_custkey").alias("way_id")).agg(
        F.sort_array(F.collect_list("o_orderkey")).alias("nodes")
    )
    refs = ways.select("way_id", F.explode("nodes").alias("node_id"))
    resolved = refs.join(pts, refs.node_id == pts.point_id)
    return resolved.groupBy("way_id").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("lat7").alias("lat_min"),
        F.max("lat7").alias("lat_max"),
        F.min("lon7").alias("lon_min"),
        F.max("lon7").alias("lon_max"),
    )


_G = 50_000_000
_NCL = lon_cells(_G)


def _sql_cell_cols(lat: str, lon: str) -> str:
    clat, clon = sql_grid_yx(lat, lon, _G)
    return f"{clat} AS clat, {clon} AS clon"


@register(
    "knn_h3_rings_k5",
    f"""WITH pts AS ({_PTS}),
q AS (SELECT CAST(n_nationkey AS BIGINT) AS query_id,
             CAST({_QLAT} AS INTEGER) AS qlat7, CAST({_QLON} AS INTEGER) AS qlon7
      FROM nation)
SELECT query_id, neighbor_id, dist2, CAST(rank AS INTEGER) AS rank FROM (
  SELECT q.query_id, p.point_id AS neighbor_id, {_D2} AS dist2,
         row_number() OVER (PARTITION BY q.query_id ORDER BY {_D2}, p.point_id) AS rank
  FROM q CROSS JOIN pts p
  WHERE {_D2} <= CAST(25000000 AS BIGINT) * 25000000) t
WHERE rank <= 5""",
)
def knn_h3_rings_k5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN via REAL H3 cell-neighbor ring expansion (the north star's literal
    wording, on Uber-compatible ids): each query explodes into the gridDisk
    sized to provably cover the 2.5-degree metric ball, candidates
    equi-join on cell id, the exact wrap-aware integer metric filters to
    the ball, a window ranks.  Ball semantics keep the DuckDB twin plain
    SQL (rank among points with dist2 <= r^2) even though H3 adjacency is
    not SQL-expressible — the disk is a proven superset, so both sides see
    identical candidate sets after the metric filter."""
    from osmgraft.operators.knn import knn_h3_ball

    pts = points_from_orders(spark, sf_dir)
    return knn_h3_ball(
        pts, _knn_queries_df(spark, sf_dir), k=5, radius7=25_000_000, res=4
    ).select("query_id", "neighbor_id", "dist2", "rank")


@register(
    "knn_radius2_k5",
    f"""WITH pts AS ({_PTS}),
q AS (SELECT CAST(n_nationkey AS BIGINT) AS query_id,
             CAST({_QLAT} AS INTEGER) AS qlat7, CAST({_QLON} AS INTEGER) AS qlon7
      FROM nation),
pc AS (SELECT point_id, lat7, lon7, {_sql_cell_cols('lat7', 'lon7')} FROM pts),
qc AS (SELECT query_id, qlat7, qlon7, {_sql_cell_cols('qlat7', 'qlon7')} FROM q)
SELECT query_id, neighbor_id, dist2, CAST(rank AS INTEGER) AS rank FROM (
  SELECT qc.query_id, p.point_id AS neighbor_id, {_D2} AS dist2,
         row_number() OVER (PARTITION BY qc.query_id ORDER BY {_D2}, p.point_id) AS rank
  FROM qc JOIN pc p
    ON abs(qc.clat - p.clat) <= 2
   AND least(abs(qc.clon - p.clon), {_NCL} - abs(qc.clon - p.clon)) <= 2
  ) t
WHERE rank <= 5""".replace("q.qlat7", "qc.qlat7").replace("q.qlon7", "qc.qlon7"),
)
def knn_radius2_k5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully-distributed bounded-radius kNN (operators/knn.knn_within_radius):
    query side stays a DataFrame, wrapped cell-disk explode + shuffle hash
    join + exact windowed top-k — no driver loop. Oracle: the same radius-2
    Chebyshev cell predicate in SQL."""
    from osmgraft.operators.knn import knn_within_radius

    pts = points_from_orders(spark, sf_dir)
    return knn_within_radius(
        pts, _knn_queries_df(spark, sf_dir), k=5, radius_cells=2
    ).select(
        "query_id", "neighbor_id", "dist2", F.col("rank").cast("int").alias("rank")
    )


# --- map matching: snap points to nearest road segment -----------------------------
_SNAP_R, _SNAP_L = 8192, 8192  # radius / per-axis segment-length bound (1e7 units)


def _sql_snap_to_road() -> str:
    from osmgraft.operators.snap import Q_BITS, snap_formula_sql

    q, guard = 1 << Q_BITS, _SNAP_R + _SNAP_L
    d2q = snap_formula_sql(
        "p.x", "p.y", "s2.ax", "s2.ay", "s2.bx", "s2.by", div="//", guard=guard
    )
    return f"""WITH p AS (
  SELECT o_orderkey AS point_id,
         (o_orderkey * 48271) % 400000 - 200000 AS x,
         (o_orderkey * 69621) % 400000 - 200000 AS y
  FROM orders WHERE o_orderkey % 15 = 0),
s AS (
  SELECT o_orderkey AS seg_id,
         (o_orderkey * 48017) % 400000 - 200000 AS ax,
         (o_orderkey * 57859) % 400000 - 200000 AS ay
  FROM orders WHERE o_orderkey % 4 = 1),
s2 AS (
  SELECT seg_id, ax, ay,
         ax + (seg_id * 36979) % {2 * _SNAP_L} - {_SNAP_L} AS bx,
         ay + (seg_id * 44257) % {2 * _SNAP_L} - {_SNAP_L} AS by
  FROM s),
cand AS (
  SELECT p.point_id, s2.seg_id, {d2q} AS d2q
  FROM p JOIN s2
    ON abs(p.x - s2.ax) <= {guard} AND abs(p.y - s2.ay) <= {guard})
SELECT point_id, seg_id, d2q FROM (
  SELECT point_id, seg_id, d2q,
         row_number() OVER (PARTITION BY point_id ORDER BY d2q, seg_id) AS rn
  FROM cand WHERE d2q <= {_SNAP_R * _SNAP_R * q * q}) t
WHERE rn = 1"""


@register("snap_to_road", _sql_snap_to_road())
def snap_to_road(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map matching (operators/snap.py): each NYC hot-box point snaps to the
    nearest synthetic street segment within ~90 m, by EXACT int64 math — the
    projection parameter is quantized to a 2^-14 grid so squared distances
    share one denominator and compare as integers (no IEEE, no rational
    overflow; the nearest-to-SEGMENT sibling of knn_radius2_k5's ball kNN).

    Spark runs the scale plan: segments exploded onto a radius-pitch grid
    covering their expanded bbox (<= ~25 cells each), points keyed by their
    one cell, a single equi-join on cell id = provably complete candidates,
    then window argmin. The DuckDB twin brute-forces all pairs under the
    identical Chebyshev guard filter — two different candidate generators,
    one exact formula (snap_formula_sql, consumed verbatim by BOTH engines),
    one hash."""
    from osmgraft.operators.snap import snap_points_to_segments

    k = F.col("o_orderkey")
    orders = ensure_min_parallelism(
        read_fixture(spark, sf_dir, "orders")
    ).select(k.alias("k"))
    kk = F.col("k")
    points = orders.filter(kk % 15 == 0).select(
        kk.alias("point_id"),
        ((kk * 48271) % 400000 - 200000).alias("x"),
        ((kk * 69621) % 400000 - 200000).alias("y"),
    )
    segs = orders.filter(kk % 4 == 1).select(
        kk.alias("seg_id"),
        ((kk * 48017) % 400000 - 200000).alias("ax"),
        ((kk * 57859) % 400000 - 200000).alias("ay"),
    )
    segs = segs.select(
        "seg_id",
        "ax",
        "ay",
        (F.col("ax") + (F.col("seg_id") * 36979) % (2 * _SNAP_L) - _SNAP_L).alias("bx"),
        (F.col("ay") + (F.col("seg_id") * 44257) % (2 * _SNAP_L) - _SNAP_L).alias("by"),
    )
    return snap_points_to_segments(
        points, segs, radius=_SNAP_R, seg_len_max=_SNAP_L
    )


# --- segment x segment crossing join ------------------------------------------------
def _sql_road_crossings() -> str:
    from osmgraft.operators.crossings import crossing_formula_sql

    cross = crossing_formula_sql(
        "a.ax", "a.ay", "a.bx", "a.by", "b.ax", "b.ay", "b.bx", "b.by"
    )
    return f"""WITH s AS (
  SELECT o_orderkey AS seg_id,
         (o_orderkey * 48017) % 400000 - 200000 AS ax,
         (o_orderkey * 57859) % 400000 - 200000 AS ay
  FROM orders WHERE o_orderkey % 4 = 1),
s2 AS (
  SELECT seg_id, ax, ay,
         ax + (seg_id * 36979) % {2 * _SNAP_L} - {_SNAP_L} AS bx,
         ay + (seg_id * 44257) % {2 * _SNAP_L} - {_SNAP_L} AS by
  FROM s),
s3 AS (  -- materialized bbox columns: expression-free join keys
  SELECT seg_id, ax, ay, bx, by,
         least(ax, bx) AS x0, greatest(ax, bx) AS x1,
         least(ay, by) AS y0, greatest(ay, by) AS y1
  FROM s2)
SELECT a.seg_id AS seg_a, b.seg_id AS seg_b
FROM s3 a JOIN s3 b
  ON a.seg_id < b.seg_id
 AND a.x0 <= b.x1 AND a.x1 >= b.x0
 AND a.y0 <= b.y1 AND a.y1 >= b.y0
WHERE {cross}"""


@register("road_crossings", _sql_road_crossings())
def road_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment×segment crossing join (operators/crossings.py): all pairs of
    synthetic street segments whose INTERIORS properly cross — four exact
    int64 CCW orientation tests, strictly-opposite signs both ways, so
    endpoint touches and collinear overlaps are excluded (in a road graph
    the crossings WITHOUT a shared node are the signal: unmarked
    intersections, missing bridge tags). Completes the pairwise spatial-
    join family: point×point (knn), point×segment (snap), point×polygon
    (pip), polygon×polygon (overlap), segment×segment (this).

    Spark runs the scale plan: bbox cells at pitch 2·len-bound (≤ 4 cells
    per segment, provably complete), one equi-join on cell, pair dedup,
    codegen refine. The DuckDB twin brute-forces under a bbox-overlap
    prefilter with the BYTE-IDENTICAL predicate text
    (crossing_formula_sql) — two candidate generators, one formula, one
    hash."""
    from osmgraft.operators.crossings import segment_crossings

    k = F.col("o_orderkey")
    orders = ensure_min_parallelism(
        read_fixture(spark, sf_dir, "orders")
    ).select(k.alias("k"))
    kk = F.col("k")
    segs = orders.filter(kk % 4 == 1).select(
        kk.alias("seg_id"),
        ((kk * 48017) % 400000 - 200000).alias("ax"),
        ((kk * 57859) % 400000 - 200000).alias("ay"),
    )
    segs = segs.select(
        "seg_id",
        "ax",
        "ay",
        (F.col("ax") + (F.col("seg_id") * 36979) % (2 * _SNAP_L) - _SNAP_L).alias("bx"),
        (F.col("ay") + (F.col("seg_id") * 44257) % (2 * _SNAP_L) - _SNAP_L).alias("by"),
    )
    return segment_crossings(segs, pitch=2 * _SNAP_L)


# --- polygon x polygon overlap join (SAT) -------------------------------------------
def _sql_poly_overlap() -> str:
    from osmgraft.operators.overlap import sat_formula_sql

    sat = sat_formula_sql("(b.cx - a.cx)", "(b.cy - a.cy)", "a.p", "a.q", "b.p", "b.q")
    return f"""WITH r AS (
  SELECT o_orderkey AS poly_id,
         (o_orderkey * 50923) % 400000 - 200000 AS cx,
         (o_orderkey * 62989) % 400000 - 200000 AS cy,
         512 + (o_orderkey * 35617) % 4096 AS p,
         512 + (o_orderkey * 41843) % 4096 AS q
  FROM orders WHERE o_orderkey % 6 = 2)
SELECT a.poly_id AS a_id, b.poly_id AS b_id
FROM r a JOIN r b
  ON a.poly_id < b.poly_id
 AND abs(b.cx - a.cx) <= a.p + b.p AND abs(b.cy - a.cy) <= a.q + b.q
WHERE {sat}"""


@register("poly_overlap_pairs", _sql_poly_overlap())
def poly_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convex polygon-overlap self-join (operators/overlap.py): which of the
    synthetic rhombus footprints intersect — the polygon x polygon member of
    the spatial-join family (PIP = point x polygon, snap = point x segment).
    Exact 4-axis separating-axis test in pure int64; Spark generates
    candidates by exploding each rhombus onto its <=4 bbox grid cells and
    self-joining on cell id, the DuckDB twin brute-forces all pairs under a
    bbox prefilter that overlap provably implies — different candidate
    generators, the identical SAT text (sat_formula_sql), one hash."""
    from osmgraft.operators.overlap import rhombus_overlap_pairs

    k = F.col("o_orderkey")
    polys = (
        ensure_min_parallelism(read_fixture(spark, sf_dir, "orders"))
        .filter(k % 6 == 2)
        .select(
            k.alias("poly_id"),
            ((k * 50923) % 400000 - 200000).alias("cx"),
            ((k * 62989) % 400000 - 200000).alias("cy"),
            (F.lit(512) + (k * 35617) % 4096).alias("p"),
            (F.lit(512) + (k * 41843) % 4096).alias("q"),
        )
    )
    return rhombus_overlap_pairs(polys, rmax=4608)


# --- segment → tile clipping (Liang–Barsky, vector-tile line layers) -----------
_CLIP_SEG_CTE = """SELECT o_orderkey AS way_id, o_orderkey % 7 AS seg_idx,
 (o_orderkey * 48611) % 262145 AS x0, (o_orderkey * 59999) % 262145 AS y0,
 least(greatest((o_orderkey * 48611) % 262145 + ((o_orderkey * 36353) % 32769 - 16384), 0), 262144) AS x1,
 least(greatest((o_orderkey * 59999) % 262145 + ((o_orderkey * 28307) % 32769 - 16384), 0), 262144) AS y1
 FROM orders WHERE o_orderkey % 9 = 4"""


def _sql_clip_segments() -> str:
    from osmgraft.operators.clip import clip_oracle_ctes

    return clip_oracle_ctes(_CLIP_SEG_CTE, z=6)


@register("clip_segments_z6", _sql_clip_segments())
def clip_segments_z6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment → tile clipping (operators/clip.py): every synthetic way
    segment, in integer world pixels at z=6 (64×64 tiles × MVT EXTENT 4096),
    clipped to each tile window it crosses — exact-integer Liang–Barsky with
    sign-normalized rational parameters, closed windows (border segments land
    in both tiles), direction preserved, clip points round-half-up quantized
    to the pixel grid. The vector-tile LINE-layer feeder (points were already
    covered by tile_render_mvt_z10). Spark explodes each segment onto its
    bbox tile range (generate-only, map-side, no shuffle); the DuckDB twin
    brute-forces the same ranges via generate_series — two candidate wirings,
    byte-identical step formulas (clip_steps_sql), one hash."""
    from osmgraft.operators.clip import clip_segments_to_tiles

    k = F.col("o_orderkey")
    x0 = (k * 48611) % 262145
    y0 = (k * 59999) % 262145
    segs = (
        ensure_min_parallelism(read_fixture(spark, sf_dir, "orders"))
        .filter(k % 9 == 4)
        .select(
            k.alias("way_id"),
            (k % 7).alias("seg_idx"),
            x0.alias("x0"),
            y0.alias("y0"),
            F.least(
                F.greatest(x0 + ((k * 36353) % 32769 - 16384), F.lit(0)), F.lit(262144)
            ).alias("x1"),
            F.least(
                F.greatest(y0 + ((k * 28307) % 32769 - 16384), F.lit(0)), F.lit(262144)
            ).alias("y1"),
        )
    )
    return clip_segments_to_tiles(segs, z=6)


def _sql_mvt_lines_roundtrip() -> str:
    from osmgraft.operators.clip import clip_oracle_ctes

    inner = clip_oracle_ctes(_CLIP_SEG_CTE, z=6)
    return (
        f"SELECT * FROM ({inner}) c WHERE c.px0 != c.px1 OR c.py0 != c.py1"
    )


@register("mvt_lines_roundtrip_z6", _sql_mvt_lines_roundtrip())
def mvt_lines_roundtrip_z6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-tile LINE-layer write/read symmetry, hash-gated end to end:
    clipped segments (clip_segments_z6's plan) are encoded per tile as real
    MVT LINESTRING protobuf (raster.render_tile_mvt_lines), then decoded by
    the generic wire parser (raster.mvt_line_features) in a separate
    distributed pass — the DuckDB twin is the CLIP oracle itself minus the
    degenerate one-pixel segments the MVT spec forbids, so the hash passes
    only if encode ∘ decode is exactly the identity on every feature."""
    from osmgraft.operators.raster import mvt_line_features, render_tile_mvt_lines

    clipped = clip_segments_z6(spark, sf_dir)
    tiles_df = render_tile_mvt_lines(clipped, z=6)
    return mvt_line_features(tiles_df).select(
        "way_id", "seg_idx", "tx", "ty",
        F.col("px0").cast("long").alias("px0"),
        F.col("py0").cast("long").alias("py0"),
        F.col("px1").cast("long").alias("px1"),
        F.col("py1").cast("long").alias("py1"),
    )


# --- marching-squares contour extraction (raster → vector isolines) ------------
def _sql_contours() -> str:
    from osmgraft.operators.contour import contour_oracle_sql

    inside = f"""SELECT tx AS cx, ty AS cy FROM (
    SELECT {tiles.sql_tile_x('lon7', 8)} AS tx, {tiles.sql_tile_y('lat7', 8)} AS ty
    FROM pts GROUP BY tx, ty HAVING count(*) >= 2)"""
    return f"WITH pts AS ({_PTS}), outer_q AS (\n{contour_oracle_sql(inside)}\n) SELECT * FROM outer_q"


@register("contour_segments_z8", _sql_contours())
def contour_segments_z8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iso-contour extraction (operators/contour.py): the z8 tile-count
    raster of the point table becomes DIRECTED marching-squares contour
    segments at iso-level 2 — midpoint vertices in doubled integer grid
    coordinates, inside-on-the-left orientation (closed CCW loops around
    dense regions), center-outside saddle rule. Sparse throughout: one
    generate-only 4-corner explode + one grouped bit-sum, case table in
    codegen — cost O(inside tiles), never O(raster area). The DuckDB twin
    consumes the identical case-table text (contour_case_sql)."""
    from osmgraft.operators.contour import contour_segments

    pts = points_from_orders(spark, sf_dir)
    counts = (
        pts.select(
            tiles.tile_x(F.col("lon7"), 8).alias("cx"),
            tiles.tile_y(F.col("lat7"), 8).alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return contour_segments(counts, threshold=2)


def _sql_contour_rings() -> str:
    from osmgraft.operators.contour import rings_oracle_sql

    inside = f"""SELECT tx AS cx, ty AS cy FROM (
    SELECT {tiles.sql_tile_x('lon7', 8)} AS tx, {tiles.sql_tile_y('lat7', 8)} AS ty
    FROM pts GROUP BY tx, ty HAVING count(*) >= 2)"""
    return f"WITH pts AS ({_PTS}), outer_q AS (\n{rings_oracle_sql(inside)}\n) SELECT * FROM outer_q"


@register("mvt_polygons_roundtrip_z8", _sql_contours())
def mvt_polygons_roundtrip_z8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYGON vector-tile write/read symmetry, hash-gated: the z8 contour
    rings encode as real MVT POLYGON features per z2 tile (ring-soup form:
    holes reversed to spec-valid exteriors with a hole attr;
    operators/raster.render_contour_mvt_polys) and a separate distributed
    pass decodes them with the generic wire parser back to directed
    segments (mvt_polygon_segments). The DuckDB twin is the contour-segment
    oracle itself, so the hash passes only if encode ∘ decode is the
    IDENTITY on every ring walk — any command-stream, zigzag-delta,
    cursor-across-rings, hole-flag, or tile-origin bug breaks it.
    Completes the MVT geometry trio (point, line, polygon layers)."""
    from osmgraft.operators.contour import contour_segments
    from osmgraft.operators.raster import (
        mvt_polygon_segments,
        render_contour_mvt_polys,
    )

    pts = points_from_orders(spark, sf_dir)
    counts = (
        pts.select(
            tiles.tile_x(F.col("lon7"), 8).alias("cx"),
            tiles.tile_y(F.col("lat7"), 8).alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    segs = contour_segments(counts, threshold=2)
    tiles_df = render_contour_mvt_polys(segs, grid_z=8, tile_z=2)
    return mvt_polygon_segments(tiles_df, grid_z=8)


def _sql_ring_centroids() -> str:
    from osmgraft.operators.contour import ring_centroids_oracle_sql

    inside = f"""SELECT tx AS cx, ty AS cy FROM (
    SELECT {tiles.sql_tile_x('lon7', 8)} AS tx, {tiles.sql_tile_y('lat7', 8)} AS ty
    FROM pts GROUP BY tx, ty HAVING count(*) >= 2)"""
    return (
        f"WITH pts AS ({_PTS}), outer_q AS (\n"
        f"{ring_centroids_oracle_sql(inside)}\n) SELECT * FROM outer_q"
    )


@register("contour_ring_centroids_z8", _sql_ring_centroids())
def contour_ring_centroids_z8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT polygon centroids of the z8 contour rings (contour.py
    ring_centroids): per ring the integer shoelace-centroid terms
    (area2, cxn3, cyn3) with the division never taken — centroid =
    (cxn3, cyn3)/(3·area2) for any consumer, but the HASH is over exact
    integers. Same two-level component labeling as contour_rings_z8; the
    DuckDB twin closes the successor relation recursively and takes the
    identical sums."""
    from osmgraft.operators.contour import contour_segments, ring_centroids

    pts = points_from_orders(spark, sf_dir)
    counts = (
        pts.select(
            tiles.tile_x(F.col("lon7"), 8).alias("cx"),
            tiles.tile_y(F.col("lat7"), 8).alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return ring_centroids(contour_segments(counts, threshold=2))


@register("contour_rings_z8", _sql_contour_rings())
def contour_rings_z8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contour RING assembly (operators/contour.py assemble_rings): the z8
    iso-segments chain into closed loops — the loop-closure property makes
    the segment set a functional graph of disjoint cycles, labeled by
    two-level components (graph.cc_two_level via contour.ring_labels).
    Per ring: minimum-vertex-key id, segment count, and the exact integer
    shoelace sum (positive outer loops, negative holes). The DuckDB twin
    closes the same successor relation with a recursive CTE — two genuinely
    different algorithms, one hash (the dedup_components discipline)."""
    from osmgraft.operators.contour import assemble_rings, contour_segments

    pts = points_from_orders(spark, sf_dir)
    counts = (
        pts.select(
            tiles.tile_x(F.col("lon7"), 8).alias("cx"),
            tiles.tile_y(F.col("lat7"), 8).alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return assemble_rings(contour_segments(counts, threshold=2))


def _sql_cells(z: int) -> str:
    return (
        f"SELECT {tiles.sql_tile_x('lon7', z)} AS cx, "
        f"{tiles.sql_tile_y('lat7', z)} AS cy, count(*) AS cnt "
        f"FROM pts GROUP BY cx, cy"
    )


def _cells_df(spark: SparkSession, sf_dir: str, z: int) -> DataFrame:
    pts = points_from_orders(spark, sf_dir)
    return (
        pts.select(
            tiles.tile_x(F.col("lon7"), z).alias("cx"),
            tiles.tile_y(F.col("lat7"), z).alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _sql_density() -> str:
    from osmgraft.operators.density import sql_density_smooth

    return (
        f"WITH pts AS ({_PTS}), outer_q AS (\n"
        f"{sql_density_smooth(_sql_cells(10), 2)}\n) SELECT * FROM outer_q"
    )


@register("tile_density_smooth_z10", _sql_density())
def tile_density_smooth_z10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KDE-style density surface (operators/density.py): z10 tile counts
    convolved with a 5×5 box kernel — SEPARABLE in Spark (two explode+sum
    passes, 2·5 work per cell, map-side combines) while the DuckDB twin
    runs the direct 2-D convolution: two genuinely different algorithms,
    one exact-integer hash. Sparse throughout — only cells within radius 2
    of observed data exist."""
    from osmgraft.operators.density import density_smooth

    return density_smooth(_cells_df(spark, sf_dir, 10), radius=2)


def _sql_median() -> str:
    from osmgraft.operators.density import sql_median_filter

    return (
        f"WITH pts AS ({_PTS}), outer_q AS (\n"
        f"{sql_median_filter(_sql_cells(9))}\n) SELECT * FROM outer_q"
    )


@register("tile_median_z9", _sql_median())
def tile_median_z9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3×3 median filter of the z9 count raster
    (operators/density.median_filter): the order-statistic denoiser — for
    every occupied cell, the exact median of its neighborhood with absent
    cells as 0 (m≤4 observed → 0, else the (m−4)-th smallest).  Spark runs
    the SCATTER form (explode each cell into the 9 windows it serves + one
    hash agg over ≤9-element sorted arrays), DuckDB the direct GATHER with
    a rank pick — two evaluation orders, one exact-integer hash.  Extends
    the raster family with the nonlinear filter box blur can't express."""
    from osmgraft.operators.density import median_filter

    return median_filter(_cells_df(spark, sf_dir, 9))


def _sql_slope() -> str:
    from osmgraft.operators.density import sql_slope_terms

    return (
        f"WITH pts AS ({_PTS}), outer_q AS (\n"
        f"{sql_slope_terms(_sql_cells(8))}\n) SELECT * FROM outer_q"
    )


@register("tile_slope_z8", _sql_slope())
def tile_slope_z8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sobel slope/gradient of the z8 count raster (operators/density.py
    slope_terms): per observed cell, integer (gx, gy, g2 = gx²+gy²) over the
    3×3 Sobel masks, sparse-safe (missing neighbors are 0, isolated cells
    emit zero slope). Spark runs the SCATTER form (one explode + one grouped
    sum + join back), DuckDB the direct GATHER — two evaluation orders, one
    exact-integer hash. Completes the raster family: smooth → Moran's I →
    upsample → contours → regions → slope."""
    from osmgraft.operators.density import slope_terms

    return slope_terms(_cells_df(spark, sf_dir, 8))


def _sql_morans() -> str:
    from osmgraft.operators.density import sql_morans_i_terms

    return (
        f"WITH pts AS ({_PTS}), outer_q AS (\n"
        f"{sql_morans_i_terms(_sql_cells(8))}\n) SELECT * FROM outer_q"
    )


@register("morans_i_z8", _sql_morans())
def morans_i_z8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global Moran's I spatial autocorrelation over the observed z8 cells
    with rook weights, as EXACT INTEGER terms (n_cells, w_pairs, num, den
    with d_i = n·x_i − s — no division, no floats, cross-engine hashable;
    I = (n/W)·num/den for any consumer). Stats row broadcast back (no
    driver collect); adjacency = two shifted equi-joins, never an OR-join
    nested loop. operators/density.py."""
    from osmgraft.operators.density import morans_i_terms

    return morans_i_terms(_cells_df(spark, sf_dir, 8))


def _sql_geary() -> str:
    from osmgraft.operators.density import sql_geary_c_terms

    return (
        f"WITH pts AS ({_PTS}), outer_q AS (\n"
        f"{sql_geary_c_terms(_sql_cells(8))}\n) SELECT * FROM outer_q"
    )


@register("geary_c_z8", _sql_geary())
def geary_c_z8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global Geary's C over the observed z8 cells with rook weights
    (operators/density.geary_c_terms, Geary 1954) — Moran's I's
    difference-based sibling, completing the global ESDA pair: exact
    integer ssq_w = Σ(xᵢ−xⱼ)² over adjacent pairs and the mean-cleared
    den_raw = nΣx² − (Σx)², with C = (n−1)·n·ssq_w / (2W·den_raw) and a
    clustered/dispersed/random class decided against the null C = 1 by a
    cross-multiplied DECIMAL(38)/HUGEINT compare.  Same two-equi-join
    adjacency shape as morans_i_z8 (never an OR-join)."""
    from osmgraft.operators.density import geary_c_terms

    return geary_c_terms(_cells_df(spark, sf_dir, 8))


def _sql_regions() -> str:
    from osmgraft.operators.density import sql_grid_regions

    inside = _sql_cells(8) + " HAVING count(*) >= 2"
    return (
        f"WITH pts AS ({_PTS}), outer_q AS (\n"
        f"{sql_grid_regions(inside)}\n) SELECT * FROM outer_q"
    )


@register("cell_regions_z8", _sql_regions())
def cell_regions_z8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flood-fill region labeling (operators/density.py grid_regions): the
    z8 inside cells (cnt ≥ 2 — the same population the contour rings bound)
    label into 4-connected regions via graph.cc_star — the alternating
    large-star/small-star algorithm (Kiveris et al. SoCC'14), O(log n)
    rounds on ANY topology where per-hop min-label propagation needs
    diameter rounds. Per region: min-key id, cell count, count sum, integer
    bbox. DuckDB twin: recursive-CTE transitive closure — two genuinely
    different algorithms, one hash."""
    from osmgraft.operators.density import grid_regions

    cells = _cells_df(spark, sf_dir, 8).filter(F.col("cnt") >= 2)
    return grid_regions(cells)


def _sql_upsample() -> str:
    from osmgraft.operators.density import sql_raster_upsample

    return (
        f"WITH pts AS ({_PTS}), outer_q AS (\n"
        f"{sql_raster_upsample(_sql_cells(8))}\n) SELECT * FROM outer_q"
    )


@register("raster_upsample_z8_z9", _sql_upsample())
def raster_upsample_z8_z9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilinear raster refinement one zoom UP (operators/density.py
    raster_upsample) — the inverse direction of tile_pyramid_z13_8's
    rollup: z8 counts scatter the (1,3,3,1) mask onto the z9 grid,
    emitting exact integer numerators dens16 (denominator 16 never
    divided). Spark runs the separable two-pass form; DuckDB the direct
    2-D scatter — two algorithms, one hash."""
    from osmgraft.operators.density import raster_upsample

    return raster_upsample(_cells_df(spark, sf_dir, 8))


def _sql_equalize() -> str:
    from osmgraft.operators.density import sql_equalize

    return (
        f"WITH pts AS ({_PTS}), outer_q AS (\n"
        f"{sql_equalize(_sql_cells(9))}\n) SELECT * FROM outer_q"
    )


@register("tile_equalize_z9", _sql_equalize())
def tile_equalize_z9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram equalization of the z9 tile-count raster — the image
    contrast stretch applied to the heat surface before rendering (the
    geospatial x image bridge: render_tile_pngs consumes the remapped
    values). Exact integer CDF remap, eq = (cdf-cdf_min)*255 div
    (n-cdf_min); the CDF lives on the tiny per-VALUE histogram (one
    single-partition window over distinct counts), broadcast-joined back —
    the raster itself is never re-shuffled."""
    from osmgraft.operators.density import equalize

    return equalize(_cells_df(spark, sf_dir, 9))


# --- trajectory trip segmentation ------------------------------------------------
_TRACK_CTE = """SELECT o_custkey % 199 AS ent, o_orderkey AS seq,
       (o_orderkey * 13) % 100000 // 10 AS x,
       (o_orderkey * 29) % 100000 // 10 AS y
FROM orders"""


def _sql_trips() -> str:
    from osmgraft.operators.trajectory import sql_trip_segments

    return sql_trip_segments(_TRACK_CTE, jump=2000)


@register("trip_segments_orders", _sql_trips())
def trip_segments_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory trip segmentation (operators/trajectory.py): per-entity
    ordered position samples split into trips at Chebyshev jumps > 2000 —
    the GPS-track gaps-and-islands cut. ONE shuffle on entity (lag +
    running-sum share one window sort), grouped stats with map-side
    combine; all-integer, hash-gated against the same two windows in
    DuckDB."""
    from osmgraft.operators.trajectory import trip_segments

    o = ensure_min_parallelism(read_fixture(spark, sf_dir, "orders"))
    track = o.selectExpr(
        "o_custkey % 199 AS ent",
        "o_orderkey AS seq",
        "(o_orderkey * 13) % 100000 div 10 AS x",  # integer div, no IEEE
        "(o_orderkey * 29) % 100000 div 10 AS y",
    )
    return trip_segments(track, jump=2000)


def _sql_stays() -> str:
    from osmgraft.operators.trajectory import sql_stay_points

    return sql_stay_points(_TRACK_CTE, radius=300, min_samples=4)


@register("stay_points_orders", _sql_stays())
def stay_points_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stay-point extraction (the dual of trip segmentation): maximal runs
    whose steps stay within Chebyshev 300, kept at >= 4 samples, with span
    and integer bbox centers — 'places visited' for POI inference. Same
    single ent-shuffle; hash-gated against the windowed twin."""
    from osmgraft.operators.trajectory import stay_points

    o = ensure_min_parallelism(read_fixture(spark, sf_dir, "orders"))
    track = o.selectExpr(
        "o_custkey % 199 AS ent",
        "o_orderkey AS seq",
        "(o_orderkey * 13) % 100000 div 10 AS x",
        "(o_orderkey * 29) % 100000 div 10 AS y",
    )
    return stay_points(track, radius=300, min_samples=4)


def _sql_od() -> str:
    from osmgraft.operators.trajectory import sql_od_matrix

    return sql_od_matrix(_TRACK_CTE, jump=2000, pitch=500)


@register("od_matrix_orders", _sql_od())
def od_matrix_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin-destination flow matrix over the trip segmentation: each trip
    contributes one (origin cell -> destination cell) flow on the pitch-500
    grid — the standard mobility rollup. Same single ent-shuffle as
    trip_segments (endpoints via min_by/max_by inside the trip aggregation,
    no extra window); hash-gated against arg_min/arg_max in DuckDB."""
    from osmgraft.operators.trajectory import od_matrix

    o = ensure_min_parallelism(read_fixture(spark, sf_dir, "orders"))
    track = o.selectExpr(
        "o_custkey % 199 AS ent",
        "o_orderkey AS seq",
        "(o_orderkey * 13) % 100000 div 10 AS x",
        "(o_orderkey * 29) % 100000 div 10 AS y",
    )
    return od_matrix(track, jump=2000, pitch=500)


@register(
    "snapshot_diff_events",
    """SELECT event_id AS id, 'modify' AS op, event_type
FROM events WHERE event_id % 5 = 0 AND event_id % 7 <> 0
UNION ALL
SELECT event_id, 'delete', event_type FROM events WHERE event_id % 35 = 0
UNION ALL
SELECT event_id + 100000000, 'create', event_type
FROM events WHERE event_id % 11 = 0""",
)
def snapshot_diff_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff generation — the INVERSE of osc_apply_events (operators/osm.py
    snapshot_diff): Spark computes new = osc_apply(base, changeset), then
    derives the change set BACK from (base, new) with one full-outer join
    (create/modify/delete classification, NULL-safe compares). The DuckDB
    twin states the expected diff in CLOSED FORM from the change-set
    definition — the spec-as-oracle pattern — so any apply or diff bug
    (missed delete, phantom modify, wrong key handling) breaks the hash.
    Output columns are float-free (id, op, event_type); the value column
    still drives modify detection internally."""
    from osmgraft.operators.osm import osc_apply, snapshot_diff

    ev = read_fixture(spark, sf_dir, "events")
    base = ev.select(F.col("event_id").alias("id"), "event_type", "value")
    mods = ev.filter(F.col("event_id") % 5 == 0).select(
        F.col("event_id").alias("id"),
        F.when(F.col("event_id") % 7 == 0, F.lit("delete"))
        .otherwise(F.lit("modify"))
        .alias("op"),
        F.lit(2).alias("version"),
        "event_type",
        (F.col("value") + 1).alias("value"),
    )
    creates = ev.filter(F.col("event_id") % 11 == 0).select(
        (F.col("event_id") + 100_000_000).alias("id"),
        F.lit("create").alias("op"),
        F.lit(1).alias("version"),
        "event_type",
        "value",
    )
    new = osc_apply(base, mods.unionByName(creates), key_cols=["id"])
    return snapshot_diff(base, new, ["id"], ["event_type", "value"]).select(
        "id", "op", "event_type"
    )


def _sql_expire() -> str:
    from osmgraft.synth import sql_latlon_of_key

    olat, olon = sql_latlon_of_key("event_id")
    mlat, mlon = sql_latlon_of_key("event_id * 31 + 7")
    clat, clon = sql_latlon_of_key("event_id + 100000000")
    z = 12
    return f"""SELECT DISTINCT tx, ty FROM (
  SELECT {tiles.sql_tile_x(olon, z)} AS tx, {tiles.sql_tile_y(olat, z)} AS ty
  FROM events
  WHERE (event_id % 5 = 0 AND event_id % 7 <> 0) OR event_id % 35 = 0
  UNION ALL
  SELECT {tiles.sql_tile_x(mlon, z)}, {tiles.sql_tile_y(mlat, z)}
  FROM events WHERE event_id % 5 = 0 AND event_id % 7 <> 0
  UNION ALL
  SELECT {tiles.sql_tile_x(clon, z)}, {tiles.sql_tile_y(clat, z)}
  FROM events WHERE event_id % 11 = 0)"""


@register("expire_tiles_z12", _sql_expire())
def expire_tiles_z12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile expiry after a change set (operators/osm.py expire_tiles — the
    osm2pgsql --expire-tiles counterpart): the snapshot_diff fixture's
    change stream dirties the z12 tiles of deletes'/modifies' OLD positions
    and creates'/modifies' NEW positions; renderers re-draw exactly this
    set. One scan, two JVM tile projections, map-side-combined distinct.
    DuckDB twin states the dirty set in closed form from the change-set
    definition."""
    from osmgraft.operators.osm import expire_tiles
    from osmgraft.synth import latlon_of_key

    ev = ensure_min_parallelism(read_fixture(spark, sf_dir, "events"))
    k = F.col("event_id")
    olat, olon = latlon_of_key(k)
    mlat, mlon = latlon_of_key(k * 31 + 7)
    clat, clon = latlon_of_key(k + 100_000_000)
    null_i = F.lit(None).cast("int")
    mods = ev.filter((k % 5 == 0) & (k % 7 != 0)).select(
        F.lit("modify").alias("op"),
        olat.alias("old_lat7"), olon.alias("old_lon7"),
        mlat.alias("new_lat7"), mlon.alias("new_lon7"),
    )
    dels = ev.filter(k % 35 == 0).select(
        F.lit("delete").alias("op"),
        olat.alias("old_lat7"), olon.alias("old_lon7"),
        null_i.alias("new_lat7"), null_i.alias("new_lon7"),
    )
    creates = ev.filter(k % 11 == 0).select(
        F.lit("create").alias("op"),
        null_i.alias("old_lat7"), null_i.alias("old_lon7"),
        clat.alias("new_lat7"), clon.alias("new_lon7"),
    )
    return expire_tiles(mods.unionByName(dels).unionByName(creates), z=12)


# --- north star: image table → caption geo-parse → PIP → tiles ------------------
from osmgraft.synth import _HOT_SPOTS as _HS
from osmgraft.synth import _JIT as _JIT_


@register(
    "image_geo_tiles",
    f"""WITH idxs AS (SELECT row_number() OVER () - 1 AS idx FROM orders),
pts AS (
  SELECT idx AS point_id,
    CAST(CASE WHEN idx % 5 = 0 THEN
      (CASE idx % 3 WHEN 0 THEN {_HS[0][0]} WHEN 1 THEN {_HS[1][0]}
       ELSE {_HS[2][0]} END) + (idx * 48271) % {_JIT_} - {_JIT_ // 2}
    ELSE (idx * {_A_LAT} + {_C_LAT}) % {_B_LAT} - {_B_LAT // 2} END AS INTEGER) AS lat7,
    CAST(CASE WHEN idx % 5 = 0 THEN
      (CASE idx % 3 WHEN 0 THEN {_HS[0][1]} WHEN 1 THEN {_HS[1][1]}
       ELSE {_HS[2][1]} END) + (idx * 69621) % {_JIT_} - {_JIT_ // 2}
    ELSE (idx * {_A_LON}) % {_B_LON} - {_B_LON // 2} END AS INTEGER) AS lon7
  FROM idxs
),
{{pip}}
SELECT boundary_id, {tiles.sql_tile_x('lon7', 13)} AS tx, {tiles.sql_tile_y('lat7', 13)} AS ty,
       count(*) AS cnt
FROM pts JOIN pip USING (point_id)
GROUP BY boundary_id, tx, ty""".replace(
        "{pip}", sql_pip_predicate(ADMIN_BOUNDARIES)
    ),
)
def image_geo_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-star pipeline on the input_hint image table: synthesize
    image+caption rows, recover (lat7, lon7) by PARSING the geo-tagged caption
    (regexp → double → the exact half-away-from-zero fixed-point kernel,
    osmio lib.rs:159-164), require bitwise equality with the stored
    coordinates (any parse/rounding error drops rows and fails the oracle
    hash), then broadcast-PIP join and z13 tile assignment.

    The oracle recomputes the coordinates arithmetically — the caption
    round-trip exists only on the Spark side, so parse fidelity is part of
    the gate. Scale: caption parse + codec are JVM expressions; the image
    generator is the only Python stage and is replaced by the real Iceberg
    scan in production."""
    from osmgraft.synth import synth_images

    n = read_fixture(spark, sf_dir, "orders").count()
    imgs = synth_images(spark, n, with_pixels=False)
    pat = r"photo at (-?\d+\.\d{7}),(-?\d+\.\d{7}) "
    parsed = imgs.select(
        F.substring("image_id", 4, 12).cast("long").alias("point_id"),
        coords.deg_to_fixed(F.regexp_extract("caption", pat, 1).cast("double"))
        .cast("int")
        .alias("plat7"),
        coords.deg_to_fixed(F.regexp_extract("caption", pat, 2).cast("double"))
        .cast("int")
        .alias("plon7"),
        "lat7",
        "lon7",
    )
    pts = parsed.filter(
        (F.col("plat7") == F.col("lat7")) & (F.col("plon7") == F.col("lon7"))
    ).select("point_id", "lat7", "lon7")
    joined = pip_join(pts, ADMIN_BOUNDARIES, how="inner")
    return (
        joined.select(
            "boundary_id",
            tiles.tile_x(F.col("lon7"), 13).alias("tx"),
            tiles.tile_y(F.col("lat7"), 13).alias("ty"),
        )
        .groupBy("boundary_id", "tx", "ty")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _kmv_oracle() -> str:
    from osmgraft.operators.stats import sql_kmv_distinct
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("event_id")
    cte = f"""SELECT user_id,
  {tiles.sql_tile_x('lon7', 6)} AS tx, {tiles.sql_tile_y('lat7', 6)} AS ty
FROM (SELECT user_id, {lat} AS lat7, {lon} AS lon7 FROM events)"""
    return sql_kmv_distinct(cte, ["tx", "ty"], "user_id", k=32)


@register("kmv_distinct_users_z6", _kmv_oracle())
def kmv_distinct_users_z6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per z6 tile via the K-Minimum-Values
    sketch (k=32) — deterministic and engine-neutral (portable md5-prefix
    hash), so an APPROXIMATE algorithm gets an EXACT cross-engine hash gate
    (library HLL/KLL sketches never can). Exact count below k distinct;
    WindowGroupLimit keeps the per-partition shuffle at k rows per group.
    Mergeability (the property that makes it a 100 TB partial aggregate) is
    pinned in test_stats.py."""
    from osmgraft.operators.stats import kmv_distinct
    from osmgraft.synth import latlon_of_key

    ev = read_fixture(spark, sf_dir, "events")
    lat, lon = latlon_of_key(F.col("event_id"))
    rows = ev.select(
        "user_id",
        tiles.tile_x(lon, 6).alias("tx"),
        tiles.tile_y(lat, 6).alias("ty"),
    )
    return kmv_distinct(rows, ["tx", "ty"], "user_id", k=32)


# radii sized so the ring pitch (2^15 = 32768 ~ 0.0033 deg) subdivides the
# synth hot boxes (+-0.04 deg) into ~600 cells: candidate pairs stay
# local-density-bounded (the celljoin promise) instead of collapsing the
# whole hot box into one cell (the r14 bench found 100k-unit radii cost
# 25 s at sf0.1 purely from that collapse)
_RIPLEY_RADII = [6_250, 12_500, 25_000]  # ~0.0006 / 0.00125 / 0.0025 deg
_RIPLEY_SHIFT = 15  # pitch 32768 >= max radius -> 3x3 ring provably complete


def _ripley_oracle() -> str:
    from osmgraft.operators.pointpat import sql_ripley_k

    return sql_ripley_k(sql_points_cte().replace("point_id", "pid")
                        .replace("lat7", "y").replace("lon7", "x"),
                        _RIPLEY_RADII, _RIPLEY_SHIFT)


@register("ripley_k_pairs", _ripley_oracle())
def ripley_k_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ripley's K-function pair counts (operators/pointpat.ripley_k, Ripley
    1976/77) at three radii over the order points — the POINT-level member
    of the spatial-stats family (Moran's I / Gi* / join counts are its
    cell-raster kin): exact unordered pair counts at d² <= r², candidates
    bounded by the celljoin ring discipline (pitch >= max radius makes the
    3x3 ring provably complete — local-density cost, never global n²).
    Spark scatters one side to 9 buckets (one equi-join evaluates ALL
    radii); the DuckDB twin gathers over the offset range — two evaluation
    orders, one exact hash. The K normalization A·2·cnt/(n(n-1)) is a
    constant rational left to the consumer."""
    from osmgraft.operators.pointpat import ripley_k
    from osmgraft.synth import points_from_orders

    pts = points_from_orders(spark, sf_dir).select(
        F.col("point_id").alias("pid"),
        F.col("lon7").alias("x"),
        F.col("lat7").alias("y"),
    )
    return ripley_k(pts, _RIPLEY_RADII, _RIPLEY_SHIFT)


def _g_fn_oracle() -> str:
    from osmgraft.operators.pointpat import sql_nn_g_function

    return sql_nn_g_function(sql_points_cte().replace("point_id", "pid")
                             .replace("lat7", "y").replace("lon7", "x"),
                             _RIPLEY_RADII, _RIPLEY_SHIFT)


@register("nn_g_function", _g_fn_oracle())
def nn_g_function_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbour G-function at the Ripley radii (operators/
    pointpat.nn_g_function, Diggle 1983 lineage): the fraction of points
    whose NEAREST neighbour lies within r — K's nearest-only companion
    (K counts all pairs; G reads the gap structure), over the same
    provably-complete grid ring.  Exact (r, n_pts, n_within) rows; ring
    pairs → both orientations → grouped min d² → conditional sums.

    100 TB: local-density-bounded candidates, map-side-combinable aggs,
    no window, no n²."""
    from osmgraft.operators.pointpat import nn_g_function
    from osmgraft.synth import points_from_orders

    pts = points_from_orders(spark, sf_dir).select(
        F.col("point_id").alias("pid"),
        F.col("lon7").alias("x"),
        F.col("lat7").alias("y"),
    )
    return nn_g_function(pts, _RIPLEY_RADII, _RIPLEY_SHIFT)


def _knox_oracle() -> str:
    from osmgraft.operators.pointpat import sql_knox
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("o_orderkey")
    cte = (
        f"SELECT o_orderkey AS pid, {lon} AS x, {lat} AS y, "
        f"CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))"
        f" AS BIGINT) AS t FROM orders"
    )
    return sql_knox(cte, delta=25_000, tau=7, shift=_RIPLEY_SHIFT)


@register("knox_space_time", _knox_oracle())
def knox_space_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Knox space-time interaction statistic (operators/pointpat.knox, Knox
    1964) over order points with t = order date in days: exact counts of
    pairs close in space (d² <= δ², δ = 0.0025°), close in time (|Δt| <= 7
    days), and close in BOTH — the epidemiology/event-clustering test's
    integer ingredients. The joint and space counts ride ONE ring
    self-join; the time marginal folds the daily histogram against its
    ±7-day window (O(days·τ), never pairs). Exact cross-engine hash on a
    single 4-column row."""
    from osmgraft.operators.pointpat import knox
    from osmgraft.synth import latlon_of_key

    o = read_fixture(spark, sf_dir, "orders")
    lat, lon = latlon_of_key(F.col("o_orderkey"))
    pts = o.select(
        F.col("o_orderkey").alias("pid"),
        lon.alias("x"),
        lat.alias("y"),
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).cast("long").alias("t"),
    )
    return knox(pts, delta=25_000, tau=7, shift=_RIPLEY_SHIFT)


def _assoc_oracle() -> str:
    from osmgraft.operators.stats import sql_contingency_assoc

    return sql_contingency_assoc(
        "SELECT lang, source FROM documents", "lang", "source"
    )


@register("lang_source_assoc", _assoc_oracle())
def lang_source_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association cells of the lang × source contingency table (operators/
    stats.contingency_assoc, Pearson 1900 / Haberman 1973 adjusted
    residuals): per category pair the observed count, all marginals, and
    an exact enriched/depleted/none class — |residual| ≥ 2 decided by the
    cross-multiplied DECIMAL(38)/HUGEINT inequality
    N(NO−RC)² ≥ z²·RC(N−R)(N−C), no √, no division.  The cell-level
    companion to cube_lang_source (which counts) and auc_lang_by_source
    (which ranks): this one TESTS independence.

    100 TB shape: three category-domain hash aggs + broadcast dimension
    joins — never touches row-count-sized state."""
    from osmgraft.operators.stats import contingency_assoc

    docs = ensure_min_parallelism(
        read_fixture(spark, sf_dir, "documents")
    ).select("lang", "source")
    return contingency_assoc(docs, "lang", "source")


def _benford_oracle() -> str:
    from osmgraft.operators.stats import sql_benford_deviation

    return sql_benford_deviation(
        "SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents"
        " FROM lineitem",
        "cents",
    )


@register("benford_prices", _benford_oracle())
def benford_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of lineitem prices (operators/stats.
    benford_deviation, Newcomb 1881 / Benford 1938 / Nigrini's forensic
    screen): leading decimal digit of the cents value — extracted as the
    first char of the integer's decimal string, no logs — vs the published
    log10(1+1/d) expectations carried as EXACT ppm constants (they sum to
    10⁶); per digit an over/under/ok class from the cross-multiplied
    binomial z-test in DECIMAL(38)/HUGEINT.  The fabricated-data /
    unit-mixing screen of the curation family (profile_documents measures
    shape; this tests a LAW).

    100 TB: one 9-bucket map-side-combinable agg + a 1-row broadcast."""
    from osmgraft.operators.stats import benford_deviation

    li = ensure_min_parallelism(read_fixture(spark, sf_dir, "lineitem"))
    cents = li.select(
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long").alias("cents")
    )
    return benford_deviation(cents, "cents")


def _ams_oracle() -> str:
    from osmgraft.operators.stats import sql_ams_f2
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("event_id")
    cte = f"""SELECT user_id,
  {tiles.sql_tile_x('lon7', 6)} AS tx, {tiles.sql_tile_y('lat7', 6)} AS ty
FROM (SELECT user_id, {lat} AS lat7, {lon} AS lon7 FROM events)"""
    return sql_ams_f2(cte, ["tx", "ty"], "user_id")


@register("ams_f2_users_z6", _ams_oracle())
def ams_f2_users_z6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS tug-of-war F2 sketch per z6 tile (operators/stats.ams_f2, Alon,
    Matias & Szegedy STOC 1996): the second frequency moment Σf_v² of the
    per-user activity distribution — the repeat-concentration/self-join-
    size statistic — estimated by 16 salted-md5 ±1 sign sums reduced
    median-of-means (4 groups of 4, lower median, division carried as
    est_num/est_den).  Exact F2 rides along for row-level auditability;
    test_stats.py pins the estimator's relative error.  Completes the
    portable-sketch family: KMV/HLL (F0), CM (point freq), Bloom
    (membership), AMS (F2) — every ingredient an exact integer, so the
    approximate sketch hash-gates cross-engine.

    100 TB shape: one map-side-combinable 17-column hash agg (no explode —
    sketch width is columnar), one per-(tile,user) count agg; no joins
    beyond the final 1:1."""
    from osmgraft.operators.stats import ams_f2
    from osmgraft.synth import latlon_of_key

    ev = ensure_min_parallelism(read_fixture(spark, sf_dir, "events"))
    lat, lon = latlon_of_key(F.col("event_id"))
    rows = ev.select(
        "user_id",
        tiles.tile_x(lon, 6).alias("tx"),
        tiles.tile_y(lat, 6).alias("ty"),
    )
    return ams_f2(rows, ["tx", "ty"], "user_id")


def _allen_oracle() -> str:
    from osmgraft.operators.asof import sql_allen_relations

    iv = """SELECT user_id, event_type,
         CAST(floor(epoch(min(ts))) AS BIGINT) AS s,
         CAST(floor(epoch(max(ts))) AS BIGINT) AS e
  FROM events GROUP BY 1, 2"""
    return sql_allen_relations(iv, ["user_id"], "event_type", "s", "e")


@register("allen_user_type_intervals", _allen_oracle())
def allen_user_type_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allen interval-algebra classification (operators/asof.
    allen_relations, Allen CACM 1983) between each user's per-event-type
    activity spans [first ts, last ts]: every unordered type pair labeled
    with one of the 13 qualitative temporal relations (precedes … equals
    … preceded_by) by exact integer comparisons — the temporal-reasoning
    vocabulary overlap/containment queries reduce to, as data.  The
    interval-SEMANTICS companion to asof_user_state (which joins) and
    user_active_coverage (which measures).  Point-interval ties resolved
    by the pinned first-match order — one CASE text, both engines.

    100 TB: within-user self-join on the per-(user, type) AGGREGATE
    (≤C(types,2) pairs per user), codegen CASE, no floats."""
    from osmgraft.operators.asof import allen_relations

    ev = ensure_min_parallelism(read_fixture(spark, sf_dir, "events"))
    iv = ev.groupBy("user_id", "event_type").agg(
        F.floor(F.unix_timestamp(F.min("ts"))).cast("long").alias("s"),
        F.floor(F.unix_timestamp(F.max("ts"))).cast("long").alias("e"),
    )
    return allen_relations(iv, ["user_id"], "event_type", "s", "e")


def _dispersion_oracle() -> str:
    from osmgraft.operators.pointpat import sql_dispersion_ellipse

    pts = f"""SELECT {tiles.sql_tile_x('lon7', 6)} AS tx,
         {tiles.sql_tile_y('lat7', 6)} AS ty, lon7 AS x, lat7 AS y
  FROM ({_PTS})"""
    return sql_dispersion_ellipse(pts, ["tx", "ty"])


@register("tile_dispersion_z6", _dispersion_oracle())
def tile_dispersion_z6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard-deviational-ellipse dispersion per z6 tile (operators/
    pointpat.dispersion_ellipse, Lefever 1926 / the ArcGIS directional-
    distribution summary): exact translation-invariant central moments
    over quantized order points, the major-axis ORIENTATION as the octant
    of the doubled-angle vector (c20−c02, 2c11) — the shared movement-rose
    sector rule's third domain after track steps and image gradients — and
    a compact/elongated class from the cross-multiplied eccentricity
    inequality 4(a²+b²) ≥ tr² in DECIMAL(38)/HUGEINT.  No atan2, no √,
    no eigen-solver: the whole ellipse pipeline reduced to integer algebra.

    100 TB: ONE map-side-combinable hash agg (5 sums + count), no joins."""
    from osmgraft.operators.pointpat import dispersion_ellipse
    from osmgraft.synth import points_from_orders

    pts = points_from_orders(spark, sf_dir).select(
        tiles.tile_x(F.col("lon7"), 6).alias("tx"),
        tiles.tile_y(F.col("lat7"), 6).alias("ty"),
        F.col("lon7").alias("x"),
        F.col("lat7").alias("y"),
    )
    return dispersion_ellipse(pts, ["tx", "ty"])


def _hll_oracle() -> str:
    from osmgraft.operators.stats import sql_hll_distinct
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("event_id")
    cte = f"""SELECT user_id,
  {tiles.sql_tile_x('lon7', 6)} AS tx, {tiles.sql_tile_y('lat7', 6)} AS ty
FROM (SELECT user_id, {lat} AS lat7, {lon} AS lon7 FROM events)"""
    return sql_hll_distinct(cte, ["tx", "ty"], "user_id")


@register("hll_distinct_users_z6", _hll_oracle())
def hll_distinct_users_z6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per z6 tile via HyperLogLog (p=6, classic
    32-bit form) in the portable-sketch discipline (operators/stats.
    hll_distinct): md5-prefix hash, exact-integer registers, indicator sum
    and raw estimate (α₆₄ = 709/1000 carried rationally), correction-branch
    selection by exact integer comparison — an approximate sketch with an
    EXACT cross-engine hash gate, registered beside kmv_distinct_users_z6
    so the two estimators cross-check on one population (test_stats.py pins
    both within tolerance of truth). Register-wise max is the canonical
    100 TB partial aggregate: two narrow map-side-combined shuffles,
    ≤64 rows per group."""
    from osmgraft.operators.stats import hll_distinct
    from osmgraft.synth import latlon_of_key

    ev = read_fixture(spark, sf_dir, "events")
    lat, lon = latlon_of_key(F.col("event_id"))
    rows = ev.select(
        "user_id",
        tiles.tile_x(lon, 6).alias("tx"),
        tiles.tile_y(lat, 6).alias("ty"),
    )
    return hll_distinct(rows, ["tx", "ty"], "user_id")


def _kmv_intersect_oracle() -> str:
    from osmgraft.operators.stats import sql_kmv_intersect

    return sql_kmv_intersect(
        "SELECT event_type, user_id FROM events", "event_type", "user_id", k=32
    )


@register("kmv_intersect_event_types", _kmv_intersect_oracle())
def kmv_intersect_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise user-audience overlap between event types from KMV sketches
    (theta-sketch intersection rule): common kept hashes below
    theta = min(kth_a, kth_b), scaled by 2^48 div theta. Deterministic
    portable hash -> approximate set algebra with an exact cross-engine
    gate; everything after the sketch is sketch-sized (k rows per group)."""
    from osmgraft.operators.stats import kmv_intersect

    ev = read_fixture(spark, sf_dir, "events")
    return kmv_intersect(ev.select("event_type", "user_id"), "event_type", "user_id", k=32)


def _colocation_oracle() -> str:
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("event_id")
    return f"""WITH pos AS (
  SELECT user_id, ts, {lat} AS lat7, {lon} AS lon7 FROM events
),
v AS (
  SELECT DISTINCT user_id,
         {tiles.sql_tile_x('lon7', 5)} AS tx, {tiles.sql_tile_y('lat7', 5)} AS ty,
         CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hb
  FROM pos
)
SELECT a.user_id AS user_a, b.user_id AS user_b, count(*) AS co_hours
FROM v a JOIN v b ON a.tx = b.tx AND a.ty = b.ty AND a.hb = b.hb
                 AND a.user_id < b.user_id
GROUP BY 1, 2"""


@register("colocation_pairs", _colocation_oracle())
def colocation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatiotemporal co-location join (the contact-tracing / co-occurrence
    shape): users who visited the SAME z5 tile in the SAME hour bucket, as
    distinct-visit pairs with their co-located-hour counts. Plan: one
    distinct over (user, tile, hour) — map-side combined — then a self
    equi-join on the (tile, hour) composite key (hot tiles are exactly the
    AQE skew-split surface) and a pair count. All integer; twin shares the
    tile/epoch text."""
    from osmgraft.synth import latlon_of_key

    ev = read_fixture(spark, sf_dir, "events")
    lat, lon = latlon_of_key(F.col("event_id"))
    v = ev.select(
        "user_id",
        tiles.tile_x(lon, 5).alias("tx"),
        tiles.tile_y(lat, 5).alias("ty"),
        F.expr("unix_timestamp(ts) div 3600").alias("hb"),
    ).distinct()
    a = v.select(
        F.col("user_id").alias("user_a"), "tx", "ty", "hb"
    )
    b = v.select(
        F.col("user_id").alias("user_b"), "tx", "ty", "hb"
    )
    return (
        a.join(b, ["tx", "ty", "hb"])
        .where(F.col("user_a") < F.col("user_b"))
        .groupBy("user_a", "user_b")
        .agg(F.count(F.lit(1)).alias("co_hours"))
    )


def _geojson_oracle() -> str:
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("o_orderkey")
    return f"""WITH pts AS (
  SELECT o_custkey % 199 AS ent, {lat} AS lat7, {lon} AS lon7 FROM orders
)
SELECT ent, count(*) AS n_vertices,
       CAST(sum(CAST(lat7 AS BIGINT) + 2 * CAST(lon7 AS BIGINT)) AS BIGINT) AS coord_checksum
FROM pts GROUP BY ent"""


@register("geojson_roundtrip_tracks", _geojson_oracle())
def geojson_roundtrip_tracks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoJSON interchange roundtrip: per-entity tracks are serialized as
    RFC 7946 LineString Features with EXACT-decimal coordinate text
    (functions/geojson.py — no float formatting anywhere), then read back
    through Spark's real JSON parser and the half-away fixed-point codec.
    The output (per-ent vertex count + an order-free integer checksum with
    lon weighted 2x, so a lon/lat axis swap cannot cancel) must match the
    oracle's closed-form geometry — any serialization, nesting, axis-order,
    or precision bug flips the hash. One shuffle to assemble features, one
    to re-aggregate the parsed vertices."""
    from osmgraft.functions.geojson import (
        parse_linestring_features,
        sql_linestring_feature,
        sql_position,
    )
    from osmgraft.synth import latlon_of_key

    o = read_fixture(spark, sf_dir, "orders")
    lat, lon = latlon_of_key(F.col("o_orderkey"))
    pts = o.select(
        (F.col("o_custkey") % 199).alias("ent"),
        F.col("o_orderkey").alias("seq"),
        lat.alias("lat7"),
        lon.alias("lon7"),
    )
    pos = pts.select("ent", "seq", F.expr(sql_position("lon7", "lat7")).alias("s"))
    feats = pos.groupBy("ent").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("seq").alias("seq"), F.col("s").alias("s")))
                ),
                lambda e: e["s"],
            ),
            ",",
        ).alias("coords")
    ).select(F.expr(sql_linestring_feature("ent", "coords")).alias("feature"))
    vertices = parse_linestring_features(feats, "feature")
    return vertices.groupBy("ent").agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.sum(F.col("lat7") + 2 * F.col("lon7")).alias("coord_checksum"),
    )


def _polyline_oracle() -> str:
    from osmgraft.functions.polyline import sql_chunks, sql_round_e5, sql_zigzag
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("o_orderkey")
    return f"""WITH pts AS (
  SELECT o_custkey % 199 AS ent, o_orderkey AS seq, {lat} AS lat7, {lon} AS lon7
  FROM orders
),
e5 AS (SELECT ent, seq, {sql_round_e5('lat7')} AS lat5, {sql_round_e5('lon7')} AS lon5 FROM pts),
d AS (SELECT ent, seq,
        lat5 - coalesce(lag(lat5) OVER (PARTITION BY ent ORDER BY seq), 0) AS d_lat,
        lon5 - coalesce(lag(lon5) OVER (PARTITION BY ent ORDER BY seq), 0) AS d_lon
      FROM e5),
z AS (SELECT ent, seq, {sql_zigzag('d_lat')} AS zlat, {sql_zigzag('d_lon')} AS zlon FROM d),
s AS (SELECT ent, seq, ({sql_chunks('zlat')}) || ({sql_chunks('zlon')}) AS s FROM z)
SELECT ent, string_agg(s, '' ORDER BY seq) AS polyline FROM s GROUP BY ent"""


@register("polyline_tracks", _polyline_oracle())
def polyline_tracks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Google Encoded Polyline (precision 5) per entity track — the route
    interchange codec, built entirely from engine-neutral integer/chr SQL
    texts (functions/polyline.py; the hilbert.py shared-step discipline) so
    the encoded STRINGS hash identically cross-engine. One shuffle on ent
    (the delta lag window and the ordered concat share its sort); published
    Google example vector pinned in test_polyline.py."""
    from pyspark.sql import Window as W

    from osmgraft.functions.polyline import sql_chunks, sql_round_e5, sql_zigzag
    from osmgraft.synth import latlon_of_key

    o = read_fixture(spark, sf_dir, "orders")
    lat, lon = latlon_of_key(F.col("o_orderkey"))
    pts = o.select(
        (F.col("o_custkey") % 199).alias("ent"),
        F.col("o_orderkey").alias("seq"),
        lat.alias("lat7"),
        lon.alias("lon7"),
    )
    e5 = pts.select(
        "ent",
        "seq",
        F.expr(sql_round_e5("lat7")).alias("lat5"),
        F.expr(sql_round_e5("lon7")).alias("lon5"),
    )
    w = W.partitionBy("ent").orderBy("seq")
    d = e5.select(
        "ent",
        "seq",
        (F.col("lat5") - F.coalesce(F.lag("lat5").over(w), F.lit(0))).alias("d_lat"),
        (F.col("lon5") - F.coalesce(F.lag("lon5").over(w), F.lit(0))).alias("d_lon"),
    )
    z = d.select(
        "ent",
        "seq",
        F.expr(sql_zigzag("d_lat")).alias("zlat"),
        F.expr(sql_zigzag("d_lon")).alias("zlon"),
    )
    s = z.select(
        "ent",
        "seq",
        F.expr(f"({sql_chunks('zlat')}) || ({sql_chunks('zlon')})").alias("s"),
    )
    return s.groupBy("ent").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("seq").alias("seq"), F.col("s").alias("s")))
                ),
                lambda e: e["s"],
            ),
            "",
        ).alias("polyline")
    )


def _idw_oracle() -> str:
    from osmgraft.operators.density import sql_idw_terms

    cte = f"SELECT point_id, lat7, lon7, (point_id * 7919) % 1000 AS v FROM ({_PTS})"
    return sql_idw_terms(cte, pitch=100_000, radius_cells=2)


@register("idw_grid_p01", _idw_oracle())
def idw_grid_p01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-distance-squared (Shepard) interpolation of a scattered sample
    value onto the occupied 0.01°-grid cells — exact integer terms
    (idw_num, idw_den), quantized weights w = 2^36 div max(d2,1), wrap-aware
    metric; the estimate division is never taken (ring-centroid discipline).
    One explode + cell equi-join + map-side-combined aggregation; DuckDB twin
    shares the weight/metric text with a direct offset cross join."""
    from osmgraft.operators.density import idw_terms

    pts = points_from_orders(spark, sf_dir)
    samples = pts.withColumn("v", (F.col("point_id") * 7919) % 1000)
    return idw_terms(samples, pitch=100_000, radius_cells=2)


def _dbscan_oracle() -> str:
    from osmgraft.operators.dbscan import sql_dbscan

    return sql_dbscan(_PTS, eps=15_000, min_pts=8)


@register("dbscan_clusters", _dbscan_oracle())
def dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN over the point table (eps = 0.0015°, min_pts = 8): the classic
    density clustering producing core/border/noise roles and deterministic
    min-id cluster labels (border points attach to their MINIMUM reachable
    cluster — scan-order-free, so the output is a pure function of the
    input). Spark: one eps-grid candidate equi-join + cc_star (O(log n)
    rounds) on the core graph; DuckDB twin: identical candidate/metric text
    but recursive-CTE transitive closure — two algorithms, one hash.
    The synthetic hot spots (NYC/London/Tokyo jitter boxes) supply genuine
    density structure; the sparse background stays noise."""
    from osmgraft.operators.dbscan import dbscan

    return dbscan(points_from_orders(spark, sf_dir), eps=15_000, min_pts=8)


def _exif_oracle() -> str:
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("idx")
    return f"""WITH idxs AS (SELECT row_number() OVER () - 1 AS idx FROM orders),
pts AS (
  SELECT {lat} AS lat7, {lon} AS lon7
  FROM idxs WHERE idx % 97 <> 0
)
SELECT {tiles.sql_tile_x('lon7', 10)} AS tx, {tiles.sql_tile_y('lat7', 10)} AS ty,
       count(*) AS cnt
FROM pts GROUP BY tx, ty"""


@register("exif_gps_tiles", _exif_oracle())
def exif_gps_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The metadata leg of the north star's geo-tagged image pipeline:
    coordinates travel ONLY inside each row's Exif APP1 GPS IFD (real TIFF
    wire format, functions/exif.py), are recovered by the segment/IFD walker
    (operators/multimodal.exif_gps), gated for exact fixed-point roundtrip
    against the stored columns (any rational-math or walker bug drops rows
    and fails the hash — the caption-leg discipline of image_geo_tiles),
    then z10-tile-assigned and counted.

    The oracle recomputes coordinates arithmetically and drops the planted
    corrupt rows (idx % 97 == 0) — the EXIF encode∘parse roundtrip exists
    only on the Spark side, so wire-format fidelity at BOTH endiannesses and
    decoy-segment skipping are part of the gate. Scale: header-bounded Arrow
    kernel, no shuffle before the tile aggregate."""
    from osmgraft.operators.multimodal import exif_gps
    from osmgraft.synth import synth_exif_images

    n = read_fixture(spark, sf_dir, "orders").count()
    imgs = synth_exif_images(spark, n)
    parsed = exif_gps(imgs, passthrough=("lat7", "lon7"))
    pts = parsed.filter(
        (F.col("plat7") == F.col("lat7")) & (F.col("plon7") == F.col("lon7"))
    )
    return (
        pts.select(
            tiles.tile_x(F.col("plon7"), 10).alias("tx"),
            tiles.tile_y(F.col("plat7"), 10).alias("ty"),
        )
        .groupBy("tx", "ty")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# --- raster↔vector: polygon -> tile-grid rasterization --------------------------
def _bbox_values() -> str:
    """Pre-split bbox rows (antimeridian wrap handled by cover_bboxes, shared
    with the Spark operator) — the SQL twin only rasterizes ranges."""
    from osmgraft.operators.raster import cover_bboxes
    from osmgraft.synth import COVER_BOUNDARIES

    return ",".join(
        f"({bid},{la0},{lo0},{la1},{lo1})"
        for bid, la0, lo0, la1, lo1 in cover_bboxes(COVER_BOUNDARIES, 10)
    )


_PYRAMID_LEVELS = "\nUNION ALL\n".join(
    f"""SELECT {z} AS z, {tiles.sql_tile_x('lon7', z)} AS tx,
       {tiles.sql_tile_y('lat7', z)} AS ty, count(*) AS cnt
FROM pts GROUP BY 2, 3"""
    for z in range(13, 7, -1)
)


@register("tile_pyramid_z13_8", f"WITH pts AS ({_PTS})\n{_PYRAMID_LEVELS}")
def tile_pyramid_z13_8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile-pyramid rollup z13→z8: ONE raw-table aggregation at z13, then
    log-depth re-aggregation of the per-tile aggregates (child (x,y) →
    parent (x>>1, y>>1); slippy tiles quadtree-nest exactly, so floor
    nesting makes aggregate-reuse lossless). The oracle recomputes every
    level independently from the raw points — any drift in the rollup
    identity fails the hash. Scale: grouping-sets over raw re-shuffles the
    full table once per level; this shuffles it once total."""
    from osmgraft.operators.raster import tile_pyramid
    from osmgraft.synth import points_from_orders

    return tile_pyramid(points_from_orders(spark, sf_dir), z_max=13, z_min=8)


@register(
    "boundary_tile_cover_z10",
    f"""WITH bbox(boundary_id, lat_min, lon_min, lat_max, lon_max) AS (VALUES {_bbox_values()}),
t AS (SELECT boundary_id,
  {tiles.sql_tile_x('lon_min', 10)} AS tx0, {tiles.sql_tile_x('lon_max', 10)} AS tx1,
  {tiles.sql_tile_y('lat_max', 10)} AS ty0, {tiles.sql_tile_y('lat_min', 10)} AS ty1
  FROM bbox),
nums AS (SELECT i FROM range(0, 1024) r(i))
SELECT boundary_id, t.tx0 + nx.i AS tx, t.ty0 + ny.i AS ty
FROM t JOIN nums nx ON nx.i <= t.tx1 - t.tx0
       JOIN nums ny ON ny.i <= t.ty1 - t.ty0""",
)
def boundary_tile_cover_z10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vector→raster: admin boundaries (incl. the antimeridian-wrapped
    fiji-wrap fixture) rasterized onto the z10 tile grid
    (operators/raster.py) — JVM sequence-explode, no Python."""
    from osmgraft.operators.raster import boundary_tile_cover
    from osmgraft.synth import COVER_BOUNDARIES

    return boundary_tile_cover(spark, COVER_BOUNDARIES, 10)


@register(
    "zonal_stats_z10",
    f"""WITH pts AS ({_PTS}),
cells AS (
  SELECT {tiles.sql_tile_x('lon7', 10)} AS tx, {tiles.sql_tile_y('lat7', 10)} AS ty,
         count(*) AS cnt
  FROM pts GROUP BY tx, ty),
bbox(boundary_id, lat_min, lon_min, lat_max, lon_max) AS (VALUES {_bbox_values()}),
t AS (SELECT boundary_id,
  {tiles.sql_tile_x('lon_min', 10)} AS tx0, {tiles.sql_tile_x('lon_max', 10)} AS tx1,
  {tiles.sql_tile_y('lat_max', 10)} AS ty0, {tiles.sql_tile_y('lat_min', 10)} AS ty1
  FROM bbox),
nums AS (SELECT i FROM range(0, 1024) r(i)),
cover AS (
  SELECT boundary_id, t.tx0 + nx.i AS tx, t.ty0 + ny.i AS ty
  FROM t JOIN nums nx ON nx.i <= t.tx1 - t.tx0
         JOIN nums ny ON ny.i <= t.ty1 - t.ty0)
SELECT boundary_id, count(*) AS tiles_hit,
       CAST(sum(cnt) AS BIGINT) AS total, CAST(max(cnt) AS BIGINT) AS max_cnt
FROM cells JOIN cover USING (tx, ty)
GROUP BY boundary_id""",
)
def zonal_stats_z10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics (operators/raster.py zonal_stats): per-boundary
    rollup of the z10 point raster over each boundary's tile cover —
    occupied-tile count, total points, hottest tile.  The raster↔vector
    composition closer: tile_counts (raster) × boundary_tile_cover (vector
    rasterization) in ONE broadcast equi-join — the 100 TB point table is
    shuffled exactly once (the tile aggregation); the polygon side never
    causes a second exchange."""
    from osmgraft.operators.raster import boundary_tile_cover, zonal_stats
    from osmgraft.synth import COVER_BOUNDARIES

    pts = points_from_orders(spark, sf_dir)
    cells = (
        pts.select(
            tiles.tile_x(F.col("lon7"), 10).alias("tx"),
            tiles.tile_y(F.col("lat7"), 10).alias("ty"),
        )
        .groupBy("tx", "ty")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return zonal_stats(cells, boundary_tile_cover(spark, COVER_BOUNDARIES, 10))


from osmgraft.operators.simplify import DP_EPS, sql_dp_expected  # noqa: E402


@register("way_simplify_dp", sql_dp_expected())
def way_simplify_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Douglas-Peucker way simplification (operators/simplify.py) with
    EXACT integer perpendicular-distance tests (arbitrary-precision cross
    products — no float can flip a vertex).  Spec-as-oracle gate: the
    fixture staircase paths carry exactly-collinear subdivisions plus
    known 0.9-mdeg bumps, so DuckDB states the kept set (corners + bumps)
    in closed form while Spark runs the real recursion on shuffled ways."""
    from osmgraft.operators.simplify import dp_fixture_df, simplify_ways

    return simplify_ways(dp_fixture_df(spark, sf_dir), eps7=DP_EPS)


@register(
    "image_augment_identity",
    """WITH idxs AS (SELECT row_number() OVER () - 1 AS idx FROM orders),
capped AS (SELECT idx FROM idxs WHERE idx < 800)
SELECT concat('img', lpad(CAST(idx AS VARCHAR), 12, '0')) AS image_id,
       TRUE AS caption_ok, TRUE AS pixels_exact, TRUE AS psnr_ok
FROM capped WHERE (idx + idx // 25) % 5 IN (0, 1, 3)""",
)
def image_augment_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Augmentation correctness as a closed-form hash gate: rot90 ∘ rot90 ∘
    hflip ∘ vflip composes to the identity (pure index permutations), so
    running the lossless-format rows through that chain and the per-row
    fidelity operator must yield pixels_exact = TRUE for EVERY row — which
    rows exist and every output cell are fully specified, so the DuckDB
    twin is the specification itself. Any off-by-one in any flip/rotation
    axis, any (w, h) swap bug, or any re-encode corruption flips a cell and
    breaks the hash."""
    from osmgraft.operators.multimodal import image_augment, roundtrip_fidelity
    from osmgraft.synth import synth_images

    n = min(read_fixture(spark, sf_dir, "orders").count(), 800)
    imgs = synth_images(spark, n).filter(F.col("fmt").isin("raw", "ppm", "png"))
    chain = image_augment(
        image_augment(
            image_augment(image_augment(imgs, "rot90"), "rot90"), "hflip"
        ),
        "vflip",
    )
    return roundtrip_fidelity(imgs, chain).select(
        "image_id", "caption_ok", "pixels_exact", "psnr_ok"
    )


@register(
    "image_patches_roundtrip",
    """WITH idxs AS (SELECT row_number() OVER () - 1 AS idx FROM orders),
capped AS (SELECT idx FROM idxs WHERE idx < 800)
SELECT concat('img', lpad(CAST(idx AS VARCHAR), 12, '0')) AS image_id,
       TRUE AS caption_ok, TRUE AS pixels_exact, TRUE AS psnr_ok
FROM capped WHERE (idx + idx // 25) % 5 IN (0, 1, 3)""",
)
def image_patches_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patch decomposition correctness as a closed-form hash gate
    (the image_augment_identity discipline): unpatchify ∘ image_patches is
    the identity by construction — cropped remainder patches keep it exact
    on non-multiple-of-16 sides — so running the lossless rows through the
    16×16 grid and back must yield pixels_exact = TRUE for EVERY row, and
    the DuckDB twin is the specification itself. Any offset, (w, h) swap,
    remainder-crop, placement-order, or reassembly bug flips a pixel and
    breaks the hash. operators/multimodal.py image_patches/unpatchify."""
    from osmgraft.operators.multimodal import (
        image_patches,
        roundtrip_fidelity,
        unpatchify,
    )
    from osmgraft.synth import synth_images

    n = min(read_fixture(spark, sf_dir, "orders").count(), 800)
    imgs = synth_images(spark, n).filter(F.col("fmt").isin("raw", "ppm", "png"))
    back = unpatchify(image_patches(imgs, patch=16))
    return roundtrip_fidelity(imgs, back).select(
        "image_id", "caption_ok", "pixels_exact", "psnr_ok"
    )


@register("tile_render_mvt_z10", None)  # protobuf output: no SQL twin
def tile_render_mvt_z10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VECTOR tile-server materialization: z13 counts per z10 parent encoded
    as real Mapbox Vector Tiles (hand-built protobuf, functions/mvt.py) —
    the vector sibling of tile_render_png_z10. Rows-only (SQL cannot emit
    protobuf) but — unlike PNG — the bytes have NO compressor variance, so
    pytest pins a sha256 over the exact tile bytes and a generic wire-format
    decoder roundtrips every feature (tests/test_tiles.py)."""
    from osmgraft.operators.raster import render_tile_mvt

    pts = points_from_orders(spark, sf_dir)
    counts = (
        pts.select(
            tiles.tile_x(F.col("lon7"), 13).alias("tx"),
            tiles.tile_y(F.col("lat7"), 13).alias("ty"),
        )
        .groupBy("tx", "ty")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return render_tile_mvt(counts, z=13, parent_z=10).select(
        "z", "tx", "ty", F.length("mvt").alias("mvt_bytes"), "n_features"
    )


@register("tile_render_png_z10", None)  # binary PNG output: no SQL twin
def tile_render_png_z10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster tile-server materialization: z13 counts rasterized per z10
    parent into integer-exact heat rasters and encoded as real PNGs — the
    op that joins the engine's spatial-aggregation and image-codec halves.
    Rows-only here (an SQL twin cannot deflate PNGs); pytest pins a sha256
    over the DECODED rasters and verifies every PNG decodes to the local
    reconstruction (tests/test_tiles.py)."""
    from osmgraft.operators.raster import render_tile_pngs

    pts = points_from_orders(spark, sf_dir)
    counts = (
        pts.select(
            tiles.tile_x(F.col("lon7"), 13).alias("tx"),
            tiles.tile_y(F.col("lat7"), 13).alias("ty"),
        )
        .groupBy("tx", "ty")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # PNG bytes vary legally with zlib version: expose the stable columns
    return render_tile_pngs(counts, z=13, parent_z=10, size=64).select(
        "z", "tx", "ty", F.length("png").alias("png_bytes"), "n_points"
    )


def _way_lengths_oracle() -> str:
    from osmgraft.geom import sql_haversine_m_int

    seg = sql_haversine_m_int("pa.lat7", "pa.lon7", "pb.lat7", "pb.lon7")
    return f"""WITH pts AS ({_PTS}),
o AS (SELECT o_orderkey, o_custkey FROM orders),
seq AS (SELECT o_custkey, o_orderkey AS node,
        lead(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS nxt
        FROM o),
segs AS (SELECT s.o_custkey, {seg} AS seg_m
         FROM seq s
         JOIN pts pa ON pa.point_id = s.node
         JOIN pts pb ON pb.point_id = s.nxt
         WHERE s.nxt IS NOT NULL)
SELECT o_custkey AS way_id, count(*) AS n_segs, sum(seg_m)::BIGINT AS length_m
FROM segs GROUP BY o_custkey"""


@register("way_lengths_geodesic", _way_lengths_oracle())
def way_lengths_geodesic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic way length (haversine over consecutive resolved nodes) —
    the geometry-construction step past the reference's id-level way→node
    resolution.  Per-segment distances round to INTEGER meters with an
    expression-shape-identical twin in both engines (meter granularity sits
    far above cross-library trig ulp noise; micrometers measurably flaked),
    so the per-way SUM is an associative integer sum: order-free, bitwise
    parallelism-invariant, hash-gated (float sums would depend on partition
    order).  Plan: one
    window (lead) per way partition + two position joins + a map-side
    combined integer aggregation."""
    from pyspark.sql import Window as W

    from osmgraft.geom import haversine_m_col

    orders = read_fixture(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    pts = points_from_orders(spark, sf_dir)
    w = W.partitionBy("o_custkey").orderBy("o_orderkey")
    seq = orders.select(
        "o_custkey",
        F.col("o_orderkey").alias("node"),
        F.lead("o_orderkey").over(w).alias("nxt"),
    ).where(F.col("nxt").isNotNull())
    pa = pts.select(
        F.col("point_id").alias("node"),
        F.col("lat7").alias("a_lat"),
        F.col("lon7").alias("a_lon"),
    )
    pb = pts.select(
        F.col("point_id").alias("nxt"),
        F.col("lat7").alias("b_lat"),
        F.col("lon7").alias("b_lon"),
    )
    segs = seq.join(pa, "node").join(pb, "nxt").select(
        "o_custkey",
        haversine_m_col(
            F.col("a_lat"), F.col("a_lon"), F.col("b_lat"), F.col("b_lon")
        ).alias("seg_m"),
    )
    return segs.groupBy(F.col("o_custkey").alias("way_id")).agg(
        F.count(F.lit(1)).alias("n_segs"), F.sum("seg_m").alias("length_m")
    )


@register(
    "stream_windowed_counts_1h",
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
       CAST(count(*) AS BIGINT) AS cnt
FROM events GROUP BY 1, 2""",
)
def stream_windowed_counts_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window counts per type with a 30-minute
    watermark (streaming/incremental.windowed_event_counts): the
    canonical Structured-Streaming aggregation — the watermark bounds
    RUNNING state (windows older than max-event-time − 30 min finalize),
    which is what makes the query runnable forever at 100 TB/day.
    Materialized here in COMPLETE mode over an availableNow snapshot so
    the gate sees every window including the not-yet-finalized tail
    (append mode only emits a window once the watermark passes it — the
    sessionize drain problem); the DuckDB twin is the batch date_trunc
    rollup — stream/batch parity as the gate (hour windows align to
    epoch hours in both engines)."""
    import tempfile

    from osmgraft.streaming import read_stream
    from osmgraft.streaming.incremental import windowed_event_counts

    src = tempfile.mkdtemp(prefix="og_wec_src_")
    ckpt = tempfile.mkdtemp(prefix="og_wec_ck_")
    read_fixture(spark, sf_dir, "events").write.mode("overwrite").parquet(src)
    stream = read_stream(
        spark, src,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    name = "og_stream_wec_q"
    q = (
        windowed_event_counts(stream)
        .select("window_start", "event_type", F.col("cnt").cast("long").alias("cnt"))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


@register(
    "stream_dedup_events",
    "SELECT event_id, user_id, event_type, value FROM events",
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup parity gate: the source parquet is written with EVERY
    event duplicated (two full copies); the stream dedups by event_id via
    dropDuplicatesWithinWatermark (bounded state — entries age out past the
    watermark, unlike plain dropDuplicates) and must hash-match the
    batch oracle that reads the original table once."""
    import tempfile

    from osmgraft.streaming import read_stream, stream_dedup

    src = tempfile.mkdtemp(prefix="og_dedup_src_")
    ckpt = tempfile.mkdtemp(prefix="og_dedup_ck_")
    ev = read_fixture(spark, sf_dir, "events")
    ev.unionByName(ev).write.mode("overwrite").parquet(src)
    stream = read_stream(
        spark, src,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    name = "og_stream_dedup_q"
    q = (
        stream_dedup(stream, ["event_id"])
        .select("event_id", "user_id", "event_type", "value")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


@register(
    "stream_interval_join_events",
    """SELECT a.user_id AS k, a.event_id AS a_id, b.event_id AS b_id
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.ts > b.ts AND a.ts <= b.ts + INTERVAL 60 SECONDS""",
)
def stream_interval_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with an event-time interval bound (state
    ages out via the two-sided watermark — the join Structured Streaming
    refuses to run unbounded).  Two independent stream readers over the
    same snapshot; the DuckDB twin is the identical interval join in batch
    SQL — stream/batch parity as the correctness gate."""
    import tempfile

    from osmgraft.streaming import read_stream, stream_interval_join

    src = tempfile.mkdtemp(prefix="og_ssj_src_")
    ckpt = tempfile.mkdtemp(prefix="og_ssj_ck_")
    read_fixture(spark, sf_dir, "events").write.mode("overwrite").parquet(src)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    a = read_stream(spark, src, schema)
    b = read_stream(spark, src, schema)
    name = "og_stream_ssj_q"
    q = (
        stream_interval_join(a, b, key="user_id", interval_seconds=60)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


# --- §2.10: OSC change-set apply (osmio osc/mod.rs create/modify/delete) --------
@register(
    "osc_apply_events",
    """WITH chg AS (
  SELECT event_id AS id,
         CASE WHEN event_id % 7 = 0 THEN 'delete' ELSE 'modify' END AS op,
         2 AS version, event_type, value + 1 AS value
  FROM events WHERE event_id % 5 = 0
  UNION ALL
  SELECT event_id + 100000000 AS id, 'create' AS op, 1 AS version,
         event_type, value
  FROM events WHERE event_id % 11 = 0
)
SELECT b.id, b.event_type, count(*) AS cnt FROM (
  SELECT e.event_id AS id, e.event_type, e.value
  FROM events e LEFT JOIN chg c ON c.id = e.event_id WHERE c.id IS NULL
  UNION ALL
  SELECT id, event_type, value FROM chg WHERE op <> 'delete'
) b GROUP BY b.id, b.event_type""",
)
def osc_apply_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OSC apply as a distributed upsert (operators.osm.osc_apply): a derived
    change set (modify every 5th event, delete every 35th, create new ids)
    applied to the events base; grouped projection so the oracle hash is
    float-free."""
    from osmgraft.operators.osm import osc_apply

    ev = read_fixture(spark, sf_dir, "events")
    base = ev.select(F.col("event_id").alias("id"), "event_type", "value")
    mods = ev.filter(F.col("event_id") % 5 == 0).select(
        F.col("event_id").alias("id"),
        F.when(F.col("event_id") % 7 == 0, F.lit("delete"))
        .otherwise(F.lit("modify"))
        .alias("op"),
        F.lit(2).alias("version"),
        "event_type",
        (F.col("value") + 1).alias("value"),
    )
    creates = ev.filter(F.col("event_id") % 11 == 0).select(
        (F.col("event_id") + 100_000_000).alias("id"),
        F.lit("create").alias("op"),
        F.lit(1).alias("version"),
        "event_type",
        "value",
    )
    applied = osc_apply(base, mods.unionByName(creates), key_cols=["id"])
    return applied.groupBy("id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))


# --- §2.10: streaming/batch parity (availableNow drain of the same tiles) -------
@register(
    "stream_tile_counts_z9",
    f"""WITH pts AS ({_PTS})
SELECT {tiles.sql_tile_x('lon7', 9)} AS tx, {tiles.sql_tile_y('lat7', 9)} AS ty,
       count(*) AS cnt
FROM pts GROUP BY tx, ty""",
)
def stream_tile_counts_z9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming path of tile_counts: the points are drained from a
    file source with the availableNow trigger (the 'process this snapshot
    increment' mode, osmio's OSC-apply analogue) and must hash-match the same
    batch-SQL oracle — stream/batch parity as a correctness gate."""
    import tempfile

    from osmgraft.streaming import read_stream, stream_tile_counts

    src = tempfile.mkdtemp(prefix="og_stream_src_")
    ckpt = tempfile.mkdtemp(prefix="og_stream_ck_")
    points_from_orders(spark, sf_dir).write.mode("overwrite").parquet(src)
    stream = read_stream(spark, src, "point_id long, lat7 int, lon7 int")
    name = "og_stream_tiles_q"
    q = (
        stream_tile_counts(stream, z=9)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select(
        "tx", "ty", F.col("cnt").cast("long").alias("cnt")
    )


def _sql_langid_reliability() -> str:
    from osmgraft.functions.text import LANG_ORDER, sql_lang_id, sql_stopword_count

    best = "greatest(" + ", ".join(
        sql_stopword_count("text", lg) for lg in LANG_ORDER
    ) + ")"
    return f"""WITH lr AS (
  SELECT least({best}, 10) AS conf_bucket,
         CASE WHEN ({sql_lang_id('text')}) = lang THEN 1 ELSE 0 END AS ok
  FROM documents)
SELECT conf_bucket, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(ok) AS BIGINT) AS n_correct
FROM lr GROUP BY 1"""


@register("langid_reliability", _sql_langid_reliability())
def langid_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table for the stopword language-ID (the calibration
    diagram's exact backing data — Guo et al.'s ECE starts here): docs
    bucketed by evidence strength (best stopword-hit count, capped at
    10) with per-bucket totals and correct counts — accuracy-vs-
    confidence as exact integers, completing the eval suite (kappa ⋄
    McNemar ⋄ per-class report ⋄ RELIABILITY).

    100 TB: map-only scoring + an 11-bucket agg."""
    from osmgraft.functions.text import LANG_ORDER, lang_id, stopword_count

    docs = _docs(spark, sf_dir)
    best = F.greatest(*[stopword_count(F.col("text"), lg) for lg in LANG_ORDER])
    lr = docs.select(
        F.least(best, F.lit(10)).cast("long").alias("conf_bucket"),
        (lang_id(F.col("text")) == F.col("lang")).cast("int").alias("ok"),
    )
    return lr.groupBy("conf_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("ok").cast("long").alias("n_correct"),
    )


@register(
    "solar_hour_histogram",
    f"""WITH pts AS ({_PTS}),
sh AS (
  SELECT (((CAST(floor(epoch(o.o_orderdate)) AS BIGINT)
            + ((CAST(p.lon7 AS BIGINT) + 1800000000) * 24) // 1000000
            - 43200) // 3600) % 24) AS solar_hour
  FROM pts p JOIN orders o ON o.o_orderkey = p.point_id)
SELECT solar_hour, CAST(count(*) AS BIGINT) AS cnt
FROM sh GROUP BY 1""",
)
def solar_hour_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-solar-hour histogram — the geo-temporal normalization a
    global activity analysis needs before comparing 'morning' across
    longitudes: each point's UTC timestamp shifts by its longitude's
    solar offset (240 s per degree = lon7·24 div 10⁶ seconds, computed
    on the +180°-rebased positive value so floor division agrees on
    both engines), then buckets into the 24 solar hours.  Pure integer
    arithmetic end to end — the fixed-point coordinate column doing
    double duty as a time-zone proxy.

    100 TB: one equi-join + a 24-bucket map-side-combinable agg."""
    pts = points_from_orders(spark, sf_dir)
    o = read_fixture(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("point_id"),
        F.floor(F.unix_timestamp("o_orderdate")).cast("long").alias("epoch"),
    )
    j = pts.join(o, "point_id").select(
        F.expr(
            "((epoch + ((CAST(lon7 AS BIGINT) + 1800000000) * 24) div 1000000"
            " - 43200)"
            " div 3600) % 24"
        )
        .cast("long")
        .alias("solar_hour")
    )
    return j.groupBy("solar_hour").agg(F.count(F.lit(1)).cast("long").alias("cnt"))


@register(
    "rfm_segments",
    """WITH rf AS (
  SELECT o_custkey AS cust,
         CAST(count(*) AS BIGINT) AS f,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS m_cents,
         CAST(max(floor(epoch(o_orderdate))) AS BIGINT) // 86400 AS last_day
  FROM orders GROUP BY 1),
mx AS (SELECT max(last_day) AS dmax FROM rf),
sc AS (
  SELECT cust, dmax - last_day AS gap_days, f, m_cents,
         CAST(ntile(5) OVER (ORDER BY dmax - last_day DESC, cust) AS BIGINT)
           AS r_score,
         CAST(ntile(5) OVER (ORDER BY f, cust) AS BIGINT) AS f_score,
         CAST(ntile(5) OVER (ORDER BY m_cents, cust) AS BIGINT) AS m_score
  FROM rf, mx)
SELECT cust, gap_days, f, m_cents, r_score, f_score, m_score,
       CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
              THEN 'champion'
            WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
            WHEN r_score <= 2 AND f_score <= 2 AND m_score <= 2 THEN 'lost'
            ELSE 'regular' END AS segment
FROM sc""",
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (Hughes 1994 — the marketing-analytics
    workhorse): per customer the recency gap in epoch days, order
    frequency, and monetary total in exact CENTS; quintile scores by
    ntile(5) with customer-id tie-breaks (a pinned total order, so the
    buckets are engine- and partitioning-exact) and the pinned
    champion / at_risk / lost / regular segment rule.

    100 TB: one per-customer agg + a broadcast max + three ntile
    windows sharing one pass (WindowGroupLimit-free, full-table rank —
    at true scale swap ntile for the percentile_disc rank the
    winsorized family uses to avoid a single-partition sort; pinned
    here for the classic formulation)."""
    from pyspark.sql import Window as W

    o = read_fixture(spark, sf_dir, "orders")
    rf = o.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.count(F.lit(1)).cast("long").alias("f"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("m_cents"),
        (F.max(F.floor(F.unix_timestamp("o_orderdate"))).cast("long") / 86400)
        .cast("long")
        .alias("last_day"),
    )
    mx = rf.agg(F.max("last_day").alias("dmax"))
    sc = rf.crossJoin(F.broadcast(mx)).select(
        "cust",
        (F.col("dmax") - F.col("last_day")).cast("long").alias("gap_days"),
        "f",
        "m_cents",
    )
    r_w = W.orderBy(F.desc("gap_days"), F.asc("cust"))
    f_w = W.orderBy(F.asc("f"), F.asc("cust"))
    m_w = W.orderBy(F.asc("m_cents"), F.asc("cust"))
    scored = sc.select(
        "cust",
        "gap_days",
        "f",
        "m_cents",
        F.ntile(5).over(r_w).cast("long").alias("r_score"),
        F.ntile(5).over(f_w).cast("long").alias("f_score"),
        F.ntile(5).over(m_w).cast("long").alias("m_score"),
    )
    seg = (
        F.when(
            (F.col("r_score") >= 4) & (F.col("f_score") >= 4) & (F.col("m_score") >= 4),
            "champion",
        )
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 4), "at_risk")
        .when(
            (F.col("r_score") <= 2) & (F.col("f_score") <= 2) & (F.col("m_score") <= 2),
            "lost",
        )
        .otherwise("regular")
    )
    return scored.withColumn("segment", seg)


@register(
    "kanonymity_groups",
    """WITH qi AS (
  SELECT lang, source, n_chars // 100 AS len_bucket,
         CAST(count(*) AS BIGINT) AS group_size
  FROM documents GROUP BY 1, 2, 3)
SELECT lang, source, len_bucket, group_size,
       CASE WHEN group_size < 5 THEN 'unsafe' ELSE 'safe' END AS k_class,
       CAST(CASE WHEN group_size < 5 THEN group_size ELSE 0 END AS BIGINT)
         AS n_suppress
FROM qi""",
)
def kanonymity_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney 2002 — the privacy-compliance check a
    release pipeline runs before publishing): quasi-identifier groups
    (lang, source, length bucket) with their sizes, the k = 5 safety
    class, and the suppression count a k-anonymizer would redact — all
    exact integers, one hash agg.

    100 TB: one map-side-combinable groupBy; the QI cardinality (not
    the corpus) bounds the output."""
    docs = _docs(spark, sf_dir)
    qi = docs.groupBy(
        "lang", "source", F.expr("n_chars div 100").alias("len_bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("group_size"))
    return qi.select(
        "lang",
        "source",
        "len_bucket",
        "group_size",
        F.when(F.col("group_size") < 5, "unsafe").otherwise("safe").alias("k_class"),
        F.when(F.col("group_size") < 5, F.col("group_size"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_suppress"),
    )


@register(
    "linkage_patterns",
    """WITH lk AS (
  SELECT c_custkey AS id, c_nationkey AS blk, c_mktsegment AS seg,
         CAST(floor(c_acctbal) AS BIGINT) // 1000 AS bal_b,
         c_custkey % 97 AS name_k
  FROM customer),
lp AS (
  SELECT CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END AS seg_eq,
         CASE WHEN a.bal_b = b.bal_b THEN 1 ELSE 0 END AS bal_eq,
         CASE WHEN a.name_k = b.name_k THEN 1 ELSE 0 END AS name_eq
  FROM lk a JOIN lk b ON b.blk = a.blk AND b.id > a.id),
sc AS (
  SELECT seg_eq, bal_eq, name_eq,
         CAST(seg_eq*4 + (1-seg_eq)*(-2) + bal_eq*3 + (1-bal_eq)*(-1)
              + name_eq*5 + (1-name_eq)*(-3) AS BIGINT) AS weight,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM lp GROUP BY 1, 2, 3)
SELECT seg_eq, bal_eq, name_eq, weight, n_pairs,
       CASE WHEN weight >= 8 THEN 'match'
            WHEN weight >= 3 THEN 'possible'
            ELSE 'nonmatch' END AS link_class
FROM sc""",
)
def linkage_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage agreement patterns (Fellegi & Sunter JASA 1969 —
    the probabilistic-linkage framework's decision table): candidate
    pairs blocked on nation, the (segment, balance-bucket, name-key)
    agreement vector, pinned INTEGER log-odds weights (4/−2, 3/−1,
    5/−3) and the match/possible/nonmatch decision at the pinned 8/3
    cuts — the whole m/u-probability machinery carried as exact
    integers, aggregated per pattern so the output is the decision
    table itself.

    100 TB: blocked self-join (never cross-block), map-side pattern
    counts — the soundex_name_pairs discipline with scoring on top."""
    c = read_fixture(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_nationkey").alias("blk"),
        F.col("c_mktsegment").alias("seg"),
        F.expr("CAST(floor(c_acctbal) AS BIGINT) div 1000").alias("bal_b"),
        (F.col("c_custkey") % 97).alias("name_k"),
    )
    a = c.select(*[F.col(x).alias(f"a_{x}") for x in c.columns])
    b = c.select(*[F.col(x).alias(f"b_{x}") for x in c.columns])
    pairs = a.join(b, (F.col("b_blk") == F.col("a_blk")) & (F.col("b_id") > F.col("a_id")))
    pat = pairs.select(
        (F.col("a_seg") == F.col("b_seg")).cast("int").alias("seg_eq"),
        (F.col("a_bal_b") == F.col("b_bal_b")).cast("int").alias("bal_eq"),
        (F.col("a_name_k") == F.col("b_name_k")).cast("int").alias("name_eq"),
    )
    sc = pat.groupBy("seg_eq", "bal_eq", "name_eq").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    weight = (
        F.col("seg_eq") * 4
        + (1 - F.col("seg_eq")) * (-2)
        + F.col("bal_eq") * 3
        + (1 - F.col("bal_eq")) * (-1)
        + F.col("name_eq") * 5
        + (1 - F.col("name_eq")) * (-3)
    ).cast("long")
    out = sc.withColumn("weight", weight)
    cls = (
        F.when(F.col("weight") >= 8, "match")
        .when(F.col("weight") >= 3, "possible")
        .otherwise("nonmatch")
    )
    return out.select(
        "seg_eq", "bal_eq", "name_eq", "weight", "n_pairs", cls.alias("link_class")
    )


@register(
    "basket_lift_pairs",
    """WITH bk AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
bn AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n FROM bk),
bi AS (SELECT p, CAST(count(*) AS BIGINT) AS c FROM bk GROUP BY 1),
bp AS (
  SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS cab
  FROM bk a JOIN bk b ON b.o = a.o AND b.p > a.p
  GROUP BY 1, 2 HAVING count(*) >= 3)
SELECT bp.pa, bp.pb, bp.cab, ia.c AS ca, ib.c AS cb, bn.n AS n_orders,
       CASE WHEN bp.cab * bn.n > ia.c * ib.c THEN 'positive'
            WHEN bp.cab * bn.n < ia.c * ib.c THEN 'negative'
            ELSE 'independent' END AS lift_class
FROM bp JOIN bi ia ON ia.p = bp.pa JOIN bi ib ON ib.p = bp.pb
CROSS JOIN bn""",
)
def basket_lift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association pairs (Agrawal, Imieliński & Swami
    SIGMOD 1993 — the Apriori paper's level-2 core): parts co-ordered in
    ≥ 3 orders, with support counts and the LIFT direction decided by
    the exact cross-multiplied inequality cab·N vs ca·cb (lift > 1 ⟺
    positively associated) — confidence/lift stay exact rationals the
    consumer can form, no division in the gate.

    100 TB: distinct-pair explode per order (bounded by basket size²),
    map-side-combinable counts, two broadcast-able item-count joins."""
    li = read_fixture(spark, sf_dir, "lineitem")
    bk = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    n = bk.select("o").distinct().count()
    bi = bk.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("c"))
    a = bk.select("o", F.col("p").alias("pa"))
    b = bk.select("o", F.col("p").alias("pb"))
    bp = (
        a.join(b, "o")
        .where(F.col("pb") > F.col("pa"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("long").alias("cab"))
        .where(F.col("cab") >= 3)
    )
    out = (
        bp.join(bi.select(F.col("p").alias("pa"), F.col("c").alias("ca")), "pa")
        .join(bi.select(F.col("p").alias("pb"), F.col("c").alias("cb")), "pb")
        .withColumn("n_orders", F.lit(n).cast("long"))
    )
    cls = (
        F.when(F.col("cab") * F.col("n_orders") > F.col("ca") * F.col("cb"), "positive")
        .when(F.col("cab") * F.col("n_orders") < F.col("ca") * F.col("cb"), "negative")
        .otherwise("independent")
    )
    return out.select(
        "pa", "pb", "cab", "ca", "cb", "n_orders", cls.alias("lift_class")
    )


@register(
    "attribution_last_touch",
    """WITH conv AS (
  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t
  FROM events WHERE event_type = 'purchase'),
touch AS (
  SELECT event_id, user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS t
  FROM events WHERE event_type IN ('click', 'view')),
ranked AS (
  SELECT c.event_id AS conv_id, c.user_id,
         t.event_id AS touch_id, t.event_type AS touch_type,
         c.t - t.t AS gap_s,
         row_number() OVER (PARTITION BY c.event_id
                            ORDER BY t.t DESC, t.event_id DESC) AS rn
  FROM conv c JOIN touch t
    ON t.user_id = c.user_id AND t.t <= c.t AND c.t - t.t <= 604800)
SELECT conv_id, user_id, touch_id, touch_type, gap_s
FROM ranked WHERE rn = 1""",
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution — the marketing-analytics classic
    (the simplest member of the attribution family; Shapley/Markov models
    start from this join): each purchase attributes to the same user's
    LATEST click/view within the 7-day lookback, ties on equal timestamps
    pinned to the highest event id.  Exact epoch-second gaps; purchases
    with no touch in window drop out (inner semantics, pinned).

    100 TB: one equi-join on user (the inequality is a post-filter, so
    this is a hash join, not a range scan), one max_by-shaped window per
    conversion — per-user skew bounded by that user's event count."""
    ev = read_fixture(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("t"),
    )
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"), "user_id", F.col("t").alias("ct")
    )
    touch = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("touch_id"),
        "user_id",
        F.col("event_type").alias("touch_type"),
        F.col("t").alias("tt"),
    )
    j = conv.join(touch, "user_id").where(
        (F.col("tt") <= F.col("ct")) & (F.col("ct") - F.col("tt") <= 604800)
    )
    best = j.groupBy("conv_id", "user_id").agg(
        F.max(
            F.struct("tt", "touch_id", "touch_type", (F.col("ct") - F.col("tt")).alias("gap"))
        ).alias("m")
    )
    return best.select(
        "conv_id",
        "user_id",
        F.col("m.touch_id").alias("touch_id"),
        F.col("m.touch_type").alias("touch_type"),
        F.col("m.gap").cast("long").alias("gap_s"),
    )


@register(
    "stream_static_enrich",
    """SELECT n.n_name AS nation, CAST(count(*) AS BIGINT) AS cnt,
       CAST(sum(e.user_id % 1000) AS BIGINT) AS chk
FROM events e JOIN nation n ON n.n_nationkey = e.user_id % 25
GROUP BY 1""",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC enrichment join — the one Structured Streaming join
    shape the suite didn't yet exercise (stream-stream interval,
    watermarked dedup, stateful sessionize and windowed aggs are all
    gated): the event stream (file source, availableNow drain) joins a
    broadcast static dimension (nation) on a derived key and aggregates
    per dimension value in complete mode; must hash-match the plain
    batch SQL join — the enrich-against-reference-data pattern every
    streaming pipeline runs, gated for stream/batch parity.

    100 TB: the static side broadcasts (never shuffles the stream);
    the aggregation state is dimension-bounded."""
    import tempfile

    from osmgraft.streaming import read_stream

    src = tempfile.mkdtemp(prefix="og_sse_src_")
    ckpt = tempfile.mkdtemp(prefix="og_sse_ck_")
    read_fixture(spark, sf_dir, "events").select(
        "event_id", "user_id"
    ).write.mode("overwrite").parquet(src)
    stream = read_stream(spark, src, "event_id long, user_id long")
    dim = read_fixture(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("nk"), "n_name"
    )
    joined = stream.join(
        F.broadcast(dim), (F.col("user_id") % 25) == F.col("nk")
    )
    agg = joined.groupBy(F.col("n_name").alias("nation")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum(F.col("user_id") % 1000).cast("long").alias("chk"),
    )
    name = "og_sse_q"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


# --- S1-S5: real .osm.pbf scan (osmio stringpbf/mod.rs flagship path) -----------
@register(
    "pbf_roundtrip_nodes",
    """SELECT o_orderkey AS id,
  CAST(o_orderkey % 9 + 1 AS INTEGER) AS version,
  (o_orderkey % 41 = 0) AS deleted,
  CAST(o_orderkey % 10000 + 1 AS INTEGER) AS changeset_id,
  CAST(o_orderkey % 1000 AS INTEGER) AS uid,
  'mapper-' || CAST(o_orderkey % 97 AS VARCHAR) AS username,
  strftime(epoch_ms((1500000000 + (o_orderkey * 37) % 100000000) * 1000),
           '%Y-%m-%dT%H:%M:%SZ') AS iso,
  CAST(o_orderkey AS VARCHAR) AS ref_tag,
  CAST(CASE WHEN o_orderkey % 2 = 0 THEN 2 ELSE 1 END AS INTEGER) AS n_tags
FROM orders""",
)
def pbf_roundtrip_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full node-metadata roundtrip through a REAL `.osm.pbf` file: the
    derived node stream (synth.osm_objs_from_orders) is framed/zlib'd/
    delta-coded into PBF once per sf_dir, then scanned back DISTRIBUTED by
    sources.pbf.read_pbf (blob-index tasks + vectorized DenseNodes decode,
    osmio stringpbf/mod.rs:61-211) and every Info/tag/coordinate field must
    equal the oracle's direct recomputation from `orders`. lat7/lon7 equality
    is pinned separately by test_pbf (the oracle twin of the coordinate
    derivation already gates pip/tile queries)."""
    from osmgraft.sources.pbf import read_pbf
    from osmgraft.synth import pbf_fixture_path

    df = read_pbf(spark, pbf_fixture_path(spark, sf_dir), object_filter=(True, False, False))
    return df.filter(F.col("obj_type") == "n").select(
        "id",
        "version",
        "deleted",
        "changeset_id",
        "uid",
        F.col("user").alias("username"),
        F.date_format("timestamp", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("iso"),
        F.col("tags")["ref"].alias("ref_tag"),
        F.size("tags").cast("int").alias("n_tags"),
    )


@register(
    "pbf_scan_objs",
    f"""WITH ways AS (SELECT o_custkey AS c, count(*) AS nrefs FROM orders GROUP BY o_custkey),
rels AS (SELECT o_custkey % {97} AS b, count(DISTINCT o_custkey) AS nways
         FROM orders GROUP BY o_custkey % {97})
SELECT 'n' AS obj_type, count(*) AS cnt, CAST(sum(o_orderkey) AS BIGINT) AS sum_id,
  CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 2 ELSE 1 END) AS BIGINT) AS sum_tags,
  CAST(0 AS BIGINT) AS sum_children
FROM orders
UNION ALL
SELECT 'w', count(*), CAST(sum(1000000000 + c) AS BIGINT),
  CAST(sum(c % 2) AS BIGINT), CAST(sum(nrefs) AS BIGINT) FROM ways
UNION ALL
SELECT 'r', count(*), CAST(sum(2000000000 + b) AS BIGINT),
  CAST(count(*) AS BIGINT), CAST(sum(nways + 1) AS BIGINT) FROM rels""",
)
def pbf_scan_objs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-type `.osm.pbf` scan (S3+S4+S5): nodes, ways (delta-coded refs)
    and relations (member triples) decoded from the same fixture file, with
    per-type structural aggregates the oracle recomputes relationally. Proves
    the way/relation wire decode (stringpbf/mod.rs:213-360), not just nodes."""
    from osmgraft.sources.pbf import read_pbf
    from osmgraft.synth import pbf_fixture_path

    df = read_pbf(spark, pbf_fixture_path(spark, sf_dir))
    return df.groupBy("obj_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("id").cast("long").alias("sum_id"),
        F.sum(F.size("tags")).cast("long").alias("sum_tags"),
        F.sum(
            F.coalesce(F.size("nodes"), F.lit(0)) + F.coalesce(F.size("members"), F.lit(0))
        )
        .cast("long")
        .alias("sum_children"),
    )


# --- J2: relation member multi-join (osmio lib.rs:477-479, stringpbf:333-337) ---
@register(
    "relation_members_resolution",
    f"""WITH pts AS ({_PTS}),
o AS (SELECT o_orderkey, o_custkey, o_custkey % 97 AS b FROM orders),
wb AS (SELECT o.o_custkey AS c, any_value(o.b) AS b,
              min(p.lat7) AS la0, max(p.lat7) AS la1,
              min(p.lon7) AS lo0, max(p.lon7) AS lo1
       FROM o JOIN pts p ON p.point_id = o.o_orderkey GROUP BY o.o_custkey),
nm AS (SELECT b, min(o_orderkey) AS nref FROM o GROUP BY b),
nres AS (SELECT nm.b, p.lat7, p.lon7 FROM nm JOIN pts p ON p.point_id = nm.nref)
SELECT CAST(2000000000 + wb.b AS BIGINT) AS rel_id,
  CAST(count(*) + 1 AS INTEGER) AS n_members,
  least(min(wb.la0), min(nres.lat7)) AS lat_min,
  greatest(max(wb.la1), max(nres.lat7)) AS lat_max,
  least(min(wb.lo0), min(nres.lon7)) AS lon_min,
  greatest(max(wb.lo1), max(nres.lon7)) AS lon_max
FROM wb JOIN nres ON nres.b = wb.b
GROUP BY wb.b""",
)
def relation_members_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: explode(relation.members) → join each member on (type, ref) against
    its object table → re-aggregate per relation (geometry bbox). The
    reference resolves members through the same id lookup as way nodes
    (lib.rs:477-479); Spark-native form is two shuffled equi-joins (node
    members against the node table, way members against per-way bboxes) whose
    union re-aggregates on relation id — at scale both joins shuffle on the
    member ref key and the relation side is the small side of each.

    Relations derive deterministically from orders (synth.rel_obj shape):
    bucket b = o_custkey % 97, members = the bucket's ways + one
    admin_centre node (the bucket's min order key)."""
    orders = read_fixture(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", (F.col("o_custkey") % 97).alias("b")
    )
    pts = points_from_orders(spark, sf_dir)
    ways = orders.groupBy("o_custkey", "b").agg(
        F.sort_array(F.collect_list("o_orderkey")).alias("nodes")
    )
    # build the members arrays with the engine's own schema (type/ref/role)
    wmem = ways.select(
        "b",
        F.struct(
            F.lit("w").alias("type"),
            (F.lit(1_000_000_000) + F.col("o_custkey")).alias("ref"),
            F.lit("outer").alias("role"),
        ).alias("m"),
    )
    nmem = orders.groupBy("b").agg(F.min("o_orderkey").alias("nref")).select(
        "b",
        F.struct(
            F.lit("n").alias("type"),
            F.col("nref").alias("ref"),
            F.lit("admin_centre").alias("role"),
        ).alias("m"),
    )
    rels = (
        wmem.unionByName(nmem)
        .groupBy("b")
        .agg(F.sort_array(F.collect_list("m")).alias("members"))
        .select((F.lit(2_000_000_000) + F.col("b")).alias("rel_id"), "members")
    )
    m = rels.select("rel_id", F.explode("members").alias("m")).select(
        "rel_id", F.col("m.type").alias("mtype"), F.col("m.ref").alias("ref")
    )
    # member-type dispatch: node members resolve against the node table…
    nres = (
        m.filter(F.col("mtype") == "n")
        .join(pts, F.col("ref") == pts.point_id)
        .select("rel_id", "lat7", "lon7")
    )
    # …way members against per-way geometry (itself a J1 resolution)
    waybbox = (
        ways.select(
            (F.lit(1_000_000_000) + F.col("o_custkey")).alias("way_id"),
            F.explode("nodes").alias("node_id"),
        )
        .join(pts, F.col("node_id") == pts.point_id)
        .groupBy("way_id")
        .agg(
            F.min("lat7").alias("la0"),
            F.max("lat7").alias("la1"),
            F.min("lon7").alias("lo0"),
            F.max("lon7").alias("lo1"),
        )
    )
    wres = (
        m.filter(F.col("mtype") == "w")
        .join(waybbox, F.col("ref") == F.col("way_id"))
        .select(
            "rel_id",
            F.explode(
                F.array(
                    F.struct(F.col("la0").alias("lat7"), F.col("lo0").alias("lon7")),
                    F.struct(F.col("la1").alias("lat7"), F.col("lo1").alias("lon7")),
                )
            ).alias("c"),
        )
        .select("rel_id", F.col("c.lat7").alias("lat7"), F.col("c.lon7").alias("lon7"))
    )
    coords = nres.unionByName(wres)
    sizes = rels.select("rel_id", F.size("members").cast("int").alias("n_members"))
    return (
        coords.groupBy("rel_id")
        .agg(
            F.min("lat7").alias("lat_min"),
            F.max("lat7").alias("lat_max"),
            F.min("lon7").alias("lon_min"),
            F.max("lon7").alias("lon_max"),
        )
        .join(sizes, "rel_id")
        .select("rel_id", "n_members", "lat_min", "lat_max", "lon_min", "lon_max")
    )


# --- S10/S15/S18/S19: full object-stream XML + OPL codecs -----------------------
_OBJ_STREAM_SQL = """WITH pts AS ({pts}),
w AS (SELECT o_custkey AS c, count(*) AS nrefs FROM orders GROUP BY o_custkey),
r AS (SELECT o_custkey % 97 AS b, count(DISTINCT o_custkey) AS nways
      FROM orders GROUP BY o_custkey % 97)
SELECT 'n' AS obj_type, o.o_orderkey AS id,
  CAST(o.o_orderkey % 9 + 1 AS INTEGER) AS version,
  (o.o_orderkey % 41 = 0) AS deleted,
  CAST(o.o_orderkey % 10000 + 1 AS INTEGER) AS changeset_id,
  CAST(o.o_orderkey % 1000 AS INTEGER) AS uid,
  'mapper-' || CAST(o.o_orderkey % 97 AS VARCHAR) AS username,
  strftime(epoch_ms((1500000000 + (o.o_orderkey * 37) % 100000000) * 1000),
           '%Y-%m-%dT%H:%M:%SZ') AS iso,
  CAST(CASE WHEN o.o_orderkey % 2 = 0 THEN 2 ELSE 1 END AS INTEGER) AS n_tags,
  CAST(0 AS INTEGER) AS n_children,
  p.lat7 AS lat7, p.lon7 AS lon7
FROM orders o JOIN pts p ON p.point_id = o.o_orderkey
UNION ALL
SELECT 'w', 1000000000 + c, 1, false, CAST(c % 1000 + 1 AS INTEGER),
  CAST(c % 500 AS INTEGER), 'w-' || CAST(c % 13 AS VARCHAR),
  strftime(epoch_ms((1600000000 + c) * 1000), '%Y-%m-%dT%H:%M:%SZ'),
  CAST(c % 2 AS INTEGER), CAST(nrefs AS INTEGER),
  CAST(-2000000000 AS INTEGER), CAST(-2000000000 AS INTEGER) FROM w
UNION ALL
SELECT 'r', 2000000000 + b, 1, false, CAST(b + 1 AS INTEGER),
  7, 'rel', strftime(epoch_ms((1700000000 + b) * 1000), '%Y-%m-%dT%H:%M:%SZ'),
  1, CAST(nways + 1 AS INTEGER),
  CAST(-2000000000 AS INTEGER), CAST(-2000000000 AS INTEGER) FROM r""".format(pts=_PTS)


def _obj_roundtrip_projection(parsed: DataFrame) -> DataFrame:
    return parsed.select(
        "obj_type",
        "id",
        "version",
        "deleted",
        "changeset_id",
        "uid",
        F.col("user").alias("username"),
        F.date_format("timestamp", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("iso"),
        F.size("tags").cast("int").alias("n_tags"),
        (
            F.coalesce(F.size("nodes"), F.lit(0))
            + F.coalesce(F.size("members"), F.lit(0))
        )
        .cast("int")
        .alias("n_children"),
        # ways/relations have no coordinates: sentinel -2e9 (outside the
        # ±1.8e9 fixed-point domain), never NULL — nullable int outputs
        # floatify under pandas-path oracle fetches (r5 rule)
        F.coalesce(F.col("lat7").cast("int"), F.lit(-2_000_000_000)).alias("lat7"),
        F.coalesce(F.col("lon7").cast("int"), F.lit(-2_000_000_000)).alias("lon7"),
    )


@register("xml_objs_roundtrip", _OBJ_STREAM_SQL)
def xml_objs_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10+S15 for ALL object types: the derived node/way/relation stream is
    serialized to OSM-XML elements (obj_to_xml — nd children, member triples,
    escaped tags; osmio xml/mod.rs:436-506) and parsed straight back
    (parse_obj_xml, xml/mod.rs:279-357); every metadata field, child count
    and fixed-point coordinate must equal the oracle's direct relational
    derivation. Whole pipeline is JVM Column expressions (codegen)."""
    from osmgraft.sources.osm_xml import obj_to_xml, parse_obj_xml
    from osmgraft.synth import osm_objs_df

    parsed = parse_obj_xml(obj_to_xml(osm_objs_df(spark, sf_dir)).select("line"))
    return _obj_roundtrip_projection(parsed)


@register("opl_objs_roundtrip", _OBJ_STREAM_SQL)
def opl_objs_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S18+S19 for ALL object types: same stream through the OPL line codec
    (obj_to_opl / parse_obj_opl — 'Nn1,n2' way refs, 'Mt<id>@<role>' members,
    %XXXX% escaping; osmio opl/mod.rs:146-260)."""
    from osmgraft.sources.opl import obj_to_opl, parse_obj_opl
    from osmgraft.synth import osm_objs_df

    parsed = parse_obj_opl(obj_to_opl(osm_objs_df(spark, sf_dir)).select("line"))
    return _obj_roundtrip_projection(parsed)


# --- S12: real .osc file parsed and applied -------------------------------------
@register(
    "osc_file_apply",
    f"""WITH pts AS ({_PTS})
SELECT o_orderkey AS id,
  CAST(CASE WHEN o_orderkey % 5 = 0 THEN o_orderkey % 9 + 2
       ELSE o_orderkey % 9 + 1 END AS INTEGER) AS version,
  CAST(lat7 + CASE WHEN o_orderkey % 5 = 0 THEN 100 ELSE 0 END AS INTEGER) AS lat7,
  lon7
FROM orders JOIN pts ON point_id = o_orderkey
WHERE NOT (o_orderkey % 5 = 0 AND o_orderkey % 7 = 0)
UNION ALL
SELECT o_orderkey + 500000000, CAST(o_orderkey % 9 + 1 AS INTEGER), lat7, lon7
FROM orders JOIN pts ON point_id = o_orderkey
WHERE o_orderkey % 11 = 0""",
)
def osc_file_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL `<osmChange>` document (create/modify/delete sections, one per
    sf_dir, synth.osc_fixture_path) parsed by sources.xml_files.read_osc
    (osmio osc/mod.rs:31-91) and applied to the node base with the
    last-writer-wins upsert (operators.osm.osc_apply). Replaces round 1's
    synthetic change derivation with actual OSC XML ingestion."""
    from osmgraft.operators.osm import osc_apply
    from osmgraft.sources.xml_files import read_osc
    from osmgraft.synth import osc_fixture_path, osm_objs_df

    base = (
        osm_objs_df(spark, sf_dir)
        .filter(F.col("obj_type") == "n")
        .select("id", "version", "lat7", "lon7")
    )
    ch = read_osc(spark, osc_fixture_path(spark, sf_dir)).select(
        "id", "version", "lat7", "lon7", "op"
    )
    return osc_apply(base, ch, key_cols=["id"])


# --- S13/S14: changeset-dump XML scan + tag fast-scan analytics -----------------
@register(
    "changeset_top_tags",
    """SELECT CAST(event_type AS VARCHAR) AS created_by, count(*) AS cnt,
  CAST(sum(CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS open_cnt,
  CAST(sum(((CAST(floor(value) AS BIGINT) % 1000) + 1000) % 1000) AS BIGINT) AS sum_changes,
  CAST(sum(event_id % 7) AS BIGINT) AS sum_comments
FROM events GROUP BY event_type""",
)
def changeset_top_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13+S14: a REAL changeset-dump XML (osmio changesets.rs:82-309; one
    <changeset> per event, synth.changesets_fixture_path) scanned by
    read_changesets, then the A2-style tag histogram over the created_by tag
    with open/num_changes/comments rollups — the reference's
    ChangesetTagReader fast path (changesets.rs:316-407) is the same
    projection with everything but id+tags dropped before the shuffle."""
    from osmgraft.sources.xml_files import read_changesets
    from osmgraft.synth import changesets_fixture_path

    cs = read_changesets(spark, changesets_fixture_path(spark, sf_dir))
    return (
        cs.select(
            F.col("tags")["created_by"].alias("created_by"),
            F.col("open").cast("int").alias("_open"),
            "num_changes",
            "comments_count",
        )
        .groupBy("created_by")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("_open").cast("long").alias("open_cnt"),
            F.sum("num_changes").cast("long").alias("sum_changes"),
            F.sum("comments_count").cast("long").alias("sum_comments"),
        )
    )


def all_queries() -> dict[str, QueryFn]:
    return {k: v[0] for k, v in REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    """Oracle SQL per gate. A callable oracle that raises fails its own gate
    only: its SQL becomes a DuckDB ``error()`` call carrying the message."""
    out: dict[str, str] = {}
    for k, (fn, o) in REGISTRY.items():
        if o is None:
            continue
        if callable(o):
            try:
                o = o()
            except Exception as ex:  # noqa: BLE001 — one gate, not the registry
                log.warning("oracle for %s failed to build", k, exc_info=True)
                msg = f"oracle build failed: {type(ex).__name__}: {ex}"
                out[k] = "SELECT error('{}')".format(msg.replace("'", "''"))
                continue
            REGISTRY[k] = (fn, o)  # cache the resolved SQL
        out[k] = o
    return out


@register("sessionize_batch_30m", __import__(
    "osmgraft.streaming.incremental", fromlist=["sql_sessionize_batch"]
).sql_sessionize_batch(30))
def sessionize_batch_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch event-time sessionization over the events table (gaps-and-
    islands: lag-diff -> new-session flag -> running sum -> group; pure JVM
    window functions, one shuffle on user_id). The deterministic batch
    analogue of the streaming applyInPandasWithState sessionizer
    (streaming/incremental.sessionize), hash-gated against the identical
    DuckDB window-SQL twin with integer-microsecond outputs."""
    from osmgraft.streaming.incremental import sessionize_batch

    events = read_fixture(spark, sf_dir, "events")
    return sessionize_batch(events, gap_minutes=30)


# --- discrete Voronoi labeling (operators/voronoi.py) ----------------------------
_VOR_K, _VOR_Z = 48, 8


def _vor_seeds_sql() -> str:
    return (
        f"SELECT CAST(i AS BIGINT) AS seed_id, (i * 97 + 13) % 256 AS sx, "
        f"(i * 59 + 31) % 256 AS sy FROM range(0, {_VOR_K}) t(i)"
    )


def _vor_cells_sql() -> str:
    return (
        f"WITH pts AS ({_PTS}) SELECT {tiles.sql_tile_x('lon7', _VOR_Z)} AS cx, "
        f"{tiles.sql_tile_y('lat7', _VOR_Z)} AS cy, count(*) AS cnt "
        f"FROM pts GROUP BY cx, cy"
    )


def _vor_assign_sql() -> str:
    from osmgraft.operators.voronoi import sql_voronoi_assign

    return sql_voronoi_assign(_vor_cells_sql(), _vor_seeds_sql(), _VOR_Z)


def _vor_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmgraft.operators.voronoi import voronoi_assign

    pts = points_from_orders(spark, sf_dir)
    cells = (
        pts.select(
            tiles.tile_x(F.col("lon7"), _VOR_Z).alias("cx"),
            tiles.tile_y(F.col("lat7"), _VOR_Z).alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    seeds = spark.range(_VOR_K).select(
        F.col("id").alias("seed_id"),
        ((F.col("id") * 97 + 13) % 256).alias("sx"),
        ((F.col("id") * 59 + 31) % 256).alias("sy"),
    )
    return voronoi_assign(cells, seeds, z=_VOR_Z)


@register("voronoi_assign_z8", _vor_assign_sql())
def voronoi_assign_z8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete Voronoi labeling (operators/voronoi.py): every observed z8
    cell assigned to its nearest of 48 deterministic facility seeds —
    wrap-aware exact integer metric, MIN-(d2, seed_id) tie-break. Points
    pre-aggregate to cells first (shuffle bounded by 4^z), the seed score
    is a broadcast nested-loop (map-side), the argmin a partial-combined
    min(struct) on the existing cell key. Hash-gated vs the DuckDB
    cross-join/row_number twin."""
    return _vor_parts(spark, sf_dir)


def _vor_catchment_sql() -> str:
    from osmgraft.operators.voronoi import sql_voronoi_catchment

    return sql_voronoi_catchment(_vor_assign_sql())


@register("voronoi_catchment_z8", _vor_catchment_sql())
def voronoi_catchment_z8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-seed catchment rollup of the Voronoi label grid: cells owned +
    points served per facility (the load-balancing aggregate). One more
    K-row map-side-combined shuffle on top of voronoi_assign_z8."""
    from osmgraft.operators.voronoi import voronoi_catchment

    return voronoi_catchment(_vor_parts(spark, sf_dir))


# --- Count-Min heavy hitters (operators/stats.py) --------------------------------
def _cm_sql() -> str:
    from osmgraft.operators.stats import sql_cm_heavy_hitters

    return sql_cm_heavy_hitters(
        "SELECT user_id FROM events", "user_id", threshold=70, d=4, w=64
    )


@register("cm_heavy_hitters_users", _cm_sql())
def cm_heavy_hitters_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch heavy hitters (operators/stats.py cm_sketch /
    cm_heavy_hitters): d=4 x w=64 counter table over event user_ids via the
    portable md5-prefix hash, estimate = min over rows, keep est >= 70 — a
    guaranteed SUPERSET of the true >= 70 hitters (CM never underestimates).
    Approximate structure, EXACT cross-engine gate (same discipline as the
    KMV sketch); the counter table is a d*w-bounded partial aggregate —
    the 100 TB heavy-hitter pre-pass shape. Merge law pinned in pytest."""
    from osmgraft.operators.stats import cm_heavy_hitters

    ev = read_fixture(spark, sf_dir, "events")
    return cm_heavy_hitters(ev.select("user_id"), "user_id", threshold=70, d=4, w=64)


# --- 2-D skyline / Pareto front (operators/skyline.py) ---------------------------
def _sky_rows_sql() -> str:
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("o_orderkey")
    return (
        "SELECT o_orderkey AS point_id, o_orderkey % 16 AS grp, "
        f"(abs(({lat}) - 450000000) // 100000) * (abs(({lat}) - 450000000) // 100000) "
        f"+ (abs(({lon}) - 90000000) // 100000) * (abs(({lon}) - 90000000) // 100000) AS dist2, "
        "(o_orderkey * 7919) % 100003 AS cost FROM orders"
    )


def _sky_sql() -> str:
    from osmgraft.operators.skyline import sql_skyline_2d

    return sql_skyline_2d(
        _sky_rows_sql(), "dist2", "cost", "point_id, grp, dist2, cost", ["grp"]
    )


@register("skyline_dist_cost", _sky_sql())
def skyline_dist_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline / Pareto front (operators/skyline.py, Börzsönyi et al.
    2001): per group, the points no other point beats on BOTH distance-to-
    center and cost ('closest AND cheapest'). Engine runs the distinct-x
    reduction (groupBy min + per-group running-min window + broadcast
    semi-join back); oracle is the direct quadratic NOT EXISTS dominator
    definition — two genuinely different algorithms, one hash."""
    from osmgraft.operators.skyline import skyline_2d

    pts = points_from_orders(spark, sf_dir)
    rows = pts.select(
        "point_id",
        (F.col("point_id") % 16).alias("grp"),
        (
            (F.abs(F.col("lat7") - 450000000) / 100000).cast("long")
            * (F.abs(F.col("lat7") - 450000000) / 100000).cast("long")
            + (F.abs(F.col("lon7") - 90000000) / 100000).cast("long")
            * (F.abs(F.col("lon7") - 90000000) / 100000).cast("long")
        ).alias("dist2"),
        ((F.col("point_id") * 7919) % 100003).alias("cost"),
    )
    return skyline_2d(rows, "dist2", "cost", group_cols=["grp"])


# --- integral-image box filter (operators/multimodal.image_box_filter) -----------
def _boxfilter_sql() -> str:
    from osmgraft.operators.multimodal import sql_image_box_filter

    idx_cte = (
        "SELECT idx FROM (SELECT row_number() OVER () - 1 AS idx FROM orders) "
        "WHERE idx < 400"
    )
    return sql_image_box_filter(idx_cte, box=5, stride=3)


@register("image_box_filter_5x3", _boxfilter_sql())
def image_box_filter_5x3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integral-image (summed-area table) sliding box filter
    (operators/multimodal.image_box_filter): real container decode
    (raw/ppm/png rotation) → integer luma → per-image SAT → exact 5x5
    window sums every 3 px. The fixture's pixels are pure integer formula
    (synth_formula_images), so the DuckDB twin regenerates every pixel and
    sums windows directly — decode, SAT algebra, window indexing and the
    image_id join are all on the hash. Map-only: no shuffle at any width."""
    from osmgraft.operators.multimodal import image_box_filter
    from osmgraft.synth import synth_formula_images

    n = min(read_fixture(spark, sf_dir, "orders").count(), 400)
    imgs = ensure_min_parallelism(synth_formula_images(spark, n))
    return image_box_filter(imgs, box=5, stride=3)


def _sql_point_along() -> str:
    from osmgraft.operators.trajectory import sql_point_along

    return sql_point_along(_TRACK_CTE, num=1, den=2)


@register("point_along_tracks", _sql_point_along())
def point_along_tracks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear referencing (operators/trajectory.point_along): the exact
    midpoint (fraction 1/2) of each entity's polyline under the integer
    Chebyshev length — ST_LineInterpolatePoint's job with rational outputs
    (fx_num/f_den, fy_num/f_den) so the interpolation is bit-exact in both
    engines, division never taken. One ent-shuffle (lead + 2 running sums
    share one window sort) + a map-side min(struct) pick."""
    from osmgraft.operators.trajectory import point_along

    o = ensure_min_parallelism(read_fixture(spark, sf_dir, "orders"))
    track = o.selectExpr(
        "o_custkey % 199 AS ent",
        "o_orderkey AS seq",
        "(o_orderkey * 13) % 100000 div 10 AS x",
        "(o_orderkey * 29) % 100000 div 10 AS y",
    )
    return point_along(track, num=1, den=2)


def _quant332_sql() -> str:
    from osmgraft.operators.multimodal import sql_image_quantize_rgb332

    idx_cte = (
        "SELECT idx FROM (SELECT row_number() OVER () - 1 AS idx FROM orders) "
        "WHERE idx < 400"
    )
    return sql_image_quantize_rgb332(idx_cte)


@register("image_quantize_rgb332", _quant332_sql())
def image_quantize_rgb332_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-dither palette quantization (operators/multimodal.
    image_quantize_rgb332): decode → 4x4 Bayer threshold (position-
    dependent, so pixel ADDRESSING is on the hash, not just values) →
    RGB332 palette → in-kernel per-image histogram. Map-only; DuckDB twin
    regenerates formula pixels and applies the identical integer
    quantization text."""
    from osmgraft.operators.multimodal import image_quantize_rgb332
    from osmgraft.synth import synth_formula_images

    n = min(read_fixture(spark, sf_dir, "orders").count(), 400)
    imgs = ensure_min_parallelism(synth_formula_images(spark, n))
    return image_quantize_rgb332(imgs)


def _sql_opening() -> str:
    from osmgraft.operators.density import sql_raster_opening

    cells = f"WITH pts AS ({_PTS}) {_sql_cells(6)}"
    return sql_raster_opening(cells, 1)


@register("tile_opening_z6", _sql_opening())
def tile_opening_z6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morphological OPENING (erode∘dilate, operators/density.py) of the z6
    occupancy raster with a 3x3 structuring square — the classic raster
    denoise: isolated specks and 1-cell filaments vanish, solid urban blobs
    survive unchanged. Engine composes the separable box pass with
    threshold/equality filters; the DuckDB twin is a direct correlated
    neighborhood-count join + DISTINCT dilation — different algorithms,
    one hash."""
    from osmgraft.operators.density import raster_opening

    pts = points_from_orders(spark, sf_dir)
    cells = (
        pts.select(
            tiles.tile_x(F.col("lon7"), 6).alias("cx"),
            tiles.tile_y(F.col("lat7"), 6).alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return raster_opening(cells, radius=1)


def _sql_rose() -> str:
    from osmgraft.operators.trajectory import sql_movement_rose

    return sql_movement_rose(_TRACK_CTE)


@register("movement_rose_tracks", _sql_rose())
def movement_rose_tracks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity compass-rose direction histogram
    (operators/trajectory.movement_rose): octant of each consecutive step
    by the exact integer sector rule (quadrant signs + |dx| vs |dy|
    diagonal split — floor(atan2/45°) without trig). One ent-shuffle +
    map-side-combined counts; hash-gated against the identical CASE-text
    twin at both SFs."""
    from osmgraft.operators.trajectory import movement_rose

    o = ensure_min_parallelism(read_fixture(spark, sf_dir, "orders"))
    track = o.selectExpr(
        "o_custkey % 199 AS ent",
        "o_orderkey AS seq",
        "(o_orderkey * 13) % 100000 div 10 AS x",
        "(o_orderkey * 29) % 100000 div 10 AS y",
    )
    return movement_rose(track)


@register("tile_mosaic_z5", None)
def tile_mosaic_z5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo-mosaic tile montage (operators/raster.mosaic_tiles): geo-tagged
    images → z5 tiles → per-tile 8x8 grid of 8x8 area-resized thumbnails →
    one PNG per tile (the photo-map materialization; WindowGroupLimit
    prunes to grid² payloads per tile BEFORE any decode). Rows-only by
    design (pixels are Philox — no SQL twin); canvas CRCs + local
    reconstruction equality are pinned in test_mosaic.py."""
    from osmgraft.operators.raster import mosaic_tiles
    from osmgraft.synth import synth_images

    n = min(read_fixture(spark, sf_dir, "orders").count(), 1500)
    imgs = ensure_min_parallelism(synth_images(spark, n))
    return mosaic_tiles(imgs, z=5).select("tx", "ty", "n_images", "mosaic_crc")


# --- triangle counting (operators/graph.triangle_counts) -------------------------
_TRI_EDGES_SQL = """SELECT o_orderkey % 211 AS src,
       (o_orderkey // 211) % 211 AS dst
FROM orders"""


def _sql_triangles() -> str:
    from osmgraft.operators.graph import sql_triangle_counts

    return sql_triangle_counts(_TRI_EDGES_SQL)


@register("triangle_counts_covisit", _sql_triangles())
def triangle_counts_covisit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (operators/graph.triangle_counts) over the
    deterministic co-visit graph — the clustering-coefficient numerator.
    Engine: the degree-ORIENTED wedge algorithm (out-degree bounded
    O(sqrt(E)) per node, so celebrity skew never goes quadratic); oracle:
    the naive a<b<c three-way self-join. Different algorithms, identical
    exact counts, both SFs."""
    from osmgraft.operators.graph import triangle_counts

    o = ensure_min_parallelism(read_fixture(spark, sf_dir, "orders"))
    edges = o.selectExpr(
        "o_orderkey % 211 AS src",
        "(o_orderkey div 211) % 211 AS dst",
    )
    return triangle_counts(edges)


def _sql_transitivity() -> str:
    from osmgraft.operators.graph import sql_transitivity

    return sql_transitivity(
        "SELECT o_orderkey % 211 AS src, (o_orderkey // 211) % 211 AS dst"
        " FROM orders"
    )


@register("covisit_transitivity", _sql_transitivity())
def covisit_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global transitivity of the co-visit graph (operators/graph.
    transitivity, Watts & Strogatz 1998): C = 3·triangles/wedges as the
    exact rational 6T / Σd(d−1), numerator from the degree-ORIENTED
    triangle kernel (skew-bounded), clustered/sparse class at the pinned
    C ≥ 1/3 divide — the one-number small-world summary over the same
    graph triangle_counts_covisit counts per node.

    100 TB: triangle kernel + one degree agg."""
    from osmgraft.operators.graph import transitivity

    o = ensure_min_parallelism(read_fixture(spark, sf_dir, "orders"))
    edges = o.selectExpr(
        "o_orderkey % 211 AS src",
        "(o_orderkey div 211) % 211 AS dst",
    )
    return transitivity(edges)


def _sql_ktruss_q() -> str:
    from osmgraft.operators.graph import sql_ktruss

    return sql_ktruss(
        "SELECT o_orderkey % 211 AS src, (o_orderkey // 211) % 211 AS dst"
        " FROM orders",
        k=4,
        rounds=6,
    )


@register("covisit_ktruss_4", _sql_ktruss_q())
def covisit_ktruss_4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the co-visit graph (operators/graph.ktruss, Cohen
    2008): the maximal subgraph where every edge closes ≥ 2 triangles
    WITHIN the subgraph, by the standard support-peel fixed point —
    the edge-cohesion refinement of k-core (k-core bounds degrees,
    k-truss bounds triangle embedding; a 4-truss is contained in the
    3-core but strictly tighter).  Surviving edges carry their exact
    fixed-point support.  DuckDB unrolls the identical peel as
    MATERIALIZED chained CTEs; convergence inside the pinned 6 rounds
    is pytest-pinned.

    100 TB, per round: oriented wedge join + closing equi-join +
    map-side count — the triangle kernel's skew bound applies."""
    from osmgraft.operators.graph import ktruss

    o = ensure_min_parallelism(read_fixture(spark, sf_dir, "orders"))
    edges = o.selectExpr(
        "o_orderkey % 211 AS src", "(o_orderkey div 211) % 211 AS dst"
    )
    return ktruss(edges, k=4, max_rounds=6)


# --- column profiling ------------------------------------------------------------
_PROFILE_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def _sql_profile() -> str:
    from osmgraft.operators.stats import sql_profile_columns

    return sql_profile_columns(_PROFILE_COLS, "documents")


@register("profile_documents", _sql_profile())
def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style one-pass column profile of the documents table
    (operators/stats.profile_columns): per column n / n_null / n_distinct /
    min / max in ONE agg (single scan + Expand, all map-side partial) then
    a literal-struct explode pivots to rows. The data-quality gate a
    training-data pipeline runs before anything else touches a crawl
    snapshot. Oracle: per-column UNION ALL — a different plan shape
    computing the same profile."""
    from osmgraft.operators.stats import profile_columns

    docs = ensure_min_parallelism(
        read_fixture(spark, sf_dir, "documents")
    )
    return profile_columns(docs, _PROFILE_COLS)


def _sql_compaction() -> str:
    from osmgraft.operators.packing import sql_compaction_plan

    return sql_compaction_plan(
        "SELECT doc_id AS file_id, source, n_chars AS bytes FROM documents",
        target_bytes=4096,
        part_cols="source",
    )


@register("compaction_plan_docs", _sql_compaction())
def compaction_plan_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning (operators/packing.compaction_plan):
    the Iceberg-binPack/Delta-OPTIMIZE rewrite plan over a synthetic file
    manifest (documents as files, n_chars as bytes, source as the table
    partition). Next-fit-decreasing by exclusive prefix sum, int64 `div`
    bucketing, window partitioned by the table partition — manifests are
    file-count-sized so this is the bounded-metadata shape a compactor
    actually runs. Output: per-bin (source, bin, n_files, bin_bytes)."""
    from osmgraft.operators.packing import compaction_plan

    docs = ensure_min_parallelism(
        read_fixture(spark, sf_dir, "documents")
    ).selectExpr("doc_id AS file_id", "source", "n_chars AS bytes")
    return compaction_plan(docs, 4096, ["source"])


# --- geo-aware image near-dup: same-tile + pHash-band candidates -------------------
def _sql_geo_neardup() -> str:
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("loc_src")
    return f"""WITH idxs AS (SELECT row_number() OVER () - 1 AS idx FROM orders),
capped AS (SELECT idx FROM idxs WHERE idx < {_HNP_CAP}),
srcs AS (
  SELECT idx,
         CASE WHEN idx % 50 IN (49, 24) AND idx > 0 THEN idx - 1 ELSE idx END AS hash_src,
         CASE WHEN idx % 50 = 49 AND idx > 0 THEN idx - 1 ELSE idx END AS loc_src
  FROM capped),
t AS (
  SELECT idx AS image_id,
         CASE WHEN hash_src <> idx
              THEN xor({_sketch_sql('hash_src')},
                       CAST(1 AS BIGINT) << CAST(idx % 40 AS INTEGER))
              ELSE {_sketch_sql('idx')} END AS phash,
         {tiles.sql_tile_x(lon, 7)} AS tx,
         {tiles.sql_tile_y(lat, 7)} AS ty
  FROM srcs)
SELECT a.image_id AS id_a, b.image_id AS id_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
FROM t a JOIN t b
  ON a.image_id < b.image_id AND a.tx = b.tx AND a.ty = b.ty
WHERE bit_count(xor(a.phash, b.phash)) <= 4"""


@register("geo_phash_neardup_z7", _sql_geo_neardup())
def geo_phash_neardup_z7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEO-AWARE image near-dup (multimodal.phash_near_dup_pairs with
    key_cols=[tx, ty]): candidate pairs must share a z7 tile AND a pHash
    band — the planetary-image-lake dedup shape, where the self-join
    collapses to per-cell joins and bucket space multiplies by tile
    cardinality.  The fixture plants TWO kinds of 1-bit hash near-dups:
    co-located (idx%50==49, location inherited — must be found) and
    location-independent (idx%50==24, own location — must be dropped unless
    the pair coincidentally shares a tile, which both engines decide
    identically from integer lat7/lon7).  Oracle: brute-force all pairs
    with an explicit same-tile predicate — the tile restriction is
    load-bearing on both sides."""
    from osmgraft.operators.multimodal import phash_near_dup_pairs
    from osmgraft.synth import latlon_of_key

    n = min(read_fixture(spark, sf_dir, "orders").count(), _HNP_CAP)
    i = F.col("id")
    hash_src = F.when(((i % 50).isin(49, 24)) & (i > 0), i - 1).otherwise(i)
    loc_src = F.when((i % 50 == 49) & (i > 0), i - 1).otherwise(i)
    sk = lambda k: ((k * 2654435761) % 2147483648) * 4294967296 + (
        (k * 40503 + 17) % 4294967296
    )  # noqa: E731
    planted = sk(hash_src).bitwiseXOR(
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(id % 40 AS INT))")
    )
    lat, lon = latlon_of_key(loc_src)
    df = ensure_min_parallelism(spark.range(n)).select(
        i.alias("image_id"),
        F.when(hash_src != i, planted).otherwise(sk(i)).alias("phash"),
        tiles.tile_x(lon, 7).alias("tx"),
        tiles.tile_y(lat, 7).alias("ty"),
    )
    return phash_near_dup_pairs(
        df, max_hamming=4, probe_flips=1, key_cols=["tx", "ty"]
    ).select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


# --- HMM map matching --------------------------------------------------------------
_VIT_MAXLEN, _VIT_NODES = 6, 32


def _vit_points_sql() -> str:
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("o_orderkey")
    return f"""SELECT track_id, seq, lat7, lon7 FROM (
  SELECT o_custkey AS track_id,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS seq,
         {lat} AS lat7, {lon} AS lon7
  FROM orders) WHERE seq <= {_VIT_MAXLEN}"""


def _vit_nodes_sql() -> str:
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("(k * 7919 + 13)")
    return f"""SELECT k AS node_id, {lat} AS lat7, {lon} AS lon7
FROM (SELECT unnest(range(1, {_VIT_NODES + 1})) AS k)"""


def _sql_viterbi() -> str:
    from osmgraft.operators.snap import sql_viterbi_cost

    return sql_viterbi_cost(
        _vit_points_sql(), _vit_nodes_sql(), max_len=_VIT_MAXLEN, n_cand=4
    )


@register("viterbi_match_tracks", _sql_viterbi())
def viterbi_match_tracks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HMM map matching (operators/snap.viterbi_match): Viterbi over each
    track's 4 nearest road-node candidates — continuity-aware snapping,
    integer-exact DP (reduced squared distances).  Tracks: first ≤6 orders
    per customer; nodes: 32 synthetic road vertices.  The gate hash-checks
    the JOINT OPTIMUM (track_id, n_pts, total_cost) against the recurrence
    unrolled into 6 chained group-min CTEs (the pagerank/Bellman-Ford
    bounded-round discipline); the decoded PATH is pinned by exhaustive
    brute force in test_snap.py (SQL backtracking would need recursion with
    aggregation, which DuckDB 1.0 lacks)."""
    from pyspark.sql import Window as W

    from osmgraft.operators.snap import viterbi_match
    from osmgraft.synth import latlon_of_key

    o = ensure_min_parallelism(read_fixture(spark, sf_dir, "orders"))
    lat, lon = latlon_of_key(F.col("o_orderkey"))
    pts = (
        o.select(
            F.col("o_custkey").alias("track_id"),
            F.row_number()
            .over(W.partitionBy("o_custkey").orderBy("o_orderkey"))
            .alias("seq"),
            lat.alias("lat7"),
            lon.alias("lon7"),
        )
        .filter(F.col("seq") <= _VIT_MAXLEN)
    )
    k = F.col("id") * 7919 + 13
    nlat, nlon = latlon_of_key(k)
    nodes = spark.range(1, _VIT_NODES + 1).select(
        F.col("id").alias("node_id"), nlat.alias("lat7"), nlon.alias("lon7")
    )
    matched = viterbi_match(pts, nodes, n_cand=4)
    return matched.groupBy("track_id").agg(
        F.max("seq").alias("n_pts"),
        F.max("total_cost").alias("total_cost"),
    )


def _sql_auc() -> str:
    from osmgraft.operators.ranking import sql_auc_exact

    return sql_auc_exact(
        "SELECT source, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,"
        " n_chars AS score FROM documents",
        group_cols="source",
    )


@register("auc_lang_by_source", _sql_auc())
def auc_lang_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group ROC-AUC (operators/ranking.auc_exact) — evaluating
    "n_chars as an is-English classifier" per source: tie-corrected
    Mann-Whitney as an integer rational (auc_num, auc_den), no IEEE
    anywhere. One histogram agg (distinct-score-sized), one cumulative
    window over the AGGREGATE, one group rollup — the quality-filter
    calibration loop a curation pipeline runs per strata."""
    from osmgraft.operators.ranking import auc_exact

    docs = ensure_min_parallelism(
        read_fixture(spark, sf_dir, "documents")
    ).select(
        "source",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("label"),
        F.col("n_chars").alias("score"),
    )
    return auc_exact(docs, ["source"])


def _sql_hausdorff() -> str:
    from osmgraft.operators.trajectory import sql_hausdorff_pairs

    return sql_hausdorff_pairs(_TRACK_CTE, bucket_z_shift=9, max_pts=8)


@register("hausdorff_pairs_tracks", _sql_hausdorff())
def hausdorff_pairs_tracks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory similarity join (operators/trajectory.hausdorff_pairs):
    symmetric discrete Hausdorff d² between track pairs bucketed by the
    first sample's coarse cell (celljoin discipline — O(cell²) pairs, not
    O(n²)). Tracks collapse to one bounded struct-array row; the max-min
    runs as nested transform/array_min/array_max — whole-stage codegen, no
    Python, no explode. The DuckDB twin is deliberately relational
    (explode point pairs, group-min, group-max): different plan, same
    integers."""
    from osmgraft.operators.trajectory import hausdorff_pairs

    o = ensure_min_parallelism(read_fixture(spark, sf_dir, "orders"))
    track = o.selectExpr(
        "o_custkey % 199 AS ent",
        "o_orderkey AS seq",
        "(o_orderkey * 13) % 100000 div 10 AS x",
        "(o_orderkey * 29) % 100000 div 10 AS y",
    )
    return hausdorff_pairs(track, bucket_z_shift=9, max_pts=8)


def _sql_frechet() -> str:
    from osmgraft.operators.trajectory import sql_frechet_pairs

    return sql_frechet_pairs(_TRACK_CTE, bucket_z_shift=9, max_pts=7)


@register("frechet_pairs_tracks", _sql_frechet())
def frechet_pairs_tracks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete Fréchet coupling distance between track pairs (operators/
    trajectory.frechet_pairs, Eiter & Mannila 1994) — the ORDER-AWARE
    companion to hausdorff_pairs_tracks over the same bucketed pair
    population: ca(i,j) = max(d², min(↑, ↖, ←)), all int64.  Spark runs
    the DP as nested JVM aggregate() folds (sequential scan per row, no
    Python); the DuckDB twin advances each row in CLOSED FORM inside a
    recursive CTE (min-max identity) — two different algorithms, one
    hash.  By Fréchet ≥ Hausdorff the pair yields a pinned cross-query
    invariant (tests)."""
    from osmgraft.operators.trajectory import frechet_pairs

    o = ensure_min_parallelism(read_fixture(spark, sf_dir, "orders"))
    track = o.selectExpr(
        "o_custkey % 199 AS ent",
        "o_orderkey AS seq",
        "(o_orderkey * 13) % 100000 div 10 AS x",
        "(o_orderkey * 29) % 100000 div 10 AS y",
    )
    return frechet_pairs(track, bucket_z_shift=9, max_pts=7)


def _sql_dtw() -> str:
    from osmgraft.operators.trajectory import sql_dtw_pairs

    return sql_dtw_pairs(_TRACK_CTE, bucket_z_shift=9, max_pts=7)


@register("dtw_pairs_tracks", _sql_dtw())
def dtw_pairs_tracks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-time-warping alignment cost between track pairs (operators/
    trajectory.dtw_pairs, Sakoe & Chiba 1978 / Berndt & Clifford 1994) —
    the SUM-coupling member of the similarity trio over the same bucketed
    pair population as hausdorff/frechet_pairs_tracks:
    ca(i,j) = d² + min(↑, ↖, ←), all int64.  Spark runs the DP as nested
    JVM aggregate() folds; the DuckDB twin advances each row in CLOSED
    FORM inside a recursive CTE (distributing + over min) — two different
    algorithms, one hash.  DTW ≥ Fréchet ≥ Hausdorff on shared pairs is a
    pinned cross-query invariant (tests/test_trajectory.py)."""
    from osmgraft.operators.trajectory import dtw_pairs

    o = ensure_min_parallelism(read_fixture(spark, sf_dir, "orders"))
    track = o.selectExpr(
        "o_custkey % 199 AS ent",
        "o_orderkey AS seq",
        "(o_orderkey * 13) % 100000 div 10 AS x",
        "(o_orderkey * 29) % 100000 div 10 AS y",
    )
    return dtw_pairs(track, bucket_z_shift=9, max_pts=7)


def _sql_rle() -> str:
    from osmgraft.operators.multimodal import sql_image_rle

    idx_cte = (
        "SELECT idx FROM (SELECT row_number() OVER () - 1 AS idx FROM orders) "
        "WHERE idx < 400"
    )
    return sql_image_rle(idx_cte)


@register("image_rle_runs", _sql_rle())
def image_rle_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length encoding of decoded luma planes
    (operators/multimodal.image_rle): real container decode (raw/ppm/png) →
    integer luma → maximal constant runs, one row each. The formula-pixel
    fixture lets the DuckDB twin regenerate every pixel and extract runs
    RELATIONALLY (gaps-and-islands) — decode, luma, run segmentation and
    lengths are all on the hash. Map-only, no shuffle."""
    from osmgraft.operators.multimodal import image_rle
    from osmgraft.synth import synth_formula_images

    n = min(read_fixture(spark, sf_dir, "orders").count(), 400)
    imgs = ensure_min_parallelism(synth_formula_images(spark, n))
    return image_rle(imgs)


# sparse hub-heavy noise graph + a PLANTED 30-clique: the noise part has an
# EMPTY 20-core (hub-and-spoke — measured; peeling cascades it away), so
# k=20 must recover exactly the planted clique or the gate fails.
_KCORE_HALF_SQL = (
    "SELECT o_orderkey % 2003 AS src, (o_orderkey // 2003) % 2003 AS dst "
    "FROM orders"
)
_KCORE_CLIQUE_SQL = (
    "SELECT a.i AS src, b.i AS dst FROM range(30) a(i) "
    "CROSS JOIN range(30) b(i) WHERE a.i <> b.i"
)
_KCORE_EDGES_SQL = f"""SELECT src, dst FROM ({_KCORE_HALF_SQL}) WHERE src <> dst
UNION
SELECT dst, src FROM ({_KCORE_HALF_SQL}) WHERE src <> dst
UNION
SELECT src, dst FROM ({_KCORE_CLIQUE_SQL})"""


def _sql_kcore() -> str:
    from osmgraft.operators.graph import sql_kcore

    return sql_kcore(_KCORE_EDGES_SQL, k=20, rounds=8)


@register("kcore20_planted", _sql_kcore())
def kcore20_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (operators/graph.kcore): 8 peel rounds at k=20
    over a hub-heavy noise graph with a planted 30-clique — the
    community-core / spam-ring primitive; the noise part's 20-core is
    EMPTY (peeling cascades it away), so the gate checks both the cascade
    and exact core recovery. Per round one degree agg + two semi-join
    filters (Pregel shape, localCheckpoint against plan doubling);
    convergence pinned in test_graph.py. Oracle: the peel unrolled into 8
    chained MATERIALIZED CTEs (plain CTEs re-inline ~3^rounds times in
    DuckDB 1.0 — measured minutes vs milliseconds)."""
    from osmgraft.operators.graph import kcore

    o = ensure_min_parallelism(read_fixture(spark, sf_dir, "orders"))
    half = o.selectExpr(
        "o_orderkey % 2003 AS src", "(o_orderkey div 2003) % 2003 AS dst"
    ).filter("src <> dst")
    r = spark.range(30)
    clique = (
        r.selectExpr("id AS src")
        .crossJoin(r.selectExpr("id AS dst"))
        .filter("src <> dst")
    )
    edges = (
        half.unionByName(half.selectExpr("dst AS src", "src AS dst"))
        .unionByName(clique)
        .distinct()
    )
    return kcore(edges, k=20, rounds=8)


# --- geofence proximity scrub ------------------------------------------------------
_GEOFENCE_SITES = [(lat, lon) for lat, lon in [
    (407_000_000, -740_000_000), (515_000_000, -1_000_000),
    (356_000_000, 1_397_000_000)]]  # the synth hot-spot centers
_GEOFENCE_R = 250_000  # 0.025°: inside the ±0.02° hot-box jitter, so the
# fixture has points on BOTH sides of the fence (corners survive)


def _sql_geofence() -> str:
    from osmgraft.operators.snap import sql_geofence_scrub

    return sql_geofence_scrub(_PTS, _GEOFENCE_SITES, _GEOFENCE_R)


@register("geofence_scrub_points", _sql_geofence())
def geofence_scrub_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo-PII proximity scrub (operators/snap.geofence_scrub): drop points
    strictly within 0.025° squared-L2 of any sensitive site (the hot-spot
    centers — the radius sits INSIDE the hot-box jitter so both fates
    occur). One literal clamped-d2 struct-array projection — zero joins,
    zero shuffles, pure codegen; the geofencing dual of pii_scrub's text
    pass. Twin: LEAST over the identical clamped-d2 texts."""
    from osmgraft.operators.snap import geofence_scrub

    pts = points_from_orders(spark, sf_dir)
    return geofence_scrub(pts, _GEOFENCE_SITES, _GEOFENCE_R)


def _sql_mad() -> str:
    from osmgraft.operators.stats import sql_mad_exact

    return sql_mad_exact(
        "SELECT source, n_chars FROM documents", ["source"], "n_chars"
    )


@register("mad_nchars_by_source", _sql_mad())
def mad_nchars_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust spread per stratum (operators/stats.mad_exact): exact median
    absolute deviation of document length per source — the outlier-filter
    statistic stddev can't safely provide. Two exact discrete medians
    (histogram + window over the AGGREGATE, rank convention ==
    quantile_disc), deviation join broadcast. Twin: DuckDB native
    quantile_disc twice — an independent implementation."""
    from osmgraft.operators.stats import mad_exact

    docs = ensure_min_parallelism(
        read_fixture(spark, sf_dir, "documents")
    ).select("source", "n_chars")
    return mad_exact(docs, ["source"], "n_chars")


# --- image Otsu threshold + connected components -----------------------------------
_FIMG_IDX_CTE = (
    "SELECT idx FROM (SELECT row_number() OVER () - 1 AS idx FROM orders) "
    "WHERE idx < {n}"
)


def _sql_otsu() -> str:
    from osmgraft.operators.multimodal import sql_image_otsu

    return sql_image_otsu(_FIMG_IDX_CTE.format(n=400))


@register("image_otsu_threshold", _sql_otsu())
def image_otsu_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Otsu global binarization threshold per image
    (operators/multimodal.image_otsu): real container decode → integer luma
    histogram → floor-quantized between-class-variance argmax (ties →
    smallest t). The whole reduction is O(256) per image and vectorized
    across the (images × 256) stack — map-only mapInArrow, no shuffle at
    any corpus width. The DuckDB twin regenerates every pixel from the
    formula fixture and builds histogram/cumulatives RELATIONALLY, so
    decode, histogram, cumulative algebra and tie rule are all on the
    hash."""
    from osmgraft.operators.multimodal import image_otsu
    from osmgraft.synth import synth_formula_images

    n = min(read_fixture(spark, sf_dir, "orders").count(), 400)
    imgs = ensure_min_parallelism(synth_formula_images(spark, n))
    return image_otsu(imgs)


def _sql_cc_img() -> str:
    from osmgraft.operators.multimodal import sql_image_cc

    return sql_image_cc(_FIMG_IDX_CTE.format(n=250))


@register("image_cc_blobs", _sql_cc_img())
def image_cc_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-connected component labeling of per-image foreground masks
    (operators/multimodal.image_cc): decode → luma >= 200 mask → one row
    per blob (comp = min flat pixel index, size). The kernel is iterative
    min-label propagation vectorized over the WHOLE image stack (full-array
    numpy sweeps, no per-pixel Python) — map-only, per-image cost
    independent of corpus width. The DuckDB twin labels the same mask by a
    genuinely different algorithm (4-adjacency edge set + recursive-CTE
    transitive closure), putting decode, thresholding, adjacency and
    labeling all on the hash."""
    from osmgraft.operators.multimodal import image_cc
    from osmgraft.synth import synth_formula_images

    n = min(read_fixture(spark, sf_dir, "orders").count(), 250)
    imgs = ensure_min_parallelism(synth_formula_images(spark, n))
    return image_cc(imgs)


def _sql_blob_props() -> str:
    from osmgraft.operators.multimodal import sql_image_blob_props

    return sql_image_blob_props(_FIMG_IDX_CTE.format(n=250))


@register("image_blob_props", _sql_blob_props())
def image_blob_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region properties per foreground blob
    (operators/multimodal.image_blob_props, the scikit-image regionprops
    shape): per 4-connected component — size, inclusive bbox, exact
    rational centroid sums (division never taken) and 4-neighborhood
    boundary length. Shared min-label propagation + offset-bincount /
    minimum.at stats, map-only. Twin: recursive-CTE closure labeling +
    plain relational aggregates — bbox, centroid sums and perimeter all on
    the hash."""
    from osmgraft.operators.multimodal import image_blob_props as ibp
    from osmgraft.synth import synth_formula_images

    n = min(read_fixture(spark, sf_dir, "orders").count(), 250)
    imgs = ensure_min_parallelism(synth_formula_images(spark, n))
    return ibp(imgs)


def _sql_dt_img() -> str:
    from osmgraft.operators.multimodal import sql_image_distance_transform

    return sql_image_distance_transform(_FIMG_IDX_CTE.format(n=250))


@register("image_distance_transform", _sql_dt_img())
def image_distance_transform_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact L1 distance transform per image
    (operators/multimodal.image_distance_transform): for every pixel, the
    city-block distance to the nearest foreground pixel (luma >= 200),
    emitted as a per-image distance histogram — every pixel's distance is
    on the hash.  The kernel is the separable two-pass relaxation
    (Rosenfeld–Pfaltz), each sweep a whole-stack numpy op; the DuckDB twin
    applies the raw DEFINITION (min over all foreground pixels of
    |dx|+|dy| via an all-pairs join) — so the exactness of the two-pass
    argument itself is gated."""
    from osmgraft.operators.multimodal import image_distance_transform
    from osmgraft.synth import synth_formula_images

    n = min(read_fixture(spark, sf_dir, "orders").count(), 250)
    imgs = ensure_min_parallelism(synth_formula_images(spark, n))
    return image_distance_transform(imgs)


def _sql_grad_rose() -> str:
    from osmgraft.operators.multimodal import sql_image_gradient_rose

    return sql_image_gradient_rose(_FIMG_IDX_CTE.format(n=250))


@register("image_gradient_rose", _sql_grad_rose())
def image_gradient_rose_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image gradient-orientation rose
    (operators/multimodal.image_gradient_rose, the HOG building block):
    central-difference integer gradients over interior luma, the trajectory
    movement-rose octant rule, per-bin pixel counts + exact mag² edge
    energy.  Engine decodes real containers and shifts arrays; the DuckDB
    twin re-derives every gradient from the closed-form pixel formula at
    shifted coordinates — decode, stencil, sector rule and energy sums all
    on one hash."""
    from osmgraft.operators.multimodal import image_gradient_rose
    from osmgraft.synth import synth_formula_images

    n = min(read_fixture(spark, sf_dir, "orders").count(), 250)
    imgs = ensure_min_parallelism(synth_formula_images(spark, n))
    return image_gradient_rose(imgs)


def _sql_histeq() -> str:
    from osmgraft.operators.multimodal import sql_image_hist_equalize

    return sql_image_hist_equalize(_FIMG_IDX_CTE.format(n=250))


@register("image_hist_equalize", _sql_histeq())
def image_hist_equalize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image histogram equalization (operators/multimodal.
    image_hist_equalize, the Gonzalez–Woods integer recipe): luma
    remapped through its own CDF with one exact floor division, output
    pinned by exact moments + positional checksum — decode, histogram,
    CDF and remap all on one hash.  Completes the enhancement chain
    (quantize → dither → equalize); tile_equalize_z9 is the raster-tile
    sibling.  Twin rebuilds the CDF relationally from closed-form
    pixels.  100 TB: map-only mapInArrow."""
    from osmgraft.operators.multimodal import image_hist_equalize
    from osmgraft.synth import synth_formula_images

    n = min(read_fixture(spark, sf_dir, "orders").count(), 250)
    imgs = ensure_min_parallelism(synth_formula_images(spark, n))
    return image_hist_equalize(imgs)


def _sql_glcm() -> str:
    from osmgraft.operators.multimodal import sql_image_glcm_features

    return sql_image_glcm_features(_FIMG_IDX_CTE.format(n=250))


@register("image_glcm_features", _sql_glcm())
def image_glcm_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLCM texture features per image (operators/multimodal.
    image_glcm_features, Haralick et al. 1973): east-neighbor
    co-occurrence over 16-level quantized luma, the division-free pair
    contrast = Σc(i,j)(i−j)² and energy_num = Σc(i,j)² exact — the
    STATISTICAL texture family beside image_lbp_uniform's structural
    codes (LBP sees micro-patterns; GLCM sees the level-pair
    distribution).  Twin replays the histogram relationally from the
    closed-form pixels.  100 TB: map-only mapInArrow."""
    from osmgraft.operators.multimodal import image_glcm_features
    from osmgraft.synth import synth_formula_images

    n = min(read_fixture(spark, sf_dir, "orders").count(), 250)
    imgs = ensure_min_parallelism(synth_formula_images(spark, n))
    return image_glcm_features(imgs)


def _sql_dither() -> str:
    from osmgraft.operators.multimodal import sql_image_dither_bayer

    return sql_image_dither_bayer(_FIMG_IDX_CTE.format(n=250))


@register("image_dither_bayer", _sql_dither())
def image_dither_bayer_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered Bayer dithering to 1-bit per image (operators/multimodal.
    image_dither_bayer, Bayer 1973): luma against the tiled 4×4 index
    matrix's integer threshold lattice; per image exact (n_px, n_on,
    chk_on) with a positional checksum pinning every bit's location.
    Map-only by construction — the halftone a 100 TB pipeline can afford
    (error diffusion is a sequential scan; this is one comparison per
    pixel).  Twin replays the lattice from the closed-form pixels."""
    from osmgraft.operators.multimodal import image_dither_bayer
    from osmgraft.synth import synth_formula_images

    n = min(read_fixture(spark, sf_dir, "orders").count(), 250)
    imgs = ensure_min_parallelism(synth_formula_images(spark, n))
    return image_dither_bayer(imgs)


def _sql_lbp() -> str:
    from osmgraft.operators.multimodal import sql_image_lbp_uniform

    return sql_image_lbp_uniform(_FIMG_IDX_CTE.format(n=250))


@register("image_lbp_uniform", _sql_lbp())
def image_lbp_uniform_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform LBP texture histogram per image (operators/multimodal.
    image_lbp_uniform, Ojala et al. PAMI 2002): 8-bit neighbor-vs-center
    codes over interior luma, the 58 uniform ring patterns kept, the rest
    pooled at -1 — the textbook 59-bin texture descriptor, exact integer
    counts.  The micro-texture companion to image_gradient_rose
    (orientation) and image_haar_energies (scale).  Engine decodes real
    containers; the DuckDB twin re-derives every comparison from the
    closed-form pixel formula and replays the rotate-XOR-popcount
    uniformity rule — decode, bit order and pooling all on one hash.

    100 TB: map-only mapInArrow, no shuffle."""
    from osmgraft.operators.multimodal import image_lbp_uniform
    from osmgraft.synth import synth_formula_images

    n = min(read_fixture(spark, sf_dir, "orders").count(), 250)
    imgs = ensure_min_parallelism(synth_formula_images(spark, n))
    return image_lbp_uniform(imgs)


def _sql_hough() -> str:
    from osmgraft.operators.multimodal import sql_image_hough_argmax

    return sql_image_hough_argmax(_FIMG_IDX_CTE.format(n=250))


@register("image_hough_line", _sql_hough())
def image_hough_line_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant-line detection per image
    (operators/multimodal.image_hough_argmax): exact-integer Hough votes
    over a fixed 8-direction table (rho = a·x + b·y, no trig, no float
    bins), winner by (votes DESC, dir, rho).  Kernel is a composite-key
    bincount over the whole stack; the DuckDB twin re-votes relationally
    from the formula pixels and picks with the shared tie rule — decode,
    thresholding, the vote algebra and the argmax are all on the hash."""
    from osmgraft.operators.multimodal import image_hough_argmax
    from osmgraft.synth import synth_formula_images

    n = min(read_fixture(spark, sf_dir, "orders").count(), 250)
    imgs = ensure_min_parallelism(synth_formula_images(spark, n))
    return image_hough_argmax(imgs)


_SQL_CUBE = """SELECT lang, source, GROUPING(lang, source) AS gid,
       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY CUBE (lang, source)"""


@register("cube_lang_source", _SQL_CUBE)
def cube_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional rollup: doc counts + char volume over every
    grouping set of (lang, source) in ONE pass — Spark's native CUBE
    (Catalyst Expand + a single hash aggregate with map-side partials;
    the OLAP sibling of tile_pyramid's spatial rollup).  grouping_id is
    the SQL-standard bitmask both engines share, NULL marks aggregated
    dims.  100 TB shape: Expand multiplies rows 4x BEFORE the combine —
    still one shuffle keyed by (gid, lang, source), no per-set rescans."""
    docs = _docs(spark, sf_dir)
    return docs.cube("lang", "source").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    ).select("lang", "source", "gid", "n_docs", "sum_chars")


# --- CUSUM burst detection ----------------------------------------------------------
# floor(epoch), not CAST: DuckDB's double->int cast ROUNDS, so an event at
# hh:59:59.9 would jump into the next hour while Spark's unix_timestamp
# truncates (found at sf0.01 — two boundary events).
_CUSUM_COUNTS_SQL = (
    "SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr, "
    "count(*) AS cnt FROM events GROUP BY 1, 2"
)


def _sql_cusum() -> str:
    from osmgraft.operators.stats import sql_cusum_bursts

    return sql_cusum_bursts(_CUSUM_COUNTS_SQL, "event_type", "hr", "cnt")


def _sql_autocorr() -> str:
    from osmgraft.operators.stats import sql_autocorr_terms

    return sql_autocorr_terms(_CUSUM_COUNTS_SQL, "event_type", "hr", "cnt", lag=24)


@register("autocorr_lag24", _sql_autocorr())
def autocorr_lag24(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality detection (operators/stats.autocorr_terms): exact
    integer lag-24h autocorrelation terms per event type over the hourly
    count series — the dense definition (missing hours are x=0) collapsed
    to a sparse closed form (num = n²P − nS(A+B) + (n−24)S²), nothing ever
    densified.  The DuckDB twin DOES densify (fixed-ceiling range + left
    join) and takes the definition sums — the collapse algebra itself is
    on the hash.  autocorr = num/den is left as an exact rational."""
    ev = read_fixture(spark, sf_dir, "events")
    counts = (
        ev.select(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hr"),
        )
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from osmgraft.operators.stats import autocorr_terms

    return autocorr_terms(counts, "event_type", "hr", "cnt", lag=24)


@register("cusum_bursts_hourly", _sql_cusum())
def cusum_bursts_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential burst detection (operators/stats.cusum_bursts, Page
    1954): one-sided CUSUM of hourly event counts per type with
    data-derived integer drift — the rate-anomaly monitor. The engine
    evaluates the dense recurrence in CLOSED FORM over the sparse
    aggregate (gap minima via the pre-row value; no hour densification —
    a sequence() explode at hour grain would dwarf the aggregate at
    scale); the DuckDB twin walks the textbook recurrence hour by hour
    with a recursive CTE, so the gap algebra itself is on the hash. One
    hash agg + one key-shuffle window over the aggregate."""
    from osmgraft.operators.stats import cusum_bursts

    ev = ensure_min_parallelism(read_fixture(spark, sf_dir, "events"))
    counts = (
        ev.select(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hr"),
        )
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return cusum_bursts(counts, "event_type", "hr", "cnt")


def _sql_tmatch() -> str:
    from osmgraft.operators.multimodal import sql_image_template_match

    return sql_image_template_match(_FIMG_IDX_CTE.format(n=300))


@register("image_template_match", _sql_tmatch())
def image_template_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer template matching
    (operators/multimodal.image_template_match): SSD argmin of a shared
    5x5 formula-derived luma template over every decoded image, ties to
    the smallest flat offset — the patch-provenance / watermark-
    localization primitive. Stack-vectorized sliding windows, map-only.
    Twin: relational offset cross-join + grouped (I-T)^2 sums — window
    addressing, SSD algebra and tie rule on the hash."""
    from osmgraft.operators.multimodal import image_template_match as itm
    from osmgraft.synth import synth_formula_images

    n = min(read_fixture(spark, sf_dir, "orders").count(), 300)
    imgs = ensure_min_parallelism(synth_formula_images(spark, n))
    return itm(imgs)


@register("stream_cusum_bursts", _sql_cusum())
def stream_cusum_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful-streaming CUSUM (streaming/incremental.stream_cusum,
    applyInPandasWithState): the same hourly burst statistic as
    cusum_bursts_hourly, computed as an incremental per-key fold with two
    int64s of state — and hash-gated against the SAME recursive-CTE dense
    -recurrence oracle, so stream/batch parity itself is on the hash.
    Drift rides each row (calibration pre-pass joined on; a stream can't
    see total/span ahead of time)."""
    import tempfile

    from osmgraft.streaming.incremental import read_stream, run_available_now, stream_cusum

    ev = read_fixture(spark, sf_dir, "events")
    counts = (
        ev.select(
            F.col("event_type").alias("key"),
            F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("t"),
        )
        .groupBy("key", "t")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    drift = counts.groupBy("key").agg(
        F.floor(
            (F.sum("x") + F.max("t") - F.min("t"))
            / (F.max("t") - F.min("t") + 1)
        ).cast("long").alias("d")
    )
    src = tempfile.mkdtemp(prefix="og_cusum_src_")
    counts.join(drift, "key").write.mode("overwrite").parquet(src)
    stream = read_stream(spark, src, "key string, t long, x long, d long")
    rows_df = stream_cusum(stream, h_mult=4)
    name = "og_stream_cusum_q"
    q = (
        rows_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="og_cusum_ck_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select(
        F.col("key").alias("event_type"),
        F.col("t").alias("hr"),
        F.col("x").alias("cnt"),
        "cusum",
        "burst",
    )


@register("dedup_substring_spans", D.sql_duplicate_substring_spans())
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cross-doc duplicate-substring spans (operators/dedup.
    duplicate_substring_spans — Lee et al. ACL'22 substring dedup,
    distributed as L-gram aggregation + gaps-and-islands merge instead of
    their single-node suffix array): maximal character spans whose every
    L=24 gram appears in ≥2 distinct documents.  One codegen'd generate,
    one gram agg, one join back, one per-doc window; DuckDB twin runs the
    identical definition via lateral range + substr, so an off-by-one in
    position, gram width, or the merge-adjacency rule flips the hash."""
    return D.duplicate_substring_spans(_docs(spark, sf_dir))


@register(
    "stream_sessionize_30m",
    __import__(
        "osmgraft.streaming.incremental", fromlist=["sql_sessionize_window"]
    ).sql_sessionize_window(30),
)
def stream_sessionize_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT-TIME streaming sessionization (streaming/incremental.
    sessionize_window): built-in session_window aggregation in append mode,
    drained deterministically — the source is written as (events, sentinel,
    sentinel) files consumed one per microbatch (maxFilesPerTrigger=1), so
    the far-future sentinel advances the GLOBAL watermark past every real
    session end and the final batch flushes all state.  Hash-gated against
    the gaps-and-islands batch twin (new session iff gap > 30 min — the
    INCLUSIVE merge session_window actually implements, pinned by the
    boundary test — end = last event + gap); a wrong watermark interaction
    drops or duplicates sessions and flips the hash."""
    import datetime
    import os
    import tempfile

    from osmgraft.streaming import sessionize_window

    src = tempfile.mkdtemp(prefix="og_sw_src_")
    ckpt = tempfile.mkdtemp(prefix="og_sw_ck_")
    ev = read_fixture(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id"
    )
    mx = ev.agg(F.max("ts")).first()[0]
    # one data file: maxFilesPerTrigger=1 makes each source file a microbatch,
    # and a 32-file data batch paid ~34 x the framework's per-batch fixed cost
    # (~6.5 s at sf0.1; 3 batches ~2 s). Gate-harness-only shape — the
    # sessionize_window operator itself is unchanged and at scale the source
    # is a real stream, not a drained file list.
    ev.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "b0"))
    s1 = mx + datetime.timedelta(hours=3)
    for i, ts in enumerate([s1, s1 + datetime.timedelta(minutes=1)]):
        spark.createDataFrame(
            [(int(-1 - i), ts, -1)], "event_id long, ts timestamp, user_id long"
        ).write.mode("overwrite").parquet(os.path.join(src, f"b{i + 1}"))
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    name = "og_stream_sw_q"
    q = (
        sessionize_window(stream, gap_minutes=30)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).filter(F.col("user_id") >= 0)


@register(
    "way_area_centroid",
    f"""WITH pts AS ({_PTS}),
o AS (SELECT o_custkey AS way_id, o_orderkey AS node,
       row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS seq,
       count(*) OVER (PARTITION BY o_custkey) AS n
      FROM orders),
v AS (SELECT o.way_id, o.seq, o.n,
             CAST(p.lon7 AS BIGINT) AS x, CAST(p.lat7 AS BIGINT) AS y
      FROM o JOIN pts p ON p.point_id = o.node),
e AS (SELECT a.way_id, a.x, a.y, b.x AS nx, b.y AS ny,
             a.x * b.y - b.x * a.y AS cr
      FROM v a JOIN v b ON b.way_id = a.way_id AND b.seq = a.seq % a.n + 1),
m AS (SELECT way_id, count(*) AS n_vertices,
  CAST(sum(cr) AS DECIMAL(38,0)) AS area2,
  CAST(sum(CAST(x + nx AS HUGEINT) * cr) AS DECIMAL(38,0)) AS cx6_num,
  CAST(sum(CAST(y + ny AS HUGEINT) * cr) AS DECIMAL(38,0)) AS cy6_num
FROM e GROUP BY way_id)
SELECT way_id, n_vertices,
  {T.sql_md5_long("CAST(area2 AS VARCHAR) || '|' || CAST(cx6_num AS VARCHAR)"
                  " || '|' || CAST(cy6_num AS VARCHAR)")} AS geom_hash
FROM m""",
)
def way_area_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shoelace area + centroid numerators per way (operators/osm.
    way_area_centroid): the polygon-measurement op over resolved way
    geometry — every value an exact integer (int64 cross terms,
    decimal(31,0) centroid products, decimal(38,0) sums), so the result is
    partition-order-invariant with NO float anywhere.  The DuckDB twin
    closes the ring by a seq-modular self-join and accumulates in HUGEINT —
    two different ring-closure mechanisms (window lead/first vs modular
    join), one hash.

    The GATE pins the three exact decimals through md5 of their canonical
    digit strings (geom_hash BIGINT) rather than emitting them raw: the
    numerators exceed int64 (up to ~1e28), and DECIMAL(38,0)/HUGEINT
    output columns are fetch-path-dependent client-side (float64 via
    .df() — the r3/r4 driver-red mechanism; tools/verify_oracle.py), so
    any digit drift still flips the hash while every emitted column stays
    a plain BIGINT."""
    from pyspark.sql import Window as W

    from osmgraft.operators.osm import way_area_centroid as wac

    orders = read_fixture(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    pts = points_from_orders(spark, sf_dir)
    w = W.partitionBy("o_custkey").orderBy("o_orderkey")
    seq = orders.select(
        F.col("o_custkey").alias("way_id"),
        F.col("o_orderkey").alias("node"),
        F.row_number().over(w).alias("seq"),
    )
    verts = seq.join(
        pts.select(
            F.col("point_id").alias("node"),
            F.col("lon7").alias("x"),
            F.col("lat7").alias("y"),
        ),
        "node",
    )
    m = wac(verts)
    # decimal(38,0) → canonical digit string → 60-bit md5: exactness kept,
    # every emitted column BIGINT (see the oracle-side comment above).
    return m.select(
        "way_id",
        "n_vertices",
        T.md5_long(
            F.concat_ws(
                "|",
                F.col("area2").cast("string"),
                F.col("cx6_num").cast("string"),
                F.col("cy6_num").cast("string"),
            )
        ).alias("geom_hash"),
    )


def _sql_harris() -> str:
    from osmgraft.operators.multimodal import sql_image_harris

    return sql_image_harris(_FIMG_IDX_CTE.format(n=300))


@register("image_harris_corner", _sql_harris())
def image_harris_corner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harris corner argmax per image (operators/multimodal.image_harris):
    real container decode → integer central-difference gradients → 3x3
    structure tensor → k=0.05 response as the exact integer r20 — the
    feature-detection step of an image-curation pipeline, map-only at any
    corpus width.  The DuckDB twin regenerates pixels from the formula
    fixture and re-derives the same argmax relationally (neighbor joins +
    HAVING count(*)=9 window gate), so gradient convention, window extent,
    response algebra and the (r20 DESC, y, x) tie rule are all hash-load-
    bearing."""
    from osmgraft.operators.multimodal import image_harris
    from osmgraft.synth import synth_formula_images

    n = min(read_fixture(spark, sf_dir, "orders").count(), 300)
    imgs = ensure_min_parallelism(synth_formula_images(spark, n))
    return image_harris(imgs)


def _sql_vad() -> str:
    from osmgraft.operators.multimodal import sql_audio_active_segments

    return sql_audio_active_segments(300)


@register("audio_active_segments", _sql_vad())
def audio_active_segments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VAD-style activity segmentation (operators/multimodal.
    audio_active_segments): real RIFF/PCM16 decode → 128-sample integer
    window energies → threshold → maximal consecutive-window segments.
    The DuckDB twin regenerates the formula PCM and re-derives segments
    relationally, so header offset, window split, threshold strictness and
    the adjacency rule all sit on the hash."""
    from osmgraft.operators.multimodal import audio_active_segments
    from osmgraft.synth import synth_audio

    n = min(read_fixture(spark, sf_dir, "orders").count(), 300)
    return audio_active_segments(synth_audio(spark, n))


@register(
    "trend_events_daily",
    """WITH daily AS (
  SELECT event_type,
         epoch_us(ts) // 86400000000 - 19700 AS day_x,
         count(*) AS cnt
  FROM events GROUP BY 1, 2),
agg AS (
  SELECT event_type, count(*) AS n,
         sum(day_x) AS sx, sum(cnt) AS sy,
         sum(day_x * day_x) AS sxx, sum(day_x * cnt) AS sxy
  FROM daily GROUP BY event_type)
SELECT event_type, CAST(n AS BIGINT) AS n,
       CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
       CAST(n * sxx - sx * sx AS BIGINT) AS den,
       CAST(sy * sxx - sx * sxy AS BIGINT) AS icept_num
FROM agg""",
)
def trend_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type daily-volume trend as EXACT rational OLS
    (operators/stats.groupwise_ols): y = events/day regressed on the epoch
    day — the drift detector a curation pipeline runs over ingest volumes.
    Zero float: slope/intercept emitted as integer numerator/denominator,
    so the hash is partition-order-invariant; the DuckDB twin re-derives
    the normal equations from the same daily rollup."""
    from osmgraft.operators.stats import groupwise_ols

    from osmgraft.functions.timestamps import ntz_epoch

    ev = read_fixture(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            # naive day, session-tz-free (the former unix_micros(cast) form
            # shifted under a non-UTC session — r5 tz probe); epochs are
            # positive so floor-div == integer div, and epoch/86400 ≈ 2e4
            # is far inside double exactness
            (
                F.floor(ntz_epoch(F.col("ts")) / 86400).cast("long") - 19700
            ).alias("day_x"),
        )
        .groupBy("event_type", "day_x")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return groupwise_ols(daily, ["event_type"], "day_x", "cnt")


@register("pip_inner_intexact", _PIP_SQL)
def pip_inner_intexact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Division-free EXACT-INTEGER point-in-polygon (operators/pip.pip_join
    refine='parity_int', kernel geom.pnpoly_int): the ray-crossing
    comparison is an int64 cross-product sign instead of a float divide —
    no ULP behavior on knife-edge points, every product provably in range.
    SAME oracle as pip_inner: three arithmetic models now share one hash
    (float numpy kernel, unrolled-JVM-expression cross-check, exact-integer
    kernel), so a disagreement in any crossing rule or boundary convention
    flips a gate."""
    pts = points_from_orders(spark, sf_dir)
    return pip_join(
        pts, ADMIN_BOUNDARIES, how="inner", refine="parity_int"
    ).select("point_id", "boundary_id")


@register(
    "track_tile_path_z12",
    f"""WITH pts AS ({_PTS}),
t AS (SELECT o.o_custkey AS ent, o.o_orderkey AS seq,
             {tiles.sql_tile_x('p.lon7', 12)} AS tx,
             {tiles.sql_tile_y('p.lat7', 12)} AS ty
      FROM orders o JOIN pts p ON p.point_id = o.o_orderkey),
k AS (SELECT ent, seq, tx, ty,
             lag(tx) OVER w AS ptx, lag(ty) OVER w AS pty
      FROM t WINDOW w AS (PARTITION BY ent ORDER BY seq)),
f AS (SELECT ent, seq, tx, ty FROM k
      WHERE ptx IS NULL OR tx != ptx OR ty != pty)
SELECT ent AS track_id,
       row_number() OVER (PARTITION BY ent ORDER BY seq) AS step, tx, ty
FROM f""",
)
def track_tile_path_z12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory tile-transition path (operators/trajectory.tile_path):
    per-track z12 tile sequence with consecutive duplicates collapsed and
    transitions renumbered — the compressed cell-sequence representation
    downstream movement analytics index.  One Exchange (both windows share
    the (ent, seq) sort); the DuckDB twin replays the identical
    lag-filter-renumber pipeline."""
    from osmgraft.operators.trajectory import tile_path

    orders = read_fixture(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("ent"), F.col("o_orderkey").alias("seq")
    )
    pts = points_from_orders(spark, sf_dir)
    t = orders.join(pts, orders.seq == pts.point_id).select(
        "ent",
        "seq",
        tiles.tile_x(F.col("lon7"), 12).alias("tx"),
        tiles.tile_y(F.col("lat7"), 12).alias("ty"),
    )
    return tile_path(t)


def _sql_ssim(n: int = 300) -> str:
    def luma(i: str) -> str:
        return (f"(299 * (({i}*37 + y*11 + x*7) % 256)"
                f" + 587 * (({i}*37 + y*11 + x*7 + 29) % 256)"
                f" + 114 * (({i}*37 + y*11 + x*7 + 58) % 256)) // 1000")

    return f"""WITH idxs AS ({_FIMG_IDX_CTE.format(n=n)}),
pidx AS (SELECT idx AS p FROM idxs
         WHERE idx % 12 < 6 AND idx + 6 < least({n}, (SELECT count(*) FROM orders))),
dims AS (SELECT p, 16 + (p % 3) * 8 AS w, 12 + (p % 2) * 6 AS h FROM pidx),
px AS (
  SELECT p, {luma('p')} AS lx, {luma('(p+6)')} AS ly
  FROM dims CROSS JOIN range(0, 18) ty(y) CROSS JOIN range(0, 32) tx(x)
  WHERE y < h AND x < w),
m AS (SELECT p, count(*) AS n, sum(lx) AS sx, sum(ly) AS sy,
             sum(lx*lx) AS sxx, sum(ly*ly) AS syy, sum(lx*ly) AS sxy
      FROM px GROUP BY p)
SELECT p AS pair_id,
  CAST(800*sx*sy + 2601*n*n AS BIGINT) AS num1,
  CAST(800*n*sxy - 800*sx*sy + 23409*n*n AS BIGINT) AS num2,
  CAST(400*(sx*sx + sy*sy) + 2601*n*n AS BIGINT) AS den1,
  CAST(400*(n*sxx - sx*sx + n*syy - sy*sy) + 23409*n*n AS BIGINT) AS den2
FROM m"""


@register("image_ssim_pairs", _sql_ssim())
def image_ssim_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global SSIM between image pairs as exact int64 rational factors
    (operators/multimodal.image_ssim_global — Wang et al. 2004 with
    C1=2601/400, C2=23409/400 cleared of denominators): the perceptual-
    similarity leg of the multimodal metric suite (PSNR covers fidelity,
    SSIM covers structure).  Pairs are (idx, idx+6) — same (fmt, w, h) by
    the fixture's mod-6-stable dims — decoded together in one grouped
    Arrow kernel; the DuckDB twin regenerates both luma planes from the
    formula and re-derives the identical factor algebra."""
    from osmgraft.operators.multimodal import image_ssim_global
    from osmgraft.synth import synth_formula_images

    n = min(read_fixture(spark, sf_dir, "orders").count(), 300)
    imgs = synth_formula_images(spark, n).withColumn(
        "idx", F.substring("image_id", 5, 9).cast("long")
    )
    a = imgs.filter((F.col("idx") % 12 < 6) & (F.col("idx") + 6 < n)).select(
        F.col("idx").alias("pair_id"),
        F.col("bytes").alias("a_bytes"),
        "w", "h", "fmt",
    )
    b = imgs.filter(F.col("idx") % 12 >= 6).select(
        (F.col("idx") - 6).alias("pair_id"), F.col("bytes").alias("b_bytes")
    )
    return image_ssim_global(ensure_min_parallelism(a.join(b, "pair_id")))


def _sql_jl() -> str:
    from osmgraft.operators.similarity import sql_rademacher_project

    return sql_rademacher_project(dim=64, out_dim=8)


@register("embedding_jl_project", _sql_jl())
def embedding_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss Rademacher projection 64→8
    (operators/similarity.rademacher_project): the prefilter sketch of the
    ANN suite, bitwise cross-engine — the same sequential fold as the
    cosine ops against sign rows embedded as literals in BOTH plans, ±1
    multiplication exact in IEEE.  Map-only, zero shuffle; hash-gated on
    raw doubles (9-digit normalization in the gate, identical bits
    underneath)."""
    from osmgraft.operators.similarity import rademacher_project

    emb = read_fixture(spark, sf_dir, "embeddings")
    return rademacher_project(emb, dim=64, out_dim=8)


@register(
    "tile_counts_incremental_z9",
    f"""WITH pts AS ({_PTS}),
patched AS (
  SELECT point_id, CASE WHEN point_id % 7 = 3 THEN -lat7 ELSE lat7 END AS lat7, lon7
  FROM pts WHERE point_id % 7 != 0)
SELECT {tiles.sql_tile_x('lon7', 9)} AS tx, {tiles.sql_tile_y('lat7', 9)} AS ty,
       count(*) AS cnt
FROM patched GROUP BY tx, ty""",
)
def tile_counts_incremental_z9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance (streaming/incremental.
    incremental_tile_counts): a deterministic OSC-style change feed
    (every 7th point deleted, every 7th+3 mirrored across the equator) is
    applied to the PRE-COMPUTED z9 counts as a delta merge — base never
    rescanned.  The DuckDB twin recomputes the counts from the patched
    point set from scratch: incremental-apply ≡ full-recompute is the
    materialized-view correctness law, on the hash (a sign error, a
    missed old-side row, or an undropped zero-count tile all flip it)."""
    from osmgraft.streaming import incremental_tile_counts

    pts = points_from_orders(spark, sf_dir)
    base = (
        pts.select(
            tiles.tile_x(F.col("lon7"), 9).alias("tx"),
            tiles.tile_y(F.col("lat7"), 9).alias("ty"),
        )
        .groupBy("tx", "ty")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    changes = pts.filter(F.col("point_id") % 7 == 0).select(
        F.lit("delete").alias("op"),
        F.col("lat7").alias("old_lat7"), F.col("lon7").alias("old_lon7"),
        F.lit(None).cast("int").alias("new_lat7"),
        F.lit(None).cast("int").alias("new_lon7"),
    ).unionByName(
        pts.filter(F.col("point_id") % 7 == 3).select(
            F.lit("modify").alias("op"),
            F.col("lat7").alias("old_lat7"), F.col("lon7").alias("old_lon7"),
            (-F.col("lat7")).alias("new_lat7"), F.col("lon7").alias("new_lon7"),
        )
    )
    return incremental_tile_counts(base, changes, z=9)


@register(
    "user_active_coverage",
    """WITH iv AS (
  SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 300000000 AS e FROM events),
m AS (SELECT user_id, s, e,
  CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            IS NULL
         OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       THEN 1 ELSE 0 END AS brk
  FROM iv),
g AS (SELECT user_id, s, e,
      sum(brk) OVER (PARTITION BY user_id ORDER BY s, e) AS gid FROM m),
i AS (SELECT user_id, gid, min(s) AS s0, max(e) AS e1 FROM g GROUP BY 1, 2)
SELECT user_id, count(*)::BIGINT AS n_intervals,
       sum(e1 - s0)::BIGINT AS covered
FROM i GROUP BY user_id""",
)
def user_active_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user active-time coverage (operators/stats.interval_union): each
    event opens a 5-minute activity interval; overlapping intervals merge
    and the TOTAL COVERED microseconds are summed — the uptime/engagement
    metric interval algebra (distinct from session span: coverage of a
    union, not extent of a window).  Running-max island break handles
    nesting exactly; one Exchange; the DuckDB twin replays the identical
    sweep."""
    from osmgraft.operators.stats import interval_union

    ev = read_fixture(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s"),
        (F.unix_micros(F.col("ts").cast("timestamp")) + 300_000_000).alias("e"),
    )
    return interval_union(ev, ["user_id"], "s", "e")


@register(
    "video_temporal_sig",
    """WITH idxs AS (SELECT row_number() OVER () - 1 AS i FROM orders),
clips AS (SELECT i, 4 + i % 3 AS nf FROM idxs WHERE i < 300),
s AS (
  SELECT c.i, c.nf, f.range AS f,
         sum((c.i * 31 + f.range * 17 + y.range * 5 + x.range * 3) % 256) AS lsum
  FROM clips c
  JOIN range(0, 6) f ON f.range < c.nf
  CROSS JOIN range(0, 16) y CROSS JOIN range(0, 16) x
  GROUP BY c.i, c.nf, f.range),
b AS (
  SELECT i, nf, f,
         CASE WHEN lsum > lag(lsum) OVER (PARTITION BY i ORDER BY f)
              THEN 1 ELSE 0 END AS bit
  FROM s),
sig AS (
  SELECT i, nf, sum(bit * (1 << (f - 1))) AS sig
  FROM b WHERE f >= 1 GROUP BY i, nf)
SELECT concat('vid', lpad(CAST(i AS VARCHAR), 12, '0')) AS media_id,
       CAST(nf AS INTEGER) AS n_frames, CAST(sig AS BIGINT) AS sig
FROM sig""",
)
def video_temporal_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video temporal ordinal signature (operators/multimodal.
    video_temporal_signature): the brightness-rhythm bit vector over real
    y4m decode — the near-dup key for the video modality (the downstream
    pair join is the standard bucketed equi/hamming shape).  DuckDB twin
    rebuilds per-frame luma sums from the closed-form formula and folds
    the identical diff-sign bits."""
    from osmgraft.operators.multimodal import video_temporal_signature
    from osmgraft.synth import synth_videos

    n = min(read_fixture(spark, sf_dir, "orders").count(), 300)
    return video_temporal_signature(synth_videos(spark, n))


def _sql_boundary_density() -> str:
    edges = []
    for b in ADMIN_BOUNDARIES:
        for ridx, ring in enumerate([b["ring"]] + b.get("holes", [])):
            for (y1, x1), (y2, x2) in zip(ring[:-1], ring[1:]):
                edges.append(f"({b['boundary_id']}, {ridx}, {x1}, {y1}, {x2}, {y2})")
    vals = ",\n  ".join(edges)
    return f"""WITH pts AS ({_PTS}),
{sql_pip_predicate(ADMIN_BOUNDARIES)},
cnt AS (SELECT boundary_id, count(*) AS cnt FROM pip GROUP BY 1),
v(bid, ridx, x1, y1, x2, y2) AS (VALUES
  {vals}),
r AS (SELECT bid, ridx,
      abs(sum(CAST(x1 AS BIGINT) * y2 - CAST(x2 AS BIGINT) * y1)) AS a2
      FROM v GROUP BY 1, 2),
area AS (SELECT bid, sum(CASE WHEN ridx = 0 THEN a2 ELSE -a2 END) AS area2
         FROM r GROUP BY bid)
SELECT c.boundary_id, c.cnt, CAST(area.area2 AS BIGINT) AS area2
FROM cnt c JOIN area ON area.bid = c.boundary_id"""


@register("boundary_density", _sql_boundary_density())
def boundary_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-boundary point DENSITY as an exact rational (cnt, area2): the
    flagship PIP join composed with the shoelace operator — counts from
    the broadcast STR-tree join, areas from operators/osm.way_area_centroid
    run over the boundary rings themselves (holes subtract: |outer| −
    Σ|holes|, the donut fixture exercises it).  The DuckDB twin re-derives
    the areas from a VALUES edge list and the counts from the shared PIP
    predicate — join result and polygon measure land on one hash.
    Density = cnt / (area2 / 2 / 1e14 deg²); the rational pair is emitted
    so no float enters the gate."""
    from osmgraft.operators.osm import way_area_centroid as wac
    from osmgraft.operators.pip import pip_join

    verts = []
    for b in ADMIN_BOUNDARIES:
        for ridx, ring in enumerate([b["ring"]] + b.get("holes", [])):
            for seq, (lat, lon) in enumerate(ring[:-1]):
                verts.append((b["boundary_id"] * 16 + ridx, seq, lon, lat))
    vdf = spark.createDataFrame(verts, "rk long, seq int, x long, y long")
    ring_areas = wac(vdf, way_col="rk", seq_col="seq").select(
        (F.col("way_id") / 16).cast("long").alias("boundary_id"),
        F.when(F.col("way_id") % 16 == 0, F.abs(F.col("area2")))
        .otherwise(-F.abs(F.col("area2")))
        .cast("decimal(38,0)")
        .alias("signed_a2"),
    )
    areas = ring_areas.groupBy("boundary_id").agg(
        F.sum("signed_a2").cast("long").alias("area2")
    )
    pts = points_from_orders(spark, sf_dir)
    counts = (
        pip_join(pts, ADMIN_BOUNDARIES, how="inner")
        .groupBy("boundary_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return counts.join(areas, "boundary_id").select("boundary_id", "cnt", "area2")


@register(
    "tile_skew_gini_z9",
    f"""WITH pts AS ({_PTS}),
t AS (SELECT {tiles.sql_tile_x('lon7', 9)} AS tx, {tiles.sql_tile_y('lat7', 9)} AS ty,
             count(*) AS cnt
      FROM pts GROUP BY tx, ty),
r AS (SELECT cnt, row_number() OVER (ORDER BY cnt, tx, ty) AS i FROM t)
SELECT count(*)::BIGINT AS n_tiles, sum(cnt)::BIGINT AS total,
       CAST(2 * sum(i * cnt) - (count(*) + 1) * sum(cnt) AS BIGINT) AS gini_num,
       CAST(count(*) * sum(cnt) AS BIGINT) AS gini_den
FROM r""",
)
def tile_skew_gini_z9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Gini concentration index of z9 tile occupancy — the skew
    diagnosis the north rule's "skew handled explicitly" starts from:
    Gini = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over counts sorted ascending
    (ties broken (cnt, tx, ty) so both engines rank identically), emitted
    as an integer numerator/denominator pair.  One tile agg + one global
    sort-rank over the (small) tile table + one scalar agg; the ranked
    window never touches point rows."""
    from pyspark.sql import Window as W

    pts = points_from_orders(spark, sf_dir)
    t = (
        pts.select(
            tiles.tile_x(F.col("lon7"), 9).alias("tx"),
            tiles.tile_y(F.col("lat7"), 9).alias("ty"),
        )
        .groupBy("tx", "ty")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    r = t.withColumn("i", F.row_number().over(W.orderBy("cnt", "tx", "ty")))
    return r.agg(
        F.count(F.lit(1)).alias("n_tiles"),
        F.sum("cnt").alias("total"),
        (2 * F.sum(F.col("i") * F.col("cnt"))
         - (F.count(F.lit(1)) + 1) * F.sum("cnt")).alias("gini_num"),
        (F.count(F.lit(1)) * F.sum("cnt")).alias("gini_den"),
    )


def _sql_salt_plan() -> str:
    from osmgraft.functions.cells import sql_grid_cell

    cell = sql_grid_cell("lat7", "lon7", 50_000_000)
    return f"""WITH pts AS ({_PTS}),
c AS (SELECT {cell} AS cell,
             count(*) AS cnt
      FROM pts GROUP BY 1)
SELECT cell, cnt,
       CAST(least(64, greatest(1, (cnt + 299) // 300)) AS BIGINT) AS nsalts
FROM c WHERE cnt > 500"""


@register("salt_plan_cells", _sql_salt_plan())
def salt_plan_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The explicit salt-factor PLAN the skew-split cell join derives
    (operators/celljoin.cell_pip_join step 1, same ceil-division algebra;
    thresholds here are scaled to the gate SFs — 500-row hot cells,
    300 rows/salt, cap 64 — so the plan is NON-EMPTY where production uses
    20k/10k): hot cells and their integer salt counts as a first-class
    auditable artifact — at 10^12 rows this tiny table is what an operator
    reviews before a backfill.  The DuckDB twin recomputes the grid-cell
    key and the ceil-division plan."""
    from osmgraft.functions.cells import grid_cell

    pts = points_from_orders(spark, sf_dir)
    c = (
        pts.withColumn("cell", grid_cell(F.col("lat7"), F.col("lon7"), 50_000_000))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 500)
    )
    return c.select(
        "cell",
        "cnt",
        F.least(F.lit(64), F.greatest(F.lit(1), F.floor((F.col("cnt") + 299) / 300)))
        .cast("long")
        .alias("nsalts"),
    )


@register(
    "stream_tile_counts_incremental_z9",
    f"""WITH pts AS ({_PTS}),
patched AS (
  SELECT point_id, CASE WHEN point_id % 7 = 3 THEN -lat7 ELSE lat7 END AS lat7, lon7
  FROM pts WHERE point_id % 7 != 0)
SELECT {tiles.sql_tile_x('lon7', 9)} AS tx, {tiles.sql_tile_y('lat7', 9)} AS ty,
       count(*) AS cnt
FROM patched GROUP BY tx, ty""",
)
def stream_tile_counts_incremental_z9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental view maintenance, end-to-end: the same
    OSC-shaped change feed as tile_counts_incremental_z9 arrives as a
    2-microbatch file stream; foreachBatch applies
    streaming/incremental.incremental_tile_counts to the persisted counts
    view per batch (read → delta-merge → version-swap write — the
    read-modify-write an Iceberg MERGE INTO replaces atomically at lake
    scale).  Because delta merge is ASSOCIATIVE, any batch split of the
    feed converges to the same view; the gate pins the final table against
    the full-recompute oracle, so a lost batch, double-applied delta or
    undropped zero row flips the hash."""
    import os
    import tempfile

    from osmgraft.streaming import incremental_tile_counts

    pts = points_from_orders(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="og_sinc_")
    base = (
        pts.select(
            tiles.tile_x(F.col("lon7"), 9).alias("tx"),
            tiles.tile_y(F.col("lat7"), 9).alias("ty"),
        )
        .groupBy("tx", "ty")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    view = {"path": os.path.join(root, "view_v0")}
    base.write.parquet(view["path"])

    changes = pts.filter(F.col("point_id") % 7 == 0).select(
        F.col("point_id"),
        F.lit("delete").alias("op"),
        F.col("lat7").alias("old_lat7"), F.col("lon7").alias("old_lon7"),
        F.lit(None).cast("int").alias("new_lat7"),
        F.lit(None).cast("int").alias("new_lon7"),
    ).unionByName(
        pts.filter(F.col("point_id") % 7 == 3).select(
            F.col("point_id"),
            F.lit("modify").alias("op"),
            F.col("lat7").alias("old_lat7"), F.col("lon7").alias("old_lon7"),
            (-F.col("lat7")).alias("new_lat7"), F.col("lon7").alias("new_lon7"),
        )
    )
    feed = os.path.join(root, "feed")
    # ONE part-file per batch: the file source triggers per FILE, so a
    # default-parallelism write would explode the documented 2 microbatches
    # into ~2x32 read-merge-write chains (observed 65 s at sf0.1 -> ~8 s)
    changes.filter(F.col("point_id") % 2 == 0).drop("point_id").coalesce(
        1
    ).write.parquet(os.path.join(feed, "b0"))
    changes.filter(F.col("point_id") % 2 == 1).drop("point_id").coalesce(
        1
    ).write.parquet(os.path.join(feed, "b1"))
    schema = ("op string, old_lat7 int, old_lon7 int, "
              "new_lat7 int, new_lon7 int")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed + "/*")
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        cur = spark.read.parquet(view["path"])
        nxt = incremental_tile_counts(cur, batch_df, z=9)
        out = os.path.join(root, f"view_v{batch_id + 1}")
        nxt.write.parquet(out)
        view["path"] = out

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", os.path.join(root, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.read.parquet(view["path"])


@register(
    "pii_luhn_cards",
    """WITH d AS (
  SELECT doc_id,
         lpad(CAST((doc_id * 7919 + 123456789) % 10000000000000000 AS VARCHAR),
              16, '0') AS dg
  FROM documents),
t AS (SELECT doc_id, dg, unnest(range(1, length(dg) + 1)) AS i FROM d),
s AS (SELECT doc_id, dg,
        sum(CASE WHEN (length(dg) - i) % 2 = 1
                 THEN CASE WHEN 2 * (ascii(substr(dg, CAST(i AS INTEGER), 1)) - 48) > 9
                           THEN 2 * (ascii(substr(dg, CAST(i AS INTEGER), 1)) - 48) - 9
                           ELSE 2 * (ascii(substr(dg, CAST(i AS INTEGER), 1)) - 48) END
                 ELSE ascii(substr(dg, CAST(i AS INTEGER), 1)) - 48 END) AS tot
      FROM t GROUP BY doc_id, dg)
SELECT doc_id, dg AS card_digits, (tot % 10 = 0) AS luhn_ok FROM s""",
)
def pii_luhn_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn checksum validation (functions/text.luhn_valid): every doc gets
    a deterministic 16-digit candidate (formula-derived, so ~10% pass);
    the engine folds the mod-10 checksum JVM-side while the DuckDB twin
    evaluates it relationally (unnest + grouped CASE sum) — two evaluation
    strategies, one checksum on the hash.  In a real scrubber this gates
    the card-number regex of pii_scrub: digit runs failing Luhn stay
    unredacted (false-positive control)."""
    from osmgraft.functions.text import luhn_valid

    docs = read_fixture(spark, sf_dir, "documents").select(
        "doc_id",
        F.lpad(
            ((F.col("doc_id") * 7919 + 123456789) % F.lit(10_000_000_000_000_000))
            .cast("string"),
            16,
            "0",
        ).alias("card_digits"),
    )
    return docs.select("doc_id", "card_digits", luhn_valid(F.col("card_digits")).alias("luhn_ok"))


def _sql_way_area_geodesic() -> str:
    from osmgraft.geom import sql_spherical_tri_excess

    ex = sql_spherical_tri_excess(("la0", "lo0"), ("la1", "lo1"), ("la2", "lo2"))
    return f"""WITH pts AS ({_PTS}),
o AS (SELECT o_custkey AS way_id, o_orderkey AS node,
       row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
      FROM orders),
v AS (SELECT o.way_id, o.rn,
             radians(p.lat7 / 1e7) AS la, radians(p.lon7 / 1e7) AS lo
      FROM o JOIN pts p ON p.point_id = o.node),
t AS (SELECT way_id, rn,
       first_value(la) OVER wf AS la0, first_value(lo) OVER wf AS lo0,
       la AS la1, lo AS lo1,
       lead(la) OVER w AS la2, lead(lo) OVER w AS lo2
      FROM v WINDOW w AS (PARTITION BY way_id ORDER BY rn),
      wf AS (PARTITION BY way_id ORDER BY rn
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
e AS (SELECT way_id,
       CAST(round(({ex}) * 1000000000000000.0) AS BIGINT) AS e15
      FROM t WHERE rn >= 2 AND la2 IS NOT NULL)
SELECT way_id, count(*)::BIGINT AS n_tris,
       CAST(round(abs(sum(e15)) / 1000000000000000.0 * 40589753.12967744)
            AS BIGINT) AS area_km2
FROM e GROUP BY way_id"""


@register("way_area_geodesic", _sql_way_area_geodesic())
def way_area_geodesic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEODESIC way area (spherical excess) — the measure the planar
    shoelace (way_area_centroid) distorts at continental extent: per way
    the apex-fan of spherical triangles, each excess by Van Oosterom &
    Strackee's stable 2·atan2(triple, 1+Σdots) form (geom.
    sql_spherical_tri_excess — ONE expression text, both engines), summed
    as INTEGER 1e-15-steradian quanta so the aggregation is associative
    and partition-order-invariant (float sums would not be), then scaled
    by R² and rounded to km² — 7 orders above cross-library trig ulp
    noise.  One window + one integer agg, all JVM trig."""
    from pyspark.sql import Window as W

    from osmgraft.geom import sql_spherical_tri_excess

    ex = sql_spherical_tri_excess(("la0", "lo0"), ("la1", "lo1"), ("la2", "lo2"))
    orders = read_fixture(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    pts = points_from_orders(spark, sf_dir)
    w = W.partitionBy("way_id").orderBy("rn")
    wf = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    v = (
        orders.select(
            F.col("o_custkey").alias("way_id"),
            F.col("o_orderkey").alias("node"),
            F.row_number()
            .over(W.partitionBy("o_custkey").orderBy("o_orderkey"))
            .alias("rn"),
        )
        .join(
            pts.select(
                F.col("point_id").alias("node"),
                F.radians(F.col("lat7") / 1e7).alias("la"),
                F.radians(F.col("lon7") / 1e7).alias("lo"),
            ),
            "node",
        )
    )
    t = v.select(
        "way_id",
        "rn",
        F.first("la").over(wf).alias("la0"),
        F.first("lo").over(wf).alias("lo0"),
        F.col("la").alias("la1"),
        F.col("lo").alias("lo1"),
        F.lead("la").over(w).alias("la2"),
        F.lead("lo").over(w).alias("lo2"),
    ).filter((F.col("rn") >= 2) & F.col("la2").isNotNull())
    e = t.select(
        "way_id",
        F.expr(f"CAST(round(({ex}) * 1000000000000000.0) AS BIGINT)").alias("e15"),
    )
    return e.groupBy("way_id").agg(
        F.count(F.lit(1)).alias("n_tris"),
        F.expr(
            "CAST(round(abs(sum(e15)) / 1000000000000000.0 * 40589753.12967744)"
            " AS BIGINT)"
        ).alias("area_km2"),
    )


@register(
    "trailing_events_1h",
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events)
SELECT event_id, user_id,
       count(*) OVER (PARTITION BY user_id ORDER BY us
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         ::BIGINT AS n_trailing_1h
FROM e""",
)
def trailing_events_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time RANGE-frame sliding aggregate: per event, how many
    same-user events fall in the trailing hour INCLUSIVE of ties — the
    rate-limiter / burst-feature window.  This is the VALUE-based frame
    (rangeBetween on microseconds), a different executor path than the
    row-count frames every other registry window uses: peers with equal
    timestamps share one frame, which ROWS frames cannot express.  One
    Exchange on user_id; twin is the identical RANGE frame in DuckDB."""
    from pyspark.sql import Window as W

    ev = read_fixture(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = W.partitionBy("user_id").orderBy("us").rangeBetween(-3_600_000_000, 0)
    return ev.select(
        "event_id", "user_id", F.count(F.lit(1)).over(w).alias("n_trailing_1h")
    )


@register(
    "pivot_type_by_user",
    """SELECT user_id,
  count(*) FILTER (event_type = 'click')::BIGINT AS click,
  count(*) FILTER (event_type = 'error')::BIGINT AS error,
  count(*) FILTER (event_type = 'purchase')::BIGINT AS purchase,
  count(*) FILTER (event_type = 'signup')::BIGINT AS signup,
  count(*) FILTER (event_type = 'view')::BIGINT AS view
FROM events GROUP BY user_id""",
)
def pivot_type_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational PIVOT (the DataFrame .pivot() API — wide per-entity
    feature tables from long event logs, the standard featurization
    reshape): per user one column per event type with explicit value list
    (no extra distinct pass; unnamed pivot would scan twice).  Catalyst
    compiles it to ONE aggregation with conditional counts — exactly the
    FILTER-clause twin.  Missing combinations must surface as 0 (pivot
    count yields null — coalesced explicitly, a classic reshape bug)."""
    ev = read_fixture(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in types],
    )


@register(
    "unpivot_type_counts",
    """SELECT user_id, event_type, count(*)::BIGINT AS cnt
FROM events GROUP BY user_id, event_type""",
)
def unpivot_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt — the inverse reshape, gated as a ROUNDTRIP LAW: the
    wide pivot_type_by_user table melts back to long and must equal the
    plain (user, type) aggregate, except that pivot materialized absent
    combinations as 0 — melt must drop them again (the classic
    wide-to-long fidelity bug).  Uses the native DataFrame unpivot API
    (Spark's UNPIVOT plan node), not a manual stack()."""
    types = ["click", "error", "purchase", "signup", "view"]
    wide = pivot_type_by_user(spark, sf_dir)
    long = wide.unpivot(
        ids=["user_id"], values=types, variableColumnName="event_type",
        valueColumnName="cnt",
    )
    return long.filter(F.col("cnt") > 0)


@register(
    "ntile_event_values",
    """WITH e AS (SELECT event_id, user_id, CAST(floor(value * 100) AS BIGINT) AS v
           FROM events)
SELECT event_id, user_id,
       ntile(4) OVER w::BIGINT AS quartile,
       percent_rank() OVER w AS pr
FROM e WINDOW w AS (PARTITION BY user_id ORDER BY v, event_id)""",
)
def ntile_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-family windows (ntile + percent_rank) — the per-entity
    quantile-bucketing reshape (feature binning / outlier strata): events
    quartiled per user over an integer value projection with a total
    (v, event_id) order, so both engines tile identically.  percent_rank's
    (rank−1)/(n−1) is the same integer ratio in both engines → bitwise
    doubles; ntile's uneven-bucket rule (first buckets get the extra rows)
    is pinned by the shared total order."""
    from pyspark.sql import Window as W

    ev = read_fixture(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * 100).cast("long").alias("v"),
    )
    w = W.partitionBy("user_id").orderBy("v", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
    )


@register("dedup_containment", D.sql_containment_pairs(0.8))
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-containment pairs (operators/dedup.
    containment_pairs): directed |A∩B| ≥ 0.8·|A| — the excerpt/superset
    near-dup predicate symmetric Jaccard misses (a quote inside a long
    page).  Exact inverted-index recall, integer cross-multiplied
    threshold; brute twin in DuckDB."""
    return D.containment_pairs(_docs(spark, sf_dir), 0.8)


# --- Mann–Kendall emerging-hotspot trend -----------------------------------------
def _sql_trend_mk() -> str:
    from osmgraft.operators.stats import sql_mann_kendall
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("event_id")
    counts = f"""SELECT {tiles.sql_tile_x(f'({lon})', 5)} AS tx,
         {tiles.sql_tile_y(f'({lat})', 5)} AS ty,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day, count(*) AS cnt
  FROM events GROUP BY 1, 2, 3"""
    return (
        "WITH "
        + sql_mann_kendall(counts, ["tx", "ty"], "day", "cnt")
        + "\nSELECT tx, ty, n_days, s_stat, trend FROM mk"
    )


@register("tile_trend_mk_z5", _sql_trend_mk())
def tile_trend_mk_z5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emerging-hotspot trend per z5 tile (operators/stats.mann_kendall —
    Mann 1945 / Kendall 1975): per-(tile, day) event counts, then the exact
    integer Mann–Kendall S statistic over each tile's 30-day history and a
    cross-multiplied significance class (rising / falling / flat at z≈2) —
    the space-time-cube "emerging hotspot" analysis over the same
    tile-day rollup hotspot_days_z5 bursts on (that one is a level detector;
    this is the monotonic-trend detector).

    100 TB shape: the i<j pair join runs on the per-tile-day AGGREGATE
    (≤435 pairs per tile at 30 days), never the raw events; zero IEEE."""
    from osmgraft.operators.stats import mann_kendall
    from osmgraft.synth import latlon_of_key

    ev = ensure_min_parallelism(read_fixture(spark, sf_dir, "events"))
    lat, lon = latlon_of_key(F.col("event_id"))
    counts = (
        ev.select(
            tiles.tile_x(lon, 5).alias("tx"),
            tiles.tile_y(lat, 5).alias("ty"),
            F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
        )
        .groupBy("tx", "ty", "day")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return mann_kendall(counts, ["tx", "ty"], "day", "cnt")


@register(
    "vocab_stats_by_source",
    f"""WITH vt AS (
  SELECT source, lower(t.tok) AS tok
  FROM documents, UNNEST({T.sql_tokens('text')}) AS t(tok)),
vc AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
  FROM vt GROUP BY 1, 2)
SELECT source,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(max(c) AS BIGINT) AS top_freq
FROM vc GROUP BY 1""",
)
def vocab_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics per source (the Heaps/Zipf raw
    material corpus linguists and tokenizer designers read first):
    token count, type count, hapax legomena (frequency-1 types — the
    vocabulary's growth edge) and the top type frequency, all exact.
    Types are lowercased whitespace tokens — the same tokenizer the
    rest of the text family pins.

    100 TB: one token explode + two map-side-combinable aggs; the
    per-(source, type) intermediate is the only shuffle."""
    docs = _docs(spark, sf_dir)
    vt = docs.select(
        "source", F.explode(T.tokens(F.lower(F.col("text")))).alias("tok")
    )
    vc = vt.groupBy("source", "tok").agg(F.count(F.lit(1)).cast("long").alias("c"))
    return vc.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("n_hapax"),
        F.max("c").cast("long").alias("top_freq"),
    )


_MRL_DIMS = 16  # truncation prefix (Matryoshka-style nested representation)


def _sql_mrl_overlap() -> str:
    def topk(vecexpr: str) -> str:
        dot = f"list_dot_product(q.qv, {vecexpr.replace('X.', 'e.')})"
        nq = "sqrt(list_dot_product(q.qv, q.qv))"
        ne = (
            f"sqrt(list_dot_product({vecexpr.replace('X.', 'e.')},"
            f" {vecexpr.replace('X.', 'e.')}))"
        )
        return f"""SELECT query_id, neighbor_id FROM (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    row_number() OVER (PARTITION BY q.query_id
      ORDER BY {dot} / ({nq} * {ne}) DESC, e.vec_id) AS rank
  FROM embeddings e, q) WHERE rank <= 10"""

    full_vec = "X.embedding::DOUBLE[]"
    trunc_vec = f"(X.embedding::DOUBLE[])[1:{_MRL_DIMS}]"
    return f"""WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 8),
mr_full AS ({topk(full_vec)}),
qt AS (
  SELECT vec_id AS query_id, (embedding::DOUBLE[])[1:{_MRL_DIMS}] AS qv
  FROM embeddings WHERE vec_id < 8),
mr_trunc AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
      row_number() OVER (PARTITION BY q.query_id
        ORDER BY list_dot_product(q.qv, {trunc_vec.replace('X.', 'e.')})
                 / (sqrt(list_dot_product(q.qv, q.qv))
                    * sqrt(list_dot_product({trunc_vec.replace('X.', 'e.')},
                                            {trunc_vec.replace('X.', 'e.')})))
                 DESC, e.vec_id) AS rank
    FROM embeddings e, qt q) WHERE rank <= 10)
SELECT f.query_id, CAST(count(n.neighbor_id) AS BIGINT) AS n_overlap
FROM mr_full f LEFT JOIN mr_trunc n
  ON n.query_id = f.query_id AND n.neighbor_id = f.neighbor_id
GROUP BY 1"""


@register("embedding_matryoshka_overlap", _sql_mrl_overlap())
def embedding_matryoshka_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation evaluation (Kusupati et al. NeurIPS 2022 —
    the MRL question every embedding-serving stack now asks: how much
    recall does serving the first d′ dims lose?): exact cosine top-10
    from the FULL 64-dim embeddings vs from the first-16-dim prefix,
    overlap@10 per query as an exact integer — ranking runs on both
    engines with the identical sequential-fold dot products
    (the embedding_topk bitwise discipline), so even this float-ranked
    comparison is hash-stable.

    100 TB: two broadcast-query scans + WindowGroupLimit top-k, one
    tiny join — the evaluation normally run before switching the ANN
    index to truncated vectors."""
    from osmgraft.operators.similarity import cosine_topk

    emb = read_fixture(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    emb_t = emb.select(
        "vec_id", F.slice("embedding", 1, _MRL_DIMS).alias("embedding")
    )
    q_t = emb_t.filter(F.col("vec_id") < 8)
    full = cosine_topk(ensure_min_parallelism(emb), q, k=10).select(
        "query_id", "neighbor_id"
    )
    trunc = cosine_topk(emb_t, q_t, k=10).select(
        F.col("query_id").alias("tq"), F.col("neighbor_id").alias("tn")
    )
    return (
        full.join(
            trunc,
            (F.col("query_id") == F.col("tq")) & (F.col("neighbor_id") == F.col("tn")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("tn").cast("long").alias("n_overlap"))
    )


_IVM_CUT = 20  # epoch-day-of-January cutoff splitting old vs delta


@register(
    "ivm_join_delta",
    f"""WITH iv_a AS (
  SELECT user_id AS k, user_id % 25 AS grp FROM events),
iv_b AS (
  SELECT o_custkey % 1000 AS k FROM orders)
SELECT a.grp, CAST(count(*) AS BIGINT) AS cnt
FROM iv_a a JOIN iv_b b ON b.k = a.k
GROUP BY 1 HAVING count(*) <> 0""",
)
def ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance of an aggregated join with inserts
    on BOTH sides (streaming/incremental.ivm_join_counts; Blakeley et
    al. SIGMOD 1986): events × orders split at a day cutoff into
    (old, delta) on each side; the engine maintains the per-group pair
    count STRICTLY incrementally via Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB,
    while the oracle recomputes the post-update join from scratch — the
    hash equality IS the delta identity, the algebra a lakehouse's
    materialized-view refresh rests on.

    100 TB: delta sides broadcast; merge touches only delta-touched
    groups — never a full recompute."""
    from osmgraft.streaming.incremental import ivm_join_counts

    ev = read_fixture(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"),
        (F.col("user_id") % 25).alias("grp"),
        (F.dayofmonth("ts")).alias("dom"),
    )
    o = read_fixture(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 1000).alias("k"),
        F.dayofmonth("o_orderdate").alias("dom"),
    )
    a_old = ev.where(F.col("dom") <= _IVM_CUT).drop("dom")
    a_new = ev.where(F.col("dom") > _IVM_CUT).drop("dom")
    b_old = o.where(F.col("dom") <= _IVM_CUT).drop("dom")
    b_new = o.where(F.col("dom") > _IVM_CUT).drop("dom")
    return ivm_join_counts(a_old, a_new, b_old, b_new, "k", "grp")


@register(
    "churn_life_table",
    """WITH ch_u AS (
  SELECT user_id,
         CAST(floor(epoch(min(ts))) AS BIGINT) // 3600 AS d0,
         CAST(floor(epoch(max(ts))) AS BIGINT) // 3600 AS d1
  FROM events GROUP BY 1),
ch_max AS (SELECT max(d1) AS dmax FROM ch_u),
ch_s AS (
  SELECT u.user_id, u.d1 - u.d0 AS dur,
         CASE WHEN u.d1 >= m.dmax - 168 THEN 1 ELSE 0 END AS censored
  FROM ch_u u, ch_max m),
ch_t AS (
  SELECT dur, CAST(sum(1 - censored) AS BIGINT) AS n_event,
         CAST(sum(censored) AS BIGINT) AS n_censored
  FROM ch_s GROUP BY 1)
SELECT dur AS t,
       CAST(sum(n_event + n_censored)
            OVER (ORDER BY dur DESC ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS n_risk,
       n_event, n_censored
FROM ch_t""",
)
def churn_life_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier life table for user churn (Kaplan & Meier JASA 1958
    — the survival-analysis sufficient statistics): per user the
    activity span in epoch HOURS (first → last event), right-CENSORED
    when the last event falls in the final 168 hours of the observation
    window; per duration t the at-risk count (reverse cumulative),
    events (churns) and censored — exactly the (t, n_i, d_i) table the
    KM product-limit estimator consumes, all exact integers (the
    product itself is left to consumers: a float fold would break the
    bitwise gate, the life table is the lossless form).

    100 TB: one per-user agg + one broadcast max + one hash agg + one
    window over the duration domain (≤ days, tiny)."""
    from pyspark.sql import Window as W

    ev = read_fixture(spark, sf_dir, "events").select(
        "user_id", F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("d")
    )
    u = ev.groupBy("user_id").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    dmax = u.agg(F.max("d1").alias("dmax"))
    s = u.crossJoin(F.broadcast(dmax)).select(
        (F.col("d1") - F.col("d0")).alias("dur"),
        F.when(F.col("d1") >= F.col("dmax") - 168, 1).otherwise(0).alias("censored"),
    )
    t = s.groupBy("dur").agg(
        F.sum(1 - F.col("censored")).cast("long").alias("n_event"),
        F.sum("censored").cast("long").alias("n_censored"),
    )
    w = W.orderBy(F.desc("dur")).rowsBetween(W.unboundedPreceding, W.currentRow)
    return t.select(
        F.col("dur").alias("t"),
        F.sum(F.col("n_event") + F.col("n_censored")).over(w).cast("long").alias("n_risk"),
        "n_event",
        "n_censored",
    )


def _sql_naive_forecast() -> str:
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("event_id")
    tx = tiles.sql_tile_x(f"({lon})", 4)
    ty = tiles.sql_tile_y(f"({lat})", 4)
    return f"""WITH nf_c AS (
  SELECT tx, ty, day, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT {tx} AS tx, {ty} AS ty,
           CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
    FROM events) GROUP BY 1, 2, 3),
nf_l AS (
  SELECT tx, ty, day, cnt,
         lag(cnt, 1) OVER (PARTITION BY tx, ty ORDER BY day) AS c1,
         lag(cnt, 7) OVER (PARTITION BY tx, ty ORDER BY day) AS c7,
         lag(day, 1) OVER (PARTITION BY tx, ty ORDER BY day) AS d1,
         lag(day, 7) OVER (PARTITION BY tx, ty ORDER BY day) AS d7
  FROM nf_c),
nf_e AS (
  SELECT tx, ty,
         CAST(count(*) AS BIGINT) AS n_eval,
         CAST(sum(abs(cnt - c1)) AS BIGINT) AS mae1_sum,
         CAST(sum(abs(cnt - c7)) AS BIGINT) AS mae7_sum
  FROM nf_l
  WHERE c1 IS NOT NULL AND c7 IS NOT NULL
    AND d1 = day - 1 AND d7 = day - 7
  GROUP BY 1, 2)
SELECT tx, ty, n_eval, mae1_sum, mae7_sum,
       CASE WHEN mae7_sum < mae1_sum THEN 'seasonal'
            WHEN mae1_sum < mae7_sum THEN 'naive'
            ELSE 'tie' END AS winner
FROM nf_e"""


@register("tile_naive_forecast_z4", _sql_naive_forecast())
def tile_naive_forecast_z4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-baseline bake-off per z4 tile (Hyndman & Athanasopoulos'
    textbook benchmark discipline: any forecaster must beat the naive
    baselines first): for every day with BOTH a yesterday and a
    same-weekday-last-week observation (gap-strict — lagged rows must
    be exactly 1 and 7 days back), the summed absolute errors of
    naive-1 (persistence) and seasonal-naive-7, and the per-tile winner
    by exact integer comparison.  The evaluation harness a forecasting
    pipeline runs, with no forecaster in the loop — and later models
    are graded against these exact sums.

    100 TB: one rollup shuffle + one window per tile (two lags share
    the sort) + one agg."""
    from pyspark.sql import Window as W

    from osmgraft.synth import latlon_of_key

    ev = ensure_min_parallelism(read_fixture(spark, sf_dir, "events"))
    lat, lon = latlon_of_key(F.col("event_id"))
    c = (
        ev.select(
            tiles.tile_x(lon, 4).alias("tx"),
            tiles.tile_y(lat, 4).alias("ty"),
            F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
        )
        .groupBy("tx", "ty", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    w = W.partitionBy("tx", "ty").orderBy("day")
    l = c.select(
        "tx",
        "ty",
        "day",
        "cnt",
        F.lag("cnt", 1).over(w).alias("c1"),
        F.lag("cnt", 7).over(w).alias("c7"),
        F.lag("day", 1).over(w).alias("d1"),
        F.lag("day", 7).over(w).alias("d7"),
    )
    e = (
        l.where(
            F.col("c1").isNotNull()
            & F.col("c7").isNotNull()
            & (F.col("d1") == F.col("day") - 1)
            & (F.col("d7") == F.col("day") - 7)
        )
        .groupBy("tx", "ty")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            F.sum(F.abs(F.col("cnt") - F.col("c1"))).cast("long").alias("mae1_sum"),
            F.sum(F.abs(F.col("cnt") - F.col("c7"))).cast("long").alias("mae7_sum"),
        )
    )
    win = (
        F.when(F.col("mae7_sum") < F.col("mae1_sum"), "seasonal")
        .when(F.col("mae1_sum") < F.col("mae7_sum"), "naive")
        .otherwise("tie")
    )
    return e.select("tx", "ty", "n_eval", "mae1_sum", "mae7_sum", win.alias("winner"))


def _sql_day_jaccard() -> str:
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("event_id")
    return f"""WITH dj_c AS (
  SELECT DISTINCT {tiles.sql_tile_x(f'({lon})', 8)} AS tx,
         {tiles.sql_tile_y(f'({lat})', 8)} AS ty,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
  FROM events),
dj_n AS (SELECT day, CAST(count(*) AS BIGINT) AS n FROM dj_c GROUP BY 1),
dj_i AS (
  SELECT a.day AS day, CAST(count(*) AS BIGINT) AS n_inter
  FROM dj_c a JOIN dj_c b
    ON b.day = a.day + 1 AND b.tx = a.tx AND b.ty = a.ty
  GROUP BY 1)
SELECT n1.day, n1.n AS n_day, n2.n AS n_next,
       COALESCE(i.n_inter, 0) AS n_inter,
       n1.n + n2.n - COALESCE(i.n_inter, 0) AS n_union,
       CASE WHEN 2 * COALESCE(i.n_inter, 0)
                 >= n1.n + n2.n - COALESCE(i.n_inter, 0)
            THEN 'stable' ELSE 'churning' END AS stability
FROM dj_n n1
JOIN dj_n n2 ON n2.day = n1.day + 1
LEFT JOIN dj_i i ON i.day = n1.day"""


@register("tile_day_jaccard_z8", _sql_day_jaccard())
def tile_day_jaccard_z8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day hotspot stability: the exact Jaccard terms between
    consecutive days' occupied-z8-tile SETS (intersection via one
    self-join on (day+1, tile), union by inclusion-exclusion) with the
    cross-multiplied stable/churning class at J ≥ ½ — "does today's
    activity footprint persist tomorrow", the set-similarity view of
    the space-time cube beside Knox (pairs) and Mann–Kendall (trend).

    100 TB: one distinct rollup + one equi-join + tiny per-day aggs."""
    from osmgraft.synth import latlon_of_key

    ev = ensure_min_parallelism(read_fixture(spark, sf_dir, "events"))
    lat, lon = latlon_of_key(F.col("event_id"))
    c = ev.select(
        tiles.tile_x(lon, 8).alias("tx"),
        tiles.tile_y(lat, 8).alias("ty"),
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
    ).distinct()
    n = c.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("n"))
    b = c.select((F.col("day") - 1).alias("day"), "tx", "ty")
    i = (
        c.join(b, ["day", "tx", "ty"])
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    n2 = n.select((F.col("day") - 1).alias("day"), F.col("n").alias("n_next"))
    j = (
        n.join(n2, "day")
        .join(i, "day", "left")
        .select(
            "day",
            F.col("n").alias("n_day"),
            "n_next",
            F.coalesce("n_inter", F.lit(0).cast("long")).alias("n_inter"),
        )
    )
    uni = (F.col("n_day") + F.col("n_next") - F.col("n_inter")).cast("long")
    return j.select(
        "day",
        "n_day",
        "n_next",
        "n_inter",
        uni.alias("n_union"),
        F.when(2 * F.col("n_inter") >= uni, "stable")
        .otherwise("churning")
        .alias("stability"),
    )


def _sql_ewma() -> str:
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("event_id")
    return f"""WITH ew_c AS (
  SELECT {tiles.sql_tile_x(f'({lon})', 5)} AS tx,
         {tiles.sql_tile_y(f'({lat})', 5)} AS ty,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2, 3),
ew_l AS (
  SELECT tx, ty, list(cnt ORDER BY day) AS l, count(*) AS n_days
  FROM ew_c GROUP BY 1, 2),
ew_f AS (
  SELECT tx, ty, CAST(n_days AS BIGINT) AS n_days,
         CAST(l[-1] AS BIGINT) AS last_cnt,
         CAST(list_reduce(l, (acc, x) -> (x + 3*acc) // 4) AS BIGINT)
           AS ewma_level
  FROM ew_l)
SELECT tx, ty, n_days, last_cnt, ewma_level,
       CASE WHEN last_cnt > ewma_level THEN 'above'
            WHEN last_cnt < ewma_level THEN 'below'
            ELSE 'at' END AS ewma_class
FROM ew_f"""


@register("tile_ewma_z5", _sql_ewma())
def tile_ewma_z5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per z5 tile (Roberts 1959 —
    the EWMA control chart, the smoothing member of the per-tile
    time-series family beside Mann–Kendall's trend and CUSUM's bursts):
    over each tile's day-ordered counts the integer recursion

        level_t = (cnt_t + 3·level_{t−1}) div 4      (α = 1/4, pinned)

    seeded with the first observation — a SEQUENTIAL fold, run in Spark
    as one JVM ``aggregate`` over the sorted per-tile array (no Python,
    no window cascade) and in DuckDB as the identical ``list_reduce``
    lambda; the floor division makes every step exact, so the fold is
    deterministic even though it is order-sensitive (the sort is pinned
    by day).  Emits the final level, last observation, and the
    above/below/at class.

    100 TB: one shuffle to the per-(tile, day) aggregate, one hash agg
    packing each tile's ≤ days-long array, map-only fold."""
    from pyspark.sql.functions import aggregate as Fagg

    ev = read_fixture(spark, sf_dir, "events")
    from osmgraft.synth import latlon_of_key

    ev = ensure_min_parallelism(ev)
    lat, lon = latlon_of_key(F.col("event_id"))
    counts = (
        ev.select(
            tiles.tile_x(lon, 5).alias("tx"),
            tiles.tile_y(lat, 5).alias("ty"),
            F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
        )
        .groupBy("tx", "ty", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    g = counts.groupBy("tx", "ty").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("day", "cnt"))), lambda e: e["cnt"]
        ).alias("l"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    level = Fagg(
        F.slice(F.col("l"), 2, F.greatest(F.size("l") - 1, F.lit(0))),
        F.element_at(F.col("l"), 1).cast("long"),
        lambda acc, x: F.shiftright(x + 3 * acc, 2),
    )
    out = g.select(
        "tx",
        "ty",
        "n_days",
        F.element_at(F.col("l"), -1).cast("long").alias("last_cnt"),
        level.cast("long").alias("ewma_level"),
    )
    cls = (
        F.when(F.col("last_cnt") > F.col("ewma_level"), "above")
        .when(F.col("last_cnt") < F.col("ewma_level"), "below")
        .otherwise("at")
    )
    return out.withColumn("ewma_class", cls)


def _sql_simpson() -> str:
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("event_id")
    return f"""WITH ev AS (
  SELECT {tiles.sql_tile_x(f'({lon})', 6)} AS tx,
         {tiles.sql_tile_y(f'({lat})', 6)} AS ty,
         event_type FROM events),
per AS (SELECT tx, ty, event_type, count(*) AS n FROM ev GROUP BY 1, 2, 3)
SELECT tx, ty,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(n * (n - 1)) AS BIGINT) AS simpson_num,
       CAST(sum(n) * (sum(n) - 1) AS BIGINT) AS simpson_den
FROM per GROUP BY tx, ty"""


@register("tile_simpson_diversity_z6", _sql_simpson())
def tile_simpson_diversity_z6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson diversity index per z6 tile as the exact rational
    λ = Σnᵢ(nᵢ−1) / N(N−1) over event types (Simpson 1949) — the
    concentration/diversity member of the tile-analytics family (Gini
    measures cross-tile skew; this measures WITHIN-tile type mixing;
    1−λ is the Gini–Simpson diversity).  Division never taken — the
    percentile/centroid rational discipline.  Two hash aggs, both
    map-side combinable; no joins."""
    ev = read_fixture(spark, sf_dir, "events")
    from osmgraft.synth import latlon_of_key

    ev = ensure_min_parallelism(ev)
    lat, lon = latlon_of_key(F.col("event_id"))
    per = (
        ev.select(
            tiles.tile_x(lon, 6).alias("tx"),
            tiles.tile_y(lat, 6).alias("ty"),
            "event_type",
        )
        .groupBy("tx", "ty", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return per.groupBy("tx", "ty").agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.col("n") * (F.col("n") - 1)).cast("long").alias("simpson_num"),
        (F.sum("n") * (F.sum("n") - 1)).cast("long").alias("simpson_den"),
    )


def _sql_variogram() -> str:
    from osmgraft.operators.density import sql_empirical_variogram

    return (
        f"WITH pts AS ({_PTS}), outer_q AS (\n"
        f"{sql_empirical_variogram(_sql_cells(8))}\n) SELECT * FROM outer_q"
    )


@register("variogram_z8", _sql_variogram())
def variogram_z8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical Matheron semivariogram over z8 cells (operators/density.
    empirical_variogram): per squared-distance class d2 = dx²+dy² (lags to
    Chebyshev radius 4), exact integer (n_pairs, Σ(Δv)²) — γ(d2) is the
    consumer's division.  The spatial-STRUCTURE companion to Moran's I /
    Gi* (range + nugget shape under kriging/IDW parameter choice).
    Half-plane lag explode + equi-join — every unordered pair once, no
    OR-join, no n².  100 TB: |lags|·cells work, map-side combined."""
    from osmgraft.operators.density import empirical_variogram

    return empirical_variogram(_cells_df(spark, sf_dir, 8))


def _sql_str_pack() -> str:
    from osmgraft.operators.packing import sql_str_pack_leaves

    pts = f"SELECT point_id, lon7 AS x, lat7 AS y FROM ({_PTS})"
    return "WITH " + sql_str_pack_leaves(pts, capacity=256)


@register("str_pack_leaves_cap256", _sql_str_pack())
def str_pack_leaves_cap256(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-Tile-Recursive R-tree bulk-load directory (operators/packing.
    str_pack_leaves, Leutenegger et al. ICDE 1997): the points table laid
    out into sqrt-sliced capacity-256 leaves with exact bboxes — the
    static-spatial-index layout step.  The Spark plan computes the GLOBAL
    x-rank in two passes (bounded bucket-offset aggregate + per-bucket
    windows) so there is NO single-partition sort anywhere — the 100 TB
    difference vs the twin's textbook global window, which proves the
    same function relationally at gate SF."""
    from osmgraft.operators.packing import str_pack_leaves

    pts = points_from_orders(spark, sf_dir).selectExpr(
        "point_id", "lon7 AS x", "lat7 AS y"
    )
    return str_pack_leaves(pts, capacity=256)


def _sql_bloom() -> str:
    from osmgraft.operators.bloom import sql_bloom_probe_stats

    return sql_bloom_probe_stats(
        "SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'",
        "SELECT c_custkey AS k FROM customer",
    )


@register("bloom_semijoin_stats", _sql_bloom())
def bloom_semijoin_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable Bloom filter build + probe (operators/bloom.py, Bloom
    1970): the BUILDING-segment customer keys hashed twice (portable md5
    60-bit integers) into a 16×63-bit filter (one bit_or aggregate), then
    every customer probed against the broadcast row.  The filter WORDS
    ride the cross-engine hash along with the exact pass/false split —
    hash portability, bit layout, the zero-false-negative law and the
    measured FPR all pinned.  The data-level twin of runtime Bloom-join
    pruning; at 10^12 rows per-partition filters bit_or-merge."""
    from osmgraft.operators.bloom import bloom_probe_stats

    cust = read_fixture(spark, sf_dir, "customer")

    cust = ensure_min_parallelism(cust)
    members = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k")
    )
    probes = cust.select(F.col("c_custkey").alias("k"))
    return bloom_probe_stats(members, probes, "k")


def _sql_kmeans() -> str:
    from osmgraft.operators.kmeans import sql_kmeans_exact

    pts = f"SELECT {sql_floordiv('lon7', 100)} AS x, {sql_floordiv('lat7', 100)} AS y FROM ({_PTS})"
    return sql_kmeans_exact(pts)


@register("kmeans_exact_k6_r3", _sql_kmeans())
def kmeans_exact_k6_r3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Lloyd k-means (operators/kmeans.py): 3 rounds, k = 6 fixed
    seeds, centroids carried as integer rationals (Σx, Σy, N) and the
    argmin decided by the cross-multiplied comparator A_j·N_i² < A_i·N_j²
    in DECIMAL(38)/HUGEINT — a clustering trajectory that is bitwise
    identical at any parallelism, which float k-means cannot be.  Per
    round: one broadcast map-only assignment pass + one map-side-combined
    aggregate; no driver loop, no collect.  The twin unrolls the same
    rounds as chained CTEs."""
    from osmgraft.operators.kmeans import kmeans_exact

    pts = points_from_orders(spark, sf_dir).select(
        floordiv(F.col("lon7"), 100).alias("x"), floordiv(F.col("lat7"), 100).alias("y")
    )
    return kmeans_exact(pts)


def _sql_str_prune() -> str:
    from osmgraft.operators.packing import sql_str_pack_leaves, sql_str_prune_stats
    from osmgraft.synth import sql_latlon_of_key

    pts = f"SELECT point_id, lon7 AS x, lat7 AS y FROM ({_PTS})"
    lat, lon = sql_latlon_of_key("(q * 17 + 1)")
    queries = f"""SELECT q AS query_id,
       ({lon}) - 20000000 AS qx0, ({lon}) + 20000000 AS qx1,
       ({lat}) - 20000000 AS qy0, ({lat}) + 20000000 AS qy1
  FROM range(0, 20) t(q)"""
    leaves_tail = "WITH " + sql_str_pack_leaves(pts, capacity=256)
    # wrap the full leaf statement as a subquery relation for the prune CTE
    return (
        "WITH "
        + sql_str_prune_stats(f"SELECT * FROM ({leaves_tail})", queries)
    )


@register("str_prune_stats", _sql_str_prune())
def str_prune_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruning arithmetic over the STR leaf directory (operators/
    packing.str_prune_stats): 20 deterministic query boxes broadcast
    against the bbox directory — per query the leaves that must be scanned
    and the point-count upper bound, vs table totals.  The read-side proof
    that the str_pack_leaves layout prunes: at 10^12 rows this touches the
    ~n/256-row directory, never the data."""
    from osmgraft.operators.packing import str_pack_leaves, str_prune_stats
    from osmgraft.synth import latlon_of_key

    pts = points_from_orders(spark, sf_dir).selectExpr(
        "point_id", "lon7 AS x", "lat7 AS y"
    )
    leaves = str_pack_leaves(pts, capacity=256)
    q = spark.range(20).select(F.col("id").alias("query_id"))
    lat, lon = latlon_of_key(F.col("query_id") * 17 + 1)
    boxes = q.select(
        "query_id",
        (lon - 20000000).alias("qx0"),
        (lon + 20000000).alias("qx1"),
        (lat - 20000000).alias("qy0"),
        (lat + 20000000).alias("qy1"),
    )
    return str_prune_stats(leaves, boxes)


def _sql_decayed() -> str:
    from osmgraft.operators.density import sql_decayed_tile_counts
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("event_id")
    pts = f"""SELECT {tiles.sql_tile_x(f'({lon})', 8)} AS cx,
         {tiles.sql_tile_y(f'({lat})', 8)} AS cy,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
  FROM events"""
    return sql_decayed_tile_counts(pts)


@register("tile_decayed_top100_z8", _sql_decayed())
def tile_decayed_top100_z8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed hot-tile list (operators/density.decayed_tile_counts):
    per-z8-tile Σ 2^(day − day_min) — exponential half-life-1-day decay as
    EXACT shifted integers, no IEEE pow — top-100 by (decayed DESC, tx,
    ty).  The freshness-biased ranking a prefetch/cache layer consumes;
    yesterday's burst outranks last week's plateau (plain counts can't).
    100 TB: map-side-combined agg, broadcast 1-row min, TakeOrdered top-k."""
    from osmgraft.operators.density import decayed_tile_counts
    from osmgraft.synth import latlon_of_key

    ev = ensure_min_parallelism(read_fixture(spark, sf_dir, "events"))
    lat, lon = latlon_of_key(F.col("event_id"))
    pts = ev.select(
        tiles.tile_x(lon, 8).alias("cx"),
        tiles.tile_y(lat, 8).alias("cy"),
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
    )
    return decayed_tile_counts(pts)


def _sql_winsor() -> str:
    from osmgraft.operators.stats import sql_winsorized_stats

    return sql_winsorized_stats(
        "SELECT source, n_chars FROM documents", ["source"], "n_chars"
    )


@register("winsorized_nchars_by_source", _sql_winsor())
def winsorized_nchars_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized length summary per document source (operators/stats.
    winsorized_stats, Tukey & McLaughlin 1963): values clamped to the
    exact [p05, p95] discrete quantiles (the pinned quantile_disc rank),
    clamp counts and the winsorized sum all exact integers — the robust
    location ingredient beside mad_nchars_by_source's robust scale.

    100 TB: one window rank + one conditional re-aggregate per source."""
    from osmgraft.operators.stats import winsorized_stats

    docs = ensure_min_parallelism(
        read_fixture(spark, sf_dir, "documents")
    ).select("source", "n_chars")
    return winsorized_stats(docs, ["source"], "n_chars")


def _sql_burst() -> str:
    from osmgraft.operators.stats import sql_burstiness

    rows = """SELECT user_id,
       CAST(floor(epoch(ts)) AS BIGINT)
         - lag(CAST(floor(epoch(ts)) AS BIGINT))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events QUALIFY gap IS NOT NULL"""
    return sql_burstiness(rows, ["user_id"], "gap")


@register("user_burstiness", _sql_burst())
def user_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh–Barabási burstiness class per user (operators/stats.
    burstiness, EPL 2008) over inter-event gaps: bursty / regular /
    poisson_like decided by the exact sign of n·Σx² − 2S² (σ vs μ with
    the square-root never taken) — the behavioral-rhythm screen beside
    sessionize (which cuts on a gap) and autocorr (which seeks period).
    Gap extraction shares the pinned (ts, event_id) total order with
    markov_event_transitions.

    100 TB: one lag window + one map-side-combinable agg."""
    from osmgraft.operators.stats import burstiness
    from pyspark.sql.window import Window as _W

    ev = ensure_min_parallelism(read_fixture(spark, sf_dir, "events"))
    w = _W.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.floor(F.unix_timestamp("ts")).cast("long")
    gaps = (
        ev.select("user_id", "ts", "event_id")
        .withColumn("gap", sec - F.lag(sec).over(w))
        .filter(F.col("gap").isNotNull())
        .select("user_id", "gap")
    )
    return burstiness(gaps, ["user_id"], "gap")


def _sql_segregation() -> str:
    from osmgraft.operators.stats import sql_tv_distance
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("event_id")
    rows = f"""SELECT event_type,
         {tiles.sql_tile_x(f'({lon})', 6)} * 64 + {tiles.sql_tile_y(f'({lat})', 6)}
           AS cell
  FROM events"""
    return sql_tv_distance(rows, "event_type", "cell")


@register("segregation_types_z6", _sql_segregation())
def segregation_types_z6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duncan dissimilarity (segregation) index between every event-type
    pair over z6 cells (Duncan & Duncan 1955 — the classic residential-
    segregation statistic): D = ½·Σ_cells |share_a(cell) − share_b(cell)|
    is EXACTLY the total-variation distance with cells as categories, so
    the op IS operators/stats.tv_distance over (event_type, packed z6
    cell) — one exact integer rational per pair, "how differently are
    these two event types distributed over space".

    100 TB: cell-domain counts + one grouped sum per type pair."""
    from osmgraft.operators.stats import tv_distance
    from osmgraft.synth import latlon_of_key

    ev = ensure_min_parallelism(read_fixture(spark, sf_dir, "events"))
    lat, lon = latlon_of_key(F.col("event_id"))
    rows = ev.select(
        "event_type",
        (tiles.tile_x(lon, 6) * 64 + tiles.tile_y(lat, 6)).alias("cell"),
    )
    return tv_distance(rows, "event_type", "cell")


def _sql_lq() -> str:
    from osmgraft.operators.stats import sql_contingency_assoc
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("event_id")
    rows = f"""SELECT
         {tiles.sql_tile_x(f'({lon})', 6)} * 64 + {tiles.sql_tile_y(f'({lat})', 6)}
           AS cell, event_type
  FROM events"""
    return sql_contingency_assoc(rows, "cell", "event_type")


@register("tile_type_lq_z6", _sql_lq())
def tile_type_lq_z6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Location-quotient cells per (z6 cell, event type) — the
    geomarketing LQ = (x_ct/x_c)/(x_t/x) screen: LQ > 1 with significance
    is EXACTLY the contingency-association enrichment test, so the op IS
    operators/stats.contingency_assoc over (packed z6 cell, event_type):
    enriched = the type over-concentrates in that cell beyond the
    adjusted-residual z-bound, depleted symmetric — the "which activity
    characterizes this neighborhood" analysis, exact.

    100 TB: category-domain aggs + broadcast dimension joins."""
    from osmgraft.operators.stats import contingency_assoc
    from osmgraft.synth import latlon_of_key

    ev = ensure_min_parallelism(read_fixture(spark, sf_dir, "events"))
    lat, lon = latlon_of_key(F.col("event_id"))
    rows = ev.select(
        (tiles.tile_x(lon, 6) * 64 + tiles.tile_y(lat, 6)).alias("cell"),
        "event_type",
    )
    return contingency_assoc(rows, "cell", "event_type")


def _sql_kappa() -> str:
    from osmgraft.functions.text import sql_lang_id
    from osmgraft.operators.stats import sql_rater_agreement

    rows = f"SELECT lang, {sql_lang_id('text')} AS pred FROM documents"
    return sql_rater_agreement(rows, "lang", "pred")


@register("kappa_langid", _sql_kappa())
def kappa_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa of the stopword language-ID against ground truth
    (operators/stats.rater_agreement, Cohen 1960): chance-corrected
    agreement as the exact rational (N·agree − Σn_a n_b)/(N² − Σn_a n_b),
    strength banded at the pinned Landis–Koch rationals 3/5 and 2/5 — the
    eval metric auc_lang_by_source (ranking) and lang_id_pred (raw
    predictions) lack: it discounts agreement the class skew gives for
    free.  100 TB: three category-domain aggs + a 1-row join."""
    from osmgraft.functions.text import lang_id
    from osmgraft.operators.stats import rater_agreement

    docs = ensure_min_parallelism(
        read_fixture(spark, sf_dir, "documents")
    ).select("lang", lang_id(F.col("text")).alias("pred"))
    return rater_agreement(docs, "lang", "pred")


def _sql_clf_report() -> str:
    from osmgraft.functions.text import sql_lang_id
    from osmgraft.operators.stats import sql_classifier_report

    rows = f"SELECT lang, {sql_lang_id('text')} AS pred FROM documents"
    return sql_classifier_report(rows, "lang", "pred")


@register("langid_class_report", _sql_clf_report())
def langid_class_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 of the stopword language-ID as EXACT
    RATIONALS (operators/stats.classifier_report): confusion-matrix
    marginals plus F1 = 2tp/(truth_n + pred_n) via the harmonic-mean
    identity — division never taken, thresholds downstream cross-
    multiply.  With kappa_langid (chance-corrected) and
    mcnemar_langid_vs_majority (paired) this completes the eval report a
    labeling pipeline ships.  100 TB: three category-domain aggs."""
    from osmgraft.functions.text import lang_id
    from osmgraft.operators.stats import classifier_report

    docs = ensure_min_parallelism(
        read_fixture(spark, sf_dir, "documents")
    ).select("lang", lang_id(F.col("text")).alias("pred"))
    return classifier_report(docs, "lang", "pred")


def _sql_mcnemar() -> str:
    from osmgraft.functions.text import sql_lang_id
    from osmgraft.operators.stats import sql_mcnemar

    rows = f"""SELECT lang, {sql_lang_id('text')} AS pred_a,
       (SELECT lang FROM documents GROUP BY lang
        ORDER BY count(*) DESC, lang ASC LIMIT 1) AS pred_b
  FROM documents"""
    return sql_mcnemar(rows, "lang", "pred_a", "pred_b")


@register("mcnemar_langid_vs_majority", _sql_mcnemar())
def mcnemar_langid_vs_majority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test (operators/stats.mcnemar, 1947): stopword
    language-ID vs the majority-class baseline on the SAME documents —
    discordant counts b/c and the cleared rejection (b−c)² ≥ z²(b+c).
    The honest classifier comparison (pooled accuracy ignores pairing);
    with kappa_langid this completes the eval pair.  Baseline = globally
    most frequent lang, ties lexicographic — computed exactly in both
    engines.  100 TB: one 4-counter agg + a 1-row broadcast."""
    from osmgraft.functions.text import lang_id
    from osmgraft.operators.stats import mcnemar
    from pyspark.sql.window import Window as _W

    docs = ensure_min_parallelism(
        read_fixture(spark, sf_dir, "documents")
    ).select("lang", "text")
    maj = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("_c"))
        .withColumn(
            "_rn",
            F.row_number().over(
                _W.orderBy(F.col("_c").desc(), F.col("lang").asc())
            ),
        )
        .filter(F.col("_rn") == 1)
        .select(F.col("lang").alias("pred_b"))
    )
    rows = docs.crossJoin(F.broadcast(maj)).select(
        "lang", lang_id(F.col("text")).alias("pred_a"), "pred_b"
    )
    return mcnemar(rows, "lang", "pred_a", "pred_b")


def _sql_simpson_px() -> str:
    from osmgraft.operators.stats import sql_simpsons_paradox

    return sql_simpsons_paradox(
        "SELECT source, lang, n_chars > 500 AS long_doc FROM documents",
        "source",
        "lang",
        "long_doc",
    )


@register("simpsons_paradox_sources", _sql_simpson_px())
def simpsons_paradox_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox screen between document sources on the long-doc
    rate, stratified by language (operators/stats.simpsons_paradox,
    Simpson 1951 / Yule 1903): pooled vs per-stratum rate directions all
    decided by cross-multiplied integer comparisons, paradox raised when
    the pooled ranking is strictly contradicted inside every stratum —
    the aggregation-bias trap a metrics pipeline must test before
    reporting pooled rates.  Completes the stratification family beside
    cube_lang_source (counts) and lang_source_assoc (independence).

    100 TB: category-domain aggregates + one pair join."""
    from osmgraft.operators.stats import simpsons_paradox

    docs = ensure_min_parallelism(
        read_fixture(spark, sf_dir, "documents")
    ).select("source", "lang", (F.col("n_chars") > 500).alias("long_doc"))
    return simpsons_paradox(docs, "source", "lang", "long_doc")


def _sql_tv() -> str:
    from osmgraft.operators.stats import sql_tv_distance

    return sql_tv_distance("SELECT source, lang FROM documents", "source", "lang")


@register("tv_source_langmix", _sql_tv())
def tv_source_langmix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact total-variation distance between every document-source pair
    on the LANGUAGE mix (operators/stats.tv_distance): TV = ½Σ|p−q|
    carried as integer tv_num/tv_den — the categorical member of the
    drift family (EMD prices ordered values, KS localizes CDF gaps, TV
    reads unordered category mixes and bounds every event-probability
    change).  The "did this source's language composition move"
    monitoring query.

    100 TB: category-domain counts + one grouped sum per pair — no
    windows, no ordering."""
    from osmgraft.operators.stats import tv_distance

    docs = ensure_min_parallelism(
        read_fixture(spark, sf_dir, "documents")
    ).select("source", "lang")
    return tv_distance(docs, "source", "lang")


def _sql_emd() -> str:
    from osmgraft.operators.stats import sql_emd_1d

    return sql_emd_1d("SELECT source, n_chars FROM documents", "source", "n_chars")


@register("emd_source_drift", _sql_emd())
def emd_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-D Earth Mover's distance between every document-source
    pair on n_chars (operators/stats.emd_1d, the W₁ = ∫|F_a − F_b|
    closed form): the L1 companion to ks_source_drift's L∞ over the same
    pooled-CDF walk — KS localizes the worst gap, EMD prices the total
    mass transport.  w1_num/w1_den exact integers, HUGEINT internally.

    100 TB: domain-bounded histograms + one window walk per pair."""
    from osmgraft.operators.stats import emd_1d

    docs = ensure_min_parallelism(
        read_fixture(spark, sf_dir, "documents")
    ).select("source", "n_chars")
    return emd_1d(docs, "source", "n_chars")


def _sql_mwu() -> str:
    from osmgraft.operators.stats import sql_mann_whitney_u

    return sql_mann_whitney_u(
        "SELECT lang, n_chars FROM documents", "lang", "n_chars"
    )


@register("mwu_lang_length", _sql_mwu())
def mwu_lang_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U rank-sum test between every language pair on
    document length (operators/stats.mann_whitney_u, Mann & Whitney
    1947): U carried exactly as 2·wins + ties computed from value
    HISTOGRAMS (no pair explosion), the normal rejection cleared to
    3(u2 − n_a n_b)² ≥ z²·n_a n_b(n_a+n_b+1) in HUGEINT — the LOCATION
    member of the drift family beside ks_source_drift (shape) and
    mad_nchars_by_source (scale).  'greater' = the first language's
    documents stochastically run longer.

    100 TB: domain-bounded histograms + one window walk per pair."""
    from osmgraft.operators.stats import mann_whitney_u

    docs = ensure_min_parallelism(
        read_fixture(spark, sf_dir, "documents")
    ).select("lang", "n_chars")
    return mann_whitney_u(docs, "lang", "n_chars")


def _sql_ks() -> str:
    from osmgraft.operators.stats import sql_ks_two_sample

    return sql_ks_two_sample(
        "SELECT source, n_chars FROM documents", "source", "n_chars"
    )


@register("ks_source_drift", _sql_ks())
def ks_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift test between every pair of
    document sources on the n_chars distribution (operators/stats.
    ks_two_sample, Kolmogorov 1933 / Smirnov 1939): the D statistic
    carried as the exact integer max |n_b·C_a − n_a·C_b| over the pooled
    CDF walk, the α = 0.05 rejection cleared of its √ with the pinned
    rational c² = 1844/1000 — DECIMAL(38)/HUGEINT, zero IEEE.  THE
    distribution-shift screen a curation pipeline runs between shards,
    snapshots and ingest sources; the distribution-level companion to
    lang_source_assoc (category-level) and mad_nchars_by_source
    (scale-level).

    100 TB: value-domain-bounded histograms (map-side combined) + one
    window per pair over pooled distinct values."""
    from osmgraft.operators.stats import ks_two_sample

    docs = ensure_min_parallelism(
        read_fixture(spark, sf_dir, "documents")
    ).select("source", "n_chars")
    return ks_two_sample(docs, "source", "n_chars")


def _sql_isotonic() -> str:
    from osmgraft.operators.stats import sql_isotonic_fit
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("event_id")
    counts = f"""SELECT {tiles.sql_tile_x(f'({lon})', 5)} AS tx,
         {tiles.sql_tile_y(f'({lat})', 5)} AS ty,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day, count(*) AS cnt
  FROM events GROUP BY 1, 2, 3"""
    return "WITH " + sql_isotonic_fit(counts, ["tx", "ty"]) + "\nSELECT * FROM iso"


@register("tile_isotonic_z5", _sql_isotonic())
def tile_isotonic_z5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT isotonic regression per z5 tile (operators/stats.
    isotonic_fit, Barlow et al. 1972) over the same tile-day rollup as
    the trend family — the monotone least-squares fit, computed by the
    closed MINIMAX identity fit(t) = max_{i≤t} min_{j≥t} mean(x_i..x_j)
    instead of the inherently sequential pool-adjacent-violators scan:
    pure relational algebra (one O(ticks³) explode on the AGGREGATE, one
    min, one max), rational means carried as lcm-scaled DECIMAL(38)/
    HUGEINT integers so nothing ever divides.  Completes the family: MK
    detects drift, Theil–Sen rates it, Pettitt locates it, isotonic FITS
    the monotone shape.

    100 TB: ≤27 000 codegen rows per tile (ticks ≤ 30), two map-side-
    combinable aggs; sequential PAVA traded for parallel width."""
    from osmgraft.operators.stats import isotonic_fit
    from osmgraft.synth import latlon_of_key

    ev = ensure_min_parallelism(read_fixture(spark, sf_dir, "events"))
    lat, lon = latlon_of_key(F.col("event_id"))
    counts = (
        ev.select(
            tiles.tile_x(lon, 5).alias("tx"),
            tiles.tile_y(lat, 5).alias("ty"),
            F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
        )
        .groupBy("tx", "ty", "day")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return isotonic_fit(counts, ["tx", "ty"])


def _sql_markov() -> str:
    from osmgraft.operators.stats import sql_markov_transitions

    rows = (
        "SELECT user_id, event_type,"
        " CAST(floor(epoch(ts)) AS BIGINT) AS tsec, event_id FROM events"
    )
    return sql_markov_transitions(
        rows, ["user_id"], "event_type", ["tsec", "event_id"]
    )


@register("markov_event_transitions", _sql_markov())
def markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams
    (operators/stats.markov_transitions, Anderson & Goodman 1957 MLE):
    consecutive event-type bigrams per user (ordered by epoch second with
    event_id as the unique tiebreaker — a pinned total order), pooled
    into exact transition counts with the modal next state flagged (ties
    lexicographic).  P(to|from) is the exact rational cnt/row_total.  The
    DYNAMICS companion to collocations_pmi (association) and
    funnel_sequence (a fixed path).

    100 TB: one user-keyed lag window + state-domain-sized aggs."""
    from osmgraft.operators.stats import markov_transitions

    ev = ensure_min_parallelism(read_fixture(spark, sf_dir, "events"))
    rows = ev.select(
        "user_id",
        "event_type",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("tsec"),
        "event_id",
    )
    return markov_transitions(rows, ["user_id"], "event_type", ["tsec", "event_id"])


def _sql_weekday() -> str:
    from osmgraft.operators.stats import sql_weekday_seasonality
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("event_id")
    rows = f"""SELECT {tiles.sql_tile_x(f'({lon})', 6)} AS tx,
         {tiles.sql_tile_y(f'({lat})', 6)} AS ty,
         (CAST(floor(epoch(ts)) AS BIGINT) // 86400 + 4) % 7 AS dow
  FROM events"""
    return sql_weekday_seasonality(rows, ["tx", "ty"])


@register("tile_weekday_seasonality_z6", _sql_weekday())
def tile_weekday_seasonality_z6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality screen per z6 tile (operators/stats.
    weekday_seasonality): observed weekday counts against the uniform-week
    null, classed over/under/flat by the exact cleared inequality
    (7O − N)² ≥ 6z²N — the 1/7 clears perfectly, so not even a rational
    constant is needed.  Weekday = (epoch_days + 4) mod 7 with Monday = 0
    — pure integer arithmetic, immune to the engines' differing
    dayofweek() conventions.  The weekly-rhythm member of the temporal
    family (level ⋄ drift ⋄ burst ⋄ change-point ⋄ PROFILE).

    100 TB: 7-bucket map-side-combinable agg + group total, no joins."""
    from osmgraft.operators.stats import weekday_seasonality
    from osmgraft.synth import latlon_of_key

    ev = ensure_min_parallelism(read_fixture(spark, sf_dir, "events"))
    lat, lon = latlon_of_key(F.col("event_id"))
    rows = ev.select(
        tiles.tile_x(lon, 6).alias("tx"),
        tiles.tile_y(lat, 6).alias("ty"),
        ((F.floor(F.unix_timestamp("ts") / 86400).cast("long") + 4) % 7).alias("dow"),
    )
    return weekday_seasonality(rows, ["tx", "ty"])


def _sql_rank_agg() -> str:
    from osmgraft.operators.ranking import sql_rank_aggregation
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("event_id")
    counts = f"""SELECT {tiles.sql_tile_x(f'({lon})', 5)} AS tx,
         {tiles.sql_tile_y(f'({lat})', 5)} AS ty,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
         event_type, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2, 3, 4"""
    return sql_rank_aggregation(counts, ["tx", "ty"], "day", "event_type", "cnt")


@register("rank_agg_types_z5", _sql_rank_agg())
def rank_agg_types_z5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank aggregation per z5 tile (operators/ranking.rank_aggregation,
    Borda 1781 / Condorcet 1785 / Dwork et al. WWW 2001 rank fusion):
    each DAY is a ballot ranking the tile's event types by count (ties
    broken lexicographically — a pinned total order), aggregated into the
    Borda winner+score and the Condorcet winner (NULL on a paradox
    cycle).  The voting-theory reading of "what type dominates this
    tile": top_event_types counts raw volume; this fuses per-day
    RANKINGS, robust to one huge burst day.

    100 TB shape: windows and pairwise self-join run on the per-(tile,
    day, type) AGGREGATE — candidate-domain-bounded, never data-bounded;
    exact int64 throughout."""
    from osmgraft.operators.ranking import rank_aggregation
    from osmgraft.synth import latlon_of_key

    ev = ensure_min_parallelism(read_fixture(spark, sf_dir, "events"))
    lat, lon = latlon_of_key(F.col("event_id"))
    counts = (
        ev.select(
            tiles.tile_x(lon, 5).alias("tx"),
            tiles.tile_y(lat, 5).alias("ty"),
            F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
            "event_type",
        )
        .groupBy("tx", "ty", "day", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return rank_aggregation(counts, ["tx", "ty"], "day", "event_type", "cnt")


def _sql_spearman() -> str:
    from osmgraft.operators.stats import sql_spearman_rho
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("event_id")
    obs = f"""SELECT {tiles.sql_tile_x(f'({lon})', 5)} AS tx,
         {tiles.sql_tile_y(f'({lat})', 5)} AS ty,
         CAST(count(*) AS BIGINT) AS cnt,
         CAST(count(DISTINCT user_id) AS BIGINT) AS users
  FROM events GROUP BY tx, ty, CAST(floor(epoch(ts)) AS BIGINT) // 86400"""
    return (
        "WITH "
        + sql_spearman_rho(obs, ["tx", "ty"], "cnt", "users")
        + "\nSELECT * FROM sp_out"
    )


@register("tile_spearman_z5", _sql_spearman())
def tile_spearman_z5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation per z5 tile between daily volume and
    user diversity (operators/stats.spearman_rho, Spearman 1904) — the
    rank-DISPLACEMENT member completing the rank-correlation pair with
    tile_kendall_tau_z5's pair inversions, over the same tile-day
    rollup: tie-exact ×2 average ranks, Pearson-on-ranks numerator and
    margins emitted as exact integers, |ρ| ≥ ½ class cross-multiplied.

    100 TB: two windows + one agg on the tile-day AGGREGATE."""
    from osmgraft.operators.stats import spearman_rho
    from osmgraft.synth import latlon_of_key

    ev = ensure_min_parallelism(read_fixture(spark, sf_dir, "events"))
    lat, lon = latlon_of_key(F.col("event_id"))
    obs = (
        ev.select(
            tiles.tile_x(lon, 5).alias("tx"),
            tiles.tile_y(lat, 5).alias("ty"),
            F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
            "user_id",
        )
        .groupBy("tx", "ty", "day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.countDistinct("user_id").cast("long").alias("users"),
        )
        .select("tx", "ty", "cnt", "users")
    )
    return spearman_rho(obs, ["tx", "ty"], "cnt", "users")


def _sql_pettitt_q() -> str:
    from osmgraft.operators.stats import sql_pettitt
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("event_id")
    counts = f"""SELECT {tiles.sql_tile_x(f'({lon})', 5)} AS tx,
         {tiles.sql_tile_y(f'({lat})', 5)} AS ty,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day, count(*) AS cnt
  FROM events GROUP BY 1, 2, 3"""
    return "WITH " + sql_pettitt(counts, ["tx", "ty"]) + "\nSELECT * FROM pt"


@register("tile_pettitt_z5", _sql_pettitt_q())
def tile_pettitt_z5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt change-point locator per z5 tile (operators/stats.pettitt,
    Pettitt 1979) over the same tile-day rollup as tile_trend_mk_z5 —
    completing the trend family: MK says WHETHER a tile trends, Theil–Sen
    HOW FAST, CUSUM flags bursts, Pettitt locates WHEN the level shifted.
    Rank-based U_r split statistics, packed-integer argmax (largest |U|,
    smallest split), and a significance class whose ln(40) threshold is
    pinned as an exact rational — zero IEEE anywhere.

    100 TB: pair/split explosion on the per-tile-day AGGREGATE (≤435
    pairs × ≤29 splits per tile), never raw events."""
    from osmgraft.operators.stats import pettitt
    from osmgraft.synth import latlon_of_key

    ev = ensure_min_parallelism(read_fixture(spark, sf_dir, "events"))
    lat, lon = latlon_of_key(F.col("event_id"))
    counts = (
        ev.select(
            tiles.tile_x(lon, 5).alias("tx"),
            tiles.tile_y(lat, 5).alias("ty"),
            F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
        )
        .groupBy("tx", "ty", "day")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return pettitt(counts, ["tx", "ty"])


def _sql_tukey() -> str:
    from osmgraft.operators.stats import sql_tukey_outliers
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("event_id")
    counts = f"""SELECT {tiles.sql_tile_x(f'({lon})', 5)} AS tx,
         {tiles.sql_tile_y(f'({lat})', 5)} AS ty,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day, count(*) AS cnt
  FROM events GROUP BY 1, 2, 3"""
    return "WITH " + sql_tukey_outliers(counts, ["tx", "ty"]) + "\nSELECT * FROM tk"


@register("tile_tukey_outlier_days_z5", _sql_tukey())
def tile_tukey_outlier_days_z5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier days per z5 tile (operators/stats.
    tukey_outliers, EDA 1977 boxplot rule) over the tile-day rollup:
    exact discrete quartiles (the quantile_disc rank convention the
    percentile family already pins) and the 1.5·IQR fences cleared to
    2v < 5q1 − 3q3 / 2v > 5q3 − 3q1 — the distributional burst/dead-day
    counter beside cusum_bursts' sequential detector.  Exact int64.

    100 TB: one window rank per tile on the AGGREGATE + one conditional
    re-aggregate."""
    from osmgraft.operators.stats import tukey_outliers
    from osmgraft.synth import latlon_of_key

    ev = ensure_min_parallelism(read_fixture(spark, sf_dir, "events"))
    lat, lon = latlon_of_key(F.col("event_id"))
    counts = (
        ev.select(
            tiles.tile_x(lon, 5).alias("tx"),
            tiles.tile_y(lat, 5).alias("ty"),
            F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
        )
        .groupBy("tx", "ty", "day")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return tukey_outliers(counts, ["tx", "ty"])


def _sql_runs() -> str:
    from osmgraft.operators.stats import sql_runs_test
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("event_id")
    counts = f"""SELECT {tiles.sql_tile_x(f'({lon})', 5)} AS tx,
         {tiles.sql_tile_y(f'({lat})', 5)} AS ty,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day, count(*) AS cnt
  FROM events GROUP BY 1, 2, 3"""
    return "WITH " + sql_runs_test(counts, ["tx", "ty"]) + "\nSELECT * FROM rt"


@register("tile_runs_test_z5", _sql_runs())
def tile_runs_test_z5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test per z5 tile (operators/stats.runs_test,
    1940) over the tile-day rollup — the RANDOMNESS screen of the
    temporal family (MK asks monotone?, Pettitt asks where?, this asks
    "is the day-to-day ORDER even exchangeable?"): dichotomize at the
    tile's own exact lower median, count runs, and class sticky /
    oscillating / random by the root-cleared inequality
    ((R−1)n − 2n₁n₂)²(n−1) ≥ 2z²n₁n₂(2n₁n₂−n) — exact int64.

    100 TB: one window median + one lag scan per tile on the AGGREGATE."""
    from osmgraft.operators.stats import runs_test
    from osmgraft.synth import latlon_of_key

    ev = ensure_min_parallelism(read_fixture(spark, sf_dir, "events"))
    lat, lon = latlon_of_key(F.col("event_id"))
    counts = (
        ev.select(
            tiles.tile_x(lon, 5).alias("tx"),
            tiles.tile_y(lat, 5).alias("ty"),
            F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
        )
        .groupBy("tx", "ty", "day")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return runs_test(counts, ["tx", "ty"])


def _sql_siegel() -> str:
    from osmgraft.operators.stats import sql_siegel_slope
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("event_id")
    counts = f"""SELECT {tiles.sql_tile_x(f'({lon})', 5)} AS tx,
         {tiles.sql_tile_y(f'({lat})', 5)} AS ty,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day, count(*) AS cnt
  FROM events GROUP BY 1, 2, 3"""
    return "WITH " + sql_siegel_slope(counts, ["tx", "ty"]) + "\nSELECT * FROM sg"


@register("tile_siegel_slope_z5", _sql_siegel())
def tile_siegel_slope_z5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Siegel repeated-median slope per z5 tile (operators/stats.
    siegel_slope, Siegel 1982) over the same tile-day rollup — the 50 %-
    breakdown member completing the robust-trend ladder (OLS 0 %,
    Theil–Sen 29 %, repeated median 50 %): median over j of slope(i,j)
    per day i, then the median of those medians, every slope the exact
    sign-folded lcm-scaled int64 key, both layers lower medians.

    100 TB: ordered-pair explosion on the tile-day AGGREGATE (≤ 870
    rows/tile), two window medians, zero IEEE."""
    from osmgraft.operators.stats import siegel_slope
    from osmgraft.synth import latlon_of_key

    ev = ensure_min_parallelism(read_fixture(spark, sf_dir, "events"))
    lat, lon = latlon_of_key(F.col("event_id"))
    counts = (
        ev.select(
            tiles.tile_x(lon, 5).alias("tx"),
            tiles.tile_y(lat, 5).alias("ty"),
            F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
        )
        .groupBy("tx", "ty", "day")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return siegel_slope(counts, ["tx", "ty"])


def _sql_kendall() -> str:
    from osmgraft.operators.stats import sql_kendall_tau
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("event_id")
    obs = f"""SELECT {tiles.sql_tile_x(f'({lon})', 5)} AS tx,
         {tiles.sql_tile_y(f'({lat})', 5)} AS ty,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
         CAST(count(*) AS BIGINT) AS cnt,
         CAST(count(DISTINCT user_id) AS BIGINT) AS users
  FROM events GROUP BY 1, 2, 3"""
    return (
        "WITH "
        + sql_kendall_tau(obs, ["tx", "ty"], "day", "cnt", "users")
        + "\nSELECT * FROM kt"
    )


@register("tile_kendall_tau_z5", _sql_kendall())
def tile_kendall_tau_z5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall τ-b rank correlation per z5 tile (operators/stats.
    kendall_tau, Kendall 1938/1945) between daily event VOLUME and daily
    user DIVERSITY over the same tile-day rollup as tile_trend_mk_z5 —
    the bivariate member of the trend family (Mann–Kendall IS Kendall τ
    of value vs time; this correlates value vs value).  Exact integer
    concordant/discordant/tie counts and a cross-multiplied |τb| ≥ 0.5
    strength class — the √ in τ-b's denominator is never evaluated.

    100 TB shape: pair join on the per-tile-day AGGREGATE (≤435 pairs per
    tile at 30 days), never raw events; zero IEEE anywhere."""
    from osmgraft.operators.stats import kendall_tau
    from osmgraft.synth import latlon_of_key

    ev = ensure_min_parallelism(read_fixture(spark, sf_dir, "events"))
    lat, lon = latlon_of_key(F.col("event_id"))
    obs = (
        ev.select(
            tiles.tile_x(lon, 5).alias("tx"),
            tiles.tile_y(lat, 5).alias("ty"),
            F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
            "user_id",
        )
        .groupBy("tx", "ty", "day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.countDistinct("user_id").cast("long").alias("users"),
        )
    )
    return kendall_tau(obs, ["tx", "ty"], "day", "cnt", "users")


def _sql_theil_sen() -> str:
    from osmgraft.operators.stats import sql_theil_sen
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("event_id")
    counts = f"""SELECT {tiles.sql_tile_x(f'({lon})', 5)} AS tx,
         {tiles.sql_tile_y(f'({lat})', 5)} AS ty,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day, count(*) AS cnt
  FROM events GROUP BY 1, 2, 3"""
    return "WITH " + sql_theil_sen(counts, ["tx", "ty"])


@register("tile_theil_sen_z5", _sql_theil_sen())
def tile_theil_sen_z5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust slope per z5 tile (operators/stats.theil_sen) over
    the SAME tile-day rollup as tile_trend_mk_z5 — completing the trend
    trio (OLS fit ⋄ Mann–Kendall direction ⋄ robust magnitude).  Pairwise
    slopes become EXACT int64 keys via dy·(lcm(1..30)//dx), so the median
    pick and the emitted slope never touch IEEE.  100 TB: pair join on the
    tile-day aggregate (≤435 pairs/tile), one window median."""
    from osmgraft.operators.stats import theil_sen
    from osmgraft.synth import latlon_of_key

    ev = ensure_min_parallelism(read_fixture(spark, sf_dir, "events"))
    lat, lon = latlon_of_key(F.col("event_id"))
    counts = (
        ev.select(
            tiles.tile_x(lon, 5).alias("tx"),
            tiles.tile_y(lat, 5).alias("ty"),
            F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
        )
        .groupBy("tx", "ty", "day")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return theil_sen(counts, ["tx", "ty"])


# --- WKT polygon codec roundtrip ---------------------------------------------------
def _sql_wkt_boundaries() -> str:
    from osmgraft.functions.wkt import sql_fmt_e7

    rows = ", ".join(
        f"({b['boundary_id']}, {ri}, {si}, {vlat}, {vlon})"
        for b in ADMIN_BOUNDARIES
        for ri, ring in enumerate([b["ring"], *b["holes"]])
        for si, (vlat, vlon) in enumerate(ring)
    )
    pt = f"{sql_fmt_e7('vlon')} || ' ' || {sql_fmt_e7('vlat')}"
    return f"""WITH v(boundary_id, ring_idx, seq, vlat, vlon) AS (VALUES {rows}),
ringtxt AS (
  SELECT boundary_id, ring_idx,
         string_agg({pt}, ', ' ORDER BY seq) AS t, count(*) AS nv
  FROM v GROUP BY boundary_id, ring_idx),
poly AS (
  SELECT boundary_id,
         'POLYGON (' || string_agg('(' || t || ')', ', ' ORDER BY ring_idx) || ')' AS wkt,
         CAST(count(*) AS BIGINT) AS n_rings, CAST(sum(nv) AS BIGINT) AS n_vertices
  FROM ringtxt GROUP BY boundary_id)
SELECT boundary_id, wkt, n_rings, n_vertices, TRUE AS roundtrip_ok FROM poly"""


@register("wkt_roundtrip_boundaries", _sql_wkt_boundaries())
def wkt_roundtrip_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WKT polygon codec (functions/wkt.py, OGC Simple Features): every admin
    boundary serialized to byte-exact POLYGON text — coordinates are E7
    integers rendered by integer div/mod (no float formatting) — then parsed
    BACK by the JVM regexp/split pipeline and compared ring-for-ring against
    the source arrays (roundtrip_ok must be TRUE everywhere; the oracle
    constructs the same text independently via VALUES + ordered string_agg,
    so a writer bug breaks the wkt hash and a parser bug breaks the flag).

    Map-only whole-stage-codegen expressions — zero shuffle at any scale;
    the format twin of the geojson/polyline/MVT family."""
    from osmgraft.functions.wkt import parse_wkt_polygon, wkt_polygon
    from osmgraft.synth import admin_boundaries_df

    b = admin_boundaries_df(spark)
    wkt = wkt_polygon(F.col("ring"), F.col("holes"))
    out = b.select(
        "boundary_id",
        "ring",
        "holes",
        wkt.alias("wkt"),
        (1 + F.size("holes")).cast("long").alias("n_rings"),
        (
            F.size("ring")
            + F.aggregate("holes", F.lit(0), lambda a, h: a + F.size(h))
        ).cast("long").alias("n_vertices"),
        parse_wkt_polygon(wkt).alias("_parsed"),
    )
    ok = (F.col("_parsed").getItem(0) == F.col("ring")) & (
        F.slice(F.col("_parsed"), 2, F.greatest(F.size("_parsed") - 1, F.lit(0)))
        == F.col("holes")
    )
    return out.select(
        "boundary_id", "wkt", "n_rings", "n_vertices", ok.alias("roundtrip_ok")
    )


# --- Mapbox Terrain-RGB DEM tile roundtrip ----------------------------------------
@register(
    "terrain_rgb_roundtrip_z10_7",
    f"""WITH pts AS ({_PTS}),
cells AS ({_sql_cells(10)})
SELECT 7 AS z, cx // 8 AS tx, cy // 8 AS ty,
       CAST(sum(cnt) AS BIGINT) AS sum_elev, CAST(count(*) AS BIGINT) AS n_cells
FROM cells GROUP BY 1, 2, 3""",
)
def terrain_rgb_roundtrip_z10_7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mapbox Terrain-RGB DEM tiles, full encode→decode loop (operators/
    raster.terrain_rgb_tiles/_stats): z10 cell elevations (the synthetic
    count DEM) pack as v=(elev+10000)·10 into 24-bit RGB, deflate through
    the REAL pure-python png codec per z7 parent, then a second kernel
    inflates, unpacks, and rolls up per-tile elevation sum + non-sea cell
    count.  The DuckDB twin computes the same rollup STRAIGHT from the cell
    counts (spec-as-oracle, the image_roundtrip_fidelity pattern): any
    pack/unpack, filter, stride, or deflate bug breaks the hash.

    100 TB shape: one bounded-group shuffle (≤4^3 cells per parent) + two
    map-only Arrow kernels — the DEM-layer materialization a tile server
    runs, now hash-gated."""
    from osmgraft.operators.raster import terrain_rgb_stats, terrain_rgb_tiles

    cells = _cells_df(spark, sf_dir, 10).select(
        F.col("cx").alias("tx"), F.col("cy").alias("ty"), "cnt"
    )
    return terrain_rgb_stats(terrain_rgb_tiles(cells, z=10, parent_z=7))


def _viewshed_oracle() -> str:
    from osmgraft.operators.raster import sql_terrain_viewshed

    return (
        f"WITH pts AS ({_PTS}), vs_in AS ({_sql_cells(10)})\n"
        + sql_terrain_viewshed("SELECT * FROM vs_in", z=10, parent_z=7).replace(
            "WITH vs_cells", ", vs_cells", 1
        )
    )


@register("terrain_viewshed_z10_7", _viewshed_oracle())
def terrain_viewshed_z10_7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row viewshed over Terrain-RGB DEM tiles (operators/raster.
    terrain_viewshed, the classic line-of-sight raster analysis): west-
    edge viewer per row, cell visible iff its elevation angle strictly
    beats every intervening cell's — the slope comparison CROSS-MULTIPLIED
    so no division/IEEE/epsilon anywhere; per tile the visible count plus
    a positional checksum pinning the exact visible set.  The DEM rides
    the REAL png codec (encode→deflate→inflate→unpack under the gate);
    the twin rebuilds the grid relationally from raw cell counts and
    evaluates the same quantified inequality with NOT EXISTS — two
    representations, one hash.

    100 TB: one bounded-group shuffle to form tiles + two map-only
    kernels; O(w²) comparisons per row as a masked matrix op."""
    from osmgraft.operators.raster import terrain_rgb_tiles, terrain_viewshed

    cells = _cells_df(spark, sf_dir, 10).select(
        F.col("cx").alias("tx"), F.col("cy").alias("ty"), "cnt"
    )
    return terrain_viewshed(terrain_rgb_tiles(cells, z=10, parent_z=7))


def _d8_oracle() -> str:
    from osmgraft.operators.raster import sql_terrain_d8_flow

    return (
        f"WITH pts AS ({_PTS}), d8_in AS ({_sql_cells(10)})\n"
        + sql_terrain_d8_flow("SELECT * FROM d8_in", z=10, parent_z=7).replace(
            "WITH d8_cells", ", d8_cells", 1
        )
    )


@register("terrain_d8_flow_z10_7", _d8_oracle())
def terrain_d8_flow_z10_7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 flow direction over Terrain-RGB DEM tiles (operators/raster.
    terrain_d8_flow, O'Callaghan & Mark 1984 — the drainage primitive
    beside slope and viewshed): steepest strictly-downhill neighbor of
    8, ranked by the EXACT integer key drop²·(3 − dist²) (the √2
    diagonal cross-multiplied away), ties to the pinned direction
    order, sinks/flats → −1; per (tile, direction) cell counts + a
    positional checksum pinning the exact per-direction cell sets.  The
    DEM rides the REAL png codec; the twin rebuilds the grid
    relationally and ranks the same key.

    100 TB: one bounded-group shuffle to form tiles + a map-only
    8-shift kernel."""
    from osmgraft.operators.raster import terrain_d8_flow, terrain_rgb_tiles

    cells = _cells_df(spark, sf_dir, 10).select(
        F.col("cx").alias("tx"), F.col("cy").alias("ty"), "cnt"
    )
    return terrain_d8_flow(terrain_rgb_tiles(cells, z=10, parent_z=7))


def _hypsometry_oracle() -> str:
    return f"""WITH pts AS ({_PTS}),
hy_c AS ({_sql_cells(10)}),
hy_obs AS (
  SELECT cx >> 3 AS ptx, cy >> 3 AS pty,
         cx - ((cx >> 3) << 3) AS sx, cy - ((cy >> 3) << 3) AS sy,
         cnt AS elev
  FROM hy_c),
hy_tiles AS (SELECT DISTINCT ptx, pty FROM hy_obs),
hy_grid AS (
  SELECT t.ptx, t.pty, COALESCE(o.elev, 0) AS elev
  FROM hy_tiles t
  CROSS JOIN range(0, 8) gy(y) CROSS JOIN range(0, 8) gx(x)
  LEFT JOIN hy_obs o
    ON o.ptx = t.ptx AND o.pty = t.pty AND o.sy = gy.y AND o.sx = gx.x),
hy_m AS (
  SELECT ptx, pty, CAST(count(*) AS BIGINT) AS n,
         CAST(min(elev) AS BIGINT) AS emin,
         CAST(max(elev) AS BIGINT) AS emax,
         CAST(sum(elev) AS BIGINT) AS esum
  FROM hy_grid GROUP BY 1, 2)
SELECT 7 AS z, ptx AS tx, pty AS ty, n, emin, emax, esum,
       CAST(esum - n * emin AS BIGINT) AS hi_num,
       CAST(n * (emax - emin) AS BIGINT) AS hi_den,
       CASE WHEN emax = emin THEN 'flat'
            WHEN 2 * (esum - n * emin) > n * (emax - emin) THEN 'young'
            ELSE 'mature' END AS hypso_class
FROM hy_m"""


@register("terrain_hypsometry_z10_7", _hypsometry_oracle())
def terrain_hypsometry_z10_7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypsometric integral per DEM tile (Strahler 1952 — the
    geomorphology maturity index): HI = (mean − min)/(max − min)
    carried as the exact rational hi_num/hi_den = (Σe − n·min)/
    (n·(max−min)) with the young (HI > ½, convex/uneroded) vs mature
    (concave/eroded) class cross-multiplied and flat tiles called out —
    the landscape-evolution summary read directly off the Terrain-RGB
    layer.  The fourth hydrology/terrain member (D8 ⋄ watershed ⋄
    accumulation ⋄ hypsometry), and the cheapest: pure aggregates over
    the REAL png decode path (the engine side decodes; the twin
    rebuilds the sea-level-filled grid relationally).

    100 TB: one bounded-group shuffle + map-only decode + one agg."""
    from osmgraft.operators.raster import terrain_rgb_tiles

    import pandas as pd  # noqa: F401

    from osmgraft.functions.codec import png_decode  # noqa: F401

    cells = _cells_df(spark, sf_dir, 10).select(
        F.col("cx").alias("tx"), F.col("cy").alias("ty"), "cnt"
    )
    tiles_df = terrain_rgb_tiles(cells, z=10, parent_z=7)

    def kernel(pdfs):
        import numpy as np
        import pandas as pd

        from osmgraft.functions.codec import png_decode as _dec

        for pdf in pdfs:
            if not len(pdf):
                continue
            rows = []
            for z, tx, ty, b in zip(pdf["z"], pdf["tx"], pdf["ty"], pdf["png"]):
                px = _dec(bytes(b)).astype(np.int64)
                v = (px[..., 0] << 16) | (px[..., 1] << 8) | px[..., 2]
                elev = v // 10 - 10_000
                n = elev.size
                emin, emax, esum = int(elev.min()), int(elev.max()), int(elev.sum())
                hi_num, hi_den = esum - n * emin, n * (emax - emin)
                cls = (
                    "flat"
                    if emax == emin
                    else ("young" if 2 * hi_num > hi_den else "mature")
                )
                rows.append(
                    (int(z), int(tx), int(ty), n, emin, emax, esum, hi_num, hi_den, cls)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "z", "tx", "ty", "n", "emin", "emax", "esum",
                    "hi_num", "hi_den", "hypso_class",
                ],
            )

    return tiles_df.mapInPandas(
        kernel,
        schema="z long, tx long, ty long, n long, emin long, emax long,"
        " esum long, hi_num long, hi_den long, hypso_class string",
    )


def _watershed_oracle() -> str:
    from osmgraft.operators.raster import sql_terrain_watershed

    return (
        f"WITH pts AS ({_PTS}), ws_in AS ({_sql_cells(10)})\n"
        + sql_terrain_watershed("SELECT * FROM ws_in", z=10, parent_z=7).replace(
            "WITH ws_cells", ", ws_cells", 1
        )
    )


@register("terrain_watershed_z10_7", _watershed_oracle())
def terrain_watershed_z10_7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watershed delineation over Terrain-RGB DEM tiles (operators/
    raster.terrain_watershed): every cell chases its D8 pointer chain to
    its sink via 6 pointer-DOUBLING rounds (the functional graph's
    out-degree is exactly 1, so doubling reaches all roots in log₂ 64
    steps — the cc_star/boruvka contraction discipline, vectorized
    in-kernel because tiles are bounded); per (tile, sink) the basin
    size and exact member checksum.  The DuckDB twin runs the identical
    6 doubling rounds as MATERIALIZED chained CTEs — flow directions,
    the pointer algebra and the basin partition all on one hash.

    100 TB: one bounded-group shuffle to form tiles + a map-only
    kernel; basins never cross tiles by construction (documented
    tile-local semantics, as for D8)."""
    from osmgraft.operators.raster import terrain_rgb_tiles, terrain_watershed

    cells = _cells_df(spark, sf_dir, 10).select(
        F.col("cx").alias("tx"), F.col("cy").alias("ty"), "cnt"
    )
    return terrain_watershed(terrain_rgb_tiles(cells, z=10, parent_z=7))


def _flowacc_oracle() -> str:
    from osmgraft.operators.raster import sql_terrain_flow_accumulation

    composed = (
        f"WITH pts AS ({_PTS}), fa_in AS ({_sql_cells(10)})\n"
        + sql_terrain_flow_accumulation(
            "SELECT * FROM fa_in", z=10, parent_z=7
        ).replace("WITH RECURSIVE fa_cells", ", fa_cells", 1)
    )
    return composed.replace("WITH pts", "WITH RECURSIVE pts", 1)


@register("terrain_flow_accumulation_z10_7", _flowacc_oracle())
def terrain_flow_accumulation_z10_7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 flow accumulation per DEM tile (operators/raster.
    terrain_flow_accumulation) — the hydrology trio's third member
    (direction → watershed → accumulation): upstream-cell counts by
    exact integer relaxation in the kernel, gated against a DuckDB twin
    that instead builds the pointer graph's transitive closure with ONE
    recursive CTE and counts ancestors — two genuinely different
    algorithms, one hash; per tile the outlet cell (pinned tie), its
    accumulation, Σacc and the full-surface checksum.

    100 TB: one bounded-group shuffle + a map-only kernel."""
    from osmgraft.operators.raster import (
        terrain_flow_accumulation,
        terrain_rgb_tiles,
    )

    cells = _cells_df(spark, sf_dir, 10).select(
        F.col("cx").alias("tx"), F.col("cy").alias("ty"), "cnt"
    )
    return terrain_flow_accumulation(terrain_rgb_tiles(cells, z=10, parent_z=7))


def _sql_boundary_luma() -> str:
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("idx")
    luma = (
        "((299 * ((idx*37 + y*11 + x*7) % 256)"
        " + 587 * ((idx*37 + y*11 + x*7 + 29) % 256)"
        " + 114 * ((idx*37 + y*11 + x*7 + 58) % 256)) // 1000)"
    )
    return f"""WITH idxs AS (
  SELECT idx FROM (SELECT row_number() OVER () - 1 AS idx FROM orders)
  WHERE idx < 2000),
pts AS (SELECT idx AS point_id, {lat} AS lat7, {lon} AS lon7 FROM idxs),
{sql_pip_predicate(ADMIN_BOUNDARIES)},
dims AS (SELECT idx, 16 + (idx % 3) * 8 AS w, 12 + (idx % 2) * 6 AS h FROM idxs),
lum AS (
  SELECT idx, CAST(sum({luma}) AS BIGINT) AS m00
  FROM dims
  CROSS JOIN range(0, 18) ty(y) CROSS JOIN range(0, 32) tx(x)
  WHERE y < h AND x < w GROUP BY idx)
SELECT p.boundary_id, CAST(count(*) AS BIGINT) AS n_images,
       CAST(sum(l.m00) AS BIGINT) AS luma_sum
FROM pip p JOIN lum l ON l.idx = p.point_id
GROUP BY p.boundary_id"""


@register("boundary_image_luma", _sql_boundary_luma())
def boundary_image_luma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-admin-boundary image luminance census — the north-star axes
    composed END TO END in one query: REAL container decode (raw/ppm/png
    rotating) → exact luma mass per image (image_central_moments' m00) →
    deterministic geo from the image id → broadcast STR-tree
    point-in-polygon → per-boundary rollup.  The DuckDB twin regenerates
    every pixel from the closed-form formula and replays the PIP
    predicate — decode, geo assignment and the zonal aggregation all on
    ONE hash.  The zonal-statistics reading of the image lake: "how much
    pixel mass per admin area".

    100 TB: map-only decode, broadcast PIP (no point-side shuffle), one
    map-side-combinable agg."""
    from osmgraft.operators.multimodal import image_central_moments
    from osmgraft.synth import latlon_of_key, synth_formula_images

    n = min(read_fixture(spark, sf_dir, "orders").count(), 2000)
    imgs = ensure_min_parallelism(synth_formula_images(spark, n))
    moments = image_central_moments(imgs).select(
        F.substring("image_id", 5, 9).cast("long").alias("point_id"), "m00"
    )
    lat, lon = latlon_of_key(F.col("point_id"))
    pts = moments.select("point_id", lat.alias("lat7"), lon.alias("lon7"), "m00")
    joined = pip_join(
        pts.select("point_id", "lat7", "lon7"), ADMIN_BOUNDARIES, how="inner"
    )
    return (
        joined.join(pts.select("point_id", "m00"), "point_id")
        .groupBy("boundary_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_images"),
            F.sum("m00").cast("long").alias("luma_sum"),
        )
    )


# --- audio landmark-fingerprint near-dup -------------------------------------------
@register(
    "audio_fingerprint_neardup",
    """WITH idxs AS (SELECT row_number() OVER () - 1 AS i FROM orders),
capped AS (SELECT i FROM idxs WHERE i < 300),
b(bi, bb) AS (VALUES (0, 2), (1, 3), (2, 5), (3, 7)),
mix AS (SELECT c.i, w.range AS w, t.range AS t,
               ((c.i // 3) * 1103515245
                 + ((c.i % 3) * 256 + w.range * 256 + t.range) * 12345 + 42)
                % 65536 AS x
        FROM capped c, range(0, 6) w, range(0, 256) t),
smp AS (SELECT i, w, t, ((x * x + x) // 256) % 65536 - 32768 AS v FROM mix),
q AS (SELECT smp.i, smp.w, b.bi,
             sum(smp.v * CAST(round(cos(2.0 * pi() * b.bb * smp.t / 256.0) * 32768.0) AS BIGINT)) AS re,
             sum(smp.v * CAST(round(sin(2.0 * pi() * b.bb * smp.t / 256.0) * 32768.0) AS BIGINT)) AS im
      FROM smp, b GROUP BY 1, 2, 3),
pk AS (SELECT i, w, bi, abs(re) + abs(im) AS m,
              row_number() OVER (PARTITION BY i, w
                                 ORDER BY abs(re) + abs(im) DESC, bi) AS rn
       FROM q),
code AS (SELECT i, w, bi * 8 + m % 8 AS code FROM pk WHERE rn = 1),
seq AS (SELECT i, w, code,
               lead(code) OVER (PARTITION BY i ORDER BY w) AS c1,
               lead(code, 2) OVER (PARTITION BY i ORDER BY w) AS c2
        FROM code),
k AS (SELECT DISTINCT i, (code * 32 + c1) * 32 + c2 AS key
      FROM seq WHERE c2 IS NOT NULL)
SELECT concat('aud', lpad(CAST(a.i AS VARCHAR), 9, '0')) AS id_a,
       concat('aud', lpad(CAST(b2.i AS VARCHAR), 9, '0')) AS id_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM k a JOIN k b2 ON a.key = b2.key AND a.i < b2.i
GROUP BY 1, 2""",
)
def audio_fingerprint_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup by landmark fingerprints (operators/multimodal.
    audio_fingerprint_pairs — the Wang-2003 constellation shape in exact
    integers): REAL WAV decode → per-window quantized-DFT peak codes →
    consecutive-triple 15-bit keys → bucketed key self-join.  The fixture
    (synth.synth_audio_shifted) plants window-aligned time-shifted copies
    (groups of 3), which share 2-3 keys because keys carry no absolute
    position — the shift invariance that makes this the audio twin of
    pHash banding / video temporal signatures.  The DuckDB oracle
    regenerates the PCM arithmetically and replays the whole fingerprint
    algebra relationally; Spark parses genuine RIFF containers, so a header
    offset, window stride, peak tie-break, or key-pack bug breaks the hash."""
    from osmgraft.operators.multimodal import audio_fingerprint_pairs
    from osmgraft.synth import synth_audio_shifted

    n = min(read_fixture(spark, sf_dir, "orders").count(), 300)
    return audio_fingerprint_pairs(synth_audio_shifted(spark, n))


# --- OGC ring validity over data-derived rings --------------------------------------
def _sql_ring_validity() -> str:
    from osmgraft.operators.crossings import sql_ring_self_crossings
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("o_orderkey")

    verts = f"""SELECT ring_id, seq, x, y FROM (
    SELECT o_custkey AS ring_id, o_orderkey AS seq,
           {sql_floordiv(lon, 100)} AS x, {sql_floordiv(lat, 100)} AS y,
           row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
    FROM orders) WHERE rn <= 12"""
    return "WITH " + sql_ring_self_crossings(verts, "ring_id")


@register("ring_validity_orders", _sql_ring_validity())
def ring_validity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OGC simple-feature validity scan (operators/crossings.
    ring_self_crossings): per customer, the ring that connects their first
    ≤12 order points in orderkey order (closed last→first) is checked for
    properly-crossing edge pairs with the exact int64 orientation predicate
    — data-derived rings genuinely self-intersect, so both verdicts appear.
    Coordinates are E5-quantized (cells.floordiv / sql_floordiv by 100,
    the exact floor division both engines share) so every cross term fits
    int64 at global extent; the verdict is exact for the quantized ring in BOTH engines —
    the ST_IsSimple-shaped validity gate a geometry ingest pipeline runs
    before areas/PIP trust the rings.

    100 TB shape: edge windows partition by ring; the pair join fans out
    edges² bounded by the 12-vertex cap per ring, never data volume."""
    from osmgraft.operators.crossings import ring_self_crossings
    from osmgraft.synth import latlon_of_key
    from pyspark.sql import Window as W

    orders = ensure_min_parallelism(
        read_fixture(spark, sf_dir, "orders")
    )
    lat, lon = latlon_of_key(F.col("o_orderkey"))

    verts = (
        orders.select(
            F.col("o_custkey").alias("ring_id"),
            F.col("o_orderkey").alias("seq"),
            floordiv(lon, 100).alias("x"),
            floordiv(lat, 100).alias("y"),
            F.row_number()
            .over(W.partitionBy("o_custkey").orderBy("o_orderkey"))
            .alias("rn"),
        )
        .filter(F.col("rn") <= 12)
        .drop("rn")
    )
    return ring_self_crossings(verts, "ring_id", "seq", "x", "y")


def _sql_triangulate() -> str:
    from osmgraft.operators.triangulate import sql_triangulate_rings
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("o_orderkey")

    pts = f"""SELECT ring_id, x, y FROM (
    SELECT o_custkey AS ring_id,
           {sql_floordiv(lon, 100)} AS x, {sql_floordiv(lat, 100)} AS y,
           row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
    FROM orders) WHERE rn <= 10"""
    return sql_triangulate_rings(pts)


@register("triangulate_customer_rings", _sql_triangulate())
def triangulate_customer_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ear-clipping tessellation (operators/triangulate.py): per customer,
    the first ≤10 order points are polygonized by the exact two-chain
    construction (simple by construction in general position), gated by
    the shared crossing predicate, CCW-normalized and clipped into n−2
    triangles by the first-ear rule — Spark sweeps all rings at once in
    masked numpy (mapInArrow, no per-ring Python), the DuckDB twin replays
    the SAME clip sequence as a recursive CTE over the ring-as-list.  Every
    emitted coordinate is on the hash, so construction order, orientation
    normalization, the convexity test, closed-triangle blocking AND the
    clip sequence itself are all pinned cross-engine.  100 TB: one bounded
    pair join + one hash agg per ring, then map-only."""
    from osmgraft.operators.triangulate import triangulate_rings, two_chain_ring
    from osmgraft.synth import latlon_of_key
    from pyspark.sql import Window as W

    orders = ensure_min_parallelism(read_fixture(spark, sf_dir, "orders"))
    lat, lon = latlon_of_key(F.col("o_orderkey"))

    pts = (
        orders.select(
            F.col("o_custkey").alias("ring_id"),
            floordiv(lon, 100).alias("x"),
            floordiv(lat, 100).alias("y"),
            F.row_number()
            .over(W.partitionBy("o_custkey").orderBy("o_orderkey"))
            .alias("rn"),
        )
        .filter(F.col("rn") <= 10)
        .drop("rn")
    )
    return triangulate_rings(two_chain_ring(pts))


# --- GPX track format roundtrip -------------------------------------------------
def _sql_gpx_tracks() -> str:
    from osmgraft.functions.wkt import sql_fmt_e7
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("o_orderkey")
    pt = (
        "'<trkpt lat=\"' || " + sql_fmt_e7("lat7") + " || '\" lon=\"' || "
        + sql_fmt_e7("lon7")
        + " || '\"><time>' || strftime(make_timestamp(ep * 1000000), "
        "'%Y-%m-%dT%H:%M:%SZ') || '</time></trkpt>'"
    )
    return f"""WITH pts AS (
  SELECT o_custkey % 199 AS ent, o_orderkey AS seq,
         ({lat}) AS lat7, ({lon}) AS lon7,
         1500000000 + o_orderkey % 2592000 AS ep
  FROM orders),
t AS (SELECT ent, seq, lat7, lon7, ep, {pt} AS p FROM pts),
g AS (SELECT ent,
             '<trk><name>ent' || CAST(ent AS VARCHAR) || '</name><trkseg>'
               || string_agg(p, '' ORDER BY seq) || '</trkseg></trk>' AS gpx,
             CAST(count(*) AS BIGINT) AS n_vertices,
             CAST(sum(2 * CAST(lon7 AS BIGINT) + lat7) AS BIGINT) AS coord_ck,
             CAST(sum(ep) AS BIGINT) AS ts_ck
      FROM t GROUP BY ent)
SELECT ent, gpx, n_vertices, coord_ck, ts_ck FROM g"""


@register("gpx_roundtrip_tracks", _sql_gpx_tracks())
def gpx_roundtrip_tracks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPX 1.1 track codec roundtrip (functions/gpx.py): per-entity tracks
    serialize as <trk>/<trkseg>/<trkpt> with integer-only E7 coordinate
    text and shared ISO-8601 times (UTC session), then parse BACK through
    the regexp pipeline; the output carries the byte-exact <trk> string
    (hash-gated against DuckDB's independent string_agg construction) plus
    vertex count and order-free coordinate/time checksums computed FROM THE
    PARSED values — a writer bug breaks the gpx hash, a parser bug breaks
    the checksums.  Completes the track-format family: GeoJSON ⋄ polyline ⋄
    MVT ⋄ GPX.  One shuffle to assemble, map-only parse."""
    from osmgraft.functions.gpx import gpx_trk, gpx_trkpt, parse_gpx_trkpts
    from osmgraft.synth import latlon_of_key

    o = ensure_min_parallelism(read_fixture(spark, sf_dir, "orders"))
    lat, lon = latlon_of_key(F.col("o_orderkey"))
    pts = o.select(
        (F.col("o_custkey") % 199).alias("ent"),
        F.col("o_orderkey").alias("seq"),
        gpx_trkpt(lat, lon, F.lit(1_500_000_000) + F.col("o_orderkey") % 2_592_000).alias("p"),
    )
    tracks = pts.groupBy("ent").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("seq").alias("seq"), F.col("p").alias("p")))
                ),
                lambda e: e["p"],
            ),
            "",
        ).alias("body")
    ).select(
        "ent",
        gpx_trk(F.concat(F.lit("ent"), F.col("ent").cast("string")), F.col("body")).alias("gpx"),
    )
    # 199 ~70KB track strings coalesce to ONE AQE partition after the
    # assembly agg, which would serialize the regex parse
    parsed = parse_gpx_trkpts(ensure_min_parallelism(tracks), "gpx")
    return parsed.groupBy("ent", "gpx").agg(
        F.count(F.lit(1)).cast("long").alias("n_vertices"),
        F.sum(2 * F.col("lon7").cast("long") + F.col("lat7").cast("long"))
        .cast("long")
        .alias("coord_ck"),
        F.sum("epoch").cast("long").alias("ts_ck"),
    ).select("ent", "gpx", "n_vertices", "coord_ck", "ts_ck")


# --- route relation assembly (linear twin of multipolygon) -------------------------
@register(
    "route_assembly",
    """WITH idxs AS (SELECT row_number() OVER () - 1 AS r FROM orders),
routes AS (SELECT r, 4 + r % 5 AS m FROM idxs WHERE r < 300),
good AS (SELECT r AS route_id, p.range AS pos,
                r * 100 + (p.range * 7919) % (4 + r % 5) AS way_id,
                TRUE AS complete
         FROM routes, range(0, 8) p WHERE p.range < m AND r % 50 <> 49),
bad AS (SELECT r AS route_id, -1 AS pos, -1 AS way_id, FALSE AS complete
        FROM routes WHERE r % 50 = 49)
SELECT CAST(route_id AS BIGINT) AS route_id, CAST(pos AS BIGINT) AS pos,
       CAST(way_id AS BIGINT) AS way_id, complete FROM good
UNION ALL
SELECT CAST(route_id AS BIGINT), CAST(pos AS BIGINT), CAST(way_id AS BIGINT),
       complete FROM bad""",
)
def route_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OSM route-relation assembly (operators/multipolygon.chain_route_ways
    — the LINEAR twin of assemble_multipolygons): member ways arrive as
    unordered directed segments and the traversal order is recovered purely
    from endpoint connectivity (unique head → successor-map walk).  The
    fixture scrambles way ids with a ×7919 position permutation so id order
    carries NO signal, and every 50th route gets a branching extra member —
    those must be FLAGGED incomplete, not silently truncated.  The oracle
    writes down the intended order closed-form (spec-as-oracle): any
    chaining, start-detection, or malformed-route-handling bug breaks the
    hash.

    100 TB shape: one groups-by-route shuffle; chains are relation-sized
    (≤8 here, tens in OSM), so route COUNT carries scale, not route size."""
    from osmgraft.operators.multipolygon import chain_route_ways

    n = min(read_fixture(spark, sf_dir, "orders").count(), 300)
    base = ensure_min_parallelism(
        spark.range(n).select(F.col("id").alias("r"))
    )
    mem = base.select(
        "r", F.explode(F.sequence(F.lit(0), F.lit(3) + F.col("r") % 5)).alias("p")
    )
    members = mem.select(
        F.col("r").alias("route_id"),
        (F.col("r") * 100 + (F.col("p") * 7919) % (4 + F.col("r") % 5)).alias("way_id"),
        (F.col("r") * 1000 + F.col("p")).alias("ax"),
        ((F.col("r") * 7 + F.col("p") * 13) % 1000).alias("ay"),
        (F.col("r") * 1000 + F.col("p") + 1).alias("bx"),
        ((F.col("r") * 7 + (F.col("p") + 1) * 13) % 1000).alias("by"),
    )
    branch = base.filter(F.col("r") % 50 == 49).select(
        F.col("r").alias("route_id"),
        (F.col("r") * 100 + 99).alias("way_id"),
        (F.col("r") * 1000).alias("ax"),
        ((F.col("r") * 7) % 1000).alias("ay"),
        (F.col("r") * 1000 + 500).alias("bx"),
        F.lit(0).cast("long").alias("by"),
    )
    return chain_route_ways(members.unionByName(branch))


# --- local join-count spatial statistic ---------------------------------------------
def _sql_local_jc() -> str:
    from osmgraft.operators.density import sql_local_join_counts

    return (
        f"WITH pts AS ({_PTS}), outer_q AS (\n"
        f"{sql_local_join_counts(_sql_cells(8))}\n) SELECT * FROM outer_q"
    )


@register("local_join_counts_z8", _sql_local_jc())
def local_join_counts_z8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell LOCAL join-count statistic over the observed z8 cells
    (operators/density.local_join_counts): hot = exact cross-multiplied
    above-mean mark, jc = jointly-hot rook neighbors — the local-indicator
    companion that tells hot CLUSTERS from isolated spikes, which the
    global Moran's I (morans_i_z8, same cells, same rook adjacency) cannot.
    Same two shifted equi-joins as Moran's (no OR nested-loop), both
    orientations replayed; zero IEEE anywhere."""
    from osmgraft.operators.density import local_join_counts

    return local_join_counts(_cells_df(spark, sf_dir, 8))


def _sql_gi_star() -> str:
    from osmgraft.operators.density import sql_getis_ord_gi_star

    return f"WITH pts AS ({_PTS}), outer_q AS (\n{sql_getis_ord_gi_star(_sql_cells(8))}\n) SELECT * FROM outer_q"


@register("getis_ord_hot_z8", _sql_gi_star())
def getis_ord_hot_z8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Getis–Ord Gi* hot/cold-spot z-classification per z8 cell (operators/
    density.getis_ord_gi_star) — the LEVEL-detecting z-score member of the
    ESDA family (Moran's I global, local join counts, Mann–Kendall trend).
    |z| ≥ 2 decided exactly by the cross-multiplied inequality
    A²(n−1) ≥ 4(nT2−T1²)(nW−W²) in DECIMAL(38) (HUGEINT twin) — no sqrt,
    no IEEE, bitwise at any parallelism.  One offset-explode + regroup
    (no OR-join), one equi-join, one broadcast stats row."""
    from osmgraft.operators.density import getis_ord_gi_star

    return getis_ord_gi_star(_cells_df(spark, sf_dir, 8))


def _sql_local_moran() -> str:
    from osmgraft.operators.density import sql_local_moran_quadrants

    return (
        f"WITH pts AS ({_PTS}),\n"
        + sql_local_moran_quadrants(_sql_cells(8))
        + "\nSELECT cx, cy, v, d, lag_sum, n_nbrs, ii_num, quadrant FROM lm"
    )


@register("local_moran_z8", _sql_local_moran())
def local_moran_z8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local Moran's I quadrants per z8 cell (operators/density.
    local_moran_quadrants, Anselin 1995) — the LISA cluster/outlier map
    completing the ESDA suite: HH/LL clusters and HL/LH spatial
    outliers from the exact integer deviation d_i = n·x_i − s and its
    rook lag, with ii_num = d_i·L_i riding along.  No variance
    normalization (it can't move a quadrant); significance screening is
    getis_ord_hot_z8's job.

    100 TB: broadcast stats row + 4-offset explode equi-join regroup
    (the local_join_counts shape) + one agg — no OR-join, no cross."""
    from osmgraft.operators.density import local_moran_quadrants

    return local_moran_quadrants(_cells_df(spark, sf_dir, 8))


def _sql_bivariate_moran() -> str:
    from osmgraft.operators.density import sql_bivariate_moran_quadrants
    from osmgraft.synth import sql_latlon_of_key

    lat, lon = sql_latlon_of_key("event_id")
    ev_cells = f"""SELECT {tiles.sql_tile_x(f'({lon})', 8)} AS cx,
         {tiles.sql_tile_y(f'({lat})', 8)} AS cy, count(*) AS cnt
  FROM events GROUP BY 1, 2"""
    return (
        f"WITH pts AS ({_PTS}),\n"
        + sql_bivariate_moran_quadrants(ev_cells, _sql_cells(8))
        + "\nSELECT cx, cy, a, b, da, lag_b, n_nbrs, ii_num, quadrant FROM bm"
    )


@register("bivariate_moran_z8", _sql_bivariate_moran())
def bivariate_moran_z8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate local Moran quadrants per z8 cell (operators/density.
    bivariate_moran_quadrants, Anselin et al. 2002 — GeoDa's bivariate
    LISA): event density at a cell against POINT density in its rook
    neighborhood, over the zero-filled union of observed cells —
    HH/LL = the two layers co-locate, HL/LH = inverse, the two-layer
    question univariate LISA can't ask.  Exact integer deviations and
    lags; ii_num = dA·lagB rides along.

    100 TB: one outer-join union + broadcast stats + the 4-offset
    explode equi-join regroup."""
    from osmgraft.operators.density import bivariate_moran_quadrants
    from osmgraft.synth import latlon_of_key

    ev = ensure_min_parallelism(read_fixture(spark, sf_dir, "events"))
    lat, lon = latlon_of_key(F.col("event_id"))
    ev_cells = (
        ev.select(
            tiles.tile_x(lon, 8).alias("cx"), tiles.tile_y(lat, 8).alias("cy")
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return bivariate_moran_quadrants(ev_cells, _cells_df(spark, sf_dir, 8))


# --- geofence enter/exit transitions -------------------------------------------------
@register(
    "geofence_transitions",
    f"""WITH pts AS ({_PTS}),
{sql_pip_predicate(ADMIN_BOUNDARIES)},
sig AS (SELECT p.point_id,
               coalesce(string_agg(CAST(pip.boundary_id AS VARCHAR), ','
                                   ORDER BY pip.boundary_id), '') AS zones
        FROM pts p LEFT JOIN pip USING (point_id) GROUP BY p.point_id),
seq AS (SELECT o.o_custkey AS uid, s.point_id, s.zones,
               lag(s.zones) OVER (PARTITION BY o.o_custkey
                                  ORDER BY s.point_id) AS prev_zones
        FROM sig s JOIN orders o ON o.o_orderkey = s.point_id)
SELECT uid, point_id, prev_zones, zones FROM seq
WHERE prev_zones IS NOT NULL AND prev_zones <> zones""",
)
def geofence_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geofence ENTER/EXIT detection — the flagship PIP join married to
    sequence analytics: every point gets a canonical containment SIGNATURE
    (numerically-sorted boundary-id list; '' = outside everything, so
    partial overlaps and multi-zone membership all transition correctly),
    and each entity's consecutive-point signature changes are emitted with
    both sides — the alert stream a fleet/safety pipeline derives from raw
    pings.  Signature building is one group-by over the PIP output; the
    transition scan is one lag window per entity; zero floats (the PIP
    kernel's crossing rule is the gate-shared one).

    100 TB shape: broadcast STR-tree PIP (zero point-side shuffle) → one
    hash agg → one window on (entity, seq) — three exchanges total,
    entity-bounded windows."""
    from osmgraft.operators.pip import pip_join
    from osmgraft.synth import ADMIN_BOUNDARIES as _AB
    from osmgraft.synth import points_from_orders
    from pyspark.sql import Window as W

    pts = points_from_orders(spark, sf_dir)
    hits = pip_join(pts, _AB, how="inner").select(
        "point_id", "boundary_id"
    )
    sig = (
        pts.select("point_id")
        .join(hits, "point_id", "left")
        .groupBy("point_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_compact(F.sort_array(F.collect_list("boundary_id"))),
                    lambda b: b.cast("string"),
                ),
                ",",
            ).alias("zones")
        )
    )
    o = read_fixture(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("point_id"), F.col("o_custkey").alias("uid")
    )
    w = W.partitionBy("uid").orderBy("point_id")
    seq = sig.join(o, "point_id").withColumn("prev_zones", F.lag("zones").over(w))
    return seq.filter(
        F.col("prev_zones").isNotNull() & (F.col("prev_zones") != F.col("zones"))
    ).select("uid", "point_id", "prev_zones", "zones")


# --- geofence dwell statistics (gaps-and-islands over containment runs) --------------
@register(
    "geofence_dwell",
    f"""WITH pts AS ({_PTS}),
{sql_pip_predicate(ADMIN_BOUNDARIES)},
sig AS (SELECT p.point_id,
               coalesce(string_agg(CAST(pip.boundary_id AS VARCHAR), ','
                                   ORDER BY pip.boundary_id), '') AS zones
        FROM pts p LEFT JOIN pip USING (point_id) GROUP BY p.point_id),
seq AS (SELECT o.o_custkey AS uid, s.point_id, s.zones,
               date_diff('day', DATE '1995-01-01',
                         CAST(o.o_orderdate AS DATE)) AS day,
               row_number() OVER (PARTITION BY o.o_custkey
                                  ORDER BY s.point_id)
               - row_number() OVER (PARTITION BY o.o_custkey, s.zones
                                    ORDER BY s.point_id) AS grp
        FROM sig s JOIN orders o ON o.o_orderkey = s.point_id),
visits AS (SELECT uid, zones, grp,
                  CAST(count(*) AS BIGINT) AS n_pings,
                  CAST(max(day) - min(day) AS BIGINT) AS span_days
           FROM seq GROUP BY 1, 2, 3)
SELECT uid, zones,
       CAST(count(*) AS BIGINT) AS n_visits,
       CAST(sum(n_pings) AS BIGINT) AS n_pings,
       CAST(max(n_pings) AS BIGINT) AS max_visit_pings,
       CAST(sum(span_days) AS BIGINT) AS sum_span_days
FROM visits GROUP BY 1, 2""",
)
def geofence_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geofence DWELL statistics — the sibling of geofence_transitions
    that answers "how long do entities stay", via the classic
    gaps-and-islands run decomposition (row_number difference) over each
    entity's containment-signature sequence: a VISIT is a maximal run of
    equal zone signature, and per (uid, zones) the visit count, total
    pings, longest visit and summed day spans are emitted.  Day spans
    are exact integer epoch-day differences (engine-neutral), the
    signature is the canonical sorted boundary-id list, and every
    aggregate is integer — one hash covers PIP, the signature agg, both
    window row_numbers and the two-level rollup.

    100 TB: broadcast STR-tree PIP (zero point-side shuffle) → hash agg
    → two windows on the same (uid, point_id) sort (ONE exchange — the
    partitionBy prefix is shared) → two map-side-combinable aggs."""
    from pyspark.sql import Window as W

    from osmgraft.operators.pip import pip_join
    from osmgraft.synth import ADMIN_BOUNDARIES as _AB

    pts = points_from_orders(spark, sf_dir)
    hits = pip_join(pts, _AB, how="inner").select(
        "point_id", "boundary_id"
    )
    sig = (
        pts.select("point_id")
        .join(hits, "point_id", "left")
        .groupBy("point_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_compact(F.sort_array(F.collect_list("boundary_id"))),
                    lambda b: b.cast("string"),
                ),
                ",",
            ).alias("zones")
        )
    )
    o = read_fixture(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("point_id"),
        F.col("o_custkey").alias("uid"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        )
        .cast("long")
        .alias("day"),
    )
    w1 = W.partitionBy("uid").orderBy("point_id")
    w2 = W.partitionBy("uid", "zones").orderBy("point_id")
    seq = (
        sig.join(o, "point_id")
        .withColumn("grp", F.row_number().over(w1) - F.row_number().over(w2))
    )
    visits = seq.groupBy("uid", "zones", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_pings"),
        (F.max("day") - F.min("day")).cast("long").alias("span_days"),
    )
    return visits.groupBy("uid", "zones").agg(
        F.count(F.lit(1)).cast("long").alias("n_visits"),
        F.sum("n_pings").cast("long").alias("n_pings"),
        F.max("n_pings").cast("long").alias("max_visit_pings"),
        F.sum("span_days").cast("long").alias("sum_span_days"),
    )


# --- track sinuosity ------------------------------------------------------------------
def _sql_sinuosity() -> str:
    from osmgraft.geom import sql_haversine_m_int

    seg = sql_haversine_m_int("pa.lat7", "pa.lon7", "pb.lat7", "pb.lon7")
    direct = sql_haversine_m_int("f.lat7", "f.lon7", "l.lat7", "l.lon7")
    return f"""WITH pts AS ({_PTS}),
sn_seq AS (
  SELECT o.o_custkey AS uid, p.point_id, p.lat7, p.lon7,
         lead(p.point_id) OVER (PARTITION BY o.o_custkey
                                ORDER BY p.point_id) AS nxt,
         row_number() OVER (PARTITION BY o.o_custkey
                            ORDER BY p.point_id) AS rn,
         count(*) OVER (PARTITION BY o.o_custkey) AS n_pts,
         min(p.point_id) OVER (PARTITION BY o.o_custkey) AS first_id,
         max(p.point_id) OVER (PARTITION BY o.o_custkey) AS last_id
  FROM pts p JOIN orders o ON o.o_orderkey = p.point_id),
sn_path AS (
  SELECT a.uid, CAST(sum({seg}) AS BIGINT) AS path_m
  FROM sn_seq a
  JOIN pts pa ON pa.point_id = a.point_id
  JOIN pts pb ON pb.point_id = a.nxt
  WHERE a.nxt IS NOT NULL
  GROUP BY 1),
sn_ends AS (
  SELECT DISTINCT uid, CAST(n_pts AS BIGINT) AS n_pts, first_id, last_id
  FROM sn_seq),
sn_d AS (
  SELECT e.uid, e.n_pts,
         COALESCE(p.path_m, 0) AS path_m,
         CAST({direct} AS BIGINT) AS direct_m
  FROM sn_ends e
  LEFT JOIN sn_path p ON p.uid = e.uid
  JOIN pts f ON f.point_id = e.first_id
  JOIN pts l ON l.point_id = e.last_id)
SELECT uid, n_pts, path_m, direct_m,
       CASE WHEN n_pts < 2 THEN 'degenerate'
            WHEN direct_m = 0 THEN 'loop'
            WHEN 5 * path_m <= 6 * direct_m THEN 'straight'
            WHEN path_m >= 2 * direct_m THEN 'winding'
            ELSE 'curved' END AS sin_class
FROM sn_d"""


@register("track_sinuosity", _sql_sinuosity())
def track_sinuosity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sinuosity index per entity track (Leopold & Wolman 1957's channel
    sinuosity, the GPS-track tortuosity measure): geodesic path length
    (integer-meter per-segment haversine — associative sums, the
    way_lengths_geodesic discipline) against the straight-line geodesic
    between the track's endpoints, carried as the exact rational
    path_m/direct_m with cross-multiplied classes (straight ≤ 1.2,
    winding ≥ 2, loop on coincident endpoints, degenerate below 2
    points).

    100 TB: one window sort per entity (lead + ends share ONE
    exchange), one map-side-combinable path sum, two point lookups."""
    from pyspark.sql import Window as W

    from osmgraft.geom import haversine_m_col

    pts = points_from_orders(spark, sf_dir)
    o = read_fixture(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("point_id"), F.col("o_custkey").alias("uid")
    )
    w = W.partitionBy("uid").orderBy("point_id")
    seq = pts.join(o, "point_id").select(
        "uid",
        "point_id",
        "lat7",
        "lon7",
        F.lead("lat7").over(w).alias("nlat"),
        F.lead("lon7").over(w).alias("nlon"),
        F.count(F.lit(1)).over(W.partitionBy("uid")).alias("n_pts"),
        F.min_by(F.struct("lat7", "lon7"), F.col("point_id"))
        .over(W.partitionBy("uid"))
        .alias("fp"),
        F.max_by(F.struct("lat7", "lon7"), F.col("point_id"))
        .over(W.partitionBy("uid"))
        .alias("lp"),
    )
    seg = F.when(
        F.col("nlat").isNotNull(),
        haversine_m_col(F.col("lat7"), F.col("lon7"), F.col("nlat"), F.col("nlon")),
    ).otherwise(F.lit(0).cast("long"))
    agg = seq.groupBy("uid").agg(
        F.first("n_pts").cast("long").alias("n_pts"),
        F.sum(seg).cast("long").alias("path_m"),
        F.first(
            haversine_m_col(
                F.col("fp.lat7"), F.col("fp.lon7"), F.col("lp.lat7"), F.col("lp.lon7")
            )
        )
        .cast("long")
        .alias("direct_m"),
    )
    cls = (
        F.when(F.col("n_pts") < 2, "degenerate")
        .when(F.col("direct_m") == 0, "loop")
        .when(5 * F.col("path_m") <= 6 * F.col("direct_m"), "straight")
        .when(F.col("path_m") >= 2 * F.col("direct_m"), "winding")
        .otherwise("curved")
    )
    return agg.select("uid", "n_pts", "path_m", "direct_m", cls.alias("sin_class"))


# --- per-boundary emerging-trend composition -----------------------------------------
def _sql_boundary_trend() -> str:
    from osmgraft.operators.stats import sql_mann_kendall

    counts = """SELECT pip.boundary_id,
         CAST(floor(epoch(o.o_orderdate)) AS BIGINT) // 86400 AS day,
         count(*) AS cnt
  FROM pip JOIN orders o ON o.o_orderkey = pip.point_id
  GROUP BY 1, 2"""
    return (
        f"WITH pts AS ({_PTS}),\n"
        + sql_pip_predicate(ADMIN_BOUNDARIES)
        + ",\n"
        + sql_mann_kendall(counts, ["boundary_id"], "day", "cnt")
        + "\nSELECT boundary_id, n_days, s_stat, trend FROM mk"
    )


@register("boundary_trend_mk", _sql_boundary_trend())
def boundary_trend_mk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-boundary emerging trend — the north-star composition run END TO
    END on one hash: broadcast STR-tree PIP containment → per-(boundary,
    epoch-day) counts → exact integer Mann–Kendall S with the
    cross-multiplied significance class (rising/falling/flat at z ≈ 2).
    The admin-area sibling of tile_trend_mk_z5: "which districts are
    heating up", the question a fleet/ads/safety pipeline actually asks
    of the flagship join's output.

    100 TB: PIP adds no point-side shuffle; the i<j pair join runs on
    the per-(boundary, day) AGGREGATE (≤ days² pairs per boundary)."""
    from osmgraft.operators.pip import pip_join
    from osmgraft.operators.stats import mann_kendall
    from osmgraft.synth import ADMIN_BOUNDARIES as _AB

    pts = points_from_orders(spark, sf_dir)
    hits = pip_join(pts, _AB, how="inner").select(
        "point_id", "boundary_id"
    )
    o = read_fixture(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("point_id"),
        F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("long").alias("day"),
    )
    counts = (
        hits.join(o, "point_id")
        .groupBy("boundary_id", "day")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return mann_kendall(counts, ["boundary_id"], "day", "cnt")


# --- Open Location Code (Plus Codes) --------------------------------------------------
def _sql_olc() -> str:
    from osmgraft.functions.olc import sql_olc, sql_olc_parse_sw

    sw_lat, sw_lon = sql_olc_parse_sw("olc")
    return (
        f"WITH pts AS ({_PTS}),\n"
        f"enc AS (SELECT point_id, {sql_olc('lat7', 'lon7')} AS olc FROM pts)\n"
        f"SELECT point_id, olc, {sw_lat} AS sw_lat7, {sw_lon} AS sw_lon7 FROM enc"
    )


@register("olc_codes", _sql_olc())
def olc_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open Location Code (Google Plus Codes, public spec) per point — the
    SEVENTH cell-index family member (slippy ⋄ S2 ⋄ H3 ⋄ grid ⋄ geohash ⋄
    quadkey ⋄ OLC).  The finest pair of a 10-digit code is 0.000125° =
    exactly 1250 E7 units, so encode is pure integer digit extraction on
    the osmio fixed-point coordinates (lib.rs:66-91) — whole-stage codegen,
    no UDF — and the emitted STRING is then re-PARSED (instr over the
    base-20 alphabet) back to the cell's SW corner, putting encoder and
    parser on the hash.  Published vector 47.365590,8.524997 →
    8FVC9G8F+6X pinned in tests/test_olc.py with a Fraction-exact
    from-spec reference (float references mis-bin exact cell-boundary
    points; the integer kernel is the authoritative one).

    100 TB shape: map-only projection — no shuffle at any width."""
    from osmgraft.functions.olc import olc_col, olc_parse_sw_exprs

    pts = points_from_orders(spark, sf_dir)
    enc = pts.select(
        "point_id", olc_col(F.col("lat7"), F.col("lon7")).alias("olc")
    )
    sw_lat, sw_lon = olc_parse_sw_exprs("olc")
    return enc.select(
        "point_id", "olc", sw_lat.alias("sw_lat7"), sw_lon.alias("sw_lon7")
    )


# --- seam carving min-energy DP --------------------------------------------------------
def _seam_sql() -> str:
    from osmgraft.operators.multimodal import sql_image_seam_energy

    idx_cte = (
        "SELECT idx FROM (SELECT row_number() OVER () - 1 AS idx FROM orders) "
        "WHERE idx < 400"
    )
    return sql_image_seam_energy(idx_cte)


@register("image_seam_energy", _seam_sql())
def image_seam_energy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seam carving's minimum-energy vertical seam (Avidan & Shamir 2007,
    operators/multimodal.image_seam_energy): real container decode →
    integer central-diff energy → row-by-row DP with the x-1..x+1
    transition rule → cheapest bottom cell + its column (smallest-x ties).
    The DuckDB twin replays the SAME DP as a RECURSIVE CTE whose state is
    each image's dp row carried as a list — a dynamic program on the
    cross-engine hash, not just a projection.  The first genuinely
    SEQUENTIAL per-image algorithm in the image suite (everything row y
    needs is row y-1), vectorized across the whole decoded stack so the
    sequentiality costs h-2 numpy sweeps, not per-image Python.

    100 TB shape: map-only mapInArrow — no shuffle at any corpus width."""
    from osmgraft.operators.multimodal import image_seam_energy
    from osmgraft.synth import synth_formula_images

    n = min(read_fixture(spark, sf_dir, "orders").count(), 400)
    imgs = ensure_min_parallelism(synth_formula_images(spark, n))
    return image_seam_energy(imgs)


def _bilinear_sql() -> str:
    from osmgraft.operators.multimodal import sql_image_bilinear_up2x

    idx_cte = (
        "SELECT idx FROM (SELECT row_number() OVER () - 1 AS idx FROM orders) "
        "WHERE idx < 400"
    )
    return sql_image_bilinear_up2x(idx_cte)


@register("image_bilinear_up2x", _bilinear_sql())
def image_bilinear_up2x_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 2× bilinear upsample (operators/multimodal.image_bilinear_up2x):
    real container decode → align-corners interpolation in ×4 integer units
    (weights 1, 1/2, 1/4 never touch IEEE) → per-image exact moments with a
    positional checksum that pins the whole output lattice.  The DuckDB
    twin replays the interpolation RELATIONALLY over the closed-form
    pixels (one row per output sample, parity CASE for the four weight
    patterns).  The resize leg of the augmentation suite
    (image_augment_identity ⋄ image_patches ⋄ this).  100 TB: map-only."""
    from osmgraft.operators.multimodal import image_bilinear_up2x
    from osmgraft.synth import synth_formula_images

    n = min(read_fixture(spark, sf_dir, "orders").count(), 400)
    imgs = ensure_min_parallelism(synth_formula_images(spark, n))
    return image_bilinear_up2x(imgs)


def _canny_sql() -> str:
    from osmgraft.operators.multimodal import sql_image_canny_nms

    idx_cte = (
        "SELECT idx FROM (SELECT row_number() OVER () - 1 AS idx FROM orders) "
        "WHERE idx < 400"
    )
    return sql_image_canny_nms(idx_cte)


@register("image_canny_nms", _canny_sql())
def image_canny_nms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canny stages 1-2 (operators/multimodal.image_canny_nms): real decode
    → integer central-diff gradients → magnitude threshold → non-maximum
    suppression along the octant-quantized gradient axis (the shared
    movement-rose sector rule folded mod 4).  Per-image edge count + a
    positional checksum pinning the exact surviving-pixel SET.  The DuckDB
    twin evaluates mag² at the center and all 8 neighbors in closed form —
    decode, stencil, sector rule and the NMS comparisons all on one hash.
    Completes the edge chain: gradient_rose → NMS edges → cc_blobs.
    100 TB: map-only."""
    from osmgraft.operators.multimodal import image_canny_nms
    from osmgraft.synth import synth_formula_images

    n = min(read_fixture(spark, sf_dir, "orders").count(), 400)
    imgs = ensure_min_parallelism(synth_formula_images(spark, n))
    return image_canny_nms(imgs)


def _moments_sql() -> str:
    from osmgraft.operators.multimodal import sql_image_central_moments

    idx_cte = (
        "SELECT idx FROM (SELECT row_number() OVER () - 1 AS idx FROM orders) "
        "WHERE idx < 400"
    )
    return sql_image_central_moments(idx_cte)


@register("image_central_moments", _moments_sql())
def image_central_moments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intensity-weighted image moments (operators/multimodal.
    image_central_moments, Hu 1962 lineage): real decode → exact raw luma
    moments → M00-scaled central moments c20/c02/c11 (the centroid division
    never taken) — the per-image second-order shape signature (principal
    axis, eccentricity) in pure integers.  Twin aggregates the closed-form
    luma relationally and applies the same algebra.  100 TB: map-only."""
    from osmgraft.operators.multimodal import image_central_moments
    from osmgraft.synth import synth_formula_images

    n = min(read_fixture(spark, sf_dir, "orders").count(), 400)
    imgs = ensure_min_parallelism(synth_formula_images(spark, n))
    return image_central_moments(imgs)


def _haar_sql() -> str:
    from osmgraft.operators.multimodal import sql_image_haar_energies

    idx_cte = (
        "SELECT idx FROM (SELECT row_number() OVER () - 1 AS idx FROM orders) "
        "WHERE idx < 400"
    )
    return sql_image_haar_energies(idx_cte)


@register("image_haar_energies", _haar_sql())
def image_haar_energies_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level exact Haar subband energies (operators/multimodal.
    image_haar_energies): real decode → unnormalized integer lifting →
    Σc² per detail band + LL2 mass — the multi-resolution blur/quality
    signature (the pHash block-DCT's orthogonal sibling).  Twin assembles
    every coefficient in closed form (level 2 from 16 pixels each).
    100 TB: map-only."""
    from osmgraft.operators.multimodal import image_haar_energies
    from osmgraft.synth import synth_formula_images

    n = min(read_fixture(spark, sf_dir, "orders").count(), 400)
    imgs = ensure_min_parallelism(synth_formula_images(spark, n))
    return image_haar_energies(imgs)


def _fast9_sql() -> str:
    from osmgraft.operators.multimodal import sql_image_fast9_corners

    idx_cte = (
        "SELECT idx FROM (SELECT row_number() OVER () - 1 AS idx FROM orders) "
        "WHERE idx < 400"
    )
    return sql_image_fast9_corners(idx_cte, t=8)


@register("image_fast9_corners", _fast9_sql())
def image_fast9_corners_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAST-9 segment-test corners (operators/multimodal.
    image_fast9_corners, Rosten & Drummond 2006 — ORB's detector): real
    decode → 16 Bresenham-circle comparisons packed into bit masks → the
    ≥9-cyclic-run test as a 9-rotation AND (pure bit algebra, identical
    in SQL).  Per-image corner count + positional checksum.  Pairs with
    image_harris_corner as the detector family's second member.
    100 TB: map-only."""
    from osmgraft.operators.multimodal import image_fast9_corners
    from osmgraft.synth import synth_formula_images

    n = min(read_fixture(spark, sf_dir, "orders").count(), 400)
    imgs = ensure_min_parallelism(synth_formula_images(spark, n))
    return image_fast9_corners(imgs, t=8)


def _pitch_sql() -> str:
    from osmgraft.operators.multimodal import sql_audio_pitch_lags

    idx_cte = (
        "SELECT idx FROM (SELECT row_number() OVER () - 1 AS idx FROM orders) "
        "WHERE idx < 200"
    )
    return sql_audio_pitch_lags(idx_cte)


@register("audio_pitch_lags", _pitch_sql())
def audio_pitch_lags_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation pitch-lag tracking (operators/multimodal.
    audio_pitch_lags): real RIFF/PCM16 decode → fixed-term-count ACF per
    window → packed-key argmax (ties to the smallest lag).  The twin runs
    the FULL relational lag search over the closed-form PCM.  Completes
    the audio chain: energy → DFT bins → active segments → landmarks →
    pitch.  100 TB: map-only."""
    from osmgraft.operators.multimodal import audio_pitch_lags
    from osmgraft.synth import synth_audio

    n = min(read_fixture(spark, sf_dir, "orders").count(), 200)
    auds = ensure_min_parallelism(synth_audio(spark, n))
    return audio_pitch_lags(auds)


def _zcr_sql() -> str:
    from osmgraft.operators.multimodal import sql_audio_zcr_windows

    idx_cte = (
        "SELECT idx FROM (SELECT row_number() OVER () - 1 AS idx FROM orders) "
        "WHERE idx < 200"
    )
    return sql_audio_zcr_windows(idx_cte)


@register("audio_zcr_windows", _zcr_sql())
def audio_zcr_windows_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-crossing rate + mean magnitude per window (operators/
    multimodal.audio_zcr_windows, Rabiner & Schafer 1978): the classic
    voiced/unvoiced VAD feature pair in exact integers — sign convention
    x ≥ 0 pinned so no tri-state wobble, |x| sums with division left to
    the consumer.  Real RIFF/PCM16 decode engine-side; the twin counts
    transitions relationally over the closed-form PCM.  Completes the
    audio chain: energy → DFT → segments → landmarks → pitch → ZCR.
    100 TB: map-only."""
    from osmgraft.operators.multimodal import audio_zcr_windows
    from osmgraft.synth import synth_audio

    n = min(read_fixture(spark, sf_dir, "orders").count(), 200)
    auds = ensure_min_parallelism(synth_audio(spark, n))
    return audio_zcr_windows(auds)


def _blockme_sql() -> str:
    from osmgraft.operators.multimodal import sql_video_block_motion

    idx_cte = (
        "SELECT idx FROM (SELECT row_number() OVER () - 1 AS idx FROM orders) "
        "WHERE idx < 200"
    )
    return sql_video_block_motion(idx_cte)


@register("video_block_motion", _blockme_sql())
def video_block_motion_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-matching motion estimation (operators/multimodal.
    video_block_motion) — the exhaustive-search ME kernel of every codec:
    real Y4M decode, per 4×4 block the ±2 shift minimizing SAD vs the
    previous frame, ties by the packed (sad, dy, dx) key.  The twin runs
    the FULL relational search (one row per video×frame×block×shift×pixel)
    over the closed-form luma.  Completes the video chain: frame sample →
    scene cuts → temporal sig → motion field.  100 TB: map-only."""
    from osmgraft.operators.multimodal import video_block_motion
    from osmgraft.synth import synth_videos

    n = min(read_fixture(spark, sf_dir, "orders").count(), 200)
    vids = ensure_min_parallelism(synth_videos(spark, n))
    return video_block_motion(vids)


# --- winnowing fingerprints (MOSS) ----------------------------------------------------
def _sql_winnow() -> str:
    from osmgraft.operators.dedup import sql_winnow_fingerprints

    return sql_winnow_fingerprints(k=6, w=4)


@register("winnow_fingerprints", _sql_winnow())
def winnow_fingerprints_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003 — the MOSS
    algorithm, operators/dedup.winnow_fingerprints): min-in-window
    selection over character-6-gram hashes, window 4, distinct selected
    values per doc.  Completes the fingerprint family — rolling-hash
    doc_fingerprint (global), CDC chunks (content-defined boundaries),
    MinHash (set sketch) — with the LOCAL fingerprint that carries the
    guarantee: any shared substring of length >= w+k-1 = 9 yields a shared
    fingerprint (property-tested).  The gate hashes per-doc count AND the
    md5 of the full sorted fingerprint list, so selection, tie handling,
    dedup and ordering are all pinned cross-engine.

    Plan: higher-order array functions only (transform/slice/array_min) —
    whole-stage codegen, map-only, no explode, no shuffle at any width."""
    from osmgraft.operators.dedup import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir), k=6, w=4)


# --- rendezvous (HRW) hashing shard assignment ---------------------------------------
def _sql_hrw() -> str:
    from osmgraft.operators.sharding import sql_hrw_bucket

    return (
        "SELECT o_orderkey AS point_id,\n"
        f"  {sql_hrw_bucket('o_orderkey', 12)}::INTEGER AS b12,\n"
        f"  {sql_hrw_bucket('o_orderkey', 13)}::INTEGER AS b13\n"
        "FROM orders"
    )


@register("hrw_shard_moves", _sql_hrw())
def hrw_shard_moves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous/HRW hashing (Thaler & Ravishankar 1996, operators/
    sharding.py): every key's shard at B=12 AND at B=13, so the gate hash
    carries the consistent-hashing minimal-movement law — a key either
    keeps its bucket or moves to the NEW bucket 12, never sideways
    (asserted in tests; ~1/13 of keys move vs ~12/13 under hash%B).  The
    shard map a resumable pipeline uses so a parallelism change between
    checkpoints relocates the minimum number of partitions.  Argmax is a
    single codegen'd `greatest` over weight*64+b packed ints (no struct
    compare, no UDF, identical text in DuckDB).

    100 TB shape: map-only — no shuffle at any width, B md5s per row."""
    from osmgraft.operators.sharding import hrw_bucket

    o = read_fixture(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return o.select(
        k.alias("point_id"),
        hrw_bucket(k, 12).cast("int").alias("b12"),
        hrw_bucket(k, 13).cast("int").alias("b13"),
    )


# --- PMI collocation extraction ------------------------------------------------------
@register(
    "collocations_pmi",
    f"""WITH t AS (SELECT doc_id, {T.sql_tokens('text')} AS toks FROM documents),
uni AS (SELECT u.w, CAST(count(*) AS BIGINT) AS c
        FROM t, unnest(t.toks) AS u(w) GROUP BY u.w),
n AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM uni),
big AS (SELECT b.bg, CAST(count(*) AS BIGINT) AS c_ab
        FROM t, unnest({T.sql_word_bigrams('t.toks')}) AS b(bg) GROUP BY b.bg),
parts AS (SELECT bg, c_ab, split_part(bg, ' ', 1) AS w1,
                 split_part(bg, ' ', 2) AS w2 FROM big)
SELECT p.w1, p.w2, p.c_ab, a.c AS c_a, b.c AS c_b
FROM parts p JOIN uni a ON a.w = p.w1 JOIN uni b ON b.w = p.w2, n
WHERE p.c_ab >= 2 AND n.total * p.c_ab >= 3 * a.c * b.c""",
)
def collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction by pointwise mutual information (Church &
    Hanks 1990, in exact-integer threshold form): adjacent word pairs whose
    joint count beats 3× the independence expectation — N·c(a,b) ≥
    3·c(a)·c(b), PMI ≥ log₂3 — with a c(a,b) ≥ 2 support floor (thresholds
    calibrated so the synthetic corpus yields a non-empty result at every
    gate SF; an empty gate would pass vacuously).  The
    cross-multiplied inequality needs no logarithm or division, so the
    verdict is bit-exact in both engines (caveat: N·c_ab must fit int64 —
    at trillion-token scale shard N or move to 128-bit, documented here).

    Plan: one token explode → unigram hash agg (map-side combine), one
    bigram explode → hash agg, two equi-joins of the BIGRAM AGGREGATE
    against the unigram AGGREGATE (vocabulary-sized, not corpus-sized),
    broadcast total.  The phrase-mining step of a corpus pipeline."""
    docs = _docs(spark, sf_dir)
    t = docs.withColumn("toks", T.tokens(F.col("text")))
    uni = (
        t.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    total = uni.agg(F.sum("c").cast("long").alias("total"))
    big = (
        t.select(F.explode(T.word_bigrams(F.col("toks"))).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
    )
    parts = big.select(
        "c_ab",
        F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"),
        F.split_part(F.col("bg"), F.lit(" "), F.lit(2)).alias("w2"),
    )
    ua = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b"))
    return (
        parts.join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(total))
        .filter(
            (F.col("c_ab") >= 2)
            & (F.col("total") * F.col("c_ab") >= 3 * F.col("c_a") * F.col("c_b"))
        )
        .select("w1", "w2", "c_ab", "c_a", "c_b")
    )
