"""Salted cell equi-join + PIP refine — the north rule's shuffle-join path.

When the polygon side is too big to broadcast (continent-scale admin sets),
the spatial join becomes: index both sides to a cell grid, equi-join on cell
id, then refine candidates with exact ray casting. Dense urban cells make the
cell key skewed, so the join is SALTED EXPLICITLY (SURVEY.md §4 item 1):

  1. per-cell point counts → cells with count > skew_threshold get
     nsalts(cell) = clamp(ceil(count / salt_target), 1, max_salts)
  2. polygon side: each cover row (step 5) is exploded into nsalts(cell)
     rows (salt = 0..nsalts-1)
  3. point side: salt = pmod(xxhash64(point_id), nsalts(cell)) — each point
     lands on exactly one salt shard, so no duplicates and no drops
  4. join on (cell, salt) — skew shards now spread across reducers
  5. refine in the join: the polygon side is ``pip_join``'s cover keyed at
     ``cell_size`` (``geom.polygon_cover``), and the join condition is its
     exact even-odd test, so no candidate goes to Python

AQE skew-join remains enabled as the backstop; this operator makes the split
deterministic and independent of runtime stats. Property-tested equal to the
broadcast PIP join (tests/test_celljoin.py) and to the DuckDB oracle.
"""

from __future__ import annotations

import logging
import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmgraft.operators.pip import cover_condition, cover_key, cover_point, cover_table

log = logging.getLogger(__name__)


def cell_pip_join(
    points: DataFrame,
    polys: list[dict],
    cell_size: int = 50_000_000,
    skew_threshold: int = 20_000,
    salt_target: int = 10_000,
    max_salts: int = 64,
    lat_col: str = "lat7",
    lon_col: str = "lon7",
) -> DataFrame:
    """Returns point columns + boundary_id (inner semantics, same contract as
    osmgraft.operators.pip.pip_join(how='inner')). The refine runs on the
    join's shuffled partitions, so the partitioning of ``points`` does not
    bound its parallelism."""
    spark = points.sparkSession
    y, x = cover_point(points, lat_col, lon_col, "raycast")
    pts = points.withColumn("_cell", cover_key(y, x, cell_size))

    # 1. explicit skew detection (one cheap pre-pass aggregation)
    hot = {
        r._cell: int(r.cnt)
        for r in pts.groupBy("_cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > skew_threshold)
        .collect()
    }
    nsalts = {
        c: max(1, min(max_salts, math.ceil(cnt / salt_target))) for c, cnt in hot.items()
    }

    # 2. polygon side: the cover rows × salts, from Arrow (not a Python list,
    #    which would add a Python-worker stage to every call)
    table, width, note = cover_table(polys, cell_size, "raycast")
    at = pc.index_in(table["_pip_cell"], value_set=pa.array(list(nsalts), pa.int64()))
    reps = np.append(np.array(list(nsalts.values()), np.int64), 1)[at.fill_null(-1).to_numpy()]
    row = np.repeat(np.arange(table.num_rows), reps)
    salt = np.arange(len(row)) - np.repeat(np.cumsum(reps) - reps, reps)
    table = table.take(pa.array(row)).append_column(
        pa.field("_pip_salt", pa.int32(), False), pa.array(salt, pa.int32())
    )
    cover = spark.createDataFrame(table)
    log.debug(
        "cell_pip_join: hot_cells=%d max_salts=%d salted_rows=%d %s",
        len(nsalts), max(nsalts.values(), default=1), table.num_rows, note,
    )

    # 3. point side salt
    if nsalts:
        salt_map = spark.createDataFrame(pa.table({
            "_cell": pa.array(list(nsalts), pa.int64()),
            "_nsalts": pa.array(list(nsalts.values()), pa.int32()),
        }))
        pts = pts.join(F.broadcast(salt_map), "_cell", "left").withColumn(
            "_salt",
            F.pmod(F.xxhash64(F.col("point_id") if "point_id" in points.columns else F.col(lat_col)),
                   F.coalesce(F.col("_nsalts"), F.lit(1))).cast("int"),
        ).drop("_nsalts")
    else:
        pts = pts.withColumn("_salt", F.lit(0))

    # 4. shuffle equi-join on (cell, salt), 5. refined by its condition.
    #    SHUFFLE_HASH hint: without it Catalyst picks SortMergeJoin, which
    #    SORTS the huge point side per partition — measured 2x slower than
    #    hash-building the (tiny) cover side at 48M rows with a 75%-hot cell.
    #    The point side still shuffles (that is the operator's contract vs
    #    pip_join), but is never sorted.
    cover = cover.hint("shuffle_hash")
    cond = (
        (pts["_cell"] == cover["_pip_cell"])
        & (pts["_salt"] == cover["_pip_salt"])
        & cover_condition(cover, y, x, "raycast", width)
    )
    return pts.join(cover, cond).select(*[pts[c] for c in points.columns], cover["boundary_id"])
