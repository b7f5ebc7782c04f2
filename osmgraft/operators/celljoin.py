"""Salted cell equi-join + PIP refine — the north rule's shuffle-join path.

When the polygon side is too big to broadcast (continent-scale admin sets),
the spatial join becomes: index both sides to a cell grid, equi-join on cell
id, then refine candidates with exact ray casting. Dense urban cells make the
cell key skewed, so the join is SALTED EXPLICITLY (SURVEY.md §4 item 1):

  1. per-cell point counts → cells with count > skew_threshold get
     nsalts(cell) = clamp(ceil(count / salt_target), 1, max_salts)
  2. polygon side: each (boundary, cell) row is exploded into nsalts rows
     (salt = 0..nsalts-1)
  3. point side: salt = pmod(xxhash64(point_id), nsalts(cell)) — each point
     lands on exactly one salt shard, so no duplicates and no drops
  4. join on (cell, salt) — skew shards now spread across reducers
  5. refine: vectorized pnpoly on candidate pairs (polygon edges broadcast)

AQE skew-join remains enabled as the backstop; this operator makes the split
deterministic and independent of runtime stats. Property-tested equal to the
broadcast PIP join (tests/test_celljoin.py) and to the DuckDB oracle.
"""

from __future__ import annotations

import logging
import math
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from osmgraft.functions.cells import grid_cell, lon_cells
from osmgraft.geom import pnpoly, pnpoly_pairs, polygon_bbox, polygon_edges

log = logging.getLogger(__name__)


def polygon_cover_cells(poly: dict, cell_size: int) -> list[int]:
    """Grid cells intersecting the polygon bbox (wrapped lon)."""
    ncl = lon_cells(cell_size)
    lat0, lon0, lat1, lon1 = polygon_bbox(poly)
    out = []
    for clat in range(int(lat0 // cell_size), int(lat1 // cell_size) + 1):
        for clon_raw in range(int(lon0 // cell_size), int(lon1 // cell_size) + 1):
            out.append(clat * ncl + (clon_raw % ncl))
    return out


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
    pts = points.withColumn("_cell", grid_cell(F.col(lat_col), F.col(lon_col), cell_size))

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

    # 2. polygon side: (boundary_id, cell) × salts. Tables are built from
    #    Arrow, not Python lists: a list becomes a Python-mapped RDD, which
    #    would add a Python-worker stage to every call.
    rows = []
    for p in polys:
        for cell in set(polygon_cover_cells(p, cell_size)):
            for s in range(nsalts.get(cell, 1)):
                rows.append((p["boundary_id"], cell, s))
    bids, cells, salts = zip(*rows) if rows else ((), (), ())
    poly_cells = spark.createDataFrame(pa.table({
        "boundary_id": pa.array(bids, pa.int64()),
        "_cell": pa.array(cells, pa.int64()),
        "_salt": pa.array(salts, pa.int32()),
    }))
    log.debug(
        "cell_pip_join: hot_cells=%d max_salts=%d poly_cell_rows=%d",
        len(nsalts), max(nsalts.values(), default=1), len(rows),
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

    # 4. shuffle equi-join on (cell, salt). SHUFFLE_HASH hint: without it
    #    Catalyst picks SortMergeJoin, which SORTS the huge point side per
    #    partition — measured 2x slower than hash-building the (tiny)
    #    polygon-cell side at 48M rows with a 75%-hot cell. The point side
    #    still shuffles (that is the operator's contract vs pip_join), but
    #    is never sorted.
    cand = pts.join(poly_cells.hint("shuffle_hash"), ["_cell", "_salt"]).drop(
        "_cell", "_salt"
    )

    # 5. exact refine (vectorized, edges broadcast)
    edges_by_id = {p["boundary_id"]: polygon_edges(p) for p in polys}
    bc = spark.sparkContext.broadcast(edges_by_id)
    out_schema = StructType(
        points.schema.fields + [StructField("boundary_id", LongType(), False)]
    )
    cand = cand.select(*[f.name for f in points.schema.fields], "boundary_id")

    names = [f.name for f in out_schema.fields]
    lat_i, lon_i, bid_i = names.index(lat_col), names.index(lon_col), names.index("boundary_id")

    # mapInArrow: numpy over the Arrow buffers, no pandas round-trip
    def refine(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        edges = bc.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            lat = rb.column(lat_i).to_numpy(zero_copy_only=False)
            lon = rb.column(lon_i).to_numpy(zero_copy_only=False)
            bid = rb.column(bid_i).to_numpy(zero_copy_only=False)
            keep = pnpoly_pairs(lat, lon, bid, edges, pnpoly)
            yield rb.take(pa.array(np.flatnonzero(keep), type=pa.int64()))

    return cand.mapInArrow(refine, schema=out_schema)
