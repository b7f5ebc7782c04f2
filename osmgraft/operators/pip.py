"""Broadcast point-in-polygon join (the flagship spatial join).

Design for 100 TB / 1000 executors: the polygon side (admin boundaries,
~1e5 rings worldwide ≈ tens of MB) is broadcast ONCE — an STR-tree over
polygon bboxes plus packed edge arrays — and each input partition streams
through a ``mapInArrow`` numpy kernel: bbox candidates from the tree, then
vectorized even-odd ray casting per polygon over its candidate points. No
shuffle of the (huge) point side at all; output is pipelined. This mirrors the
reference's "resolve against a side lookup structure" pattern
(osmio nodestore.rs:55-64) lifted to a broadcast hash/rtree join.

Semi/anti variants implement "images inside/outside any boundary"
(SURVEY.md §2.3 J-suite).

The kernel's cost is mostly the JVM↔Python boundary, not the ray cast, so
for inner and semi joins only points that can match cross it: a broadcast
left-semi join in the JVM first keeps the points whose 1° grid cell
(``cells.grid_cell``) meets some polygon bbox. Every point inside a bbox lies
in one of the bbox's cells, so the kernel sees every point it could match and
the result is unchanged. On the benchmark's admin set 64 % of the points (and
of the bytes sent to Python) are dropped before the boundary; where every
point lies inside some bbox the extra join is pure cost (about 0.2 s per 4M
points on 4 cores). The cell table has at most 181 × 360 rows whatever the
polygon count. The anti join keeps one pass over the input: it needs every
point, and splitting it into "outside every cell" ∪ "kernel on the rest"
would evaluate the input twice.
The other fixed cost of the boundary, per-task start-up in the Python worker,
is cut by the worker daemon (``osmgraft._pydaemon``, set by ``get_spark``).
"""

from __future__ import annotations

import logging
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from osmgraft.functions.cells import grid_cell
from osmgraft.geom import STRTree, pnpoly, pnpoly_int, pnpoly_pairs, polygon_bbox, polygon_edges
from osmgraft.operators.celljoin import polygon_cover_cells

log = logging.getLogger(__name__)

PREFILTER_CELL = 10_000_000  # 1° cells for the bbox-cell prefilter


def _prepare(polys: list[dict]):
    bboxes = np.array([polygon_bbox(p) for p in polys], dtype=np.float64).reshape(-1, 4)
    tree = STRTree(bboxes)
    edges = [polygon_edges(p) for p in polys]
    ids = np.array([p["boundary_id"] for p in polys], dtype=np.int64)
    return tree, edges, ids


def pip_join(
    points: DataFrame,
    polys: list[dict],
    how: str = "inner",
    lat_col: str = "lat7",
    lon_col: str = "lon7",
    ensure_parallelism: bool = False,
    refine: str = "raycast",
) -> DataFrame:
    """Join points to containing polygons.

    how='inner'      → point columns + boundary_id (one row per containment)
    how='left_semi'  → points inside ≥1 polygon
    how='left_anti'  → points inside none

    refine='raycast' (default) is the float even-odd kernel; 'parity_int'
    swaps in the division-free exact-integer test (geom.pnpoly_int) — same
    semantics away from float knife edges, gated against the same oracle.

    ensure_parallelism: opt-in round-robin repartition for small local inputs
    (single-file scans); leave False on a real cluster — the scan's splits
    already parallelize and the extra Exchange is pure cost.
    """
    if how not in ("inner", "left_semi", "left_anti"):
        raise ValueError(how)
    if refine not in ("raycast", "parity_int"):
        raise ValueError(refine)
    pip_test = pnpoly if refine == "raycast" else pnpoly_int
    from osmgraft.operators.util import maybe_parallelize

    points = maybe_parallelize(points, ensure_parallelism)
    spark = points.sparkSession
    bc = spark.sparkContext.broadcast(_prepare(polys))

    in_schema = points.schema
    prefilter = how != "left_anti"
    ncells = 0
    if prefilter:
        cells = sorted({c for p in polys for c in polygon_cover_cells(p, PREFILTER_CELL)})
        ncells = len(cells)
        # From Arrow, not a Python list: a list becomes a Python-mapped RDD,
        # which would run a Python stage before the broadcast on every call.
        cell_df = spark.createDataFrame(pa.table({"_pip_cell": pa.array(cells, pa.int64())}))
        # Floored, not cast (which truncates), so that a fractional negative
        # coordinate lands in the cell below, as the bbox cells do; an
        # integral one comes through floor unchanged.
        cell = grid_cell(F.floor(lat_col), F.floor(lon_col), PREFILTER_CELL)
        points = points.join(F.broadcast(cell_df), cell == cell_df["_pip_cell"], "left_semi")
    log.debug(
        "pip_join: how=%s refine=%s prefilter=%s grid=%d cells=%d",
        how, refine, prefilter, PREFILTER_CELL, ncells,
    )
    if how == "inner":
        out_schema = StructType(in_schema.fields + [StructField("boundary_id", LongType(), False)])
    else:
        out_schema = in_schema

    lat_idx = [f.name for f in in_schema.fields].index(lat_col)
    lon_idx = [f.name for f in in_schema.fields].index(lon_col)

    # mapInArrow (not mapInPandas): the kernel is pure numpy over the Arrow
    # buffers — skipping the per-batch Arrow→pandas→Arrow conversion roughly
    # halves python-worker CPU on this hot path.
    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tree, edges, ids = bc.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            lat = rb.column(lat_idx).to_numpy(zero_copy_only=False)
            lon = rb.column(lon_idx).to_numpy(zero_copy_only=False)
            pi, gi = tree.query_point_batch(lat, lon)
            hit = pnpoly_pairs(lat[pi], lon[pi], gi, edges, pip_test)
            all_pi, all_gi = pi[hit], gi[hit]
            if how == "inner":
                taken = rb.take(pa.array(all_pi, type=pa.int64()))
                yield pa.RecordBatch.from_arrays(
                    list(taken.columns) + [pa.array(ids[all_gi], type=pa.int64())],
                    schema=pa.schema(
                        list(taken.schema) + [pa.field("boundary_id", pa.int64(), False)]
                    ),
                )
            elif how == "left_semi":
                yield rb.take(pa.array(np.unique(all_pi), type=pa.int64()))
            else:  # left_anti
                mask = np.ones(rb.num_rows, dtype=bool)
                mask[np.unique(all_pi)] = False
                yield rb.take(pa.array(np.flatnonzero(mask), type=pa.int64()))

    return points.mapInArrow(kernel, schema=out_schema)

