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
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StructField, StructType

from osmgraft.geom import STRTree, pnpoly, pnpoly_int, pnpoly_pairs, polygon_bbox, polygon_edges


def _prepare(polys: list[dict]):
    bboxes = np.array([polygon_bbox(p) for p in polys])
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

