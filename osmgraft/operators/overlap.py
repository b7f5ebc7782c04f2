"""Polygon x polygon overlap join via the separating-axis theorem (SAT).

Completes the engine's spatial-join family: point-in-polygon (operators/
pip.py), point-to-segment snapping (operators/snap.py), and now convex
region-overlap pairs — the conflict-detection / coverage-dedup join a
boundary pipeline needs (which admin areas touch? which image footprints
overlap?).

SAT (a classical computational-geometry result): two convex polygons are
disjoint iff some edge normal of either polygon separates their vertex
projections.  For the parametric convex family used here — rhombi
(cx, cy, p, q) with vertices c±(p,0), c±(0,q) — each polygon contributes
exactly two distinct normal directions, (q, p) and (q, -p), and its own
projection radius on them collapses to p*q, so the full exact test for a
pair A, B with d = cB - cA is four integer inequalities:

    |dx*qa + dy*pa| <= pa*qa + max(qa*pb, pa*qb)
    |dx*qa - dy*pa| <= pa*qa + max(qa*pb, pa*qb)
    |dx*qb + dy*pb| <= pb*qb + max(qb*pa, pb*qa)
    |dx*qb - dy*pb| <= pb*qb + max(qb*pa, pb*qa)

Closed-region semantics (touching counts); containment needs no special
case — a contained polygon has no separating axis.  All int64-safe without
guards: |d| < 2^22 and p, q < 2^13 keep every product under 2^36.

Plan shape (100 TB): each rhombus explodes onto the <=4 cells its bbox
covers on a 2*rmax-pitch grid; two overlapping regions share a bbox point,
hence a cell, so the cell equi-join is a provably complete candidate
generator.  SAT refines in whole-stage codegen; distinct() dedupes the
<=4-cell multiplicity.  No cross join, no Python, one shuffle on uniform
cell keys + one pair dedup exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmgraft.functions.cells import floordiv


def sat_formula_sql(
    dx: str, dy: str, pa: str, qa: str, pb: str, qb: str
) -> str:
    """The 4-axis SAT overlap predicate as ONE engine-neutral SQL boolean
    (abs/GREATEST/*/<= only — identical int64 evaluation in Spark and
    DuckDB; both consume this exact text)."""

    def axis(u_q: str, u_p: str, own_p: str, own_q: str, o_p: str, o_q: str) -> str:
        rhs = f"({own_p} * {own_q} + GREATEST({u_q} * {o_p}, {u_p} * {o_q}))"
        return (
            f"abs({dx} * {u_q} + {dy} * {u_p}) <= {rhs} AND "
            f"abs({dx} * {u_q} - {dy} * {u_p}) <= {rhs}"
        )

    return (
        f"({axis(qa, pa, pa, qa, pb, qb)} AND {axis(qb, pb, pb, qb, pa, qa)})"
    )


def rhombus_overlap_pairs(polys: DataFrame, *, rmax: int) -> DataFrame:
    """(poly_id, cx, cy, p, q) -> all unordered pairs (a_id, b_id), a < b,
    whose closed rhombi intersect.  `rmax` bounds p and q (grid pitch and
    int64 safety; coordinates must fit |c| + rmax < 2^21)."""
    g = 2 * rmax

    cells = polys.select(
        "poly_id",
        "cx",
        "cy",
        "p",
        "q",
        F.explode(
            F.sequence(floordiv(F.col("cx") - F.col("p"), g), floordiv(F.col("cx") + F.col("p"), g))
        ).alias("gx"),
    ).select(
        "*",
        F.explode(
            F.sequence(floordiv(F.col("cy") - F.col("q"), g), floordiv(F.col("cy") + F.col("q"), g))
        ).alias("gy"),
    )
    a = cells.select(
        F.col("poly_id").alias("a_id"),
        F.col("cx").alias("ax"),
        F.col("cy").alias("ay"),
        F.col("p").alias("pa"),
        F.col("q").alias("qa"),
        "gx",
        "gy",
    )
    b = cells.select(
        F.col("poly_id").alias("b_id"),
        F.col("cx").alias("bx"),
        F.col("cy").alias("by"),
        F.col("p").alias("pb"),
        F.col("q").alias("qb"),
        "gx",
        "gy",
    )
    sat = F.expr(
        sat_formula_sql("(bx - ax)", "(by - ay)", "pa", "qa", "pb", "qb")
    )
    return (
        a.join(b, ["gx", "gy"])
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(sat)
        .select("a_id", "b_id")
        .distinct()
    )
