"""Fixed-point coordinate codec — the reference's single most important
fidelity rule (osmio lib.rs:66-71,82-84,124-126,155-182; CHANGELOG.md:76-84).

degrees → fixed-point uses half-away-from-zero rounding (Rust ``f64::round``,
lib.rs:159-164) — NOT banker's rounding. Spark's ``round`` is HALF_UP on
positive and HALF_UP-magnitude on negatives (matches), but to be explicit and
bitwise-stable across engines we use floor(x*1e7 + 0.5) for x>=0 and
ceil(x*1e7 - 0.5) for x<0, which is exactly half-away-from-zero.

All functions exist in three parallel forms that MUST stay in sync:
  * Spark Column expressions (JVM-side, whole-stage-codegen friendly),
  * numpy kernels (for Arrow UDF interiors),
  * ANSI-SQL text (for the DuckDB correctness oracle).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

COORD_SCALE = 10_000_000.0
LAT_MAX7 = 900_000_000
LON_MAX7 = 1_800_000_000  # ±180°: half the longitude span
LON_SPAN = 2 * LON_MAX7  # 360°: longitudes wrap modulo this


# --- Spark Column forms ----------------------------------------------------
def deg_to_fixed(col: Column) -> Column:
    """F2: degrees (double) → fixed-point, half-away-from-zero
    (osmio lib.rs:159-164). Long-typed so out-of-range inputs survive to the
    validity check (osmio errors on them, lib.rs:173-182) instead of tripping
    ANSI int overflow; narrow with .cast('int') after validating."""
    scaled = col * F.lit(COORD_SCALE)
    return (
        F.when(col >= 0, F.floor(scaled + F.lit(0.5)))
        .otherwise(F.ceil(scaled - F.lit(0.5)))
        .cast("long")
    )


def fixed_to_deg(col: Column) -> Column:
    """F1: fixed-point int → degrees double (osmio lib.rs:82-84,124-126)."""
    return col.cast("double") / F.lit(COORD_SCALE)


def valid_lat7(col: Column) -> Column:
    """Range check mirroring osmio's TryFrom<f64> (lib.rs:173-182)."""
    return F.abs(col) <= F.lit(LAT_MAX7)


# --- numpy kernel forms (same rounding, for UDF interiors) -----------------
def np_deg_to_fixed(deg: np.ndarray) -> np.ndarray:
    scaled = deg * COORD_SCALE
    out = np.where(deg >= 0, np.floor(scaled + 0.5), np.ceil(scaled - 0.5))
    return out.astype(np.int64)


def np_fixed_to_deg(fixed: np.ndarray) -> np.ndarray:
    return fixed.astype(np.float64) / COORD_SCALE


# --- SQL-text forms (DuckDB oracle parity) ---------------------------------
def sql_deg_to_fixed(expr: str) -> str:
    return (
        f"CAST(CASE WHEN ({expr}) >= 0 THEN floor(({expr}) * 10000000.0 + 0.5) "
        f"ELSE ceil(({expr}) * 10000000.0 - 0.5) END AS INTEGER)"
    )


def sql_fixed_to_deg(expr: str) -> str:
    return f"(CAST(({expr}) AS DOUBLE) / 10000000.0)"
