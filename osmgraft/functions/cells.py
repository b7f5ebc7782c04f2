"""Spark-facing cell-indexing kernels (SURVEY.md §2.8 engine-added):
vectorized pandas UDFs wrapping the numpy S2 / H3 kernels, plus the one
implementation of the exact wrapped integer grid (floor division, cell keys,
the wrap-aware metric) that kNN, the salted cell join, DBSCAN, IDW and the
segment/rhombus cell joins share, in JVM Column, Python and DuckDB SQL forms.

All UDFs are Arrow-batched (pandas_udf) — no per-row Python (input_hint).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from osmgraft.functions.coords import LON_SPAN


def s2_cell_udf(level: int = 13):
    from osmgraft.functions.s2 import s2_cell_id

    @F.pandas_udf(LongType())
    def _udf(lat7: pd.Series, lon7: pd.Series) -> pd.Series:
        return pd.Series(s2_cell_id(lat7.to_numpy(), lon7.to_numpy(), level))

    return _udf


def h3_cell_udf(res: int = 7):
    """Uber-H3-compatible cell ids (functions/h3real.py — bit-identical to
    h3.latlng_to_cell)."""
    from osmgraft.functions.h3real import latlng_to_cell

    @F.pandas_udf(LongType())
    def _udf(lat7: pd.Series, lon7: pd.Series) -> pd.Series:
        return pd.Series(latlng_to_cell(lat7.to_numpy(), lon7.to_numpy(), res))

    return _udf


def h3_center_reencode_udf(child_res: int):
    """cell -> latlng_to_cell(cell_to_latlng(cell), child_res): the decode ->
    re-encode roundtrip as one vectorized UDF.  Exercises the full decode
    path (digit replay + cross-face overage hop + inverse gnomonic): any
    center drift beyond the child cell's inradius yields a non-center-child
    id and flips the oracle hash (queries.h3_center_child_r7_r9)."""
    from osmgraft.functions.h3real import cell_to_latlng, latlng_to_cell

    @F.pandas_udf(LongType())
    def _udf(cell: pd.Series) -> pd.Series:
        import numpy as np

        la, lo = cell_to_latlng(cell.to_numpy())
        return pd.Series(latlng_to_cell(
            np.round(la * 1e7).astype(np.int64),
            np.round(lo * 1e7).astype(np.int64),
            child_res,
        ))

    return _udf


# --- the exact wrapped integer grid (JVM Column, Python and DuckDB SQL forms) -
def floordiv(col: Column, g: int) -> Column:
    """Exact floor division by ``g`` (Python's ``//``) as a long Column: the
    dividend minus its non-negative remainder divides exactly. The quotient
    passes through a double, so the dividend must stay below 2^53 in
    magnitude (coordinates and cell keys do)."""
    c = col.cast("long")
    return ((c - F.pmod(c, F.lit(g))) / F.lit(g)).cast("long")


def sql_floordiv(expr: str, g: int) -> str:
    """DuckDB twin of :func:`floordiv` (DuckDB's % truncates, so the
    non-negative remainder is spelled out)."""
    c = f"CAST({expr} AS BIGINT)"
    return f"CAST(({c} - (({c} % {g} + {g}) % {g})) / {g} AS BIGINT)"


def lon_cells(cell_size: int) -> int:
    """Number of lon cells of the grid; lon cells wrap modulo this count."""
    if LON_SPAN % cell_size != 0:
        raise ValueError(f"cell size {cell_size} must divide {LON_SPAN} for wrapped lon cells")
    return LON_SPAN // cell_size


def grid_yx(lat7: Column, lon7: Column, cell_size: int) -> tuple[Column, Column]:
    """(clat, clon) grid-cell columns; clon wraps modulo lon_cells."""
    ncl = lon_cells(cell_size)
    return floordiv(lat7, cell_size), F.pmod(floordiv(lon7, cell_size), F.lit(ncl))


def sql_grid_yx(lat_expr: str, lon_expr: str, cell_size: int) -> tuple[str, str]:
    """DuckDB twin of :func:`grid_yx`."""
    ncl = lon_cells(cell_size)
    clon = sql_floordiv(lon_expr, cell_size)
    return sql_floordiv(lat_expr, cell_size), f"(({clon} % {ncl} + {ncl}) % {ncl})"


def grid_cell(lat7: Column, lon7: Column, cell_size: int) -> Column:
    """Single long cell id clat * lon_cells + clon."""
    clat, clon = grid_yx(lat7, lon7, cell_size)
    return clat * F.lit(lon_cells(cell_size)) + clon


def py_grid_cell(lat7: int, lon7: int, cell_size: int) -> int:
    ncl = lon_cells(cell_size)
    return (lat7 // cell_size) * ncl + ((lon7 // cell_size) % ncl)


def sql_grid_cell(lat_expr: str, lon_expr: str, cell_size: int) -> str:
    """DuckDB twin of :func:`grid_cell`."""
    clat, clon = sql_grid_yx(lat_expr, lon_expr, cell_size)
    return f"({clat} * {lon_cells(cell_size)} + {clon})"


def wrap_dlon(a: Column, b: Column) -> Column:
    """|a − b| taken the short way round the antimeridian: ≤ LON_MAX7."""
    d = F.abs(a - b)
    return F.least(d, F.lit(LON_SPAN) - d)


def dist2(qlat: Column, qlon: Column, plat: Column, plon: Column) -> Column:
    """The exact wrap-aware planar metric (Δlat7)² + (Δlon7)² in int64: every
    square fits, as 2·(1.8e9)² < 2^63 for all valid coordinates."""
    dlat = qlat.cast("long") - plat.cast("long")
    dlon = wrap_dlon(qlon.cast("long"), plon.cast("long"))
    return dlat * dlat + dlon * dlon


def sql_dist2(qlat: str, qlon: str, plat: str, plon: str) -> str:
    """DuckDB twin of :func:`dist2`."""
    dlat = f"(CAST({qlat} AS BIGINT) - CAST({plat} AS BIGINT))"
    adlon = f"abs(CAST({qlon} AS BIGINT) - CAST({plon} AS BIGINT))"
    dlon = f"least({adlon}, {LON_SPAN} - {adlon})"
    return f"({dlat} * {dlat} + {dlon} * {dlon})"


def py_dist2(qlat: int, qlon: int, plat: int, plon: int) -> int:
    """Python reference of :func:`dist2`."""
    dlat = qlat - plat
    dlon = abs(qlon - plon)
    dlon = min(dlon, LON_SPAN - dlon)
    return dlat * dlat + dlon * dlon
