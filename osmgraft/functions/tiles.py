"""Slippy-tile (z/x/y, Web-Mercator) assignment — north-rule raster↔vector op.

Closed-form math (OSM wiki "Slippy map tilenames"):
    x = floor((lon + 180) / 360 * 2^z)
    y = floor((1 - asinh(tan(lat_rad)) / pi) / 2 * 2^z)

For cross-engine bitwise parity (Spark JVM vs DuckDB vs numpy) we spell asinh
as ``ln(t + sqrt(t*t + 1))`` in ALL three implementations — every op in that
expression is an IEEE-754 correctly-rounded primitive except ln/tan (≤1 ulp),
so engines agree except with ~2^-40 probability per row at tile borders.

Inputs are the canonical fixed-point ``lat7/lon7`` ints; conversion to degrees
happens inside (osmio precision model, lib.rs:66-71). Valid latitude domain is
|lat| ≤ 85.0511287° (callers filter; see schema.WEB_MERCATOR_LAT_MAX7).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from osmgraft.functions.coords import LON_MAX7, LON_SPAN


# --- Spark Column form -------------------------------------------------------
def tile_x(lon7: Column, z: int) -> Column:
    lon = lon7.cast("double") / F.lit(1e7)
    n = F.lit(float(2**z))
    x = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * n).cast("long")
    return F.least(F.greatest(x, F.lit(0)), F.lit(2**z - 1))


def tile_y(lat7: Column, z: int) -> Column:
    lat = lat7.cast("double") / F.lit(1e7)
    n = F.lit(float(2**z))
    t = F.tan(F.radians(lat))
    asinh_t = F.log(t + F.sqrt(t * t + F.lit(1.0)))
    y = F.floor((F.lit(1.0) - asinh_t / F.lit(float(np.pi))) / F.lit(2.0) * n).cast("long")
    return F.least(F.greatest(y, F.lit(0)), F.lit(2**z - 1))


# --- numpy kernel form -------------------------------------------------------
def np_tile_xy(lon7: np.ndarray, lat7: np.ndarray, z: int) -> tuple[np.ndarray, np.ndarray]:
    lon = lon7.astype(np.float64) / 1e7
    lat = lat7.astype(np.float64) / 1e7
    n = float(2**z)
    x = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    t = np.tan(np.radians(lat))
    y = np.floor((1.0 - np.log(t + np.sqrt(t * t + 1.0)) / np.pi) / 2.0 * n).astype(np.int64)
    np.clip(x, 0, 2**z - 1, out=x)
    np.clip(y, 0, 2**z - 1, out=y)
    return x, y


# --- SQL-text form (DuckDB oracle) --------------------------------------------
def sql_tile_x(lon7_expr: str, z: int) -> str:
    return (
        f"least(greatest(CAST(floor((CAST(({lon7_expr}) AS DOUBLE)/10000000.0 + 180.0)"
        f"/360.0 * {float(2**z)!r}) AS BIGINT), 0), {2**z - 1})"
    )


def sql_tile_y(lat7_expr: str, z: int) -> str:
    t = f"tan(radians(CAST(({lat7_expr}) AS DOUBLE)/10000000.0))"
    asinh_t = f"ln({t} + sqrt({t}*{t} + 1.0))"
    return (
        f"least(greatest(CAST(floor((1.0 - {asinh_t}/pi())/2.0 * {float(2**z)!r}) AS BIGINT)"
        f", 0), {2**z - 1})"
    )


# --- raster -> vector (inverse slippy: tile id -> geometry) ---------------------
def np_tile_lat_bounds(y: np.ndarray, z: int) -> tuple[np.ndarray, np.ndarray]:
    """(south, north) latitude degrees of tile row y — inverse gudermannian
    lat = atan(sinh(pi·(1 − 2y/2^z))). Float (libm); pinned by the roundtrip
    property tile_y(north−ε)==y, tile_y(south+ε)==y in tests, not by oracle
    hashing."""
    n = float(2**z)
    north = np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * y / n))))
    south = np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * (y + 1) / n))))
    return south, north


def np_tile_polygon(x: int, y: int, z: int) -> list[tuple[int, int]]:
    """Tile cell as a closed fixed-point ring (lat7, lon7) — the raster→vector
    bridge: a z/x/y cell becomes a polygon consumable by pip_join/cell join."""
    w = int(x * LON_SPAN // 2**z - LON_MAX7)
    e = int((x + 1) * LON_SPAN // 2**z - LON_MAX7)
    s, n = np_tile_lat_bounds(np.array([y]), z)
    s7, n7 = int(round(s[0] * 1e7)), int(round(n[0] * 1e7))
    return [(s7, w), (s7, e), (n7, e), (n7, w), (s7, w)]


# --- quadkeys (Bing Maps tile addressing; public spec) ---------------------------
#
# quadkey(z) = z base-4 digits, MSB first, digit i = (y_bit << 1) | x_bit of
# the slippy tile coordinate at zoom z. Equivalent to the base-4 rendering of
# the Morton interleave (y bits odd), so the codegen'd geohash bit-spreader
# does all the work. Published vector: (x=3, y=5, z=3) -> "213".


def quadkey(lon7: Column, lat7: Column, z: int) -> Column:
    """Slippy tile -> quadkey string at zoom z (JVM-only expression)."""
    from osmgraft.functions.geohash import morton_col

    morton = morton_col(tile_x(lon7, z), tile_y(lat7, z))
    return F.lpad(F.conv(morton, 10, 4), z, "0")


def sql_quadkey(lon7_expr: str, lat7_expr: str, z: int) -> str:
    from osmgraft.functions.geohash import _sql_spread

    tx = sql_tile_x(lon7_expr, z)
    ty = sql_tile_y(lat7_expr, z)
    morton = f"({_sql_spread(f'({tx})')} | ({_sql_spread(f'({ty})')} << 1))"
    return f"lpad(to_base({morton}, 4), {z}, '0')"


def quadkey_to_tile(qk: str) -> tuple[int, int, int]:
    """Inverse (python, for tests/tools): quadkey -> (z, tx, ty)."""
    tx = ty = 0
    for c in qk:
        d = int(c)
        tx = (tx << 1) | (d & 1)
        ty = (ty << 1) | (d >> 1)
    return len(qk), tx, ty
