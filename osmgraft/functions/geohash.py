"""Geohash encoding (public algorithm: Niemeyer's base-32 Z-order code).

A geohash interleaves quantized lon/lat bits (lon first) and renders 5-bit
groups in the geohash alphabet.  Everything here is EXACT integer
arithmetic — quantization is a single integer floor division and the
Morton interleave is mask/shift bit spreading — with the SAME expression
shapes as JVM Columns and as the DuckDB twin, so geohash queries hash-gate
bit-identically across engines.

Precision 8 (the default here) = 40 bits = 20 lon + 20 lat, cell size
~38 m x 19 m at the equator.

Validation: published vectors (geohash.org examples) in tests/test_cells.py
plus prefix-nesting and neighbor-locality properties.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from osmgraft.functions.coords import LON_SPAN

ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"

_LAT_SPAN = 1_800_000_000


def _quant(v7: np.ndarray, span: int, bits: int) -> np.ndarray:
    """floor((v + span/2) * 2^bits / span), clamped to [0, 2^bits - 1]."""
    q = ((v7.astype(np.int64) + span // 2) << bits) // span
    return np.clip(q, 0, (1 << bits) - 1)


def _spread(x: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of x to even positions (2D Morton half)."""
    x = x.astype(np.int64) & 0xFFFFFFFF
    x = (x | (x << 16)) & 0x0000FFFF0000FFFF
    x = (x | (x << 8)) & 0x00FF00FF00FF00FF
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0F
    x = (x | (x << 2)) & 0x3333333333333333
    x = (x | (x << 1)) & 0x5555555555555555
    return x


def geohash_int(lat7: np.ndarray, lon7: np.ndarray, precision: int = 8) -> np.ndarray:
    """The geohash's 5*precision interleaved bits as an int64 (lon bits at
    even positions counting from the TOP, per the geohash spec)."""
    if not 1 <= precision <= 12:
        raise ValueError("precision must be 1..12")
    nbits = 5 * precision
    lon_bits = (nbits + 1) // 2
    lat_bits = nbits // 2
    ix = _quant(np.asarray(lon7), LON_SPAN, lon_bits)
    iy = _quant(np.asarray(lat7), _LAT_SPAN, lat_bits)
    # lon MSB must land at bit nbits-1: even nbits -> lon on odd LSB
    # positions (shift lon), odd nbits -> lon on even positions (shift lat)
    if nbits % 2 == 0:
        return (_spread(ix) << 1) | _spread(iy)
    return _spread(ix) | (_spread(iy) << 1)


def geohash_str(lat7: np.ndarray, lon7: np.ndarray, precision: int = 8) -> np.ndarray:
    """Base-32 geohash strings (vectorized)."""
    g = geohash_int(lat7, lon7, precision)
    out = np.empty(g.shape, dtype=object)
    chars = np.array(list(ALPHABET))
    cols = []
    for i in range(precision):
        shift = 5 * (precision - 1 - i)
        cols.append(chars[(g >> shift) & 31])
    out[:] = [''.join(row) for row in zip(*cols)]
    return out


# --- JVM Column twin ---------------------------------------------------------

def _spread_col(x: Column) -> Column:
    x = x.bitwiseAND(F.lit(0xFFFFFFFF))
    x = (x.bitwiseOR(F.shiftleft(x, 16))).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
    x = (x.bitwiseOR(F.shiftleft(x, 8))).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
    x = (x.bitwiseOR(F.shiftleft(x, 4))).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
    x = (x.bitwiseOR(F.shiftleft(x, 2))).bitwiseAND(F.lit(0x3333333333333333))
    x = (x.bitwiseOR(F.shiftleft(x, 1))).bitwiseAND(F.lit(0x5555555555555555))
    return x


def morton_col(x: Column, y: Column) -> Column:
    """Morton interleave of two non-negative ints (x even bits, y odd) —
    the shared spreader behind quadkeys (tiles.quadkey) and Z-order writes
    (cluster.zorder_key); geohash keeps its own parity-dependent variant."""
    return _spread_col(x).bitwiseOR(F.shiftleft(_spread_col(y), 1))


def _clamp(c: Column, hi: int) -> Column:
    return F.least(F.greatest(c, F.lit(0)), F.lit(hi))


def geohash_int_col(lat7: Column, lon7: Column, precision: int = 8) -> Column:
    if not 1 <= precision <= 8:
        # the exact-floor argument below needs the shifted numerator inside
        # double's 2^53 exact range: lon_bits <= 20 -> precision <= 8.  The
        # numpy kernel (pure int64) supports up to 12.
        raise ValueError("Column/SQL geohash twins support precision 1..8")
    nbits = 5 * precision
    lon_bits = (nbits + 1) // 2
    lat_bits = nbits // 2
    # floor(p / span) over double is exact here: p <= 3.8e15 is inside the
    # 2^53 exact-integer range and a non-multiple quotient sits >= 1/span
    # (2.8e-10) from the next integer, above the half-ulp (1.2e-10) of the
    # correctly-rounded division — same argument applies to the DuckDB twin
    ix = _clamp(
        F.floor(
            F.shiftleft(lon7.cast("long") + LON_SPAN // 2, lon_bits) / LON_SPAN
        ).cast("long"),
        (1 << lon_bits) - 1,
    )
    iy = _clamp(
        F.floor(
            F.shiftleft(lat7.cast("long") + _LAT_SPAN // 2, lat_bits) / _LAT_SPAN
        ).cast("long"),
        (1 << lat_bits) - 1,
    )
    if nbits % 2 == 0:
        return F.shiftleft(_spread_col(ix), 1).bitwiseOR(_spread_col(iy))
    return _spread_col(ix).bitwiseOR(F.shiftleft(_spread_col(iy), 1))


def geohash_str_col(lat7: Column, lon7: Column, precision: int = 8) -> Column:
    g = geohash_int_col(lat7, lon7, precision)
    parts = [
        F.substring(
            F.lit(ALPHABET),
            (F.shiftright(g, 5 * (precision - 1 - i)).bitwiseAND(F.lit(31)) + 1).cast(
                "int"
            ),
            1,
        )
        for i in range(precision)
    ]
    return F.concat(*parts)


# --- DuckDB SQL twin ---------------------------------------------------------

def _sql_spread(x: str) -> str:
    s = f"(({x}) & {0xFFFFFFFF})"
    s = f"(({s} | ({s} << 16)) & {0x0000FFFF0000FFFF})"
    s = f"(({s} | ({s} << 8)) & {0x00FF00FF00FF00FF})"
    s = f"(({s} | ({s} << 4)) & {0x0F0F0F0F0F0F0F0F})"
    s = f"(({s} | ({s} << 2)) & {0x3333333333333333})"
    s = f"(({s} | ({s} << 1)) & {0x5555555555555555})"
    return s


def sql_geohash_int(lat7: str, lon7: str, precision: int = 8) -> str:
    if not 1 <= precision <= 8:
        raise ValueError("Column/SQL geohash twins support precision 1..8")
    nbits = 5 * precision
    lon_bits = (nbits + 1) // 2
    lat_bits = nbits // 2
    ix = (
        f"least(greatest(CAST(floor(((CAST(({lon7}) AS BIGINT) + {LON_SPAN // 2})"
        f" * {1 << lon_bits}) / {LON_SPAN}) AS BIGINT), 0), {(1 << lon_bits) - 1})"
    )
    iy = (
        f"least(greatest(CAST(floor(((CAST(({lat7}) AS BIGINT) + {_LAT_SPAN // 2})"
        f" * {1 << lat_bits}) / {_LAT_SPAN}) AS BIGINT), 0), {(1 << lat_bits) - 1})"
    )
    if nbits % 2 == 0:
        return f"(({_sql_spread(ix)} << 1) | {_sql_spread(iy)})"
    return f"({_sql_spread(ix)} | ({_sql_spread(iy)} << 1))"


def sql_geohash_str(lat7: str, lon7: str, precision: int = 8) -> str:
    g = sql_geohash_int(lat7, lon7, precision)
    parts = " || ".join(
        f"substr('{ALPHABET}', CAST((({g}) >> {5 * (precision - 1 - i)}) & 31 AS INTEGER) + 1, 1)"
        for i in range(precision)
    )
    return f"({parts})"


# --- decode + neighbors ------------------------------------------------------

def _compact(x: np.ndarray) -> np.ndarray:
    """Inverse of _spread: gather even-position bits into the low half."""
    x = x.astype(np.int64) & 0x5555555555555555
    x = (x | (x >> 1)) & 0x3333333333333333
    x = (x | (x >> 2)) & 0x0F0F0F0F0F0F0F0F
    x = (x | (x >> 4)) & 0x00FF00FF00FF00FF
    x = (x | (x >> 8)) & 0x0000FFFF0000FFFF
    x = (x | (x >> 16)) & 0xFFFFFFFF
    return x


def geohash_decode(hashes) -> tuple[np.ndarray, np.ndarray]:
    """Geohash strings -> (lat7, lon7) CELL-CENTER fixed-point coords.
    Centers are the midpoint of the cell's half-open interval; roundtrip
    encode(decode(h)) == h for every valid hash (property-tested)."""
    hs = np.asarray(hashes)
    lat = np.empty(hs.shape, dtype=np.int64)
    lon = np.empty(hs.shape, dtype=np.int64)
    lens = np.array([len(h) for h in hs.ravel()])
    for n in np.unique(lens):
        sel = lens == n
        vals = np.array(
            [
                sum(ALPHABET.index(c) << (5 * (len(h) - 1 - i)) for i, c in enumerate(h))
                for h in hs.ravel()[sel]
            ],
            dtype=np.int64,
        )
        nbits = 5 * int(n)
        lon_bits = (nbits + 1) // 2
        lat_bits = nbits // 2
        if nbits % 2 == 0:
            ix = _compact(vals >> 1)
            iy = _compact(vals)
        else:
            ix = _compact(vals)
            iy = _compact(vals >> 1)
        # center = (i + 0.5) * span / 2^bits - span/2, exact in integers
        lon.ravel()[sel] = ((2 * ix + 1) * LON_SPAN) // (2 << lon_bits) - LON_SPAN // 2
        lat.ravel()[sel] = ((2 * iy + 1) * _LAT_SPAN) // (2 << lat_bits) - _LAT_SPAN // 2
    return lat, lon


def _indices_to_str(ix: int, iy: int, precision: int) -> str:
    nbits = 5 * precision
    lon_bits = (nbits + 1) // 2
    sx = _spread(np.array([ix]))[0]
    sy = _spread(np.array([iy]))[0]
    val = int((sx << 1) | sy) if nbits % 2 == 0 else int(sx | (sy << 1))
    return "".join(
        ALPHABET[(val >> (5 * (precision - 1 - i))) & 31] for i in range(precision)
    )


def geohash_neighbors(hashes) -> list[np.ndarray]:
    """Per hash: the up-to-8 surrounding geohash cells (lon wraps, lat
    clamps at the poles).  Steps in INDEX space (ix/iy +-1 with lon
    wraparound) — stepping decoded coordinates by the cell pitch truncated
    to zero at fine precisions and dropped neighbors (review fix)."""
    hs = np.asarray(hashes)
    out = []
    for h in hs.ravel():
        n = len(h)
        nbits = 5 * n
        lon_bits = (nbits + 1) // 2
        lat_bits = nbits // 2
        val = sum(ALPHABET.index(c) << (5 * (n - 1 - i)) for i, c in enumerate(h))
        v = np.array([val], dtype=np.int64)
        if nbits % 2 == 0:
            ix, iy = int(_compact(v >> 1)[0]), int(_compact(v)[0])
        else:
            ix, iy = int(_compact(v)[0]), int(_compact(v >> 1)[0])
        cells = set()
        for sy in (-1, 0, 1):
            niy = iy + sy
            if not 0 <= niy < (1 << lat_bits):
                continue  # pole: no neighbor beyond
            for sx in (-1, 0, 1):
                if sx == 0 and sy == 0:
                    continue
                nix = (ix + sx) % (1 << lon_bits)
                cells.add(_indices_to_str(nix, niy, n))
        cells.discard(str(h))
        out.append(np.array(sorted(cells), dtype=object))
    return out


# --- factored (CTE / stepwise-column) forms ----------------------------------
#
# The single-expression twins above duplicate the sub-expression at every
# spread step (2 references per step -> 64 copies of the quantization leg),
# fine for tests but a ~60 KB SQL string as a registered oracle.  The forms
# below bind each step once — same arithmetic, linear size (the pattern
# sql_s2_cell_l13 uses).

_SPREAD_STEPS = [
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
]


def sql_geohash_counts(pts_cte: str, precision: int = 6) -> str:
    """DuckDB twin of a geohash-counts query with every spread step bound
    once in a CTE chain (linear-size SQL)."""
    if not 1 <= precision <= 8:
        raise ValueError("precision 1..8")
    nbits = 5 * precision
    lon_bits = (nbits + 1) // 2
    lat_bits = nbits // 2
    steps = []
    prev = "q"
    q = (
        f"q AS (SELECT point_id,\n"
        f"  least(greatest(CAST(floor(((CAST(lon7 AS BIGINT) + {LON_SPAN // 2})"
        f" * {1 << lon_bits}) / {LON_SPAN}) AS BIGINT), 0), {(1 << lon_bits) - 1})"
        f" & {0xFFFFFFFF} AS sx,\n"
        f"  least(greatest(CAST(floor(((CAST(lat7 AS BIGINT) + {_LAT_SPAN // 2})"
        f" * {1 << lat_bits}) / {_LAT_SPAN}) AS BIGINT), 0), {(1 << lat_bits) - 1})"
        f" & {0xFFFFFFFF} AS sy\n"
        f"  FROM pts)"
    )
    for i, (sh, mask) in enumerate(_SPREAD_STEPS):
        nxt = f"s{i}"
        steps.append(
            f"{nxt} AS (SELECT point_id,"
            f" (sx | (sx << {sh})) & {mask} AS sx,"
            f" (sy | (sy << {sh})) & {mask} AS sy FROM {prev})"
        )
        prev = nxt
    inter = "((sx << 1) | sy)" if nbits % 2 == 0 else "(sx | (sy << 1))"
    chars = " || ".join(
        f"substr('{ALPHABET}', CAST((g >> {5 * (precision - 1 - i)}) & 31 AS INTEGER) + 1, 1)"
        for i in range(precision)
    )
    return (
        f"WITH pts AS ({pts_cte}),\n{q},\n" + ",\n".join(steps) + ",\n"
        f"gi AS (SELECT point_id, {inter} AS g FROM {prev})\n"
        f"SELECT {chars} AS gh, count(*) AS cnt FROM gi GROUP BY gh"
    )


def with_geohash(df, lat_col: str, lon_col: str, precision: int = 8, out: str = "gh"):
    """Adds a geohash string column via a stepwise column chain (each
    spread step references the previous COLUMN, so the Catalyst tree stays
    linear instead of duplicating the quantization leg 64x)."""
    if not 1 <= precision <= 8:
        raise ValueError("precision 1..8")
    nbits = 5 * precision
    lon_bits = (nbits + 1) // 2
    lat_bits = nbits // 2
    sx = _clamp(
        F.floor(
            F.shiftleft(F.col(lon_col).cast("long") + LON_SPAN // 2, lon_bits)
            / LON_SPAN
        ).cast("long"),
        (1 << lon_bits) - 1,
    ).bitwiseAND(F.lit(0xFFFFFFFF))
    sy = _clamp(
        F.floor(
            F.shiftleft(F.col(lat_col).cast("long") + _LAT_SPAN // 2, lat_bits)
            / _LAT_SPAN
        ).cast("long"),
        (1 << lat_bits) - 1,
    ).bitwiseAND(F.lit(0xFFFFFFFF))
    df = df.withColumn("_gx", sx).withColumn("_gy", sy)
    for sh, mask in _SPREAD_STEPS:
        df = df.withColumn(
            "_gx", (F.col("_gx").bitwiseOR(F.shiftleft(F.col("_gx"), sh))).bitwiseAND(F.lit(mask))
        ).withColumn(
            "_gy", (F.col("_gy").bitwiseOR(F.shiftleft(F.col("_gy"), sh))).bitwiseAND(F.lit(mask))
        )
    inter = (
        F.shiftleft(F.col("_gx"), 1).bitwiseOR(F.col("_gy"))
        if nbits % 2 == 0
        else F.col("_gx").bitwiseOR(F.shiftleft(F.col("_gy"), 1))
    )
    df = df.withColumn("_gi", inter)
    parts = [
        F.substring(
            F.lit(ALPHABET),
            (F.shiftright(F.col("_gi"), 5 * (precision - 1 - i)).bitwiseAND(F.lit(31)) + 1).cast("int"),
            1,
        )
        for i in range(precision)
    ]
    return df.withColumn(out, F.concat(*parts)).drop("_gx", "_gy", "_gi")
