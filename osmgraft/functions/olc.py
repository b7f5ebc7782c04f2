"""Open Location Code ("Plus Codes") encoding — public spec, Google's
open-location-code repository.

A 10-digit OLC is five (lat, lon) digit pairs in the base-20 alphabet
``23456789CFGHJMPQRVWX`` with a ``+`` after the 8th character
(``XXXXXXXX+XX``).  Pair k refines by 1/20th: pair resolutions are 20,
1, 0.05, 0.0025, 0.000125 degrees.  The finest (5th) pair's resolution,
0.000125 deg, is EXACTLY 1250 fixed-point E7 units, so the whole encode
is integer arithmetic on ``lat7/lon7``:

    latq = clamp(lat7 + 900000000, 0, 1800000000) // 1250   (cap 1439999)
    lonq = pmod(lon7 + 1800000000, 3600000000) // 1250
    digit pair k = (latq // 20^(4-k)) % 20, (lonq // 20^(4-k)) % 20

Latitude 90 is clamped INTO the top row (the spec encodes the pole in the
northernmost cell rather than emitting an out-of-range digit); longitude
180 wraps to -180.  Decoding is the inverse polynomial and returns the
cell's SOUTH-WEST corner in E7 units — exact, so encode(decode(c)) == c.

Three twins as usual (numpy kernel / JVM Columns / DuckDB SQL) sharing
one expression shape; all divisions are floor-divisions of non-negative
ints < 2^53, exact in every engine.  This mirrors osmio's fixed-point
coordinate discipline (lib.rs:66-91): the geocode is a pure function of
the i32-scaled coordinate, never of a float.

Validation: the published vector from the OLC README
(47.365590, 8.524997 -> 8FVC9G8F+6X) plus a from-spec float reference
implementation cross-check in tests/test_olc.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from osmgraft.functions.coords import LON_SPAN

ALPHABET = "23456789CFGHJMPQRVWX"

STEP = 1250  # E7 units per finest-pair cell (0.000125 deg)
_LAT_SPAN = 1_800_000_000
_LATQ_MAX = _LAT_SPAN // STEP - 1  # 1_439_999: lat=90 clamps into the top row
_POWS = [20**k for k in (4, 3, 2, 1, 0)]


# --- numpy kernel --------------------------------------------------------------

def olc_quantize(lat7: np.ndarray, lon7: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    latq = np.clip(lat7.astype(np.int64) + _LAT_SPAN // 2, 0, _LAT_SPAN) // STEP
    latq = np.minimum(latq, _LATQ_MAX)
    lonq = np.mod(lon7.astype(np.int64) + LON_SPAN // 2, LON_SPAN) // STEP
    return latq, lonq


def olc_encode(lat7: np.ndarray, lon7: np.ndarray) -> np.ndarray:
    """Vectorized 10-digit plus codes ('XXXXXXXX+XX')."""
    latq, lonq = olc_quantize(np.asarray(lat7), np.asarray(lon7))
    chars = np.array(list(ALPHABET))
    cols = []
    for k, p in enumerate(_POWS):
        cols.append(chars[(latq // p) % 20])
        cols.append(chars[(lonq // p) % 20])
        if k == 3:
            cols.append(np.full(latq.shape, "+", dtype=object))
    return np.array(["".join(row) for row in zip(*cols)], dtype=object)


def olc_decode_sw(codes) -> tuple[np.ndarray, np.ndarray]:
    """10-digit codes -> (lat7, lon7) of the cell's SW corner (exact)."""
    lut = {c: i for i, c in enumerate(ALPHABET)}
    latq = np.zeros(len(codes), dtype=np.int64)
    lonq = np.zeros(len(codes), dtype=np.int64)
    for i, code in enumerate(codes):
        ds = [lut[c] for c in code if c != "+"]
        latq[i] = sum(d * p for d, p in zip(ds[0::2], _POWS))
        lonq[i] = sum(d * p for d, p in zip(ds[1::2], _POWS))
    return latq * STEP - _LAT_SPAN // 2, lonq * STEP - LON_SPAN // 2


# --- JVM Column twin -----------------------------------------------------------

def _quant_cols(lat7: Column, lon7: Column) -> tuple[Column, Column]:
    # ints < 2^53 -> double division correctly rounded, floor exact (same
    # argument as geohash_int_col; quotients sit >= 1/STEP from integers)
    lat_t = F.least(F.greatest(lat7.cast("long") + _LAT_SPAN // 2, F.lit(0)), F.lit(_LAT_SPAN))
    latq = F.least(F.floor(lat_t / STEP).cast("long"), F.lit(_LATQ_MAX))
    lon_t = F.pmod(lon7.cast("long") + LON_SPAN // 2, F.lit(LON_SPAN))
    lonq = F.floor(lon_t / STEP).cast("long")
    return latq, lonq


def _digit(q: Column, p: int) -> Column:
    return F.substring(
        F.lit(ALPHABET), (F.floor(q / p).cast("long") % 20 + 1).cast("int"), 1
    )


def olc_col(lat7: Column, lon7: Column) -> Column:
    latq, lonq = _quant_cols(lat7, lon7)
    parts: list[Column] = []
    for k, p in enumerate(_POWS):
        parts.append(_digit(latq, p))
        parts.append(_digit(lonq, p))
        if k == 3:
            parts.append(F.lit("+"))
    return F.concat(*parts)


def olc_parse_sw_exprs(code_col: str) -> tuple[Column, Column]:
    """Parse a 10-digit code column back to SW-corner (lat7, lon7) — the
    string is the input (instr over the alphabet), so the PARSER leg is on
    the oracle hash too, not just the encoder."""
    def d(pos: int) -> str:
        return (
            f"(CAST(instr('{ALPHABET}', substring({code_col}, {pos}, 1)) AS BIGINT) - 1)"
        )

    # character positions: lat digits at 1,3,5,7,10; lon at 2,4,6,8,11
    lat_pos, lon_pos = [1, 3, 5, 7, 10], [2, 4, 6, 8, 11]
    latq = " + ".join(f"{d(p)} * {w}" for p, w in zip(lat_pos, _POWS))
    lonq = " + ".join(f"{d(p)} * {w}" for p, w in zip(lon_pos, _POWS))
    return (
        F.expr(f"({latq}) * {STEP} - {_LAT_SPAN // 2}").cast("long"),
        F.expr(f"({lonq}) * {STEP} - {LON_SPAN // 2}").cast("long"),
    )


# --- DuckDB SQL twin -----------------------------------------------------------

def sql_olc(lat7: str, lon7: str) -> str:
    latq = (
        f"least(CAST(floor(least(greatest(CAST(({lat7}) AS BIGINT) + {_LAT_SPAN // 2}, 0),"
        f" {_LAT_SPAN}) / {STEP}) AS BIGINT), {_LATQ_MAX})"
    )
    lonq = (
        f"CAST(floor(((CAST(({lon7}) AS BIGINT) + {LON_SPAN // 2}) % {LON_SPAN}"
        f" + {LON_SPAN}) % {LON_SPAN} / {STEP}) AS BIGINT)"
    )
    parts = []
    for k, p in enumerate(_POWS):
        for q in (latq, lonq):
            parts.append(
                f"substr('{ALPHABET}', CAST((({q}) // {p}) % 20 AS INTEGER) + 1, 1)"
            )
        if k == 3:
            parts.append("'+'")
    return "(" + " || ".join(parts) + ")"


def sql_olc_parse_sw(code: str) -> tuple[str, str]:
    def d(pos: int) -> str:
        return f"(strpos('{ALPHABET}', substr({code}, {pos}, 1)) - 1)"

    lat_pos, lon_pos = [1, 3, 5, 7, 10], [2, 4, 6, 8, 11]
    latq = " + ".join(f"{d(p)} * {w}" for p, w in zip(lat_pos, _POWS))
    lonq = " + ".join(f"{d(p)} * {w}" for p, w in zip(lon_pos, _POWS))
    return (
        f"CAST(({latq}) * {STEP} - {_LAT_SPAN // 2} AS BIGINT)",
        f"CAST(({lonq}) * {STEP} - {LON_SPAN // 2} AS BIGINT)",
    )
