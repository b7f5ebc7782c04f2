"""GeoJSON (RFC 7946) writer texts + Spark-side reader.

The interchange sink for vector results: LineString/Point Features built as
JSON text by ENGINE-NEUTRAL string expressions. Coordinates are written as
exact decimal strings derived from the 1e-7 fixed-point integers (sign +
integer part + '.' + zero-padded 7-digit fraction) — JSON numbers ARE
decimal text, so the output is bit-reproducible with no float formatting
anywhere (printf('%f') engines disagree; this never goes through a float).

Parse fidelity is part of the oracle gate wherever these texts are used:
a decimal with <= 10 significant digits parses to a double within ~1e-14
degrees, far inside the half-away rounding radius of 5e-8, so
deg_to_fixed(parse(dec(x))) == x EXACTLY for every representable
coordinate (the caption-leg discipline of image_geo_tiles).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osmgraft.functions.cells import floordiv

TEN7 = 10**7


def sql_dec7(x: str) -> str:
    """Exact decimal-degree text of a 1e-7 fixed-point integer expr —
    engine-neutral (CASE/abs/%/lpad/CAST/|| only)."""
    a = f"abs(CAST({x} AS BIGINT))"
    ip = f"CAST(({a} - ({a} % {TEN7})) / {TEN7} AS BIGINT)"
    fr = f"lpad(CAST({a} % {TEN7} AS STRING), 7, '0')"
    return (
        f"((CASE WHEN ({x}) < 0 THEN '-' ELSE '' END) || CAST({ip} AS STRING)"
        f" || '.' || {fr})"
    )


def sql_position(lon7: str, lat7: str) -> str:
    """One GeoJSON position: '[lon,lat]' (RFC 7946 §3.1.1 axis order)."""
    return f"('[' || {sql_dec7(lon7)} || ',' || {sql_dec7(lat7)} || ']')"


def sql_linestring_feature(ent: str, coords: str) -> str:
    """Feature text around an already-joined '[lon,lat],[lon,lat]...' list."""
    return (
        f"('{{\"type\":\"Feature\",\"properties\":{{\"ent\":' || CAST({ent} AS STRING) || "
        f"'}},\"geometry\":{{\"type\":\"LineString\",\"coordinates\":[' || {coords} || ']}}}}')"
    )


FEATURE_SCHEMA = (
    "type string, properties struct<ent:long>, "
    "geometry struct<type:string, coordinates:array<array<double>>>"
)


def parse_linestring_features(df: DataFrame, json_col: str = "feature") -> DataFrame:
    """Spark-side GeoJSON reader: Feature string -> (ent, pos, lat7, lon7)
    one row per vertex, coordinates recovered through the REAL JSON parser
    (from_json) and the half-away fixed-point codec — exact for every
    representable coordinate (module docstring). Malformed JSON -> null
    struct -> zero rows for that feature (corrupt rows can't kill the job)."""
    from osmgraft.functions.coords import deg_to_fixed

    parsed = df.select(F.from_json(F.col(json_col), FEATURE_SCHEMA).alias("f"))
    vert = parsed.select(
        F.col("f.properties.ent").alias("ent"),
        F.posexplode("f.geometry.coordinates").alias("pos", "xy"),
    )
    return vert.select(
        "ent",
        "pos",
        deg_to_fixed(F.col("xy")[1]).cast("long").alias("lat7"),
        deg_to_fixed(F.col("xy")[0]).cast("long").alias("lon7"),
    )


def dec7_col(x: Column) -> Column:
    """Column form of sql_dec7 (same expression through F.expr on a temp
    projection is messier than restating it with Column ops — text parity is
    asserted in tests)."""
    a = F.abs(x.cast("long"))
    ip = floordiv(a, TEN7)
    fr = F.lpad(F.pmod(a, F.lit(TEN7)).cast("string"), 7, "0")
    return F.concat(
        F.when(x < 0, F.lit("-")).otherwise(F.lit("")),
        ip.cast("string"),
        F.lit("."),
        fr,
    )
