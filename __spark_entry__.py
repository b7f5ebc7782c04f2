"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)    — flagship pipeline on sf0.001 (smoke).
queries()       — one entry per implemented operator (SURVEY.md §2).
oracle_sql()    — DuckDB twins for the SQL-expressible queries.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: points → broadcast PIP join → slippy z7 tile → counts."""
    from pyspark.sql import functions as F

    from osmgraft.functions import tiles
    from osmgraft.operators.pip import pip_join
    from osmgraft.synth import ADMIN_BOUNDARIES, points_from_orders

    pts = points_from_orders(spark, "/root/testdata/sf0.001")
    joined = pip_join(pts, ADMIN_BOUNDARIES, how="inner")
    return (
        joined.select(
            "boundary_id",
            tiles.tile_x(F.col("lon7"), 7).alias("tx"),
            tiles.tile_y(F.col("lat7"), 7).alias("ty"),
        )
        .groupBy("boundary_id", "tx", "ty")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from osmgraft.queries import all_queries

    return all_queries()


def oracle_sql() -> dict[str, str]:
    from osmgraft.queries import all_oracles

    return all_oracles()
