"""Operator-level plumbing helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_min_parallelism(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """``df`` with at least ``min_parts`` partitions (default: the cluster's
    cores), for CPU-heavy Arrow kernels fed by small inputs. Runs no Spark job.

    A plan with no exchange knows its partition count before it runs (a scan's
    splits), so reading it is free: a single-file local scan is round-robin
    repartitioned, while a real table's scan, which yields thousands of
    splits, comes back unchanged. A plan that AQE wraps learns its partition
    count only when its shuffles run, and AQE coalesces a small shuffle to a
    few partitions; reading the count would run every shuffle below it at
    build time and the action would run them again, so such a plan is
    repartitioned unread. Apply this at a frame's source where it can be.

    AQE is on in every session :func:`osmgraft.session.get_spark` builds and by
    Spark's default; with it off, the count is read as for an exchange-free
    plan.
    """
    if min_parts is None:
        min_parts = df.sparkSession.sparkContext.defaultParallelism
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan" or df.rdd.getNumPartitions() < min_parts:
        return df.repartition(min_parts)
    return df
