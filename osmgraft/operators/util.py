"""Operator-level plumbing helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


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


def set_arrow_batch_rows(spark: SparkSession, rows: int) -> None:
    """Cap the JVM→Python Arrow feed at ``rows`` rows per batch.

    The session keeps ``spark.sql.execution.arrow.maxBytesPerBatch`` at
    Int.MaxValue (any finite value re-enables a per-appended-row
    ``ArrowWriter.sizeInBytes()`` scan that costs >50% of executor CPU on hot
    Arrow stages — see session.py). That leaves row count as the only batch
    bound, which is unsafe for binary-heavy rows: 65536 rows × ~50 KB image
    payload ≈ 3.2 GB per in-flight batch per core. Operators that feed wide
    binary rows through mapInArrow/mapInPandas call this with a small cap
    (e.g. 4096 → ≤~200 MB worst case) right before building their plan.

    The conf is session-scoped and read at *execution* time, so this is safe
    for the build-then-collect flow used by the query registry and bench, but
    two concurrently-executing queries share whatever value was set last.
    """
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(rows))
