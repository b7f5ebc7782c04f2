"""Flagship pipeline as a spark-submit job.

    spark-submit --master <cluster> --py-files dist/osmgraft.zip \
        tools/jobs/flagship_job.py --input <orders_path> --output <out_path>

On a cluster the master/executor topology comes from spark-submit; this
script builds no local session config beyond the app name. With --rows N the
input is the deterministic synthetic generator instead of a table path
(sandbox / smoke mode). Output is written through the Checkpointer, so a
killed job resumes idempotently from its lineage manifests.
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="orders parquet path (omit with --rows)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--rows", type=int, help="synthetic row count (smoke mode)")
    ap.add_argument("--zoom", type=int, default=13)
    ap.add_argument("--files-per-batch", type=int, default=256)
    args = ap.parse_args()

    from osmgraft.checkpoint import Checkpointer
    from osmgraft.functions import tiles
    from osmgraft.operators.pip import pip_join
    from osmgraft.operators.util import ensure_min_parallelism
    from osmgraft.synth import ADMIN_BOUNDARIES, points_projection

    spark = SparkSession.builder.appName("osmgraft-flagship").getOrCreate()

    def transform(orders):
        joined = pip_join(
            points_projection(ensure_min_parallelism(orders)), ADMIN_BOUNDARIES, how="inner"
        )
        return (
            joined.select(
                "boundary_id",
                tiles.tile_x(F.col("lon7"), args.zoom).alias("tx"),
                tiles.tile_y(F.col("lat7"), args.zoom).alias("ty"),
            )
            .groupBy("boundary_id", "tx", "ty")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    if args.rows:
        parallelism = spark.sparkContext.defaultParallelism
        orders = spark.range(1, args.rows + 1, 1, parallelism).select(
            F.col("id").alias("o_orderkey")
        )
        result = transform(orders)
        result.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
    else:
        ck = Checkpointer(args.output, files_per_batch=args.files_per_batch)
        ck.run(spark, args.input, transform)
        n = ck.output(spark).count()
    print(f"osmgraft-flagship: wrote {n} tile-count rows to {args.output}")
    spark.stop()


if __name__ == "__main__":
    main()
