"""SparkSession factory with scale-appropriate defaults.

Tuned for a multi-executor cluster (AQE on, skew-join on, modest shuffle
partitions for local testing — override ``spark.sql.shuffle.partitions``
upward on a real cluster). Arrow is enabled for all pandas-UDF kernels.

``WORKER_CONF`` holds the two Python-worker settings that ``get_spark`` adds to
its ``local[n]`` sessions:

* ``spark.python.daemon.module`` runs the workers under ``osmgraft._pydaemon``,
  which stops each task from re-reading the directories of Spark's own zip
  archives (0.2-0.5 s of CPU per task on CPython 3.11; a 16-task mapInArrow
  that drops its input took about 1.0 s instead of 0.3 s). On Pythons whose
  zipimporter invalidates lazily the daemon is plain ``pyspark.daemon``.
* ``spark.executorEnv.PYTHONPATH`` puts the package root on the workers' path,
  so the daemon and the kernels import ``osmgraft`` whatever the driver's cwd
  or ``PYTHONPATH``.

Both rely on the workers sharing the driver's filesystem. The spark-submit
jobs (``tools/jobs/``) leave them out: the daemon module is imported when the
daemon starts, before a task puts the ``--py-files`` archives on its path, and
the package root is a driver-local path, so on executors without a shared
filesystem every Python task would fail. Those jobs keep ``pyspark.daemon``
and get the package from ``--py-files`` alone.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER_CONF = {
    "spark.python.daemon.module": "osmgraft._pydaemon",
    "spark.executorEnv.PYTHONPATH": PACKAGE_ROOT,
}


def get_spark(app: str = "osmgraft", cpus: int | None = None, **extra: str) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cpus: local parallelism (``local[cpus]``); defaults to $SPARK_GRAFT_CPUS or 32.
    On a real cluster pass master via spark-submit instead and these local
    settings are ignored.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    b = (
        SparkSession.builder.appName(app)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # With maxBytesPerBatch short-circuited below, the rows-per-batch cap
        # is the only JVM-side Arrow batch bound. 65536 is right for narrow
        # rows (the PIP/cell kernels want big batches); for binary-heavy
        # tables (image bytes, 12-50KB/row) 65536 rows is a 0.8-3GB batch per
        # concurrent task, so image-heavy deployments should lower this knob
        # (ADVICE r1). In practice parquet scan splits (~128MB) bound the
        # partition — and therefore the batch — long before this cap; the
        # blow-up case is wide in-memory DataFrames feeding mapInArrow.
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_MAX_RECORDS", "65536"),
        )
        # Spark 4.1 defaults maxBytesPerBatch to 64MB, which makes the JVM call
        # ArrowWriter.sizeInBytes() per appended row inside the Arrow feed loop
        # (BatchedPythonArrowInput.underBatchSizeLimit) — profiled at >50% of
        # executor CPU on Arrow-kernel stages. Int.MaxValue short-circuits the
        # check; batch memory stays bounded by maxRecordsPerBatch (65536 rows).
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "2147483647")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config(map=WORKER_CONF)
    )
    for k, v in extra.items():
        b = b.config(k, v)
    return b.getOrCreate()
