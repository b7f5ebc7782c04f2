"""Python-worker settings of get_spark sessions (osmgraft.session.WORKER_CONF):
the worker daemon keeps the directory caches of Spark's own archives, and
the workers import the engine whatever the driver's cwd."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="this zipimporter invalidates lazily; the daemon installs no patch",
)
def test_worker_keeps_spark_archive_caches(spark, tmp_path):
    """In a Python task, importlib.invalidate_caches() leaves the directory
    cache of Spark's pyspark.zip in place, while an archive added with
    addPyFile after the daemon started is still re-read."""
    import pyarrow as pa

    archive = tmp_path / "osmgraft_worker_probe.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("osmgraft_worker_probe.py", "X = 1\n")
    spark.sparkContext.addPyFile(str(archive))

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import osmgraft_worker_probe  # noqa: F401  (puts its archive's importer in the cache)

        for _ in batches:
            pass
        imps = [f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)]
        before = [f._files for f in imps]
        importlib.invalidate_caches()
        yield pa.RecordBatch.from_pylist(
            [
                {"archive": os.path.basename(f.archive), "kept": f._files is files}
                for f, files in zip(imps, before)
            ],
            schema=pa.schema([("archive", pa.string()), ("kept", pa.bool_())]),
        )

    rows = spark.range(0, 1, 1, 1).mapInArrow(probe, "archive string, kept boolean").collect()
    kept = {}
    for r in rows:
        kept.setdefault(r.archive, set()).add(r.kept)
    assert kept.get("pyspark.zip") == {True}, kept
    assert kept.get("osmgraft_worker_probe.zip") == {False}, kept


_FOREIGN_CWD_DRIVER = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from osmgraft.operators.pip import pip_join
from osmgraft.session import get_spark
from osmgraft.synth import ADMIN_BOUNDARIES, points_projection
spark = get_spark("osmgraft-cwd-probe", cpus=1, **{{"spark.ui.showConsoleProgress": "false"}})
spark.sparkContext.setLogLevel("ERROR")
orders = spark.range(1, 2001, 1, 2).select(F.col("id").alias("o_orderkey"))
print("inside", pip_join(points_projection(orders), ADMIN_BOUNDARIES, how="inner").count())
spark.stop()
"""


def test_pip_join_from_foreign_cwd(tmp_path):
    """A driver started outside the repo with no PYTHONPATH runs pip_join:
    the workers find the package (and the daemon module) through the
    package root in spark.executorEnv.PYTHONPATH."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        [sys.executable, "-c", _FOREIGN_CWD_DRIVER.format(repo=REPO)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=280,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    n = int(proc.stdout.split("inside", 1)[1].split()[0])
    assert n > 0
