"""Building a DataFrame does no work: the plumbing under the registry's
queries launches no Spark job before the caller's action."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osmgraft.io import read_fixture
from osmgraft.operators.util import ensure_min_parallelism


def test_ensure_min_parallelism_runs_no_job(spark, jobs_of):
    """Frames AQE wraps (a groupBy, a broadcast join) learn their partition
    count only when their exchanges run: they are repartitioned unread."""
    base = spark.range(0, 1000, 1, 1)
    grouped = base.groupBy((F.col("id") % 7).alias("k")).count()
    joined = base.join(F.broadcast(spark.range(10)), "id")
    outs, jobs = jobs_of(lambda: [ensure_min_parallelism(d) for d in (grouped, joined)])
    assert jobs == []
    n = spark.sparkContext.defaultParallelism
    assert [o.rdd.getNumPartitions() for o in outs] == [n, n]
    assert sorted(outs[0].collect()) == sorted(grouped.collect())


def test_ensure_min_parallelism_reads_exchange_free_counts(spark, jobs_of, sf_smoke):
    """A single-file scan is widened; an already-wide frame comes back as is."""
    n = spark.sparkContext.defaultParallelism
    scan = read_fixture(spark, sf_smoke, "orders")
    assert scan.rdd.getNumPartitions() < n
    wide = spark.range(0, 100, 1, 2 * n)
    (widened, same), jobs = jobs_of(
        lambda: (ensure_min_parallelism(scan), ensure_min_parallelism(wide))
    )
    assert jobs == []
    assert widened.rdd.getNumPartitions() >= n
    assert same is wide


@pytest.mark.parametrize(
    "name",
    [
        "pip_inner",
        "tile_counts_z13",
        "q1_pricing_summary",
        "tile_render_png_z10",
        "terrain_rgb_roundtrip_z10_7",
        "dedup_levenshtein",
    ],
)
def test_registry_build_is_lazy(spark, jobs_of, sf_smoke, name):
    from osmgraft.queries import REGISTRY

    _, jobs = jobs_of(lambda: REGISTRY[name][0](spark, sf_smoke))
    assert jobs == []
