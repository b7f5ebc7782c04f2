"""TableIO seam tests: parquet-backed behavior in this sandbox; the iceberg
branch activates only when a runtime jar + catalog conf are present (probed,
not assumed)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from osmgraft.io import TableIO, has_iceberg, read_fixture
from osmgraft.synth import points_from_orders

SF_DIR = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
@pytest.mark.parametrize("table", TABLES)
def test_read_fixture_schema_is_inferred_schema_without_a_job(spark, jobs_of, sf, table):
    """The footer schema equals Spark's inference (timestamps as NTZ), and
    the read launches no schema-inference job."""
    sf_dir = os.path.join(os.path.dirname(SF_DIR), sf)
    df, jobs = jobs_of(lambda: read_fixture(spark, sf_dir, table))
    assert jobs == []
    assert df.schema == spark.read.parquet(f"{sf_dir}/{table}.parquet").schema


def test_format_resolution_without_iceberg(spark):
    assert has_iceberg(spark) is False
    assert TableIO(spark).fmt == "parquet"


def test_write_read_roundtrip_sorted(spark, tmp_path):
    io = TableIO(spark)
    pts = points_from_orders(spark, SF_DIR)
    out = str(tmp_path / "pts")
    io.write(pts, out, sort_within=["point_id"])
    back = io.read(out)
    assert back.schema == pts.schema
    a = sorted(map(tuple, pts.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_snapshots_lists_lineage_batches(spark, tmp_path):
    from osmgraft.checkpoint import Checkpointer

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .repartition(4, "o_orderkey")
        .write.parquet(in_dir)
    )
    ck = Checkpointer(out_dir, files_per_batch=2)
    ck.run(spark, in_dir, lambda df: df.select("o_orderkey"))

    snaps = TableIO(spark).snapshots(out_dir).collect()
    assert len(snaps) == 2
    assert sum(r["output_rows"] for r in snaps) == spark.read.parquet(in_dir).count()
