"""Salted cell join must equal the broadcast PIP join exactly (SURVEY.md §7
'salted polygon-side explode must not duplicate or drop matches')."""

import logging

import numpy as np
import pyarrow as pa

from osmgraft.operators.celljoin import cell_pip_join
from osmgraft.operators.pip import pip_join
from osmgraft.synth import ADMIN_BOUNDARIES


def _pts_df(spark, n=5000, hot_frac=0.4):
    """Synthetic points with a deliberately hot cell (NYC box)."""
    rng = np.random.default_rng(5)
    n_hot = int(n * hot_frac)
    lat = np.concatenate(
        [
            rng.integers(405_000_000, 409_000_000, n_hot),
            rng.integers(-600_000_000, 600_000_000, n - n_hot),
        ]
    )
    lon = np.concatenate(
        [
            rng.integers(-742_000_000, -738_000_000, n_hot),
            rng.integers(-1_790_000_000, 1_790_000_000, n - n_hot),
        ]
    )
    # from Arrow, so that the points' own scan is no Python-mapped RDD either
    return spark.createDataFrame(pa.table({
        "point_id": pa.array(range(n), pa.int64()),
        "lat7": pa.array(lat, pa.int32()),
        "lon7": pa.array(lon, pa.int32()),
    }))


def test_salted_equals_broadcast(spark):
    pts = _pts_df(spark)
    want = {
        (r.point_id, r.boundary_id)
        for r in pip_join(pts, ADMIN_BOUNDARIES, how="inner").collect()
    }
    got = {
        (r.point_id, r.boundary_id)
        for r in cell_pip_join(
            pts, ADMIN_BOUNDARIES, skew_threshold=100, salt_target=50, max_salts=16
        ).collect()
    }
    assert got == want  # no dupes, no drops, exact same match set


def test_no_salting_path(spark):
    """skew_threshold above every cell count → unsalted plan, same answer."""
    pts = _pts_df(spark, n=800)
    want = {
        (r.point_id, r.boundary_id)
        for r in pip_join(pts, ADMIN_BOUNDARIES, how="inner").collect()
    }
    got = {
        (r.point_id, r.boundary_id)
        for r in cell_pip_join(pts, ADMIN_BOUNDARIES, skew_threshold=10**9).collect()
    }
    assert got == want


def test_salted_plan_has_no_python_list_scan(spark, caplog):
    """The cover and salt tables are local relations: a table built from a
    Python list is a Python-mapped RDD (``Scan ExistingRDD``), which adds a
    Python-worker stage to every call. The refine is the join's condition,
    so no candidate goes to Python either."""
    caplog.set_level(logging.DEBUG, logger="osmgraft.operators.celljoin")
    joined = cell_pip_join(
        _pts_df(spark, n=800), ADMIN_BOUNDARIES, skew_threshold=100, salt_target=50, max_salts=16
    )
    assert joined.count() > 0
    line = next(r.getMessage() for r in caplog.records if "hot_cells=" in r.getMessage())
    fields = dict(f.split("=") for f in line.split()[1:])
    assert int(fields["hot_cells"]) >= 1 and int(fields["max_salts"]) > 1, line
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "MapInArrow" not in plan, plan
