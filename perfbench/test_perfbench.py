"""Tests of the benchmark itself (not part of the engine's suite).

    python3 -m pytest perfbench -q

Each workload runs through the real command line at a tiny input size, once
untraced and once traced, and must pass its output checks and print every
metric BENCHMARK.json names, with its unit. Takes a few minutes: every run
starts its own JVM.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench.statusstore import parse_metric
from perfbench.trace import Span, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]
SCALE = "0.01"

# layers each workload calls: their per-layer metrics must be measured (> 0)
OWN_LAYERS = {
    "pip_tile": ["synth.points_s", "pip.self_s", "pip.python_run_s", "pip.bytes_to_python",
                 "pip.bytes_from_python", "tiles.agg_s", "tiles.shuffle_bytes",
                 "celljoin.build_s", "celljoin.exec_s", "celljoin.shuffle_bytes",
                 "celljoin.candidates", "celljoin.refine_yield", "celljoin.task_skew",
                 "celljoin.python_run_s"],
    "knn_rings": ["knn.build_s", "knn.exec_s", "knn.jobs", "knn.stages", "knn.shuffle_bytes"],
}


def run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def result(out: subprocess.CompletedProcess) -> dict:
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    return res


def units(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in BENCH[kind]}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_emits_end_to_end_metrics(workload):
    seed = WORKLOADS.index(workload) + 1  # a different seed per workload
    res = result(run("--workload", workload, "--seed", str(seed), "--seconds", "1",
                     "--trace", "0", "--scale", SCALE))
    assert {n: m["unit"] for n, m in res["metrics"].items()} == units("end_to_end")
    assert all(m["value"] > 0 for m in res["metrics"].values())
    assert res["metrics"]["ok_frac"]["value"] == 1.0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_per_layer_metrics(workload):
    res = result(run("--workload", workload, "--seed", "7", "--seconds", "1",
                     "--trace", "1", "--scale", SCALE))
    metrics = res["metrics"]
    assert {n: m["unit"] for n, m in metrics.items()} == units("per_layer")
    for name in OWN_LAYERS[workload] + ["session.start_s", "session.warm_s", "spark.jobs",
                                        "spark.stages", "spark.task_skew"]:
        assert metrics[name]["value"] > 0, name
    spans = os.path.join(ROOT, ".perfbench_out", f"trace-{workload}-seed7.json")
    with open(spans) as fh:
        assert any(s["name"] == "op" for s in json.load(fh))


def test_seed_changes_inputs_not_metric_set():
    from osmgraft.session import get_spark
    from perfbench.workloads import KnnRings, digest, key_offset, points

    assert len({key_offset(s) for s in range(50)}) == 50
    assert KnnRings(1, 1.0, 1).qlo != KnnRings(2, 1.0, 1).qlo
    spark = get_spark("perfbench-test", cpus=1, **{"spark.ui.showConsoleProgress": "false"})
    try:
        a, b = (digest(points(spark, key_offset(s), 1000, 1), ["point_id", "lat7", "lon7"])
                for s in (1, 2))
    finally:
        spark.stop()
    assert a[0] == b[0] == 1000 and a[1] != b[1]
    # The metric set is the same for every seed: the untraced runs above use
    # a different seed per workload and each must match BENCHMARK.json.


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = run("--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1", "--trace", "0",
              cwd=str(tmp_path))
    assert out.returncode != 0 and out.stdout.strip() == ""


def test_parse_metric():
    assert parse_metric("654,994", "sum") == 654994
    assert parse_metric("1.9 s", "timing") == pytest.approx(1.9)
    total = "total (min, med, max (stageId: taskId))\n10.6 s (331 ms, 2.4 s, 2.6 s (stage 8.0: task 17))"
    assert parse_metric(total, "timing") == pytest.approx(10.6)
    assert parse_metric("total (min, med, max)\n18.7 MiB (2.3 MiB, 3.1 MiB, 4.3 MiB)", "size") == 18.7 * 2**20


def test_self_time_subtracts_covered_children():
    tr = Tracer(True)
    tr.spans = [Span("op", 0.0, 10.0, None, 0), Span("a", 1.0, 4.0, 0, 0),
                Span("b", 3.0, 5.0, 0, 0), Span("c", 7.0, 8.0, 0, 0)]
    assert tr.self_time(0) == pytest.approx(10.0 - 4.0 - 1.0)
