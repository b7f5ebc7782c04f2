"""osmgraft benchmark: one workload per run, metrics as one JSON line.

    python3 perfbench/run.py --workload pip_tile --seed 3 --seconds 10 --trace 0

Runs from the root of a source checkout, on ``local[<usable cores>]``. The
workloads and their metric names and units are defined in BENCHMARK.json.

* ``--trace 0`` prints the end-to-end metrics: set-up time (median of three
  set-ups in this process, each a session start plus one half-size op), rows/s
  over the timed window (which starts after the workload's untimed full-size
  warm-up ops), the median op wall and the share of ops whose output check
  passed.
* ``--trace 1`` alternates untraced and traced ops and prints the per-layer
  metrics: span timings around the calls into each layer, Spark's job, stage,
  shuffle, task and SQL-operator metrics for each traced op, and the tracing
  overhead (median traced op wall minus median untraced op wall). Spans are
  written to ``.perfbench_out/``.

Every op's output is checked; the run exits 1 after printing its result when
any check failed, and 2 without a result when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.statusstore import StatusStore  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

WORKDIR = os.path.join(ROOT, ".perfbench_out")
SETUP_REPS = 3
DEADLINE_S = 170  # a run must end within 180 s


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input-size multiplier (tests)")
    return ap.parse_args(argv)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def session(cores: int):
    from osmgraft.session import get_spark

    spark = get_spark(
        "osmgraft-perfbench",
        cpus=cores,
        **{
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "4g",
            "spark.local.dir": os.path.join(WORKDIR, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORKDIR, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Deadline(BaseException):
    """Raised by SIGALRM; not an Exception, so no op-level handler keeps the
    run going past it."""


def _deadline(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def run_op(wl, spark, tr):
    """One timed op plus its output check: (wall seconds, units, ok, result)."""
    t0 = time.perf_counter()
    try:
        with tr.span("op"):
            res = wl.op(spark, tr)
    except Exception:  # a failing op counts as failed; the run goes on
        traceback.print_exc(file=sys.stderr)
        return time.perf_counter() - t0, 0, False, None
    wall = time.perf_counter() - t0
    try:
        ok = wl.check(spark, res)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        ok = False
    return wall, res.units, ok, res


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def per_layer(tr, ops: list[dict], setups: list[tuple], overhead: float) -> dict:
    """Medians over the traced ops of every per-layer metric this run saw."""
    spans: dict[int, dict[str, float]] = {}
    for s in tr.spans:
        spans.setdefault(s.op, {})[s.name] = s.end - s.start
    derived: list[dict] = []
    for d in spans.values():
        m = {}
        for name, metric in (
            ("synth.points", "synth.points_s"),
            ("pip.build", "pip.build_s"),
            ("celljoin.build", "celljoin.build_s"),
            ("celljoin.exec", "celljoin.exec_s"),
            ("knn.build", "knn.build_s"),
            ("knn.exec", "knn.exec_s"),
        ):
            if name in d:
                m[metric] = d[name]
        if "pip.prefix" in d and "synth.points" in d:
            m["pip.self_s"] = d["pip.prefix"] - d["synth.points"]
        if "tiles.action" in d and "pip.prefix" in d:
            m["tiles.agg_s"] = d["tiles.action"] - d["pip.prefix"]
        derived.append(m)
    out: dict[str, float] = {
        "session.start_s": median(s[0] for s in setups),
        "session.warm_s": median(s[1] for s in setups),
        "trace.overhead_s": overhead,
    }
    for rows in (derived, ops):
        for name in {k for r in rows for k in r}:
            out[name] = median(r[name] for r in rows if name in r)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    try:
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    bench = spec()
    for d in ("spark-local", "warehouse", "tmp"):
        os.makedirs(os.path.join(WORKDIR, d), exist_ok=True)
    # Python workers import the engine from this checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # Temp files stay in the checkout, for Python and every JVM the launcher
    # starts (-XX:-UsePerfData: no /tmp/hsperfdata_<user>).
    tmp = os.path.join(WORKDIR, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData") if o
    )
    cores = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](args.seed, args.scale, cores)
    # The JIT, the Python workers and Spark's caches take a few ops to settle:
    # every set-up runs one half-size op of the same seed.
    warmer = WORKLOADS[args.workload](args.seed, args.scale / 2, cores)

    spark = None
    try:
        # Set-up is repeated and reported as a median: the first one also
        # starts the JVM, the later ones restart the SparkContext inside it.
        setups = []  # (session start, warm-up) seconds
        for i in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = session(cores)
            t1 = time.perf_counter()
            warmer.op(spark, Tracer(False))
            setups.append((t1 - t0, time.perf_counter() - t1))
        wl.reference(spark)
        # Untimed full-size ops: the JIT keeps compiling for several ops after
        # set-up (and after the reference's different plans).
        for _ in range(wl.warm_ops):
            wl.op(spark, Tracer(False))
        result = measure(args, wl, spark, setups)
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(os.path.join(WORKDIR, "spark-local"), ignore_errors=True)

    metrics = result.pop("metrics")
    if args.trace:
        # a layer this workload never calls reads 0
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        metrics = {n: metrics.get(n, 0.0) for n in units}
    else:
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    result["metrics"] = {n: {"value": float(metrics[n]), "unit": units[n]} for n in units}
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def measure(args, wl, spark, setups) -> dict:
    plain = Tracer(False)
    walls, units, fails = [], [], 0
    if not args.trace:
        while sum(walls) < args.seconds:
            wall, n, ok, res = run_op(wl, spark, plain)
            walls.append(wall)
            units.append(n)
            fails += not ok
        print(f"perfbench: set-ups (start, warm) {[tuple(round(x, 3) for x in s) for s in setups]} s, "
              f"op walls {[round(w, 3) for w in walls]} s", file=sys.stderr)
        metrics = {
            "setup_s": median(sum(s) for s in setups),
            "rows_per_s": sum(units) / sum(walls),
            "op_p50_s": median(walls),
            "ok_frac": 1 - fails / (len(walls)),
        }
        n = len(walls)
        return {"correct": fails == 0, "attempted": n, "failed": fails, "metrics": metrics}

    # Traced run: pairs of (untraced op, traced op) until the window is used,
    # at least two pairs so every per-layer median has two samples.
    store = StatusStore(spark)
    tr = Tracer(True)
    untraced, traced, ops = [], [], []
    while len(traced) < 2 or sum(untraced) + sum(traced) < args.seconds:
        wall, _, ok, res = run_op(wl, spark, plain)
        untraced.append(wall)
        fails += not ok

        tr.op = len(traced)
        probed = wl.probe(spark, tr, store)
        t0 = time.perf_counter()
        mark = store.mark()
        t1 = time.perf_counter()
        wall, _, ok, res = run_op(wl, spark, tr)
        t2 = time.perf_counter()
        st = store.since(mark)
        # traced op wall: the op itself plus reading the status stores
        traced.append(wall + (t1 - t0) + (time.perf_counter() - t2))
        fails += not ok
        if res is None:
            continue
        m = dict(probed)
        m.update(wl.layers(st, res))
        m.update({
            "spark.jobs": float(st.jobs),
            "spark.stages": float(len(st.stages)),
            "spark.task_skew": st.task_skew(),
        })
        ops.append(m)
    tr.dump(os.path.join(WORKDIR, f"trace-{wl.name}-seed{args.seed}.json"))
    metrics = per_layer(tr, ops, setups, median(traced) - median(untraced))
    n = len(untraced) + len(traced)
    return {"correct": fails == 0, "attempted": n, "failed": fails, "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
