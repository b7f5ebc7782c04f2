"""Repeat the benchmark over several seeds and record each metric's spread.

    python3 perfbench/steadiness.py --workloads pip_tile knn_rings --seeds 10 \
        [--out perfbench/steadiness.json]

For every workload it runs ``perfbench/run.py`` once per seed (untraced, with
BENCHMARK.json's ``run_seconds``) and reports, for each end-to-end metric, the
ten values, their median and their spread: the distance between the first and
third quartile (``statistics.quantiles(values, n=4)``) as a share of the
median. A spread must stay within the metric's bound for the benchmark to
tell a change from noise; the aim is a third of the bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else 0.0


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, float]:
    t0 = time.perf_counter()
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=200,
    )
    wall = time.perf_counter() - t0
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {out.returncode}:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1]), wall


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", nargs="+")
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    names = args.workloads or [w["name"] for w in bench["workloads"]]
    record = {}
    if args.out and os.path.exists(args.out):
        with open(args.out) as fh:  # keep other workloads' entries and notes
            record = json.load(fh)
    record.update(run_seconds=bench["run_seconds"], cores=len(os.sched_getaffinity(0)))
    record.setdefault("workloads", {})
    for w in names:
        values: dict[str, list[float]] = {m: [] for m in bounds}
        walls = []
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            res, wall = run_once(w, seed, bench["run_seconds"])
            walls.append(round(wall, 1))
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
            print(f"{w} seed {seed}: {wall:.1f} s", {m: round(v[-1], 4) for m, v in values.items()},
                  file=sys.stderr, flush=True)
        record["workloads"][w] = {
            "run_wall_s": walls,
            "metrics": {
                m: {
                    "values": v,
                    "median": statistics.median(v),
                    "spread": round(spread(v), 4),
                    "bound": bounds[m],
                    "steady": spread(v) <= bounds[m] / 3,
                }
                for m, v in values.items()
            },
        }
        print(json.dumps({w: {m: r["spread"] for m, r in record["workloads"][w]["metrics"].items()}}),
              flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(record, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
