"""Scaling-efficiency benchmark (north_rule: efficiency >= 0.8 from N to 4N).

No real cluster exists in this sandbox, so per the driver instruction the two
cluster sizes are proxied by two CPU budgets: the same job on the same
deterministic input at N cores vs 4N cores. Each level runs in its OWN
subprocess/JVM, **taskset-pinned to a disjoint physical core set** (level N on
cores 0..N-1, level 4N on the remaining cores) — without pinning, a local[N]
JVM's Python workers silently borrow the whole machine and the comparison is
meaningless. Reps are INTERLEAVED across the two live children (A B A B ...)
so slow drift in this virtualized sandbox (bursty host interference was
measured at ±30% wall) hits both levels equally; we report medians.

A raw-CPU control experiment (plain numpy busy loops at N and 4N processes)
measures the single-box hardware ceiling — same-die frequency/LLC effects
that would NOT exist across separate executor machines — and is reported
alongside, per-level throughput first.

The measured job is the flagship spatial-join + tile-assignment pipeline:
deterministic synthetic points (same generator as the oracle-gated queries,
seeded from a row id — no external data) → broadcast-STRtree ray-cast PIP
join → slippy z13 tile assignment → checksum reduce (count + sum of
boundary/tile ids: forces every join row and tile id to be computed while
keeping the reduce shuffle O(tasks), the shape a parquet sink would have).

Usage: python tools/bench_scaling.py [--rows 128000000] [--n 4] [--reps 9]
Writes BENCH/BASELINE.md and prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_CHILD = """
import json, os, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from osmgraft.session import get_spark
from osmgraft.functions import tiles
from osmgraft.operators.pip import pip_join
from osmgraft.synth import ADMIN_BOUNDARIES, points_projection

cpus = {cpus}
rows = {rows}
spark = get_spark("osmgraft-scaling-%d" % cpus, cpus=cpus)
spark.sparkContext.setLogLevel("ERROR")

def flagship():
    orders = spark.range(1, rows + 1, 1, cpus).select(
        F.col("id").alias("o_orderkey")
    )
    pts = points_projection(orders)
    joined = pip_join(pts, ADMIN_BOUNDARIES, how="inner")
    return (
        joined.select(
            "boundary_id",
            tiles.tile_x(F.col("lon7"), 13).alias("tx"),
            tiles.tile_y(F.col("lat7"), 13).alias("ty"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("tx") + F.col("ty") * F.lit(8192) + F.col("boundary_id")).alias("chk"),
        )
    )

# warm: JVM JIT, Arrow python workers, broadcast
row = flagship().collect()[0]
print(json.dumps({{"ready": True, "output": [row["n"], row["chk"]]}}), flush=True)
for line in sys.stdin:
    if line.strip() != "GO":
        break
    t0 = time.perf_counter()
    flagship().collect()
    print(json.dumps({{"wall": time.perf_counter() - t0}}), flush=True)
"""

_BURN = """
import multiprocessing as mp, time, sys, json
def burn(q, dur):
    t_end = time.perf_counter() + dur
    n = 0; x = 1.0001
    while time.perf_counter() < t_end:
        for _ in range(10000): x = x * 1.000001 % 17.3
        n += 10000
    q.put(n)
k = int(sys.argv[1])
q = mp.Queue()
ps = [mp.Process(target=burn, args=(q, 4.0)) for _ in range(k)]
[p.start() for p in ps]; [p.join() for p in ps]
print(json.dumps({"ops_per_sec": sum(q.get() for _ in ps) / 4.0}))
"""


class Level:
    def __init__(self, cpus: int, cores: str, rows: int):
        code = _CHILD.format(repo=REPO, cpus=cpus, rows=rows)
        self.cpus = cpus
        self.proc = subprocess.Popen(
            ["taskset", "-c", cores, sys.executable, "-c", code],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            text=True,
        )
        self.output = None

    def _read_json(self) -> dict:
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError(f"level {self.cpus} child died")
            line = line.strip()
            if line.startswith("{"):
                return json.loads(line)

    def wait_ready(self) -> None:
        msg = self._read_json()
        assert msg.get("ready")
        self.output = msg["output"]

    def rep(self) -> float:
        self.proc.stdin.write("GO\n")
        self.proc.stdin.flush()
        return self._read_json()["wall"]

    def close(self) -> None:
        try:
            self.proc.stdin.close()
        except Exception:
            pass
        self.proc.terminate()


def hardware_ceiling(n: int) -> float:
    """Raw busy-loop aggregate ops/sec at k processes — the same-box compute
    actually available to k cores (captures frequency scaling / LLC sharing)."""
    out = {}
    for k in (n, 4 * n):
        r = subprocess.run(
            [sys.executable, "-c", _BURN, str(k)], capture_output=True, text=True
        )
        out[k] = json.loads(r.stdout.strip().splitlines()[-1])["ops_per_sec"]
    return out[4 * n] / out[n] / 4.0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=128_000_000)
    ap.add_argument("--n", type=int, default=4, help="small level; big level is 4n")
    ap.add_argument("--reps", type=int, default=9)
    ap.add_argument(
        "--calm-gate",
        type=float,
        default=0.98,
        help="required hardware-ceiling efficiency before measuring; the "
        "sandbox host has multi-hour interference windows (BENCH/IMAGE.md "
        "§1, BENCH/DRIFT.md) during which ANY same-box scaling number is "
        "noise — a run at ceiling 0.953 measured 0.76 on code whose calm-"
        "window figure is 0.89. 0 disables.",
    )
    ap.add_argument(
        "--calm-wait-sec",
        type=int,
        default=1800,
        help="max seconds to wait (re-probing every 60 s) for a calm window",
    )
    args = ap.parse_args()
    n, n4 = args.n, 4 * args.n
    total = os.cpu_count() or 32
    assert n + n4 <= total, f"need {n + n4} cores, have {total}"

    hw_eff = hardware_ceiling(n)
    waited = 0
    while args.calm_gate and hw_eff < args.calm_gate and waited < args.calm_wait_sec:
        print(
            json.dumps(
                {"waiting_for_calm": True, "ceiling": round(hw_eff, 3),
                 "gate": args.calm_gate, "waited_sec": waited}
            ),
            file=sys.stderr,
        )
        time.sleep(60)
        waited += 60
        hw_eff = hardware_ceiling(n)
    if args.calm_gate and hw_eff < args.calm_gate:
        print(
            json.dumps(
                {"error": "no_calm_window", "ceiling": round(hw_eff, 3),
                 "gate": args.calm_gate, "waited_sec": waited}
            )
        )
        sys.exit(3)  # refuse to overwrite BASELINE.md with a noise reading

    # disjoint pinning: small level on the first n cores, big level on the rest
    lo = Level(n, f"0-{n - 1}", args.rows)
    hi = Level(n4, f"{total - n4}-{total - 1}", args.rows)
    lo.wait_ready()
    hi.wait_ready()
    assert lo.output == hi.output, "output must be parallelism-invariant"

    lo_walls, hi_walls = [], []
    for _ in range(args.reps):  # interleaved: drift hits both levels equally
        lo_walls.append(lo.rep())
        hi_walls.append(hi.rep())
    lo.close()
    hi.close()

    lo_wall = statistics.median(lo_walls)
    hi_wall = statistics.median(hi_walls)
    lo_rps = args.rows / lo_wall
    hi_rps = args.rows / hi_wall
    eff = hi_rps / lo_rps / 4.0

    summary = {
        "metric": "flagship spatial-join+tile-assign scaling efficiency",
        "rows": args.rows,
        "levels": {
            f"{n}_cores": {"wall_sec": round(lo_wall, 3), "rows_per_sec": round(lo_rps)},
            f"{n4}_cores": {"wall_sec": round(hi_wall, 3), "rows_per_sec": round(hi_rps)},
        },
        "speedup": round(hi_rps / lo_rps, 3),
        "efficiency": round(eff, 3),
        "hardware_ceiling_efficiency": round(hw_eff, 3),
        "target": 0.8,
        "pass": eff >= 0.8,
    }
    print(json.dumps(summary))

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    md = os.path.join(REPO, "BENCH", "BASELINE.md")
    with open(md, "w") as fh:
        fh.write(
            f"""# BENCH/BASELINE.md — measured numbers

## Scaling efficiency (north_rule criterion, sandbox proxy for N vs 4N executors)

Job: deterministic synthetic points ({args.rows:,} rows, same generator as the
oracle-gated queries) -> broadcast-STRtree ray-cast point-in-polygon join ->
slippy z13 tile assignment -> checksum reduce (forces every join row + tile id
to be computed; reduce shuffle is O(tasks), the shape a parquet sink has).
Same input at two CPU budgets — **{n} cores vs {n4} cores (N vs 4N)** — each
level its own JVM, taskset-pinned to a disjoint core set, {args.reps} reps
interleaved A/B to cancel sandbox noise, medians reported. Checksum output
identical at both levels (parallelism-invariant): n={lo.output[0]:,}.

| level | median wall (s) | rows/sec |
|---|---|---|
| {n} cores  (local[{n}])  | {lo_wall:.3f} | {lo_rps:,.0f} |
| {n4} cores (local[{n4}]) | {hi_wall:.3f} | {hi_rps:,.0f} |

- speedup {n}->{n4} cores: **{hi_rps / lo_rps:.2f}x** (ideal 4x)
- **scaling efficiency: {eff:.3f}** (target >= 0.8: {"PASS" if eff >= 0.8 else "FAIL"})
- hardware ceiling (same-box control): raw numpy busy loops at {n} vs {n4}
  processes scale at {hw_eff:.3f} efficiency — same-die frequency/LLC effects
  that would not exist between separate executor hosts bound any same-box
  measurement from above.

All walls ({args.reps} interleaved reps): {n}-core {[round(w, 2) for w in lo_walls]},
{n4}-core {[round(w, 2) for w in hi_walls]}.

Reproduce: `python tools/bench_scaling.py --rows {args.rows} --n {n} --reps {args.reps}`

## Headline wall-clock (driver contract)

`python bench.py` prints the per-round JSON line (flagship + per-query
timings at $SPARK_GRAFT_SF_DIR, default sf0.1, local[$SPARK_GRAFT_CPUS]);
the driver records it as BENCH_r{{N}}.json.
"""
        )
    sys.stderr.write(f"wrote {md}\n")


if __name__ == "__main__":
    main()
