"""Interleaved min-of-N re-measurement of the driver-bench headline set —
the r2 verdict's ask #4: the r1→r2 single-shot drift (11/14 queries slower,
q1 2.1× on unchanged JVM code) needed a noise-controlled measurement.

Protocol (the discipline tools/bench_scaling.py established):
  1. calm-window gate: only measure when the 4→16-core busy-loop scaling
    probe reports ≥0.93 of ideal (this host has multi-second stall windows
    that poison medians and single shots — BENCH/IMAGE.md §1);
  2. N interleaved passes over the whole query list (machine-state noise
    lands on every query equally instead of whichever ran last);
  3. per-query MIN (the only statistic robust to the stall windows).

Usage: python tools/bench_drift.py [passes]   (default 5; prints one JSON)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    "tile_counts_z13",
    "pip_inner",
    "q1_pricing_summary",
    "top_event_types",
    "image_geo_tiles",
    "way_nodes_resolution",
    "embedding_topk_fast",
    "osc_apply_events",
    "knn_k5",
    "cell_counts_h3_r7",
    "cell_counts_s2_l13",
    "dedup_minhash_lsh",
]


def main() -> None:
    passes = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from tools.bench_scaling import hardware_ceiling

    for attempt in range(10):
        ceiling = hardware_ceiling(4)
        if ceiling >= 0.93:
            break
        print(f"# degraded window (ceiling {ceiling:.2f}) — waiting", file=sys.stderr)
        time.sleep(20)

    from osmgraft.io import read_fixture
    from osmgraft.queries import REGISTRY
    from osmgraft.session import get_spark

    spark = get_spark("bench-drift", cpus=32)
    spark.sparkContext.setLogLevel("ERROR")
    read_fixture(spark, sf_dir, "orders").count()
    spark.range(1000).repartition(32).mapInPandas(lambda it: it, schema="id long").count()

    walls: dict[str, list[float]] = {q: [] for q in QUERIES}
    for q in QUERIES:  # warm pass (plans, fixtures, python workers)
        REGISTRY[q][0](spark, sf_dir).count()
    for _ in range(passes):
        for q in QUERIES:
            t0 = time.perf_counter()
            REGISTRY[q][0](spark, sf_dir).count()
            walls[q].append(time.perf_counter() - t0)
    out = {
        "protocol": f"interleaved min-of-{passes}, calm-window ceiling {ceiling:.3f}",
        "queries": {q: round(min(w), 3) for q, w in walls.items()},
        "all_reps": {q: [round(x, 3) for x in w] for q, w in walls.items()},
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
