"""The benchmark workloads, one per layer later changes are expected to move.

Each workload only calls the engine's public functions, on inputs generated
from the run's seed (the seed offsets the key range fed to
``osmgraft.synth.points_projection``) and generated inside each op, so
there is nothing to materialise up front (set-up runs a half-size op).

* ``reference`` computes the expected outputs for the checks, once;
* ``op`` is one timed unit of work, whose output ``check`` verifies.

``probe`` runs only in traced runs: extra actions that time a prefix of the
pipeline (e.g. points → noop) so a layer's share of the op can be told apart.
"""

from __future__ import annotations

from collections import Counter
from functools import reduce
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osmgraft.functions import tiles
from osmgraft.geom import pnpoly, polygon_edges
from osmgraft.operators.celljoin import cell_pip_join
from osmgraft.operators.knn import LON_SPAN, knn_join
from osmgraft.operators.pip import pip_join
from osmgraft.synth import ADMIN_BOUNDARIES, points_projection

from perfbench.statusstore import OpStats, StatusStore
from perfbench.trace import Tracer

TILE_Z = 13


def key_offset(seed: int) -> int:
    """First synthetic key of a seed's input range (keys stay below 10^12,
    the range the projection is property-tested to)."""
    return 1 + (seed % 997) * 1_000_000_007


def points(spark: SparkSession, lo: int, n: int, parts: int) -> DataFrame:
    """(point_id, lat7, lon7) for keys lo .. lo+n-1; 20 % of them fall in the
    generator's three hot spots."""
    keys = spark.range(lo, lo + n, 1, parts).select(F.col("id").alias("o_orderkey"))
    return points_projection(keys)


def digest(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    """(row count, order-free xor of row hashes) — one tiny row to the driver."""
    r = df.agg(F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*cols)).alias("x")).collect()[0]
    return int(r["n"]), int(r["x"] or 0)


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class OpResult:
    units: int  # work done: the unit rows_per_s counts
    output: object  # what check() verifies


class Workload:
    name = ""
    base_n = 0
    warm_ops = 0  # untimed full-size ops after set-up, before the timed window

    def __init__(self, seed: int, scale: float, cores: int):
        self.lo = key_offset(seed)
        self.n = max(2_000, int(self.base_n * scale))
        self.scale = scale
        self.cores = cores
        self.parts = 4 * cores

    def reference(self, spark: SparkSession) -> None:
        pass

    def op(self, spark: SparkSession, tr: Tracer) -> OpResult:
        raise NotImplementedError

    def check(self, spark: SparkSession, res: OpResult) -> bool:
        raise NotImplementedError

    def probe(self, spark: SparkSession, tr: Tracer, store: StatusStore) -> dict[str, float]:
        return {}

    def layers(self, st: OpStats, res: OpResult) -> dict[str, float]:
        """Per-layer metrics of one traced op from Spark's status stores."""
        return {}


class PipTile(Workload):
    """Broadcast STR-tree PIP (mapInArrow ray cast) → z13 tiles → counts."""

    name = "pip_tile"
    base_n = 12_000_000

    def pipeline(self, spark, n: int, tr: Tracer) -> DataFrame:
        pts = points(spark, self.lo, n, self.parts)
        with tr.span("pip.build"):
            joined = pip_join(pts, ADMIN_BOUNDARIES, how="inner")
        return (
            joined.select(
                "boundary_id",
                tiles.tile_x(F.col("lon7"), TILE_Z).alias("tx"),
                tiles.tile_y(F.col("lat7"), TILE_Z).alias("ty"),
            )
            .groupBy("boundary_id", "tx", "ty")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    def reference(self, spark):
        # Brute force on a slice: every point against every polygon, no
        # STR-tree; tile ids come from the same Spark expressions.
        n = max(2_000, self.n // 4096)
        got = {
            (r["boundary_id"], r["tx"], r["ty"]): r["cnt"]
            for r in self.pipeline(spark, n, Tracer(False)).collect()
        }
        rows = points(spark, self.lo, n, self.parts).select(
            "lat7",
            "lon7",
            tiles.tile_x(F.col("lon7"), TILE_Z).alias("tx"),
            tiles.tile_y(F.col("lat7"), TILE_Z).alias("ty"),
        ).toPandas()
        lat, lon = rows["lat7"].to_numpy(), rows["lon7"].to_numpy()
        want: Counter = Counter()
        for p in ADMIN_BOUNDARIES:
            inside = pnpoly(lat, lon, polygon_edges(p))
            for tx, ty in zip(rows["tx"].to_numpy()[inside], rows["ty"].to_numpy()[inside]):
                want[(p["boundary_id"], int(tx), int(ty))] += 1
        self.slice_ok = got == dict(want) and len(want) > 0
        self.expected = None  # the first full op's digest; later ops must match

    def op(self, spark, tr):
        counts = self.pipeline(spark, self.n, tr)
        with tr.span("tiles.action"):
            out = digest(counts, ["boundary_id", "tx", "ty", "cnt"])
        return OpResult(self.n, out)

    def check(self, spark, res):
        if self.expected is None:
            self.expected = res.output
        return self.slice_ok and res.output == self.expected and res.output[0] > 0

    def probe(self, spark, tr, store):
        pts = points(spark, self.lo, self.n, self.parts)
        with tr.span("synth.points"):
            noop(pts)
        joined = pip_join(pts, ADMIN_BOUNDARIES, how="inner")
        with tr.span("pip.prefix"):
            noop(joined)
        return self.celljoin_probe(spark, tr, store)

    def celljoin_probe(self, spark, tr, store) -> dict[str, float]:
        """The shuffle alternative to the broadcast join, on a third of the
        points: a salted cell join whose hot cells (6.7 % of the points each)
        split ceil(count / 10k) ways, 27 at 4M points. Its output must agree
        with pip_join(how="inner") on the same points."""
        cols = ["point_id", "boundary_id"]
        pts = points(spark, self.lo, self.n // 3, self.parts)
        mark = store.mark()
        with tr.span("celljoin.build"):  # includes the eager skew pre-pass
            joined = cell_pip_join(pts, ADMIN_BOUNDARIES)
        with tr.span("celljoin.exec"):
            got = digest(joined, cols)
        st = store.since(mark)
        if got != digest(pip_join(pts, ADMIN_BOUNDARIES, how="inner"), cols) or got[0] == 0:
            raise RuntimeError(f"cell_pip_join output {got} disagrees with pip_join")
        cand = st.metric("ShuffledHashJoin", "number of output rows")
        return {
            "celljoin.shuffle_bytes": float(st.shuffle_bytes),
            "celljoin.candidates": cand,
            "celljoin.refine_yield": st.metric("MapInArrow", "number of output rows") / cand,
            "celljoin.task_skew": st.join_stage_skew(),
            "celljoin.python_run_s": st.metric("MapInArrow", "time to run Python workers"),
        }

    def layers(self, st, res):
        return {
            "pip.python_run_s": st.metric("MapInArrow", "time to run Python workers"),
            "pip.python_boot_s": st.metric("MapInArrow", "time to start Python workers"),
            "pip.bytes_to_python": st.metric("MapInArrow", "data sent to Python workers"),
            "pip.bytes_from_python": st.metric("MapInArrow", "data returned from Python workers"),
            "tiles.shuffle_bytes": float(st.shuffle_bytes),
        }


class KnnRings(Workload):
    """Exact kNN by cell-ring expansion: one blocking job per ring round."""

    name = "knn_rings"
    base_n = 2_000_000
    # 11 small jobs an op, each with freshly generated code: on 4 vCPUs the
    # JIT settles only after about eight ops (JVM compile time per op: 22 s,
    # 7 s, 4 s, ... then about 1 s)
    warm_ops = 4
    base_q = 10_000
    k = 5
    cell_size = 5_000_000
    n_brute = 8  # queries checked against a brute-force scan

    def __init__(self, *a):
        super().__init__(*a)
        self.nq = max(100, int(self.base_q * self.scale))
        self.qlo = self.lo - self.lo % 5 + 500_000_000_000

    def inputs(self, spark, n, nq):
        pts = points(spark, self.lo, n, self.parts)
        # Queries are background points only (keys not divisible by 5, so
        # none sits in a hot spot): a hot-spot query's first ring holds ~7 %
        # of all points, which turns one op into a billion-row dense join.
        i = F.col("id")
        keys = spark.range(0, nq, 1, self.cores).select(
            (F.lit(self.qlo) + (i / 4).cast("long") * 5 + i % 4 + 1).alias("o_orderkey")
        )
        qs = points_projection(keys).withColumnRenamed("point_id", "query_id")
        return pts, qs

    def reference(self, spark):
        # Brute force for a few queries: every point, the same wrap-aware
        # fixed-point metric, ties broken by neighbor id.
        pts, qs = self.inputs(spark, self.n, self.nq)
        tops = []
        for q in qs.limit(self.n_brute).collect():
            dlat = F.col("lat7").cast("long") - F.lit(q["lat7"])
            dlon = F.abs(F.col("lon7").cast("long") - F.lit(q["lon7"]))
            dlon = F.least(dlon, F.lit(LON_SPAN) - dlon)
            tops.append(
                pts.select(F.lit(q["query_id"]).alias("query_id"), "point_id",
                           (dlat * dlat + dlon * dlon).alias("dist2"))
                .orderBy("dist2", "point_id")
                .limit(self.k)
            )
        self.brute = {}
        for r in reduce(DataFrame.union, tops).orderBy("query_id", "dist2", "point_id").collect():
            self.brute.setdefault(r["query_id"], []).append((r["point_id"], r["dist2"]))

    def op(self, spark, tr):
        pts, qs = self.inputs(spark, self.n, self.nq)
        with tr.span("knn.build"):
            out = knn_join(pts, qs, k=self.k, cell_size=self.cell_size)
        with tr.span("knn.exec"):
            rows = out.collect()
        return OpResult(self.nq, rows)

    def check(self, spark, res):
        by_q: dict[int, list] = {}
        for r in res.output:
            by_q.setdefault(r["query_id"], []).append((r["rank"], r["dist2"], r["neighbor_id"]))
        if len(by_q) != self.nq:
            return False
        for qid, rs in by_q.items():
            rs.sort()
            if [r[0] for r in rs] != list(range(1, self.k + 1)):
                return False
            if any((a[1], a[2]) >= (b[1], b[2]) for a, b in zip(rs, rs[1:])):
                return False
            if qid in self.brute and [(r[2], r[1]) for r in rs] != self.brute[qid]:
                return False
        return len(self.brute) == min(self.n_brute, self.nq)

    def layers(self, st, res):
        return {
            "knn.jobs": float(st.jobs),
            "knn.stages": float(len(st.stages)),
            "knn.shuffle_bytes": float(st.shuffle_bytes),
        }


WORKLOADS = {w.name: w for w in (PipTile, KnnRings)}
