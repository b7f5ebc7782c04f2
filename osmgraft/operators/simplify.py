"""Douglas-Peucker polyline simplification — the geometry-generalization
step a tile-rendering pipeline runs before drawing ways at low zoom.

EXACT integer decisions: the perpendicular-distance test compares
cross((B-A),(P-A))^2 > eps^2 * |B-A|^2 with arbitrary-precision Python
ints (fixed-point 1e-7 deg coordinates), so the kept-vertex set is a pure
function of the input — no float epsilon can flip a vertex across hosts or
partitionings.  Degenerate chords (A == B) fall back to point distance.

Scale shape: one shuffle groups way vertices by way id (bounded groups),
each way simplifies independently in an applyInPandas task; the recursion
is per-way Python over a few hundred vertices — the arbitrary-precision
ints are the cost of exactness and stay off the hot path (counts, joins,
rasters remain JVM-side).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from osmgraft.io import read_fixture


def dp_keep_indices(pts: list[tuple[int, int]], eps7: int) -> list[int]:
    """Indices of vertices Douglas-Peucker keeps (endpoints always)."""
    n = len(pts)
    if n <= 2:
        return list(range(n))
    keep = [False] * n
    keep[0] = keep[n - 1] = True
    eps2 = eps7 * eps7
    stack = [(0, n - 1)]
    while stack:
        a, b = stack.pop()
        if b - a < 2:
            continue
        ay, ax = pts[a]
        by, bx = pts[b]
        dy, dx = by - ay, bx - ax
        den = dy * dy + dx * dx
        best, best_i = -1, -1
        for i in range(a + 1, b):
            py, px = pts[i]
            if den == 0:
                d_num, d_den = (py - ay) ** 2 + (px - ax) ** 2, 1
            else:
                cross = dy * (px - ax) - dx * (py - ay)
                d_num, d_den = cross * cross, den
            # compare d_num/d_den against current best exactly
            if best_i < 0 or d_num * best_den > best * d_den:
                best, best_den, best_i = d_num, d_den, i
        if best_i >= 0 and best > eps2 * best_den:
            keep[best_i] = True
            stack.append((a, best_i))
            stack.append((best_i, b))
    return [i for i in range(n) if keep[i]]


def simplify_ways(
    ways: DataFrame, eps7: int, id_col: str = "way_id", nodes_col: str = "nodes"
) -> DataFrame:
    """(way_id, nodes array<struct<lat7,lon7>>) -> kept vertices
    (way_id, pos, lat7, lon7) with original positions preserved."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        out = {"way_id": [], "pos": [], "lat7": [], "lon7": []}
        for r in pdf.itertuples():
            pts = [(int(p["lat7"]), int(p["lon7"])) for p in getattr(r, nodes_col)]
            for i in dp_keep_indices(pts, eps7):
                out["way_id"].append(getattr(r, id_col))
                out["pos"].append(i)
                out["lat7"].append(pts[i][0])
                out["lon7"].append(pts[i][1])
        return pd.DataFrame(out)

    return ways.groupBy(id_col).applyInPandas(
        run, schema="way_id long, pos int, lat7 long, lon7 long"
    )


# --- parametric fixture with a closed-form DP result -------------------------
#
# Per orders bucket b: an open 3-edge staircase path C0->C1->C2->C3 with
#   lat0 = (-500 + (b*149) % 1000) * 1e6, lon0 = (-1600 + (b*257) % 3200) * 1e6
#   L = (b%5 + 2) * 1_200_000   (divisible by every k below)
#   C0=(lat0,lon0) C1=(lat0,lon0+L) C2=(lat0+L,lon0+L) C3=(lat0+L,lon0)
# each edge subdivided into k = b%3 + 2 exactly-collinear pieces, and the
# FIRST subdivision vertex of edges 0..nb-1 (nb = b%3 + 1) displaced
# perpendicular by BUMP = 5000 (0.5 mdeg).  DP at eps7 = 4000 must keep
# exactly the 4 corners + the nb bumps: collinear vertices deviate 0,
# bumps deviate 5000 > 4000 while post-split secondary deviations cap at (k-2)/(k-1)*5000 <= 3333 < 4000, corners deviate ~L >> 4000 — so the oracle
# can state the kept set in closed form while Spark runs the real
# recursion.

BUMP = 5000
DP_EPS = 4000


def dp_fixture_way(b: int):
    lat0 = (-500 + (b * 149) % 1000) * 1_000_000
    lon0 = (-1600 + (b * 257) % 3200) * 1_000_000
    L = (b % 5 + 2) * 1_200_000
    k = b % 3 + 2
    nb = b % 3 + 1
    corners = [
        (lat0, lon0), (lat0, lon0 + L), (lat0 + L, lon0 + L), (lat0 + L, lon0)
    ]
    pts = []
    for e in range(3):
        a, c = corners[e], corners[e + 1]
        for j in range(k):
            v = (a[0] + (c[0] - a[0]) * j // k, a[1] + (c[1] - a[1]) * j // k)
            if j == 1 and e < nb:
                # perpendicular displacement: edges 0/2 run along lon -> +lat;
                # edge 1 runs along lat -> +lon
                v = (v[0] + BUMP, v[1]) if e != 1 else (v[0], v[1] + BUMP)
            pts.append(v)
    pts.append(corners[3])
    return 4_000_000_000 + b, pts


def dp_fixture_df(spark, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    buckets = [
        int(r[0])
        for r in read_fixture(spark, sf_dir, "orders")
        .select((F.col("o_custkey") % 97).alias("b"))
        .distinct()
        .collect()
    ]
    rows = []
    for b in sorted(buckets):
        wid, pts = dp_fixture_way(b)
        rows.append((wid, [{"lat7": la, "lon7": lo} for la, lo in pts]))
    return spark.createDataFrame(
        rows, "way_id long, nodes array<struct<lat7: long, lon7: long>>"
    ).repartition(8, "way_id")


def sql_dp_expected() -> str:
    """Closed-form DuckDB twin: the kept set is corners + bumps."""
    return f"""WITH b AS (SELECT DISTINCT o_custkey % 97 AS b FROM orders),
d AS (SELECT b,
  (-500 + (b * 149) % 1000) * 1000000 AS lat0,
  (-1600 + (b * 257) % 3200) * 1000000 AS lon0,
  (b % 5 + 2) * 1200000 AS L,
  b % 3 + 2 AS k,
  b % 3 + 1 AS nb
  FROM b),
corners AS (
  SELECT b, 0 AS pos, lat0 AS lat7, lon0 AS lon7 FROM d
  UNION ALL SELECT b, k, lat0, lon0 + L FROM d
  UNION ALL SELECT b, 2 * k, lat0 + L, lon0 + L FROM d
  UNION ALL SELECT b, 3 * k, lat0 + L, lon0 FROM d),
bumps AS (
  SELECT d.b, e.e * d.k + 1 AS pos,
    CASE e.e
      WHEN 0 THEN d.lat0 + {BUMP}
      WHEN 1 THEN d.lat0 + d.L // d.k
      ELSE d.lat0 + d.L + {BUMP} END AS lat7,
    CASE e.e
      WHEN 0 THEN d.lon0 + d.L // d.k
      WHEN 1 THEN d.lon0 + d.L + {BUMP}
      ELSE d.lon0 + d.L - d.L // d.k END AS lon7
  FROM d JOIN (VALUES (0), (1), (2)) e(e) ON e.e < d.nb)
SELECT CAST(4000000000 + b AS BIGINT) AS way_id, CAST(pos AS INTEGER) AS pos,
       CAST(lat7 AS BIGINT) AS lat7, CAST(lon7 AS BIGINT) AS lon7
FROM (SELECT * FROM corners UNION ALL SELECT * FROM bumps)"""
