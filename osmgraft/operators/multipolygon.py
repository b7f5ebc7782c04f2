"""OSM multipolygon assembly: relation member ways -> closed rings -> areas.

The reference's data model stops at relation-member resolution (osmio
lib.rs:477-479 resolves members through the same id lookup as way nodes);
real OSM consumers then ASSEMBLE multipolygon relations: stitch unordered,
arbitrarily-oriented member ways into closed rings, classify outer/inner
nesting, and compute areas.  This operator provides that as a first-class
distributed op.

Semantics (osmium/osm2pgsql-style, role-free):
  * ways stitch end-to-end; a way may need reversing; junctions match on
    exact (lat7, lon7) fixed-point vertices; ties (>=2 candidate ways at an
    endpoint) break to the smallest way_id for determinism.
  * a ring closes when the chain returns to its starting vertex; an
    already-closed way is a ring by itself.
  * outer/inner is inferred GEOMETRICALLY by containment parity (a ring
    inside an odd number of other rings is a hole), not trusted from roles.
  * areas are twice-shoelace integers on ring-local-origin coordinates
    (exact int64, no float) in 1e-7-deg^2 x 2 units.

Scale shape (10^12 rows): one shuffle groups member ways by relation id
(relations are small, bounded groups — thousands of ways at worst), then
each relation assembles independently in an applyInPandas task.  Skewed
mega-relations would shuffle-salt like any hot key; geometry stays integer
so output is partitioning-invariant.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from osmgraft.io import read_fixture


def _shoelace2(ring: list[tuple[int, int]]) -> int:
    """Twice the signed shoelace area, exact integers, ring-local origin
    (keeps cross terms ~1e14 — far inside int64 even for huge rings)."""
    la0 = min(p[0] for p in ring)
    lo0 = min(p[1] for p in ring)
    s = 0
    n = len(ring)
    for i in range(n):
        a_la, a_lo = ring[i][0] - la0, ring[i][1] - lo0
        b_la, b_lo = ring[(i + 1) % n][0] - la0, ring[(i + 1) % n][1] - lo0
        s += a_lo * b_la - b_lo * a_la
    return s


def _point_in_ring(lat: int, lon: int, ring: list[tuple[int, int]]) -> bool:
    """Even-odd ray cast (same convention as geom.pnpoly), exact ints."""
    inside = False
    n = len(ring)
    for i in range(n):
        (y1, x1), (y2, x2) = ring[i], ring[(i + 1) % n]
        if (y1 > lat) != (y2 > lat):
            # crossing iff lon < x-intersection, cross-multiplied exactly:
            # C = (lat-y1)*dx - (lon-x1)*dy; dy>0 -> C>0, dy<0 -> C<0.
            # Both directions STRICT so an on-edge point classifies the
            # same way regardless of edge orientation (review fix: the old
            # `(lhs > rhs) == (dy > 0)` made the descending branch
            # inclusive, flipping containment parity with way direction)
            dx, dy = x2 - x1, y2 - y1
            c = (lat - y1) * dx - (lon - x1) * dy
            if (c > 0) if dy > 0 else (c < 0):
                inside = not inside
    return inside


def assemble_rings(ways: list[tuple[int, list[tuple[int, int]]]]):
    """Stitch (way_id, vertices) members into closed rings.  Returns a list
    of vertex rings (closing duplicate stripped).  Raises ValueError on an
    unclosable chain (dangling endpoint) — a data error upstream should see,
    not silently absorb."""
    pending: dict[int, list[tuple[int, int]]] = {
        wid: list(map(tuple, pts)) for wid, pts in ways
    }
    rings = []
    while pending:
        wid = min(pending)
        chain = pending.pop(wid)
        while chain[0] != chain[-1]:
            end = chain[-1]
            # smallest-way_id candidate whose either endpoint meets the end
            nxt = None
            for cid in sorted(pending):
                pts = pending[cid]
                if pts[0] == end or pts[-1] == end:
                    nxt = cid
                    break
            if nxt is None:
                raise ValueError(
                    f"unclosable ring: dangling endpoint {end} after way {wid}"
                )
            pts = pending.pop(nxt)
            if pts[-1] == end:
                pts = pts[::-1]
            chain.extend(pts[1:])
        rings.append(chain[:-1])  # strip closing duplicate
    return rings


def assemble_multipolygons(member_ways: DataFrame) -> DataFrame:
    """member_ways: (rel_id long, way_id long, nodes array<struct<lat7 long,
    lon7 long>>) -> per relation: ring counts and exact integer areas.

    Output: rel_id, n_rings, n_outer, n_inner, area2_outer (sum |2A| over
    outer rings), area2_inner, area2_net."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        rel = int(pdf["rel_id"].iloc[0])
        ways = [
            (int(r.way_id), [(int(p["lat7"]), int(p["lon7"])) for p in r.nodes])
            for r in pdf.itertuples()
        ]
        rings = assemble_rings(ways)
        # containment parity: ring i is inner iff inside an odd number of
        # other rings (test any vertex — rings from valid OSM data don't
        # cross each other)
        inner = []
        for i, r in enumerate(rings):
            depth = sum(
                1
                for j, other in enumerate(rings)
                if j != i and _point_in_ring(r[0][0], r[0][1], other)
            )
            inner.append(depth % 2 == 1)
        a2 = [abs(_shoelace2(r)) for r in rings]
        area_out = sum(a for a, h in zip(a2, inner) if not h)
        area_in = sum(a for a, h in zip(a2, inner) if h)
        return pd.DataFrame(
            {
                "rel_id": [rel],
                "n_rings": [len(rings)],
                "n_outer": [int(sum(not h for h in inner))],
                "n_inner": [int(sum(inner))],
                "area2_outer": [area_out],
                "area2_inner": [area_in],
                "area2_net": [area_out - area_in],
            }
        )

    return member_ways.groupBy("rel_id").applyInPandas(
        build,
        schema=(
            "rel_id long, n_rings int, n_outer int, n_inner int, "
            "area2_outer long, area2_inner long, area2_net long"
        ),
    )


# --- deterministic parametric fixture (closed-form oracle) -------------------
#
# Multipolygon relations derived from the orders table's bucket set
# (b = o_custkey % 97, the same bucketing the relation-resolution fixture
# uses).  Every quantity below is a pure integer function of b, so the
# DuckDB oracle states the assembled result in CLOSED FORM while Spark must
# actually run the ring walk on shuffled, partially-reversed, split ways —
# a spec-as-oracle gate (same pattern as image_roundtrip_fidelity).
#
# Per bucket b (all 1e-7 deg fixed-point):
#   lat0 = (-600 + (b*137) % 1200) * 1e6,  lon0 = (-1700 + (b*271) % 3400) * 1e6
#   w = (b%7 + 2) * 1e6,  h = (b%5 + 2) * 1e6
#   outer rect (lat0, lon0)..(lat0+h, lon0+w): 4 boundary ways, the south
#     edge split in two when b%3 == 0, ways 1 and 3 stored REVERSED when
#     b%2 == 1
#   hole rect inset by (q_lat, q_lon) = (h//4, w//4): 2 L-shaped ways, the
#     second reversed when b%5 == 2
#   a second, disjoint outer (single already-closed way) at lon0+3w, size
#     w x h//2, when b%11 == 0


def mp_fixture_ways(b: int):
    """The member ways (way_id, vertex list) for bucket b — see above."""
    lat0 = (-600 + (b * 137) % 1200) * 1_000_000
    lon0 = (-1700 + (b * 271) % 3400) * 1_000_000
    w = (b % 7 + 2) * 1_000_000
    h = (b % 5 + 2) * 1_000_000
    lat1, lon1 = lat0 + h, lon0 + w
    rid = 3_000_000_000 + b
    ways = []
    south = [(lat0, lon0), (lat0, lon1)]
    if b % 3 == 0:
        mid = lon0 + w // 2
        ways.append((rid * 100 + 0, [(lat0, lon0), (lat0, mid)]))
        ways.append((rid * 100 + 1, [(lat0, mid), (lat0, lon1)]))
    else:
        ways.append((rid * 100 + 0, south))
    e = [(lat0, lon1), (lat1, lon1)]
    n = [(lat1, lon1), (lat1, lon0)]
    wst = [(lat1, lon0), (lat0, lon0)]
    if b % 2 == 1:
        e, wst = e[::-1], wst[::-1]
    ways.append((rid * 100 + 2, e))
    ways.append((rid * 100 + 3, n))
    ways.append((rid * 100 + 4, wst))
    qa, qo = h // 4, w // 4
    hla0, hlo0, hla1, hlo1 = lat0 + qa, lon0 + qo, lat1 - qa, lon1 - qo
    h1 = [(hla0, hlo0), (hla0, hlo1), (hla1, hlo1)]
    h2 = [(hla1, hlo1), (hla1, hlo0), (hla0, hlo0)]
    if b % 5 == 2:
        h2 = h2[::-1]
    ways.append((rid * 100 + 5, h1))
    ways.append((rid * 100 + 6, h2))
    if b % 11 == 0:
        ola, olo = lat0, lon0 + 3 * w
        oh = h // 2
        ways.append((
            rid * 100 + 7,
            [(ola, olo), (ola, olo + w), (ola + oh, olo + w), (ola + oh, olo),
             (ola, olo)],
        ))
    return rid, ways


def mp_fixture_df(spark, sf_dir: str) -> DataFrame:
    """Member-way DataFrame over the buckets present in orders, rows
    deliberately shuffled across partitions (hash repartition) so assembly
    cannot lean on input order."""
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
        rid, ways = mp_fixture_ways(b)
        for wid, pts in ways:
            rows.append(
                (rid, wid, [{"lat7": la, "lon7": lo} for la, lo in pts])
            )
    df = spark.createDataFrame(
        rows,
        "rel_id long, way_id long, nodes array<struct<lat7: long, lon7: long>>",
    )
    return df.repartition(8, "way_id")


def sql_mp_expected() -> str:
    """Closed-form DuckDB twin of assemble_multipolygons over the fixture."""
    return """WITH b AS (SELECT DISTINCT o_custkey % 97 AS b FROM orders),
dims AS (SELECT b,
  (b % 7 + 2) * 1000000 AS w,
  (b % 5 + 2) * 1000000 AS h
  FROM b)
SELECT CAST(3000000000 + b AS BIGINT) AS rel_id,
  CAST(2 + CASE WHEN b % 11 = 0 THEN 1 ELSE 0 END AS INTEGER) AS n_rings,
  CAST(1 + CASE WHEN b % 11 = 0 THEN 1 ELSE 0 END AS INTEGER) AS n_outer,
  CAST(1 AS INTEGER) AS n_inner,
  CAST(2 * w * h + CASE WHEN b % 11 = 0 THEN 2 * w * (h // 2) ELSE 0 END AS BIGINT) AS area2_outer,
  CAST(2 * (w - 2 * (w // 4)) * (h - 2 * (h // 4)) AS BIGINT) AS area2_inner,
  CAST(2 * w * h + CASE WHEN b % 11 = 0 THEN 2 * w * (h // 2) ELSE 0 END
       - 2 * (w - 2 * (w // 4)) * (h - 2 * (h // 4)) AS BIGINT) AS area2_net
FROM dims"""


def chain_route_ways(members: DataFrame) -> DataFrame:
    """ROUTE relation assembly — the LINEAR twin of multipolygon ring
    assembly (osmio surfaces relation members generically, relations.rs;
    route relations — bus lines, hiking trails — are the other big consumer
    besides multipolygons): given each route's member ways as UNORDERED
    directed segments (way_id, ax, ay, bx, by), recover the traversal
    order purely from endpoint connectivity.

    Semantics: a well-formed route is a simple open path — every interior
    endpoint shared by exactly two members, one unique start (a head
    endpoint that is no member's tail).  The kernel walks the successor map
    from that start; ``complete`` is FALSE when the walk doesn't cover all
    members or a next-hop is ambiguous/missing (branching, gaps, loops) —
    malformed routes are flagged, not silently truncated (the ring
    assembler's discipline).

    Scale shape: ONE shuffle groups members per route; chains are
    relation-sized (bounded tens), so the per-group kernel is O(members)
    dict walking — route COUNT carries the 100 TB scale, not route size."""
    import pandas as pd

    def chain(pdf: pd.DataFrame) -> pd.DataFrame:
        rid = pdf["route_id"].iloc[0]
        nxt = {}
        tails = set()
        dup_head = False
        for r in pdf.itertuples(index=False):
            h = (r.ax, r.ay)
            if h in nxt:
                dup_head = True
            nxt[h] = (int(r.way_id), (r.bx, r.by))
            tails.add((r.bx, r.by))
        starts = [h for h in nxt if h not in tails]
        out_pos, out_way = [], []
        if len(starts) == 1 and not dup_head:
            cur = starts[0]
            seen = 0
            while cur in nxt and seen < len(pdf):
                way, cur = nxt[cur]
                out_pos.append(seen)
                out_way.append(way)
                seen += 1
        complete = len(out_way) == len(pdf)
        if not complete:  # flag the route once; no partial ordering leaks out
            return pd.DataFrame(
                {"route_id": [rid], "pos": [-1], "way_id": [-1], "complete": [False]}
            )
        return pd.DataFrame(
            {
                "route_id": [rid] * len(out_way),
                "pos": out_pos,
                "way_id": out_way,
                "complete": [True] * len(out_way),
            }
        )

    return members.select(
        "route_id", "way_id", "ax", "ay", "bx", "by"
    ).groupBy("route_id").applyInPandas(
        chain, schema="route_id long, pos long, way_id long, complete boolean"
    )
