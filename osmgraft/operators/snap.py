"""Map matching: snap points to the nearest road segment (ball semantics).

The nearest-neighbor-to-SEGMENT sibling of the point kNN family
(operators/knn.py) — the reference resolves way geometry by joining node ids
(S21, way.rs + node_id_pos.rs); a map-matching engine must go one step
further and assign arbitrary GPS/image points to the nearest way *segment*.

Exactness: point-to-segment distance needs a projection parameter
t = dot(AP,AB)/|AB|^2 — a rational whose cross-segment comparison overflows
int64.  Instead the projection is quantized to a fixed grid t_q =
round(t * Q) with Q = 2^14, making every candidate's squared distance an
INTEGER over the common denominator Q^2:

    d2q = (apx*Q - abx*t_q)^2 + (apy*Q - aby*t_q)^2

a well-defined deterministic function (distance to the t-grid-quantized
closest point, within |AB|/(2Q) — sub-centimeter at fixed-point 1e7 scale —
of the true distance) that both engines evaluate bit-identically in pure
int64: no IEEE, no rational compare.  Overflow is impossible by
construction: callers bound |AP| <= guard (Chebyshev pre-filter applied on
BOTH engines, so candidate sets match exactly) and |AB| <= seg_len_max, and
``_check_bounds`` rejects parameter combinations whose worst case exceeds
2^62.

Plan shape (the 100 TB story): segments are exploded onto a radius-sized
integer grid covering their bbox expanded by the snap radius (<= ~25 cells
per road-length segment), points key by their single containing cell, so one
equi-join on cell id produces a provably complete candidate set (any segment
within `radius` of P has its expanded bbox covering P, hence P's cell).  The
join shuffles on uniformly-hashed cell ids; the exact filter + one window
argmin finish it.  No cross join, no driver loop, whole-stage codegen
throughout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from osmgraft.functions.cells import floordiv

Q_BITS = 14  # projection-grid resolution: t in {0, 1/Q, ..., 1}, Q = 2^14


def _check_bounds(radius: int, guard: int, seg_len_max: int) -> int:
    """Worst-case |dxq| given the caller's bounds; raises if d2q could
    overflow int64 (2 * dxq_max^2 < 2^63 must hold)."""
    q = 1 << Q_BITS
    if guard < radius + seg_len_max:
        raise ValueError(
            f"guard {guard} must be >= radius+seg_len_max "
            f"{radius + seg_len_max} or true matches get pre-filtered away"
        )
    dxq_max = guard * q + seg_len_max * q  # apx*Q - abx*t_q, t_q <= Q
    if 2 * dxq_max * dxq_max >= 1 << 63:
        raise ValueError(f"d2q worst case 2*{dxq_max}^2 overflows int64")
    return dxq_max


def snap_formula_sql(
    px: str, py: str, ax: str, ay: str, bx: str, by: str, *, div: str, guard: int
) -> str:
    """The quantized point-to-segment squared distance as ONE SQL expression.

    `div` is the engine's integer-division operator ('div' for Spark SQL,
    '//' for DuckDB) — operands are strictly positive on that branch, where
    truncating and flooring division coincide, so the two spellings are the
    same function.  Both engines consume this exact text: shape-identical
    int64 math is the cross-engine gate.

    AP is clamped to ±guard INSIDE the expression: an optimizer is free to
    evaluate this formula before the caller's Chebyshev guard predicate
    (DuckDB reorders pushed-down conjuncts), so the formula must be total —
    clamped rows compute a garbage-but-bounded d2q and are then dropped by
    the very guard predicate that makes the clamp a no-op on surviving rows."""
    q = 1 << Q_BITS

    def clamp(e: str) -> str:
        return f"LEAST(GREATEST({e}, {-guard}), {guard})"

    abx, aby = f"({bx} - {ax})", f"({by} - {ay})"
    apx, apy = f"({clamp(f'{px} - {ax}')})", f"({clamp(f'{py} - {ay}')})"
    den = f"({abx} * {abx} + {aby} * {aby})"
    num = f"({apx} * {abx} + {apy} * {aby})"
    tq = (
        f"(CASE WHEN {den} = 0 OR {num} <= 0 THEN 0 "
        f"WHEN {num} >= {den} THEN {q} "
        f"ELSE (2 * {num} * {q} + {den}) {div} (2 * {den}) END)"
    )
    dxq = f"({apx} * {q} - {abx} * {tq})"
    dyq = f"({apy} * {q} - {aby} * {tq})"
    return f"({dxq} * {dxq} + {dyq} * {dyq})"


def snap_points_to_segments(
    points: DataFrame,
    segments: DataFrame,
    *,
    radius: int,
    seg_len_max: int,
    guard: int | None = None,
) -> DataFrame:
    """(point_id, x, y) x (seg_id, ax, ay, bx, by) -> nearest segment per
    point within `radius` (planar integer chart coords): one row
    (point_id, seg_id, d2q) per matched point, argmin by quantized squared
    distance with seg_id tie-break.

    `seg_len_max` is the caller's promise on max |B-A| per axis; `guard`
    (default radius + seg_len_max) is the Chebyshev |AP| pre-filter bound —
    it must be applied identically by any cross-engine twin so candidate
    sets match and int64 bounds hold (see module docstring).
    """
    guard = radius + seg_len_max if guard is None else guard
    _check_bounds(radius, guard, seg_len_max)
    q = 1 << Q_BITS
    g = radius  # grid pitch = radius: point cell + expanded seg bbox cover

    seg_cells = segments.select(
        "seg_id",
        "ax",
        "ay",
        "bx",
        "by",
        F.explode(
            F.sequence(
                floordiv(F.least("ax", "bx") - F.lit(radius), g),
                floordiv(F.greatest("ax", "bx") + F.lit(radius), g),
            )
        ).alias("cx"),
    ).select(
        "*",
        F.explode(
            F.sequence(
                floordiv(F.least("ay", "by") - F.lit(radius), g),
                floordiv(F.greatest("ay", "by") + F.lit(radius), g),
            )
        ).alias("cy"),
    )
    pt_cells = points.select(
        "point_id",
        "x",
        "y",
        floordiv(F.col("x"), g).alias("cx"),
        floordiv(F.col("y"), g).alias("cy"),
    )
    cand = pt_cells.join(seg_cells, ["cx", "cy"]).filter(
        (F.abs(F.col("x") - F.col("ax")) <= F.lit(guard))
        & (F.abs(F.col("y") - F.col("ay")) <= F.lit(guard))
    )
    d2q = F.expr(
        snap_formula_sql("x", "y", "ax", "ay", "bx", "by", div="div", guard=guard)
    )
    ranked = (
        cand.select("point_id", "seg_id", d2q.alias("d2q"))
        .filter(F.col("d2q") <= F.lit(radius * radius * q * q))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("point_id").orderBy("d2q", "seg_id")
            ),
        )
    )
    return ranked.filter(F.col("rn") == 1).select("point_id", "seg_id", "d2q")


# --- nearest CONSTANT vertex: the unmatched-point assignment projection --------
#
# The pip anti-join leaves points inside no boundary; a curation pipeline
# still wants them ASSIGNED somewhere ("closest admin anchor").  With the
# polygon set small enough to broadcast (the pip.py premise), nearest-vertex
# is not even a join: the vertex list compiles into ONE literal array of
# (d2, boundary_id, vidx) structs per row, array_min takes the lexicographic
# argmin, a filter applies the radius — a flat whole-stage-codegen projection
# with ZERO shuffles and zero Python, the cheapest possible 100 TB shape
# (contrast knn.py, which earns its ring expansion only when the right side
# is itself huge).


def vertex_d2_sql(px: str, py: str, vx, vy, *, guard: int) -> str:
    """Clamped squared distance (px,py)→(vx,vy) as ONE engine-neutral SQL
    expression over int64: each axis delta is clamped to ±guard BEFORE
    squaring, so the expression is total (no overflow for any globe-range
    fixed-point input: 2·guard² must stay < 2^63) and EXACT for every
    candidate strictly inside the guard — clamped rows compute a
    garbage-but-≥guard² value that the caller's d2 < guard² radius filter
    drops, the same totality discipline as snap_formula_sql."""
    if 2 * guard * guard >= 1 << 63:
        raise ValueError(f"guard {guard}: 2*guard^2 overflows int64")

    def clamp(e: str) -> str:
        return f"LEAST(GREATEST({e}, {-guard}), {guard})"

    # globe-range deltas reach 3.6e9 — force int64 BEFORE subtracting so
    # 32-bit point columns can't overflow under ANSI mode (either engine)
    dx = clamp(f"(CAST({px} AS BIGINT) - {vx})")
    dy = clamp(f"(CAST({py} AS BIGINT) - {vy})")
    return f"({dx} * {dx} + {dy} * {dy})"


def nearest_vertex(
    points: DataFrame,
    vertices: list[tuple[int, int, int, int]],
    *,
    guard: int,
    px: str = "lon7",
    py: str = "lat7",
) -> DataFrame:
    """Per point: the nearest of a CONSTANT vertex list, strictly within
    ``guard`` (squared L2 in fixed-point units, int64-exact).

    vertices: (boundary_id, vidx, vlat, vlon) rows.  Output = the input
    columns + (boundary_id, vidx, d2) of the argmin, tie-broken by
    (d2, boundary_id, vidx); points whose nearest vertex sits at
    d2 >= guard² are dropped (inner radius semantics).  The clamp in
    vertex_d2_sql only ever LOWERS a candidate's d2, so a clamped far
    vertex (d2 ≥ guard²) can never beat a true in-radius candidate —
    the argmin over clamped values is the true argmin on surviving rows."""
    if not vertices:
        raise ValueError("nearest_vertex needs a non-empty vertex list")
    entries = [
        F.struct(
            F.expr(vertex_d2_sql(px, py, vlon, vlat, guard=guard)).alias("d2"),
            F.lit(int(bid)).cast("long").alias("boundary_id"),
            F.lit(int(vidx)).cast("long").alias("vidx"),
        )
        for bid, vidx, vlat, vlon in vertices
    ]
    m = F.array_min(F.array(*entries))
    return (
        points.withColumn("_nv", m)
        .filter(F.col("_nv.d2") < F.lit(guard * guard))
        .select(
            *points.columns,
            F.col("_nv.boundary_id").alias("boundary_id"),
            F.col("_nv.vidx").alias("vidx"),
            F.col("_nv.d2").alias("d2"),
        )
    )


# --- HMM map matching (Viterbi over candidate nodes) --------------------------


def viterbi_match(
    points: "DataFrame",
    nodes: "DataFrame",
    n_cand: int = 4,
    shift_bits: int = 10,
    lam: int = 1,
) -> "DataFrame":
    """HMM-style map matching (the Newson–Krumm shape, integer-exact
    skeleton): each track point takes its ``n_cand`` nearest road nodes as
    hidden-state candidates (emission = reduced squared distance point→node)
    and Viterbi picks the jointly-cheapest node SEQUENCE, where a step's
    transition cost is the reduced squared distance between consecutive
    matched nodes × ``lam`` — continuity, the thing independent per-point
    snapping (snap_points_to_segments) cannot express: a noisy point near a
    parallel road matches the road its neighbors are on.

    Integer-exact throughout so the DP hash-gates cross-engine: coordinates
    shift to non-negative (truncating div == floor div on both engines) and
    reduce by 2^shift_bits before squaring — worst-case cost sums stay far
    inside int64.  Candidate sets are deterministic ((emis, node_id)-ordered
    window top-C); every DP argmin (parent choice AND final state) resolves
    ties to the LOWEST candidate rank in that order, so the PATH is a
    unique deterministic function of the input, not just the cost.

    Scale shape: nodes (the road graph's matchable vertices — bounded,
    broadcastable per region at 100 TB; beyond that the celljoin cell-key
    candidate generator replaces the crossJoin) broadcast into one
    window-pruned candidate pass; tracks then collapse to ONE packed-array
    row each (the same shuffle the window needed) and the DP runs BATCHED
    across tracks in a single mapInPandas — tracks of equal length stack
    into (n_tracks, len, n_cand) tensors and every DP step/backtrack is one
    numpy op over the whole class (a per-track applyInPandas was measured
    15× slower at 15 k tracks: per-group pandas overhead dominates a 6×4
    DP).  Output: one row per point (track_id, seq, node_id, total_cost)
    with total_cost the track's joint optimum repeated per row (so
    per-track projections need no second agg).

    Reference semantics anchor: osmio resolves way geometry by node-id join
    (way.rs) — this is the inverse assignment, GPS/image points back onto
    the way graph."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    red = lambda c, off: (  # noqa: E731
        (c.cast("long") + F.lit(off)) / F.lit(1 << shift_bits)
    ).cast("long")
    # shift to non-negative BEFORE the power-of-two reduction: for
    # non-negative ints a power-of-two FP division then long-cast is exact
    # floor (values < 2^32, so the double is exact), matching DuckDB `//`
    nx = red(F.col("lon7"), 1_800_000_000)
    ny = red(F.col("lat7"), 900_000_000)
    nd = nodes.select(
        F.col("node_id"),
        nx.alias("cnx"),
        ny.alias("cny"),
    )
    px = points.select(
        "track_id",
        "seq",
        nx.alias("pnx"),
        ny.alias("pny"),
    )
    d2 = (F.col("pnx") - F.col("cnx")) * (F.col("pnx") - F.col("cnx")) + (
        F.col("pny") - F.col("cny")
    ) * (F.col("pny") - F.col("cny"))
    w = Window.partitionBy("track_id", "seq").orderBy("emis", "node_id")
    cand = (
        px.crossJoin(F.broadcast(nd))
        .withColumn("emis", d2)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_cand)
        .select("track_id", "seq", "node_id", "cnx", "cny", "emis")
    )

    # one packed row per track, candidate entries ordered by (seq, emis,
    # node_id) — struct sort_array gives the window's exact candidate rank
    # order, so reshape(len, C) recovers per-level candidate lists
    packed = (
        cand.groupBy("track_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("seq", "emis", "node_id", "cnx", "cny"))
            ).alias("cs")
        )
        .select(
            "track_id",
            F.transform("cs", lambda c: c["seq"]).alias("a_seq"),
            F.transform("cs", lambda c: c["emis"]).alias("a_emis"),
            F.transform("cs", lambda c: c["node_id"]).alias("a_node"),
            F.transform("cs", lambda c: c["cnx"]).alias("a_cx"),
            F.transform("cs", lambda c: c["cny"]).alias("a_cy"),
        )
    )

    def kernel(pdfs: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in pdfs:
            if not len(pdf):
                continue
            tids = pdf["track_id"].to_numpy()
            seq_l = pdf["a_seq"].to_numpy()
            n_entries = np.array([len(a) for a in seq_l])
            n_levels = np.array([len(np.unique(np.asarray(a))) for a in seq_l])
            out_tid, out_seq, out_node, out_tot = [], [], [], []
            # tracks of equal (levels, candidates-per-level) stack into one
            # (n, L, C) tensor class; every step below is whole-class numpy
            for key in set(zip(n_levels.tolist(), n_entries.tolist())):
                L, E = key
                C = E // L
                m = (n_levels == L) & (n_entries == E)
                idx = np.flatnonzero(m)
                n = len(idx)
                stack = lambda col: np.stack(  # noqa: E731
                    [np.asarray(pdf[col].iloc[i], dtype=np.int64) for i in idx]
                ).reshape(n, L, C)
                seqs = stack("a_seq")
                emis = stack("a_emis")
                node = stack("a_node")
                cx = stack("a_cx")
                cy = stack("a_cy")
                best = emis[:, 0, :]
                parents = np.empty((n, max(L - 1, 0), C), dtype=np.int64)
                for t in range(1, L):
                    dx = cx[:, t - 1, :, None] - cx[:, t, None, :]
                    dy = cy[:, t - 1, :, None] - cy[:, t, None, :]
                    tot = best[:, :, None] + lam * (dx * dx + dy * dy)
                    parent = np.argmin(tot, axis=1)  # first min → lowest rank
                    best = (
                        np.take_along_axis(tot, parent[:, None, :], axis=1)[:, 0, :]
                        + emis[:, t, :]
                    )
                    parents[:, t - 1, :] = parent
                j = np.argmin(best, axis=1)  # ties → lowest candidate rank
                total = best[np.arange(n), j]
                path = np.empty((n, L), dtype=np.int64)
                path[:, L - 1] = j
                for t in range(L - 2, -1, -1):
                    j = parents[np.arange(n), t, j]
                    path[:, t] = j
                rows_n = node[
                    np.arange(n)[:, None], np.arange(L)[None, :], path
                ]
                out_tid.append(np.repeat(tids[idx], L))
                out_seq.append(seqs[:, :, 0].reshape(-1))
                out_node.append(rows_n.reshape(-1))
                out_tot.append(np.repeat(total, L))
            yield pd.DataFrame(
                {
                    "track_id": np.concatenate(out_tid),
                    "seq": np.concatenate(out_seq),
                    "node_id": np.concatenate(out_node),
                    "total_cost": np.concatenate(out_tot),
                }
            )

    return packed.mapInPandas(
        kernel, "track_id long, seq long, node_id long, total_cost long"
    )


def sql_viterbi_cost(
    points_cte: str,
    nodes_cte: str,
    max_len: int,
    n_cand: int = 4,
    shift_bits: int = 10,
    lam: int = 1,
) -> str:
    """DuckDB twin of the Viterbi JOINT COST (the path itself is pinned by
    exhaustive pytest — SQL backtracking would need either recursion with
    aggregation, unsupported, or path-carrying state): the recurrence
    unrolled to ``max_len`` chained CTEs, each one join + group-min, the
    pagerank/Bellman-Ford bounded-round discipline.  points_cte must yield
    (track_id, seq∈[1, max_len], lat7, lon7); nodes_cte (node_id, lat7,
    lon7)."""
    q = 1 << shift_bits
    red_x = f"(CAST(lon7 AS BIGINT) + 1800000000) // {q}"
    red_y = f"(CAST(lat7 AS BIGINT) + 900000000) // {q}"
    parts = [
        f"pts AS ({points_cte})",
        f"nodes0 AS ({nodes_cte})",
        f"nd AS (SELECT node_id, {red_x} AS cnx, {red_y} AS cny FROM nodes0)",
        f"pp AS (SELECT track_id, seq, {red_x} AS pnx, {red_y} AS pny FROM pts)",
        f"""cand AS (
  SELECT track_id, seq, node_id, cnx, cny, emis FROM (
    SELECT p.track_id, p.seq, n.node_id, n.cnx, n.cny,
           (p.pnx - n.cnx) * (p.pnx - n.cnx)
             + (p.pny - n.cny) * (p.pny - n.cny) AS emis,
           row_number() OVER (PARTITION BY p.track_id, p.seq
                              ORDER BY (p.pnx - n.cnx) * (p.pnx - n.cnx)
                                     + (p.pny - n.cny) * (p.pny - n.cny),
                                       n.node_id) AS rn
    FROM pp p CROSS JOIN nd n) WHERE rn <= {n_cand})""",
        """b1 AS (SELECT track_id, node_id, cnx, cny, emis AS cost
  FROM cand WHERE seq = 1)""",
    ]
    for t in range(2, max_len + 1):
        parts.append(
            f"""b{t} AS (
  SELECT c.track_id, c.node_id, c.cnx, c.cny,
         c.emis + min(b.cost + {lam} * ((b.cnx - c.cnx) * (b.cnx - c.cnx)
           + (b.cny - c.cny) * (b.cny - c.cny))) AS cost
  FROM cand c JOIN b{t - 1} b USING (track_id)
  WHERE c.seq = {t}
  GROUP BY c.track_id, c.node_id, c.cnx, c.cny, c.emis)"""
        )
    levels = "\nUNION ALL\n".join(
        f"SELECT {t} AS seq, track_id, cost FROM b{t}" for t in range(1, max_len + 1)
    )
    parts.append(f"lv AS ({levels})")
    parts.append(
        "tl AS (SELECT track_id, max(seq) AS n_pts FROM pts GROUP BY track_id)"
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT l.track_id, t.n_pts, min(l.cost) AS total_cost
FROM lv l JOIN tl t ON t.track_id = l.track_id AND l.seq = t.n_pts
GROUP BY l.track_id, t.n_pts"""
    )


def geofence_scrub(
    points: "DataFrame",
    sites: list[tuple[int, int]],
    radius: int,
    px: str = "lon7",
    py: str = "lat7",
) -> "DataFrame":
    """Proximity scrub (geo-PII pass of a curation pipeline): DROP every
    point strictly within ``radius`` fixed-point units (squared L2) of any
    of a CONSTANT sensitive-site list (homes, schools, bases — the
    geofencing dual of pii_scrub's text pass). Keeps rows with
    min-site d2 >= radius² (boundary-EXCLUSIVE: a point at exactly radius
    survives).

    The site list becomes one literal struct-array projection over the
    shared clamped-d2 text (vertex_d2_sql — guard == radius, so clamped
    far candidates evaluate ≥ radius² and can never falsely scrub; exact
    inside the radius): zero joins, zero shuffles, pure codegen — the
    nearest_boundary_vertex discipline. At 10⁴+ sites swap the literal
    array for the celljoin cell-key candidate join; the predicate text
    stays the same."""
    if not sites:
        raise ValueError("geofence_scrub needs a non-empty site list")
    if radius <= 0:
        raise ValueError("radius must be positive")
    d2s = [
        F.expr(vertex_d2_sql(px, py, int(sx), int(sy), guard=radius))
        for sy, sx in sites
    ]
    mind2 = F.array_min(F.array(*d2s))
    # radius² as ONE python-int literal: F.lit(r) * F.lit(r) would be an
    # int32×int32 Spark multiply and overflow under ANSI for r > 46341
    return points.filter(mind2 >= F.lit(int(radius) * int(radius)))


def sql_geofence_scrub(
    points_cte: str,
    sites: list[tuple[int, int]],
    radius: int,
    px: str = "lon7",
    py: str = "lat7",
) -> str:
    """DuckDB twin: identical clamped-d2 texts, LEAST over the site list."""
    d2s = [
        vertex_d2_sql(px, py, int(sx), int(sy), guard=radius)
        for sy, sx in sites
    ]
    mind2 = d2s[0] if len(d2s) == 1 else "LEAST(" + ", ".join(d2s) + ")"
    return f"""SELECT * FROM ({points_cte})
WHERE {mind2} >= {radius * radius}"""
