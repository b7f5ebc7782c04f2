"""Trajectory analytics: trip segmentation (spatial gaps-and-islands).

A track is (ent, seq, x, y) — an entity's position samples in seq order
(integer chart coordinates, the snap.py/crossings.py plane).  A TRIP is a
maximal run of consecutive samples where each step's Chebyshev distance is
≤ ``jump``; a larger step starts a new trip (signal loss, teleport between
recording sessions — the standard GPS-track preprocessing cut).

Shape: ONE shuffle on entity; lag + running-sum share a single window sort
(Spark plans one Window node over both), then a grouped aggregate with
map-side combine.  All integer comparisons — the trip ids and stats are
exact cross-engine, so the DuckDB twin (same two windows, `sql_trip_
segments`) hash-gates it.  Per-entity data must fit a task (windows are
per-partition-key) — trajectories are bounded per device in practice;
shard seq ranges first if one entity's history exceeds executor memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osmgraft.functions.cells import floordiv, sql_floordiv


def trip_segments(track: DataFrame, jump: int) -> DataFrame:
    """(ent, seq, x, y) → one row per trip: (ent, trip, n_pts, seq_start,
    seq_end, min_x, max_x, min_y, max_y); trip = 1-based index of the
    trip within the entity in seq order."""
    w = Window.partitionBy("ent").orderBy("seq")
    step = F.greatest(
        F.abs(F.col("x") - F.lag("x").over(w)),
        F.abs(F.col("y") - F.lag("y").over(w)),
    )
    new_trip = F.when(step.isNull() | (step > jump), 1).otherwise(0)
    run = Window.partitionBy("ent").orderBy("seq").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    g = track.select(
        "ent", "seq", "x", "y", F.sum(new_trip).over(run).alias("trip")
    )
    return g.groupBy("ent", "trip").agg(
        F.count(F.lit(1)).alias("n_pts"),
        F.min("seq").alias("seq_start"),
        F.max("seq").alias("seq_end"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
    )


def sql_trip_segments(track_cte: str, jump: int) -> str:
    """DuckDB twin over a track CTE body (selects ent, seq, x, y)."""
    return f"""WITH track AS ({track_cte}),
f AS (
  SELECT ent, seq, x, y,
         CASE WHEN lag(x) OVER w IS NULL
                OR greatest(abs(x - lag(x) OVER w), abs(y - lag(y) OVER w))
                   > {jump}
              THEN 1 ELSE 0 END AS nt
  FROM track
  WINDOW w AS (PARTITION BY ent ORDER BY seq)),
g AS (
  SELECT ent, seq, x, y,
         sum(nt) OVER (PARTITION BY ent ORDER BY seq) AS trip
  FROM f)
SELECT ent, CAST(trip AS BIGINT) AS trip, count(*) AS n_pts,
       min(seq) AS seq_start, max(seq) AS seq_end,
       min(x) AS min_x, max(x) AS max_x,
       min(y) AS min_y, max(y) AS max_y
FROM g GROUP BY ent, trip"""


def od_matrix(track: DataFrame, jump: int, pitch: int) -> DataFrame:
    """Origin-destination flow matrix — the per-trip composition of
    trip_segments: each trip contributes one flow from the grid cell of its
    FIRST sample to the cell of its LAST sample (cells = floor-div ``pitch``
    over the chart coordinates), aggregated to (o_cx, o_cy, d_cx, d_cy,
    flows) — the standard mobility-analysis rollup.

    Shape: the SAME single ent-shuffle as trip_segments (lag + running sum
    share one window sort), endpoints via min_by/max_by in the trip
    aggregation (no second window), then a map-side-combined flow count.
    All integer."""
    w = Window.partitionBy("ent").orderBy("seq")
    step = F.greatest(
        F.abs(F.col("x") - F.lag("x").over(w)),
        F.abs(F.col("y") - F.lag("y").over(w)),
    )
    new_trip = F.when(step.isNull() | (step > jump), 1).otherwise(0)
    run = Window.partitionBy("ent").orderBy("seq").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    g = track.select(
        "ent", "seq", "x", "y", F.sum(new_trip).over(run).alias("trip")
    )

    trips = g.groupBy("ent", "trip").agg(
        floordiv(F.min_by("x", "seq"), pitch).alias("o_cx"),
        floordiv(F.min_by("y", "seq"), pitch).alias("o_cy"),
        floordiv(F.max_by("x", "seq"), pitch).alias("d_cx"),
        floordiv(F.max_by("y", "seq"), pitch).alias("d_cy"),
    )
    return trips.groupBy("o_cx", "o_cy", "d_cx", "d_cy").agg(
        F.count(F.lit(1)).alias("flows")
    )


def sql_od_matrix(track_cte: str, jump: int, pitch: int) -> str:
    """DuckDB twin (arg_min/arg_max endpoints, identical floor-div text)."""
    return f"""WITH track AS ({track_cte}),
f AS (
  SELECT ent, seq, x, y,
         CASE WHEN lag(x) OVER w IS NULL
                OR greatest(abs(x - lag(x) OVER w), abs(y - lag(y) OVER w))
                   > {jump}
              THEN 1 ELSE 0 END AS nt
  FROM track
  WINDOW w AS (PARTITION BY ent ORDER BY seq)),
g AS (
  SELECT ent, seq, x, y,
         sum(nt) OVER (PARTITION BY ent ORDER BY seq) AS trip
  FROM f),
trips AS (
  SELECT ent, trip,
         {sql_floordiv('arg_min(x, seq)', pitch)} AS o_cx,
         {sql_floordiv('arg_min(y, seq)', pitch)} AS o_cy,
         {sql_floordiv('arg_max(x, seq)', pitch)} AS d_cx,
         {sql_floordiv('arg_max(y, seq)', pitch)} AS d_cy
  FROM g GROUP BY ent, trip)
SELECT o_cx, o_cy, d_cx, d_cy, count(*) AS flows
FROM trips GROUP BY o_cx, o_cy, d_cx, d_cy"""


def stay_points(track: DataFrame, radius: int, min_samples: int) -> DataFrame:
    """Stay-point detection — the dual reading of trip segmentation (Li et
    al. 2008's GPS stay extraction, windowable variant): a STAY is a maximal
    run of consecutive samples whose steps all remain within Chebyshev
    ``radius`` (i.e., exactly a trip under jump = radius) that lasts at
    least ``min_samples`` samples. Output one row per stay with its span
    and the integer bbox center — the canonical 'places visited' extraction
    feeding POI inference.

    Shape: identical single ent-shuffle as trip_segments (this IS
    trip_segments' aggregate with a HAVING and a center projection — the
    composition is deliberate and documented, not hidden)."""
    trips = trip_segments(track, jump=radius)
    return trips.where(F.col("n_pts") >= min_samples).select(
        "ent",
        F.col("trip").alias("stay"),
        "n_pts",
        "seq_start",
        "seq_end",
        F.expr("(min_x + max_x) div 2").alias("center_x"),
        F.expr("(min_y + max_y) div 2").alias("center_y"),
    )


def sql_stay_points(track_cte: str, radius: int, min_samples: int) -> str:
    """DuckDB twin: the trip twin + HAVING + center projection."""
    trips = sql_trip_segments(track_cte, jump=radius)
    return f"""WITH trips AS ({trips})
SELECT ent, trip AS stay, n_pts, seq_start, seq_end,
       CAST(trunc((min_x + max_x) / 2.0) AS BIGINT) AS center_x,
       CAST(trunc((min_y + max_y) / 2.0) AS BIGINT) AS center_y
FROM trips WHERE n_pts >= {min_samples}"""


def point_along(track: DataFrame, num: int = 1, den: int = 2) -> DataFrame:
    """Linear referencing: the point at fraction ``num/den`` of each
    entity's polyline length (ESRI/PostGIS ST_LineInterpolatePoint
    semantics, exact-integer form). Length metric is Chebyshev per segment
    (the repo's integer chart metric); the target milepost is
    T = (L * num) div den, the carrying segment the FIRST whose cumulative
    span passes T, and the interpolated position is returned as EXACT
    RATIONALS — (fx_num, fy_num, den=seg_len) with
    x = fx_num / seg_len — the IDW "division never taken" discipline, so
    both engines agree bit-for-bit with zero float anywhere.

    Zero-length tracks (L = 0: every sample identical) are excluded —
    documented, matching ST_LineInterpolatePoint's degenerate-geometry
    refusal. 0 <= num <= den; num = den lands exactly on the last vertex.

    Shape: ONE ent-shuffle — lead + two running sums share the single
    window sort; the carrying segment is picked by a map-side-combined
    min(struct) aggregate. Per-entity history must fit a task (same bound
    as trip_segments)."""
    if not 0 <= num <= den or den <= 0:
        raise ValueError("need 0 <= num <= den, den > 0")
    w = Window.partitionBy("ent").orderBy("seq")
    seg = track.select(
        "ent",
        "seq",
        F.col("x").alias("x1"),
        F.col("y").alias("y1"),
        F.lead("x").over(w).alias("x2"),
        F.lead("y").over(w).alias("y2"),
    ).where(F.col("x2").isNotNull())
    slen = F.greatest(F.abs(F.col("x2") - F.col("x1")), F.abs(F.col("y2") - F.col("y1")))
    run = Window.partitionBy("ent").orderBy("seq").rowsBetween(
        Window.unboundedPreceding, -1
    )
    tot = Window.partitionBy("ent")
    s = seg.select(
        "ent", "seq", "x1", "y1", "x2", "y2", slen.alias("slen"),
        F.coalesce(F.sum(slen).over(run), F.lit(0)).alias("cum"),
        F.sum(slen).over(tot).alias("total_len"),
    ).where(F.col("total_len") > 0)
    t_target = F.expr(f"(total_len * {num}) div {den}")
    if num == den:
        # T == L: no segment satisfies cum+len > T; land on the LAST vertex
        # via the last nonzero-length segment at t = slen (max-struct pick).
        cand = s.where(F.col("slen") > 0).select(
            "ent",
            "total_len",
            F.struct("seq", "cum", "slen", "x1", "y1", "x2", "y2").alias("c"),
        )
        best = cand.groupBy("ent").agg(
            F.first("total_len").alias("total_len"), F.max("c").alias("c")
        )
        return best.select(
            "ent",
            "total_len",
            F.col("c.seq").alias("seg_seq"),
            (F.col("c.x2") * F.col("c.slen")).alias("fx_num"),
            (F.col("c.y2") * F.col("c.slen")).alias("fy_num"),
            F.col("c.slen").alias("f_den"),
        )
    cand = s.where(F.col("cum") + F.col("slen") > t_target).select(
        "ent",
        "total_len",
        F.struct("seq", "cum", "slen", "x1", "y1", "x2", "y2").alias("c"),
    )
    best = cand.groupBy("ent").agg(
        F.first("total_len").alias("total_len"), F.min("c").alias("c")
    )
    t = F.expr(f"(total_len * {num}) div {den}") - F.col("c.cum")
    return best.select(
        "ent",
        "total_len",
        F.col("c.seq").alias("seg_seq"),
        (F.col("c.x1") * F.col("c.slen") + (F.col("c.x2") - F.col("c.x1")) * t)
        .alias("fx_num"),
        (F.col("c.y1") * F.col("c.slen") + (F.col("c.y2") - F.col("c.y1")) * t)
        .alias("fy_num"),
        F.col("c.slen").alias("f_den"),
    )


def sql_point_along(track_cte: str, num: int = 1, den: int = 2) -> str:
    """DuckDB twin: same windows, same rational outputs."""
    if num == den:
        return f"""WITH track AS ({track_cte}),
seg AS (
  SELECT ent, seq, x AS x1, y AS y1,
         lead(x) OVER w AS x2, lead(y) OVER w AS y2
  FROM track WINDOW w AS (PARTITION BY ent ORDER BY seq)),
s AS (
  SELECT ent, seq, x2, y2,
         greatest(abs(x2 - x1), abs(y2 - y1)) AS slen,
         sum(greatest(abs(x2 - x1), abs(y2 - y1)))
           OVER (PARTITION BY ent) AS total_len
  FROM seg WHERE x2 IS NOT NULL),
cand AS (
  SELECT *, row_number() OVER (PARTITION BY ent ORDER BY seq DESC) AS rk
  FROM s WHERE total_len > 0 AND slen > 0)
SELECT ent, CAST(total_len AS BIGINT) AS total_len, seq AS seg_seq,
       CAST(x2 * slen AS BIGINT) AS fx_num,
       CAST(y2 * slen AS BIGINT) AS fy_num, slen AS f_den
FROM cand WHERE rk = 1"""
    return f"""WITH track AS ({track_cte}),
seg AS (
  SELECT ent, seq, x AS x1, y AS y1,
         lead(x) OVER w AS x2, lead(y) OVER w AS y2
  FROM track WINDOW w AS (PARTITION BY ent ORDER BY seq)),
s AS (
  SELECT ent, seq, x1, y1, x2, y2,
         greatest(abs(x2 - x1), abs(y2 - y1)) AS slen,
         coalesce(sum(greatest(abs(x2 - x1), abs(y2 - y1)))
           OVER (PARTITION BY ent ORDER BY seq
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum,
         sum(greatest(abs(x2 - x1), abs(y2 - y1)))
           OVER (PARTITION BY ent) AS total_len
  FROM seg WHERE x2 IS NOT NULL),
cand AS (
  SELECT *, row_number() OVER (PARTITION BY ent ORDER BY seq) AS rk
  FROM s
  WHERE total_len > 0 AND cum + slen > (total_len * {num}) // {den})
SELECT ent, CAST(total_len AS BIGINT) AS total_len, seq AS seg_seq,
       CAST(x1 * slen + (x2 - x1) * ((total_len * {num}) // {den} - cum) AS BIGINT) AS fx_num,
       CAST(y1 * slen + (y2 - y1) * ((total_len * {num}) // {den} - cum) AS BIGINT) AS fy_num,
       slen AS f_den
FROM cand WHERE rk = 1"""


def _octant_expr(dx, dy):
    """Exact integer octant of a step vector — sector k covers angles
    [45k°, 45(k+1)°) counterclockwise from +x (E=0, NE=1, ... SE=7), the
    floor(atan2/45°) convention whose boundaries fall ON axes/diagonals so
    every tie is decidable with integer comparisons (no trig anywhere):
    quadrant by signs, then the |dx| vs |dy| diagonal split (boundary
    |dx| == |dy| belongs to the upper sector, matching the half-open
    interval)."""
    ax, ay = F.abs(dx), F.abs(dy)
    return (
        F.when((dx > 0) & (dy >= 0), F.when(ay < ax, 0).otherwise(1))
        .when((dx <= 0) & (dy > 0), F.when(ax < ay, 2).otherwise(3))
        .when((dx < 0) & (dy <= 0), F.when(ay < ax, 4).otherwise(5))
        .otherwise(F.when(ax < ay, 6).otherwise(7))
    )


def movement_rose(track: DataFrame) -> DataFrame:
    """Per-entity direction histogram (compass-rose / rose-diagram rollup)
    of consecutive track steps: octant 0..7 counterclockwise from +x with
    the exact integer sector rule above — the standard movement-ecology /
    flow-cartography summary, zero floats. Zero-length steps are excluded
    (no direction). One ent-shuffle (the lag window) + a map-side-combined
    count keyed by (ent, octant)."""
    w = Window.partitionBy("ent").orderBy("seq")
    dx = F.col("x") - F.lag("x").over(w)
    dy = F.col("y") - F.lag("y").over(w)
    steps = track.select("ent", dx.alias("dx"), dy.alias("dy")).where(
        F.col("dx").isNotNull() & ((F.col("dx") != 0) | (F.col("dy") != 0))
    )
    return (
        steps.select("ent", _octant_expr(F.col("dx"), F.col("dy")).alias("octant"))
        .groupBy("ent", "octant")
        .agg(F.count(F.lit(1)).alias("steps"))
    )


def sql_movement_rose(track_cte: str) -> str:
    """DuckDB twin — identical sector rule as SQL CASE text."""
    return f"""WITH track AS ({track_cte}),
d AS (
  SELECT ent, x - lag(x) OVER w AS dx, y - lag(y) OVER w AS dy
  FROM track WINDOW w AS (PARTITION BY ent ORDER BY seq)),
s AS (
  SELECT ent,
         CASE WHEN dx > 0 AND dy >= 0 THEN (CASE WHEN abs(dy) < abs(dx) THEN 0 ELSE 1 END)
              WHEN dx <= 0 AND dy > 0 THEN (CASE WHEN abs(dx) < abs(dy) THEN 2 ELSE 3 END)
              WHEN dx < 0 AND dy <= 0 THEN (CASE WHEN abs(dy) < abs(dx) THEN 4 ELSE 5 END)
              ELSE (CASE WHEN abs(dx) < abs(dy) THEN 6 ELSE 7 END) END AS octant
  FROM d WHERE dx IS NOT NULL AND (dx != 0 OR dy != 0))
SELECT ent, octant, count(*) AS steps FROM s GROUP BY ent, octant"""


def hausdorff_pairs(
    track: DataFrame,
    bucket_z_shift: int,
    max_pts: int = 8,
) -> DataFrame:
    """Trajectory similarity join: symmetric DISCRETE HAUSDORFF squared
    distance between pairs of tracks whose FIRST sample shares a coarse
    grid cell — (ent_a, ent_b, haus_d2).

    h(A→B) = max_{a∈A} min_{b∈B} d²(a,b); symmetric = max of both
    directions.  All int64 (squared euclidean on the integer chart plane) —
    bit-exact cross-engine.

    Shape: tracks collapse to ONE row each (seq-sorted point struct array,
    capped at ``max_pts`` — the DTW/Fréchet-family cost cap), candidate
    pairs come from a cell equi-join on the first sample's cell (the
    celljoin discipline: bucket first, O(cell²) pairs instead of O(n²)),
    and the max-min runs as NESTED ARRAY EXPRESSIONS (transform +
    array_min/array_max) — whole-stage codegen over ≤max_pts² terms per
    pair, no Python, no explode re-shuffle.  The DuckDB twin is
    deliberately RELATIONAL (explode point pairs, group-min, group-max): a
    different plan proving the same function."""
    w = Window.partitionBy("ent").orderBy("seq")
    arr = (
        track.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= max_pts)
        .groupBy("ent")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("seq", "x", "y"))
            ).alias("pts")
        )
        .select(
            "ent",
            F.transform(
                "pts", lambda p: F.struct(p["x"].alias("x"), p["y"].alias("y"))
            ).alias("pts"),
        )
    )
    a = arr.select(
        F.col("ent").alias("ent_a"),
        F.col("pts").alias("pa"),
        F.shiftright(F.col("pts")[0]["x"], bucket_z_shift).alias("cx"),
        F.shiftright(F.col("pts")[0]["y"], bucket_z_shift).alias("cy"),
    )
    b = arr.select(
        F.col("ent").alias("ent_b"),
        F.col("pts").alias("pb"),
        F.shiftright(F.col("pts")[0]["x"], bucket_z_shift).alias("cx"),
        F.shiftright(F.col("pts")[0]["y"], bucket_z_shift).alias("cy"),
    )
    pairs = a.join(b, ["cx", "cy"]).filter(F.col("ent_a") < F.col("ent_b"))

    def d2(p, q):
        return (p["x"] - q["x"]) * (p["x"] - q["x"]) + (p["y"] - q["y"]) * (
            p["y"] - q["y"]
        )

    def directed(pa, pb):
        return F.array_max(
            F.transform(pa, lambda p: F.array_min(F.transform(pb, lambda q: d2(p, q))))
        )

    haus = F.greatest(
        directed(F.col("pa"), F.col("pb")), directed(F.col("pb"), F.col("pa"))
    )
    return pairs.select("ent_a", "ent_b", haus.alias("haus_d2"))


def sql_hausdorff_pairs(
    track_cte: str, bucket_z_shift: int, max_pts: int = 8
) -> str:
    """DuckDB twin — relational max-min (explode pairs, group twice)."""
    return f"""WITH tr AS ({track_cte}),
capped AS (
  SELECT ent, seq, x, y FROM (
    SELECT *, row_number() OVER (PARTITION BY ent ORDER BY seq) AS rn FROM tr)
  WHERE rn <= {max_pts}),
head AS (
  SELECT ent, x >> {bucket_z_shift} AS cx, y >> {bucket_z_shift} AS cy FROM (
    SELECT *, row_number() OVER (PARTITION BY ent ORDER BY seq) AS rn
    FROM capped) WHERE rn = 1),
pair AS (
  SELECT a.ent AS ent_a, b.ent AS ent_b
  FROM head a JOIN head b ON a.cx = b.cx AND a.cy = b.cy AND a.ent < b.ent),
dmin_ab AS (
  SELECT p.ent_a, p.ent_b, pa.seq,
         min((pa.x - pb.x) * (pa.x - pb.x) + (pa.y - pb.y) * (pa.y - pb.y)) AS dm
  FROM pair p JOIN capped pa ON pa.ent = p.ent_a
              JOIN capped pb ON pb.ent = p.ent_b
  GROUP BY p.ent_a, p.ent_b, pa.seq),
dmin_ba AS (
  SELECT p.ent_a, p.ent_b, pb.seq,
         min((pa.x - pb.x) * (pa.x - pb.x) + (pa.y - pb.y) * (pa.y - pb.y)) AS dm
  FROM pair p JOIN capped pa ON pa.ent = p.ent_a
              JOIN capped pb ON pb.ent = p.ent_b
  GROUP BY p.ent_a, p.ent_b, pb.seq),
h AS (
  SELECT ent_a, ent_b, max(dm) AS h FROM dmin_ab GROUP BY ent_a, ent_b
  UNION ALL
  SELECT ent_a, ent_b, max(dm) FROM dmin_ba GROUP BY ent_a, ent_b)
SELECT ent_a, ent_b, max(h) AS haus_d2 FROM h GROUP BY ent_a, ent_b"""


def _pt_d2(p, q):
    """Exact int64 squared euclidean distance between two (x, y) structs."""
    return (p["x"] - q["x"]) * (p["x"] - q["x"]) + (p["y"] - q["y"]) * (
        p["y"] - q["y"]
    )


def frechet_pairs(
    track: DataFrame,
    bucket_z_shift: int,
    max_pts: int = 8,
) -> DataFrame:
    """Trajectory similarity join: DISCRETE FRÉCHET squared distance
    (Eiter & Mannila 1994 coupling DP) between pairs of tracks whose FIRST
    sample shares a coarse grid cell — (ent_a, ent_b, frechet_d2).

    ca(i,j) = max(d²(aᵢ,bⱼ), min(ca(i-1,j), ca(i-1,j-1), ca(i,j-1))); the
    answer is ca(m,n).  Unlike Hausdorff (hausdorff_pairs above) the
    Fréchet coupling respects point ORDER — the classic "dog walking"
    semantics movement analytics uses for route equivalence.  All int64 on
    the integer chart plane: bit-exact cross-engine, exact at any
    parallelism.

    Shape: same celljoin discipline as hausdorff_pairs (tracks collapse to
    one seq-sorted struct-array row capped at ``max_pts``, candidate pairs
    from a head-cell equi-join), then the DP runs as NESTED ``aggregate``
    FOLDS — the outer fold walks rows of A carrying the dp row for B as an
    array<long> accumulator, the inner fold walks columns left-to-right
    (the ca(i,j-1) dependency makes each row a sequential scan) — all
    JVM-side higher-order functions, no Python, no explode, no extra
    shuffle beyond the pair join.  The DuckDB twin (sql_frechet_pairs) is
    deliberately a DIFFERENT algorithm: a recursive CTE carrying the dp
    row as a LIST, each row advanced in CLOSED FORM via the min-max
    identity ca(i,j) = min_{k≤j} max(Tₖ, max_{l=k..j} d²(aᵢ,b_l)) with
    T₁ = u₁, Tₖ = min(uₖ, uₖ₋₁) (u = previous row) — the scan
    x_j = max(d_j, min(t_j, x_{j-1})) unrolled by distributing max over
    min.  Two genuinely different executions, one hash."""
    w = Window.partitionBy("ent").orderBy("seq")
    arr = (
        track.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= max_pts)
        .groupBy("ent")
        .agg(F.sort_array(F.collect_list(F.struct("seq", "x", "y"))).alias("pts"))
        .select(
            "ent",
            F.transform(
                "pts", lambda p: F.struct(p["x"].alias("x"), p["y"].alias("y"))
            ).alias("pts"),
        )
    )
    a = arr.select(
        F.col("ent").alias("ent_a"),
        F.col("pts").alias("pa"),
        F.shiftright(F.col("pts")[0]["x"], bucket_z_shift).alias("cx"),
        F.shiftright(F.col("pts")[0]["y"], bucket_z_shift).alias("cy"),
    )
    b = arr.select(
        F.col("ent").alias("ent_b"),
        F.col("pts").alias("pb"),
        F.shiftright(F.col("pts")[0]["x"], bucket_z_shift).alias("cx"),
        F.shiftright(F.col("pts")[0]["y"], bucket_z_shift).alias("cy"),
    )
    pairs = a.join(b, ["cx", "cy"]).filter(F.col("ent_a") < F.col("ent_b"))

    pa, pb = F.col("pa"), F.col("pb")
    empty = F.array().cast("array<long>")
    # ca(1, j): prefix max of d²(a₁, bⱼ) — sequential fold (d² ≥ 0 so the
    # empty-accumulator seed of 0 never wins)
    a1 = F.element_at(pa, 1)
    row1 = F.aggregate(
        pb,
        empty,
        lambda acc, q: F.concat(
            acc,
            F.array(
                F.greatest(
                    _pt_d2(a1, q),
                    F.coalesce(F.get(acc, F.size(acc) - 1), F.lit(0).cast("long")),
                )
            ),
        ),
    )

    def next_row(u, apt):
        def cell(acc, j):
            dj = _pt_d2(apt, F.element_at(pb, j))
            return F.when(
                j == F.lit(1), F.greatest(dj, F.element_at(u, F.lit(1)))
            ).otherwise(
                F.greatest(
                    dj,
                    F.least(
                        F.element_at(u, j),
                        F.element_at(u, j - F.lit(1)),
                        F.get(acc, F.size(acc) - 1),  # j ≥ 2 ⇒ acc non-empty
                    ),
                )
            )

        return F.aggregate(
            F.sequence(F.lit(1), F.size(pb)),
            empty,
            lambda acc, j: F.concat(acc, F.array(cell(acc, j))),
        )

    costs = F.aggregate(F.slice(pa, 2, max_pts), row1, next_row)
    return pairs.select(
        "ent_a", "ent_b", F.element_at(costs, F.size(pb)).alias("frechet_d2")
    )


def sql_frechet_pairs(track_cte: str, bucket_z_shift: int, max_pts: int = 8) -> str:
    """DuckDB twin of frechet_pairs — recursive CTE over rows of A carrying
    the dp row for B as a LIST, each row advanced by the closed-form
    min-max identity (see frechet_pairs docstring) instead of a sequential
    scan: ca(i,j) = min_{k=1..j} max(T_k, max_{l=k..j} d²) with T₁ = u₁,
    T_k = min(u_k, u_{k-1})."""

    def d2(ai: str, l: str) -> str:
        return (
            f"((pa[{ai}].x - pb[CAST({l} AS INTEGER)].x)"
            f" * (pa[{ai}].x - pb[CAST({l} AS INTEGER)].x)"
            f" + (pa[{ai}].y - pb[CAST({l} AS INTEGER)].y)"
            f" * (pa[{ai}].y - pb[CAST({l} AS INTEGER)].y))"
        )

    return f"""WITH RECURSIVE tr AS ({track_cte}),
capped AS (
  SELECT ent, seq, x, y FROM (
    SELECT *, row_number() OVER (PARTITION BY ent ORDER BY seq) AS rn FROM tr)
  WHERE rn <= {max_pts}),
head AS (
  SELECT ent, x >> {bucket_z_shift} AS cx, y >> {bucket_z_shift} AS cy FROM (
    SELECT *, row_number() OVER (PARTITION BY ent ORDER BY seq) AS rn
    FROM capped) WHERE rn = 1),
lists AS (
  SELECT ent, list(struct_pack(x := x, y := y) ORDER BY seq) AS pts
  FROM capped GROUP BY ent),
pair AS (
  SELECT a.ent AS ent_a, b.ent AS ent_b, la.pts AS pa, lb.pts AS pb
  FROM head a JOIN head b ON a.cx = b.cx AND a.cy = b.cy AND a.ent < b.ent
  JOIN lists la ON la.ent = a.ent
  JOIN lists lb ON lb.ent = b.ent),
dp AS (
  SELECT ent_a, ent_b, pa, pb, 1 AS i,
         list_transform(range(1, len(pb) + 1), j ->
           list_aggregate(list_transform(range(1, j + 1),
             l -> {d2('1', 'l')}), 'max')) AS costs
  FROM pair
  UNION ALL
  SELECT ent_a, ent_b, pa, pb, i + 1,
         list_transform(range(1, len(pb) + 1), j ->
           list_aggregate(list_transform(range(1, j + 1), k ->
             greatest(
               CASE WHEN k = 1 THEN costs[1]
                    ELSE least(costs[CAST(k AS INTEGER)],
                               costs[CAST(k - 1 AS INTEGER)]) END,
               list_aggregate(list_transform(range(k, j + 1),
                 l -> {d2('CAST(i + 1 AS INTEGER)', 'l')}), 'max'))), 'min'))
  FROM dp WHERE i < len(pa))
SELECT ent_a, ent_b, costs[CAST(len(pb) AS INTEGER)] AS frechet_d2
FROM dp WHERE i = len(pa)"""


def dtw_pairs(
    track: DataFrame,
    bucket_z_shift: int,
    max_pts: int = 8,
) -> DataFrame:
    """Trajectory similarity join: DYNAMIC TIME WARPING cost (Sakoe & Chiba
    1978; Berndt & Clifford 1994 for the data-mining form) between pairs of
    tracks whose FIRST sample shares a coarse grid cell —
    (ent_a, ent_b, dtw_cost), cost = sum of squared euclidean step costs
    along the optimal monotone alignment:

        ca(i,j) = d²(aᵢ,bⱼ) + min(ca(i-1,j), ca(i-1,j-1), ca(i,j-1)).

    The SUM-coupling member of the similarity trio (Hausdorff = unordered
    max, Fréchet = ordered max-coupling, DTW = ordered sum-coupling): DTW
    charges every alignment step, so it separates tracks that Fréchet ties
    (a dwell repeated point is free under max, paid under sum).  All int64
    on the integer chart plane — path length ≤ m+n ≤ 2·max_pts and per-step
    d² ≤ 2·(span)², far from overflow — bit-exact cross-engine, exact at
    any parallelism.

    Shape: identical celljoin discipline to frechet_pairs (one seq-sorted
    struct-array row per track capped at ``max_pts``, head-cell equi-join
    for candidates), DP as nested JVM ``aggregate`` folds — the outer fold
    walks rows of A carrying B's dp row as array<long>, the inner fold
    walks columns left-to-right (the ca(i,j-1) dependency).  No Python, no
    explode, no shuffle beyond the pair join.  The DuckDB twin
    (sql_dtw_pairs) is a DIFFERENT algorithm: recursive CTE advancing each
    row in CLOSED FORM via the distributive identity
    ca(i,j) = min_{k≤j} (Σ_{l=k..j} d²(aᵢ,b_l) + Tₖ), T₁ = u₁,
    Tₖ = min(uₖ, uₖ₋₁) — the scan x_j = d_j + min(t_j, x_{j-1}) unrolled by
    distributing + over min.  Two executions, one hash."""
    w = Window.partitionBy("ent").orderBy("seq")
    arr = (
        track.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= max_pts)
        .groupBy("ent")
        .agg(F.sort_array(F.collect_list(F.struct("seq", "x", "y"))).alias("pts"))
        .select(
            "ent",
            F.transform(
                "pts", lambda p: F.struct(p["x"].alias("x"), p["y"].alias("y"))
            ).alias("pts"),
        )
    )
    a = arr.select(
        F.col("ent").alias("ent_a"),
        F.col("pts").alias("pa"),
        F.shiftright(F.col("pts")[0]["x"], bucket_z_shift).alias("cx"),
        F.shiftright(F.col("pts")[0]["y"], bucket_z_shift).alias("cy"),
    )
    b = arr.select(
        F.col("ent").alias("ent_b"),
        F.col("pts").alias("pb"),
        F.shiftright(F.col("pts")[0]["x"], bucket_z_shift).alias("cx"),
        F.shiftright(F.col("pts")[0]["y"], bucket_z_shift).alias("cy"),
    )
    pairs = a.join(b, ["cx", "cy"]).filter(F.col("ent_a") < F.col("ent_b"))

    pa, pb = F.col("pa"), F.col("pb")
    empty = F.array().cast("array<long>")
    # ca(1, j): prefix SUM of d²(a₁, bⱼ) — sequential fold
    a1 = F.element_at(pa, 1)
    row1 = F.aggregate(
        pb,
        empty,
        lambda acc, q: F.concat(
            acc,
            F.array(
                _pt_d2(a1, q)
                + F.coalesce(F.get(acc, F.size(acc) - 1), F.lit(0).cast("long"))
            ),
        ),
    )

    def next_row(u, apt):
        def cell(acc, j):
            dj = _pt_d2(apt, F.element_at(pb, j))
            return F.when(
                j == F.lit(1), dj + F.element_at(u, F.lit(1))
            ).otherwise(
                dj
                + F.least(
                    F.element_at(u, j),
                    F.element_at(u, j - F.lit(1)),
                    F.get(acc, F.size(acc) - 1),  # j ≥ 2 ⇒ acc non-empty
                )
            )

        return F.aggregate(
            F.sequence(F.lit(1), F.size(pb)),
            empty,
            lambda acc, j: F.concat(acc, F.array(cell(acc, j))),
        )

    costs = F.aggregate(F.slice(pa, 2, max_pts), row1, next_row)
    return pairs.select(
        "ent_a", "ent_b", F.element_at(costs, F.size(pb)).alias("dtw_cost")
    )


def sql_dtw_pairs(track_cte: str, bucket_z_shift: int, max_pts: int = 8) -> str:
    """DuckDB twin of dtw_pairs — recursive CTE over rows of A carrying the
    dp row for B as a LIST, each row advanced by the closed-form
    distributive identity (see dtw_pairs docstring):
    ca(i,j) = min_{k=1..j} (Σ_{l=k..j} d² + T_k), T₁ = u₁,
    T_k = min(u_k, u_{k-1})."""

    def d2(ai: str, l: str) -> str:
        return (
            f"((pa[{ai}].x - pb[CAST({l} AS INTEGER)].x)"
            f" * (pa[{ai}].x - pb[CAST({l} AS INTEGER)].x)"
            f" + (pa[{ai}].y - pb[CAST({l} AS INTEGER)].y)"
            f" * (pa[{ai}].y - pb[CAST({l} AS INTEGER)].y))"
        )

    return f"""WITH RECURSIVE tr AS ({track_cte}),
capped AS (
  SELECT ent, seq, x, y FROM (
    SELECT *, row_number() OVER (PARTITION BY ent ORDER BY seq) AS rn FROM tr)
  WHERE rn <= {max_pts}),
head AS (
  SELECT ent, x >> {bucket_z_shift} AS cx, y >> {bucket_z_shift} AS cy FROM (
    SELECT *, row_number() OVER (PARTITION BY ent ORDER BY seq) AS rn
    FROM capped) WHERE rn = 1),
lists AS (
  SELECT ent, list(struct_pack(x := x, y := y) ORDER BY seq) AS pts
  FROM capped GROUP BY ent),
pair AS (
  SELECT a.ent AS ent_a, b.ent AS ent_b, la.pts AS pa, lb.pts AS pb
  FROM head a JOIN head b ON a.cx = b.cx AND a.cy = b.cy AND a.ent < b.ent
  JOIN lists la ON la.ent = a.ent
  JOIN lists lb ON lb.ent = b.ent),
dp AS (
  SELECT ent_a, ent_b, pa, pb, 1 AS i,
         list_transform(range(1, len(pb) + 1), j ->
           list_aggregate(list_transform(range(1, j + 1),
             l -> {d2('1', 'l')}), 'sum')) AS costs
  FROM pair
  UNION ALL
  SELECT ent_a, ent_b, pa, pb, i + 1,
         list_transform(range(1, len(pb) + 1), j ->
           list_aggregate(list_transform(range(1, j + 1), k ->
             (CASE WHEN k = 1 THEN costs[1]
                   ELSE least(costs[CAST(k AS INTEGER)],
                              costs[CAST(k - 1 AS INTEGER)]) END
              + list_aggregate(list_transform(range(k, j + 1),
                  l -> {d2('CAST(i + 1 AS INTEGER)', 'l')}), 'sum'))), 'min'))
  FROM dp WHERE i < len(pa))
SELECT ent_a, ent_b, CAST(costs[CAST(len(pb) AS INTEGER)] AS BIGINT) AS dtw_cost
FROM dp WHERE i = len(pa)"""


def tile_path(
    df: DataFrame,
    ent_col: str = "ent",
    seq_col: str = "seq",
    tx_col: str = "tx",
    ty_col: str = "ty",
) -> DataFrame:
    """Trajectory → tile transition path: collapse consecutive duplicate
    tiles per entity (keep each ENTRY into a tile, ordered by ``seq_col``)
    and renumber the surviving transitions 1..k — the map-matched "cell
    sequence" a movement-analytics store indexes instead of raw pings
    (OD/flow, route mining, tile prefetch all consume this shape).

    Plan: one lag window + filter + row_number — both windows share the
    (ent, seq) sort, so Catalyst plans ONE Exchange + one sort for the
    whole op; output is ≤ input rows, usually far fewer (dwell compresses).
    """
    from pyspark.sql import Window as W

    w = W.partitionBy(ent_col).orderBy(seq_col)
    tx, ty = F.col(tx_col), F.col(ty_col)
    keep = (
        F.lag(tx_col).over(w).isNull()
        | (tx != F.lag(tx_col).over(w))
        | (ty != F.lag(ty_col).over(w))
    )
    return (
        df.withColumn("_keep", keep)
        .filter(F.col("_keep"))
        .withColumn("step", F.row_number().over(w))
        .select(F.col(ent_col).alias("track_id"), "step", tx.alias("tx"), ty.alias("ty"))
    )
