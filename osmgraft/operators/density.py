"""Raster-field analytics over sparse cell grids: smoothing + autocorrelation.

`density_smooth` — the KDE-style heat surface every tile map draws: per-cell
counts convolved with a (2r+1)² box kernel. SEPARABLE: one x-pass then one
y-pass, each an explode of 2r+1 offsets + a grouped sum — 2·(2r+1) work per
cell instead of (2r+1)², two map-side-combined shuffles, sparse throughout
(only cells within Chebyshev radius r of observed data appear; integer sums,
exact cross-engine). The DuckDB twin runs the DIRECT 2-D convolution — two
genuinely different algorithms, one hash.

`morans_i_terms` — global Moran's I spatial autocorrelation over the observed
cells with rook (edge-adjacent) weights, in EXACT integers: with n cells and
total s, the n-scaled deviation d_i = n·x_i − s is integral, so the statistic
I = (n/W)·Σ_ij w_ij d_i d_j / Σ d_i² is reported as its integer terms
(n_cells, w_pairs, num, den) and never divides — any engine computes the
float I from them, but the HASH is over exact integers. Bounds: |d_i| <
n·max_cnt must stay < ~2^31 for the products to fit int64 (document per use;
at tile-grid scales n ≤ 2^26 and counts ≤ 2^20 this holds with room).

Scale shape: the stats row is ONE aggregate broadcast-joined back (no
driver collect); adjacency is an equi-join on shifted keys (uniform hash
keys, no skew beyond the data's own density).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmgraft.functions.cells import dist2, grid_yx, lon_cells, sql_dist2, sql_grid_yx
from osmgraft.functions.coords import LON_SPAN


def density_smooth(
    cells: DataFrame, radius: int, cx: str = "cx", cy: str = "cy",
    cnt: str = "cnt",
) -> DataFrame:
    """(cx, cy, cnt) sparse raster → (cx, cy, dens) where dens = the sum of
    cnt over the (2·radius+1)² Chebyshev neighborhood — separable box blur,
    two explode+sum passes."""
    off = F.explode(F.sequence(F.lit(-radius), F.lit(radius)))
    xs = (
        cells.select(F.col(cx).alias("cx"), F.col(cy).alias("cy"),
                     F.col(cnt).alias("v"), off.alias("dx"))
        .select((F.col("cx") + F.col("dx")).alias("cx"), "cy", "v")
        .groupBy("cx", "cy")
        .agg(F.sum("v").alias("v"))
    )
    return (
        xs.select("cx", "cy", "v", off.alias("dy"))
        .select("cx", (F.col("cy") + F.col("dy")).alias("cy"), "v")
        .groupBy("cx", "cy")
        .agg(F.sum("v").alias("dens"))
    )


def sql_density_smooth(cells_cte: str, radius: int) -> str:
    """DuckDB twin: DIRECT 2-D box convolution over the same cells CTE body
    (selects cx, cy, cnt) — a different algorithm than the separable Spark
    pass, same exact integer surface."""
    return f"""WITH cells AS ({cells_cte})
SELECT c.cx + dx.i AS cx, c.cy + dy.i AS cy, CAST(sum(c.cnt) AS BIGINT) AS dens
FROM cells c
CROSS JOIN range({-radius}, {radius + 1}) dx(i)
CROSS JOIN range({-radius}, {radius + 1}) dy(i)
GROUP BY 1, 2"""


def morans_i_terms(
    cells: DataFrame, cx: str = "cx", cy: str = "cy", cnt: str = "cnt"
) -> DataFrame:
    """One row (n_cells, w_pairs, num, den): the exact integer terms of
    Moran's I over the observed cells with rook weights (w_ij = 1 for
    edge-adjacent observed cells).  num = Σ over ORDERED adjacent pairs of
    d_i·d_j (= 2× the unordered sum), den = Σ d_i², d_i = n·x_i − s."""
    c = cells.select(F.col(cx).alias("cx"), F.col(cy).alias("cy"),
                     F.col(cnt).cast("long").alias("v"))
    stats = c.agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    d = (
        c.crossJoin(F.broadcast(stats))
        .select("cx", "cy", (F.col("n") * F.col("v") - F.col("s")).alias("d"))
    )
    right = d.select(F.col("cx").alias("bx"), F.col("cy").alias("by"),
                     F.col("d").alias("db"))
    # two equi-joins (east + south neighbor), NOT one OR-join: an OR of
    # conjunctions has no extractable join keys and Catalyst would fall
    # back to a nested-loop join — a scale killer on dense grids
    east = d.join(right, (d["cx"] + 1 == right["bx"]) & (d["cy"] == right["by"]))
    south = d.join(right, (d["cx"] == right["bx"]) & (d["cy"] + 1 == right["by"]))
    pairs = east.select((F.col("d") * F.col("db")).alias("prod")).unionAll(
        south.select((F.col("d") * F.col("db")).alias("prod"))
    )
    num_w = pairs.agg(
        (F.lit(2) * F.sum("prod")).alias("num"),
        (F.lit(2) * F.count(F.lit(1))).alias("w_pairs"),
    )
    den_n = d.agg(F.count(F.lit(1)).alias("n_cells"),
                  F.sum(F.col("d") * F.col("d")).alias("den"))
    return den_n.crossJoin(num_w).select("n_cells", "w_pairs", "num", "den")


def sql_morans_i_terms(cells_cte: str) -> str:
    """DuckDB twin over the same cells CTE body (selects cx, cy, cnt)."""
    return f"""WITH cells AS ({cells_cte}),
st AS (SELECT count(*) AS n, sum(cnt) AS s FROM cells),
d AS (SELECT cx, cy, st.n * cnt - st.s AS d FROM cells, st),
adj AS (
  SELECT a.d AS da, b.d AS db FROM d a JOIN d b
  ON (b.cx = a.cx + 1 AND b.cy = a.cy) OR (b.cx = a.cx AND b.cy = a.cy + 1))
SELECT (SELECT count(*) FROM d) AS n_cells,
       CAST(2 * (SELECT count(*) FROM adj) AS BIGINT) AS w_pairs,
       CAST(2 * (SELECT sum(da * db) FROM adj) AS BIGINT) AS num,
       CAST((SELECT sum(d * d) FROM d) AS BIGINT) AS den"""


_VKEY = 4294967296  # 2^32: grid coords nonnegative and < 2^32 (contour.py twin)


def grid_regions(
    cells: DataFrame, cx: str = "cx", cy: str = "cy", cnt: str = "cnt"
) -> DataFrame:
    """4-connected region labeling of the observed cells (the flood-fill /
    blob-extraction sibling of the contour family — regions are exactly
    what the iso-rings bound): one row per region with region_id (minimum
    cell key = cx·2^32 + cy), n_cells, sum_cnt, and the integer bbox.

    Two-pass CCL, the raster classic re-expressed distributed: (1) contract
    each row's maximal consecutive-cx RUN to one node with a single window
    pass (runs are 4-connected by construction, so east edges vanish and the
    node count drops by the mean run length); (2) label the run graph —
    vertically-overlapping runs — with graph.cc_two_level: band-local
    union-find (one applyInPandas job over cy-stripes) + cc_star's O(log n)
    large-star/small-star rounds on only the stripe-boundary residual.  The
    full-shuffle star rounds thus run on a graph two contractions smaller
    than the cell grid; singleton runs (no vertical neighbor) coalesce to
    themselves without entering the graph.  Labels are identical to plain
    cc_star over the cell graph: run keys are leftmost-cell keys, union-find
    is union-by-min, and minima compose."""
    from pyspark.sql import Window

    from osmgraft.operators.graph import cc_two_level

    c = cells.select(
        F.col(cx).alias("cx"), F.col(cy).alias("cy"),
        F.col(cnt).cast("long").alias("v"),
        (F.col(cx).cast("long") * _VKEY + F.col(cy)).alias("k"),
    )
    # (1) row-run contraction: run id = key of the run's leftmost cell.
    w = Window.partitionBy("cy").orderBy("cx")
    brk = F.when(
        F.lag("cx").over(w).isNull() | (F.col("cx") - F.lag("cx").over(w) != 1),
        F.col("k"),
    )
    cr = c.withColumn(
        "run",
        F.last(brk, ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).localCheckpoint(eager=True)  # reused by the edge build AND the label join
    # (2) vertical adjacency between runs via south-neighbor cell pairs.
    right = cr.select(F.col("cx").alias("bx"), F.col("cy").alias("by"),
                      F.col("run").alias("brun"))
    south = cr.join(
        right, (cr["cx"] == right["bx"]) & (cr["cy"] + 1 == right["by"])
    )
    edges = south.select(F.col("run").alias("u"), F.col("brun").alias("v"))
    # band = cy-stripe (cy lives in the key's low 32 bits); 8-row stripes
    # keep one stripe's runs in one union-find task at any tested zoom.
    band = lambda col: F.shiftright(col.bitwiseAND(F.lit(_VKEY - 1)), 3)
    labels = cc_two_level(edges, band)
    lab = cr.join(labels, cr["run"] == labels["id"], "left").select(
        "cx", "cy", "v", F.coalesce(F.col("comp"), F.col("run")).alias("region_id")
    )
    return lab.groupBy("region_id").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("v").alias("sum_cnt"),
        F.min("cx").alias("min_cx"),
        F.min("cy").alias("min_cy"),
        F.max("cx").alias("max_cx"),
        F.max("cy").alias("max_cy"),
    )


def sql_grid_regions(cells_cte: str) -> str:
    """DuckDB twin over the same cells CTE body (selects cx, cy, cnt):
    recursive-CTE transitive closure over the symmetric adjacency — a
    different algorithm than the star alternation, same labels."""
    return f"""WITH RECURSIVE cells AS ({cells_cte}),
ck AS (SELECT cx, cy, cnt, cx * {_VKEY} + cy AS k FROM cells),
e AS (
  SELECT a.k AS u, b.k AS v FROM ck a JOIN ck b
  ON b.cx = a.cx + 1 AND b.cy = a.cy
  UNION ALL
  SELECT a.k, b.k FROM ck a JOIN ck b
  ON b.cx = a.cx AND b.cy = a.cy + 1),
sym AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
reach(k, cur) AS (
  SELECT k, k FROM ck
  UNION
  SELECT r.k, s.v FROM reach r JOIN sym s ON s.u = r.cur),
lab AS (SELECT k, min(cur) AS region_id FROM reach GROUP BY k)
SELECT region_id, count(*) AS n_cells, CAST(sum(cnt) AS BIGINT) AS sum_cnt,
       min(cx) AS min_cx, min(cy) AS min_cy,
       max(cx) AS max_cx, max(cy) AS max_cy
FROM ck JOIN lab USING (k) GROUP BY region_id"""


def raster_upsample(
    cells: DataFrame, cx: str = "cx", cy: str = "cy", cnt: str = "cnt"
) -> DataFrame:
    """One zoom level UP (the inverse direction of tile_pyramid's rollup):
    bilinear refinement of a sparse z-level raster onto the z+1 grid in
    EXACT integers.  A z+1 child cell's center sits at quarter offsets of
    the parent centers, so its bilinear value has denominators 16 — emit
    the numerator ``dens16`` (= Σ wx·wy·parent with per-axis weights 3/1)
    and never divide.  Equivalently each parent scatters the classic
    (1,3,3,1) refinement mask onto children 2p−1..2p+2.

    SEPARABLE like density_smooth: one x-pass explode (4 children) + sum,
    one y-pass — 8 rows per parent instead of 16, two map-side-combined
    shuffles; the DuckDB twin runs the direct 2-D scatter.  Children with
    zero support never appear (sparse)."""
    wx = F.when(F.col("dx").isin(0, 1), F.lit(3)).otherwise(F.lit(1))
    xs = (
        cells.select(F.col(cx).alias("cx"), F.col(cy).alias("cy"),
                     F.col(cnt).cast("long").alias("v"),
                     F.explode(F.sequence(F.lit(-1), F.lit(2))).alias("dx"))
        .select((2 * F.col("cx") + F.col("dx")).alias("u"), "cy",
                (wx * F.col("v")).alias("v"))
        .groupBy("u", "cy")
        .agg(F.sum("v").alias("v"))
    )
    wy = F.when(F.col("dy").isin(0, 1), F.lit(3)).otherwise(F.lit(1))
    return (
        xs.select("u", "cy", "v",
                  F.explode(F.sequence(F.lit(-1), F.lit(2))).alias("dy"))
        .select("u", (2 * F.col("cy") + F.col("dy")).alias("v_cell"),
                (wy * F.col("v")).alias("v"))
        .groupBy("u", F.col("v_cell").alias("v_out"))
        .agg(F.sum("v").alias("dens16"))
        .select(F.col("u").alias("cx"), F.col("v_out").alias("cy"), "dens16")
    )


def sql_raster_upsample(cells_cte: str) -> str:
    """DuckDB twin: the DIRECT 2-D (1,3,3,1)⊗(1,3,3,1) scatter."""
    return f"""WITH cells AS ({cells_cte})
SELECT 2 * c.cx + dx.i AS cx, 2 * c.cy + dy.i AS cy,
       CAST(sum((CASE WHEN dx.i IN (0, 1) THEN 3 ELSE 1 END)
              * (CASE WHEN dy.i IN (0, 1) THEN 3 ELSE 1 END) * c.cnt) AS BIGINT)
         AS dens16
FROM cells c
CROSS JOIN range(-1, 3) dx(i)
CROSS JOIN range(-1, 3) dy(i)
GROUP BY 1, 2"""


def slope_terms(
    cells: DataFrame, cx: str = "cx", cy: str = "cy", cnt: str = "cnt"
) -> DataFrame:
    """Sobel gradient of the sparse count raster — the slope/aspect layer of
    the raster family (smooth → Moran's I → upsample → contours → SLOPE):
    per OBSERVED cell, gx = Σ v·wx, gy = Σ v·wy over the 3×3 window with the
    integer Sobel masks ([[−1,0,1],[−2,0,2],[−1,0,1]] and its transpose;
    unobserved neighbors contribute 0), plus g2 = gx²+gy² (magnitude² —
    never rooted, so the surface stays exact integers cross-engine).

    Plan: SCATTER form — each observed cell explodes its ≤8 weighted
    contributions onto neighbor targets (one map-side explode), ONE grouped
    sum, then an equi-join back to the observed set so only real cells
    emit. Same sparse-safe shape as density_smooth, one shuffle + one join.
    """
    c = cells.select(
        F.col(cx).alias("cx"), F.col(cy).alias("cy"),
        F.col(cnt).cast("long").alias("v"),
    )
    # contribution of source cell to target (cx+dx, cy+dy): source weight in
    # the TARGET's window is mask[-dx, -dy]; Sobel is antisymmetric so this
    # is -mask[dx, dy] — baked into the struct literals below.
    terms = []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            wx = -(dx * (2 - abs(dy)))  # -sobel_x[dx,dy]
            wy = -(dy * (2 - abs(dx)))
            if wx == 0 and wy == 0:
                continue
            terms.append(
                F.struct(
                    F.lit(dx).alias("dx"), F.lit(dy).alias("dy"),
                    F.lit(wx).alias("wx"), F.lit(wy).alias("wy"),
                )
            )
    scat = (
        c.select("cx", "cy", "v", F.explode(F.array(*terms)).alias("t"))
        .select(
            (F.col("cx") + F.col("t.dx")).alias("cx"),
            (F.col("cy") + F.col("t.dy")).alias("cy"),
            (F.col("v") * F.col("t.wx")).alias("px"),
            (F.col("v") * F.col("t.wy")).alias("py"),
        )
        .groupBy("cx", "cy")
        .agg(F.sum("px").alias("gx"), F.sum("py").alias("gy"))
    )
    # left join + zero-fill: a fully isolated cell has slope 0, not no row
    gx = F.coalesce(F.col("gx"), F.lit(0))
    gy = F.coalesce(F.col("gy"), F.lit(0))
    return c.join(scat, ["cx", "cy"], "left").select(
        "cx", "cy", gx.alias("gx"), gy.alias("gy"),
        (gx * gx + gy * gy).alias("g2"),
    )


def sql_slope_terms(cells_cte: str) -> str:
    """DuckDB twin: DIRECT gather — each observed cell left-joins its 3×3
    neighborhood and applies the masks in place (a different evaluation
    order than the scatter pass, same exact integers)."""
    return f"""WITH cells AS ({cells_cte})
SELECT c.cx, c.cy,
  CAST(sum(n.cnt * dx.i * (2 - abs(dy.i))) AS BIGINT) AS gx,
  CAST(sum(n.cnt * dy.i * (2 - abs(dx.i))) AS BIGINT) AS gy,
  CAST(sum(n.cnt * dx.i * (2 - abs(dy.i))) * sum(n.cnt * dx.i * (2 - abs(dy.i)))
     + sum(n.cnt * dy.i * (2 - abs(dx.i))) * sum(n.cnt * dy.i * (2 - abs(dx.i)))
     AS BIGINT) AS g2
FROM cells c
CROSS JOIN range(-1, 2) dx(i)
CROSS JOIN range(-1, 2) dy(i)
JOIN cells n ON n.cx = c.cx + dx.i AND n.cy = c.cy + dy.i
GROUP BY c.cx, c.cy"""


# --------------------------------------------------------------------------
# inverse-distance-weighted (IDW) interpolation
# --------------------------------------------------------------------------

IDW_K = 1 << 36  # weight scale: w = K div max(d2, 1)


def idw_terms(
    samples: DataFrame, pitch: int, radius_cells: int = 2
) -> DataFrame:
    """Shepard inverse-distance-squared interpolation of scattered samples
    onto the occupied cells of a ``pitch``-sized lat/lon grid — the classic
    geostatistics gridding op (public method; power p=2), emitted as EXACT
    INTEGER terms with the division never taken (the ring-centroid
    discipline): per target cell,
        estimate = idw_num / idw_den,
        w_i = IDW_K div max(d2_i, 1)   (quantized integer weights),
    d2_i the exact wrap-aware squared fixed-point distance from sample i to
    the CELL CENTER, restricted to d2 <= (radius_cells*pitch)^2. Quantized
    weights make the sums associative and cross-engine exact — float 1/d2
    would hash differently under reassociation; an exact-rational sum would
    need unbounded denominators. A sample ON the center (d2=0) gets the
    maximum weight IDW_K.

    Input: (point_id, lat7, lon7, v) with v a bounded integer (|v| <= ~1e3
    keeps num far from int64 overflow: |terms| <= IDW_K*|v| ~ 6.9e13, room
    for ~1e5 in-radius samples per cell; shrink IDW_K for denser rasters).

    Completeness: a sample within radius_cells*pitch of a center can only
    lie in a cell within radius_cells of it on each axis (|sample - center|
    >= (|cell_offset| - 1/2)*pitch per axis), so the (2r+1)^2 explode below
    provably covers every contributing pair.

    100 TB shape: one explode + equi-join on cell keys (the DBSCAN/celljoin
    skew surface — AQE or the quadtree partitioner split dense cities), one
    map-side-combined aggregation. Output (cy, cx, n_samples, idw_num,
    idw_den) for every OCCUPIED cell (sparse-raster convention).
    """
    ncl = lon_cells(pitch)
    r2 = (radius_cells * pitch) ** 2
    cy, cx = grid_yx(F.col("lat7"), F.col("lon7"), pitch)
    base = samples.select(
        F.col("lat7").cast("long").alias("slat"),
        F.col("lon7").cast("long").alias("slon"),
        F.col("v").cast("long").alias("v"),
        cy.alias("cy"),
        cx.alias("cx"),
    )
    occupied = base.select("cy", "cx").distinct()
    offs = range(-radius_cells, radius_cells + 1)
    probes = base.select(
        "slat",
        "slon",
        "v",
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("cy") + F.lit(dy)).alias("ty"),
                        F.pmod(F.col("cx") + F.lit(dx), F.lit(ncl)).alias("tx"),
                    )
                    for dy in offs
                    for dx in offs
                ]
            )
        ).alias("t"),
    ).select("slat", "slon", "v", F.col("t.ty").alias("cy"), F.col("t.tx").alias("cx"))
    # exact integer cell-center coordinates: center = cell*pitch + pitch/2.
    # Longitude works in the WRAPPED-UNSIGNED frame [0, LON_SPAN): the cell
    # key cx = pmod(floor(slon/pitch), ncl) equals floor(pmod(slon, LON_SPAN)
    # / pitch), so center cx*pitch + pitch/2 and sample pmod(slon, LON_SPAN)
    # live in the SAME frame and the wrap-min metric is exact.
    clat = F.col("cy") * F.lit(pitch) + F.lit(pitch // 2)
    clon_u = F.col("cx") * F.lit(pitch) + F.lit(pitch // 2)  # in [0, LON_SPAN)
    d2 = dist2(F.col("slat"), F.pmod(F.col("slon"), F.lit(LON_SPAN)), clat, clon_u)
    w = F.expr(f"{IDW_K} div greatest(d2v, 1L)")
    return (
        probes.join(occupied, ["cy", "cx"])
        .withColumn("d2v", d2)
        .where(F.col("d2v") <= F.lit(r2))
        .select("cy", "cx", "v", w.alias("w"))
        .groupBy("cy", "cx")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum(F.col("w") * F.col("v")).alias("idw_num"),
            F.sum("w").alias("idw_den"),
        )
    )


def sql_idw_terms(samples_cte: str, pitch: int, radius_cells: int = 2) -> str:
    """DuckDB twin over a (point_id, lat7, lon7, v) CTE body — identical
    weight/metric text, direct 2-D offset cross join."""
    ncl = lon_cells(pitch)
    r2 = (radius_cells * pitch) ** 2
    cy, cx = sql_grid_yx("lat7", "lon7", pitch)
    # the sample in the wrapped-unsigned lon frame of the cell centers (idw_terms)
    d2 = sql_dist2(
        "p.slat",
        f"((p.slon % {LON_SPAN}) + {LON_SPAN}) % {LON_SPAN}",
        f"(p.cy * {pitch} + {pitch // 2})",
        f"(p.cx * {pitch} + {pitch // 2})",
    )
    return f"""WITH s AS (
  SELECT CAST(lat7 AS BIGINT) AS slat, CAST(lon7 AS BIGINT) AS slon,
         CAST(v AS BIGINT) AS v,
         {cy} AS cy, {cx} AS cx
  FROM ({samples_cte})
),
occupied AS (SELECT DISTINCT cy, cx FROM s),
probes AS (
  SELECT slat, slon, v, cy + dy.i AS cy, ((cx + dx.i) % {ncl} + {ncl}) % {ncl} AS cx
  FROM s
  CROSS JOIN range(-{radius_cells}, {radius_cells + 1}) dy(i)
  CROSS JOIN range(-{radius_cells}, {radius_cells + 1}) dx(i)
),
terms AS (
  SELECT p.cy, p.cx, p.v,
         {d2} AS d2v
  FROM probes p JOIN occupied o ON o.cy = p.cy AND o.cx = p.cx
)
SELECT cy, cx, count(*) AS n_samples,
       CAST(sum(({IDW_K} // greatest(d2v, 1)) * v) AS BIGINT) AS idw_num,
       CAST(sum({IDW_K} // greatest(d2v, 1)) AS BIGINT) AS idw_den
FROM terms WHERE d2v <= {r2}
GROUP BY cy, cx"""


# --------------------------------------------------------------------------
# histogram equalization (raster contrast stretch)
# --------------------------------------------------------------------------

def equalize(cells: DataFrame, levels: int = 256) -> DataFrame:
    """Histogram equalization of a sparse cell raster — the classic image
    contrast stretch (public formula) applied to the tile-count surface
    before rendering (render_tile_pngs consumes the remapped values):
        eq(v) = (cdf(v) - cdf_min) * (levels-1) div (n - cdf_min)
    with cdf(v) = #cells with cnt <= v, cdf_min = cdf of the smallest
    value, integer division — exact, no floats. Degenerate raster (one
    distinct value) maps to levels-1.

    Shape: the CDF is computed on the per-VALUE histogram (groupBy cnt —
    map-side combined; distinct count values are tiny compared to cells,
    bounded by the count range), its running sum is one single-partition
    window over that tiny table, and the remap is a broadcast join back to
    the cells. The raster itself is never windowed or re-shuffled."""
    from pyspark.sql import Window

    vals = cells.groupBy("cnt").agg(F.count(F.lit(1)).alias("k"))
    w = Window.orderBy("cnt").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cdf = vals.select("cnt", F.sum("k").over(w).alias("cdf"))
    stats = cdf.agg(F.max("cdf").alias("n"), F.min("cdf").alias("cdf_min"))
    eq = F.when(
        F.col("n") > F.col("cdf_min"),
        F.expr(f"((cdf - cdf_min) * {levels - 1}) div (n - cdf_min)"),
    ).otherwise(F.lit(levels - 1))
    return (
        cells.join(F.broadcast(cdf), "cnt")
        .crossJoin(F.broadcast(stats))
        .select("cy", "cx", "cnt", eq.cast("long").alias("eq"))
    )


def sql_equalize(cells_cte: str, levels: int = 256) -> str:
    """DuckDB twin: identical CDF/remap text."""
    return f"""WITH cells AS ({cells_cte}),
vals AS (SELECT cnt, count(*) AS k FROM cells GROUP BY cnt),
cdf AS (SELECT cnt, sum(k) OVER (ORDER BY cnt
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cdf FROM vals),
stats AS (SELECT max(cdf) AS n, min(cdf) AS cdf_min FROM cdf)
SELECT c.cy, c.cx, c.cnt,
       CAST(CASE WHEN s.n > s.cdf_min
            THEN ((d.cdf - s.cdf_min) * {levels - 1}) // (s.n - s.cdf_min)
            ELSE {levels - 1} END AS BIGINT) AS eq
FROM cells c JOIN cdf d USING (cnt) CROSS JOIN stats s"""


def raster_dilate(cells: DataFrame, radius: int) -> DataFrame:
    """Morphological DILATION of the observed cell set (Chebyshev
    structuring square of side 2r+1, Serra 1982): every cell within r of an
    observed cell. Output (cx, cy). Composition of the separable box pass
    with an existence threshold — same two explode+sum shuffles as
    density_smooth, output bounded by (2r+1)^2 x |cells|."""
    ind = cells.select("cx", "cy", F.lit(1).alias("cnt"))
    return density_smooth(ind, radius).where(F.col("dens") > 0).select("cx", "cy")


def raster_erode(cells: DataFrame, radius: int) -> DataFrame:
    """Morphological EROSION: cells whose ENTIRE (2r+1)^2 neighborhood is
    observed (dens over the 0/1 indicator == full square). An unobserved
    cell can never pass (it is in its own neighborhood), so the halo cells
    the box pass emits filter themselves out."""
    full = (2 * radius + 1) ** 2
    ind = cells.select("cx", "cy", F.lit(1).alias("cnt"))
    return (
        density_smooth(ind, radius).where(F.col("dens") == full).select("cx", "cy")
    )


def raster_opening(cells: DataFrame, radius: int) -> DataFrame:
    """OPENING = erode then dilate — the classic raster denoise: specks and
    filaments thinner than the structuring square vanish, solid blobs keep
    their shape. Output (cx, cy), a subset of the input support."""
    return raster_dilate(raster_erode(cells, radius), radius)


def sql_raster_opening(cells_cte: str, radius: int) -> str:
    """DuckDB twin via direct neighborhood joins (different algorithm: no
    separable pass — erode = a full-square count join over the observed
    set, dilate = DISTINCT neighbor expansion of the eroded set)."""
    full = (2 * radius + 1) ** 2
    return f"""WITH cells AS ({cells_cte}),
eroded AS (
  SELECT c.cx, c.cy FROM cells c
  WHERE (SELECT count(*) FROM cells n
         WHERE n.cx BETWEEN c.cx - {radius} AND c.cx + {radius}
           AND n.cy BETWEEN c.cy - {radius} AND c.cy + {radius}) = {full})
SELECT DISTINCT e.cx + dx.i AS cx, e.cy + dy.i AS cy
FROM eroded e
CROSS JOIN range({-radius}, {radius + 1}) dx(i)
CROSS JOIN range({-radius}, {radius + 1}) dy(i)"""


def median_filter(
    cells: DataFrame, cx: str = "cx", cy: str = "cy", cnt: str = "cnt"
) -> DataFrame:
    """3×3 median filter over a sparse integer raster — THE order-statistic
    denoiser (salt-and-pepper speck removal that box blur smears and
    morphology clips): for every OCCUPIED cell, the median of its 3×3
    neighborhood with absent cells counted as 0.

    Exact zero-padding rule (shared with the twin): with m observed values
    in the window (1 <= m <= 9), the multiset is {0}×(9−m) ∪ values, so
    median = 0 when m <= 4, else the (m−4)-th smallest observed value.

    Shape: SCATTER form — each observed cell explodes its value to the 9
    windows it participates in (9× the sparse raster, map-side), one hash
    aggregate collecting per-window order statistics via sorted arrays
    (windows hold <= 9 ints), then a semi-join back to occupied centers.
    One exchange over cell keys; no densification — at 100 TB the cost
    rides the OCCUPIED cell count, never the grid size."""
    c = cells.select(
        F.col(cx).alias("cx"), F.col(cy).alias("cy"), F.col(cnt).cast("long").alias("v")
    )
    off = F.explode(
        F.expr("flatten(transform(sequence(-1, 1), a -> transform(sequence(-1, 1), b -> struct(a, b))))")
    )
    contrib = c.select("cx", "cy", "v", off.alias("o")).select(
        (F.col("cx") + F.col("o.a")).alias("wx"),
        (F.col("cy") + F.col("o.b")).alias("wy"),
        "v",
    )
    wins = contrib.groupBy("wx", "wy").agg(
        F.count(F.lit(1)).alias("m"), F.array_sort(F.collect_list("v")).alias("vals")
    )
    med = wins.select(
        "wx",
        "wy",
        F.when(F.col("m") <= 4, F.lit(0).cast("long"))
        .otherwise(F.element_at("vals", (F.col("m") - 4).cast("int")))
        .alias("median"),
    )
    return (
        c.select(F.col("cx").alias("wx"), F.col("cy").alias("wy"))
        .join(med, ["wx", "wy"])
        .select(F.col("wx").alias("cx"), F.col("wy").alias("cy"), "median")
    )


def sql_median_filter(cells_cte: str) -> str:
    """DuckDB twin: GATHER form — per occupied center, join the <= 9
    observed neighbors, rank them, and apply the identical zero-padding
    rule (m <= 4 → 0, else (m−4)-th smallest).  Scatter vs gather, one
    median surface."""
    return f"""WITH cells AS ({cells_cte}),
nb AS (
  SELECT a.cx, a.cy, b.cnt AS v,
         row_number() OVER (PARTITION BY a.cx, a.cy ORDER BY b.cnt) AS rk,
         count(*) OVER (PARTITION BY a.cx, a.cy) AS m
  FROM cells a JOIN cells b
    ON b.cx BETWEEN a.cx - 1 AND a.cx + 1 AND b.cy BETWEEN a.cy - 1 AND a.cy + 1)
SELECT cx, cy,
       CAST(coalesce(max(CASE WHEN m > 4 AND rk = m - 4 THEN v END), 0) AS BIGINT) AS median
FROM nb GROUP BY cx, cy"""


def local_join_counts(
    cells: DataFrame, cx: str = "cx", cy: str = "cy", cnt: str = "cnt"
) -> DataFrame:
    """LOCAL join-count statistic (Anselin's local indicator family — the
    per-cell companion to the GLOBAL morans_i_terms): cells binarize hot =
    (n·cnt > Σcnt), exact cross-multiplied mean threshold — and every
    observed cell reports its observed rook-neighbor count and how many of
    those neighbors are jointly hot (hot_i·hot_j summed).  High jc on a hot
    cell = a hot CLUSTER member; hot with jc 0 = an isolated spike — the
    distinction the global I cannot make.

    All integers end to end.  Join shape: the same two shifted EQUI-joins
    as Moran's (east + south; an OR-join would nested-loop — scale killer),
    each orientation replayed in reverse so every ordered adjacency appears
    once; one hash agg per cell; zero-neighbor cells kept by a left join."""
    c = cells.select(
        F.col(cx).alias("cx"), F.col(cy).alias("cy"), F.col(cnt).cast("long").alias("v")
    )
    stats = c.agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    m = c.crossJoin(F.broadcast(stats)).select(
        "cx",
        "cy",
        F.when(F.col("n") * F.col("v") > F.col("s"), 1).otherwise(0).cast("long").alias("hot"),
    )
    right = m.select(
        F.col("cx").alias("bx"), F.col("cy").alias("by"), F.col("hot").alias("hotb")
    )
    east = m.join(right, (m["cx"] + 1 == right["bx"]) & (m["cy"] == right["by"]))
    south = m.join(right, (m["cx"] == right["bx"]) & (m["cy"] + 1 == right["by"]))
    fwd = east.select("cx", "cy", "hot", "hotb").unionAll(
        south.select("cx", "cy", "hot", "hotb")
    )
    rev = east.select(
        F.col("bx").alias("cx"), F.col("by").alias("cy"),
        F.col("hotb").alias("hot"), F.col("hot").alias("hotb"),
    ).unionAll(
        south.select(
            F.col("bx").alias("cx"), F.col("by").alias("cy"),
            F.col("hotb").alias("hot"), F.col("hot").alias("hotb"),
        )
    )
    per = (
        fwd.unionAll(rev)
        .groupBy("cx", "cy")
        .agg(
            F.count(F.lit(1)).cast("long").alias("k_obs"),
            F.sum(F.col("hot") * F.col("hotb")).cast("long").alias("jc"),
        )
    )
    return m.join(per, ["cx", "cy"], "left").select(
        "cx",
        "cy",
        "hot",
        F.coalesce(F.col("k_obs"), F.lit(0).cast("long")).alias("k_obs"),
        F.coalesce(F.col("jc"), F.lit(0).cast("long")).alias("jc"),
    )


def sql_local_join_counts(cells_cte: str) -> str:
    """DuckDB twin over the same cells CTE body (cx, cy, cnt)."""
    return f"""WITH cells AS ({cells_cte}),
st AS (SELECT count(*) AS n, sum(cnt) AS s FROM cells),
m AS (SELECT cx, cy,
             CASE WHEN st.n * cnt > st.s THEN 1 ELSE 0 END AS hot
      FROM cells, st),
adj AS (
  SELECT a.cx, a.cy, a.hot, b.hot AS hotb FROM m a JOIN m b
  ON (b.cx = a.cx + 1 AND b.cy = a.cy) OR (b.cx = a.cx - 1 AND b.cy = a.cy)
     OR (b.cx = a.cx AND b.cy = a.cy + 1) OR (b.cx = a.cx AND b.cy = a.cy - 1)),
per AS (SELECT cx, cy, CAST(count(*) AS BIGINT) AS k_obs,
               CAST(sum(hot * hotb) AS BIGINT) AS jc
        FROM adj GROUP BY cx, cy)
SELECT m.cx, m.cy, CAST(m.hot AS BIGINT) AS hot,
       coalesce(per.k_obs, 0) AS k_obs, coalesce(per.jc, 0) AS jc
FROM m LEFT JOIN per ON per.cx = m.cx AND per.cy = m.cy"""


def getis_ord_gi_star(
    cells: DataFrame,
    cx: str = "cx",
    cy: str = "cy",
    cnt: str = "cnt",
    z2: int = 4,
) -> DataFrame:
    """Getis–Ord Gi* hot/cold-spot classification (Getis & Ord 1992; Ord &
    Getis 1995) per observed cell — the z-score family member the ESDA
    suite still lacked (global Moran's I = morans_i_z8, local join counts
    = local_join_counts_z8, temporal trend = tile_trend_mk_z5; Gi* is the
    LEVEL detector ArcGIS calls "Hot Spot Analysis").

    Weights: binary queen contiguity INCLUDING self (the Gi* convention)
    over the observed-cell universe.  With L = Σ_{j∈N(i)} x_j,
    W = |N(i)|, T1 = Σx, T2 = Σx², n = #cells:

        z_i = (n·L − W·T1) · sqrt(n−1) / sqrt((n·T2 − T1²)(n·W − W²))

    classified EXACTLY with no sqrt/division: |z| ≥ z0 ⇔
    A²·(n−1) ≥ z0²·(n·T2 − T1²)·(n·W − W²) with A = n·L − W·T1, evaluated
    in DECIMAL(38) (the twin uses HUGEINT) so the cross-multiplication
    never wraps; sign(A) picks hot (+1) vs cold (−1), A = 0 (degenerate
    universes included) is 0.  Emits (cx, cy, gi_num = A, w_obs, cls).

    Join shape: ONE explode of the 9 window offsets + hash re-group (the
    density_smooth discipline — no OR-join nested loop), one equi-join back
    to the universe to drop phantom targets, one broadcast of the 1-row
    global stats.  Scales: work is 9·cells, all map-side combinable."""
    c = cells.select(
        F.col(cx).alias("cx"), F.col(cy).alias("cy"), F.col(cnt).cast("long").alias("v")
    )
    stats = c.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("t1"),
        F.sum(F.col("v") * F.col("v")).alias("t2"),
    )
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    contrib = c.select(F.explode(offs).alias("o"), "cx", "cy", "v").select(
        (F.col("cx") + F.col("o.dx")).alias("tx"),
        (F.col("cy") + F.col("o.dy")).alias("ty"),
        "v",
    )
    nb = contrib.groupBy("tx", "ty").agg(
        F.sum("v").alias("l"), F.count(F.lit(1)).alias("w")
    )
    j = c.join(nb, (c["cx"] == nb["tx"]) & (c["cy"] == nb["ty"])).crossJoin(
        F.broadcast(stats)
    )
    d19 = "decimal(19,0)"
    n19 = F.col("n").cast(d19)
    a = (F.col("n") * F.col("l") - F.col("w") * F.col("t1")).cast(d19)
    lhs = (a * a) * (F.col("n") - 1).cast(d19)
    sden = n19 * F.col("t2").cast(d19) - F.col("t1").cast(d19) * F.col("t1").cast(d19)
    wden = (F.col("n") * F.col("w") - F.col("w") * F.col("w")).cast(d19)
    rhs = F.lit(z2).cast(d19) * sden * wden
    cls = (
        F.when(a == 0, 0)
        .when((a > 0) & (lhs >= rhs), 1)
        .when((a < 0) & (lhs >= rhs), -1)
        .otherwise(0)
    )
    return j.select(
        "cx",
        "cy",
        a.cast("long").alias("gi_num"),
        F.col("w").cast("long").alias("w_obs"),
        cls.cast("long").alias("cls"),
    )


def sql_getis_ord_gi_star(cells_cte: str, z2: int = 4) -> str:
    """DuckDB twin over the same cells CTE body (cx, cy, cnt) — identical
    exact inequality in HUGEINT, relational window sum via a 9-row VALUES
    cross join."""
    return f"""WITH cells AS ({cells_cte}),
st AS (SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(cnt) AS HUGEINT) AS t1,
              CAST(sum(CAST(cnt AS HUGEINT) * cnt) AS HUGEINT) AS t2 FROM cells),
contrib AS (
  SELECT cx + d.dx AS tx, cy + d.dy AS ty, cnt AS v
  FROM cells, (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),
                      (1,-1),(1,0),(1,1)) d(dx, dy)),
nb AS (SELECT tx, ty, CAST(sum(v) AS HUGEINT) AS l, CAST(count(*) AS HUGEINT) AS w
       FROM contrib GROUP BY tx, ty),
sc AS (SELECT c.cx, c.cy, nb.w,
              st.n * nb.l - nb.w * st.t1 AS a,
              st.n - 1 AS nm1,
              st.n * st.t2 - st.t1 * st.t1 AS sden,
              st.n * nb.w - nb.w * nb.w AS wden
       FROM cells c JOIN nb ON nb.tx = c.cx AND nb.ty = c.cy, st)
SELECT cx, cy, CAST(a AS BIGINT) AS gi_num, CAST(w AS BIGINT) AS w_obs,
       CAST(CASE WHEN a = 0 THEN 0
                 WHEN a > 0 AND a * a * nm1 >= {z2} * sden * wden THEN 1
                 WHEN a < 0 AND a * a * nm1 >= {z2} * sden * wden THEN -1
                 ELSE 0 END AS BIGINT) AS cls
FROM sc"""


def decayed_tile_counts(
    pts: DataFrame,
    cx: str = "cx",
    cy: str = "cy",
    day: str = "day",
    k: int = 100,
) -> DataFrame:
    """Recency-weighted tile heat with EXACT exponential decay (half-life =
    one day): weight(event) = 2^(day − day_min), so the decayed count
    Σ 2^(day−day_min) is an int64 (span ≤ ~30 days ⇒ ≤ 2^29·n — no IEEE
    pow anywhere); the physical heat at read time is decayed_num /
    2^(day_max − day_min), a division the consumer takes, never the
    engine.  Emits the global TOP-``k`` tiles as (rank, tx, ty,
    decayed_num, n_events) ordered by (decayed_num DESC, tx, ty) — the
    freshness-biased hot-tile list a cache-warming / prefetch layer feeds
    on, where yesterday's burst outranks last week's.

    Shape: per-tile agg with map-side combine; the 1-row (day_min) agg
    broadcast into the weight expression; top-k via orderBy+limit
    (TakeOrderedAndProject — no global sort materialization) and a
    ≤k-row rank window.  Scales: everything after the first agg is
    aggregate-sized."""
    from pyspark.sql import Window

    base = pts.select(
        F.col(cx).alias("tx"), F.col(cy).alias("ty"), F.col(day).cast("long").alias("d")
    )
    dmin = base.agg(F.min("d").alias("dmin"))
    per = (
        base.crossJoin(F.broadcast(dmin))
        .select(
            "tx",
            "ty",
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(d - dmin AS INT))").alias("wt"),
        )
        .groupBy("tx", "ty")
        .agg(
            F.sum("wt").alias("decayed_num"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )
    top = per.orderBy(F.desc("decayed_num"), "tx", "ty").limit(k)
    w = Window.orderBy(F.desc("decayed_num"), "tx", "ty")
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "tx",
        "ty",
        "decayed_num",
        "n_events",
    )


def sql_decayed_tile_counts(pts_cte: str, k: int = 100) -> str:
    """DuckDB twin over a (cx, cy, day) CTE body — same exact shifted
    weights, same deterministic top-k order."""
    return f"""WITH dpts AS ({pts_cte}),
dmin AS (SELECT min(day) AS dmin FROM dpts),
per AS (
  SELECT cx AS tx, cy AS ty,
         CAST(sum(CAST(1 AS BIGINT) << CAST(day - dmin AS INTEGER)) AS BIGINT)
           AS decayed_num,
         CAST(count(*) AS BIGINT) AS n_events
  FROM dpts, dmin GROUP BY cx, cy)
SELECT CAST(row_number() OVER (ORDER BY decayed_num DESC, tx, ty) AS BIGINT) AS rank,
       tx, ty, decayed_num, n_events
FROM per ORDER BY decayed_num DESC, tx, ty LIMIT {k}"""


def empirical_variogram(
    cells: DataFrame,
    cx: str = "cx",
    cy: str = "cy",
    cnt: str = "cnt",
    max_r: int = 4,
) -> DataFrame:
    """Empirical (Matheron) semivariogram over the observed-cell lattice —
    the geostatistics primitive under kriging/IDW parameter choice
    (Matheron 1963): for every unordered cell pair at lag vector (dx, dy)
    with Chebyshev radius ≤ ``max_r``, accumulate (v_a − v_b)² into its
    squared-distance class d2 = dx²+dy².  Emits (d2, n_pairs, sum_sqdiff);
    γ(d2) = sum_sqdiff / (2·n_pairs) is the consumer's division — the gate
    stays integer-exact.  Completes the spatial-structure family (Moran's
    I level, Gi* hotspots, join counts, variogram RANGE structure).

    Pairing discipline: each ordered lag from the HALF-PLANE offset set
    (dx > 0, or dx = 0 ∧ dy > 0) explodes once and equi-joins back to the
    universe — every unordered pair exactly once, no OR-join, no n².
    100 TB: work is |offsets|·cells, all map-side combinable."""
    offsets = [
        (dx, dy)
        for dx in range(0, max_r + 1)
        for dy in range(-max_r, max_r + 1)
        if (dx > 0 or (dx == 0 and dy > 0))
    ]
    c = cells.select(
        F.col(cx).alias("cx"), F.col(cy).alias("cy"), F.col(cnt).cast("long").alias("v")
    )
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in offsets
        ]
    )
    ex = c.select(F.explode(offs).alias("o"), "cx", "cy", "v").select(
        (F.col("cx") + F.col("o.dx")).alias("tx"),
        (F.col("cy") + F.col("o.dy")).alias("ty"),
        (F.col("o.dx") * F.col("o.dx") + F.col("o.dy") * F.col("o.dy")).alias("d2"),
        F.col("v").alias("va"),
    )
    other = c.select(
        F.col("cx").alias("tx"), F.col("cy").alias("ty"), F.col("v").alias("vb")
    )
    d = F.col("va") - F.col("vb")
    return (
        ex.join(other, ["tx", "ty"])
        .groupBy("d2")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(d * d).cast("long").alias("sum_sqdiff"),
        )
    )


def sql_empirical_variogram(cells_cte: str, max_r: int = 4) -> str:
    """DuckDB twin over the same cells CTE body — same half-plane lag set
    via a generated VALUES cross join."""
    offsets = [
        (dx, dy)
        for dx in range(0, max_r + 1)
        for dy in range(-max_r, max_r + 1)
        if (dx > 0 or (dx == 0 and dy > 0))
    ]
    vals = ", ".join(f"({dx}, {dy})" for dx, dy in offsets)
    return f"""WITH cells AS ({cells_cte}),
lag_ex AS (
  SELECT cx + o.dx AS tx, cy + o.dy AS ty,
         o.dx * o.dx + o.dy * o.dy AS d2, cnt AS va
  FROM cells, (VALUES {vals}) o(dx, dy))
SELECT CAST(d2 AS BIGINT) AS d2, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum((va - b.cnt) * (va - b.cnt)) AS BIGINT) AS sum_sqdiff
FROM lag_ex JOIN cells b ON b.cx = lag_ex.tx AND b.cy = lag_ex.ty
GROUP BY d2"""


def geary_c_terms(
    cells: DataFrame, cx: str = "cx", cy: str = "cy", cnt: str = "cnt"
) -> DataFrame:
    """Exact integer terms of Geary's C over the observed cells with rook
    weights (Geary 1954) — Moran's I's difference-based sibling (I
    correlates deviations and is dominated by global structure; C sums
    squared NEIGHBOR differences and is the more local detector; the two
    together are the standard ESDA pair).  One row:

        (n_cells, w_pairs, ssq_w, den_raw, spatial_class)

    where ssq_w = Σ over ORDERED adjacent pairs of (x_i − x_j)²,
    den_raw = n·Σx² − (Σx)² (= n·Σ(x_i − x̄)², the mean cleared), and
        C = (n−1)·n·ssq_w / (2·w_pairs·den_raw)
    exactly.  spatial_class compares C to its null expectation 1 by the
    cross-multiplied inequality in DECIMAL(38)/HUGEINT: 'clustered'
    (C < 1 — neighbors more alike than chance), 'dispersed' (C > 1),
    'random' (exactly 1), 'degenerate' (den zero).

    100 TB: same shape as morans_i_terms — two equi-joins (east + south
    neighbors, never an OR-join), all aggs map-side combinable."""
    c = cells.select(
        F.col(cx).alias("cx"), F.col(cy).alias("cy"), F.col(cnt).cast("long").alias("v")
    )
    right = c.select(
        F.col("cx").alias("bx"), F.col("cy").alias("by"), F.col("v").alias("vb")
    )
    east = c.join(right, (c["cx"] + 1 == right["bx"]) & (c["cy"] == right["by"]))
    south = c.join(right, (c["cx"] == right["bx"]) & (c["cy"] + 1 == right["by"]))
    diffs = east.select(
        ((F.col("v") - F.col("vb")) * (F.col("v") - F.col("vb"))).alias("d2")
    ).unionAll(
        south.select(
            ((F.col("v") - F.col("vb")) * (F.col("v") - F.col("vb"))).alias("d2")
        )
    )
    num_w = diffs.agg(
        (F.lit(2) * F.sum("d2")).cast("long").alias("ssq_w"),
        (F.lit(2) * F.count(F.lit(1))).cast("long").alias("w_pairs"),
    )
    d38g = "decimal(38,0)"
    den_n = c.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        (
            F.count(F.lit(1)).cast(d38g) * F.sum(F.col("v") * F.col("v")).cast(d38g)
            - F.sum("v").cast(d38g) * F.sum("v").cast(d38g)
        ).alias("den_raw"),
    )
    j = den_n.crossJoin(num_w)
    d38 = "decimal(38,0)"
    lhs = (
        (F.col("n_cells") - 1).cast(d38)
        * F.col("n_cells").cast(d38)
        * F.col("ssq_w").cast(d38)
    )
    rhs = F.lit(2).cast(d38) * F.col("w_pairs").cast(d38) * F.col("den_raw").cast(d38)
    cls = (
        F.when((F.col("den_raw") == 0) | (F.col("w_pairs") == 0), "degenerate")
        .when(lhs < rhs, "clustered")
        .when(lhs > rhs, "dispersed")
        .otherwise("random")
    )
    return j.select(
        "n_cells", "w_pairs", "ssq_w", "den_raw", cls.alias("spatial_class")
    )


def sql_geary_c_terms(cells_cte: str) -> str:
    """DuckDB twin over the same cells CTE body (cx, cy, cnt)."""
    return f"""WITH cells AS ({cells_cte}),
gadj AS (
  SELECT CAST(a.cnt AS BIGINT) AS va, CAST(b.cnt AS BIGINT) AS vb
  FROM cells a JOIN cells b
  ON (b.cx = a.cx + 1 AND b.cy = a.cy) OR (b.cx = a.cx AND b.cy = a.cy + 1)),
gst AS (SELECT CAST(count(*) AS BIGINT) AS n_cells,
               CAST(CAST(count(*) AS HUGEINT) * sum(CAST(cnt AS HUGEINT) * cnt)
                    - sum(CAST(cnt AS HUGEINT)) * sum(CAST(cnt AS HUGEINT))
                 AS BIGINT) AS den_raw
        FROM cells),
gnw AS (SELECT CAST(2 * COALESCE(sum((va - vb) * (va - vb)), 0) AS BIGINT) AS ssq_w,
               CAST(2 * count(*) AS BIGINT) AS w_pairs
        FROM gadj)
SELECT n_cells, w_pairs, ssq_w, den_raw,
       CASE WHEN den_raw = 0 OR w_pairs = 0 THEN 'degenerate'
            WHEN CAST(n_cells - 1 AS HUGEINT) * n_cells * ssq_w
                 < 2 * CAST(w_pairs AS HUGEINT) * den_raw THEN 'clustered'
            WHEN CAST(n_cells - 1 AS HUGEINT) * n_cells * ssq_w
                 > 2 * CAST(w_pairs AS HUGEINT) * den_raw THEN 'dispersed'
            ELSE 'random' END AS spatial_class
FROM gst, gnw"""


def local_moran_quadrants(
    cells: DataFrame, cx: str = "cx", cy: str = "cy", cnt: str = "cnt"
) -> DataFrame:
    """Local Moran's I — the LISA member (Anselin, Geographical Analysis
    1995) completing the ESDA suite (global Moran level, Geary contrast,
    Getis–Ord level z, join counts; this is the PER-CELL cluster/outlier
    map every GIS ships as "LISA cluster map").  With the global-Moran
    deviation d_i = n·x_i − s (integer-scaled, mean-free) and the rook
    lag L_i = Σ_{j∈N(i)} d_j over observed neighbors:

        ii_num   = d_i · L_i        (sign = local clustering direction)
        quadrant = HH / LL (cluster) , HL / LH (spatial outlier),
                   'none' when d_i, L_i or the neighbor set is zero

    — the Moran-scatterplot quadrant classification, exact (no
    variance normalization: normalizing rescales within a cell but
    never moves a quadrant, and significance screening is the
    companion getis_ord query's job).  Emits (cx, cy, v, d, lag_sum,
    n_nbrs, ii_num, quadrant).

    100 TB: one broadcast stats row, one 4-offset explode + equi-join
    regroup (the local_join_counts shape — no OR-join, no cross), one
    map-side-combinable agg."""
    c = cells.select(
        F.col(cx).alias("cx"), F.col(cy).alias("cy"),
        F.col(cnt).cast("long").alias("v"),
    )
    stats = c.agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    d = c.crossJoin(F.broadcast(stats)).select(
        "cx", "cy", "v", (F.col("n") * F.col("v") - F.col("s")).alias("d")
    )
    offs = F.array(
        F.struct(F.lit(1).alias("dx"), F.lit(0).alias("dy")),
        F.struct(F.lit(-1).alias("dx"), F.lit(0).alias("dy")),
        F.struct(F.lit(0).alias("dx"), F.lit(1).alias("dy")),
        F.struct(F.lit(0).alias("dx"), F.lit(-1).alias("dy")),
    )
    probe = d.select(
        "cx", "cy", F.explode(offs).alias("o")
    ).select(
        F.col("cx").alias("ocx"), F.col("cy").alias("ocy"),
        (F.col("cx") + F.col("o.dx")).alias("nx"),
        (F.col("cy") + F.col("o.dy")).alias("ny"),
    )
    nbr = probe.join(
        d.select(F.col("cx").alias("nx"), F.col("cy").alias("ny"),
                 F.col("d").alias("nd")),
        ["nx", "ny"],
    ).groupBy("ocx", "ocy").agg(
        F.sum("nd").cast("long").alias("lag_sum"),
        F.count(F.lit(1)).cast("long").alias("n_nbrs"),
    )
    j = d.join(
        nbr,
        (d.cx == nbr.ocx) & (d.cy == nbr.ocy),
        "left",
    ).select(
        "cx", "cy", "v", "d",
        F.coalesce("lag_sum", F.lit(0).cast("long")).alias("lag_sum"),
        F.coalesce("n_nbrs", F.lit(0).cast("long")).alias("n_nbrs"),
    )
    quad = (
        F.when((F.col("n_nbrs") == 0) | (F.col("d") == 0) | (F.col("lag_sum") == 0), "none")
        .when((F.col("d") > 0) & (F.col("lag_sum") > 0), "HH")
        .when((F.col("d") < 0) & (F.col("lag_sum") < 0), "LL")
        .when((F.col("d") > 0) & (F.col("lag_sum") < 0), "HL")
        .otherwise("LH")
    )
    return j.select(
        "cx", "cy", "v", "d", "lag_sum", "n_nbrs",
        (F.col("d") * F.col("lag_sum")).cast("long").alias("ii_num"),
        quad.alias("quadrant"),
    )


def sql_local_moran_quadrants(cells_cte: str) -> str:
    """DuckDB twin of :func:`local_moran_quadrants`."""
    return f"""lm_cells AS ({cells_cte}),
lm_st AS (SELECT count(*) AS n, sum(cnt) AS s FROM lm_cells),
lm_d AS (SELECT cx, cy, CAST(cnt AS BIGINT) AS v,
                CAST(lm_st.n * cnt - lm_st.s AS BIGINT) AS d
         FROM lm_cells, lm_st),
lm_o(dx, dy) AS (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)),
lm_nbr AS (
  SELECT a.cx AS ocx, a.cy AS ocy,
         CAST(sum(b.d) AS BIGINT) AS lag_sum,
         CAST(count(*) AS BIGINT) AS n_nbrs
  FROM lm_d a JOIN lm_o o ON true
  JOIN lm_d b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
  GROUP BY 1, 2),
lm_j AS (
  SELECT d.cx, d.cy, d.v, d.d,
         COALESCE(n.lag_sum, 0) AS lag_sum,
         COALESCE(n.n_nbrs, 0) AS n_nbrs
  FROM lm_d d LEFT JOIN lm_nbr n ON n.ocx = d.cx AND n.ocy = d.cy),
lm AS (
  SELECT cx, cy, v, d, lag_sum, n_nbrs,
         CAST(d * lag_sum AS BIGINT) AS ii_num,
         CASE WHEN n_nbrs = 0 OR d = 0 OR lag_sum = 0 THEN 'none'
              WHEN d > 0 AND lag_sum > 0 THEN 'HH'
              WHEN d < 0 AND lag_sum < 0 THEN 'LL'
              WHEN d > 0 AND lag_sum < 0 THEN 'HL'
              ELSE 'LH' END AS quadrant
  FROM lm_j)"""


def bivariate_moran_quadrants(
    cells_a: DataFrame, cells_b: DataFrame
) -> DataFrame:
    """BIVARIATE local Moran quadrants (Anselin, Syabri & Smirnov 2002 —
    GeoDa's bivariate LISA): does variable A at a cell co-locate with
    variable B in its NEIGHBORHOOD?  Over the union of observed cells
    (zero-filled), with integer deviations d^A_i = n·a_i − Σa and
    d^B_i likewise, each cell classifies by the sign pair of
    (d^A_i, rook-lag Σ_{j∈N(i)} d^B_j): HH/LL = positive spatial
    cross-correlation, HL/LH = inverse, 'none' on zeros/isolates;
    ii_num = d^A_i·lag^B_i exactly.  The two-layer composition question
    ("are events hot where points are dense nearby") the univariate
    LISA can't answer.  Emits (cx, cy, a, b, da, lag_b, n_nbrs,
    ii_num, quadrant).

    100 TB: one outer-join cell union, one broadcast stats row, the
    4-offset explode equi-join regroup — the local_moran shape ×2."""
    a = cells_a.select("cx", "cy", F.col("cnt").cast("long").alias("a"))
    b = cells_b.select("cx", "cy", F.col("cnt").cast("long").alias("b"))
    u = (
        a.join(b, ["cx", "cy"], "full_outer")
        .select(
            "cx",
            "cy",
            F.coalesce("a", F.lit(0)).alias("a"),
            F.coalesce("b", F.lit(0)).alias("b"),
        )
    )
    stats = u.agg(
        F.count(F.lit(1)).alias("n"), F.sum("a").alias("sa"), F.sum("b").alias("sb")
    )
    d = u.crossJoin(F.broadcast(stats)).select(
        "cx",
        "cy",
        "a",
        "b",
        (F.col("n") * F.col("a") - F.col("sa")).alias("da"),
        (F.col("n") * F.col("b") - F.col("sb")).alias("db"),
    )
    offs = F.array(
        F.struct(F.lit(1).alias("dx"), F.lit(0).alias("dy")),
        F.struct(F.lit(-1).alias("dx"), F.lit(0).alias("dy")),
        F.struct(F.lit(0).alias("dx"), F.lit(1).alias("dy")),
        F.struct(F.lit(0).alias("dx"), F.lit(-1).alias("dy")),
    )
    probe = d.select("cx", "cy", F.explode(offs).alias("o")).select(
        F.col("cx").alias("ocx"),
        F.col("cy").alias("ocy"),
        (F.col("cx") + F.col("o.dx")).alias("nx"),
        (F.col("cy") + F.col("o.dy")).alias("ny"),
    )
    nbr = (
        probe.join(
            d.select(
                F.col("cx").alias("nx"), F.col("cy").alias("ny"),
                F.col("db").alias("ndb"),
            ),
            ["nx", "ny"],
        )
        .groupBy("ocx", "ocy")
        .agg(
            F.sum("ndb").cast("long").alias("lag_b"),
            F.count(F.lit(1)).cast("long").alias("n_nbrs"),
        )
    )
    j = d.join(nbr, (d.cx == nbr.ocx) & (d.cy == nbr.ocy), "left").select(
        "cx",
        "cy",
        "a",
        "b",
        "da",
        F.coalesce("lag_b", F.lit(0).cast("long")).alias("lag_b"),
        F.coalesce("n_nbrs", F.lit(0).cast("long")).alias("n_nbrs"),
    )
    quad = (
        F.when(
            (F.col("n_nbrs") == 0) | (F.col("da") == 0) | (F.col("lag_b") == 0),
            "none",
        )
        .when((F.col("da") > 0) & (F.col("lag_b") > 0), "HH")
        .when((F.col("da") < 0) & (F.col("lag_b") < 0), "LL")
        .when((F.col("da") > 0) & (F.col("lag_b") < 0), "HL")
        .otherwise("LH")
    )
    return j.select(
        "cx",
        "cy",
        "a",
        "b",
        F.col("da").cast("long").alias("da"),
        "lag_b",
        "n_nbrs",
        (F.col("da") * F.col("lag_b")).cast("long").alias("ii_num"),
        quad.alias("quadrant"),
    )


def sql_bivariate_moran_quadrants(cells_a_cte: str, cells_b_cte: str) -> str:
    """DuckDB twin of :func:`bivariate_moran_quadrants`."""
    return f"""bm_a AS ({cells_a_cte}),
bm_b AS ({cells_b_cte}),
bm_u AS (
  SELECT COALESCE(a.cx, b.cx) AS cx, COALESCE(a.cy, b.cy) AS cy,
         CAST(COALESCE(a.cnt, 0) AS BIGINT) AS a,
         CAST(COALESCE(b.cnt, 0) AS BIGINT) AS b
  FROM bm_a a FULL OUTER JOIN bm_b b ON b.cx = a.cx AND b.cy = a.cy),
bm_st AS (SELECT count(*) AS n, sum(a) AS sa, sum(b) AS sb FROM bm_u),
bm_d AS (
  SELECT cx, cy, a, b,
         CAST(bm_st.n * a - bm_st.sa AS BIGINT) AS da,
         CAST(bm_st.n * b - bm_st.sb AS BIGINT) AS db
  FROM bm_u, bm_st),
bm_o(dx, dy) AS (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)),
bm_nbr AS (
  SELECT a.cx AS ocx, a.cy AS ocy,
         CAST(sum(nb.db) AS BIGINT) AS lag_b,
         CAST(count(*) AS BIGINT) AS n_nbrs
  FROM bm_d a JOIN bm_o o ON true
  JOIN bm_d nb ON nb.cx = a.cx + o.dx AND nb.cy = a.cy + o.dy
  GROUP BY 1, 2),
bm AS (
  SELECT d.cx, d.cy, d.a, d.b, d.da,
         COALESCE(n.lag_b, 0) AS lag_b,
         COALESCE(n.n_nbrs, 0) AS n_nbrs,
         CAST(d.da * COALESCE(n.lag_b, 0) AS BIGINT) AS ii_num,
         CASE WHEN COALESCE(n.n_nbrs, 0) = 0 OR d.da = 0
                   OR COALESCE(n.lag_b, 0) = 0 THEN 'none'
              WHEN d.da > 0 AND n.lag_b > 0 THEN 'HH'
              WHEN d.da < 0 AND n.lag_b < 0 THEN 'LL'
              WHEN d.da > 0 AND n.lag_b < 0 THEN 'HL'
              ELSE 'LH' END AS quadrant
  FROM bm_d d LEFT JOIN bm_nbr n ON n.ocx = d.cx AND n.ocy = d.cy)"""
