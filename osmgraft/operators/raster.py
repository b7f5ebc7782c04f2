"""Raster↔vector bridge operators (north rule: "raster↔vector").

vector→raster: `boundary_tile_cover` rasterizes polygon bboxes onto the
slippy z/x/y grid — per boundary, the tile rectangle [tx(lon_min)..tx(lon_max)]
× [ty(lat_max)..ty(lat_min)] is exploded JVM-side with `sequence()`. This is
the coarse (bbox) cover used to route work; exact cell membership is the PIP
refine's job (operators/celljoin.py), mirroring the filter→refine split of
every spatial engine.

raster→vector: `functions/tiles.np_tile_polygon` turns a z/x/y cell id back
into a fixed-point ring consumable by pip_join — tiles are polygons too.

Scale: the cover explode produces O(#boundaries × tiles-per-bbox) rows with
no shuffle (generator-style explode inside the scan stage); at z≤12 with
country-size boundaries this stays broadcastable and feeds the salted cell
join's polygon side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osmgraft.functions import tiles
from osmgraft.geom import polygon_bbox_wrapped
from osmgraft.operators.util import ensure_min_parallelism

LON7_WEST_EDGE = -1_800_000_000  # tx == 0 at every zoom
LON7_EAST_EDGE = 1_799_999_999  # tx == 2^z - 1 at every zoom


def _scalar_tile_x(lon7: int, z: int) -> int:
    import math

    x = math.floor((lon7 / 1e7 + 180.0) / 360.0 * float(2**z))
    return min(max(int(x), 0), 2**z - 1)


def cover_bboxes(polys: list[dict], z: int) -> list[tuple[int, int, int, int, int]]:
    """(boundary_id, lat_min, lon_min, lat_max, lon_max) rows with every
    antimeridian-wrapped polygon SPLIT into two lon ranges — [west, +180°) and
    [-180°, east] — so downstream tx sequences never run backwards. If the
    wrap gap closes at this zoom (tx(west) <= tx(east), i.e. one tile column
    spans the seam), one full-span row is emitted instead of two overlapping
    ones. Shared by the Spark operator and the DuckDB oracle's VALUES list,
    so both engines rasterize the identical bbox set."""
    rows: list[tuple[int, int, int, int, int]] = []
    for p in polys:
        lat0, lon_w, lat1, lon_e, wrapped = polygon_bbox_wrapped(p)
        bid = int(p["boundary_id"])
        if not wrapped:
            rows.append((bid, lat0, lon_w, lat1, lon_e))
        elif _scalar_tile_x(lon_w, z) <= _scalar_tile_x(lon_e, z):
            rows.append((bid, lat0, LON7_WEST_EDGE, lat1, LON7_EAST_EDGE))
        else:
            rows.append((bid, lat0, lon_w, lat1, LON7_EAST_EDGE))
            rows.append((bid, lat0, LON7_WEST_EDGE, lat1, lon_e))
    return rows


def boundary_tile_cover(spark: SparkSession, polys: list[dict], z: int) -> DataFrame:
    """(boundary_id, tx, ty) for every z-tile intersecting each polygon's bbox
    (antimeridian-wrapped bboxes covered via the two-range split above)."""
    rows = cover_bboxes(polys, z)
    bbox = spark.createDataFrame(
        rows, "boundary_id long, lat_min long, lon_min long, lat_max long, lon_max long"
    )
    tx0 = tiles.tile_x(F.col("lon_min"), z)
    tx1 = tiles.tile_x(F.col("lon_max"), z)
    ty0 = tiles.tile_y(F.col("lat_max"), z)  # north edge = smaller y
    ty1 = tiles.tile_y(F.col("lat_min"), z)
    return (
        bbox.select(
            "boundary_id",
            F.explode(F.sequence(tx0, tx1)).alias("tx"),
            ty0.alias("_ty0"),
            ty1.alias("_ty1"),
        )
        .select(
            "boundary_id",
            "tx",
            F.explode(F.sequence(F.col("_ty0"), F.col("_ty1"))).alias("ty"),
        )
    )


def tile_pyramid(points: DataFrame, z_max: int, z_min: int) -> DataFrame:
    """Tile-pyramid rollup: per-tile point counts at every zoom in
    [z_min, z_max], computed by aggregating the RAW points exactly once (at
    z_max) and then re-aggregating the per-tile AGGREGATES level by level
    (child tile (x, y) at z → parent (x >> 1, y >> 1) at z-1, since slippy
    tiles quadtree-nest exactly).

    Scale shape: one full-table hash aggregation at the finest zoom (map-side
    partial combine does most of the work), then log-depth rollups whose
    inputs are already tiny (≤ 4^z rows) — vs grouping-sets over the raw
    table, which re-shuffles the full input once per level. Returns
    (z, tx, ty, cnt)."""
    if not 0 <= z_min <= z_max:
        raise ValueError("need 0 <= z_min <= z_max")
    level = (
        points.select(
            tiles.tile_x(F.col("lon7"), z_max).alias("tx"),
            tiles.tile_y(F.col("lat7"), z_max).alias("ty"),
        )
        .groupBy("tx", "ty")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("z", F.lit(z_max))
    )
    out = level
    for z in range(z_max - 1, z_min - 1, -1):
        level = (
            level.select(
                F.shiftright(F.col("tx"), 1).alias("tx"),
                F.shiftright(F.col("ty"), 1).alias("ty"),
                "cnt",
            )
            .groupBy("tx", "ty")
            .agg(F.sum("cnt").alias("cnt"))
            .withColumn("z", F.lit(z))
        )
        out = out.unionByName(level)
    return out.select("z", "tx", "ty", "cnt")


def render_tile_pngs(
    tile_counts: DataFrame,
    z: int,
    parent_z: int,
    size: int = 64,
) -> DataFrame:
    """Materialize a raster TILE SERVER layer: per parent tile at
    ``parent_z``, rasterize its ``z``-level descendant counts into a
    grayscale heat image and encode a real PNG (functions/codec.png_encode)
    — the map-rendering step that joins this engine's two halves (spatial
    aggregation -> image codec) into one distributed pipeline.

    Raster semantics are INTEGER-exact and host-invariant: the parent's
    2^(z-parent_z) grid holds raw counts; intensity = (cnt * 255) //
    max_cnt_in_tile (pure integer scaling, 255 = hottest cell of THAT tile);
    nearest-neighbor upscale to (size, size).  Pins therefore hash the
    decoded raster, not the PNG container (zlib version may legally change
    the compressed bytes).

    Scale shape: one shuffle groups z-level counts by parent tile (bounded
    groups: 4^(z-parent_z) cells max), then a BATCHED mapInArrow kernel
    renders thousands of tiles per Python call — the per-group
    applyInPandas form paid ~2-3 ms of pandas machinery per tile (150 s
    over ~80k sparse parents at sf0.1; the flattened-columnar shape is the
    render_tile_mvt_lines fix, r4).  Output: (z, tx, ty, png, n_points)."""
    import numpy as np
    import pyarrow as pa

    from osmgraft.functions.codec import png_encode

    shift = z - parent_z
    if shift <= 0:
        raise ValueError("parent_z must be coarser than z")
    grid = 1 << shift
    if size % grid != 0:
        raise ValueError(f"size must be a multiple of {grid}")
    f = size // grid

    counts = tile_counts.select(
        F.shiftright(F.col("tx"), shift).alias("ptx"),
        F.shiftright(F.col("ty"), shift).alias("pty"),
        (F.col("tx") - F.shiftleft(F.shiftright(F.col("tx"), shift), shift)).alias("sx"),
        (F.col("ty") - F.shiftleft(F.shiftright(F.col("ty"), shift), shift)).alias("sy"),
        "cnt",
    )
    packed = counts.groupBy("ptx", "pty").agg(
        F.collect_list(F.struct("sx", "sy", "cnt")).alias("cells")
    )
    # AQE coalesces the few-MB packed-parents shuffle to one partition,
    # which would serialize the render kernel
    packed = ensure_min_parallelism(packed)

    def kernel(batches):
        for rb in batches:
            ptxs = rb.column("ptx")
            ptys = rb.column("pty")
            lst = rb.column("cells")
            flat = lst.flatten()
            lens = lst.value_lengths().to_numpy(zero_copy_only=False)
            offs = np.concatenate(([0], np.cumsum(lens)))
            sx = flat.field("sx").to_numpy(zero_copy_only=False)
            sy = flat.field("sy").to_numpy(zero_copy_only=False)
            cnt = flat.field("cnt").to_numpy(zero_copy_only=False)
            pngs, npts = [], []
            for i in range(rb.num_rows):
                a, b = offs[i], offs[i + 1]
                ras = np.zeros((grid, grid), dtype=np.int64)
                ras[sy[a:b], sx[a:b]] = cnt[a:b]
                mx = int(ras.max())
                img8 = ((ras * 255) // max(mx, 1)).astype(np.uint8)
                up = np.repeat(np.repeat(img8, f, axis=0), f, axis=1)
                rgb = np.stack([up, up, up], axis=-1)
                pngs.append(png_encode(rgb))
                npts.append(int(ras.sum()))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.full(rb.num_rows, parent_z, dtype=np.int32)),
                    ptxs.cast(pa.int64()),
                    ptys.cast(pa.int64()),
                    pa.array(pngs, pa.binary()),
                    pa.array(npts, pa.int64()),
                ],
                names=["z", "tx", "ty", "png", "n_points"],
            )

    return packed.mapInArrow(
        kernel, "z int, tx long, ty long, png binary, n_points long"
    )


def render_tile_mvt(
    tile_counts: DataFrame,
    z: int,
    parent_z: int,
    layer: str = "counts",
    extent: int = 4096,
) -> DataFrame:
    """Materialize the VECTOR tile-server layer: per parent tile at
    ``parent_z``, its z-level descendant counts become POINT features (at
    sub-cell centers in tile-local ``extent`` coords) with an integer
    ``cnt`` attribute, encoded as a real Mapbox Vector Tile
    (functions/mvt.py — hand-built protobuf, same wire format discipline as
    the .osm.pbf source). The raster sibling is render_tile_pngs; together
    they are the two products a tile server serves.

    Deterministic: features ordered by (sy, sx), ids positional. Scale
    shape identical to the PNG path — one bounded-group shuffle (the
    sort_array on (sy, sx, cnt) structs replaces the per-group pandas
    sort), then a BATCHED mapInArrow kernel encodes thousands of tiles per
    Python call (the per-group applyInPandas form paid ~2-3 ms of pandas
    machinery per tile — 135 s over ~80k sparse parents at sf0.1; r4, same
    fix as render_tile_pngs / render_tile_mvt_lines). Output:
    (z, tx, ty, mvt, n_features)."""
    import numpy as np
    import pyarrow as pa

    from osmgraft.functions.mvt import encode_point_layer

    shift = z - parent_z
    if shift <= 0:
        raise ValueError("parent_z must be coarser than z")
    grid = 1 << shift
    cell = extent // grid

    counts = tile_counts.select(
        F.shiftright(F.col("tx"), shift).alias("ptx"),
        F.shiftright(F.col("ty"), shift).alias("pty"),
        (F.col("tx") - F.shiftleft(F.shiftright(F.col("tx"), shift), shift)).alias("sx"),
        (F.col("ty") - F.shiftleft(F.shiftright(F.col("ty"), shift), shift)).alias("sy"),
        "cnt",
    )
    packed = counts.groupBy("ptx", "pty").agg(
        F.sort_array(
            F.collect_list(F.struct("sy", "sx", "cnt"))
        ).alias("cells")
    )
    packed = ensure_min_parallelism(packed)  # as in render_tile_pngs

    def kernel(batches):
        for rb in batches:
            ptxs = rb.column("ptx")
            ptys = rb.column("pty")
            lst = rb.column("cells")
            flat = lst.flatten()
            lens = lst.value_lengths().to_numpy(zero_copy_only=False)
            offs = np.concatenate(([0], np.cumsum(lens)))
            sy = flat.field("sy").to_numpy(zero_copy_only=False)
            sx = flat.field("sx").to_numpy(zero_copy_only=False)
            cnt = flat.field("cnt").to_numpy(zero_copy_only=False)
            mvts, nfs = [], []
            for i in range(rb.num_rows):
                a, b = offs[i], offs[i + 1]
                pts = [
                    (int(sx[j]) * cell + cell // 2,
                     int(sy[j]) * cell + cell // 2,
                     {"cnt": int(cnt[j])})
                    for j in range(a, b)
                ]
                mvts.append(encode_point_layer(layer, pts, extent))
                nfs.append(b - a)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.full(rb.num_rows, parent_z, dtype=np.int32)),
                    ptxs.cast(pa.int64()),
                    ptys.cast(pa.int64()),
                    pa.array(mvts, pa.binary()),
                    pa.array(np.array(nfs, dtype=np.int64)),
                ],
                names=["z", "tx", "ty", "mvt", "n_features"],
            )

    return packed.mapInArrow(
        kernel, "z int, tx long, ty long, mvt binary, n_features long"
    )


def mvt_features(tiles_df: DataFrame, layer: str = "counts") -> DataFrame:
    """The tile-server READ path: (z, tx, ty, mvt) rows → one row per point
    feature (z, tx, ty, x, y, cnt) — the distributed inverse of
    render_tile_mvt, completing read/write symmetry the same way the PBF
    source pairs with the PBF writer. Decode runs per tile inside a
    mapInArrow task (functions/mvt.decode_point_layers — a generic
    wire-format parser, not this encoder's memorized inverse); a corrupt
    tile raises, matching the PBF source's fail-loud default."""
    import pyarrow as pa

    from osmgraft.functions.mvt import decode_point_layers

    out_schema = "z int, tx long, ty long, x int, y int, cnt long"

    def kernel(batches):
        for rb in batches:
            zs, txs, tys = rb.column("z"), rb.column("tx"), rb.column("ty")
            mv = rb.column("mvt")
            oz, ox, oy, otx, oty, oc = [], [], [], [], [], []
            for i in range(rb.num_rows):
                extent, pts = decode_point_layers(mv[i].as_py())[layer]
                for x, y, attrs in pts:
                    oz.append(zs[i].as_py())
                    otx.append(txs[i].as_py())
                    oty.append(tys[i].as_py())
                    ox.append(x)
                    oy.append(y)
                    oc.append(attrs.get("cnt", 0))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(oz, pa.int32()),
                    pa.array(otx, pa.int64()),
                    pa.array(oty, pa.int64()),
                    pa.array(ox, pa.int32()),
                    pa.array(oy, pa.int32()),
                    pa.array(oc, pa.int64()),
                ],
                names=["z", "tx", "ty", "x", "y", "cnt"],
            )

    return tiles_df.select("z", "tx", "ty", "mvt").mapInArrow(kernel, out_schema)


def render_tile_mvt_lines(
    clipped: DataFrame,
    z: int,
    layer: str = "ways",
    extent: int = 4096,
) -> DataFrame:
    """Materialize the LINE-layer tile-server product: clipped way segments
    (operators/clip.py output: way_id, seg_idx, tx, ty, px0..py1 tile-local
    pixels) become LINESTRING features per tile, encoded as real Mapbox
    Vector Tiles (functions/mvt.encode_line_layer). Degenerate segments
    (both clip points quantized to one pixel) are dropped — the spec forbids
    zero-length LineTo — BEFORE grouping, so feature counts are plan-
    independent.

    Deterministic: features ordered by (way_id, seg_idx, px0, py0, px1,
    py1), ids positional. Scale shape: ONE JVM-side partial+final aggregate
    (groupBy tile → sort_array(collect_list(struct))) does the grouping and
    the ordering — then a single mapInArrow pass encodes thousands of tiles
    per Arrow batch. (A per-group applyInPandas paid ~3 ms of pandas group
    machinery per tile — 12 s over 4k tiles at sf0.1; this shape is the
    same shuffle with none of that overhead.) Output: (z, tx, ty, mvt,
    n_features)."""
    import numpy as np
    import pyarrow as pa

    from osmgraft.functions.mvt import encode_line_layer_fast

    grouped = (
        clipped.filter(
            (F.col("px0") != F.col("px1")) | (F.col("py0") != F.col("py1"))
        )
        .groupBy("tx", "ty")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct("way_id", "seg_idx", "px0", "py0", "px1", "py1")
                )
            ).alias("segs")
        )
    )
    # no ensure_min_parallelism, unlike the point renderers: an A/B at sf0.1
    # measured the extra shuffle of the heavy segs arrays costing more than
    # the serialized encode saves (4.8 s vs 3.3 s)
    out_schema = "z int, tx long, ty long, mvt binary, n_features long"

    def kernel(batches):
        for rb in batches:
            txs, tys = rb.column("tx"), rb.column("ty")
            lst = rb.column("segs")
            # flattened columnar access: no per-feature python objects
            flat = lst.flatten()
            lens = lst.value_lengths().to_numpy(zero_copy_only=False)
            offs = np.concatenate(([0], np.cumsum(lens)))
            fld = {
                n: flat.field(n).to_numpy(zero_copy_only=False)
                for n in ("way_id", "seg_idx", "px0", "py0", "px1", "py1")
            }
            mvts = []
            for i in range(rb.num_rows):
                a, b = offs[i], offs[i + 1]
                mvts.append(
                    encode_line_layer_fast(
                        layer,
                        fld["way_id"][a:b],
                        fld["seg_idx"][a:b],
                        fld["px0"][a:b],
                        fld["py0"][a:b],
                        fld["px1"][a:b],
                        fld["py1"][a:b],
                        extent,
                    )
                )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.full(rb.num_rows, z, dtype=np.int32)),
                    txs.cast(pa.int64()),
                    tys.cast(pa.int64()),
                    pa.array(mvts, pa.binary()),
                    pa.array(lens.astype(np.int64)),
                ],
                names=["z", "tx", "ty", "mvt", "n_features"],
            )

    return grouped.mapInArrow(kernel, out_schema)


def mvt_line_features(tiles_df: DataFrame, layer: str = "ways") -> DataFrame:
    """LINE-layer tile READ path: (z, tx, ty, mvt) rows → one row per
    2-point linestring feature (z, tx, ty, way_id, seg_idx, px0..py1) — the
    distributed inverse of render_tile_mvt_lines via the generic wire parser
    (functions/mvt.decode_line_layers). Corrupt tiles raise, matching the
    PBF source's fail-loud default."""
    import pyarrow as pa

    from osmgraft.functions.mvt import decode_line_layers

    out_schema = (
        "z int, tx long, ty long, way_id long, seg_idx long,"
        " px0 int, py0 int, px1 int, py1 int"
    )

    def kernel(batches):
        for rb in batches:
            zs, txs, tys = rb.column("z"), rb.column("tx"), rb.column("ty")
            mv = rb.column("mvt")
            cols = {n: [] for n in
                    ("z", "tx", "ty", "way_id", "seg_idx", "px0", "py0", "px1", "py1")}
            for i in range(rb.num_rows):
                extent, feats = decode_line_layers(mv[i].as_py())[layer]
                for pts, attrs in feats:
                    for j in range(len(pts) - 1):
                        cols["z"].append(zs[i].as_py())
                        cols["tx"].append(txs[i].as_py())
                        cols["ty"].append(tys[i].as_py())
                        cols["way_id"].append(attrs.get("way_id", -1))
                        cols["seg_idx"].append(attrs.get("seg_idx", -1))
                        cols["px0"].append(pts[j][0])
                        cols["py0"].append(pts[j][1])
                        cols["px1"].append(pts[j + 1][0])
                        cols["py1"].append(pts[j + 1][1])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(cols["z"], pa.int32()),
                    pa.array(cols["tx"], pa.int64()),
                    pa.array(cols["ty"], pa.int64()),
                    pa.array(cols["way_id"], pa.int64()),
                    pa.array(cols["seg_idx"], pa.int64()),
                    pa.array(cols["px0"], pa.int32()),
                    pa.array(cols["py0"], pa.int32()),
                    pa.array(cols["px1"], pa.int32()),
                    pa.array(cols["py1"], pa.int32()),
                ],
                names=list(cols),
            )

    return tiles_df.select("z", "tx", "ty", "mvt").mapInArrow(kernel, out_schema)


def render_contour_mvt_polys(
    segs: DataFrame,
    grid_z: int,
    tile_z: int,
    layer: str = "contours",
) -> DataFrame:
    """POLYGON-layer tile sink: directed contour segments (operators/
    contour.py output over the z=``grid_z`` cell grid, doubled coordinates)
    become closed-ring POLYGON features in Mapbox Vector Tiles at
    z=``tile_z``.

    Each ring is assigned WHOLLY to the tile containing its minimum vertex
    (no polygon clipping — the spec permits buffer geometry beyond the
    extent, §4.3.4.4 allows coordinates outside [0, extent)); extent =
    2^(grid_z - tile_z + 1) doubled-grid units so in-tile rings span
    exactly [0, extent].  Outer rings (positive surveyor sum — the spec's
    exterior condition, already our inside-left convention) encode as
    walked; HOLE rings encode REVERSED (spec-valid standalone exteriors)
    with attrs {"hole": 1} so the read path reconstructs the original
    direction exactly — ring-soup encoding, the nesting-free form tile
    pipelines use when features are independent rings.

    Scale shape: ring labeling is pointer doubling (contour.ring_labels,
    O(log L) shuffles); then ONE groupBy-tile aggregate + one mapInArrow
    encode pass (the render_tile_mvt_lines architecture).  Output: (z, tx,
    ty, mvt, n_features)."""
    import numpy as np
    import pyarrow as pa

    from osmgraft.functions.mvt import encode_polygon_layer
    from osmgraft.operators.contour import _VKEY, ring_labels

    side = 1 << (grid_z - tile_z + 1)
    lab = ring_labels(segs)
    grouped = (
        lab.selectExpr(
            f"ring_id div {_VKEY} div {side} AS tx",  # integer div: exact at any grid_z
            f"ring_id % {_VKEY} div {side} AS ty",
            "ring_id", "k", "x0", "y0", "x1", "y1",
        )
        .groupBy("tx", "ty")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("ring_id", "k", "x0", "y0", "x1", "y1"))
            ).alias("segs")
        )
    )
    out_schema = "z int, tx long, ty long, mvt binary, n_features long"

    def kernel(batches):
        for rb in batches:
            txs = rb.column("tx").to_numpy(zero_copy_only=False)
            tys = rb.column("ty").to_numpy(zero_copy_only=False)
            lst = rb.column("segs")
            flat = lst.flatten()
            lens = lst.value_lengths().to_numpy(zero_copy_only=False)
            offs = np.concatenate(([0], np.cumsum(lens)))
            fld = {
                n: flat.field(n).to_numpy(zero_copy_only=False)
                for n in ("ring_id", "x0", "y0", "x1", "y1")
            }
            mvts, nfeats = [], []
            for i in range(rb.num_rows):
                a, b = offs[i], offs[i + 1]
                ox, oy = int(txs[i]) * side, int(tys[i]) * side
                feats = []
                j = a
                while j < b:  # segs sorted by (ring_id, k): rings contiguous
                    rid = fld["ring_id"][j]
                    e = j
                    by_start = {}
                    while e < b and fld["ring_id"][e] == rid:
                        by_start[(int(fld["x0"][e]), int(fld["y0"][e]))] = (
                            int(fld["x1"][e]), int(fld["y1"][e])
                        )
                        e += 1
                    start = (int(rid) // _VKEY, int(rid) % _VKEY)
                    pts, cur = [], start
                    for _ in range(e - j):
                        pts.append(cur)
                        cur = by_start[cur]
                    if cur != start:
                        raise ValueError(f"ring {rid} does not close")
                    area2 = sum(
                        p[0] * q[1] - q[0] * p[1]
                        for p, q in zip(pts, pts[1:] + pts[:1])
                    )
                    hole = area2 < 0
                    if hole:
                        pts = [pts[0]] + pts[:0:-1]
                    feats.append((
                        [[(x - ox, y - oy) for x, y in pts]],
                        {"hole": int(hole)},
                    ))
                    j = e
                mvts.append(encode_polygon_layer(layer, feats, extent=side))
                nfeats.append(len(feats))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.full(rb.num_rows, tile_z, dtype=np.int32)),
                    pa.array(txs.astype(np.int64)),
                    pa.array(tys.astype(np.int64)),
                    pa.array(mvts, pa.binary()),
                    pa.array(np.asarray(nfeats, dtype=np.int64)),
                ],
                names=["z", "tx", "ty", "mvt", "n_features"],
            )

    return grouped.mapInArrow(kernel, out_schema)


def mvt_polygon_segments(
    tiles_df: DataFrame, grid_z: int, layer: str = "contours"
) -> DataFrame:
    """POLYGON-layer tile READ path: (z, tx, ty, mvt) rows → the original
    directed contour segments (x0, y0, x1, y1) in global doubled-grid
    coordinates — the distributed inverse of render_contour_mvt_polys via
    the generic wire parser (functions/mvt.decode_polygon_layers): re-adds
    the tile origin, un-reverses hole rings from their attr, re-emits each
    ring's vertex walk as segments including the ClosePath edge."""
    import pyarrow as pa

    from osmgraft.functions.mvt import decode_polygon_layers

    out_schema = "x0 long, y0 long, x1 long, y1 long"

    def kernel(batches):
        for rb in batches:
            zs = rb.column("z").to_numpy(zero_copy_only=False)
            txs = rb.column("tx").to_numpy(zero_copy_only=False)
            tys = rb.column("ty").to_numpy(zero_copy_only=False)
            mv = rb.column("mvt")
            cols = {n: [] for n in ("x0", "y0", "x1", "y1")}
            for i in range(rb.num_rows):
                extent, feats = decode_polygon_layers(mv[i].as_py())[layer]
                side = 1 << (grid_z - int(zs[i]) + 1)
                if extent != side:
                    raise ValueError(f"extent {extent} != expected {side}")
                ox, oy = int(txs[i]) * side, int(tys[i]) * side
                for rings, attrs in feats:
                    for pts in rings:
                        if attrs.get("hole", 0):
                            pts = [pts[0]] + pts[:0:-1]
                        pts = [(x + ox, y + oy) for x, y in pts]
                        for p, q in zip(pts, pts[1:] + pts[:1]):
                            cols["x0"].append(p[0])
                            cols["y0"].append(p[1])
                            cols["x1"].append(q[0])
                            cols["y1"].append(q[1])
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[n], pa.int64()) for n in ("x0", "y0", "x1", "y1")],
                names=["x0", "y0", "x1", "y1"],
            )

    return tiles_df.select("z", "tx", "ty", "mvt").mapInArrow(kernel, out_schema)


def zonal_stats(
    cells: DataFrame, cover: DataFrame, *, value_col: str = "cnt"
) -> DataFrame:
    """Zonal statistics: per-boundary rollup of a sparse cell raster over the
    boundary's tile cover — (boundary_id, tiles_hit, total, max_cnt).

    100 TB shape: ``cells`` is the big side (the once-shuffled per-tile
    aggregate of the raw table — tile_counts/tile_pyramid output), ``cover``
    is polygon-derived and tiny, so the equi-join on (tx, ty) broadcasts the
    cover and never re-shuffles the raster; the per-boundary aggregate that
    follows is a few hundred groups.  Overlapping boundaries each count the
    shared tiles (cover semantics, not a partition)."""
    return (
        cells.join(F.broadcast(cover), ["tx", "ty"])
        .groupBy("boundary_id")
        .agg(
            F.count(F.lit(1)).alias("tiles_hit"),
            F.sum(value_col).alias("total"),
            F.max(value_col).alias("max_cnt"),
        )
    )


def mosaic_tiles(
    images: DataFrame, z: int, grid: int = 8, thumb: int = 8
) -> DataFrame:
    """GEO-MOSAIC tile materialization — the photo-map montage joining the
    engine's two halves the other way around from render_tile_pngs (which
    rasterizes COUNTS; this rasterizes the IMAGES THEMSELVES): geo-tagged
    images are assigned to slippy z tiles, each tile picks its grid² lowest
    image_ids (deterministic, scan-order-free), decodes them, area-resizes
    each to a thumb×thumb RGB thumbnail and places them row-major into one
    (grid·thumb)² montage, PNG-encoded per tile. Output
    (tx, ty, n_images, mosaic_crc, png).

    Scale shape: the representative pick is a rank-filtered window Spark
    rewrites to WindowGroupLimit — per-partition partial top-k BEFORE any
    pixel is decoded, so at 10^12 images only grid² payloads per tile ever
    reach the Python stage (the pruning is the point; decode-then-pick
    would be a disaster). Assembly is one applyInPandas task per tile whose
    group is ≤ grid² rows BY CONSTRUCTION — the per-image loop inside is
    bounded by the montage spec, not by data size. mosaic_crc hashes the
    decoded canvas (CRC-32 of raw RGB bytes), not the PNG container, per
    the repo's container-vs-content pinning discipline."""
    import pandas as pd
    from pyspark.sql import Window

    from osmgraft.functions.codec import decode_image, png_encode, resize_area

    if grid < 1 or thumb < 1:
        raise ValueError("grid and thumb must be >= 1")
    sel = images.select(
        "image_id", "bytes", "w", "h", "fmt",
        tiles.tile_x(F.col("lon7"), z).alias("tx"),
        tiles.tile_y(F.col("lat7"), z).alias("ty"),
    )
    wnd = Window.partitionBy("tx", "ty").orderBy("image_id")
    top = sel.withColumn("rk", F.row_number().over(wnd)).where(
        F.col("rk") <= grid * grid
    )

    def assemble(key, pdf):
        import zlib

        import numpy as np

        side = grid * thumb
        canvas = np.zeros((side, side, 3), dtype=np.uint8)
        for rk, data, w, h, fmt in zip(
            pdf["rk"], pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"]
        ):
            px = decode_image(bytes(data), int(w), int(h), fmt)
            t = np.stack(
                [
                    resize_area(px[..., c].astype(np.int64), thumb, thumb)
                    for c in range(3)
                ],
                axis=-1,
            ).astype(np.uint8)  # area means of 0..255 stay in range
            gy, gx = divmod(int(rk) - 1, grid)
            canvas[gy * thumb : (gy + 1) * thumb, gx * thumb : (gx + 1) * thumb] = t
        crc = np.int64(zlib.crc32(canvas.tobytes()))
        return pd.DataFrame(
            {
                "tx": [key[0]],
                "ty": [key[1]],
                "n_images": [len(pdf)],
                "mosaic_crc": [crc],
                "png": [png_encode(canvas)],
            }
        )

    return top.groupBy("tx", "ty").applyInPandas(
        assemble,
        schema="tx long, ty long, n_images long, mosaic_crc long, png binary",
    )


def terrain_rgb_tiles(
    tile_counts: DataFrame, z: int, parent_z: int
) -> DataFrame:
    """DEM tile ENCODER in Mapbox Terrain-RGB convention (public spec:
    elevation = -10000 + 0.1·(R·65536 + G·256 + B)): per parent tile at
    ``parent_z``, its 2^(z-parent_z) grid of z-level integer elevations
    (here the engine's synthetic DEM — per-cell counts, in whole meters)
    packs as v = (elev + 10000)·10 into 24-bit RGB and encodes a REAL png
    (functions/codec.png_encode).  Unobserved cells carry elevation 0
    (v = 100000 → RGB(1,134,160)), the spec's sea-level value.

    Scale shape: ONE shuffle groups z cells under their parent (groups
    bounded by 4^(z-parent_z)), then each tile packs + deflates
    independently in an applyInPandas task.  Output (z, tx, ty, png)."""
    import numpy as np
    import pandas as pd

    from osmgraft.functions.codec import png_encode

    shift = z - parent_z
    if shift <= 0:
        raise ValueError("parent_z must be coarser than z")
    grid = 1 << shift

    counts = tile_counts.select(
        F.shiftright(F.col("tx"), shift).alias("ptx"),
        F.shiftright(F.col("ty"), shift).alias("pty"),
        (F.col("tx") - F.shiftleft(F.shiftright(F.col("tx"), shift), shift)).alias("sx"),
        (F.col("ty") - F.shiftleft(F.shiftright(F.col("ty"), shift), shift)).alias("sy"),
        F.col("cnt").alias("elev"),
    )

    # one hash agg packs each parent's cells into arrays (map-side
    # combinable), then a BATCHED kernel renders many tiles per Python
    # call — the per-group applyInPandas form paid ~2 ms of pandas
    # machinery per 8x8 tile (15.5 s at sf0.1; this shape is ~4x faster)
    packed = counts.groupBy("ptx", "pty").agg(
        F.collect_list(F.struct("sx", "sy", "elev")).alias("cells")
    )
    packed = ensure_min_parallelism(packed)  # as in render_tile_pngs

    def render(pdfs):
        for pdf in pdfs:
            if not len(pdf):
                continue
            pngs = []
            for cells in pdf["cells"]:
                ras = np.zeros((grid, grid), dtype=np.int64)
                for c in cells:
                    ras[c["sy"], c["sx"]] = c["elev"]
                v = (ras + 10_000) * 10
                if (v < 0).any() or (v > 0xFFFFFF).any():
                    raise ValueError("elevation outside Terrain-RGB 24-bit range")
                rgb = np.stack(
                    [(v >> 16) & 0xFF, (v >> 8) & 0xFF, v & 0xFF], axis=-1
                ).astype(np.uint8)
                pngs.append(bytearray(png_encode(rgb)))
            yield pd.DataFrame(
                {
                    "z": np.full(len(pdf), parent_z, np.int64),
                    "tx": pdf["ptx"].astype("int64"),
                    "ty": pdf["pty"].astype("int64"),
                    "png": pngs,
                }
            )

    return packed.mapInPandas(render, schema="z long, tx long, ty long, png binary")


def terrain_rgb_stats(tiles_df: DataFrame) -> DataFrame:
    """DEM tile DECODER + rollup: png_decode each Terrain-RGB tile, unpack
    v = R·65536 + G·256 + B back to integer elevations (exact: encoder
    elevations are whole meters so v is a multiple of 10), and emit per
    tile the elevation sum and the count of non-sea-level cells — the
    aggregate a hypsometry/zonal pipeline reads off a DEM layer.  Paired
    with :func:`terrain_rgb_tiles` this closes an encode→deflate→inflate→
    decode loop whose output is hash-gatable against a twin that never
    touches pixels (spec-as-oracle).  Map-only vectorized kernel."""
    import numpy as np
    import pandas as pd

    from osmgraft.functions.codec import png_decode

    def stats(pdfs):
        for pdf in pdfs:
            if not len(pdf):
                continue
            sums, nz = [], []
            for b in pdf["png"]:
                px = png_decode(bytes(b)).astype(np.int64)
                v = (px[..., 0] << 16) | (px[..., 1] << 8) | px[..., 2]
                if (v % 10).any():
                    raise ValueError("fractional-meter Terrain-RGB value")
                elev = v // 10 - 10_000
                sums.append(int(elev.sum()))
                nz.append(int((elev != 0).sum()))
            yield pd.DataFrame(
                {
                    "z": pdf["z"],
                    "tx": pdf["tx"],
                    "ty": pdf["ty"],
                    "sum_elev": pd.Series(sums, index=pdf.index, dtype="int64"),
                    "n_cells": pd.Series(nz, index=pdf.index, dtype="int64"),
                }
            )

    return tiles_df.mapInPandas(
        stats, schema="z long, tx long, ty long, sum_elev long, n_cells long"
    )


def terrain_viewshed(tiles_df: DataFrame) -> DataFrame:
    """Row viewshed over Terrain-RGB DEM tiles — the classic line-of-sight
    raster analysis (Fisher 1993 lineage; GRASS r.viewshed's 1-D core) in
    EXACT integers: per tile row, a viewer at the west edge cell (x = 0,
    eye at ground elevation z0 = elev[y, 0]) sees cell x ≥ 1 iff its
    elevation angle strictly exceeds every intervening cell's:

        visible(x) ⟺ ∀ 1 ≤ x' < x:  (z[x] − z0)·x' > (z[x'] − z0)·x

    — the slope comparison cross-multiplied (positive denominators), so
    no division, no IEEE, no epsilon.  Emits per tile (z, tx, ty,
    n_visible, chk_visible) with the positional checksum
    Σ_visible (y·131 + x·137 + 1) pinning the exact visible SET.

    The DEM arrives as REAL png tiles (the terrain_rgb_tiles encoder), so
    the full deflate→inflate→unpack path is under the gate; the DuckDB
    twin rebuilds the grid relationally from the cell counts and evaluates
    the same quantified inequality with NOT EXISTS — decode and
    line-of-sight algebra on one hash.  Map-only vectorized kernel
    (O(w²) comparisons per row as one masked matrix op)."""
    import numpy as np
    import pandas as pd

    from osmgraft.functions.codec import png_decode

    def kernel(pdfs):
        for pdf in pdfs:
            if not len(pdf):
                continue
            nv, chk = [], []
            for b in pdf["png"]:
                px = png_decode(bytes(b)).astype(np.int64)
                v = (px[..., 0] << 16) | (px[..., 1] << 8) | px[..., 2]
                elev = v // 10 - 10_000
                h, w = elev.shape
                z0 = elev[:, :1]                      # (h, 1) viewer per row
                dz = elev - z0                        # (h, w)
                x = np.arange(w, dtype=np.int64)
                # cmp[y, x, x'] = dz[y,x]*x' > dz[y,x']*x  for x' in [1, x)
                lhs = dz[:, :, None] * x[None, None, :]
                rhs = dz[:, None, :] * x[None, :, None]
                ok = lhs > rhs
                mask = (x[None, :] < x[:, None]) & (x[None, :] >= 1)  # (x, x')
                vis = np.logical_and.reduce(ok | ~mask[None, :, :], axis=2)
                vis[:, 0] = False                     # the viewer itself
                wgt = (
                    np.arange(h, dtype=np.int64)[:, None] * 131
                    + x[None, :] * 137
                    + 1
                )
                nv.append(int(vis.sum()))
                chk.append(int((vis * wgt).sum()))
            yield pd.DataFrame(
                {
                    "z": pdf["z"].astype("int64"),
                    "tx": pdf["tx"].astype("int64"),
                    "ty": pdf["ty"].astype("int64"),
                    "n_visible": pd.Series(nv, dtype="int64"),
                    "chk_visible": pd.Series(chk, dtype="int64"),
                }
            )

    return tiles_df.mapInPandas(
        kernel, schema="z long, tx long, ty long, n_visible long, chk_visible long"
    )


def sql_terrain_viewshed(cells_cte: str, z: int, parent_z: int) -> str:
    """DuckDB twin of :func:`terrain_viewshed` over the raw z-level cell
    counts (spec-as-oracle — never touches pixels): rebuild each parent
    tile's grid with sea-level (0) fill, then the same cross-multiplied
    NOT EXISTS line-of-sight."""
    shift = z - parent_z
    grid = 1 << shift
    return f"""WITH vs_cells AS ({cells_cte}),
vs_obs AS (
  SELECT cx >> {shift} AS ptx, cy >> {shift} AS pty,
         cx - ((cx >> {shift}) << {shift}) AS sx,
         cy - ((cy >> {shift}) << {shift}) AS sy,
         cnt AS elev
  FROM vs_cells),
vs_tiles AS (SELECT DISTINCT ptx, pty FROM vs_obs),
vs_grid AS (
  SELECT t.ptx, t.pty, gy.y, gx.x, COALESCE(o.elev, 0) AS elev
  FROM vs_tiles t
  CROSS JOIN range(0, {grid}) gy(y) CROSS JOIN range(0, {grid}) gx(x)
  LEFT JOIN vs_obs o
    ON o.ptx = t.ptx AND o.pty = t.pty AND o.sy = gy.y AND o.sx = gx.x),
vs_z0 AS (SELECT ptx, pty, y, elev AS z0 FROM vs_grid WHERE x = 0),
vs_vis AS (
  SELECT g.ptx, g.pty, g.y, g.x
  FROM vs_grid g JOIN vs_z0 v ON v.ptx = g.ptx AND v.pty = g.pty AND v.y = g.y
  WHERE g.x >= 1 AND NOT EXISTS (
    SELECT 1 FROM vs_grid b
    JOIN vs_z0 v2 ON v2.ptx = b.ptx AND v2.pty = b.pty AND v2.y = b.y
    WHERE b.ptx = g.ptx AND b.pty = g.pty AND b.y = g.y
      AND b.x >= 1 AND b.x < g.x
      AND (g.elev - v.z0) * b.x <= (b.elev - v2.z0) * g.x))
SELECT {parent_z} AS z, t.ptx AS tx, t.pty AS ty,
       CAST(COALESCE(s.nv, 0) AS BIGINT) AS n_visible,
       CAST(COALESCE(s.chk, 0) AS BIGINT) AS chk_visible
FROM vs_tiles t LEFT JOIN (
  SELECT ptx, pty, count(*) AS nv, sum(y * 131 + x * 137 + 1) AS chk
  FROM vs_vis GROUP BY ptx, pty) s ON s.ptx = t.ptx AND s.pty = t.pty"""


# D8 direction table, pinned order (tie → smallest d): E SE S SW W NW N NE
_D8_DIRS = (
    (0, 1, 1), (1, 1, 2), (1, 0, 1), (1, -1, 2),
    (0, -1, 1), (-1, -1, 2), (-1, 0, 1), (-1, 1, 2),
)  # (dy, dx, dist²)


def terrain_d8_flow(tiles_df: DataFrame) -> DataFrame:
    """D8 flow direction over Terrain-RGB DEM tiles (O'Callaghan & Mark
    1984 — the hydrology primitive every GIS derives drainage from):
    each cell flows to its steepest strictly-downhill neighbor of the 8,
    slope comparison EXACT — for candidates i, j with positive drops,
    slope_i > slope_j ⟺ drop_i²·dist_j² > drop_j²·dist_i², so the
    single integer sort key drop²·(3 − dist²) (dist² ∈ {1, 2}) ranks
    correctly and ties break to the pinned direction order (E SE S SW W
    NW N NE).  Cells with no strictly-downhill neighbor (sinks, flats,
    sea level) get direction −1.  Tile-local: out-of-tile neighbors are
    ignored (pinned, engine-shared).  Emits per (tile, direction) the
    cell count and the positional checksum Σ (y·131 + x·137 + 1)
    pinning the exact cell set per direction.

    The DEM rides the REAL png codec (deflate→inflate→unpack under the
    gate); the twin rebuilds the grid relationally and ranks the same
    key.  Map-only vectorized kernel: 8 shifted comparisons."""
    import numpy as np
    import pandas as pd

    from osmgraft.functions.codec import png_decode

    def kernel(pdfs):
        for pdf in pdfs:
            if not len(pdf):
                continue
            rows = []
            for z, tx, ty, b in zip(pdf["z"], pdf["tx"], pdf["ty"], pdf["png"]):
                px = png_decode(bytes(b)).astype(np.int64)
                v = (px[..., 0] << 16) | (px[..., 1] << 8) | px[..., 2]
                elev = v // 10 - 10_000
                h, w = elev.shape
                best_key = np.zeros((h, w), np.int64)
                best_dir = np.full((h, w), -1, np.int64)
                for d, (dy, dx, dist2) in enumerate(_D8_DIRS):
                    nbr = np.full((h, w), np.iinfo(np.int64).max, np.int64)
                    ys0, ys1 = max(dy, 0), h + min(dy, 0)
                    xs0, xs1 = max(dx, 0), w + min(dx, 0)
                    nbr[ys0 - dy : ys1 - dy, xs0 - dx : xs1 - dx] = elev[
                        ys0:ys1, xs0:xs1
                    ]
                    valid = nbr != np.iinfo(np.int64).max
                    drop = np.where(valid, elev - nbr, 0)
                    key = np.where(drop > 0, drop * drop * (3 - dist2), 0)
                    better = key > best_key
                    best_key = np.where(better, key, best_key)
                    best_dir = np.where(better, d, best_dir)
                wgt = (
                    np.arange(h, dtype=np.int64)[:, None] * 131
                    + np.arange(w, dtype=np.int64)[None, :] * 137
                    + 1
                )
                for d in range(-1, 8):
                    m = best_dir == d
                    n = int(m.sum())
                    if n:
                        rows.append(
                            (int(z), int(tx), int(ty), d, n, int((m * wgt).sum()))
                        )
            yield pd.DataFrame(
                rows, columns=["z", "tx", "ty", "dir", "n_cells", "chk"]
            )

    return tiles_df.mapInPandas(
        kernel, schema="z long, tx long, ty long, dir int, n_cells long, chk long"
    )


def sql_terrain_d8_flow(cells_cte: str, z: int, parent_z: int) -> str:
    """DuckDB twin of :func:`terrain_d8_flow` over the raw z-level cell
    counts (spec-as-oracle): sea-level-filled grid, 8-direction join,
    the same integer sort key, row_number argmax, −1 sinks."""
    shift = z - parent_z
    grid = 1 << shift
    dirs = ", ".join(
        f"({d}, {dy}, {dx}, {dist2})"
        for d, (dy, dx, dist2) in enumerate(_D8_DIRS)
    )
    return f"""WITH d8_cells AS ({cells_cte}),
d8_obs AS (
  SELECT cx >> {shift} AS ptx, cy >> {shift} AS pty,
         cx - ((cx >> {shift}) << {shift}) AS sx,
         cy - ((cy >> {shift}) << {shift}) AS sy,
         cnt AS elev
  FROM d8_cells),
d8_tiles AS (SELECT DISTINCT ptx, pty FROM d8_obs),
d8_grid AS MATERIALIZED (
  SELECT t.ptx, t.pty, gy.y, gx.x, COALESCE(o.elev, 0) AS elev
  FROM d8_tiles t
  CROSS JOIN range(0, {grid}) gy(y) CROSS JOIN range(0, {grid}) gx(x)
  LEFT JOIN d8_obs o
    ON o.ptx = t.ptx AND o.pty = t.pty AND o.sy = gy.y AND o.sx = gx.x),
d8_dirs(d, dy, dx, dist2) AS (VALUES {dirs}),
d8_cand AS (
  SELECT g.ptx, g.pty, g.y, g.x, dd.d,
         (g.elev - n.elev) * (g.elev - n.elev) * (3 - dd.dist2) AS skey
  FROM d8_grid g
  JOIN d8_dirs dd ON true
  JOIN d8_grid n ON n.ptx = g.ptx AND n.pty = g.pty
                AND n.y = g.y + dd.dy AND n.x = g.x + dd.dx
  WHERE g.elev > n.elev),
d8_best AS (
  SELECT ptx, pty, y, x, d
  FROM (SELECT ptx, pty, y, x, d,
               row_number() OVER (PARTITION BY ptx, pty, y, x
                                  ORDER BY skey DESC, d) AS rn
        FROM d8_cand)
  WHERE rn = 1),
d8_all AS (
  SELECT g.ptx, g.pty, g.y, g.x, COALESCE(b.d, -1) AS dir
  FROM d8_grid g LEFT JOIN d8_best b
    ON b.ptx = g.ptx AND b.pty = g.pty AND b.y = g.y AND b.x = g.x)
SELECT {parent_z} AS z, ptx AS tx, pty AS ty, CAST(dir AS INTEGER) AS dir,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(y * 131 + x * 137 + 1) AS BIGINT) AS chk
FROM d8_all GROUP BY 1, 2, 3, 4"""


def terrain_watershed(tiles_df: DataFrame) -> DataFrame:
    """Watershed (drainage-basin) delineation over Terrain-RGB DEM tiles
    — the D8 composition (O'Callaghan & Mark 1984 → basin labeling):
    each cell follows its D8 pointer chain to the sink it drains into;
    the pointer graph is FUNCTIONAL (out-degree exactly 1, sinks
    self-looped), so pointer DOUBLING reaches every root in
    ⌈log₂(cells)⌉ = 6 steps on an 8×8 tile — the same contraction
    discipline as boruvka_msf/cc_star, here fully vectorized inside a
    map-only kernel because tiles are bounded.  Emits per (tile, sink)
    the basin size and the positional checksum of its member cells —
    the exact partition of the tile into drainage basins.

    The DuckDB twin rebuilds flow directions relationally and runs the
    IDENTICAL 6 doubling rounds as chained MATERIALIZED CTEs."""
    import numpy as np
    import pandas as pd

    from osmgraft.functions.codec import png_decode

    def kernel(pdfs):
        for pdf in pdfs:
            if not len(pdf):
                continue
            rows = []
            for z, tx, ty, b in zip(pdf["z"], pdf["tx"], pdf["ty"], pdf["png"]):
                px = png_decode(bytes(b)).astype(np.int64)
                v = (px[..., 0] << 16) | (px[..., 1] << 8) | px[..., 2]
                elev = v // 10 - 10_000
                h, w = elev.shape
                best_key = np.zeros((h, w), np.int64)
                best_dir = np.full((h, w), -1, np.int64)
                for d, (dy, dx, dist2) in enumerate(_D8_DIRS):
                    nbr = np.full((h, w), np.iinfo(np.int64).max, np.int64)
                    ys0, ys1 = max(dy, 0), h + min(dy, 0)
                    xs0, xs1 = max(dx, 0), w + min(dx, 0)
                    nbr[ys0 - dy : ys1 - dy, xs0 - dx : xs1 - dx] = elev[
                        ys0:ys1, xs0:xs1
                    ]
                    valid = nbr != np.iinfo(np.int64).max
                    drop = np.where(valid, elev - nbr, 0)
                    key = np.where(drop > 0, drop * drop * (3 - dist2), 0)
                    better = key > best_key
                    best_key = np.where(better, key, best_key)
                    best_dir = np.where(better, d, best_dir)
                yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
                ptr = (yy * w + xx).reshape(-1)
                for d, (dy, dx, _d2) in enumerate(_D8_DIRS):
                    m = (best_dir == d).reshape(-1)
                    ptr[m] = ((yy + dy) * w + (xx + dx)).reshape(-1)[m]
                for _ in range(6):  # 2^6 = 64 >= longest path in a 64-cell tile
                    ptr = ptr[ptr]
                wgt = (yy * 131 + xx * 137 + 1).reshape(-1)
                sizes = np.bincount(ptr, minlength=h * w)
                chks = np.bincount(ptr, weights=wgt, minlength=h * w).astype(
                    np.int64
                )
                for root in np.nonzero(sizes)[0]:
                    rows.append(
                        (
                            int(z), int(tx), int(ty),
                            int(root // w), int(root % w),
                            int(sizes[root]), int(chks[root]),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=["z", "tx", "ty", "sink_y", "sink_x", "basin_size", "chk"],
            )

    return tiles_df.mapInPandas(
        kernel,
        schema="z long, tx long, ty long, sink_y long, sink_x long,"
        " basin_size long, chk long",
    )


def sql_terrain_watershed(cells_cte: str, z: int, parent_z: int) -> str:
    """DuckDB twin of :func:`terrain_watershed`: the D8 core rebuilt
    relationally, then 6 pointer-doubling rounds as MATERIALIZED chained
    CTEs (plain CTEs would re-inline 2^rounds times)."""
    shift = z - parent_z
    grid = 1 << shift
    dirs = ", ".join(
        f"({d}, {dy}, {dx}, {dist2})"
        for d, (dy, dx, dist2) in enumerate(_D8_DIRS)
    )
    doubling = ",\n".join(
        f"""ws_p{k + 1} AS MATERIALIZED (
  SELECT a.ptx, a.pty, a.y, a.x, b.py, b.px
  FROM ws_p{k} a JOIN ws_p{k} b
    ON b.ptx = a.ptx AND b.pty = a.pty AND b.y = a.py AND b.x = a.px)"""
        for k in range(6)
    )
    return f"""WITH ws_cells AS ({cells_cte}),
ws_obs AS (
  SELECT cx >> {shift} AS ptx, cy >> {shift} AS pty,
         cx - ((cx >> {shift}) << {shift}) AS sx,
         cy - ((cy >> {shift}) << {shift}) AS sy,
         cnt AS elev
  FROM ws_cells),
ws_tiles AS (SELECT DISTINCT ptx, pty FROM ws_obs),
ws_grid AS MATERIALIZED (
  SELECT t.ptx, t.pty, gy.y, gx.x, COALESCE(o.elev, 0) AS elev
  FROM ws_tiles t
  CROSS JOIN range(0, {grid}) gy(y) CROSS JOIN range(0, {grid}) gx(x)
  LEFT JOIN ws_obs o
    ON o.ptx = t.ptx AND o.pty = t.pty AND o.sy = gy.y AND o.sx = gx.x),
ws_dirs(d, dy, dx, dist2) AS (VALUES {dirs}),
ws_cand AS (
  SELECT g.ptx, g.pty, g.y, g.x, dd.d, dd.dy, dd.dx,
         (g.elev - n.elev) * (g.elev - n.elev) * (3 - dd.dist2) AS skey
  FROM ws_grid g
  JOIN ws_dirs dd ON true
  JOIN ws_grid n ON n.ptx = g.ptx AND n.pty = g.pty
                AND n.y = g.y + dd.dy AND n.x = g.x + dd.dx
  WHERE g.elev > n.elev),
ws_best AS (
  SELECT ptx, pty, y, x, dy, dx
  FROM (SELECT ptx, pty, y, x, dy, dx,
               row_number() OVER (PARTITION BY ptx, pty, y, x
                                  ORDER BY skey DESC, d) AS rn
        FROM ws_cand)
  WHERE rn = 1),
ws_p0 AS MATERIALIZED (
  SELECT g.ptx, g.pty, g.y, g.x,
         g.y + COALESCE(b.dy, 0) AS py, g.x + COALESCE(b.dx, 0) AS px
  FROM ws_grid g LEFT JOIN ws_best b
    ON b.ptx = g.ptx AND b.pty = g.pty AND b.y = g.y AND b.x = g.x),
{doubling}
SELECT {parent_z} AS z, ptx AS tx, pty AS ty,
       CAST(py AS BIGINT) AS sink_y, CAST(px AS BIGINT) AS sink_x,
       CAST(count(*) AS BIGINT) AS basin_size,
       CAST(sum(y * 131 + x * 137 + 1) AS BIGINT) AS chk
FROM ws_p6 GROUP BY 1, 2, 3, 4, 5"""


def terrain_flow_accumulation(tiles_df: DataFrame) -> DataFrame:
    """D8 flow accumulation over Terrain-RGB DEM tiles — the third member
    of the hydrology trio (direction → watershed → ACCUMULATION; the
    layer stream networks are thresholded from): acc(c) = 1 + Σ acc(u)
    over cells u draining directly into c, i.e. the number of upstream
    cells (itself included).  Computed by 63 exact relaxation rounds of
    the scatter-add recurrence (≥ the longest possible path in a
    64-cell tile, so the fixed point is reached; integer, associative).
    Emits ONE row per tile: the outlet (max accumulation, ties to the
    smallest (y, x)), its accumulation, the total Σacc (= Σ path
    lengths + n, a strong invariant) and the checksum Σ acc·(y·131 +
    x·137 + 1) pinning the entire accumulation surface.

    The DuckDB twin builds the transitive closure of the pointer graph
    with ONE recursive CTE (functional graph ⇒ closure size = Σ path
    lengths, linear-ish) and counts ancestors per cell — two genuinely
    different algorithms, one hash."""
    import numpy as np
    import pandas as pd

    from osmgraft.functions.codec import png_decode

    def kernel(pdfs):
        for pdf in pdfs:
            if not len(pdf):
                continue
            rows = []
            for z, tx, ty, b in zip(pdf["z"], pdf["tx"], pdf["ty"], pdf["png"]):
                px = png_decode(bytes(b)).astype(np.int64)
                v = (px[..., 0] << 16) | (px[..., 1] << 8) | px[..., 2]
                elev = v // 10 - 10_000
                h, w = elev.shape
                best_key = np.zeros((h, w), np.int64)
                best_dir = np.full((h, w), -1, np.int64)
                for d, (dy, dx, dist2) in enumerate(_D8_DIRS):
                    nbr = np.full((h, w), np.iinfo(np.int64).max, np.int64)
                    ys0, ys1 = max(dy, 0), h + min(dy, 0)
                    xs0, xs1 = max(dx, 0), w + min(dx, 0)
                    nbr[ys0 - dy : ys1 - dy, xs0 - dx : xs1 - dx] = elev[
                        ys0:ys1, xs0:xs1
                    ]
                    valid = nbr != np.iinfo(np.int64).max
                    drop = np.where(valid, elev - nbr, 0)
                    key = np.where(drop > 0, drop * drop * (3 - dist2), 0)
                    better = key > best_key
                    best_key = np.where(better, key, best_key)
                    best_dir = np.where(better, d, best_dir)
                yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
                flat = (yy * w + xx).reshape(-1)
                tgt = flat.copy()
                for d, (dy, dx, _d2) in enumerate(_D8_DIRS):
                    m = (best_dir == d).reshape(-1)
                    tgt[m] = ((yy + dy) * w + (xx + dx)).reshape(-1)[m]
                flows = tgt != flat  # non-sink cells contribute downstream
                acc = np.ones(h * w, np.int64)
                for _ in range(h * w - 1):
                    nxt = np.ones(h * w, np.int64)
                    np.add.at(nxt, tgt[flows], acc[flows])
                    if np.array_equal(nxt, acc):
                        break
                    acc = nxt
                wgt = (yy * 131 + xx * 137 + 1).reshape(-1)
                best = np.lexsort((flat, -acc))[0]
                rows.append(
                    (
                        int(z), int(tx), int(ty),
                        int(best // w), int(best % w), int(acc[best]),
                        int(acc.sum()), int((acc * wgt).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "z", "tx", "ty", "out_y", "out_x", "max_acc",
                    "sum_acc", "chk",
                ],
            )

    return tiles_df.mapInPandas(
        kernel,
        schema="z long, tx long, ty long, out_y long, out_x long,"
        " max_acc long, sum_acc long, chk long",
    )


def sql_terrain_flow_accumulation(cells_cte: str, z: int, parent_z: int) -> str:
    """DuckDB twin of :func:`terrain_flow_accumulation`: pointer graph →
    transitive closure by ONE recursive CTE → ancestor counts."""
    shift = z - parent_z
    grid = 1 << shift
    dirs = ", ".join(
        f"({d}, {dy}, {dx}, {dist2})"
        for d, (dy, dx, dist2) in enumerate(_D8_DIRS)
    )
    return f"""WITH RECURSIVE fa_cells AS ({cells_cte}),
fa_obs AS (
  SELECT cx >> {shift} AS ptx, cy >> {shift} AS pty,
         cx - ((cx >> {shift}) << {shift}) AS sx,
         cy - ((cy >> {shift}) << {shift}) AS sy,
         cnt AS elev
  FROM fa_cells),
fa_tiles AS (SELECT DISTINCT ptx, pty FROM fa_obs),
fa_grid AS MATERIALIZED (
  SELECT t.ptx, t.pty, gy.y, gx.x, COALESCE(o.elev, 0) AS elev
  FROM fa_tiles t
  CROSS JOIN range(0, {grid}) gy(y) CROSS JOIN range(0, {grid}) gx(x)
  LEFT JOIN fa_obs o
    ON o.ptx = t.ptx AND o.pty = t.pty AND o.sy = gy.y AND o.sx = gx.x),
fa_dirs(d, dy, dx, dist2) AS (VALUES {dirs}),
fa_cand AS (
  SELECT g.ptx, g.pty, g.y, g.x, dd.d, dd.dy, dd.dx,
         (g.elev - n.elev) * (g.elev - n.elev) * (3 - dd.dist2) AS skey
  FROM fa_grid g
  JOIN fa_dirs dd ON true
  JOIN fa_grid n ON n.ptx = g.ptx AND n.pty = g.pty
                AND n.y = g.y + dd.dy AND n.x = g.x + dd.dx
  WHERE g.elev > n.elev),
fa_edges AS MATERIALIZED (
  SELECT ptx, pty, y AS uy, x AS ux, y + dy AS vy, x + dx AS vx
  FROM (SELECT ptx, pty, y, x, dy, dx,
               row_number() OVER (PARTITION BY ptx, pty, y, x
                                  ORDER BY skey DESC, d) AS rn
        FROM fa_cand)
  WHERE rn = 1),
fa_reach(ptx, pty, uy, ux, vy, vx) AS (
  SELECT ptx, pty, uy, ux, vy, vx FROM fa_edges
  UNION
  SELECT r.ptx, r.pty, r.uy, r.ux, e.vy, e.vx
  FROM fa_reach r JOIN fa_edges e
    ON e.ptx = r.ptx AND e.pty = r.pty AND e.uy = r.vy AND e.ux = r.vx),
fa_acc AS (
  SELECT g.ptx, g.pty, g.y, g.x,
         1 + COALESCE(a.n, 0) AS acc
  FROM fa_grid g LEFT JOIN (
    SELECT ptx, pty, vy, vx, CAST(count(*) AS BIGINT) AS n
    FROM fa_reach GROUP BY 1, 2, 3, 4) a
    ON a.ptx = g.ptx AND a.pty = g.pty AND a.vy = g.y AND a.vx = g.x),
fa_out AS (
  SELECT ptx, pty, y, x, acc,
         row_number() OVER (PARTITION BY ptx, pty
                            ORDER BY acc DESC, y * {grid} + x) AS rn
  FROM fa_acc)
SELECT {parent_z} AS z, a.ptx AS tx, a.pty AS ty,
       CAST(o.y AS BIGINT) AS out_y, CAST(o.x AS BIGINT) AS out_x,
       CAST(o.acc AS BIGINT) AS max_acc,
       CAST(sum(a.acc) AS BIGINT) AS sum_acc,
       CAST(sum(a.acc * (a.y * 131 + a.x * 137 + 1)) AS BIGINT) AS chk
FROM fa_acc a JOIN fa_out o
  ON o.ptx = a.ptx AND o.pty = a.pty AND o.rn = 1
GROUP BY 1, 2, 3, 4, 5, 6"""
