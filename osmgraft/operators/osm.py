"""osmio object-model operators (SURVEY.md §2.2): tag predicates/mutation,
metadata stripping, geometry predicates, object-type filters — as composable
Column expressions over the OSM_* schemas.

Reference semantics pinned file:line in each function.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --- P4: tag lookup / predicates (string_types.rs:332-338; lib.rs:334-359) ----
def tag(tags: Column, key: str) -> Column:
    """tag(key) -> Option<&str> — map lookup, null when absent."""
    return tags[key]


def has_tag(tags: Column, key: str) -> Column:
    return tags[key].isNotNull()


def num_tags(tags: Column) -> Column:
    """A1 (lib.rs:337-339)."""
    return F.size(F.coalesce(F.map_keys(tags), F.array()))


def tagged(tags: Column) -> Column:
    """lib.rs:353-359: object has ≥1 tag."""
    return num_tags(tags) > 0


# --- P5: tag mutation (string_types.rs:340-366) --------------------------------
def set_tag(tags: Column, key: str, value) -> Column:
    """Upsert (map_concat right-biased via filtering the old key first)."""
    cleaned = F.map_filter(F.coalesce(tags, F.map_from_arrays(F.array(), F.array())),
                           lambda k, v: k != key)
    return F.map_concat(cleaned, F.create_map(F.lit(key), F.lit(value)))


def unset_tag(tags: Column, key: str) -> Column:
    return F.map_filter(F.coalesce(tags, F.map_from_arrays(F.array(), F.array())),
                        lambda k, v: k != key)


# --- P6: strip_metadata (lib.rs:364-368) ----------------------------------------
def strip_metadata(df: DataFrame) -> DataFrame:
    out = df
    for c in ("uid", "user", "changeset_id"):
        if c in df.columns:
            out = out.withColumn(c, F.lit(None).cast(dict(df.dtypes)[c]))
    return out


# --- P7: geometry predicates (lib.rs:456-472; tests.rs:90-165) -------------------
def is_closed(nodes: Column) -> Column:
    """first node id == last node id (lib.rs:456-461)."""
    return (F.size(nodes) > 0) & (
        F.element_at(nodes, 1) == F.element_at(nodes, -1)
    )


def is_area(nodes: Column, tags: Column) -> Column:
    """closed AND tag('area') != 'no' (lib.rs:465-472; golden table
    tests.rs:90-165: open→F; ring→T; ring+area=no→F; ring+area=yes→T)."""
    return is_closed(nodes) & (F.coalesce(tags["area"], F.lit("yes")) != "no")


# --- F6: tags → JSON (lib.rs:341-350) --------------------------------------------
def tags_json(tags: Column) -> Column:
    return F.to_json(tags)


def osc_apply(
    base: DataFrame,
    changes: DataFrame,
    key_cols: list[str] | None = None,
    version_col: str = "version",
    op_col: str = "op",
) -> DataFrame:
    """Apply an OSC-style change set (create/modify/delete) to a base table.

    The reference frames changes as ``<osmChange>`` documents whose actions
    are create/modify/delete per object (osmio osc/mod.rs:31-91; its writer
    collapses everything to <modify>, osc/mod.rs:109 — a documented
    simplification we do NOT copy). Spark-native apply = last-writer-wins
    upsert: keep the highest-version change per key, remove keys whose final
    action is delete, union survivors. With an Iceberg runtime this becomes
    ``MERGE INTO``; the plan below is the engine-neutral equivalent.

    Scale: one shuffle of the (small) change set for the per-key window, one
    shuffle-free broadcast anti-join when the change set is broadcastable —
    the base table is never rewritten wholesale, matching the incremental
    contract of osmgraft.checkpoint.
    """
    from pyspark.sql import Window

    if key_cols is None:
        key_cols = ["obj_type", "id"] if "obj_type" in base.columns else ["id"]
    w = Window.partitionBy(*key_cols).orderBy(F.desc(version_col))
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    survivors = base.join(latest.select(*key_cols), key_cols, "left_anti")
    upserts = latest.filter(F.col(op_col) != F.lit("delete")).drop(op_col)
    return survivors.unionByName(upserts.select(*base.columns))


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    cmp_cols: list[str],
) -> DataFrame:
    """The INVERSE of :func:`osc_apply`: derive the OSC-style change set
    (create/modify/delete) that transforms snapshot ``old`` into snapshot
    ``new`` — the diff-generation direction (osmosis --derive-change, the
    tool OSM pipelines pair with apply; the reference only ships apply).

    One full-outer join on the keys; op per key: create (absent in old),
    delete (absent in new), modify (any compare column differs,
    NULL-safe), unchanged rows dropped.  Output: key columns, ``op``, and
    the compare columns valued from ``new`` (from ``old`` for deletes).
    Round-trip law (test-pinned): ``osc_apply(old, snapshot_diff(old,
    new) + version) ≡ new``.

    Scale: one key-partitioned shuffle join; at 10^12 rows this is the
    same sort-merge shape as the apply path, and with both snapshots
    bucketed on the keys it is shuffle-free."""
    o = old.select(
        *key_cols,
        F.lit(True).alias("_in_old"),
        *[F.col(c).alias(f"_old_{c}") for c in cmp_cols],
    )
    n = new.select(
        *key_cols,
        F.lit(True).alias("_in_new"),
        *[F.col(c).alias(f"_new_{c}") for c in cmp_cols],
    )
    j = o.join(n, key_cols, "full_outer")
    changed = None
    for c in cmp_cols:
        ne = ~F.col(f"_old_{c}").eqNullSafe(F.col(f"_new_{c}"))
        changed = ne if changed is None else (changed | ne)
    op = (
        F.when(F.col("_in_old").isNull(), F.lit("create"))
        .when(F.col("_in_new").isNull(), F.lit("delete"))
        .when(changed, F.lit("modify"))
    )
    out_vals = [
        F.when(F.col("_in_new").isNull(), F.col(f"_old_{c}"))
        .otherwise(F.col(f"_new_{c}"))
        .alias(c)
        for c in cmp_cols
    ]
    return (
        j.select(*key_cols, op.alias("op"), *out_vals)
        .filter(F.col("op").isNotNull())
    )


def expire_tiles(
    changes: DataFrame,
    z: int,
    op_col: str = "op",
    old_lat: str = "old_lat7", old_lon: str = "old_lon7",
    new_lat: str = "new_lat7", new_lon: str = "new_lon7",
) -> DataFrame:
    """Tile expiry — the dirty-tile set a change stream invalidates (the
    osm2pgsql --expire-tiles job every OSM render pipeline runs after an
    OSC apply; the reference ships apply, this closes the loop to rendering):
    a delete or modify dirties the tile of the object's OLD position, a
    create or modify dirties the NEW one. Returns distinct (tx, ty) at zoom
    ``z``.

    One scan: two JVM tile projections unioned + a distinct (map-side
    combined agg on the tile key — at 10^12-change scale this is a single
    shuffle of already-collapsed tile keys, no join anywhere)."""
    from osmgraft.functions import tiles

    op = F.col(op_col)
    old_side = changes.filter(
        op.isin("delete", "modify") & F.col(old_lat).isNotNull()
    ).select(
        tiles.tile_x(F.col(old_lon), z).alias("tx"),
        tiles.tile_y(F.col(old_lat), z).alias("ty"),
    )
    new_side = changes.filter(
        op.isin("create", "modify") & F.col(new_lat).isNotNull()
    ).select(
        tiles.tile_x(F.col(new_lon), z).alias("tx"),
        tiles.tile_y(F.col(new_lat), z).alias("ty"),
    )
    return old_side.unionAll(new_side).distinct()


def way_area_centroid(
    verts: DataFrame,
    way_col: str = "way_id",
    seq_col: str = "seq",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """EXACT planar shoelace area + centroid over resolved way geometry in
    fixed-point 1e-7° units (the polygon-measurement step past osmio's
    is_closed/is_area gates, lib.rs:456-472 — the reference stops at the
    predicate; this computes the measure).  Per way (vertex ring ordered by
    ``seq_col``, closing edge last→first implicit):

      area2   = Σ (x_i·y_{i+1} − x_{i+1}·y_i)          — twice the signed area
      cx6_num = Σ (x_i + x_{i+1})·cross_i               — 6·A·Cx numerator
      cy6_num = Σ (y_i + y_{i+1})·cross_i               — 6·A·Cy numerator

    all EXACT integers: each cross term fits int64 (|x|≤1.8e9 · |y|≤9e8 →
    |term| ≤ 3.3e18), the centroid products run in decimal(31,0) (11-digit
    vertex sums × 19-digit crosses — Spark decimal math is exact while
    precision ≤ 38), and the sums accumulate in decimal(38,0).  No float
    enters, so the result is bitwise partition-order-invariant — the same
    fidelity rule as the fixed-point coordinate codec (lib.rs:66-71).
    Centroid = (cx6_num/(3·area2), cy6_num/(3·area2)) — left rational for
    the caller; degenerate rings (area2 = 0) keep their numerators.

    Plan: one lead/first window per way + one hash aggregation — single
    shuffle on way_id, everything whole-stage codegen.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy(way_col).orderBy(seq_col)
    wfull = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    # fixed-point coords arrive int32 (the reference's Lat/Lon width) —
    # widen BEFORE any product: int32*int32 overflows at 2^31 under ANSI
    x, y = F.col(x_col).cast("long"), F.col(y_col).cast("long")
    nx = F.coalesce(F.lead(x_col).over(w), F.first(x_col).over(wfull)).cast("long")
    ny = F.coalesce(F.lead(y_col).over(w), F.first(y_col).over(wfull)).cast("long")
    e = verts.select(
        F.col(way_col).alias("way_id"),
        x.alias("x"),
        y.alias("y"),
        nx.alias("nx"),
        ny.alias("ny"),
    ).select(
        "way_id",
        (F.col("x") * F.col("ny") - F.col("nx") * F.col("y")).alias("cross"),
        (F.col("x") + F.col("nx")).cast("decimal(11,0)").alias("sx"),
        (F.col("y") + F.col("ny")).cast("decimal(11,0)").alias("sy"),
    )
    cr = F.col("cross").cast("decimal(19,0)")
    return e.groupBy("way_id").agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.sum(F.col("cross").cast("decimal(38,0)")).cast("decimal(38,0)").alias("area2"),
        F.sum(F.col("sx") * cr).cast("decimal(38,0)").alias("cx6_num"),
        F.sum(F.col("sy") * cr).cast("decimal(38,0)").alias("cy6_num"),
    )
