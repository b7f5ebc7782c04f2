"""Physical-plan assertions: the scale-critical plan shapes BENCH/PLANS.md
documents are pinned here so a refactor can't silently trade a broadcast
for a shuffle or widen a pruned scan.  String-matching `explain` output is
deliberate — it is the same evidence a human reads."""

import re

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_ivf_probe_join_is_broadcast(spark):
    from osmgraft.operators.similarity import ivf_anchors, ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = plan_of(ivf_topk(emb, emb.filter(F.col("vec_id") < 8),
                            anchors=ivf_anchors(64, 16), nprobe=4, k=10))
    assert "BroadcastHashJoin" in plan
    # the item side must not sort-merge join
    assert "SortMergeJoin" not in plan


def test_minhash_verify_joins_broadcast(spark):
    from osmgraft.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(minhash_lsh_pairs(docs))
    # candidate side broadcast into BOTH verify joins (r2 verdict ask #8)
    assert plan.count("BroadcastHashJoin") >= 2


def test_pip_join_scan_is_pruned_and_shuffle_free(spark):
    from osmgraft.operators.pip import pip_join
    from osmgraft.synth import ADMIN_BOUNDARIES, points_from_orders

    pts = points_from_orders(spark, SF)
    plan = plan_of(pip_join(pts, ADMIN_BOUNDARIES, how="inner"))
    # point side: no exchange at all. The one join is the cover join: the
    # polygon cover is broadcast (BuildRight) and the points stream through
    # an inner probe whose condition is the exact test.
    assert "SortMergeJoin" not in plan and "Exchange hashpartitioning" not in plan
    joins = re.findall(r"(\w+Join) \[.*?\], \[.*?\], (\w+), (\w+),", plan)
    assert joins == [("BroadcastHashJoin", "Inner", "BuildRight")], joins
    # parquet scan reads only the projection the points need
    m = re.search(r"ReadSchema: ([^\n]+)", plan)
    assert m and "o_orderkey" in m.group(1)
    assert "o_comment" not in m.group(1)


def test_tile_counts_partial_aggregation(spark):
    from osmgraft.queries import REGISTRY

    plan = plan_of(REGISTRY["tile_counts_z13"][0](spark, SF))
    # map-side combine: two HashAggregates around one Exchange
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange hashpartitioning") == 1


def test_s2_rollup_reaggregates_counts_not_rows(spark):
    from osmgraft.queries import REGISTRY

    plan = plan_of(REGISTRY["s2_rollup_l13_to_l10"][0](spark, SF))
    # the parent rollup is bit math over the counts: exactly two
    # aggregation exchanges (cell, then parent_cell), no extra UDF pass
    assert plan.count("ArrowEvalPython") + plan.count("BatchEvalPython") == 1
    assert plan.count("Exchange hashpartitioning") == 2


def test_way_lengths_single_window_and_integer_sum(spark):
    from osmgraft.queries import REGISTRY

    plan = plan_of(REGISTRY["way_lengths_geodesic"][0](spark, SF))
    assert plan.count("Window") == 1
    assert "sum(seg_m" in plan  # integer segment sum, not a float length


@pytest.mark.parametrize("name", ["embedding_topk_fast", "embedding_topk_blocked"])
def test_topk_paths_have_no_cartesian(spark, name):
    from osmgraft.queries import REGISTRY

    plan = plan_of(REGISTRY[name][0](spark, SF))
    assert "CartesianProduct" not in plan


def test_cdc_chunks_no_exchange_before_explode(spark):
    """CDC chunking is embarrassingly parallel: scan → project → explode,
    with no Exchange anywhere (the only shuffle belongs to downstream aggs)."""
    from osmgraft.operators.dedup import cdc_chunks

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(cdc_chunks(docs))
    assert "Exchange" not in plan
    m = re.search(r"ReadSchema: ([^\n]+)", plan)
    assert m and "text" in m.group(1) and "source" not in m.group(1)


def test_bpe_encode_no_exchange(spark):
    """Fixed-merge BPE application is a per-row replace chain: zero shuffles,
    scan pruned to (doc_id, text)."""
    from osmgraft.operators.bpe import encode_tokens
    from osmgraft.queries import _BPE_MERGES

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(encode_tokens(docs, _BPE_MERGES))
    assert "Exchange" not in plan
    m = re.search(r"ReadSchema: ([^\n]+)", plan)
    assert m and "source" not in m.group(1) and "lang" not in m.group(1)


def test_pii_and_funnel_single_pass(spark):
    """pii_scrub: per-row only — no data-dependent (hash-keyed) exchange; the
    one RoundRobin comes from the sandbox single-split parallelism guard.
    curation_funnel: one scan folded by partial+final aggregates — no joins,
    no windows, exchanges bounded by the countDistinct expand phase."""
    from osmgraft.queries import REGISTRY

    plan = plan_of(REGISTRY["pii_scrub"][0](spark, SF))
    assert "Exchange hashpartitioning" not in plan
    assert "Join" not in plan and "Window" not in plan
    plan2 = plan_of(REGISTRY["curation_funnel"][0](spark, SF))
    assert "Join" not in plan2 and "Window" not in plan2
    assert plan2.count("HashAggregate") >= 2  # map-side partials present
    assert plan2.count("Exchange") <= 3  # guard + countDistinct two-phase


def test_snap_to_road_plan_no_cartesian_one_window(spark):
    from osmgraft.queries import REGISTRY

    plan = plan_of(REGISTRY["snap_to_road"][0](spark, SF))
    # candidate generation is an equi-join on cell ids, never a cross join
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # one window argmin finishes it, rank-1-limited on BOTH shuffle sides
    assert plan.count("Window [") == 1
    assert plan.count("WindowGroupLimit") == 2
    # the distance formula is pure Catalyst expressions — no Python anywhere
    assert "EvalPython" not in plan and "mapInArrow" not in plan


def test_decontaminate_bench_side_is_broadcast(spark):
    from osmgraft.queries import REGISTRY

    plan = plan_of(REGISTRY["decontaminate_ngrams"][0](spark, SF))
    # the benchmark gram set broadcasts; the corpus side never sort-merges
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # per-doc count has a map-side partial (two HashAggregate levels)
    assert plan.count("HashAggregate") >= 2


def test_dbscan_candidates_are_equi_join(spark):
    """The eps-grid candidate join must stay a hash equi-join on cell keys —
    never a nested-loop/cartesian (the all-pairs scale killer)."""
    from osmgraft.operators.dbscan import _candidate_pairs
    from osmgraft.synth import points_from_orders

    pts = points_from_orders(spark, SF)
    plan = plan_of(_candidate_pairs(pts, 15_000, "point_id", "lat7", "lon7"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_equalize_remap_is_broadcast(spark):
    """The CDF remap joins back to the raster as a BROADCAST — the raster
    itself must not shuffle for the join."""
    from osmgraft.operators.density import equalize
    from osmgraft.queries import _cells_df

    plan = plan_of(equalize(_cells_df(spark, SF, 9)))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_kmv_topk_uses_window_group_limit(spark):
    """The rank<=k filter must rewrite to WindowGroupLimit (per-partition
    partial top-k before the shuffle) — k rows per group per partition move,
    not the full distinct-hash set."""
    from osmgraft.operators.stats import kmv_distinct

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = plan_of(kmv_distinct(ev, ["event_type"], "user_id", k=16))
    assert "WindowGroupLimit" in plan


def test_exif_gps_projects_only_metadata_columns(spark):
    """exif_gps must not drag unrelated columns through the Arrow kernel."""
    from osmgraft.operators.multimodal import exif_gps
    from osmgraft.synth import synth_exif_images

    imgs = synth_exif_images(spark, 50)
    plan = plan_of(exif_gps(imgs))
    assert "ArrowEvalPython" in plan or "MapInArrow" in plan
    # passthrough default: only image_id + bytes feed the kernel
    assert "lat7" not in plan.split("MapInArrow")[0].split("\n")[0]


def test_runtime_bloom_filter_prunes_shuffle_join(spark):
    """The 100 TB shuffle-join pruning knob, evidenced live: with a
    selective filter on one join side and broadcast disabled, Catalyst
    injects a runtime Bloom filter (bloom_filter_agg on the creation side,
    might_contain on the probe side) so the big side drops non-matching
    rows BEFORE the exchange. Thresholds are lowered to trigger at test
    scale — at lake scale the defaults (10 MB creation side) fire on any
    dimension-filtered fact join."""
    import pyspark.sql.functions as F

    old = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        big = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        small = spark.read.parquet("/root/testdata/sf0.001/customer.parquet").filter(
            F.col("c_custkey") % 50 == 0
        )
        j = big.join(small, big.o_custkey == small.c_custkey).groupBy(
            "c_mktsegment"
        ).count()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan and "might_contain" in plan
        # the equality-derived predicate is ALSO pushed to the probe side
        assert "(o_custkey" in plan and "% 50" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.mark.parametrize(
    "name",
    [
        "tile_render_png_phash_z10",
        "tile_mosaic_phash_z5",
        "tile_render_mvt_roundtrip_z10",
        "mvt_lines_roundtrip_z6",
    ],
)
def test_render_paths_are_batched_arrow_not_per_group_pandas(spark, name):
    """r4 rebuilt the tile-server render kernels from per-group
    applyInPandas (one Python call per tile — 2-3 ms/tile overhead) into
    batched mapInArrow (thousands of tiles per call).  Pin that shape
    (VERDICT r4 ask #6): the encode/decode stages must appear as
    MapInArrow nodes and never as FlatMapGroupsInPandas — the per-group
    regression this guards against reintroduces a Python round-trip per
    tile."""
    from osmgraft.queries import REGISTRY

    plan = plan_of(REGISTRY[name][0](spark, SF))
    assert "FlatMapGroupsInPandas" not in plan, name
    assert ("MapInArrow" in plan) or ("PythonMapInArrow" in plan), name
