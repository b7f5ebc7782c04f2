"""Per-round benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

`value` is the flagship spatial-join + tile-assignment wall-clock (sec);
`rows_per_sec` and per-query timings ride along. Scaling-efficiency runs
(local[8] vs local[32]) are produced separately by tools/bench_scaling.py
and recorded in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _flagship(spark, sf_dir):
    """points → broadcast PIP join → slippy z13 tile assign → per-(boundary,tile) counts."""
    from pyspark.sql import functions as F

    from osmgraft.functions import tiles
    from osmgraft.operators.pip import pip_join
    from osmgraft.synth import ADMIN_BOUNDARIES, points_from_orders

    pts = points_from_orders(spark, sf_dir)
    joined = pip_join(pts, ADMIN_BOUNDARIES, how="inner")
    return (
        joined.select(
            "boundary_id",
            tiles.tile_x(F.col("lon7"), 13).alias("tx"),
            tiles.tile_y(F.col("lat7"), 13).alias("ty"),
        )
        .groupBy("boundary_id", "tx", "ty")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    from osmgraft.io import read_fixture
    from osmgraft.queries import REGISTRY
    from osmgraft.session import get_spark

    spark = get_spark("osmgraft-bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    n_points = read_fixture(spark, sf_dir, "orders").count()  # warms JVM + FS cache

    # warm the Arrow python-UDF workers so timings measure the operator, not fork+import
    import pandas as _pd  # noqa: F401

    spark.range(1000).repartition(cpus).mapInPandas(
        lambda it: it, schema="id long"
    ).count()

    timings: dict[str, float] = {}

    def timed(name, fn, reps: int = 2):
        best = float("inf")
        for _ in range(reps):  # min-of-N damps machine-load noise
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    # Scaled throughput: the sf tables are small enough that the flagship wall
    # above is dominated by fixed job overhead; this measures the same pipeline
    # over a deterministic 64M-row input (same generator as the oracle-gated
    # queries) so the rows/sec figure reflects operator throughput — the
    # BASELINE.json metric — not Spark job-submit latency.
    from pyspark.sql import functions as F

    from osmgraft.functions import tiles
    from osmgraft.operators.pip import pip_join
    from osmgraft.synth import ADMIN_BOUNDARIES, points_projection

    scaled_rows = int(os.environ.get("SPARK_GRAFT_BENCH_ROWS", "64000000"))

    def scaled_flagship():
        orders = spark.range(1, scaled_rows + 1, 1, cpus).select(
            F.col("id").alias("o_orderkey")
        )
        joined = pip_join(points_projection(orders), ADMIN_BOUNDARIES, how="inner")
        return (
            joined.select(
                "boundary_id",
                tiles.tile_x(F.col("lon7"), 13).alias("tx"),
                tiles.tile_y(F.col("lat7"), 13).alias("ty"),
            ).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("tx") + F.col("ty") + F.col("boundary_id")).alias("chk"),
            )
        )

    timed("flagship_scaled_64m", lambda: scaled_flagship().collect())

    # flagship first (the BASELINE.json metric)
    timed("flagship_pip_tile", lambda: _flagship(spark, sf_dir).count())

    bench_queries = [
        "tile_counts_z13",
        "pip_inner",
        "q1_pricing_summary",
        "top_event_types",
        "image_geo_tiles",
        "way_nodes_resolution",
        "embedding_topk_fast",
        "embedding_cosine_neardup",
        "osc_apply_events",
    ]
    for name in bench_queries:
        if name in REGISTRY:
            fn = REGISTRY[name][0]
            timed(name, lambda fn=fn: fn(spark, sf_dir).count())
    # optional heavier ops registered later rounds
    for name in ["knn_k5", "cell_counts_h3_r7", "cell_counts_s2_l13", "dedup_minhash_lsh",
                 "audio_window_energy", "video_frame_luma", "h3_rollup_r9_to_r7",
                 "h3_compact_roundtrip", "embedding_ivf_ann", "s2_rollup_l13_to_l10",
                 "h3_center_child_r7_r9", "multipolygon_assembly", "h3_polyfill_r4",
                 "image_stats_phash_formula", "tile_mosaic_phash_z5",
                 "tile_render_png_phash_z10", "tile_render_mvt_roundtrip_z10",
                 "tfidf_top_terms", "bm25_search", "bpe_encode",
                 "cdc_chunks", "token_count_bpe", "curation_funnel", "pii_scrub",
                 "asof_user_state", "value_percentiles_exact", "pagerank_roads",
                 "retention_cohorts", "funnel_sequence", "quadkey_counts_z9",
                 "shortest_paths_roads", "snap_to_road", "poly_overlap_pairs",
                 "clip_segments_z6", "mvt_lines_roundtrip_z6", "contour_segments_z8",
                 "contour_rings_z8", "mvt_polygons_roundtrip_z8",
                 "tile_density_smooth_z10", "morans_i_z8", "image_patches_roundtrip",
                 "cell_regions_z8", "road_crossings", "raster_upsample_z8_z9",
                 "trip_segments_orders",
                 "q3_shipping_priority", "q5_local_supplier_volume",
                 "decontaminate_ngrams", "snapshot_diff_events", "quadtree_leaves_cap256", "dedup_clusters", "pip_temporal", "tile_slope_z8", "expire_tiles_z12", "embedding_semantic_dedup", "scd2_user_state", "mixture_sample_sources",
                 "contour_ring_centroids_z8", "nearest_boundary_vertex",
                 "assign_all_points", "zonal_stats_z10", "hilbert_key_z12",
                 "stratified_sample_z6", "hamming_neardup_pairs",
                 "convex_hull_groups", "hull_diameter_groups",
                 "hotspot_days_z5", "min_bounding_rect_groups",
                 "exif_gps_tiles", "dbscan_clusters", "lm_surprisal",
                 "idw_grid_p01", "polyline_tracks",
                 "od_matrix_orders", "geojson_roundtrip_tracks",
                 "colocation_pairs", "tile_equalize_z9", "kmv_distinct_users_z6",
                 "kmv_intersect_event_types", "stay_points_orders",
                 "voronoi_assign_z8", "cm_heavy_hitters_users",
                 "skyline_dist_cost", "image_box_filter_5x3",
                 "point_along_tracks", "image_quantize_rgb332",
                 "tile_opening_z6", "movement_rose_tracks",
                 "tile_mosaic_z5", "triangle_counts_covisit",
                 "hilbert_range_scan_z12",
                 "embedding_pq_codes", "embedding_pq_ann", "profile_documents",
                 "compaction_plan_docs", "geo_phash_neardup_z7",
                 "viterbi_match_tracks", "auc_lang_by_source",
                 "hausdorff_pairs_tracks", "image_rle_runs", "kcore20_planted",
                 "geofence_scrub_points", "mad_nchars_by_source",
                 "image_otsu_threshold", "image_cc_blobs", "image_blob_props",
                 "cusum_bursts_hourly", "image_template_match",
                 "dedup_substring_spans", "stream_sessionize_30m",
                 "way_area_centroid", "image_harris_corner", "audio_active_segments", "trend_events_daily", "pip_inner_intexact", "track_tile_path_z12", "image_ssim_pairs", "embedding_jl_project", "tile_counts_incremental_z9", "user_active_coverage", "video_temporal_sig", "boundary_density", "tile_skew_gini_z9", "salt_plan_cells", "stream_tile_counts_incremental_z9", "pii_luhn_cards", "way_area_geodesic", "trailing_events_1h", "pivot_type_by_user", "unpivot_type_counts", "ntile_event_values", "dedup_containment",
                 "tile_trend_mk_z5", "wkt_roundtrip_boundaries",
                 "terrain_rgb_roundtrip_z10_7", "audio_fingerprint_neardup",
                 "ring_validity_orders", "gpx_roundtrip_tracks", "route_assembly",
                 "frechet_pairs_tracks", "dtw_pairs_tracks", "getis_ord_hot_z8",
                 "image_bilinear_up2x", "image_canny_nms",
                 "triangulate_customer_rings", "tile_theil_sen_z5",
                 "image_central_moments", "tile_decayed_top100_z8",
                 "str_pack_leaves_cap256", "str_prune_stats", "variogram_z8",
                 "image_haar_energies", "video_block_motion", "audio_pitch_lags",
                 "image_fast9_corners", "tile_simpson_diversity_z6",
                 "kmeans_exact_k6_r3", "bloom_semijoin_stats",
                 "hll_distinct_users_z6", "ripley_k_pairs", "knox_space_time",
                 "tile_kendall_tau_z5", "ams_f2_users_z6", "lang_source_assoc",
                 "dedup_lcs_pairs", "image_lbp_uniform", "image_dither_bayer",
                 "benford_prices", "audio_zcr_windows", "tile_pettitt_z5",
                 "tile_dispersion_z6", "hits_user_types",
                 "allen_user_type_intervals", "terrain_viewshed_z10_7",
                 "rank_agg_types_z5", "tile_weekday_seasonality_z6",
                 "soundex_name_pairs", "markov_event_transitions",
                 "tile_isotonic_z5", "ks_source_drift", "mwu_lang_length",
                 "geary_c_z8", "tile_siegel_slope_z5", "tile_runs_test_z5",
                 "tile_tukey_outlier_days_z5", "image_glcm_features",
                 "image_hist_equalize", "emd_source_drift",
                 "tv_source_langmix", "boundary_image_luma",
                 "simpsons_paradox_sources", "kappa_langid",
                 "mcnemar_langid_vs_majority", "langid_class_report",
                 "segregation_types_z6", "tile_type_lq_z6",
                 "user_burstiness", "tile_spearman_z5",
                 "stream_windowed_counts_1h",
                 # session-15 additions
                 "road_link_prediction", "doc_readability", "audio_onset_flux",
                 "cell_msf_z5", "image_pyramid_energies", "image_colorfulness",
                 "audio_clipping_stats", "geofence_dwell", "boundary_trend_mk",
                 "covisit_ktruss_4", "local_moran_z8", "textrank_keywords",
                 "image_brief_match", "terrain_d8_flow_z10_7", "tile_ewma_z5",
                 "track_sinuosity", "image_blur_metric", "stream_static_enrich",
                 "attribution_last_touch", "basket_lift_pairs",
                 "kanonymity_groups", "linkage_patterns",
                 "terrain_watershed_z10_7", "terrain_flow_accumulation_z10_7",
                 "terrain_hypsometry_z10_7", "ppr_roads", "bivariate_moran_z8",
                 "edge_negative_samples", "churn_life_table",
                 "tile_naive_forecast_z4", "ivm_join_delta",
                 "embedding_matryoshka_overlap", "vocab_stats_by_source"]:
        if name in REGISTRY:
            fn = REGISTRY[name][0]
            # r5 DRIFT finding: these three pay a 2-2.4 s cold first rep
            # (page cache + Arrow-kernel JIT) that min-of-2 can't damp —
            # the r4 artifact recorded it as a phantom regression
            cold = name in ("video_block_motion", "embedding_ivf_ann", "image_geo_tiles")
            timed(name, lambda fn=fn: fn(spark, sf_dir).count(), reps=3 if cold else 2)

    # image-pipeline headline (the graft payload is images): batched decode →
    # stats/pHash over a 20k-row 64x64 raw table materialized to parquet once
    # (generation untimed), then the banded near-dup self-join on the computed
    # hashes. Same operators the oracle gate checks at small n.
    import tools.bench_image_decode as _ibd

    from osmgraft.operators.multimodal import image_stats, phash_near_dup_pairs

    img_path = _ibd.materialize(spark, 20_000, cpus)
    imgs_df = spark.read.parquet(img_path)
    imgs_df.count()  # warm page cache
    # reps=3: the binary-heavy Python feed is the most exposed to this host's
    # multi-second stall windows (BENCH/IMAGE.md); min-of-3 rides them out
    timed("image_stats_20k", lambda: image_stats(imgs_df).agg(F.count(F.lit(1))).collect(), reps=3)
    stats_df = image_stats(imgs_df).persist()
    stats_df.count()
    # radius 3 (4x16-bit bands, 65536 buckets) — the scale-honest dedup
    # radius; radius 8 on uniform-random hashes degenerates toward all-pairs
    # (~n^2/128 candidates; see phash_near_dup_pairs docstring) and is kept
    # to the oracle-gated small-n query
    timed(
        "image_phash_neardup_20k",
        lambda: phash_near_dup_pairs(stats_df, max_hamming=3).agg(F.count(F.lit(1))).collect(),
        reps=3,
    )
    stats_df.unpersist()


    flag = timings["flagship_pip_tile"]
    out = {
        "metric": "spatial-join+tile-assign wall-clock (flagship), sf rows via orders",
        "value": flag,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "rows_per_sec": round(n_points / flag, 1) if flag > 0 else None,
        "input_rows": n_points,
        "scaled_input_rows": scaled_rows,
        "scaled_rows_per_sec": round(scaled_rows / timings["flagship_scaled_64m"], 1),
        "cpus": cpus,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
