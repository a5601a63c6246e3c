"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Query set: the relational core (scan/filter/join/agg/window/percentile),
the doc pipeline (dedup/quality/LSH), and vector similarity — a
representative slice of SURVEY §2 + beyond-parity ops.

Timed action: `df.write.format("noop")` — materializes EVERY output
column through the full plan with no driver transfer. Round 2 timed
`.count()`, which lets Catalyst prune non-grouping output expressions
from a final Project/Aggregate, so projection-heavy queries (e.g. the
per-seed minhash columns) under-reported their real work. noop writes
are prune-proof: the write sink consumes all columns.

Round 8: the suite grew 139→198 queries over three rounds and the
accumulated suite load (JVM heap/GC/code-cache pressure by the time the
measured pass reaches a query) produced phantom round-over-round
regressions that each cost an isolated-A/B session to refute. The
PINNED section fixes that: a frozen ~28-query heavy set measured FIRST
— fresh session, fixed order, each query warmed and measured
back-to-back (min of 2) with the cache cleared around it — so its
numbers are comparable across rounds regardless of suite growth.
tools/bench_compare.py scores the pinned section when both runs carry
one; the full suite stays as coverage/error surface. The pinned list is
APPEND-ONLY and its order is frozen (changing either breaks
comparability).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

BENCH_QUERIES = [
    "a1_pricing_summary",
    "a1_top_revenue",
    "a1_region_revenue",
    "q06_forecast_revenue",
    "q10_top_customers",
    "a1_order_priority",
    "a1_percentiles_by_status",
    "a1_window_top3_per_cust",
    "q_events_hourly",
    "q_events_json_extract",
    "a2_ols_residualize",
    "d_exact_dedup",
    "d_quality_scores",
    "d_token_stats",
    "d_langid_confusion",
    "d_minhash_signatures",
    "d_lsh_candidates",
    "d_simhash",
    "d_winnow_fingerprints",
    "e_knn_bruteforce",
    "e_knn_ivf",
    "e_knn_lsh",
    "d_semantic_neardup",
    "d_sequence_packing",
    "d_repetition_filter",
    "d_oov_bigram_score",
    "e_label_centroids",
    "e_norm_stats",
    "q13_cust_order_counts",
    "q18_large_orders",
    "q_rollup_region_nation",
    "a1_asof_click_before_error",
    "q_range_views_after_error",
    "q_session_stats",
    "q_event_transitions",
    "m_blob_stats",
    "m_frame_counts",
    "a2_deconfound_dims",
    "q02_min_cost_supplier",
    "q03_unshipped_priority",
    "q07_nation_trade_pairs",
    "q09_profit_by_nation_year",
    "q14_promo_revenue",
    "q17_small_qty_revenue",
    "q19_or_predicates",
    "a1_idle_rich_customers",
    "q08_market_share",
    "q_cube_status_priority",
    "a1_window_moving_sum",
    "q_hash_sample",
    "q_hourly_gap_fill",
    "q_null_semantics",
    "q_string_funcs",
    "q_datetime_funcs",
    "q11_important_parts",
    "q12_late_shipment_priority",
    "q20_excess_suppliers",
    "q21_multi_supplier_orders",
    "q22_dormant_rich_nations",
    "q_price_histogram",
    "q_funnel_conversion",
    "q_weekly_cohort_retention",
    "q_part_cooccurrence",
    "q_grouping_sets",
    "q_window_value_funcs",
    "d_levenshtein_neardup",
    "q_map_ops",
    "q_unpivot_status_metrics",
    "d_balanced_sample",
    "d_context_windows",
    "d_decontamination",
    "d_pii_scrub",
    "e_sq_knn",
    "q_resample_interpolate",
    "d_tfidf_top_terms",
    "q_scd2_user_state",
    "q_key_skew_profile",
    "q_approx_distinct_check",
    "q_approx_quantile_check",
    "q_pivot_status_counts",
    "q_argmax_per_status",
    "q_events_sliding_counts",
    "q_referential_integrity",
    "q_new_vs_returning",
    "q_rolling_median_price",
    "q_pareto_frontier",
    "d_hot_ngrams",
    "d_prefix_filter_jaccard",
    "q_modal_event_type",
    "d_incremental_dedup",
    "a2_kmeans_lloyd",
    "e_pq_knn",
    "e_gram_matrix",
    "e_semdedup",
    "d_dsir_weights",
    "t_kl_source_drift",
    "t_bloom_decontam",
    "v_mmr_rerank",
    "v_ivfpq_knn",
    "t_quality_logreg",
    "t_leakage_split",
    "t_cms_heavy_hitters",
    "t_bpe_merges",
    "m_cdc_chunks",
    "q_trade_pagerank",
    "t_bm25_topk",
    "v_knn_blocked",
    "t_refinery_funnel",
    "v_hybrid_search",
    "q_ab_ztest",
    "q_copurchase_triangles",
    "q_ivm_merge_proof",
    "v_ivfpq_recall",
    "q_touch_attribution",
    "q_salted_join_check",
    "q_variant_shred",
    "ml_hwe_filter",
    "v_pca_power",
    "q_seasonal_decompose",
    "q_cusum_drift",
    "q_benford_audit",
    "q_ewma_forecast",
    "q_basket_rules",
    "t_zipf_fit",
    "m_asset_neardup",
    "t_containment_dedup",
    "q_spearman_orders_spend",
    "ml_ld_clump_r2",
    "t_minhash_accuracy",
    "ml_gc_lambda",
    "q_ks_length_shift",
    # round 4
    "a2_interactions_full",
    "t_substring_spans",
    "t_substring_dedup",
    "t_bpe_encode",
    "v_bq_knn",
    "v_bq_recall",
    "ml_prs_score",
    "ml_king_kinship",
    "v_ivf_incremental",
    "q_recursive_trade_reach",
    "q_lateral_topk",
    # round 5
    "q_zorder_skipping",
    "q_compaction_plan",
    "t_domain_mixture",
    "q_cdc_apply",
    "t_ngram_novelty",
    "t_source_overlap",
    "q_cdc_materialize",
    "q_k_anonymity",
    "t_dedup_best_keep",
    "t_bigram_ppl",
    "q_scd2_lookup",
    "t_lsh_band_plan",
    "t_gopher_rules",
    "q_kmv_set_ops",
    "v_trunc_knn",
    "t_dedup_agreement",
    "q_mad_outliers",
    "ml_epistasis_screen",
    "t_logreg_calibration",
    "v_label_noise",
    "q_poisson_bootstrap",
    "q_trajectory_knn",
    "q_cuped_adjust",
    "q_msprt_monitor",
    "q_conformal_interval",
    "q_km_time_to_error",
    "q_srm_balance",
    "q_psi_drift",
    "q_constraint_suite",
    "q_heavy_change",
    "q_itemcf_topk",
    "q_markov_next_event",
    "v_grid_dbscan",
    "v_label_noise_panel",
    "q_trajectory_knn_panel",
    "t_refinery_e2e",
    "t_kneser_ney_ppl",
    "t_weighted_sample",
    "q_changepoint_revenue",
    "q_l_diversity",
    "v_nprobe_sweep",
    "q_watermark_lateness",
    "q_bradley_terry",
    "q_erasure_audit",
    "t_curriculum_buckets",
    "v_kcenter_init",
    "v_rrf_fusion",
    "q_kcore_decomposition",
    "ml_meta_analysis",
    "q_t_closeness",
    "q_hdr_latency",
    "q_label_propagation",
    "t_winnowing_fingerprint",
    "v_semantic_keep",
    "t_refinery_linear",
    # round 8
    "t_kneser_ney_capped",
    "q_dp_histogram",
    "v_ndcg_audit",
    "q_link_prediction",
    "t_stratified_sample",
    # round 9
    "q_hll_distinct",
    "d_soft_dedup_weights",
    "t_char_entropy",
    "t_shard_manifest",
    "q_dp_mean",
    "d_simhash_neardup",
    "d_sorted_neighborhood",
    "q_trade_shortest_path",
    "q_dp_quantile",
    "m_shot_boundaries",
    "v_rotated_bq_recall",
    # round 10
    "t_html_extract",
    "t_html_refinery",
    "ml_prune_replay_fixed",
    "ml_continuation_ladder",
    "ml_auc_exact_audit",
    "t_html_link_graph",
    "t_html_dedup_recovery",
    # round 11
    "t_cap_census",
    "t_refinery_html_e2e",
    "t_url_canonical",
    "t_url_dedup",
    "t_url_dedup_recovery",
    "t_optout_gate",
    "t_optout_refinery",
    "t_ingest_e2e",
    "t_ingest_delta",
    "t_ingest_epochs",
    "t_host_yield",
    "t_crawl_budget",
    "t_manifest_diff",
    "t_robots_txt",
    "t_frontier_e2e",
]

# Frozen heavy set for round-over-round comparison (r8 ask #4): the ~28
# most expensive queries as of BENCH_r07, measured before the suite so
# suite-load drift can't touch them. APPEND-ONLY; order frozen.
PINNED_QUERIES = [
    "t_dedup_best_keep",
    "t_refinery_e2e",
    "v_kcenter_init",
    "t_curriculum_buckets",
    "v_label_noise",
    "q_label_propagation",
    "t_refinery_linear",
    "q_kcore_decomposition",
    "t_kneser_ney_ppl",
    "v_rrf_fusion",
    "t_dedup_agreement",
    "v_grid_dbscan",
    "v_nprobe_sweep",
    "t_substring_dedup",
    "q_poisson_bootstrap",
    "q_conformal_interval",
    "t_logreg_calibration",
    "t_minhash_accuracy",
    "q_hdr_latency",
    "t_winnowing_fingerprint",
    "t_bpe_encode",
    "t_containment_dedup",
    "q_psi_drift",
    "q_itemcf_topk",
    "q_bradley_terry",
    "e_semdedup",
    "d_prefix_filter_jaccard",
    "ml_ld_clump_r2",
    # round 11 appends (append-only contract: comparable from r11 on)
    "t_refinery_html_e2e",
    "t_cap_census",
]


def _materialize(df) -> None:
    """Prune-proof action: force every output column through the plan."""
    df.write.format("noop").mode("overwrite").save()


def _calibration(spark) -> float:
    """Fixed, DATA-INDEPENDENT synthetic workload measured before
    everything else (round-10, VERDICT-r9 ask #3): BENCH_COMPARE_r9
    proved the box state shifts 1.1-1.3x round-over-round, forcing
    fresh-process A/B adjudication of pure noise. This workload never
    changes (no parquet, no query code — spark.range -> 3 xxhash64
    lanes -> 64k-key partial-agg shuffle -> second agg; ANSI-safe via
    pmod masking), so its round-over-round ratio measures the BOX/JVM,
    not the engine; tools/bench_compare.py divides pinned ratios by it
    before flagging. min of 3 (~3.5 s on the reference box)."""
    from pyspark.sql import functions as F

    def build():
        df = spark.range(0, 800_000_000, 1, 32).select(
            F.pmod(F.xxhash64(F.col("id")), F.lit(65536)).alias("b"),
            F.pmod(F.xxhash64(F.col("id"), F.lit(1)), F.lit(1_000_000)).alias("v1"),
            F.pmod(F.xxhash64(F.col("id"), F.lit(2)), F.lit(1_000_000)).alias("v2"),
        )
        g1 = df.groupBy("b").agg(
            F.sum("v1").alias("s1"),
            F.sum(F.col("v1") - F.col("v2")).alias("s2"),
            F.count(F.lit(1)).alias("c"),
        )
        return g1.groupBy(F.pmod(F.col("b"), F.lit(512)).alias("b2")).agg(
            F.sum("s1").alias("t1"), F.sum("s2").alias("t2"), F.sum("c").alias("tc")
        )

    _materialize(build())  # warm (codegen)
    best = float("inf")
    for _ in range(3):
        t0 = time.time()
        _materialize(build())
        best = min(best, time.time() - t0)
    return round(best, 3)


def main() -> None:
    from daxos_spark.plans import get_specs
    from daxos_spark.session import get_spark

    spark = get_spark("bench")
    specs = get_specs()

    # warm the JVM + parquet footers with a trivial action (not measured)
    from daxos_spark.catalog import load_tables

    load_tables(spark, SF_DIR)["region"].count()

    # -- calibration (box-state probe; see _calibration) ------------------
    calibration_s = _calibration(spark)
    print(f"# calibration: {calibration_s:.2f}s", file=sys.stderr)

    # -- PINNED section (round-over-round comparison surface) ------------
    # Runs FIRST, in frozen order, each query isolated: warm run (codegen
    # + JIT) then two measured runs back-to-back (min reported), cache
    # cleared around each query. Any constant session-start bias applies
    # identically every round because position and order never change.
    pinned: dict[str, float] = {}
    pinned_errors: dict[str, str] = {}
    for name in PINNED_QUERIES:
        try:
            _materialize(specs[name].spark(spark, SF_DIR))  # warm
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                _materialize(specs[name].spark(spark, SF_DIR))
                best = min(best, time.time() - t0)
            pinned[name] = round(best, 3)
            print(f"# pinned {name}: {pinned[name]:.2f}s", file=sys.stderr)
        except Exception as e:  # noqa: BLE001 — isolate per query
            pinned_errors[name] = f"{type(e).__name__}: {e}"[:300]
            print(f"# pinned {name}: FAIL {pinned_errors[name]}", file=sys.stderr)
        finally:
            spark.catalog.clearCache()

    # Two passes: the first warms whole-stage-codegen (Janino compiles
    # ~2s per distinct plan — pure one-time JVM cost, amortized to noise
    # on any real workload); the second pass is the steady-state time
    # reported. Plans are rebuilt from scratch in the measured pass, so
    # planning/optimization cost IS included — only class compilation
    # and JIT warm-up are amortized. The warm pass also records row
    # counts (reported for the log line, never timed).
    # A failing query must never zero the whole suite: every query run
    # (warm and measured) is individually guarded, failures are recorded
    # under "errors", and the JSON line is emitted regardless.
    errors: dict[str, str] = {}
    for name in BENCH_QUERIES:
        try:
            # one noop warm (codegen + JIT); row counts are the
            # correctness gate's job — a separate .count() here was a
            # third full execution per query, ~1/3 of total bench wall
            _materialize(specs[name].spark(spark, SF_DIR))
        except Exception as e:  # noqa: BLE001 — isolate per query
            errors[name] = f"{type(e).__name__}: {e}"[:300]
            print(f"# {name}: WARM FAIL {errors[name]}", file=sys.stderr)
        # ~35 query pipelines persist() intermediates they never
        # unpersist (deliberate within one invocation — CacheManager
        # reuses them across the invocation's jobs). Left alone they
        # ACCUMULATE across the suite: by the measured pass every
        # leaked cache from every warmed query is resident, and the
        # storage/GC pressure drifted unrelated queries round-over-
        # round (round-4 finding: ml_ld_clump_r2 3.71 s under suite
        # load vs 1.69 s isolated, no code change). Clearing between
        # queries restores isolation; within a measured pair, run 1
        # repopulates and run 2 (the reported min) still reuses.
        spark.catalog.clearCache()

    # min of two measured runs per query: wall times on a shared box are
    # noisy (background load, GC); the min is the steady-state latency
    # of the plan, which is what a throughput comparison should score.
    timings: dict[str, float] = {}
    for name in BENCH_QUERIES:
        if name in errors:
            continue
        spec = specs[name]
        best = float("inf")
        try:
            for _ in range(2):
                t0 = time.time()
                _materialize(spec.spark(spark, SF_DIR))
                best = min(best, time.time() - t0)
        except Exception as e:  # noqa: BLE001 — isolate per query
            errors[name] = f"{type(e).__name__}: {e}"[:300]
            print(f"# {name}: FAIL {errors[name]}", file=sys.stderr)
            continue
        finally:
            # ALWAYS clear (see warm-pass comment) — a failing query
            # must not leave its leaked caches pressuring every
            # subsequent measurement
            spark.catalog.clearCache()
        timings[name] = round(best, 3)
        print(f"# {name}: {timings[name]:.2f}s", file=sys.stderr)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    # "value" sums only successful queries; "n_failed" sits adjacent so a
    # partial (error-laden) total can never be mistaken for a clean one.
    line = json.dumps(
        {
            "metric": "daxos_spark headline suite wall time",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "errors": errors,
            "n_failed": len(errors),
            "complete": not errors,
            "pinned": pinned,
            "pinned_errors": pinned_errors,
            # near the END of the line (like pinned) so it survives
            # the driver wrapper's front-truncation
            "calibration_s": calibration_s,
            "sf": sf_val,
        }
    )
    print(line)
    # The same JSON, durably on disk: the one-line contract now spans
    # ~240 queries (~8 KB) and round 10's stdout capture kept only a
    # 2000-char tail (PERF_r11 lost its whole prev-bench comparison to
    # that truncation). Best-effort — the stdout line stays the
    # contract; a read-only tree must not fail the bench.
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LAST.json"),
            "w",
        ) as fh:
            fh.write(line + "\n")
    except OSError:
        pass


if __name__ == "__main__":
    main()
