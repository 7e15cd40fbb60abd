"""Benchmark harness: runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints TWO JSON lines — the
per-query detail first, then a SHORT final headline line the driver's
tail-capture always lands on:

    {"metric": "headline_queries_detail", "unit": "sec",
     "queries": {"name": sec, ...}, "sf": <float>}
    {"metric": "headline_queries_total_sec", "value": <total sec>,
     "unit": "sec", "n": <count>, "sf": <float>,
     "calibration_query": <name>, "calibration_sec": [4 samples],
     "calibration_median_sec": <float>, "probe_ratio": <float>,
     "gate_breaches": [names], "normalized_total_sec": <float>,
     "codegen_passes": [3 x {"compiles", "compile_ms", "metaspace_mb",
                             "metaspace_grow_mb"}]}

The calibration samples time one FIXED canonical query at the start,
between passes, and at the end: uniform inflation of the calibration
median vs prior rounds = machine contention during the bench window
(divide the totals by the ratio before comparing); flat calibration
with one slow query = a real plan regression.

Self-normalizing perf gate (VERDICT r12 #2): FLOORS.json carries each
headline query's fastest-ever recorded sf0.1 time (with documented
workload revisions overriding raw minima) plus ``probe_ref_sec``, the
fastest recorded calibration median. At sf0.1 this script emits, per
query, the NOMINAL ratio (sec / floor) and the CALIBRATION-NORMALIZED
ratio (nominal / probe_ratio, where probe_ratio = this window's
calibration median / probe_ref_sec — how much slower the box is than
the floor-setting windows), and a ``gate_breaches`` list of queries
whose normalized ratio exceeds 2x. A slow machine window inflates
nominal ratios uniformly AND inflates the probe by the same factor,
so the normalized ratios stay comparable round over round without a
judge-side re-measure. New raw minima auto-tighten FLOORS.json.

Results are materialized through the noop sink (full execution, no
driver-side collect cost)."""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kafka_go_streamer_spark.plans import QUERIES
from kafka_go_streamer_spark.session import (
    cpu_count,
    get_spark,
    sf_dir,
    warm_python_workers,
)

#: Fixed machine-state probe (never changes round over round): timed
#: before/between/after the headline passes so a reader can tell
#: external contention (uniform calibration inflation) from a plan
#: regression (calibration flat, one query slow).
CALIBRATION_QUERY = "agg_pricing_summary"

#: Headline set: one representative per operator family, weighted toward
#: the scale-sensitive ones (joins, windows, LSH, similarity).
HEADLINE = [
    "route_documents",
    "agg_pricing_summary",
    "agg_count_distinct",
    "join_revenue_by_nation",
    "join_top_orders",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q18_large_volume_customers",
    "tpch_q21_suppliers_kept_waiting",
    "agg_grouping_sets",
    "window_range_frame_1h",
    "kmeans_assign_nearest_centroid",
    "window_topk_parts_per_brand",
    "window_running_sum",
    "window_tumbling_hourly",
    "window_session_per_user",
    "json_extraction",
    "text_quality",
    "text_fingerprints",
    "dedup_exact_hash",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "sim_topk_bruteforce",
    "sim_lsh_bucket_pairs",
    "ann_ivf_search",
    "text_chunking",
    "join_enrich_events_broadcast",
    "multimodal_decode_meta",
    # round-2 additions: the remaining heavy hitters, so regressions in
    # multi-join TPC-H plans, batched ANN, and the iterative
    # connected-components loop are visible round over round
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q22_idle_customer_balance",
    "sim_topk_multi_query",
    "dedup_connected_components",
    # the composed corpus pipeline: quality gate -> lang gate ->
    # fingerprint dedup -> token accounting, single scan + single shuffle
    "pipeline_training_prep",
    # round-3 additions (appended so the common prefix stays comparable
    # round over round); round 7 swaps the inline-training IVF probe
    # (super-linear: full Lloyd per invocation, x17 at x10 data in
    # BENCH_SCALEUP r6) for the materialized-store probe in the same
    # slot — the offline build runs once per corpus and the min-of-3
    # passes measures the online probe, which is the production cost
    "ann_ivf_store_probe",
    "dedup_simhash64_pairs",
    # round-5 additions (appended, common prefix still comparable): the
    # new TPC-H completions' heaviest shape, the applyInPandas sequence
    # packer, the TF-IDF extractor, and the ANN recall eval
    "tpch_q9_product_type_profit",
    "pack_sequences_greedy",
    "text_tfidf_topterms",
    "ann_recall_multiprobe",
    # the end-to-end composed pipeline: gates -> exact dedup -> near-dup
    # clustering -> decontamination -> sequence packing
    "pipeline_pretraining_full",
    "retrieval_hybrid_rrf",
    "events_funnel_conversion",
    # round-6 additions (appended, common prefix still comparable): the
    # embedding-side dedup manifest (IVF-blocked anti-join), the
    # tolerance-bounded as-of join, and curriculum-phase assignment
    "dedup_embedding_drop_rule",
    "join_asof_tolerance",
    "sample_curriculum_phases",
    # round-7 additions (appended, common prefix still comparable): the
    # duplicated-span dedup (the widest explode in the text family),
    # the zero-shuffle JL sketch, and the single-exchange SCD-1 merge
    "dedup_substring_spans",
    "embedding_random_projection",
    "merge_upsert_user_state",
    "sample_dsir_importance",
    # round-7 late additions (appended, common prefix still
    # comparable): the constant-shuffle HLL sketch, the IVF-cell-
    # blocked hard-negative miner, the spine-generating gap-fill, the
    # pinned-edge PageRank loop, and the BPE pair-count top-k
    "sketch_hll_distinct",
    "sim_hard_negatives",
    "ts_resample_interpolate",
    "graph_pagerank_transitions",
    "text_bpe_pair_merges",
    # ...and the rest of the continuation wave: bounded-frame rolling
    # features, the one-pass correlation matrix, the multi-table
    # quality gate, the k-round coreset selection, and the
    # vocabulary-blocked fuzzy matcher
    "ts_rolling_features",
    "stats_corr_matrix",
    "quality_expectations_check",
    "sample_kcenter_coreset",
    "dedup_names_levenshtein",
    # final continuation batch: HLL set algebra, cohort LTV, model
    # inference, held-out perplexity, and the document-graph PageRank
    "sketch_hll_intersection",
    "events_cohort_ltv",
    "text_quality_classifier",
    "text_eval_perplexity_heldout",
    "graph_doc_centrality",
    # round-8 additions (appended, common prefix still comparable):
    # the post-r7-scale-up queries the verdict asked to see measured
    # ratios for — hashed features, the shifted-equi-join forecast,
    # churn labeling, seasonal profiling, the one-window SCD-2, and
    # the salt-fanout skew join
    "text_feature_hashing",
    "ts_forecast_seasonal_naive",
    "events_churn_survival",
    "ts_seasonal_profile",
    "merge_scd2_history",
    "join_salted_skew",
    # round-8 new operators: histogram-sketch quantiles, robust MAD
    # outliers, chi-square independence, cross-split leakage audit,
    # the point-in-time SCD-2 probe, and strict-contiguity CEP
    "sketch_quantile_bands",
    "stats_mad_outliers",
    "stats_chi2_independence",
    "split_leakage_check",
    "join_pit_scd2_state",
    "events_pattern_funnel_strict",
    "stats_ks_drift",
    "stats_gini_concentration",
    "events_rfm_segments",
    "retrieval_mmr_rerank",
    "events_did_uplift",
    "stats_bootstrap_ci",
    "graph_triangle_count",
    "text_char_entropy",
    "text_pmi_cooccurrence",
    "quality_embedding_checks",
    "sample_neyman_allocation",
    "events_peak_active_users",
    "events_time_to_convert",
    "sketch_hll_hourly_rollup",
    "join_asof_nearest",
    "dedup_winnow_containment",
    "window_mom_growth",
    "pipeline_incremental_ingest",
    # round-9 additions (appended, common prefix still comparable):
    # the rank-based mergeable quantile sketch (mapInPandas partials +
    # bounded-fan-in merge tree), the matrix-free power-iteration PC,
    # the decode-path perceptual-hash banding, the offset-join EWMA,
    # the bounded-round label propagation, RAKE keyphrases, and the
    # one-tf-table PRF expansion
    "sketch_kll_quantiles",
    "embedding_top_pc_power_iter",
    "multimodal_phash_bands",
    "ts_ewma_smoothing",
    "graph_label_propagation",
    "text_rake_keywords",
    "retrieval_query_expansion_prf",
    # round-9 closing wave (appended, common prefix still comparable):
    # the iterative k-core peel and HITS loops, the pinned-rollup
    # CUSUM/PSI/ACF time-series passes, the panel-broadcast nDCG eval,
    # the two-pass PQ quantizer, the conditional-density Kaplan-Meier,
    # and the O(n log n) Kendall tau — the newest queries with
    # nontrivial shuffle structure, so their ratios are measured
    "graph_kcore_decomposition",
    "events_hits_hubs",
    "ts_cusum_changepoint",
    "quality_psi_drift",
    "ts_autocorrelation_acf",
    "retrieval_ndcg_eval",
    "embedding_pq_quantize",
    "events_kaplan_meier",
    "stats_kendall_tau_daily",
    "stats_anova_oneway",
    # final round-9 wave: rescaled-range Hurst (block windows over the
    # hourly rollup) and per-language lexical diversity (vocab-sized
    # downstream after one explode+count)
    "ts_hurst_rs",
    "text_ttr_lexical_diversity",
    # round-10 additions (appended, common prefix still comparable):
    # the day-rollup² Mann-Kendall pairing, the vocabulary-bounded
    # Kruskal-Wallis rank window, the 3-period DFT projection over the
    # pinned hourly rollup, the dual-row_number OHLC window (the
    # biggest fact-sized window shuffle of the wave), the triangle
    # triple-join local clustering, the per-user-fanout bipartite
    # projection, the panel-broadcast AP@k ranking, the sessionizer-
    # shaped duration stats, the global-ntile Lorenz deciles, and the
    # one-pass Kish ESS
    "stats_mann_kendall_trend",
    "stats_kruskal_wallis",
    "ts_periodogram_power",
    "ts_ohlc_daily",
    "graph_clustering_coefficient",
    "graph_bipartite_projection",
    "retrieval_average_precision",
    "events_session_duration_stats",
    "events_lorenz_deciles",
    "sample_effective_sample_size",
    # round-10 closing wave: the prefix-sum binseg split search, the
    # panel-broadcast kNN purity vote, and the sparse-frame source JSD
    "ts_changepoint_binseg",
    "embedding_knn_label_purity",
    "text_js_divergence_sources",
    # round-11 additions (appended, common prefix still comparable) —
    # the perf-interesting representatives of the 36-query r11 set:
    # the double-explode 13-gram contamination probe (the heaviest
    # per-byte stage of the wave), the distinct-(gram,bucket) novelty
    # frame, the two-ranking RBO comparison (corpus scanned once per
    # ranking against a broadcast panel), the dense-grid Cliff's delta
    # (types x vocabulary equi-join), the sampled-panel hubness scan,
    # the vocabulary-rank join (global window on the vocab frame), the
    # winnowing-edge rich club, the single-window weighted median and
    # drawdown, the exploded int8 round-trip MSE, the k-centroid
    # silhouette join, and the one-scan DoReMi reweight
    "text_contamination_ngrams",
    "text_ngram_novelty_decay",
    "retrieval_rbo_quantization",
    "stats_cliffs_delta",
    "embedding_hubness_koccurrence",
    "text_mean_word_rank",
    "graph_rich_club",
    "agg_weighted_median",
    "ts_max_drawdown",
    "embedding_quantization_mse",
    "embedding_silhouette_proxy",
    "sample_doremi_reweight",
    # r12 wave: semantic dedup / cluster diagnostics / line boilerplate
    "semdedup_prune_manifest",
    "semdedup_eps_sweep",
    "cluster_assignment_margin",
    "cluster_balance_profile",
    "dedup_line_doc_retention",
    "dedup_line_cleaned_md5",
    "pii_density_by_source",
    "pipeline_semdedup_corpus",
    "semdedup_vs_minhash_agreement",
    "semdedup_centroid_shift",
    "cluster_source_mix",
    "pipeline_gate_funnel",
    "text_doc_prefix_dup",
    "route_rule_coverage_overlap",
    "pack_fill_rate_stats",
    "graph_modularity_lpa",
    "ann_nprobe_recall_curve",
    "sample_quality_budget_curve",
    "multimodal_format_mix",
    "semdedup_retrieval_impact",
    "dedup_span_coverage_by_source",
    # round-12 wave-3/4 additions (appended, common prefix comparable):
    # the storage/batch economics tables, the IVF cost frontier, and
    # the calibration/privacy/estimator trust audits
    "storage_shard_plan",
    "storage_skipping_minmax_audit",
    "storage_partition_layout_skew",
    "pack_length_bucket_plan",
    "events_trigger_batch_profile",
    "ann_recall_cost_frontier",
    "quality_calibration_bins",
    "privacy_k_anonymity",
    "text_cross_source_overlap",
    "dedup_minhash_estimator_error",
    "dedup_component_size_histogram",
    "sample_language_budget",
    "multimodal_aspect_ratio_buckets",
    "text_zipf_slope",
    "quality_ece_summary",
    "multimodal_phash_hamming_hist",
    # round-13 wave (appended, common prefix still comparable): the
    # event-time lateness grid + dedup-leakage audit (both exercise
    # the two-level prefix scan — the wave's only nontrivial shuffle
    # structure), the no-window state-sizing table, the per-type
    # delay profile, and the fixed-panel LSH S-curve (panel signature
    # pass + banded equi-joins)
    "events_lateness_watermark_grid",
    "events_watermark_dedup_audit",
    "events_watermark_open_state",
    "events_arrival_delay_profile",
    "dedup_lsh_scurve_empirical",
    # ...and the wave-2 reliability/sizing audits: provenance routing,
    # gate ablation (bag_fp window), the two sketch sizing curves
    # (grid fans + broadcast counter frames), the hour-spine backlog
    # recurrence, l-diversity, and the Hill tail index
    "route_unmatched_by_source",
    "quality_gate_ablation",
    "privacy_l_diversity",
    "sketch_bloom_fpr_curve",
    "sketch_cms_error_profile",
    "events_capacity_backlog_plan",
    "text_tail_index_hill",
    # wave 3: the batch-watermark trigger matrix (the wave's heaviest
    # shuffle structure — two partitioned prefix scans), the composed
    # CC drop-bias rollup, the recall@k grid, the HLL sizing curve,
    # and the 2-D Z-order layout audit
    "events_lateness_trigger_matrix",
    "dedup_drop_bias_by_source",
    "ann_recall_at_k_grid",
    "sketch_hll_error_curve",
    "storage_zorder_skipping_audit",
    # r14 fidelity wave: the per-user dwell window, the hour-spine MAD
    # screen, the classes-x-sources TV frame, the TakeOrdered hash
    # sample, the grid-fanned bucket audit, the one-pass rule
    # forensics, the top-N burstiness identities, the double-ranked
    # metric-agreement panel, the width-fanned minhash candidates,
    # and the 3-width one-pass KLL certification
    "events_transition_dwell",
    "events_rate_anomaly_mad",
    "privacy_t_closeness",
    "sample_reservoir_uniformity",
    "storage_bucket_pruning_audit",
    "route_rule_shadowing",
    "text_word_burstiness",
    "ann_metric_agreement",
    "dedup_minhash_width_curve",
    "sketch_kll_error_curve",
    # r14 wave 2: single-pass gate sweep, class-frame generalization
    # curve, the nlist axis of the IVF trade-off (3 assignment passes
    # + panel rank cuts), the user-window return hazard, and the
    # pinned exploded shingle frame with its equi-key sharing join
    "quality_gate_threshold_sweep",
    "privacy_generalization_curve",
    "ann_nlist_tradeoff",
    "events_return_probability",
    "dedup_shingle_selectivity",
    # r14 wave 3: the train-vocab equi-join OOV audit, the cross-feed
    # rollup of the verified LSH candidate pairs, and the 3-cap
    # packing sweep (shared (source, shard) Arrow folds)
    "text_oov_rate_heldout",
    "dedup_cross_source_pairs",
    "pack_cap_sweep",
    # round 15 frontier wave: storage/packing/sampling operating
    # tables, the embedding-norm health profile, and the joint IVF
    # (nlist x nprobe) surface
    "storage_compaction_economics",
    "sample_temperature_sweep",
    "embedding_norm_profile_by_label",
    "pack_shard_span_sensitivity",
    "ann_ivf_operating_surface",
    # round 15 wave 2: the decode error path, dedup chain-merge audit,
    # dimension health, producer sizing, and the parquet encoding
    # planner
    "multimodal_decode_quarantine",
    "dedup_weak_link_audit",
    "embedding_dimension_health",
    "route_topic_payload_profile",
    "storage_column_encoding_planner",
    # round 15 wave 3: per-label effective rank and the gate/dedup
    # ordering decision table (two full LSH+contraction passes)
    "embedding_effective_dimensionality",
    "pipeline_dedup_order_sensitivity",
    # round 15 wave 4: the MAX_BUCKET skew guard priced
    "dedup_bucket_cap_audit",
    # round 16: the joint layout x workload chooser composing the
    # three storage audits, and the persisted-IVF append/probe path
    "storage_layout_chooser",
    "ann_ivf_store_append_probe",
    # round 16 wave 2: optimizer q-error audit + data-contract suite
    "stats_cardinality_estimate_audit",
    "quality_constraint_conformance",
    # round 16 wave 3: right-to-be-forgotten economics
    "privacy_deletion_propagation",
    # round 16 wave 4: sampling-based join estimators
    "stats_join_sample_estimators",
]


def codegen_stats(spark) -> dict[str, float]:
    """Janino compiles and their total ms so far in this JVM, and its
    Metaspace MB. Per-pass deltas show a generated-code cache that
    thrashes: a warm pass that still compiles is evicting."""
    jvm = spark._jvm
    pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    metaspace = sum(
        p.getUsage().getUsed() for p in pools if p.getName() == "Metaspace"
    )
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return {
        "compiles": metrics.METRIC_COMPILATION_TIME().getCount(),
        "compile_ms": codegen.compileTime() / 1e6,
        "metaspace_mb": round(metaspace / 2**20, 1),
    }


def main() -> None:
    target = sf_dir()
    m = re.search(r"sf([0-9.]+)", target)
    sf = float(m.group(1)) if m else -1.0
    cpus = cpu_count()
    spark = get_spark("kgs-bench")
    # session warmup: JVM codegen paths + Python worker daemons, so the
    # per-query numbers measure the queries rather than session spin-up
    warm_python_workers(spark)
    spark.read.parquet(f"{target}/region.parquet").count()

    # Calibration probe: ONE canonical constant query timed before the
    # first pass, between passes, and after the last — four samples of
    # the same plan spread across the whole bench window. The probe's
    # plan never changes round over round, so its times attribute
    # machine state: if this round's calibration median is ~2x a prior
    # round's, the box was contended for the whole window and every
    # per-query number should be normalized by the calibration ratio
    # before cross-round comparison (the r8 driver record was uniformly
    # ~x2 a same-machine builder run for exactly this reason — see
    # COVERAGE.md "Bench calibration").
    def _calibrate() -> float:
        t0 = time.perf_counter()
        QUERIES[CALIBRATION_QUERY](spark, target).write.format("noop").mode(
            "overwrite"
        ).save()
        return round(time.perf_counter() - t0, 3)

    calibration: list[float] = [_calibrate()]

    # min over 3 INTERLEAVED full passes: this box is shared with the
    # driver harness, and external CPU bursts last seconds — back-to-back
    # repeats of one query share the same burst, while passes separated
    # by the rest of the suite don't, so the per-query minimum across
    # passes reflects the plan's actual cost
    timings: dict[str, float] = {name: float("inf") for name in HEADLINE}
    codegen_passes: list[dict[str, float]] = []
    for _ in range(3):
        before = codegen_stats(spark)
        for name in HEADLINE:
            t0 = time.perf_counter()
            QUERIES[name](spark, target).write.format("noop").mode(
                "overwrite"
            ).save()
            timings[name] = min(timings[name], time.perf_counter() - t0)
        after = codegen_stats(spark)
        codegen_passes.append(
            {
                "compiles": after["compiles"] - before["compiles"],
                "compile_ms": round(after["compile_ms"] - before["compile_ms"]),
                "metaspace_mb": after["metaspace_mb"],
                "metaspace_grow_mb": round(
                    after["metaspace_mb"] - before["metaspace_mb"], 1
                ),
            }
        )
        calibration.append(_calibrate())
    timings = {name: round(t, 3) for name, t in timings.items()}

    total = round(sum(timings.values()), 3)
    # Per-query detail FIRST, then a SHORT final line: the driver
    # captures the tail of stdout and parses the LAST JSON line — the
    # 66-query single-line record overflowed that window in round 7
    # (BENCH_r07.json "parsed": null), so the parseable headline must
    # be small and last.
    print(
        json.dumps(
            {
                "metric": "headline_queries_detail",
                "unit": "sec",
                "queries": timings,
                "sf": sf,
            }
        )
    )
    calib_sorted = sorted(calibration)
    # Persist the full per-query detail to the repo as well: the driver
    # records only the TAIL of stdout, so r9/r10's BENCH_r*.json lost
    # the first half of the detail line (VERDICT r10 "What's wrong" #2).
    # The repo file makes every recorded bench round self-sufficient.
    mid = len(calib_sorted) // 2
    calib_median = round(
        (calib_sorted[mid - 1] + calib_sorted[mid]) / 2
        if len(calib_sorted) % 2 == 0
        else calib_sorted[mid],
        3,
    )
    summary = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "n": len(timings),
        "sf": sf,
        "cpus": cpus,
        "calibration_query": CALIBRATION_QUERY,
        "calibration_sec": calibration,
        "calibration_median_sec": calib_median,
        "codegen_passes": codegen_passes,
    }

    # ---- calibration-normalized perf gate vs FLOORS.json (sf0.1 only:
    # floors are recorded at the driver's bench scale) ----
    floors_path = os.path.join(os.path.dirname(__file__), "FLOORS.json")
    ratios: dict[str, dict[str, float]] = {}
    if sf == 0.1:
        try:
            with open(floors_path) as f:
                floors_doc = json.load(f)
        except (OSError, ValueError):
            floors_doc = None
        if floors_doc:
            floors = floors_doc.get("floors", {})
            probe_ref = floors_doc.get("probe_ref_sec") or calib_median
            probe_ratio = round(calib_median / probe_ref, 3)
            revised = set(floors_doc.get("revisions", {}))
            breaches = []
            tightened = False
            for name, t in timings.items():
                fl = floors.get(name)
                if not fl:
                    continue
                nominal = round(t / fl, 3)
                normalized = round(nominal / max(probe_ratio, 1.0), 3)
                ratios[name] = {
                    "sec": t,
                    "floor_sec": fl,
                    "nominal_x": nominal,
                    "normalized_x": normalized,
                }
                if normalized > 2.0:
                    breaches.append(name)
                # auto-tighten: a new minimum becomes the floor,
                # normalized by the window's speed when the window ran
                # FASTER than the probe reference — otherwise a lucky
                # fast window records a floor that permanently inflates
                # later rounds' normalized ratios (ADVICE r13). Slow
                # windows keep the raw reading (already conservative).
                # Never tightens below a documented workload revision.
                cand = round(t / probe_ratio, 3) if probe_ratio < 1.0 else t
                if cand < fl and name not in revised:
                    floors[name] = cand
                    tightened = True
            if tightened:
                with open(floors_path, "w") as f:
                    json.dump(floors_doc, f, indent=1)
            summary["probe_ratio"] = probe_ratio
            summary["gate_breaches"] = sorted(breaches)
            summary["normalized_total_sec"] = round(
                total / max(probe_ratio, 1.0), 3
            )
    # Keyed by (sf, cpus) — VERDICT r16 #2: the driver's low-core
    # scaling sweep at the same sf used to clobber the 32-core record
    # (the pre-r17 layout keyed only by sf), losing the only complete
    # per-query record of the round. Both dimensions now persist;
    # legacy sf-only keys are left in place untouched.
    detail_path = os.path.join(os.path.dirname(__file__), "BENCH_DETAIL.json")
    detail: dict = {}
    try:
        with open(detail_path) as f:
            prior = json.load(f)
        # migrate the pre-r12 single-run layout {metric,...,queries}
        detail = prior if "metric" not in prior else {str(prior["sf"]): prior}
    except (OSError, ValueError):
        pass
    key = f"{sf}|c{cpus}"
    detail[key] = {**summary, "queries": timings}
    if ratios:
        detail[key]["floor_ratios"] = ratios
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
