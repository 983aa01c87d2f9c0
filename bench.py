"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with a noop-format write (full computation,
no driver collect bottleneck, no disk)."""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from streamprocessing_spark.engine import release_plugin_caches
from streamprocessing_spark.registry import all_specs
from streamprocessing_spark.session import codegen_compilations, get_spark
from streamprocessing_spark.shared_views import release_shared_views

# Headline set: the reference-derived pipelines + the heavier analytics /
# LLM-pipeline operators. Kept explicit so bench timings stay comparable
# across rounds even as the registry grows. Order matters: each rep pass
# starts with no shared views (timed_passes), so the first query here
# that reads a view prices its build and later readers stay marginal.
HEADLINE = [
    # reference-derived pipelines
    "source_scan",
    "project_columns",
    "filter_contains",
    "count_by_key",
    "flatmap_explode",
    "dedup_by_id",
    "app1_pipeline",
    "app2_pipeline",
    "rainstorm_plugin_app2",
    "rainstorm_vectorized_app2",
    # analytics
    "q1_pricing_summary",
    "join_revenue_by_nation",
    "join_shuffle_orders_lineitem",
    "top_orders_by_revenue",
    "window_topn_per_group",
    "asof_join_latest_order",
    # LLM-pipeline extensions
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_scaled",
    "dedup_simhash",
    "ann_cosine_topk",
    # srp_lsh_cosine_pairs (fixed r,b) retired from the headline per
    # VERDICT r03 item #3 — the scale-tier twin srp_lsh_cosine_pairs_scaled
    # below is the shipped near-dup path; the baseline stays registered
    # for SCALE.md's head-to-head.
    "text_quality_score",
    "tfidf_top_terms",
    "sessionize_events",
    "multimodal_features",
    # round-1 continuation additions
    "merge_overlapping_intervals",
    "decontaminate_benchmark_overlap",
    "copurchase_lift",
    "zorder_key_orders",
    # round-2 additions (knn_label_audit and rainstorm_exec_app2 are
    # deliberately excluded: the quadratic audit baseline and the
    # fork-per-record compatibility adapter are measured cost floors,
    # not throughput paths — see SCALEBENCH.json / their docstrings)
    "dedup_keep_canonical",
    "token_rarity_score",
    "token_cooccurrence_lift",
    "winsorize_values_by_type",
    "pack_documents_greedy",
    # round-2 late additions (semantic_dedup_keep now aliases the IVF
    # production tier measured below as semantic_dedup_keep_ivf — one
    # headline slot per distinct computation)
    "rolling_user_activity_1h",
    "temperature_sample_by_source",
    "pagerank_copurchase",
    # round-2 continuation additions
    "ivf_cosine_pairs",
    "triangle_count_copurchase",
    "mad_outlier_events",
    "chunk_documents_windows",
    "duplicate_span_coverage",
    "semantic_dedup_keep_ivf",
    "dedup_incremental_batch",
    "curation_manifest_end2end",
    "kmeans_embeddings",
    # round-2 final additions
    "kcore_parts",
    "countmin_heavy_hitters",
    "ann_pq_adc_topk",
    "cdc_apply_changes",
    "interpolate_hourly_linear",
    # round-2 fourth-continuation additions
    "sssp_weighted_parts",
    "embedding_gram_matrix",
    "url_domain_stats",
    "multimodal_audio_energy",
    "minhash_jaccard_estimate_audit",
    "split_leakage_audit",
    "nest_order_lineitems",
    "daily_active_user_bitmap",
    "table_content_fingerprint",
    # round-3 additions
    "srp_lsh_cosine_pairs_scaled",
    "srp_lsh_cosine_pairs_recall_held",
    "repetition_dup_trigram_fraction",
    "embedding_drift_chi2_by_dim",
    "url_canonical_dedup",
    "multimodal_phash_arrow",
    "rfm_customer_segments",
    "bot_rate_flags",
    "sequence_gap_audit",
    # round-3 continuation additions
    "kneser_ney_bigram_lm",
    "vocab_growth_by_batch",
    "preference_pair_assembly",
    "dedup_cluster_size_histogram",
    "bucketed_join_revenue",
    "target_encoding_loo",
    "cogroup_asof_enrich",
    "join_fanout_audit",
    "huber_trend_slopes_grouped",
    "hilbert_key_orders",
    "session_window_batch_agg",
    # round-3 second-session additions
    "ccnet_perplexity_buckets",
    "dsir_importance_weights",
    "dedup_signal_auc",
    "char_entropy_filter",
    "zipf_law_audit",
    "isotonic_hourly_value",
    "weighted_reservoir_sample",
    "degree_assortativity_parts",
    "group_by_all_showcase",
    "script_transform_filter",
    "user_lis_engagement",
    "ks_two_sample_value",
    "kaplan_meier_activity",
    "unimax_budget_allocation",
    "theil_sen_user_slopes",
    "source_schema_evolution",
    "exact_median_two_scan",
    # round-4 additions (ann_hubness_audit deliberately excluded: it
    # shares knn_label_audit's quadratic exact-baseline candidate stage
    # — a measured cost floor, not a throughput path)
    "dedup_containment_join",
    "ngram_novelty_score",
    "interval_overlap_peak_sessions",
    "max_concurrent_sessions_daily",
    "l_diversity_audit",
    "variance_optimal_allocation_sample",
    "clustering_skipping_compare",
    "blocking_strategy_audit",
    "sessionization_gap_sensitivity",
    "late_arrival_audit",
    "ann_shard_plan",
    "er_match_transitivity_audit",
    "multimodal_dedup_manifest",
    "longest_duplicated_span",
    "funnel_steps_dropoff",
    "dedup_minhash_recall_curve",
    # round-5 additions
    "calibration_ece_audit",
    "annotator_agreement_kappa",
    "mutual_information_source_lang",
    "psi_value_drift",
    "daily_value_autocorrelation",
    "fellegi_sunter_scores",
    "matryoshka_truncation_audit",
    "hybrid_rrf_retrieval",
    "modularity_communities",
    "hits_part_authorities",
    "decontaminate_semantic",
    "emd_value_distributions",
    "hill_tail_index_value",
    "multimodal_silence_ratio",
    "source_ablation_impact",
    "hard_negative_mining",
    "conformal_quality_threshold",
    "lang_id_macro_f1",
    "frequent_triples_apriori",
    "gini_value_inequality",
    "kendall_tau_revenue_volume",
    "markov_entropy_rate",
    "partition_divergence_proof",
    "int8_quantization_recall_audit",
    "rbo_lexical_semantic",
    "shard_balance_audit",
    "packing_efficiency_audit",
    "embedding_anisotropy_audit",
    "sink_python_datasource_roundtrip",
    "shuffle_skew_audit",
    "fano_burstiness_by_type",
    "t_closeness_audit",
    "attribution_position_based",
    # round-6 additions: real-codec phash tier + dirty-ingest accounting
    "multimodal_phash_neardup_real",
    "source_malformed_csv_permissive",
    "source_malformed_jsonl_permissive",
    "bitext_mine_margin",
    "bitext_mine_margin_ivf",
    "dedup_aware_split",
    "ann_ivf_persisted_topk",
    "multimodal_resize_real",
    "dsir_importance_resample",
    # round-9 additions: paragraph-granularity + exact-containment dedup,
    # the contamination matrix, and the persisted pair-mining serving tier
    "dedup_paragraph_minhash",
    "dedup_substring_containment",
    "contamination_matrix",
    "ivf_cosine_pairs_persisted",
    "quantization_recall_sweep",
    "dedup_paragraph_keep",
    # round-10 additions: the ExactSubstr span-removal emit path, the
    # compacted-index serving tier, and the cross-lingual matrix
    # (streaming_paragraph_dedup_ingest rides its own drain, not benched)
    "dedup_substring_keep",
    "ivf_cosine_pairs_compacted",
    "contamination_matrix_crosslingual",
    # round-10 second ring: quality-priority keep, CDC chunk dedup, and
    # the incremental append+serve index tier
    "dedup_keep_best_quality",
    "dedup_cdc_chunks",
    "ivf_cosine_pairs_incremental",
    # round-10 third ring: the CDC emit path and cross-lingual decon
    "dedup_cdc_keep",
    "decontaminate_crosslingual",
    # round-10 fourth ring: the containment drop decision, the
    # quality-priority paragraph emit, and cross-lingual dedup keep
    "dedup_containment_keep",
    "dedup_paragraph_keep_best",
    "dedup_crosslingual_keep",
    "ivf_cosine_pairs_erased",
    "ivf_cell_balance_audit",
    "ivf_retrain_recall_gain",
    "dedup_crosslingual_keep_best",
    "decontaminate_substring",
]

# streaming queries are benched via their shared concurrent drain in the
# existing streaming rows; streaming_windowed_distinct_users rides it


def _reclaim_dead_blocks(spark) -> None:
    """Storage janitor between timed queries (guide §5): a
    ``localCheckpoint`` block whose DataFrame died stays persisted until
    a JVM GC lets ContextCleaner reap its weak reference — and an 8 GiB
    local-mode heap can run a whole bench without one old-gen GC, so a
    176-query pass accumulates gigabytes of dead shingle/pair
    checkpoints that squeeze execution memory (measured: one leaked
    ~26 MB RDD per rep of dedup_minhash_lsh, reclaimed to the single
    live one by a GC pulse). Pulse only when persisted storage tops
    1 GiB; reclamation is reference-driven, so live shared-view caches
    are untouched. Runs OUTSIDE the timed region."""
    sc = spark.sparkContext
    try:
        used = sum(
            r.memSize() + r.diskSize() for r in sc._jsc.sc().getRDDStorageInfo()
        )
    except Exception:  # noqa: BLE001 - janitor must never fail a bench
        return
    if used > (1 << 30):
        # the GC pulse itself is guarded too (ADVICE r10): a py4j
        # failure in System.gc() must not abort the bench either
        try:
            import gc

            gc.collect()
            sc._jvm.System.gc()
        except Exception:  # noqa: BLE001 - janitor must never fail a bench
            return


def timed_passes(
    spark, specs, names, sf_dir, reps: int, compiles: dict[str, list[int]] | None = None
) -> dict[str, list[float]]:
    """Time every query in ``names`` once per pass, ``reps`` passes, and
    return each name's wall times in pass order.

    Rep-major (round 11, VERDICT r10 item #2): the box runs in hour-scale
    performance regimes that moved untouched queries ±30-45% between
    runs, so each query's reps are spread over the whole run instead of
    sampled back to back.

    Each pass starts with no shared views, so the first query in
    ``names`` that reads a view prices its build and later readers price
    only their marginal work over the built view — the amortization the
    driver's one-session gate sees. Each cell runs the janitor, releases
    the tracked persists (NOT a global clearCache, which would evict the
    shared views mid-pass), then times a noop write. A ``compiles`` dict
    gets each name's generated-code compilations per timed cell, in pass
    order (``session.codegen_compilations``)."""
    raw: dict[str, list[float]] = {name: [] for name in names}
    for _ in range(reps):
        release_shared_views(spark)
        for name in names:
            _reclaim_dead_blocks(spark)
            release_plugin_caches()
            c0 = codegen_compilations(spark) if compiles is not None else 0
            t0 = time.time()
            specs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            raw[name].append(time.time() - t0)
            if compiles is not None:
                compiles.setdefault(name, []).append(codegen_compilations(spark) - c0)
    return raw


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    spark = get_spark("bench")
    specs = all_specs()
    names = [n for n in HEADLINE if n in specs]
    # warm the JVM + parquet footers with one cheap pass
    specs[names[0]].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Median-of-3 with per-query spread (VERDICT r08 item #5): a single
    # cold run per round cannot distinguish a 30% host-noise swing from a
    # real regression (BENCH_r08's +30% needed a whole adjudication).
    # Three reps per query; the reported time is the MEDIAN, and the
    # [min, max] spread rides along so any round-over-round delta can be
    # checked against the same-run dispersion before blaming code.
    reps_n = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    raw = timed_passes(spark, specs, names, sf_dir, reps_n)
    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    for name in names:
        reps = sorted(raw[name])
        # lower-middle: odd reps → true median; reps=2 degrades to the
        # pre-round-9 best-of-2 so reduced-rep runs stay comparable
        timings[name] = round(reps[(len(reps) - 1) // 2], 3)
        spread[name] = [round(reps[0], 3), round(reps[-1], 3)]

    # Throughput on the reference's own workloads (BASELINE.md measures
    # records/s for App-1/App-2; its Spark rows are ~800 rec/s on 10 VMs):
    # input rows ÷ end-to-end seconds for the two demo pipelines.
    n_orders = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    n_lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    tp = lambda rows, key: round(rows / max(timings.get(key, 1e-9), 1e-9))
    throughput = {
        "app1_records_per_s": tp(n_docs, "app1_pipeline"),
        "app2_records_per_s": tp(n_orders, "app2_pipeline"),
        "app2_plugin_records_per_s": tp(n_orders, "rainstorm_plugin_app2"),
        "app2_vectorized_records_per_s": tp(n_orders, "rainstorm_vectorized_app2"),
        # BASELINE.md's simple/complex task rows (project vs grouped agg)
        "simple_task_records_per_s": tp(n_orders, "project_columns"),
        "complex_task_records_per_s": tp(n_lineitem, "q1_pricing_summary"),
    }

    # Dispersion summary: per-query relative spread ((max-min)/median),
    # reported as the median and p90 across the headline — the same-run
    # noise bound a round-over-round comparison must exceed to be a
    # regression signal.
    rel = sorted(
        (spread[n][1] - spread[n][0]) / max(timings[n], 1e-9) for n in timings
    )
    dispersion = {
        "rel_spread_median": round(rel[len(rel) // 2], 4),
        "rel_spread_p90": round(rel[int(len(rel) * 0.9)], 4),
        "value_min": round(sum(s[0] for s in spread.values()), 3),
        "value_max": round(sum(s[1] for s in spread.values()), 3),
        "reps": reps_n,
    }

    payload = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "dispersion": dispersion,
        "throughput": throughput,
        "sf": sf,
    }
    # r02 lesson (BENCH_r02.json parsed:null): the driver captures an
    # output TAIL, and the 60-query JSON line got front-truncated —
    # unparseable. Defenses: stop Spark BEFORE printing so no shutdown
    # log ever lands after the line, emit the line LAST with compact
    # separators, and persist a byte-identical copy to BENCH_LOCAL.json
    # so the full record survives in-repo even if the capture clips.
    spark.stop()
    line = json.dumps(payload, separators=(",", ":"))
    Path(__file__).resolve().parent.joinpath("BENCH_LOCAL.json").write_text(line + "\n")
    sys.stdout.flush()
    print(line, flush=True)
    # r03 lesson (BENCH_r03.json parsed:null): even with the defenses
    # above, the full per-query line now exceeds the driver's ~2000-char
    # tail capture. Emit a SECOND, compact summary line last — total,
    # count, throughput, sf only — guaranteed to fit any tail window, so
    # the driver artifact always contains a parseable record (VERDICT r03
    # item #2). The full per-query detail stays in BENCH_LOCAL.json and
    # in the first line when the capture is wide enough.
    summary = {
        "metric": "headline_queries_total",
        "value": payload["value"],
        "unit": "sec",
        "n_queries": len(timings),
        "dispersion": dispersion,
        "throughput": throughput,
        "sf": sf,
    }
    # Round 11 (VERDICT r10 item #1): the driver's tail capture is 2000
    # bytes (measured from BENCH_r10.json), so the full 176-entry
    # per-query map (~5.4 KB) can never reach PERF_r*.json. Give the
    # summary line its own "queries" map holding as many of the SLOWEST
    # queries as the byte budget allows (2-decimal medians, slowest
    # first — the rows a round-over-round perf comparison actually
    # adjudicates). This is an ADDITION: the first line and
    # BENCH_LOCAL.json still carry every query, and "queries_omitted"
    # records how many entries the budget clipped — nothing was removed
    # from the bench itself (see n_queries).
    tail_budget = 1900
    by_cost = sorted(timings.items(), key=lambda kv: (-kv[1], kv[0]))
    qmap: dict[str, float] = {}
    for qn, qt in by_cost:
        qmap[qn] = round(qt, 2)
        summary["queries"] = qmap
        summary["queries_omitted"] = len(timings) - len(qmap)
        if len(json.dumps(summary, separators=(",", ":"))) > tail_budget:
            del qmap[qn]
            break
    summary["queries"] = qmap
    summary["queries_omitted"] = len(timings) - len(qmap)
    print(json.dumps(summary, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
