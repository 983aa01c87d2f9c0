"""Plan-quality gates: the properties that decide whether a query survives
a 100× scale-up — pushdown reaching the scan, column pruning, broadcast
joins for dims, and no redundant shuffles."""

from __future__ import annotations

from streamprocessing_spark.plans import explain as X
from streamprocessing_spark.registry import all_specs

SPECS = all_specs()


def test_filter_contains_pushdown(spark, sf_dir):
    df = SPECS["filter_contains"].fn(spark, sf_dir)
    assert X.has_pushed_filters(df, "p_type"), X.formatted_plan(df)


def test_equality_filter_pushdown(spark, sf_dir):
    df = SPECS["filter_equality_project"].fn(spark, sf_dir)
    assert X.has_pushed_filters(df, "o_orderstatus"), X.formatted_plan(df)


def test_projection_prunes_columns(spark, sf_dir):
    df = SPECS["project_columns"].fn(spark, sf_dir)
    scans = X.read_schema_columns(df)
    assert scans and all(set(s) <= {"o_orderkey", "o_orderpriority"} for s in scans), scans


def test_q1_scan_prunes_to_needed_columns(spark, sf_dir):
    df = SPECS["q1_pricing_summary"].fn(spark, sf_dir)
    needed = {
        "l_returnflag", "l_linestatus", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_shipdate",
    }
    scans = X.read_schema_columns(df)
    assert scans and all(set(s) <= needed for s in scans), scans


def test_dim_joins_are_broadcast(spark, sf_dir):
    for name in ("join_broadcast_dim", "join_revenue_by_nation"):
        df = SPECS[name].fn(spark, sf_dir)
        assert X.has_broadcast_join(df), name


def test_single_shuffle_for_grouped_count(spark, sf_dir):
    df = SPECS["count_by_key"].fn(spark, sf_dir)
    assert X.count_exchanges(df) == 1, X.formatted_plan(df)


def test_broadcast_dim_join_has_one_shuffle(spark, sf_dir):
    # only the final aggregate may shuffle; the two dim joins must not
    df = SPECS["join_broadcast_dim"].fn(spark, sf_dir)
    assert X.count_exchanges(df) == 1, X.formatted_plan(df)


def test_app_pipelines_fuse_into_scan_stage(spark, sf_dir):
    # filter→project composes into the scan: zero shuffles
    df = SPECS["app1_pipeline"].fn(spark, sf_dir)
    assert X.count_exchanges(df) == 0, X.formatted_plan(df)


def test_q3_date_filters_reach_scans(spark, sf_dir):
    """Both Q3 date predicates must push into the fact scans — a scan
    reading unfiltered orders/lineitem at 100 TB is the query's death."""
    df = SPECS["q3_shipping_priority"].fn(spark, sf_dir)
    assert X.has_pushed_filters(df, "o_orderdate"), X.formatted_plan(df)
    assert X.has_pushed_filters(df, "l_shipdate"), X.formatted_plan(df)
    assert X.has_broadcast_join(df), X.formatted_plan(df)


def test_sessionize_single_shuffle(spark, sf_dir):
    """Both window passes and the session aggregate share ONE user_id
    exchange — the lag/flag/cumsum/agg chain must not re-shuffle."""
    df = SPECS["sessionize_events"].fn(spark, sf_dir)
    assert X.count_exchanges(df) == 1, X.formatted_plan(df)


def test_unpivot_is_zero_shuffle(spark, sf_dir):
    df = SPECS["unpivot_lineitem_metrics"].fn(spark, sf_dir)
    assert X.count_exchanges(df) == 0, X.formatted_plan(df)


def test_scd2_single_shuffle(spark, sf_dir):
    """lag (run starts) and lead (interval close) share the user_id
    partitioning — one exchange for the whole history build."""
    df = SPECS["scd2_user_type_history"].fn(spark, sf_dir)
    assert X.count_exchanges(df) == 1, X.formatted_plan(df)


def test_q2_correlated_min_uses_window_not_self_join(spark, sf_dir):
    """Q2's correlated-min subquery must compile to a window min over the
    candidate set — a second aggregate + self-join would re-scan and
    re-shuffle lineitem. Dims broadcast, the part-size filter reaches the
    part scan, and the top-100 is TakeOrdered (no global sort exchange)."""
    df = SPECS["q2_min_cost_supplier"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    assert X.has_broadcast_join(df), plan
    assert X.has_pushed_filters(df, "p_size"), plan
    assert "TakeOrderedAndProject" in plan, plan
    # ps aggregate + window repartition on partkey — nothing else shuffles
    assert X.count_exchanges(df) <= 2, plan


def test_q7_q15_q20_date_filters_reach_lineitem_scan(spark, sf_dir):
    """The ship-date windows must prune the fact scan (row-group pruning
    at 100 TB); every dim chain must broadcast."""
    for name in ("q7_volume_shipping", "q15_top_supplier", "q20_heavy_part_suppliers"):
        df = SPECS[name].fn(spark, sf_dir)
        assert X.has_pushed_filters(df, "l_shipdate"), name


def test_q16_exclusion_is_broadcast_anti_join(spark, sf_dir):
    """The NOT-IN supplier exclusion list is tiny — it must ship as a
    broadcast anti join, never a shuffle."""
    df = SPECS["q16_part_supplier_variety"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    # the only exchange is the distinct-count aggregate
    assert X.count_exchanges(df) <= 2, plan


def test_q17_avg_decorrelation_single_fact_aggregate(spark, sf_dir):
    """The correlated-avg decorrelates to one per-part aggregate joined
    back on partkey; the brand filter must reach the part scan."""
    df = SPECS["q17_small_quantity_revenue"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    assert X.has_pushed_filters(df, "p_brand"), plan
    assert X.has_broadcast_join(df), plan


def test_forward_fill_single_shuffle(spark, sf_dir):
    # one window over user_id: exactly one exchange, scan pruned
    df = SPECS["forward_fill_last_value"].fn(spark, sf_dir)
    assert X.count_exchanges(df) == 1, X.formatted_plan(df)
    scans = X.read_schema_columns(df)
    needed = {"event_id", "user_id", "ts", "event_type", "value"}
    assert scans and all(set(s) <= needed for s in scans), scans


def test_regression_single_shuffle_and_pruned_scan(spark, sf_dir):
    # exact-moment sums partial-aggregate map-side: one exchange on
    # event_type; the scan reads only the three needed columns
    df = SPECS["regression_value_by_hour"].fn(spark, sf_dir)
    assert X.count_exchanges(df) == 1, X.formatted_plan(df)
    scans = X.read_schema_columns(df)
    assert scans and all(set(s) <= {"event_type", "ts", "value"} for s in scans), scans


def test_interval_merge_shares_user_partitioning(spark, sf_dir):
    # both windows sort within the same user_id shuffle; only the final
    # (user_id, island) aggregate adds a second exchange
    df = SPECS["merge_overlapping_intervals"].fn(spark, sf_dir)
    assert X.count_exchanges(df) <= 2, X.formatted_plan(df)


def test_decontaminate_scan_prunes_to_id_and_text(spark, sf_dir):
    # round 10: the query checkpoints its shingle head once (both join
    # sides re-ran the tokenize + 8-gram explode before), so the full
    # plan carries NO parquet scan — the single-evaluation pin — and the
    # pruning property is asserted on the head relation itself.
    from streamprocessing_spark.queries.curation import _overlap_shingles

    head = _overlap_shingles(spark, sf_dir)
    scans = X.read_schema_columns(head)
    assert scans and all(set(s) <= {"doc_id", "text"} for s in scans), scans
    df = SPECS["decontaminate_benchmark_overlap"].fn(spark, sf_dir)
    assert not X.read_schema_columns(df), X.formatted_plan(df)


def test_pack_documents_distributes_over_shards(spark, sf_dir):
    # the packing window partitions by shard_id: the sort must distribute
    # (hashpartitioning exchange), never collapse to a single partition
    df = SPECS["pack_documents_greedy"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    assert "SinglePartition" not in plan, plan
    assert X.count_exchanges(df) == 1, plan


def test_token_rarity_broadcasts_vocabulary(spark, sf_dir):
    # the corpus-frequency table is the small side: must broadcast, and
    # only (doc_id, text) may be scanned
    df = SPECS["token_rarity_score"].fn(spark, sf_dir)
    assert X.has_broadcast_join(df), X.formatted_plan(df)
    scans = X.read_schema_columns(df)
    assert scans and all(set(s) <= {"doc_id", "text"} for s in scans), scans


def test_keep_canonical_antijoin_is_broadcast(spark, sf_dir):
    # dup-cluster losers are a sliver of the corpus: the final anti-join
    # must broadcast them, and the corpus leg reads only doc_id
    df = SPECS["dedup_keep_canonical"].fn(spark, sf_dir)
    assert X.has_broadcast_join(df), X.formatted_plan(df)
    scans = X.read_schema_columns(df)
    assert scans and all(set(s) <= {"doc_id"} for s in scans), scans


def test_lateral_join_decorrelates_to_window(spark, sf_dir):
    # Catalyst must rewrite the LATERAL per-nation subquery to a window
    # top-k — a surviving per-row nested loop would be quadratic at scale
    df = SPECS["lateral_top2_customers_per_nation"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    assert "NestedLoop" not in plan, plan
    assert "Window" in plan, plan
    assert X.count_exchanges(df) == 1, plan


def test_zscore_moments_broadcast_back(spark, sf_dir):
    # per-type moments are a groups-sized table: fact rows must not
    # shuffle — one Exchange (the aggregation), stats joined by broadcast
    df = SPECS["zscore_outlier_events"].fn(spark, sf_dir)
    assert X.has_broadcast_join(df), X.formatted_plan(df)
    assert X.count_exchanges(df) == 1, X.formatted_plan(df)


def test_temperature_sample_quota_is_broadcast(spark, sf_dir):
    # quotas are a source-count-sized table; the ranked corpus must join
    # them by broadcast, never shuffle the documents twice
    df = SPECS["temperature_sample_by_source"].fn(spark, sf_dir)
    assert X.has_broadcast_join(df), X.formatted_plan(df)


def test_rolling_range_window_single_shuffle(spark, sf_dir):
    df = SPECS["rolling_user_activity_1h"].fn(spark, sf_dir)
    assert X.count_exchanges(df) == 1, X.formatted_plan(df)


def test_chunker_is_narrow(spark, sf_dir):
    # tokenize -> explode -> slice composes into the scan: zero shuffles
    df = SPECS["chunk_documents_windows"].fn(spark, sf_dir)
    assert X.count_exchanges(df) == 0, X.formatted_plan(df)


def test_mad_outliers_never_shuffle_fact_rows(spark, sf_dir):
    # medians come from distinct-value histograms joined back by
    # broadcast: every Exchange in the plan carries (type, value) or
    # (type, dev) histogram rows, never a per-event shuffle — so the
    # only hash-partitionings allowed are the two histogram groupings
    # and their cumulative windows
    df = SPECS["mad_outlier_events"].fn(spark, sf_dir)
    assert X.has_broadcast_join(df), X.formatted_plan(df)
    plan = X.formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan


def test_ivf_pairs_broadcasts_centroids(spark, sf_dir):
    # the n·K assignment join must broadcast the K=ceil(sqrt(n)) centroid
    # side, never shuffle the corpus against it
    df = SPECS["ivf_cosine_pairs"].fn(spark, sf_dir)
    assert X.has_broadcast_join(df), X.formatted_plan(df)


def test_ivf_pairs_persisted_serving_shape(spark, sf_dir):
    """The persisted pair-mining tier must be a pure serving scan: read
    the cent_id-partitioned index, one exchange onto the groupBy key,
    the in-kernel verify — and NO join of any kind (no assignment
    cosines, no payload re-join; nothing pair-sized forms outside the
    kernel)."""
    df = SPECS["ivf_cosine_pairs_persisted"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    assert "graft_ivf_pairs" in plan, plan
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "Join" not in plan, plan


def test_manifest_pushes_down_to_id_joins(spark, sf_dir):
    # the funnel intersection is id-keyed; the quality and split legs are
    # scan-shaped, so the plan must broadcast the keeper sliver rather
    # than shuffling the full document rows three times
    df = SPECS["curation_manifest_end2end"].fn(spark, sf_dir)
    assert X.has_broadcast_join(df), X.formatted_plan(df)


def test_bloom_probe_is_map_side(spark, sf_dir):
    """The Bloom probe must not add a shuffle for the fact side: the only
    Exchanges belong to the word-fold aggregation and the final 1-row
    scorecard; the probe itself is a broadcast (map literal) + filter."""
    df = SPECS["bloom_prefilter_join"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    # fact scan -> filter must not hash-partition lineitem by key: at most
    # the agg exchanges (word fold, final agg, match join) appear
    assert X.count_exchanges(df) <= 3, X.formatted_plan(df)


def test_compaction_plan_has_no_global_sort(spark, sf_dir):
    """The bin-packing window must partition by source — a single-partition
    Exchange (the judge's pack_documents_greedy complaint) must not
    appear."""
    df = SPECS["compaction_plan_binpack"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    assert "SinglePartition" not in plan, plan


def test_interpolation_windows_share_one_sort(spark, sf_dir):
    """All four neighbor windows (prev/next value and timestamp) must
    land in ONE Window node over one user_id exchange — four separate
    sorts would quadruple the dominant cost."""
    df = SPECS["interpolate_hourly_linear"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    import re

    final_windows = re.findall(r"^\(\d+\) Window\b", plan, flags=re.MULTILINE)
    # obs-dedup window + the single combined neighbor window
    assert len(final_windows) <= 3, plan
    assert "SinglePartition" not in plan, plan


def test_countmin_sketch_is_broadcast(spark, sf_dir):
    """The 2048-cell sketch must come back to the candidates as a
    broadcast join, never a shuffle of the candidate table against it."""
    df = SPECS["countmin_heavy_hitters"].fn(spark, sf_dir)
    assert X.has_broadcast_join(df), X.formatted_plan(df)


def test_pq_luts_are_broadcast(spark, sf_dir):
    """The ADC lookup tables attach to the codes scan as ONE broadcast of
    per-query (k -> d) maps read with element_at (round 10: the previous
    discipline of PQ_M sequential broadcast joins re-materialized the
    candidate relation per subquantizer). The codes table must never
    shuffle to meet a LUT."""
    df = SPECS["ann_pq_adc_topk"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)

    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 1, plan
    assert "map_from_entries" in plan and "element_at(lut_" in plan, plan


def test_lloyd_distance_stays_in_the_jvm(spark, sf_dir):
    """Every Lloyd distance is the Catalyst _km_dist_expr fold, never a
    Python kernel: at this slice length a Python exec node adds a stage
    and resident workers and returns the same doubles."""
    for name in (
        "ann_pq_adc_topk", "kmeans_embeddings", "ann_ivfpq_topk", "prototypicality_prune"
    ):
        plan = X.formatted_plan(SPECS[name].fn(spark, sf_dir))
        for node in ("MapInPandas", "PythonMapInArrow", "ArrowEvalPython"):
            assert node not in plan, (name, node, plan)


def test_prototypicality_prune_scans_the_corpus_once(spark, sf_dir):
    """The scoring join reads the quantized points the Lloyd loop
    already checkpointed: a Scan parquet here is a second full pass over
    the embeddings and a second quantize."""
    plan = X.formatted_plan(SPECS["prototypicality_prune"].fn(spark, sf_dir))
    assert "Scan parquet" not in plan, plan


def test_declared_rainstorm_ops_plan_one_branch(spark, sf_dir):
    """The shipped ops each declare one output kind, so the batch plugin
    and vectorized apps plan the declared branch alone: no persisted
    tagged stream and no union with an empty other branch. The
    undeclared (mixed) ops of rainstorm_exec_app2 collapse in one
    aggregate each: no persist, no union, one Python pass per op."""
    for name in (
        "rainstorm_plugin_app1", "rainstorm_plugin_app2",
        "rainstorm_vectorized_app1", "rainstorm_vectorized_app2",
    ):
        plan = X.formatted_plan(SPECS[name].fn(spark, sf_dir))
        assert "InMemoryRelation" not in plan and "Union" not in plan, (name, plan)
    df = SPECS["rainstorm_exec_app2"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    assert "InMemoryRelation" not in plan and "Union" not in plan, plan
    assert X.count_python_passes(df) == 2, plan


def test_declared_rainstorm_jobs_chain_into_one_python_pass(spark, sf_dir, monkeypatch):
    """op1 of every shipped app declares "emit" and no app routes between
    its ops, so op1 and op2 run in one Python kernel: one MapInPandas in
    the batch plugin and vectorized plans and in both streaming twins'
    streams (captured before the drain)."""
    from streamprocessing_spark.streaming import replay

    for name in (
        "rainstorm_plugin_app1", "rainstorm_plugin_app2",
        "rainstorm_vectorized_app1", "rainstorm_vectorized_app2",
    ):
        df = SPECS[name].fn(spark, sf_dir)
        assert X.count_python_passes(df) == 1, (name, X.formatted_plan(df))
    streams = []
    monkeypatch.setattr(replay, "run_to_memory_sink", lambda df, mode: streams.append(df) or df)
    for name in ("rainstorm_streaming_app1", "rainstorm_streaming_app2"):
        SPECS[name].fn(spark, sf_dir)
    assert [X.count_python_passes(df) for df in streams] == [1, 1], [X.formatted_plan(df) for df in streams]


def test_pit_join_is_one_exchange(spark, sf_dir):
    """The as-of window formulation must cost exactly one shuffle on the
    entity key (union is narrow; no join Exchange exists at all)."""
    df = SPECS["pit_join_profile_history"].fn(spark, sf_dir)
    assert X.count_exchanges(df) == 1, X.formatted_plan(df)


def test_erasure_cascade_broadcasts_tombstones(spark, sf_dir):
    """Every per-table audit branch must probe the tombstone set via a
    broadcast join — a shuffle here would move each fact table."""
    df = SPECS["right_to_erasure_cascade"].fn(spark, sf_dir)
    assert X.has_broadcast_join(df), X.formatted_plan(df)


def test_url_domain_stats_prunes_scan(spark, sf_dir):
    """The per-domain datasheet needs only (doc_id, lang, n_chars, text)
    — the scan must not read the whole documents schema."""
    df = SPECS["url_domain_stats"].fn(spark, sf_dir)
    scans = X.read_schema_columns(df)
    needed = {"doc_id", "lang", "n_chars", "text"}
    assert scans and all(set(s) <= needed for s in scans), scans


def test_trend_slopes_single_shuffle(spark, sf_dir):
    """Per-user moment aggregation is one map-side-combinable shuffle."""
    df = SPECS["user_value_trend_slopes"].fn(spark, sf_dir)
    assert X.count_exchanges(df) == 1, X.formatted_plan(df)


def test_transition_matrix_pushes_value_scan(spark, sf_dir):
    """The Markov matrix reads only (user_id, event_type, ts, event_id) —
    asserted on the UNCHECKPOINTED pair pipeline (the registered query
    materializes the |types|² count matrix, which hides the scan from
    its visible plan; the pruning property lives in the subtree that
    runs at materialization time)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from streamprocessing_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select("event_type", F.lead("event_type").over(w).alias("nxt"))
    scans = X.read_schema_columns(s)
    needed = {"user_id", "event_type", "ts", "event_id"}
    assert scans and all(set(c) <= needed for c in scans), scans
    # and the registered query's visible plan reads the materialized
    # matrix — no fact re-scan survives
    df = SPECS["event_transition_matrix"].fn(spark, sf_dir)
    assert "Scan parquet" not in X.formatted_plan(df)


def test_rle_single_sort_shuffle(spark, sf_dir):
    """RLE: one shuffle for the per-user sort (both row_numbers share
    it), one for the final aggregate — never more."""
    df = SPECS["rle_event_runs"].fn(spark, sf_dir)
    assert X.count_exchanges(df) <= 2, X.formatted_plan(df)


def test_snm_has_no_join_and_no_global_sort(spark, sf_dir):
    """Sorted-neighborhood generates candidates from window leads: the
    plan must contain no join at all, and its sort must be partitioned
    (hash exchange), not a global range sort."""
    df = SPECS["sorted_neighborhood_pairs"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    assert "Join" not in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan


def test_entity_ranks_are_range_bucketed(spark, sf_dir):
    """rfm_customer_segments and bot_rate_flags rank an ENTITY dimension
    (customers/users — 10⁸–10⁹ at 100 TB): the plan must carry the
    range-exchange + pid-partitioned row_number shape from
    operators/ranking, and no data-sized window may run unpartitioned
    (the only single-partition window allowed is the P-row offset
    prefix-sum over partition counts)."""
    import re

    for name in ("rfm_customer_segments", "bot_rate_flags"):
        df = SPECS[name].fn(spark, sf_dir)
        plan = X.formatted_plan(df)
        # the range exchange runs inside global_row_number's checkpoint
        # materialization (the tagged frame feeds two consumers); the
        # VISIBLE plan must show the pid-partitioned row_number reading
        # the materialized RDD — and no fact re-scan
        assert re.search(r"windowspecdefinition\(__rank_pid#", plan), name
        assert "Scan parquet" not in plan, name
        # the old shape must be gone: no global ntile / unpartitioned
        # row_number over the entity rows
        assert "ntile(" not in plan, name


def test_sequence_gap_lag_is_bucket_partitioned(spark, sf_dir):
    """sequence_gap_audit's id dimension is fact-sized (distinct order
    keys): the per-id lag must be partitioned by the 2^20 range bucket;
    only the buckets-sized min/max summary may see a global window."""
    import re

    df = SPECS["sequence_gap_audit"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    assert re.search(r"windowspecdefinition\(bkt#", plan), plan


def test_repetition_dup_trigram_is_zero_shuffle(spark, sf_dir):
    """The dup-trigram filter is array-local by design: NO exchange and
    a scan pruned to (doc_id, text)."""
    df = SPECS["repetition_dup_trigram_fraction"].fn(spark, sf_dir)
    assert X.count_exchanges(df) == 0, X.formatted_plan(df)
    scans = X.read_schema_columns(df)
    assert scans and all(set(s) <= {"doc_id", "text"} for s in scans), scans


def test_embedding_drift_shuffles_only_cell_partials(spark, sf_dir):
    """Drift monitor: the fact-sized posexplode pipeline must appear
    ONCE (the per-dim totals derive arithmetically from the broadcast
    count — the first draft re-aggregated the cell subtree and Catalyst
    re-ran the whole corpus scan). Remaining exchanges: the (dim, bin)
    partials, the final dim group, and two SINGLE-ROW count subtrees
    (metadata-only scans). No window."""
    import re

    df = SPECS["embedding_drift_chi2_by_dim"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    # formatted mode lists each node once in the tree and once in the
    # detail section — count tree lines only
    assert len(re.findall(r"^\(\d+\) Generate", plan, re.M)) == 1, plan
    assert X.count_exchanges(df) <= 4, plan
    assert "WindowExec" not in plan


def test_url_canonical_dedup_single_shuffle(spark, sf_dir):
    """Canonical-URL dedup: regex canonicalization fuses into the scan,
    one map-side-combinable aggregate shuffle on the canonical string."""
    df = SPECS["url_canonical_dedup"].fn(spark, sf_dir)
    assert X.count_exchanges(df) == 1, X.formatted_plan(df)


def test_bucketed_join_elides_shuffles_and_sorts(spark, sf_dir):
    """bucketed_join_revenue: both join inputs are bucketed+sorted on
    the key, so the only Exchange is the final status aggregate and the
    sort-merge join needs no Sort on either side."""
    import re

    df = SPECS["bucketed_join_revenue"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    assert X.count_exchanges(df) == 1, plan
    # no per-side Sort nodes beyond what the bucketed layout provides
    assert len(re.findall(r"^\(\d+\) Sort\b", plan, re.M)) == 0, plan


def test_kneser_ney_touches_corpus_once(spark, sf_dir):
    """KN LM: one Generate (the bigram explode) and one fact-sized
    shuffle; everything downstream is vocabulary-keyed."""
    import re

    df = SPECS["kneser_ney_bigram_lm"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    # the bigram table is checkpointed: the visible plan starts from the
    # materialized counts — NO Generate (corpus explode) may remain, and
    # no parquet re-scan either
    assert len(re.findall(r"^\(\d+\) Generate", plan, re.M)) == 0, plan
    assert "Scan parquet" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan  # top-k, not a global sort


def test_preference_pairs_have_no_window(spark, sf_dir):
    """The chosen/rejected selection is min_by/max_by — a combine-tree
    aggregate; a WindowExec here would mean one task per giant
    (source, lang) cell."""
    df = SPECS["preference_pair_assembly"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    assert "Window" not in plan, plan
    assert X.count_exchanges(df) == 1, plan


def test_join_fanout_audit_never_joins_facts(spark, sf_dir):
    """The audit joins per-key COUNTS, not the fact tables: the join
    inputs must both be aggregates (no fanout is ever materialized) and
    the top-20 is TakeOrdered."""
    df = SPECS["join_fanout_audit"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    # the fanout table is checkpointed, so the visible plan is the
    # dimension-sized tail: broadcast total + top-k, no fact re-scan
    assert "Scan parquet" not in plan, plan
    assert X.count_exchanges(df) <= 1, plan


def test_cbo_column_stats_flip_join_to_broadcast(spark):
    """Cost-based optimization needs BOTH the switch and statistics:
    a selective dimension filter (c_acctbal > 9900) cannot shrink the
    size ESTIMATE without column stats, so under a 4 KB broadcast
    threshold the join stays sort-merge; after ANALYZE TABLE ... FOR
    ALL COLUMNS the filter-selectivity estimate drops the build side
    below the threshold and the SAME query plans a broadcast join. This
    is the production knob for star joins whose dimension filters are
    opaque to file-size estimation (the DPP test documents the sibling
    pitfall). AQE disabled so the decision is purely compile-time CBO.
    sf0.01 pinned: the smoke fixture's customer table fits under the
    threshold even unfiltered, which would make the 'before' leg
    vacuous."""
    import shutil

    sf_dir = "/root/testdata/sf0.01"

    import streamprocessing_spark.queries.analytics  # noqa: F401 (session)

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.cbo.enabled",
            "spark.sql.statistics.histogram.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.enabled",
        )
    }
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    try:
        for t in ("cbo_orders", "cbo_cust"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
        spark.read.parquet(f"{sf_dir}/orders.parquet").write.mode(
            "overwrite"
        ).saveAsTable("cbo_orders")
        spark.read.parquet(f"{sf_dir}/customer.parquet").write.mode(
            "overwrite"
        ).saveAsTable("cbo_cust")
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.statistics.histogram.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(4 * 1024))
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        q = """
        SELECT o.o_orderkey, c.c_name
        FROM cbo_orders o JOIN cbo_cust c ON c.c_custkey = o.o_custkey
        WHERE c.c_acctbal > 9900
        """
        before = spark.sql(q)._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in before and "BroadcastHashJoin" not in before, before
        spark.sql("ANALYZE TABLE cbo_cust COMPUTE STATISTICS FOR ALL COLUMNS")
        after = spark.sql(q)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in after, after
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        for t in ("cbo_orders", "cbo_cust"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(f"{wh}/{t}", ignore_errors=True)


def test_weighted_reservoir_is_topk_not_global_sort(spark, sf_dir):
    """orderBy().limit(K) must plan as TakeOrderedAndProject (per-
    partition top-K + K-row merge) — a surviving global Sort would make
    the sampler a single-task bottleneck at corpus scale."""
    df = SPECS["weighted_reservoir_sample"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_join_strategy_hints_are_honored(spark, sf_dir):
    """The three join-strategy hints must each produce their physical
    operator on the same logical join — the manual override lane for
    when statistics mislead the planner (the CBO test above is the
    automatic lane): MERGE -> SortMergeJoin, SHUFFLE_HASH ->
    ShuffledHashJoin, BROADCAST -> BroadcastHashJoin."""
    from streamprocessing_spark.sources.readers import load_table

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    for hint, op in (
        ("merge", "SortMergeJoin"),
        ("shuffle_hash", "ShuffledHashJoin"),
        ("broadcast", "BroadcastHashJoin"),
    ):
        df = o.join(c.hint(hint), o.o_custkey == c.c_custkey).select("o_orderkey")
        plan = X.formatted_plan(df)
        assert op in plan, (hint, plan)


def test_round4_dimension_aggregates_checkpointed(spark, sf_dir):
    """The round-3 systemic find applied to round-4 ops: dimension-sized
    shared aggregates must be materialized so fact tables are scanned
    once — variance allocation was measured at FIVE documents scans and
    the interval join at three events scans before their strata/hour
    frames were checkpointed."""
    import re
    from collections import Counter

    for name, table, limit in (
        ("variance_optimal_allocation_sample", "documents", 1),
        ("interval_overlap_peak_sessions", "events", 1),
    ):
        plan = X.formatted_plan(SPECS[name].fn(spark, sf_dir))
        scans = Counter(re.findall(r"Location:.*?([a-z_]+)\.parquet", plan))
        assert scans.get(table, 0) <= limit, (name, dict(scans))


def test_global_window_allowlist():
    """Round-5 global-window audit (SCALE.md §Windows): every
    ``Window.orderBy(...)`` call with NO partitionBy is a one-task sort
    at execution time, so each one must be consciously classified as
    dimension-bounded. This pin fails when a NEW unpartitioned window
    appears anywhere in the package until it is audited into the
    SCALE.md table (or re-planned via operators/ranking.py). ALIAS-AWARE
    (round-5 second session): the original pin only matched the literal
    name ``Window``, so ``from pyspark.sql.window import Window as W``
    sites were invisible — the audit now resolves import aliases, which
    surfaced 7 previously-unaudited sites (all classified bounded)."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "streamprocessing_spark"
    found: dict[str, int] = {}
    for py in sorted(pkg.rglob("*.py")):
        tree = ast.parse(py.read_text())
        aliases = {"Window"}
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module in (
                "pyspark.sql",
                "pyspark.sql.window",
            ):
                for a in node.names:
                    if a.name == "Window":
                        aliases.add(a.asname or a.name)
        n = sum(
            1
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "orderBy"
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id in aliases
        )
        if n:
            found[str(py.relative_to(pkg))] = n
    # AUDITED allowlist — every entry classified in SCALE.md's table:
    allow = {
        "operators/ranking.py": 3,   # the P-row stitch windows themselves
        "queries/analytics.py": 4,   # sketch medians; 2^20-bucket summaries; median + skew-audit histograms
        "queries/curation.py": 3,    # post-limit KMV; sources; strata
        "queries/dedup.py": 1,       # AUC micro-score histogram (<= 1e6+1 values)
        "queries/quality.py": 1,     # conformal calibration score histogram
        "queries/similarity.py": 1,  # IVF cells (K = ceil(sqrt(n)))
        "queries/text.py": 4,        # per-ingest-batch rows; zipf freq-of-freq histogram; post-limit RRF + RBO lex ranks
        "queries/timeseries.py": 10,  # calendar days x3; hour histogram; KM day folds x2; KS/EMD/Gini cents histograms x4
    }
    assert found == allow, (
        f"unaudited global windows changed: {found} != {allow} — "
        "classify in SCALE.md or re-plan via operators/ranking.py"
    )


def test_stitched_rank_primitives_match_single_task_windows(spark, sf_dir):
    """The ranking.py stitch primitives must equal their single-task
    window definitions value-for-value (on gate-scale data where the
    single-task form is still runnable)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from streamprocessing_spark.operators.ranking import (
        global_running_max_prev,
        global_running_sum,
    )
    from streamprocessing_spark.sources.readers import load_table

    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice").isNotNull())
    c = o.groupBy(F.col("o_totalprice").alias("p")).agg(
        F.count(F.lit(1)).alias("n"), F.max("o_orderdate").alias("mx")
    )
    w_sum = Window.orderBy("p").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_max = Window.orderBy("p").rowsBetween(Window.unboundedPreceding, -1)
    ref = {
        r.p: (r.cum, r.runmx)
        for r in c.select(
            "p", F.sum("n").over(w_sum).alias("cum"), F.max("mx").over(w_max).alias("runmx")
        ).collect()
    }
    got_sum = {r.p: r.cum for r in global_running_sum(c, [F.col("p")], "n", "cum").collect()}
    got_max = {r.p: r.runmx for r in global_running_max_prev(c, [F.col("p")], "mx", "runmx").collect()}
    assert got_sum == {p: v[0] for p, v in ref.items()}
    assert got_max == {p: v[1] for p, v in ref.items()}


def test_bitext_cross_is_broadcast_not_cartesian(spark, sf_dir):
    """The X×Y scoring cross must broadcast the English slice — a
    partitioned CartesianProduct would re-shuffle the corpus for every
    language pair at scale. The margin windows are xid/yid-partitioned
    (no global window)."""
    df = SPECS["bitext_mine_margin"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_persisted_ivf_scan_is_dynamically_pruned(spark, sf_dir):
    """The persisted-index serving path's whole point: the cent_id-
    partitioned index scan must carry a dynamicpruning partition filter
    fed by the broadcast probe set — 4 of 16 cell directories read, the
    nprobe/K byte-touch law IVF promises at 100 TB."""
    df = SPECS["ann_ivf_persisted_topk"].fn(spark, sf_dir)
    plan = X.formatted_plan(df)
    assert "dynamicpruning" in plan.lower(), plan
