"""Physical-plan regression tests — the 100 TB story, pinned.

Correctness tests prove the small-SF answer; these prove the PLAN is
the one that survives a 1000-executor cluster: dimension joins
broadcast instead of shuffling the fact table, filters and projections
reach the parquet scan, aggregates combine map-side before the
shuffle, and the routing hot path is a single narrow codegen span
(the reference's entire pipeline is shuffle-free — SURVEY.md §3.2).
A regression that flips any of these still returns correct rows at
sf0.001 and only explodes at scale; this file is where it fails CI.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from kafka_go_streamer_spark.plans import QUERIES
from kafka_go_streamer_spark.sources.tables import load_table


def physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_dim_joins_broadcast_not_shuffle(spark, sf_dir):
    """The star join must broadcast every dimension table: zero
    SortMergeJoin, so the only exchange left is the aggregation's."""
    plan = physical_plan(QUERIES["join_revenue_by_nation"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_broadcast_enrichment_no_fact_shuffle(spark, sf_dir):
    """Broadcast enrichment must not repartition the event stream: the
    only allowed exchanges are the broadcast itself and the final
    aggregation — no hash-partitioning of the fact side pre-join."""
    plan = physical_plan(QUERIES["join_enrich_events_broadcast"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_routing_plan_is_narrow(spark, sf_dir):
    """The reference's hot path has no shuffle (SURVEY.md §3.2); ours
    must compile to scan -> project/case-when -> filter with zero
    Exchange nodes and a single whole-stage-codegen span."""
    plan = physical_plan(QUERIES["route_documents"](spark, sf_dir))
    assert "Exchange" not in plan
    assert set(re.findall(r"\*\((\d+)\)", plan)) == {"1"}  # one codegen span


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """A selective predicate on a scanned column must appear in the
    parquet scan's PushedFilters, not only in a post-scan Filter."""
    li = load_table(spark, sf_dir, "lineitem")
    df = li.filter(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    plan = physical_plan(df)
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_quantity" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    """A 2-column projection must scan 2 columns: ReadSchema carries
    only what the query needs (lineitem has 16 columns)."""
    li = load_table(spark, sf_dir, "lineitem")
    df = li.select("l_orderkey", "l_quantity")
    plan = physical_plan(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_extendedprice" not in read_schema


def test_aggregation_has_map_side_partial(spark, sf_dir):
    """groupBy().agg() must plan partial + final HashAggregate so the
    shuffle moves pre-combined state, not raw rows."""
    plan = physical_plan(QUERIES["agg_pricing_summary"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan


def test_topk_uses_take_ordered_not_global_sort(spark, sf_dir):
    """ORDER BY + LIMIT must compile to TakeOrderedAndProject (per-
    partition heap + merge of k), never a full global sort."""
    plan = physical_plan(QUERIES["sort_global_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_semi_anti_joins_do_not_materialize_right(spark, sf_dir):
    """EXISTS / NOT EXISTS compile to semi/anti joins, not inner join
    plus distinct."""
    semi = physical_plan(QUERIES["join_semi_customers_with_orders"](spark, sf_dir))
    anti = physical_plan(QUERIES["join_anti_customers_without_orders"](spark, sf_dir))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_minhash_never_plans_cartesian(spark, sf_dir):
    """The LSH candidate join must be an equi-join on the band key —
    a cartesian/broadcast-nested-loop here is the O(n^2) bug the whole
    design exists to avoid."""
    plan = physical_plan(QUERIES["dedup_minhash_lsh"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_window_partitions_by_group_key(spark, sf_dir):
    """Per-group top-k must hash-partition on the group key (parallel
    per-group windows), never collapse to a single unpartitioned
    window."""
    plan = physical_plan(QUERIES["window_topk_parts_per_brand"](spark, sf_dir))
    assert "hashpartitioning(p_brand" in plan


@pytest.mark.parametrize(
    "name",
    [
        "route_documents",
        "filter_regex",
        "json_extraction",
    ],
)
def test_narrow_queries_have_no_exchange(spark, sf_dir, name):
    """Row-local queries (routing, filtering, extraction) must stay
    narrow end to end: zero shuffles at any scale."""
    plan = physical_plan(QUERIES[name](spark, sf_dir))
    assert "Exchange" not in plan


def test_text_quality_single_cpu_fan_only(spark, sf_dir):
    """text_quality is row-local EXCEPT for the deliberate cpu_fan
    (r17): the fixture scan is one row group, so the per-byte scoring
    ran serial without it. Exactly ONE round-robin exchange, nothing
    keyed, and still zero Python eval."""
    plan = physical_plan(QUERIES["text_quality"](spark, sf_dir))
    # at sf0.001 cpu_fan's width is 1 and the repartition optimizes
    # away entirely; at bench scale it is exactly one round-robin
    assert plan.count("Exchange RoundRobinPartitioning") <= 1
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tpch_q5_single_fact_shuffle(spark, sf_dir):
    """Q5's 6-way star join: every dimension broadcasts, so the only
    hash-partitioned exchange in the plan is the final aggregation's —
    the fact table is never repartitioned for a join."""
    plan = physical_plan(QUERIES["tpch_q5_local_supplier_volume"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q18_semi_join_and_topk(spark, sf_dir):
    """Q18: the HAVING-subquery must plan as LEFT SEMI (no duplication
    of fact rows) and the top-10 as TakeOrderedAndProject (per-partition
    heaps, no global sort)."""
    plan = physical_plan(QUERIES["tpch_q18_large_volume_customers"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0]


def test_tpch_q21_semi_anti_no_nested_loop(spark, sf_dir):
    """Q21's EXISTS/NOT-EXISTS self-joins must stay equi-joins on the
    order key (semi + anti) — the suppkey inequality rides inside the
    join condition and must NOT degrade the plan to a nested loop."""
    plan = physical_plan(QUERIES["tpch_q21_suppliers_kept_waiting"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tpch_q19_disjunction_stays_equi_join(spark, sf_dir):
    """Q19's three-arm disjunctive predicate shares the partkey equi-key;
    Catalyst must extract it and keep a hash join (the historical Q19
    trap is a cartesian product with a post-filter)."""
    plan = physical_plan(QUERIES["tpch_q19_disjunctive_revenue"](spark, sf_dir))
    assert (
        "BroadcastHashJoin" in plan
        or "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_grouping_sets_single_expand_single_shuffle(spark, sf_dir):
    """GROUPING SETS must plan as one Expand + one hash aggregate pair —
    NOT one scan per grouping set."""
    plan = physical_plan(QUERIES["agg_grouping_sets"](spark, sf_dir))
    assert plan.count("Expand") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_winnowing_pairs_join_on_fingerprint_key(spark, sf_dir):
    """Candidate generation must be an equi-join on the fingerprint —
    never an all-pairs comparison."""
    plan = physical_plan(QUERIES["dedup_winnowing_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_training_prep_filters_before_single_shuffle(spark, sf_dir):
    """The composed prep pipeline must gate (quality/lang predicates)
    MAP-SIDE and shuffle exactly once (the dedup window on the
    fingerprint): shuffle volume is the survivor set, not the corpus.
    WindowGroupLimit Partial must also appear below the exchange —
    per-partition top-1 pre-aggregation before any data moves."""
    plan = physical_plan(QUERIES["pipeline_training_prep"](spark, sf_dir))
    assert plan.count("Exchange") == 1
    ex = plan.index("Exchange")
    below = plan[ex:]
    assert "Filter" in below  # the quality/lang gates, below the shuffle
    assert "WindowGroupLimit" in below  # partial top-1 before the shuffle
    assert "Partial" in below


def test_unigram_lm_joins_broadcast(spark, sf_dir):
    """The unigram-LM score joins every token against the frequency
    table: vocab is corpus-bounded and must BROADCAST (with the total
    riding as a broadcast scalar) — the corpus token stream is never
    hash-repartitioned for the join."""
    plan = physical_plan(QUERIES["text_unigram_logprob"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_decontamination_broadcasts_benchmark(spark, sf_dir):
    """Decontamination must broadcast the benchmark shingle set; the
    corpus side stays un-shuffled until the (rare) hit rows aggregate."""
    plan = physical_plan(QUERIES["text_decontaminate"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_kmeans_lloyd_broadcasts_centroids(spark, sf_dir):
    """Every Lloyd distance join must broadcast the k x dims centroid
    table — the exploded corpus never repartitions for assignment."""
    plan = physical_plan(QUERIES["kmeans_lloyd_refine"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_lsh_pairs_two_shuffles_no_join(spark, sf_dir):
    """sim_lsh_bucket_pairs must be the 2-shuffle group-by shape: band
    bucket + pair dedup, with NO join operator anywhere (the r2 shape
    was self-join + distinct + two embedding joins) and the signature
    projection evaluated once."""
    plan = physical_plan(QUERIES["sim_lsh_bucket_pairs"](spark, sf_dir))
    # no cartesian, no SMJ/SHJ/BHJ on the pair path; the only join
    # allowed is the 1-row count broadcast (a BNLJ over a single row)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" not in plan
    exchanges = plan.count("Exchange hashpartitioning")
    assert exchanges <= 2, f"expected <=2 hash exchanges, got {exchanges}"


def test_trained_ivf_probe_plan(spark, sf_dir):
    """ann_ivf_search_trained: top-5 must compile to
    TakeOrderedAndProject, centroids must broadcast into the distance
    join, and no cartesian product may appear."""
    plan = physical_plan(QUERIES["ann_ivf_search_trained"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_simhash64_pairs_no_cartesian_and_capped(spark, sf_dir):
    """The 64-bit pair path keeps the discipline: equi-join on
    (band, key) only, frequency-cap window present."""
    plan = physical_plan(QUERIES["dedup_simhash64_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "windowspecdefinition" in plan or "Window" in plan


def test_neardup_sqrt_cells_broadcast(spark, sf_dir):
    """sim_neardup_ivf_cells: the cell assignment (whose sqrt(n)
    centroid set broadcasts at pin time) is materialized ONCE and the
    final plan self-joins the pinned frame — zero parquet re-scans,
    and pairing remains an equi-join on the cell id (no cartesian)."""
    plan = physical_plan(QUERIES["sim_neardup_ivf_cells"](spark, sf_dir))
    assert "Scan ExistingRDD" in plan
    assert plan.count("Scan parquet") == 0
    assert "CartesianProduct" not in plan


def test_ngram_topk_take_ordered_no_self_join(spark, sf_dir):
    """Trigram generation is positional inside the row (no self-join of
    adjacent tokens) and the top-20 is a per-partition heap, not a
    global sort."""
    plan = physical_plan(QUERIES["text_ngram_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan


def test_tfidf_df_table_joins_broadcast(spark, sf_dir):
    """The document-frequency table is vocabulary-sized and must
    broadcast back into the scoring join — shuffling the (doc, term)
    table against it would re-exchange the corpus."""
    plan = physical_plan(QUERIES["text_tfidf_topterms"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_unpivot_is_in_row_expand(spark, sf_dir):
    """Unpivot compiles to an Expand over the aggregate — one exchange
    total (the groupBy's), no join, no second scan."""
    df = QUERIES["agg_unpivot_metrics"](spark, sf_dir)
    plan = physical_plan(df)
    assert "Expand" in plan
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # partial->final agg only


def test_q16_not_in_compiles_to_broadcast_anti(spark, sf_dir):
    """The complaint-supplier NOT IN must be a broadcast anti join —
    never a shuffled join, never a NestedLoop."""
    plan = physical_plan(QUERIES["tpch_q16_supplier_relationship"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q2_decorrelates_to_window_min(spark, sf_dir):
    """The correlated min-cost subquery must decorrelate into a window
    over the region-filtered supply — one supply aggregation, one
    window, NOT a second aggregate joined back."""
    plan = physical_plan(QUERIES["tpch_q2_min_cost_supplier"](spark, sf_dir))
    assert "Window" in plan
    assert "SortMergeJoin" not in plan


def test_pack_sequences_single_group_shuffle(spark, sf_dir):
    """The packer shuffles ONCE on the group key into the Arrow fold;
    token counting happens before the exchange (mapInPandas sees only
    id+count columns, never text)."""
    df = QUERIES["pack_sequences_greedy"](spark, sf_dir)
    plan = physical_plan(df)
    # group-batched fold: ONE hash exchange on (source, shard), then
    # MapInPandas dispatches every group of a partition in one Arrow
    # pass (fold_packed — not per-group FlatMapGroupsInPandas)
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(source" in plan
    # the text column must be pruned before the exchange
    assert "text" not in re.search(r"Exchange [^\n]*", plan).group(0)


def test_funnel_no_self_join_single_agg_path(spark, sf_dir):
    """The ordered funnel must be conditional aggregation — never the
    3-way self-join of the naive formulation."""
    plan = physical_plan(QUERIES["events_funnel_conversion"](spark, sf_dir))
    assert "Join" not in plan
    assert "Expand" in plan or "Generate" in plan  # in-row 3-stage output


def test_transition_matrix_one_window_no_join(spark, sf_dir):
    """Event bigrams come from lead() over one user-keyed window — the
    shuffle-minimal form — not a self-join of events to successors."""
    plan = physical_plan(QUERIES["events_transition_matrix"](spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Window") >= 1


def test_profile_stats_single_scan(spark, sf_dir):
    """All columns profile in ONE scan: a single aggregate + in-row
    Expand/Generate, not the oracle's scan-per-column UNION ALL."""
    plan = physical_plan(QUERIES["profile_table_stats"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "Union" not in plan


def test_lsh_pairs_cap_shares_bucket_exchange(spark, sf_dir):
    """The frequency cap's window count must ride the SAME (band, key)
    exchange as the bucket group-by: at most two hash exchanges in the
    whole plan (the bucket shuffle and the final cross-band pair
    dedup). More would mean the cap added its own shuffle. Upper bound
    rather than exact count so planner-side exchange renames/merges
    across Spark versions don't fail the test spuriously."""
    plan = physical_plan(QUERIES["sim_lsh_bucket_pairs"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 2


def test_gopher_quality_is_narrow_projection(spark, sf_dir):
    """Every Gopher rule is a higher-order expression over the bound
    words array: the whole query must stay a scan -> project with zero
    Exchange nodes (no shuffle, no UDF at any corpus size)."""
    plan = physical_plan(QUERIES["text_gopher_quality"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_random_projection_no_shuffle(spark, sf_dir):
    """The JL sign sketch is a row-local array fold + posexplode —
    zero Exchange nodes (the relational explode+regroup spelling is
    the oracle's job, not the Spark plan's)."""
    plan = physical_plan(QUERIES["embedding_random_projection"](spark, sf_dir))
    assert "Exchange" not in plan


def test_weighted_sample_is_take_ordered(spark, sf_dir):
    """The Efraimidis-Spirakis top-k must compile to
    TakeOrderedAndProject (per-partition heaps, no global sort of the
    corpus)."""
    plan = physical_plan(QUERIES["sample_weighted_hash"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_merge_upsert_single_aggregate_exchange(spark, sf_dir):
    """The SCD-1 merge folds base/changes/full-outer-join into ONE
    groupBy(user_id): exactly one hash-partitioning exchange over the
    events scan (plus the broadcast of the 1-row cutoff), and no join
    machinery beyond that broadcast."""
    plan = physical_plan(QUERIES["merge_upsert_user_state"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan


def test_substring_spans_no_pair_explosion(spark, sf_dir):
    """Duplicated-span detection must never materialize doc x doc
    pairs: the plan joins span rows 1:1 with per-span stats (hash
    join on the span hash) — no cartesian/nested-loop node anywhere."""
    plan = physical_plan(QUERIES["dedup_substring_spans"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dsir_selection_is_take_ordered(spark, sf_dir):
    """DSIR's top-K selection must compile to TakeOrderedAndProject,
    not a global sort of the scored corpus."""
    plan = physical_plan(QUERIES["sample_dsir_importance"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_salted_join_partitions_on_salt(spark, sf_dir):
    """The salted join must actually shuffle on (key, salt) — the salt
    column appears in the join's hash partitioning — and must not be
    silently collapsed into a broadcast (which would erase the
    demonstrated skew defense)."""
    plan = physical_plan(QUERIES["join_salted_skew"](spark, sf_dir))
    assert "ShuffledHashJoin" in plan
    import re as _re
    part = _re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert any("_salt" in p for p in part)


def test_sketch_hll_register_shuffle_is_constant_size(spark, sf_dir):
    """The HLL build's only data-sized stage is the scan: the
    (event_type, idx) register aggregate must partial-aggregate
    map-side (HashAggregate below the exchange), so each executor
    ships at most groups x 64 register rows. No SortMergeJoin anywhere
    — the register/exact joins run on sketch-sized frames."""
    plan = physical_plan(QUERIES["sketch_hll_distinct"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "HashAggregate" in plan


def test_sketch_bloom_probe_is_broadcast_only(spark, sf_dir):
    """The bloom probe must be a scan + broadcast lookups: the bit-set
    is constant-size (<= 2048 rows), so a SortMergeJoin of the probe
    side against it would be a planning failure."""
    plan = physical_plan(QUERIES["sketch_bloom_filter_probe"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_welch_ttest_single_pass(spark, sf_dir):
    """The A/B test is ONE conditional aggregate over one scan — no
    shuffle of the data by cohort, no join, no second scan."""
    plan = physical_plan(QUERIES["stats_ab_welch_ttest"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_zscore_stats_broadcast_back(spark, sf_dir):
    """The per-type stats frame (type-cardinality rows) must broadcast
    back onto the event scan — flagging is one pass, not a shuffle of
    events by type."""
    plan = physical_plan(QUERIES["events_zscore_anomaly"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bpe_pairs_topk_no_global_sort(spark, sf_dir):
    """The BPE pair count must partial-aggregate map-side and the
    top-20 must compile to TakeOrderedAndProject — the full pair table
    is never globally sorted."""
    plan = physical_plan(QUERIES["text_bpe_pair_merges"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert re.search(r"Sort .*global=true", plan) is None


def test_pagerank_iterations_broadcast(spark, sf_dir):
    """PageRank's data-sized work is the ONE window shuffle extracting
    bigram edges; every rank-refinement join must broadcast the
    node-cardinality rank table (no SortMergeJoin in any iteration)."""
    plan = physical_plan(QUERIES["graph_pagerank_transitions"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    # events were scanned exactly once, AT PIN TIME: the iteration plan
    # itself reads only the materialized edge frame — zero parquet
    # scans left (without the pin the 3-iteration lineage re-derived
    # the events scan 19 times)
    assert plan.count("Scan parquet") == 0
    assert "Scan ExistingRDD" in plan


def test_hard_negatives_blocked_by_cells(spark, sf_dir):
    """Hard-negative mining must inherit the IVF-cell blocking: no
    cartesian/broadcast nested-loop pairing of the corpus with itself
    (the anchor x cell equi-join is the only pair generator)."""
    plan = physical_plan(QUERIES["sim_hard_negatives"](spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_quality_classifier_is_narrow_projection(spark, sf_dir):
    """Model inference must stay scan -> project: all four features
    and the sigmoid are codegen'd expressions — zero Python eval and
    no KEYED shuffle at any corpus size. The single round-robin
    exchange is the deliberate r17 cpu_fan (the one-row-group fixture
    scan ran the per-byte features serial without it)."""
    plan = physical_plan(QUERIES["text_quality_classifier"](spark, sf_dir))
    # at sf0.001 cpu_fan's width is 1 and the repartition optimizes
    # away entirely; at bench scale it is exactly one round-robin
    assert plan.count("Exchange RoundRobinPartitioning") <= 1
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_mad_outliers_stats_broadcast_back(spark, sf_dir):
    """Both robust-stats frames (type-cardinality med and MAD) must
    broadcast back onto the event scan — the flagging pass never
    shuffles events by type, mirroring the zscore discipline."""
    plan = physical_plan(QUERIES["stats_mad_outliers"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_chi2_single_corpus_scan(spark, sf_dir):
    """The chi-square test reads the corpus EXACTLY once: margins and
    the zero-cell grid derive from the tiny contingency frame, never
    from a documents re-scan."""
    plan = physical_plan(QUERIES["stats_chi2_independence"](spark, sf_dir))
    # the single corpus scan happens AT PIN TIME (contingency frame is
    # materialized); the statistic's plan reads only the pinned frame
    assert plan.count("Scan parquet") == 0
    assert "Scan ExistingRDD" in plan
    assert "SortMergeJoin" not in plan


def test_quantile_bands_no_sort_merge(spark, sf_dir):
    """The quantile sketch is three column-pruned scans (stats, bin,
    exact-twin) with all small-frame joins broadcast — no SortMergeJoin
    anywhere, and no global sort of the data (the only ordering runs
    on the 128-row histogram)."""
    df = QUERIES["sketch_quantile_bands"](spark, sf_dir)
    plan = physical_plan(df)
    assert "SortMergeJoin" not in plan
    # pass 1 (min/max/count) is pinned; the plan re-reads parquet for
    # the binning pass and twice inside the exact twin
    # (exact_value_percentiles: sizes pass + rank pass — re-running the
    # pruned column scan measured cheaper than pinning)
    assert plan.count("Scan parquet") == 3
    # every scan is pruned to the single priced column
    import re as _re

    for m in _re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        assert m.group(1).split(",")[0].startswith("l_extendedprice")


def test_split_leakage_single_scan_no_join(spark, sf_dir):
    """Leakage accounting is ONE scan + ONE fingerprint aggregate —
    cross pairs come from per-group conditional counts, so no join and
    no pair materialization exist anywhere in the plan."""
    plan = physical_plan(QUERIES["split_leakage_check"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_pit_join_is_keyed_not_cartesian(spark, sf_dir):
    """The point-in-time join must key on user_id with the interval
    containment as a residual — never a cartesian/nested-loop pairing
    of facts against the whole interval dimension."""
    plan = physical_plan(QUERIES["join_pit_scd2_state"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pattern_funnel_one_window_shuffle(spark, sf_dir):
    """Strict-contiguity CEP must be lead() windows over ONE scan —
    the naive 3-way adjacency self-join never appears."""
    plan = physical_plan(QUERIES["events_pattern_funnel_strict"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_ks_drift_collapses_before_window(spark, sf_dir):
    """The KS statistic reads the corpus once and collapses it to
    value-cardinality rows BEFORE the ECDF window — no join, and the
    window runs on the collapsed frame only."""
    plan = physical_plan(QUERIES["stats_ks_drift"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_gini_single_exchange(spark, sf_dir):
    """Gini's rank window and the per-type aggregate share ONE hash
    partitioning on event_type — no re-exchange between them, no
    join."""
    plan = physical_plan(QUERIES["stats_gini_concentration"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_rfm_single_corpus_scan(spark, sf_dir):
    """RFM reads purchases once: the horizon is pinned (pass 1) and
    the per-user aggregate consumes the broadcast, never re-deriving
    the events scan; ntile windows run on the user-cardinality frame."""
    plan = physical_plan(QUERIES["events_rfm_segments"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "SortMergeJoin" not in plan


def test_did_one_conditional_pass(spark, sf_dir):
    """DiD is one conditional aggregate over one scan: the period cut
    is pinned (pass 1) and broadcast; no cohort shuffle, no pre/post
    join."""
    plan = physical_plan(QUERIES["events_did_uplift"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "SortMergeJoin" not in plan
    assert "Scan ExistingRDD" in plan  # the pinned cut


def test_bootstrap_partial_aggregates_per_replicate(spark, sf_dir):
    """The Poisson bootstrap fans out in-row (Generate/explode, no
    join) and partial-aggregates per replicate map-side — the shuffle
    carries B rows of state per partition, not the fanned corpus."""
    plan = physical_plan(QUERIES["stats_bootstrap_ci"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "Generate explode" in plan
    assert "partial_" in plan


def test_hll_rollup_register_sized_merge(spark, sf_dir):
    """The hourly→type rollup aggregates the REGISTER table, never the
    corpus: no SortMergeJoin anywhere, and the raw scan count is the
    pinned build plus the verification twin only."""
    plan = physical_plan(QUERIES["sketch_hll_hourly_rollup"](spark, sf_dir))
    assert "SortMergeJoin" not in plan


def test_asof_nearest_two_window_passes_no_self_join(spark, sf_dir):
    """Nearest = backward pass + forward pass (negated time), each the
    union+carry window — the plan must contain NO event×purchase
    range join and no cartesian."""
    plan = physical_plan(QUERIES["join_asof_nearest"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_containment_blocked_equi_join(spark, sf_dir):
    """Containment inherits the capped winnowing blocking: candidate
    generation is an equi-join on the fingerprint, never all-pairs."""
    plan = physical_plan(QUERIES["dedup_winnow_containment"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mom_growth_window_over_rollup_only(spark, sf_dir):
    """The lag window runs over the month-cardinality rollup — the
    fact table is aggregated before any window. The orders join
    carries NO broadcast hint (ADVICE r8: orders is fact-sized at the
    100 TB design point; AQE picks broadcast on tiny fixtures and
    sort-merge at scale), so the assertion is the window's position,
    not the join strategy."""
    plan = physical_plan(QUERIES["window_mom_growth"](spark, sf_dir))
    # the one Window node must sit ABOVE the final aggregate (month
    # cardinality), i.e. no Window directly over a parquet scan
    assert plan.count("Window") >= 1
    win = plan.index("Window")
    assert "HashAggregate" in plan[win:] or "SortAggregate" in plan[win:]


def test_doc_centrality_iterations_reuse_edge_exchange(spark, sf_dir):
    """The PageRank loop's docstring claims the pinned edge list is
    shuffled ONCE and later iterations reuse it (VERDICT r8 task 5:
    assert it). After execution, the finalized adaptive plan must
    materialize at most one edge-side Exchange — every further
    iteration's edge input must be a ReusedExchange (AQE stage reuse),
    never a fresh shuffle of the same pinned frame."""
    df = QUERIES["graph_doc_centrality"](spark, sf_dir)
    df.collect()  # AQE finalizes the plan only on execution
    plan = physical_plan(df)
    assert "isFinalPlan=true" in plan
    # restrict to the final-plan section (toString appends the initial
    # plan after it, which double-counts exchanges)
    final = plan.split("Initial Plan")[0]
    edge_exchanges = [
        ln
        for ln in final.splitlines()
        if re.search(r"Exchange hashpartitioning\(src#", ln)
        and "ReusedExchange" not in ln
    ]
    assert len(edge_exchanges) <= 1, edge_exchanges
    from kafka_go_streamer_spark.plans.graph import DOC_PR_ITERS

    assert DOC_PR_ITERS >= 2  # the invariant is vacuous with 1 iter
    assert final.count("ReusedExchange") >= 1


def test_anova_is_two_stage_aggregate(spark, sf_dir):
    """ANOVA must collapse the fact in one partial+final aggregate and
    never sort or window the raw events."""
    plan = physical_plan(QUERIES["stats_anova_oneway"](spark, sf_dir))
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_ewma_lag_join_is_hash_not_range(spark, sf_dir):
    """The truncated-EWMA lag structure must plan as an equi (hash)
    join on (event_type, hour) — the BETWEEN range form would go
    nested-loop at scale."""
    plan = physical_plan(QUERIES["ts_ewma_smoothing"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_phash_band_join_is_capped_equi(spark, sf_dir):
    """Perceptual-hash candidate generation is a band-key equi join,
    never all-pairs. Any equi strategy is acceptable — the band frame
    is corpus-sized, so sort-merge/shuffled-hash is the plan a real
    cluster would (and should) pick; broadcast only ever appeared at
    fixture scale. (The one nested-loop join in the plan is the 1-row
    n_blobs stats broadcast — constant-size by construction.)"""
    plan = physical_plan(QUERIES["multimodal_phash_bands"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[band#\d+, key#\d+",
        plan,
    )


def test_prf_reuses_one_tf_table(spark, sf_dir):
    """PRF must reuse the pinned tf (inverted-index) frame for both
    retrieval and expansion: the documents parquet may be scanned at
    pin time only — the final plan reads the materialized RDD, zero
    parquet scans of the corpus."""
    df = QUERIES["retrieval_query_expansion_prf"](spark, sf_dir)
    plan = physical_plan(df)
    assert "Scan parquet" not in plan


def test_kappa_single_pass_no_shuffle_of_docs(spark, sf_dir):
    """Both quality gates compute in-row from one tokenization; the
    only exchange is the final 1-row aggregate's."""
    plan = physical_plan(QUERIES["quality_gate_agreement_kappa"](spark, sf_dir))
    assert plan.count("Exchange") <= 2  # partial -> final agg only
    assert "Window" not in plan


def test_hurst_single_fact_scan_no_cartesian(spark, sf_dir):
    """Hurst R/S must read the events parquet exactly once (the pinned
    hourly rollup feeds the block explode); the 3-way block-size fan
    is an in-row explode, never a cross join."""
    plan = physical_plan(QUERIES["ts_hurst_rs"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Scan parquet") == 0  # pinned rollup only


def test_ttr_is_joinless_two_stage_aggregate(spark, sf_dir):
    """Lexical diversity is explode -> (lang, word) count -> per-lang
    aggregate: no join of any kind, one corpus scan."""
    plan = physical_plan(
        QUERIES["text_ttr_lexical_diversity"](spark, sf_dir)
    )
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1


def test_precision_recall_two_corpus_scans(spark, sf_dir):
    """P/R@k scans the embeddings corpus exactly twice: once for the
    cosine scoring, once (column-pruned to `label`) for the relevance
    histogram — never a re-score of the panel join per consumer."""
    plan = physical_plan(
        QUERIES["retrieval_precision_recall_at_k"](spark, sf_dir)
    )
    assert plan.count("Scan parquet") == 2
    assert "CartesianProduct" not in plan


def test_jaccard_neighbors_equi_wedge_join(spark, sf_dir):
    """Neighborhood-Jaccard candidates come from the equi wedge join on
    the pinned edge list — no all-pairs, no nested loop; degrees join
    by key, the union via inclusion-exclusion (no neighborhood
    arrays)."""
    plan = physical_plan(QUERIES["graph_jaccard_neighbors"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Scan parquet" not in plan  # everything reads pinned frames


@pytest.mark.parametrize(
    "name",
    ["stats_runs_test", "ts_variance_ratio", "ts_seasonal_strength"],
)
def test_rollup_diagnostics_read_pinned_rollup_only(spark, sf_dir, name):
    """The random-walk/seasonality diagnostics run entirely on the
    pinned hourly rollup: zero parquet scans in the final plan, no
    nested loops."""
    plan = physical_plan(QUERIES[name](spark, sf_dir))
    assert "Scan parquet" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_textrank_iterations_read_pinned_graph(spark, sf_dir):
    """TextRank's rank loop runs on the pinned vocab-capped edge frame:
    the corpus parquet is scanned only at pin time (zero scans in the
    final plan), and the iteration joins are broadcasts, never
    sort-merge of the corpus."""
    plan = physical_plan(QUERIES["text_textrank_keywords"](spark, sf_dir))
    assert "Scan parquet" not in plan
    assert "CartesianProduct" not in plan


def test_user_entropy_single_scan_shrinking_cardinality(spark, sf_dir):
    """User entropy is one corpus scan and joinless: (user, type)
    count -> user window -> bucket histogram."""
    plan = physical_plan(QUERIES["events_user_entropy"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_key_skew_zero_scans_after_pin(spark, sf_dir):
    """The skew triage reads the pinned key-count frame for both the
    moments and the top-k; the single BroadcastNestedLoopJoin is the
    1-row stats crossJoin, constant-size by construction."""
    plan = physical_plan(QUERIES["quality_join_key_skew"](spark, sf_dir))
    assert "Scan parquet" not in plan
    assert "CartesianProduct" not in plan


def test_dim_variance_reads_pinned_frame(spark, sf_dir):
    """Dim-variance pins the d-row per-dimension frame so the total
    and the ranking share ONE posexplode scan — zero parquet scans in
    the final plan; the only nested loop is the 1-row total-variance
    broadcast."""
    plan = physical_plan(QUERIES["embedding_dim_variance"](spark, sf_dir))
    assert "Scan parquet" not in plan
    assert "CartesianProduct" not in plan


def test_interarrival_burstiness_one_window_one_scan(spark, sf_dir):
    """Burstiness is the sessionizer's lag window + one moment
    aggregate: single scan, no joins at all."""
    plan = physical_plan(
        QUERIES["events_interarrival_burstiness"](spark, sf_dir)
    )
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


# ------------------------------------------------------------ round 10
def test_ess_single_pass_no_join(spark, sf_dir):
    """Kish ESS is ONE map-side-combinable aggregate per source (raw
    and clipped moments ride the same shuffle): single scan, single
    Exchange, no joins."""
    plan = physical_plan(QUERIES["sample_effective_sample_size"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_wilson_single_pass_no_join(spark, sf_dir):
    """The Wilson interval is closed-form arithmetic on one
    (count, conditional-count) aggregate: single scan, single
    Exchange, no joins."""
    plan = physical_plan(QUERIES["stats_wilson_ci"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_ohlc_one_shuffle_two_sorts(spark, sf_dir):
    """Both OHLC row_number frames partition by (type, day): ONE hash
    Exchange feeds the ascending and descending Sorts — a second
    exchange would mean the windows stopped sharing partitioning."""
    plan = physical_plan(QUERIES["ts_ohlc_daily"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "Join" not in plan


def test_mann_kendall_pairs_equi_join_no_cartesian(spark, sf_dir):
    """The S-statistic pairing joins the pinned day rollup with itself
    ON event_type (the day inequality is a post-join filter over
    rollup²-per-type rows): equi-join machinery only, no cartesian,
    zero parquet scans after the pin."""
    plan = physical_plan(QUERIES["stats_mann_kendall_trend"](spark, sf_dir))
    assert "Scan parquet" not in plan  # day rollup pinned
    assert "CartesianProduct" not in plan


def test_bipartite_projection_no_cartesian(spark, sf_dir):
    """The type-type projection self-joins the pinned distinct
    (user, type) frame ON user_id with per-user bounded fanout, and
    the k-row type totals broadcast: no cartesian, no parquet rescan,
    type totals joined via broadcast."""
    plan = physical_plan(QUERIES["graph_bipartite_projection"](spark, sf_dir))
    assert "Scan parquet" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_periodogram_single_rollup_read_per_consumer(spark, sf_dir):
    """The DFT projection reads the pinned hourly rollup (zero parquet
    scans), broadcasts the per-type means and the 3-row period frame,
    and contracts in one grouped aggregate."""
    plan = physical_plan(QUERIES["ts_periodogram_power"](spark, sf_dir))
    assert "Scan parquet" not in plan
    assert "CartesianProduct" not in plan


def test_binseg_single_exchange_joinless(spark, sf_dir):
    """The split search scores every candidate from prefix-sum windows
    over the pinned hourly rollup: zero parquet scans, ONE exchange
    (the rollup's per-type window partitioning), no joins — the
    n-candidate search never re-aggregates segments."""
    plan = physical_plan(QUERIES["ts_changepoint_binseg"](spark, sf_dir))
    assert "Scan parquet" not in plan
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_knn_purity_panel_broadcast_one_scan(spark, sf_dir):
    """kNN purity scores the corpus ONCE against the broadcast pinned
    probe panel (the retrieval family's audited geometry): a single
    parquet scan, the panel join as a broadcast nested loop, no
    cartesian."""
    plan = physical_plan(QUERIES["embedding_knn_label_purity"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_jsd_vocab_equi_join_no_rescan(spark, sf_dir):
    """Source JSD runs entirely on the pinned sparse (source, word)
    frame: zero parquet rescans; the word-total join is a vocab-keyed
    EQUI join (SortMergeJoin is the correct shape — a 100 TB corpus's
    vocabulary must never broadcast), source totals and the 1-row N
    broadcast; no cartesian."""
    plan = physical_plan(QUERIES["text_js_divergence_sources"](spark, sf_dir))
    assert "Scan parquet" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_contamination_broadcasts_benchmark_grams(spark, sf_dir):
    """The 13-gram contamination probe must broadcast the benchmark
    gram set (1/97 of the corpus by construction, benchmark-suite-sized
    in production) onto the exploded train grams — an equi-join on the
    hashed gram, never a shuffle of the train side for the probe and
    never anything pairwise."""
    plan = physical_plan(QUERIES["text_contamination_ngrams"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_doremi_scalar_reference_broadcasts(spark, sf_dir):
    """DoReMi reweighting folds the fact ONCE per statistic: the corpus
    reference loss rides as a 1-row broadcast cross join (never a
    collect), and the softmax normalizer windows over the ~20-row
    source frame."""
    plan = physical_plan(QUERIES["sample_doremi_reweight"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row scalar bind
    assert "CartesianProduct" not in plan


def test_label_mmd_never_joins_the_fact(spark, sf_dir):
    """Linear MMD's pairwise stage must run on the labels x dims mean
    frame, not the fact: the self-join keys on dim (equi), and the
    only parquet scans feed the one mean aggregate."""
    plan = physical_plan(QUERIES["embedding_label_mmd"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_weighted_median_windows_on_binned_frame(spark, sf_dir):
    """The weighted median must aggregate to the (flag, DISTINCT price)
    frame BEFORE any window — a row-level window partitioned by 3
    flags serializes the fact (measured ×3.5 at sf1). Shape: exactly
    one pre-window hash aggregate feeding the window, no cartesian."""
    plan = physical_plan(QUERIES["agg_weighted_median"](spark, sf_dir))
    assert "HashAggregate" in plan
    # the window input is the binned frame: the partial_sum aggregate
    # appears below the Window node in the plan text
    assert plan.index("HashAggregate", plan.index("Window")) > 0
    assert "CartesianProduct" not in plan


def test_hubness_panel_broadcasts_and_caps(spark, sf_dir):
    """Hubness scans the corpus once against a BROADCAST fixed-size
    panel (an uncapped panel made the probe O(n²) — measured ×14.5 at
    ×10 data before the cap); nothing pairwise beyond it."""
    plan = physical_plan(
        QUERIES["embedding_hubness_koccurrence"](spark, sf_dir)
    )
    assert "BroadcastNestedLoopJoin" in plan  # panel × corpus scoring
    assert "CartesianProduct" not in plan


def test_drawdown_single_window_partitioning(spark, sf_dir):
    """Max drawdown stacks its two windows (prefix sum, running peak)
    on ONE partitioning and ordering of the series key — a second
    exchange between them would double the shuffle for nothing."""
    plan = physical_plan(QUERIES["ts_max_drawdown"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning(event_type") == 1


def test_rich_club_joins_stay_equi(spark, sf_dir):
    """The rich-club threshold sweep runs on the capped winnowing edge
    list and its degree frame — every join equi- or broadcast, never a
    pairwise node stage."""
    plan = physical_plan(QUERIES["graph_rich_club"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semdedup_centroid_joins_broadcast(spark, sf_dir):
    """The SemDeDup score joins the exploded corpus against the k×dims
    centroid frame: both the (cell, pos) dot-product join and the
    cell-norm join must BROADCAST (centroids are tiny at any corpus
    size) and nothing may go cartesian — the family's whole claim is
    n×dims streamed work with zero pairwise stages."""
    plan = physical_plan(QUERIES["semdedup_prune_manifest"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_assignment_margin_broadcasts_centroids(spark, sf_dir):
    """The full distance frame streams the corpus against BROADCAST
    centroids (one Lloyd-assignment-shaped pass); no cartesian."""
    plan = physical_plan(QUERIES["cluster_assignment_margin"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_line_boilerplate_set_broadcasts(spark, sf_dir):
    """The boilerplate line set (above the absolute doc-frequency
    threshold, small by construction) must broadcast back onto the
    exploded line scan — the fact side never shuffles for the flag."""
    plan = physical_plan(QUERIES["dedup_line_doc_retention"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_gate_funnel_single_scan_no_join(spark, sf_dir):
    """All five funnel counters fold in ONE conditional aggregate over
    one corpus scan, unstacked in-plan — no rescans, no joins."""
    plan = physical_plan(QUERIES["pipeline_gate_funnel"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_rule_overlap_single_scan_no_join(spark, sf_dir):
    """The k + k(k-1)/2 overlap counters fold in ONE narrow scan (the
    masking-analysis discipline), pair rows unstacked from the single
    aggregate row."""
    plan = physical_plan(
        QUERIES["route_rule_coverage_overlap"](spark, sf_dir)
    )
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_prefix_dup_no_cartesian(spark, sf_dir):
    """The prefix screen joins the doc frame to group sizes on the SAME
    md5 key it aggregated on — equi only, never pairwise docs."""
    plan = physical_plan(QUERIES["text_doc_prefix_dup"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_centroid_shift_broadcasts_centroids(spark, sf_dir):
    """Post-prune means join the stored centroid frame BROADCAST; no
    pairwise stage anywhere in the shift computation."""
    plan = physical_plan(QUERIES["semdedup_centroid_shift"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_quality_budget_single_scan_no_join(spark, sf_dir):
    """All threshold counters fold in ONE conditional aggregate over
    one corpus scan (the funnel discipline)."""
    plan = physical_plan(
        QUERIES["sample_quality_budget_curve"](spark, sf_dir)
    )
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_modularity_no_cartesian(spark, sf_dir):
    """Modularity runs on the capped edge list, its degree frame, and
    the node-cardinality label frame — equi-joins plus the broadcast
    1-row edge-count bind; never a pairwise node stage."""
    plan = physical_plan(QUERIES["graph_modularity_lpa"](spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_nprobe_curve_no_cartesian_beyond_panel(spark, sf_dir):
    """The sweep's only non-equi joins are the broadcast FIXED query
    panel binds (the hubness-cap discipline); no CartesianProduct."""
    plan = physical_plan(QUERIES["ann_nprobe_recall_curve"](spark, sf_dir))
    assert "CartesianProduct" not in plan


# ----------------------------- round-12 econ/audit waves (3 + 4/4b)
def test_shard_plan_single_scan_single_agg(spark, sf_dir):
    """The shard plan is one map-side-combined aggregate on source —
    no join touches the fact table, and the window arithmetic runs on
    the post-agg 20-row frame (one agg exchange, one window single
    partition over it, never the corpus)."""
    plan = physical_plan(QUERIES["storage_shard_plan"](spark, sf_dir))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_skipping_audit_probe_side_broadcast(spark, sf_dir):
    """The zone-map audit's probe grid (8 integer rows) must broadcast
    against the 128-row file frame — never a shuffled join, never a
    cartesian of the events table itself."""
    plan = physical_plan(
        QUERIES["storage_skipping_minmax_audit"](spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_skipping_audit_no_window_over_fact(spark, sf_dir):
    """r13 rewrite (VERDICT r12 #2): file assignment is arithmetic on
    broadcast scalar bounds — the plan must contain NO Window at all
    (the r12 version ranked the whole events fact in two
    single-partition row_number windows) and no sort of the fact
    (the only Sort allowed is inside the tiny file/probe frames —
    in practice: zero)."""
    df = QUERIES["storage_skipping_minmax_audit"](spark, sf_dir)
    plan = physical_plan(df)
    assert "Window" not in plan
    # bounds bind is a broadcast, so the fact is scanned exactly twice
    # (once per layout) with no Exchange other than the two group-bys
    assert "rn_arr" not in plan and "rn_time" not in plan


def test_length_bucket_plan_no_join_no_explode(spark, sf_dir):
    """Pad-vs-pack bucketing is an in-row regex count + CASE ladder
    into one hash aggregate: no join, no generator fan of the text."""
    plan = physical_plan(QUERIES["pack_length_bucket_plan"](spark, sf_dir))
    assert "Join" not in plan
    assert "Generate" not in plan


def test_frontier_panel_joins_broadcast(spark, sf_dir):
    """The recall/cost frontier's panel binds are broadcasts (fixed
    panel discipline) and candidate scoring joins cells on the probed
    centroid — equi only, no CartesianProduct."""
    plan = physical_plan(QUERIES["ann_recall_cost_frontier"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_cross_source_overlap_joins_on_word(spark, sf_dir):
    """The vocabulary self-join must be an equi-join on the word key
    (per-word fan bounded by source count) — never a cartesian of the
    two vocabulary frames."""
    plan = physical_plan(QUERIES["text_cross_source_overlap"](spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_estimator_error_no_cartesian(spark, sf_dir):
    """The estimator audit generates candidates through the banded +
    capped equi-join and verifies on candidates only — the audited
    minhash discipline, no all-pairs stage."""
    plan = physical_plan(
        QUERIES["dedup_minhash_estimator_error"](spark, sf_dir)
    )
    assert "CartesianProduct" not in plan


def test_calibration_bins_single_scan_no_join(spark, sf_dir):
    """Calibration is the classifier's narrow projection into one
    10-key hash aggregate: no join anywhere in the plan."""
    plan = physical_plan(QUERIES["quality_calibration_bins"](spark, sf_dir))
    assert "Join" not in plan


def test_k_anonymity_class_frame_then_constant_fan(spark, sf_dir):
    """The privacy profile collapses the corpus to its QI classes
    first; the k-grid explode fans the CLASS frame, not documents —
    so the plan has no join and exactly the grid Generate."""
    plan = physical_plan(QUERIES["privacy_k_anonymity"](spark, sf_dir))
    assert "Join" not in plan


def test_zipf_ranking_on_vocab_frame(spark, sf_dir):
    """r13 rewrite (VERDICT r12 #3): the Zipf top-N cut must compile
    to TakeOrderedAndProject (distributed per-partition heaps), never
    a global rank of the full vocabulary — the only Window allowed is
    the row_number over the ALREADY-LIMITED N-row frame, and no join
    exists in the plan."""
    plan = physical_plan(QUERIES["text_zipf_slope"](spark, sf_dir))
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan
    # the window must sit ABOVE the limit: textual plan order puts
    # children below their parent, so TakeOrderedAndProject appears
    # AFTER (deeper than) the Window line
    w = plan.find("Window")
    t = plan.find("TakeOrderedAndProject")
    assert w != -1 and t != -1 and w < t


def test_phash_hamming_hist_no_cartesian(spark, sf_dir):
    """Hamming histogram candidates come from the banded + capped
    equi-join; verification is codegen xor/bit_count on candidates."""
    plan = physical_plan(
        QUERIES["multimodal_phash_hamming_hist"](spark, sf_dir)
    )
    assert "CartesianProduct" not in plan


# ---------------------------------------------------- r13 lateness wave
def test_lateness_grid_two_level_prefix_scan(spark, sf_dir):
    """The watermark frontier must be the two-level prefix scan: the
    ONLY window over fact-sized data is partitioned by the arrival
    bucket (after a hashpartitioning exchange on _bkt), the
    cross-bucket prefix runs on the tiny post-aggregate bucket frame
    (the plan's single SinglePartition exchange), and the prefix binds
    back via broadcast — never a global sort of the events fact."""
    plan = physical_plan(
        QUERIES["events_lateness_watermark_grid"](spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # fact window is bucket-partitioned
    assert re.search(r"windowspecdefinition\(_bkt#\d+L, arrival_us", plan)
    # exactly one single-partition exchange: the ~120-row bucket frame
    assert plan.count("Exchange SinglePartition") == 1
    # r16: window counts come from the two-level (cell x wend)
    # aggregate, never a count-distinct Expand over the fanned fact
    assert "Expand" not in plan


def test_dedup_audit_union_prefix_scan(spark, sf_dir):
    """The dedup-leakage audit prices the frontier at each dup's
    arrival through the SAME bucketed scan over the originals+dups
    union: bucket-partitioned fact window, broadcast prefix bind,
    exactly one single-partition exchange (the bucket frame); the
    final query plan must stay cartesian-free with the delay grid as
    a Generate, and (r16) pair origs with dups via ONE conditional
    aggregation over event_id — no orig/dup self-join, no checkpoint
    barrier hiding a second evaluation of the prefix scan."""
    from pyspark.sql import functions as F

    from kafka_go_streamer_spark.plans import lateness as L

    base = L.jittered_arrivals(load_table(spark, sf_dir, "events"))
    union = base.select(
        "event_id",
        "us",
        "arrival_us",
        F.lit(0).alias("kind"),
        F.col("us").alias("contrib"),
    ).unionByName(
        base.select(
            "event_id",
            "us",
            (F.col("arrival_us") + F.lit(1)).alias("arrival_us"),
            F.lit(1).alias("kind"),
            F.col("us").alias("contrib"),
        )
    )
    upstream = physical_plan(
        L.with_running_max(
            union, contrib="contrib", order=("arrival_us", "kind", "event_id")
        )
    )
    assert "CartesianProduct" not in upstream
    assert "SortMergeJoin" not in upstream
    assert "BroadcastHashJoin" in upstream
    assert re.search(r"windowspecdefinition\(_bkt#\d+L, arrival_us", upstream)
    assert upstream.count("Exchange SinglePartition") == 1

    plan = physical_plan(
        QUERIES["events_watermark_dedup_audit"](spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan
    # r16: the conditional-aggregation pairing replaced the self-join
    # (only the broadcast prefix bind remains), and the full lineage
    # (union + prefix scan) is one linear plan — no checkpoint barrier
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert re.search(r"windowspecdefinition\(_bkt#\d+L, arrival_us", plan)


def test_open_state_no_window_scalar_broadcast(spark, sf_dir):
    """End-of-stream state sizing needs only the global frontier: the
    plan must have NO window functions at all — one scalar max
    broadcast (nested-loop on a 1-row build side), constant Generate
    fan, one aggregate."""
    plan = physical_plan(
        QUERIES["events_watermark_open_state"](spark, sf_dir)
    )
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "Generate" in plan


def test_scurve_panel_no_cartesian(spark, sf_dir):
    """The S-curve audit's pair panel is hash-partner arithmetic (a
    broadcast scalar bind) plus the banded+capped SimHash equi-join —
    never an all-pairs stage; signature joins are equi on the panel
    ids."""
    plan = physical_plan(
        QUERIES["dedup_lsh_scurve_empirical"](spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    # the doc_id < DOC_PANEL_MAX_ID panel cap reaches the scan
    assert "LessThan(doc_id" in plan


# ----------------------------------------------- r13 reliability wave
def test_route_by_source_narrow_single_agg(spark, sf_dir):
    """The provenance-carrying router stays the reference's narrow
    shape: case-when projection, no join anywhere, one aggregate
    exchange on the source key."""
    plan = physical_plan(QUERIES["route_unmatched_by_source"](spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # partial+final agg only


def test_gate_ablation_window_partitioned_one_scan(spark, sf_dir):
    """Ablation's only window is partitioned by the duplicate
    fingerprint (bounded groups); the 4-row output fans from ONE
    aggregate row via Generate — no join, no unpartitioned window."""
    plan = physical_plan(QUERIES["quality_gate_ablation"](spark, sf_dir))
    assert "Join" not in plan
    assert re.search(r"windowspecdefinition\(bag_fp#\d+", plan)
    assert "Generate explode" in plan


def test_l_diversity_class_frame_fan(spark, sf_dir):
    """l-diversity collapses to QI classes first; the l-grid explode
    fans the class frame only — no join."""
    plan = physical_plan(QUERIES["privacy_l_diversity"](spark, sf_dir))
    assert "Join" not in plan
    assert "Generate explode" in plan


def test_bloom_fpr_bit_sets_broadcast(spark, sf_dir):
    """Per-width bit sets must broadcast to the probe side (the
    runtime-join-filter shape); no cartesian anywhere — the scalar
    member count binds as a 1-row broadcast."""
    plan = physical_plan(QUERIES["sketch_bloom_fpr_curve"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_cms_error_counters_broadcast_topn_heap(spark, sf_dir):
    """The heavy-hitter panel is TakeOrderedAndProject (distributed
    heaps) and the bounded counter frames broadcast to it; no
    cartesian."""
    plan = physical_plan(QUERIES["sketch_cms_error_profile"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_backlog_windows_on_spine_only(spark, sf_dir):
    """The Lindley recurrence's prefix scans run on the generated hour
    spine partitioned by capacity factor — the events fact is
    aggregated to hourly counts and never sorted or windowed."""
    plan = physical_plan(
        QUERIES["events_capacity_backlog_plan"](spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    assert re.search(r"windowspecdefinition\(f#\d+", plan)
    # no window keyed on raw event columns
    assert not re.search(r"windowspecdefinition\(event_id#\d+", plan)


def test_hill_take_ordered_then_tiny_rank(spark, sf_dir):
    """Hill's order statistics come from orderBy().limit() —
    TakeOrderedAndProject below the (K+1)-row rank window, the zipf
    discipline."""
    plan = physical_plan(QUERIES["text_tail_index_hill"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    w = plan.find("Window")
    t = plan.find("TakeOrderedAndProject")
    assert w != -1 and t != -1 and w < t


# ------------------------------------------------------- r13 wave 3
def test_hll_curve_register_bounded(spark, sf_dir):
    """The HLL curve's only data shuffle is the (m, idx) register
    groupBy (map-side combined max); the exact twin binds as a 1-row
    broadcast — no cartesian, no sort-merge join."""
    plan = physical_plan(QUERIES["sketch_hll_error_curve"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final registers


def test_recall_at_k_fixed_panel_no_cartesian(spark, sf_dir):
    """Recall@k inherits the curve's fixed-panel discipline: panel
    binds broadcast, candidates come from the cell equi-join — no
    CartesianProduct anywhere."""
    plan = physical_plan(QUERIES["ann_recall_at_k_grid"](spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_drop_bias_component_partitioned_window(spark, sf_dir):
    """The canonical rule is a window PARTITIONED by component id
    (bounded by cluster size); the corpus rate binds as a broadcast
    scalar — no cartesian."""
    plan = physical_plan(
        QUERIES["dedup_drop_bias_by_source"](spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    assert re.search(r"windowspecdefinition\(component_id#\d+", plan)


def test_trigger_matrix_partitioned_prefixes(spark, sf_dir):
    """Both watermark frames are partitioned prefix scans: the batch
    frame's window partitions by trigger, the continuous frontier by
    arrival bucket — no unpartitioned window over fact-sized data,
    no cartesian (grids are Generates)."""
    plan = physical_plan(
        QUERIES["events_lateness_trigger_matrix"](spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    assert re.search(r"windowspecdefinition\(t#\d+", plan)
    assert re.search(r"windowspecdefinition\(_bkt#\d+L, arrival_us", plan)


def test_zorder_audit_window_free(spark, sf_dir):
    """The 2-D layout audit is pure arithmetic on broadcast bounds
    like its 1-D sibling: NO window functions, zone maps via map-side
    combined aggregates, probes broadcast."""
    plan = physical_plan(
        QUERIES["storage_zorder_skipping_audit"](spark, sf_dir)
    )
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------- r14 wave


def test_transition_dwell_user_partitioned_window(spark, sf_dir):
    """The dwell lag must be the sessionize family's shape: the ONLY
    window over the events fact is partitioned by user_id (bounded
    per-user state), the report is one aggregate onto the type x type
    key domain — no cartesian, no global sort."""
    plan = physical_plan(QUERIES["events_transition_dwell"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert re.search(r"windowspecdefinition\(user_id#\d+L", plan)
    # every window in the plan is the user-partitioned one
    specs = re.findall(r"windowspecdefinition\((\w+)#", plan)
    assert set(specs) == {"user_id"}


def test_rate_anomaly_mad_window_free(spark, sf_dir):
    """The MAD screen runs entirely on the (type, hour) frame: the
    fact collapses in one map-side-combined count, both medians are
    aggregates — NO window functions anywhere, no cartesian (the
    spine x types fan is a broadcast bind)."""
    plan = physical_plan(QUERIES["events_rate_anomaly_mad"](spark, sf_dir))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_t_closeness_class_frame_broadcast(spark, sf_dir):
    """t-closeness collapses the corpus to aggregates, fans the CLASS
    frame with a Generate, and binds sources/totals by broadcast —
    window-free, cartesian-free."""
    plan = physical_plan(QUERIES["privacy_t_closeness"](spark, sf_dir))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_reservoir_sample_is_take_ordered(spark, sf_dir):
    """The hash-rank sample must compile to TakeOrderedAndProject
    (per-partition top-K heaps + K-row driver merge), never a global
    sort of the orders fact."""
    plan = physical_plan(
        QUERIES["sample_reservoir_uniformity"](spark, sf_dir)
    )
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_bucket_pruning_window_and_sort_free(spark, sf_dir):
    """The bucket audit is grid-fanned aggregates joined on bucket
    keys: no window, no sort, no cartesian; the width fan is a
    Generate; the hit/total binds broadcast."""
    plan = physical_plan(
        QUERIES["storage_bucket_pruning_audit"](spark, sf_dir)
    )
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan


def test_rule_shadowing_single_pass(spark, sf_dir):
    """Rule forensics is the router's own narrow projection: every
    rule flag and the winner index evaluate in one codegen'd pass
    over documents — no join, no window; the R-row report fans from
    ONE aggregate row via Generate."""
    plan = physical_plan(QUERIES["route_rule_shadowing"](spark, sf_dir))
    assert "Join" not in plan
    assert "Window" not in plan
    assert "Generate explode" in plan


def test_burstiness_vocab_take_ordered(spark, sf_dir):
    """The burstiness vocabulary cut must be TakeOrderedAndProject on
    the aggregated vocab frame (the zipf discipline); zeros enter via
    the closed-form identity, so there is no dense doc x word join —
    the only joins are the broadcast n_docs bind."""
    plan = physical_plan(QUERIES["text_word_burstiness"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_metric_agreement_panel_windows(spark, sf_dir):
    """Both rankings share the one q_id shuffle: every window is
    partitioned by q_id; the corpus x panel bind is a broadcast
    nested-loop on the FIXED panel, never a cartesian of two
    fact-sized sides."""
    plan = physical_plan(QUERIES["ann_metric_agreement"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    specs = re.findall(r"windowspecdefinition\((\w+)#", plan)
    assert specs and set(specs) == {"q_id"}
    assert "BroadcastNestedLoopJoin" in plan


def test_minhash_width_curve_no_allpairs(spark, sf_dir):
    """The width curve rides the audited candidate path: banded
    equi-joins only (no cartesian), the width fan is a constant
    Generate on the candidate frame, and the bucket cap's window is
    partitioned by (band, key)."""
    plan = physical_plan(
        QUERIES["dedup_minhash_width_curve"](spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan
    specs = re.findall(r"windowspecdefinition\((\w+)#", plan)
    assert set(specs) <= {"band", "key"}


def test_kll_curve_one_pass_three_sketches(spark, sf_dir):
    """All three widths build in ONE Arrow pass over the fact (the
    scan is paid once, not per k): exactly one MapInPandas stage and
    two bounded-fan-in merge stages in the build (asserted on the
    UNPINNED helper — the query pins the sketch frame, which
    truncates its lineage out of the downstream plan), and in the
    query itself the only window is the sketch-frame prefix sum
    partitioned by k — never a window over the fact."""
    from pyspark.sql import functions as F

    from kafka_go_streamer_spark.plans.fidelity import _kll_grid_sketch

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").cast("double").alias("v")
    )
    build = physical_plan(_kll_grid_sketch(li))
    assert build.count("MapInPandas") == 1
    assert build.count("FlatMapGroupsInPandas") == 2
    assert "Window" not in build

    plan = physical_plan(QUERIES["sketch_kll_error_curve"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    specs = re.findall(r"windowspecdefinition\((\w+)#", plan)
    # "k": the sketch-frame prefix sum; "_pid": the exact-twin's
    # range-partition rank windows (exact_value_percentiles — parallel
    # per-partition row_number + the |partitions|-row offset cumsum),
    # which replaced F.percentile's single-buffer final merge
    assert set(specs) == {"k", "_pid"}


def test_gate_sweep_single_pass(spark, sf_dir):
    """The 3x3 threshold sweep is ONE scan: no join, no window, all
    grid counters in a single aggregate row fanned via Generate."""
    plan = physical_plan(
        QUERIES["quality_gate_threshold_sweep"](spark, sf_dir)
    )
    assert "Join" not in plan
    assert "Window" not in plan
    assert "Generate explode" in plan


def test_generalization_curve_class_frames(spark, sf_dir):
    """Per width everything runs on the QI-class frame: window-free,
    cartesian-free, sources/totals bound by broadcast; the widths
    union bounded summaries."""
    plan = physical_plan(
        QUERIES["privacy_generalization_curve"](spark, sf_dir)
    )
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "Union" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_nlist_tradeoff_panel_shapes(spark, sf_dir):
    """The nlist sweep keeps the recall family's discipline: windows
    only over grid×panel-keyed frames (the r16 vectorized form ranks
    once per (nlist, q_id) — partition count = |grid|×|panel|, never
    corpus-scaled; vec_id windows cut per-vector assignments), centroid
    binds broadcast, no cartesian of fact-sized sides."""
    plan = physical_plan(QUERIES["ann_nlist_tradeoff"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    specs = set(re.findall(r"windowspecdefinition\((\w+)#", plan))
    assert specs and specs <= {"q_id", "vec_id", "nlist"}
    assert "BroadcastNestedLoopJoin" in plan


def test_return_probability_user_window_only(spark, sf_dir):
    """The return-hazard table shares the dwell/sessionize shuffle:
    one user-partitioned lead window, then one aggregate — no join."""
    plan = physical_plan(
        QUERIES["events_return_probability"](spark, sf_dir)
    )
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    specs = set(re.findall(r"windowspecdefinition\((\w+)#", plan))
    assert specs == {"user_id"}


def test_shingle_selectivity_equijoins_only(spark, sf_dir):
    """The selectivity audit never pairs documents: the docs-sharing
    count joins the exploded frame back on the SHINGLE equi-key; no
    window, no cartesian; the k-grid is a plain union of scans."""
    plan = physical_plan(
        QUERIES["dedup_shingle_selectivity"](spark, sf_dir)
    )
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan.split("n_docs")[0]
    # the exploded (k, doc, shingle) frame is pinned (it feeds both the
    # df aggregate and the docs-sharing join), so the Generate lives
    # above the checkpoint: the downstream plan reads it as an RDD scan
    assert "Scan ExistingRDD" in plan


def test_oov_vocab_equijoin(spark, sf_dir):
    """The OOV audit joins eval tokens to the DISTINCT train
    vocabulary on the word equi-key — no window, no cartesian."""
    plan = physical_plan(QUERIES["text_oov_rate_heldout"](spark, sf_dir))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan


def test_cross_source_pairs_rides_candidate_path(spark, sf_dir):
    """The cross-source rollup rides the audited LSH candidate path:
    banded equi-joins + doc_id tag joins only; the bucket cap's
    window partitions by (band, key); no cartesian."""
    plan = physical_plan(
        QUERIES["dedup_cross_source_pairs"](spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    specs = set(re.findall(r"windowspecdefinition\((\w+)#", plan))
    assert specs <= {"band", "key"}


def test_pack_cap_sweep_bounded_groups(spark, sf_dir):
    """All |caps| folds ride the packer's (source, shard) grouping —
    every FlatMapGroupsInPandas is bounded by PACK_SHARD_SPAN docs;
    no cartesian; the per-cap summaries union."""
    plan = physical_plan(QUERIES["pack_cap_sweep"](spark, sf_dir))
    assert plan.count("MapInPandas") == len(
        __import__(
            "kafka_go_streamer_spark.plans.fidelity", fromlist=["x"]
        ).PACK_CAP_GRID
    )
    assert "FlatMapGroupsInPandas" not in plan
    assert "CartesianProduct" not in plan
    assert "Union" in plan


# ---------------------------------------------------------- round-15 wave


def test_compaction_economics_no_rescan_per_target(spark, sf_dir):
    """The per-file frame (one corpus scan) is pinned and shared by
    every target row: the plan must hold exactly ONE parquet scan of
    documents, with the target rows reading the checkpointed frame."""
    plan = physical_plan(
        QUERIES["storage_compaction_economics"](spark, sf_dir)
    )
    assert plan.count("Scan parquet") <= 1
    assert "Scan ExistingRDD" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_temperature_sweep_single_scan(spark, sf_dir):
    """The source-mass frame is pinned: one documents scan feeds all
    alpha rows; everything else is broadcast-scalar arithmetic."""
    plan = physical_plan(QUERIES["sample_temperature_sweep"](spark, sf_dir))
    assert plan.count("Scan parquet") <= 1
    assert "Scan ExistingRDD" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_norm_profile_codegen_no_python(spark, sf_dir):
    """The norm is a JVM higher-order fold: no Arrow stage, no window,
    one map-side-combinable aggregate."""
    plan = physical_plan(
        QUERIES["embedding_norm_profile_by_label"](spark, sf_dir)
    )
    assert "MapInPandas" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "Window" not in plan
    assert "Join" not in plan


def test_span_sensitivity_counts_tokens_once(spark, sf_dir):
    """Token counting is span-independent: the (id, source, tokens)
    triples are pinned, and (r16) the NESTED span grid folds through
    ONE MapInPandas over ONE hash exchange on the coarsest shard —
    one Arrow boundary crossing and one shuffle of the triples for
    the whole grid, ONE regex scan."""
    plan = physical_plan(
        QUERIES["pack_shard_span_sensitivity"](spark, sf_dir)
    )
    assert plan.count("Scan parquet") <= 1
    assert plan.count("MapInPandas") == 1
    assert "FlatMapGroupsInPandas" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_surface_shares_scored_and_assignment(spark, sf_dir):
    """The joint surface re-ranks the PINNED panel-sized frames: no
    cartesian anywhere, windows only partition by the query id (the
    top-10 cuts and centroid ranks), and every grid cell reads the
    checkpointed scored/assignment frames instead of re-scoring the
    corpus."""
    plan = physical_plan(
        QUERIES["ann_ivf_operating_surface"](spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    specs = set(re.findall(r"windowspecdefinition\((\w+)#", plan))
    assert specs <= {"q_id", "pq_id"}
    assert "Scan ExistingRDD" in plan


def test_quarantine_stage_emits_small_columns_only(spark, sf_dir):
    """The quarantine decode is ONE Arrow stage emitting (key, status,
    bytes) — blobs never cross to the JVM; the rollup is an aggregate
    over those three columns."""
    plan = physical_plan(
        QUERIES["multimodal_decode_quarantine"](spark, sf_dir)
    )
    assert plan.count("MapInPandas") == 1
    assert "CartesianProduct" not in plan


def test_weak_link_rides_candidate_path(spark, sf_dir):
    """The weak-link audit reuses the capped-band candidate machinery:
    window partitions only on (band, key) (the bucket cap), no
    cartesian anywhere in pairs + contraction + audit."""
    plan = physical_plan(QUERIES["dedup_weak_link_audit"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    specs = set(re.findall(r"windowspecdefinition\((\w+)#", plan))
    assert specs <= {"band", "key"}


def test_dimension_health_single_aggregate(spark, sf_dir):
    """posexplode then ONE map-side-combined aggregate on dim — no
    join, no window, no Python stage."""
    plan = physical_plan(
        QUERIES["embedding_dimension_health"](spark, sf_dir)
    )
    assert "Generate posexplode" in plan or "Generate" in plan
    assert "Join" not in plan
    assert "Window" not in plan
    assert "MapInPandas" not in plan


def test_payload_profile_single_pass(spark, sf_dir):
    """The router's case-when plus one aggregate — no join, no
    Python, one scan."""
    plan = physical_plan(
        QUERIES["route_topic_payload_profile"](spark, sf_dir)
    )
    assert "Join" not in plan
    assert "MapInPandas" not in plan
    assert plan.count("Scan parquet") == 1


def test_encoding_planner_column_pruned_scans(spark, sf_dir):
    """Each priced column reads exactly one column from the scan
    (ReadSchema pruned), aggregates map-side, unions — no join."""
    from kafka_go_streamer_spark.plans.frontier import (
        ENCODING_PLAN_COLUMNS,
    )

    plan = physical_plan(
        QUERIES["storage_column_encoding_planner"](spark, sf_dir)
    )
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("Scan parquet") == len(ENCODING_PLAN_COLUMNS)
    # every scan projects a single column
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        assert m.group(1).count(":") == 1


def test_effective_dimensionality_two_aggregates(spark, sf_dir):
    """Bounded posexplode into a (label, dim) aggregate, then a
    label-domain rollup — no join, no window, no Python stage."""
    plan = physical_plan(
        QUERIES["embedding_effective_dimensionality"](spark, sf_dir)
    )
    assert "Join" not in plan
    assert "Window" not in plan
    assert "MapInPandas" not in plan


def test_order_sensitivity_no_corpus_broadcast_hint(spark, sf_dir):
    """kept_a/kept_b are one row per SURVIVING document — O(corpus)
    frames. A user broadcast hint there is a guaranteed 100 TB failure
    (8 GB broadcast cap, driver assembly); the query must carry ZERO
    user hints and leave the doc_id-keyed joins to AQE. At sf fixtures
    AQE may still pick a runtime broadcast — that's fine; the pinned
    property is that WE never force one. Windows belong to the LSH
    bucket caps and the contraction only; no cartesian."""
    df = QUERIES["pipeline_dedup_order_sensitivity"](spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed
    assert "UnresolvedHint" not in analyzed
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    specs = set(re.findall(r"windowspecdefinition\((\w+)#", plan))
    assert specs <= {"band", "key"}


def test_bucket_cap_audit_no_self_join(spark, sf_dir):
    """The cap audit sizes buckets WITHOUT running the candidate
    self-join — one (band, key) aggregate after the signature build,
    no join on the band frame, no window."""
    plan = physical_plan(QUERIES["dedup_bucket_cap_audit"](spark, sf_dir))
    assert "Join" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_layout_chooser_pinned_barriers_and_bounded_joins(spark, sf_dir):
    """The chooser's heavy work happens ONCE behind pinned barriers
    (bounds scan + single fanned zone-map build); the final plan joins
    192-row zone maps against broadcast probe grids and <=3-row
    aggregate frames — zero parquet re-scans downstream, no
    SortMergeJoin, no raw cartesian, and the only window is the 3-row
    ranking."""
    df = QUERIES["storage_layout_chooser"](spark, sf_dir)
    plan = physical_plan(df)
    assert "Scan parquet" not in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
