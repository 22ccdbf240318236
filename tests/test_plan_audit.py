"""Physical-plan audits: the 100 TB questions, asserted.

Correctness says the answer is right; these say the PLAN is the one
you'd accept on a 1000-executor cluster — filters reach the scan,
small dims broadcast, top-k is bounded before the shuffle, and nothing
degenerates into a cartesian product.
"""

from __future__ import annotations

import pytest

from motorway_spark.queries import QUERIES

from tests.conftest import SF_SMOKE as SF


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF)
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


BENCH_LIKE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q10_returned_items",
    "q17_small_quantity",
    "q2_min_cost_supplier",
    "q21_waiting_supplier",
    "topk_per_group",
    "order_limit",
    "dedup_exact",
    "dedup_minhash",
    "text_quality",
]


@pytest.mark.parametrize("name", BENCH_LIKE)
def test_no_cartesian_product(spark, name):
    """No headline query may degenerate into CartesianProduct — the
    O(n²) shuffle that no cluster survives. (Broadcast nested-loop over
    an explicitly broadcast tiny side is acceptable and distinct.)"""
    assert "CartesianProduct" not in _plan(spark, name)


def test_q5_broadcasts_dimensions(spark):
    plan = _plan(spark, "q5_local_supplier")
    assert "BroadcastHashJoin" in plan  # dims broadcast, fact not shuffled for them


def test_q17_decorrelated_without_cartesian(spark):
    plan = _plan(spark, "q17_small_quantity")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_topk_uses_window_group_limit(spark):
    """row_number <= k must push the bound INTO the shuffle
    (WindowGroupLimit) — otherwise every group's full contents sort."""
    assert "WindowGroupLimit" in _plan(spark, "topk_per_group")


def test_order_limit_uses_take_ordered(spark):
    """ORDER BY + LIMIT must be TakeOrderedAndProject (per-partition
    top-k + driver merge), never a global sort."""
    assert "TakeOrderedAndProject" in _plan(spark, "order_limit")


def test_q1_filter_pushed_to_scan(spark):
    """The shipdate predicate must reach the parquet reader."""
    plan = _plan(spark, "q1_pricing_summary")
    pushed = [line for line in plan.splitlines() if "PushedFilters" in line]
    assert pushed and any("l_shipdate" in line for line in pushed)


def test_q6_prunes_columns(spark):
    """ReadSchema must carry only referenced columns, not all 11."""
    plan = _plan(spark, "q6_forecast_revenue")
    read = [line for line in plan.splitlines() if "ReadSchema" in line]
    assert read
    schema_line = read[0]
    assert "l_extendedprice" in schema_line
    assert "l_returnflag" not in schema_line  # unreferenced -> pruned


def test_q1_partial_aggregation(spark):
    """groupBy must be partial+final HashAggregate (map-side combine):
    the shuffle carries group states, not rows."""
    plan = _plan(spark, "q1_pricing_summary")
    assert plan.count("HashAggregate") >= 2


# ---------------------------------------------------------------------------
# Round-2 additions: timeseries / profiling families.
# ---------------------------------------------------------------------------
NEW_JOIN_QUERIES = [
    "range_join_point_in_interval",
    "range_join_interval_overlap",
    "topk_heavy_hitters",
    "q13_customer_distribution",
    "q16_parts_supplier",
    "q20_dominant_supplier",
    "fuzzy_join_levenshtein",
    "join_salted_skew",
    "sql_api_lateral_topn",
    "dedup_simhash",
]


@pytest.mark.parametrize("name", NEW_JOIN_QUERIES)
def test_new_joins_no_cartesian(spark, name):
    """Range joins et al. must ride equality keys (hash/sort-merge),
    never CartesianProduct — chunk bucketing exists precisely so the
    interval-overlap join has an equality key to hash on."""
    assert "CartesianProduct" not in _plan(spark, name)


def test_interval_overlap_is_joinless_sweep(spark):
    """r5: the overlap aggregates plan as a per-day window sweep — NO
    join node of any kind (the pair join it replaced was Θ(pairs), and
    the pair count is quadratic in per-day density: 99 s at sf1 vs
    1.3 s for the sweep). Window + hash-aggregate only."""
    plan = _plan(spark, "range_join_interval_overlap")
    assert "Join" not in plan  # no SortMergeJoin/ShuffledHashJoin/BNLJ/...
    assert "Window" in plan


def test_heavy_hitters_broadcast_semi_recount(spark):
    """Pass 2 recount must be a broadcast LEFT SEMI against the small
    candidate set — no full-cardinality shuffle of the fact table."""
    plan = _plan(spark, "topk_heavy_hitters")
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan


def test_profile_columns_two_independent_scans_no_expand_mix(spark):
    """The profiler must be TWO single-purpose scans (distinct pass +
    plain count/min/max pass, independent stages a cluster overlaps) —
    not a scan per column (the oracle's 6), and not ONE aggregate
    mixing distinct with plain aggs, whose RewriteDistinctAggregates
    Expand septuples the rows through the aggregate (measured 3.4x
    slower at sf0.1). The join of the two 1-row sides must stay a
    nested-loop over single rows, never a data-sized cartesian."""
    from motorway_spark.queries import QUERIES

    df = QUERIES["profile_columns"](spark, SF)
    simple = df._jdf.queryExecution().executedPlan().toString()
    assert simple.count("FileScan parquet") == 2
    # the distinct pass's Expand must carry only the group keys: no
    # plain-agg buffers mixed in (min/max of the data columns)
    expands = [l for l in simple.splitlines() if "Expand" in l]
    assert expands and all("min(" not in l and "max(" not in l for l in expands)
    assert "CartesianProduct" not in simple


def test_hypertable_rollup_reuses_hourly_exchange(spark):
    """The daily branch must re-aggregate the hourly exchange
    (ReusedExchange in the final adaptive plan), not re-scan raw
    events — the continuous-aggregate contract."""
    from motorway_spark.queries import QUERIES

    df = QUERIES["hypertable_rollup"](spark, SF)
    df.collect()  # AQE finalizes reuse at runtime
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final


def test_tfidf_topk_bounded_in_shuffle(spark):
    """The per-doc top-3 must push into the shuffle as WindowGroupLimit
    (rank bound applied before full per-group sort materialization),
    and the corpus joins must stay equality joins."""
    plan = _plan(spark, "text_tfidf_topterms")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_commonness_score_no_cartesian(spark):
    assert "CartesianProduct" not in _plan(spark, "text_commonness_score")


# ---------------------------------------------------------------------------
# Round-3 additions: sampling/packing family.
# ---------------------------------------------------------------------------
@pytest.mark.parametrize("name", ["sample_stratified_exact", "balance_classes"])
def test_sampling_caps_bounded_in_shuffle(spark, name):
    """Hash-ordered per-stratum caps must compile to WindowGroupLimit
    (per-group top-k heaps inside the shuffle) — a skewed stratum must
    not force a full per-group sort."""
    assert "WindowGroupLimit" in _plan(spark, name)


def test_pack_sequences_single_window_pass(spark):
    """Packing must be one scan + one hash shuffle on the shard key —
    no join, no cartesian, no second exchange for the final accounting
    (pack grouping rides the same shard partitioning)."""
    plan = _plan(spark, "pack_sequences")
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
    # one Exchange for the shard window; the groupBy(shard, pack_no)
    # partial-aggregates on the window's layout before any re-exchange
    assert plan.count("Exchange hashpartitioning") <= 2


def test_embedding_quantize_is_pure_map(spark):
    """Quantization must be one scan with ZERO exchanges — any shuffle
    in a per-row vector op is a planning bug."""
    plan = _plan(spark, "embedding_quantize_int8")
    assert "Exchange" not in plan
    simple = (
        QUERIES["embedding_quantize_int8"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert simple.count("FileScan parquet") == 1


def test_pipeline_pretraining_mix_no_cartesian(spark):
    """The composite chain joins only on doc_id/source keys."""
    plan = _plan(spark, "pipeline_pretraining_mix")
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# Round-4 additions: IVF-fixed ANN, decontamination, repetition, fuzzy join.
# ---------------------------------------------------------------------------
def test_sim_ann_ivf_fixed_probe_join_not_cartesian(spark):
    """The probe join must be a cell-equality hash join (tiny probe side
    broadcast or shuffled on the int key), never a cartesian — cells ARE
    the pruning mechanism."""
    plan = _plan(spark, "sim_ann_ivf_fixed")
    assert "CartesianProduct" not in plan


def test_decontam_broadcasts_eval_shingles(spark):
    """The held-out shingle set must broadcast (benchmarks are MBs
    against TBs of train data) so the train corpus is never shuffled
    for the match."""
    plan = _plan(spark, "decontam_ngram_overlap")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_text_repetition_topk_bounded_in_shuffle(spark):
    """The per-doc top-bigram selection must compile to WindowGroupLimit
    — a boilerplate doc with thousands of distinct bigrams must not
    force a full per-doc sort."""
    plan = _plan(spark, "text_repetition")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_fuzzy_join_blocks_are_hash_joins(spark):
    """All four PassJoin block joins must be equality hash/sort-merge
    joins on the block key; the quadratic form lives only in the DuckDB
    oracle."""
    plan = _plan(spark, "fuzzy_join_levenshtein")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# Round-4 additions (batch 2): data-quality family, containment, SQL sugar.
# ---------------------------------------------------------------------------
def test_dq_checks_anti_joins_and_no_cartesian(spark):
    """FK integrity must be key-only LEFT ANTI joins; the report
    assembly cross-joins ONE-ROW aggregates only (broadcast nested loop
    over single rows) — never a data-sized CartesianProduct."""
    plan = _plan(spark, "dq_checks")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_anomaly_zscore_broadcasts_stats(spark):
    """Per-type stats (|event_type| rows) must broadcast back onto the
    hourly counts — flagging must not re-shuffle the hourly table."""
    plan = _plan(spark, "events_anomaly_zscore")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_agg_histogram_single_pass_partial_agg(spark):
    """Fixed-edge binning must be ONE scan with partial+final hash
    aggregation — no min/max pre-pass, no second exchange."""
    plan = _plan(spark, "agg_histogram")
    assert plan.count("HashAggregate") >= 2
    simple = (
        QUERIES["agg_histogram"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert simple.count("Exchange hashpartitioning") == 1
    assert simple.count("FileScan parquet") == 1


def test_fn_try_arith_is_pure_map(spark):
    """The TRY surface is a projection+filter: zero exchanges."""
    assert "Exchange" not in _plan(spark, "fn_try_arith")


def test_dedup_containment_equality_joins_only(spark):
    """Candidate generation and the exact recount must ride
    shingle/doc-id equality joins (hash or sort-merge) — the quadratic
    all-pairs form must never appear."""
    plan = _plan(spark, "dedup_containment")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_group_by_all_broadcasts_dims(spark):
    plan = _plan(spark, "sql_api_group_by_all")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_hive_partitioned_scan_prunes_partitions(spark):
    """The event_type predicate must land in PartitionFilters (pruned
    directories never listed), NOT as a data filter on file bytes."""
    df = QUERIES["scan_hive_partitioned"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "event_type" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]


def test_asof_nearest_single_exchange_no_join(spark):
    """Both direction frames must ride ONE user_id exchange — no
    self-join, no second shuffle."""
    plan = _plan(spark, "asof_join_nearest")
    assert "Join" not in plan
    simple = (
        QUERIES["asof_join_nearest"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert simple.count("Exchange hashpartitioning") == 1


def test_mode_deterministic_is_two_level_hash_agg(spark):
    """MAX(struct(n, value)) must stay hash aggregation with map-side
    combine — no window sort for the tiebreak."""
    plan = _plan(spark, "agg_mode_deterministic")
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2


def test_null_safe_join_is_hash_join(spark):
    """EqualNullSafe is an equi-key: the join must plan hash/broadcast,
    never a nested loop over the null-keyed rows."""
    plan = _plan(spark, "join_null_safe")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert any(j in plan for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"))


def test_geo_radius_join_is_cell_equality_hash_join(spark):
    """The radius join must ride (cellx, celly) equality — hash or
    sort-merge — with the 9-offset explode on one side only; the
    quadratic form lives in the oracle."""
    plan = _plan(spark, "geo_radius_join")
    assert "CartesianProduct" not in plan
    assert any(j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))


def test_geo_knn_rank_bounded_in_shuffle(spark):
    plan = _plan(spark, "geo_knn_within_radius")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# Round-4 analytics additions: KPI / stats / basket / gap-fill shapes.
# ---------------------------------------------------------------------------
@pytest.mark.parametrize(
    "name",
    [
        "events_funnel",
        "events_retention_cohorts",
        "events_markov_transitions",
        "orders_rfm_segmentation",
        "agg_gini",
        "agg_corr_regression",
        "agg_skew_kurtosis",
        "basket_brand_affinity",
        "nation_revenue_yoy",
        "events_dau_wau",
        "events_gap_fill_lerp",
        "events_anomaly_seasonal",
        "win_running_distinct",
        "win_time_interval_frame",
    ],
)
def test_analytics_family_no_cartesian(spark, name):
    """None of the KPI/statistics family may plan a CartesianProduct;
    their only nested-loop joins are broadcasts of constant-sized
    sides (7-row day offsets, 9-cell neighborhoods, 1-row totals)."""
    assert "CartesianProduct" not in _plan(spark, name)


def test_markov_single_user_exchange(spark):
    """The transition matrix must be ONE lag window pass (one user_id
    exchange) + the final small aggregate — no join."""
    simple = (
        QUERIES["events_markov_transitions"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in simple


def test_corr_and_moments_single_scan(spark):
    """Moment-sum statistics must be one scan with partial+final hash
    aggregation — the mergeable-sufficient-statistic shape."""
    for name in ("agg_corr_regression", "agg_skew_kurtosis"):
        simple = (
            QUERIES[name](spark, SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert simple.count("FileScan parquet") == 1, name
        assert "Join" not in simple, name


def test_url_canonical_prunes_text_column(spark):
    """r5: dedup_url_canonical derives URLs from (doc_id, source) only —
    the scan must prune the (much larger) text column, and the distinct
    count must not Expand-multiply the aggregate."""
    plan = _plan(spark, "dedup_url_canonical")
    read = [line for line in plan.splitlines() if "ReadSchema" in line]
    assert read and "text" not in read[0]
    assert "doc_id" in read[0] and "source" in read[0]


def test_embedding_quality_stats_single_scan_map_side_combine(spark):
    """r5: the vector QA gate is one pruned scan + partial/final hash
    aggregate — nothing else."""
    plan = _plan(spark, "embedding_quality_stats")
    read = [line for line in plan.splitlines() if "ReadSchema" in line]
    assert len(read) == 1 and "embedding" in read[0] and "vec_id" not in read[0]
    assert plan.count("HashAggregate") >= 2  # map-side combine
    assert "Join" not in plan


def test_random_projection_pure_map(spark):
    """r5: embedding_random_projection is a pure per-row map — the
    projection matrix lives in the plan as literals, so there must be
    NO exchange, join, or broadcast; the scan prunes the label column."""
    plan = _plan(spark, "embedding_random_projection")
    read = [line for line in plan.splitlines() if "ReadSchema" in line]
    assert len(read) == 1 and "embedding" in read[0] and "label" not in read[0]
    assert "Exchange" not in plan and "Join" not in plan


def test_path_topk_single_window_bounded_sort(spark):
    """r5: events_path_topk's two leads share one window spec (ONE
    Window operator), the path aggregate map-side combines, and the
    top-10 is a bounded TakeOrderedAndProject — never a global sort."""
    simple = (
        QUERIES["events_path_topk"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert simple.count("Window ") == 1
    assert simple.count("HashAggregate") >= 2  # partial + final
    assert "TakeOrderedAndProject" in simple
    assert "Sort [n_paths" not in simple  # no full global sort


def test_chunk_dedup_fingerprint_shuffle(spark):
    """r5: dedup_chunk_global's keep-first ranking must shuffle on the
    md5 fingerprint (narrow 32-char key), not on chunk text, and the
    survivor join back to text must be a LeftSemi."""
    plan = _plan(spark, "dedup_chunk_global")
    assert "hashpartitioning(fp" in plan
    assert "LeftSemi" in plan


def test_importance_sampling_prunes_unused_columns(spark):
    """r5: sample_importance_weighted derives everything from
    (doc_id, text, source) — the scans must prune lang and n_chars, and
    no branch may read the documents file more than twice (scored feeds
    the population and kept branches)."""
    plan = _plan(spark, "sample_importance_weighted")
    reads = [line for line in plan.splitlines() if "ReadSchema" in line]
    assert reads and all("lang" not in r and "n_chars" not in r for r in reads)
    assert len(reads) <= 2  # population + kept branches, nothing more


def test_pagerank_iterations_run_from_cache(spark):
    """r5: after the eager edge-list persist, the returned PageRank
    plan must execute entirely from the InMemoryRelation — zero parquet
    scans in the iteration/rollcall DAG (the orders x lineitem scan
    happened exactly once, at fill time)."""
    plan = _plan(spark, "graph_pagerank_bipartite")
    assert "InMemoryTableScan" in plan
    # the outer plan re-reads nothing from disk; TakeOrdered bounds top-k
    outer = plan.split("InMemoryRelation", 1)[0]
    assert "Scan parquet" not in outer
    assert "TakeOrderedAndProject" in plan


def test_corpus_curation_scan_pruning(spark):
    """r5: the curation pipeline reads documents pruned to
    (doc_id, lang, source, text) — n_chars never travels — and
    embeddings pruned to (vec_id, embedding) — label never travels."""
    plan = _plan(spark, "pipeline_corpus_curation")
    reads = [line for line in plan.splitlines() if "ReadSchema" in line]
    assert reads
    assert all("n_chars" not in r and "label" not in r for r in reads)


def test_bloom_incremental_is_broadcast_only(spark):
    """dedup_bloom_incremental's whole point is that nothing wide
    shuffles: the bounded position set and the candidate set ride
    broadcast joins; a SortMergeJoin or cartesian here would mean the
    prefilter bought nothing."""
    plan = _plan(spark, "dedup_bloom_incremental")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_range_search_has_no_post_fanout_exchange(spark):
    """sim_range_search = knn minus the top-k window: after the corpus
    fan-out repartition there must be NO further exchange (the radius
    predicate filters in-stage; queries ride a broadcast)."""
    plan = _plan(spark, "sim_range_search")
    # the only exchanges are the deliberate round-robin fan-out and the
    # query-side broadcast: no key-hash shuffle exists anywhere (top-k's
    # window would have needed one — the radius form doesn't)
    assert "hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_bm25_topk_bounded_and_broadcast(spark):
    """text_bm25_topk: the corpus-stat frames (df per query term, the
    1-row totals) must broadcast — never shuffle the token stream
    against them — and the top-k must be TakeOrderedAndProject, not a
    global sort; the rank window then runs over exactly k rows."""
    plan = _plan(spark, "text_bm25_topk")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_triangle_count_no_cartesian(spark):
    """graph_triangle_count: every join is key-equality (order, node,
    (a,b) pair); the degree-orientation must not smuggle in a cartesian
    or nested-loop pairing."""
    plan = _plan(spark, "graph_triangle_count")
    assert "CartesianProduct" not in plan
    # the 4 scalar counts combine via 1-row broadcast nested loops —
    # that's the acceptable kind; key joins must be hash joins
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan


def test_dedup_funnel_counts_run_from_cache(spark):
    """pipeline_dedup_funnel: the four ledger counts must read the
    persisted survivor frames (InMemoryTableScan), not re-run the
    keep-first shuffle per branch; no cartesian beyond the 1-row
    ledger combination."""
    plan = _plan(spark, "pipeline_dedup_funnel")
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan


def test_market_basket_supports_broadcast(spark):
    """orders_market_basket_rules: the per-part support tables are
    vocabulary-sized and must ride broadcast joins; pair generation is
    in-row (no self-join), so no cartesian may appear beyond the 1-row
    corpus-total combine."""
    plan = _plan(spark, "orders_market_basket_rules")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name", ["orders_market_basket_rules", "basket_brand_affinity"]
)
def test_basket_support_joins_broadcast_via_aqe_not_hint(spark, name):
    """The vocabulary-sized support/marginal tables carry NO forced
    broadcast hint (a hint would OOM at a 100M-item catalog); AQE must
    still pick a broadcast join at fixture scale from measured sizes.
    Asserted on the FINAL adaptive plan, after execution."""
    df = QUERIES[name](spark, SF)
    df.collect()  # finalize THIS queryExecution's adaptive plan
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    assert "BroadcastHashJoin" in final or "BroadcastQueryStage" in final
    # and the fact side never degenerates into a cartesian product
    assert "CartesianProduct" not in final


@pytest.mark.parametrize(
    "name",
    [
        "sim_ann_ivf_lloyd",
        "cluster_kmeans_lloyd",
        "events_twap_daily",
        "win_ewma_finite",
        "events_forecast_seasonal_naive",
        "dq_benford_first_digit",
    ],
)
def test_round7_ops_no_cartesian(spark, name):
    """Round-7 operators: no CartesianProduct anywhere — the kmeans
    pair carries its codebook in the mapInPandas closure (not a join),
    the ANN probe is a broadcast cell-equality join, TWAP/EWMA are one
    window exchange, Benford's total is an explicitly broadcast 1-row
    frame."""
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan


def test_twap_single_window_exchange(spark):
    """events_twap_daily: exactly ONE exchange feeds the lag window
    (hashpartitioning on user_id); the (user, day) aggregate reuses
    partial aggregation — no second full shuffle of raw rows beyond
    the agg's own exchange."""
    plan = _plan(spark, "events_twap_daily")
    assert plan.count("Window") >= 1
    # the window's exchange partitions by user_id
    assert "hashpartitioning(user_id" in plan


@pytest.mark.parametrize(
    "name", ["agg_histogram_equidepth", "orders_rfm_segments"]
)
def test_distributed_ntile_reuses_one_range_exchange(spark, name):
    """distributed_ntile's correctness rests on BOTH consumers (the
    per-partition count branch and the rank branch) reading the SAME
    execution of the range exchange — RangePartitioner samples its
    boundaries per execution, so a re-executed exchange could
    repartition differently and silently mismatch the offsets. The
    final adaptive plan must show the exchange REUSED, not duplicated."""
    df = QUERIES[name](spark, SF)
    df.collect()  # finalize the adaptive plan
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    assert "ReusedExchange" in final or "ReusedQueryStage" in final


def test_distributed_ntile_runtime_guard_in_plan(spark):
    """Beyond the ReusedExchange audit, the helper carries an IN-PLAN
    runtime guard (__pos < __c raises on violation) that makes a
    silently-wrong bucket impossible even if a future call site or
    config defeats exchange reuse. Pin that the guard survives into
    the analyzed plan (i.e. wasn't pruned with its column)."""
    from pyspark.sql import functions as F

    from motorway_spark.queries.helpers import distributed_ntile

    df = spark.range(100).withColumn("v", F.col("id") * 7 % 31)
    out = distributed_ntile(df, 4, ["v", "id"], "bucket")
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "raise_error" in analyzed
    # positive path executes clean and buckets are exact quartiles
    sizes = sorted(
        r["n"]
        for r in out.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    assert sizes == [25, 25, 25, 25]


def test_grid_sketch_partial_aggregation(spark):
    """agg_percentile_grid_sketch: the per-(flag, bucket) count must be
    a two-phase hash aggregate (map-side partial combine) so only
    groups x 1024 counter rows cross the shuffle — the mergeability
    that makes the sketch a sketch."""
    plan = _plan(spark, "agg_percentile_grid_sketch")
    assert plan.count("HashAggregate") >= 2  # partial + final
    # the grid expression stays codegen'd integer arithmetic, no UDF
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pq_adc_broadcasts_tables_and_queries(spark):
    """sim_ann_pq_adc: the ADC lookup table (2,560 rows) and the query
    vectors (20 rows) must BROADCAST — shuffling the n-row code table
    against them would be the wrong plan at any scale. The per-
    candidate path (explode + join + integer sum) stays JVM-side; the
    only Python is the one encode pass."""
    import re

    plan = _plan(spark, "sim_ann_pq_adc")
    assert plan.count("BroadcastExchange") >= 2
    # exactly ONE MapInPandas node (formatted explain prints each node
    # in both the tree and the details section — count distinct ids)
    assert len(set(re.findall(r"\((\d+)\) MapInPandas", plan))) == 1


def test_attribution_single_user_key_exchange(spark):
    """events_attribution_touch: conversions and touches meet in ONE
    user-keyed join (SortMergeJoin or shuffled hash — either is the
    per-user shape); credit picks are hash aggregates, not windows, so
    no global sort anywhere."""
    plan = _plan(spark, "events_attribution_touch")
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "Window" not in plan  # struct extremes, not row_number


def test_ivfpq_broadcasts_probe_and_tables_no_cartesian(spark):
    """sim_ann_ivfpq: the probe list, ADC table, and query vectors all
    BROADCAST (candidate generation must never shuffle the corpus
    against 20-row sides), and nothing in the composed plan degenerates
    into a cartesian product."""
    plan = _plan(spark, "sim_ann_ivfpq")
    assert plan.count("BroadcastExchange") >= 3
    assert "CartesianProduct" not in plan


def test_pq_lloyd_training_encodes_at_most_twice(spark, monkeypatch):
    """sim_ann_pq_lloyd: the round-8 verdict's one weak entry — the
    per-subspace trainer ran 8 separate collects over an UNPERSISTED
    encode output, re-running the full pass-1 encode each time (~9
    encode executions where 2 do). The trainer is now one fused
    (s, code) stats pass, so the whole query executes the Python
    encode EXACTLY twice: pass 1 (the kernel's stats mode) inside the
    training aggregate, pass 2 (its codes mode) for the ADC scan.
    Counted with an accumulator bumped once per partition-task of the
    one nearest-codeword kernel, whatever its mode."""
    from motorway_spark.queries import similarity as sim
    from motorway_spark.queries.helpers import scale_partitions

    acc = spark.sparkContext.accumulator(0)
    real_kernel = sim._nn_kernel

    def counting_kernel(*args, **kwargs):
        fn, schema = real_kernel(*args, **kwargs)

        def wrapper(batches):
            acc.add(1)  # one per partition-task per execution
            yield from fn(batches)

        return wrapper, schema

    monkeypatch.setattr(sim, "_nn_kernel", counting_kernel)
    df = sim.sim_ann_pq_lloyd(spark, SF)
    assert df.count() > 0
    npart = scale_partitions(spark, SF, "embeddings")
    # 2 executions x npart partition-tasks of the repartitioned corpus
    # (task retries could only push it over by a failure, which local
    # runs don't have); a third execution of either pass exceeds it
    assert acc.value <= 2 * npart, (
        f"encode ran {acc.value} partition-tasks; expected at most "
        f"2 executions x {npart} partitions"
    )


def test_ivfpq_residual_broadcasts_and_no_cartesian(spark):
    """sim_ann_ivfpq_residual: same physical discipline as the raw
    operator — the probe list, per-cell ADC tables, and query vectors
    all BROADCAST (the corpus never shuffles against 20-row sides) and
    nothing in the residual chain degenerates into a cartesian
    product. The cell-aware table join stays a broadcast integer
    lookup."""
    plan = _plan(spark, "sim_ann_ivfpq_residual")
    assert plan.count("BroadcastExchange") >= 3
    assert "CartesianProduct" not in plan
