"""Physical-plan quality gates — the 100 TB scale contract.

Each assertion pins a plan property that matters at 1000-executor scale:
filters reaching the parquet scan, column pruning, broadcast joins for
dims, map-side partial aggregation, TakeOrderedAndProject for top-k.
A regression here means a query silently became a full-scan / shuffle
monster even though results stay correct.
"""

from __future__ import annotations

import __spark_entry__ as entry_mod

from .conftest import SF_DIR


def plan_of(spark, name: str) -> str:
    df = entry_mod.queries()[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(spark, name: str) -> str:
    df = entry_mod.queries()[name](spark, SF_DIR)
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "scan_filter_project")
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_quantity)" in plan or "GreaterThan(l_quantity" in plan


def test_column_pruning_reaches_scan(spark):
    plan = plan_of(spark, "scan_filter_project")
    # ReadSchema must not include unused wide columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" not in read_schema
    assert "l_shipdate" not in read_schema


def test_dim_joins_broadcast(spark):
    plan = plan_of(spark, "chained_join_agg")
    # nation + region (and supplier under AQE thresholds) broadcast
    assert plan.count("BroadcastHashJoin") >= 2
    plan2 = plan_of(spark, "part_promo")
    assert "BroadcastHashJoin" in plan2
    assert "SortMergeJoin" not in plan2


def test_groupby_has_partial_aggregation(spark):
    plan = plan_of(spark, "groupby_agg")
    # partial (map-side) + final aggregate = two HashAggregate levels
    assert plan.count("HashAggregate") >= 2


def test_topk_uses_take_ordered(spark):
    plan = plan_of(spark, "topk")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_limit_offset_no_full_sort_shuffle(spark):
    plan = plan_of(spark, "limit_offset")
    # ordered pagination over a unique key: rangepartition sort is fine,
    # but the limit must appear (no unbounded materialization)
    assert "GlobalLimit" in plan or "CollectLimit" in plan or "TakeOrdered" in plan


def test_semi_anti_join_planned_as_joins(spark):
    assert "LeftSemi" in optimized_of(spark, "semi_join")
    assert "LeftAnti" in optimized_of(spark, "anti_join")


def test_whole_stage_codegen_active(spark):
    # AQE finalizes the plan only at execution; run the query, then read
    # the executed plan for codegen spans.
    df = entry_mod.queries()["groupby_agg"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # codegen'd operators carry the "*(n)" stage prefix
    assert "*(1)" in plan or "*(2)" in plan or "WholeStageCodegen" in plan


def test_minhash_plan_has_single_shuffle_per_side(spark):
    """LSH banding: the only exchanges should be for the bucket join and
    the dedup — no cartesian product anywhere."""
    plan = plan_of(spark, "minhash_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_single_shuffle(spark):
    """As-of = union + running window: exactly one hash Exchange (on the
    key), never a range-join explosion."""
    plan = plan_of(spark, "asof_join")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_order_priority_semi_join_hash(spark):
    """Non-equi residual must ride a hash semi join, not a nested loop."""
    plan = plan_of(spark, "order_priority")
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_date_filter_pushdown(spark):
    plan = plan_of(spark, "order_priority")
    assert "PushedFilters" in plan and "o_orderdate" in plan.split(
        "PushedFilters")[1].splitlines()[0]


def test_market_share_all_dims_broadcast(spark):
    """Q8 shape: seven joins, but only orders is big enough to shuffle —
    part/customer/nation/region/supplier must all broadcast."""
    plan = plan_of(spark, "market_share")
    assert plan.count("BroadcastHashJoin") >= 5
    assert "CartesianProduct" not in plan
    # the only sort-merge candidate is lineitem ⋈ orders
    assert plan.count("SortMergeJoin") <= 1


def test_top_supplier_scalar_max_broadcasts(spark):
    """Q15 shape: the 1-row MAX side must come back as a broadcast, never
    a shuffle of the aggregated side."""
    plan = plan_of(spark, "top_supplier")
    assert "BroadcastHashJoin" in plan
    # date filter pushed to the fact scan
    assert "l_shipdate" in plan.split("PushedFilters")[1].splitlines()[0]


def test_small_qty_decorrelated_avg_broadcasts(spark):
    """Q17 shape: the per-part AVG subquery must broadcast back onto the
    brand-filtered fact, and the brand filter must reach the part scan."""
    plan = plan_of(spark, "small_qty_revenue")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "p_brand" in plan


def test_prospects_anti_join_hash(spark):
    plan = plan_of(spark, "prospects")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_hash_sample_single_stage(spark):
    """Deterministic sampling is a pure map-side filter: no hash/range
    shuffle anywhere (the only allowed Exchange is the round-robin
    ensure_parallelism repartition for single-row-group test parquet),
    and the filter must run below it, in the scan stage."""
    plan = plan_of(spark, "hash_sample")
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    scan_stage = plan.split("Exchange")[-1]
    assert "Filter" in scan_stage and "pmod" in scan_stage


def test_shipping_priority_takeordered_and_pushdown(spark):
    """Q3 shape: segment/date filters reach the scans, customer
    broadcasts, and the top-10 is a TakeOrdered, never a full sort."""
    plan = plan_of(spark, "shipping_priority")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "GreaterThan(l_shipdate" in plan
    assert "LessThan(o_orderdate" in plan


def test_revenue_forecast_pure_scan_agg(spark):
    """Q6 shape: every predicate scan-pushed, partial+final aggregate,
    no join anywhere."""
    plan = plan_of(spark, "revenue_forecast")
    assert "Join" not in plan
    pushed = plan.split("PushedFilters")[1].splitlines()[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed \
        and "l_quantity" in pushed
    assert plan.count("HashAggregate") == 2


def test_brand_revenue_disjunction_pushes_envelope(spark):
    """Q19 shape: the OR-of-conjunctions must still push the l_quantity
    envelope into the fact scan, and part must broadcast."""
    plan = plan_of(spark, "brand_revenue")
    assert "BroadcastHashJoin" in plan
    pushed = plan.split("PushedFilters")[1].splitlines()[0]
    assert "Or(" in pushed and "l_quantity" in pushed


def test_waiting_suppliers_single_fact_shuffle(spark):
    """Q21 shape: the exists/not-exists decorrelation must shuffle the
    fact table exactly once — hash(l_orderkey) feeds both the pair
    aggregate and the order window with no extra exchange."""
    plan = plan_of(spark, "waiting_suppliers")
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 2  # fact + tiny final agg


def test_local_volume_one_fact_shuffle(spark):
    """Q5 shape: region/nation/customer/supplier all broadcast; the only
    big-table exchange is lineitem⋈orders plus the final small agg."""
    plan = plan_of(spark, "local_volume")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    # order-year filter must reach the orders side of the plan
    assert "o_orderdate" in plan


def test_profit_by_nation_broadcasts_filtered_part(spark):
    """Q9 shape: the p_type filter prunes part BEFORE broadcast, so the
    fact rows drop at the first join, not at the agg."""
    plan = plan_of(spark, "profit_by_nation")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "EqualTo(p_type,STANDARD)" in plan


def test_stock_value_scalar_total_broadcast(spark):
    """Q11 shape (r9): the global-total scalar arrives via the house
    1-row broadcast-HASH join (attach_scalars), never a
    BroadcastNestedLoopJoin or a shuffled join; the part count comes
    from the per-part aggregate, so no distinct-Expand is planned."""
    plan = plan_of(spark, "stock_value")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    assert "Expand" not in plan


def test_promo_share_partial_agg_after_broadcast(spark):
    """Q14 shape: part broadcasts; shipdate-year filter reaches the fact
    scan; two HashAggregate levels (map-side partial)."""
    plan = plan_of(spark, "promo_share")
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") == 2
    assert "l_shipdate" in plan.split("PushedFilters")[1].splitlines()[0]


def test_supplier_cnt_anti_join_broadcast(spark):
    """Q16 shape: NOT-IN complaints list is tiny — must plan as a
    broadcast anti join, not a shuffle."""
    plan = plan_of(spark, "supplier_cnt")
    assert "BroadcastHashJoin LeftAnti" in plan or (
        "LeftAnti" in plan and "BroadcastExchange" in plan)


def test_decontaminate_benchmark_broadcasts(spark):
    """Decontamination: the benchmark shingle set must broadcast — the
    100 TB training side joins without shuffling its exploded grams."""
    plan = plan_of(spark, "decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_funnel_reuses_user_partitioning(spark):
    """Funnel: the three per-user stages must share hash(user_id)
    partitioning — joins between them add no extra fact exchange beyond
    one per step (3 aggs + 2 joins + 3 single-row finals ≤ 8 total) and
    never degrade to nested loops."""
    plan = plan_of(spark, "funnel")
    assert "CartesianProduct" not in plan.replace(
        "BroadcastNestedLoopJoin", "")  # 1-row crossJoins broadcast
    assert plan.count("Exchange hashpartitioning") <= 8


def test_percentiles_single_shuffle(spark):
    """Exact percentiles: one hash exchange on the group key feeds the
    sort-based aggregate; no range shuffle, no join."""
    plan = plan_of(spark, "percentiles")
    assert "Join" not in plan.replace("BroadcastNestedLoopJoin", "") \
        or "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Exchange rangepartitioning" not in plan


def test_range_band_is_hash_join_not_nested_loop(spark):
    """range_join's bucketed form: the interval condition compiles to an
    equi join — no BroadcastNestedLoopJoin, no CartesianProduct."""
    plan = plan_of(spark, "range_band")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan or "BroadcastHashJoin" in plan


def test_ngram_jaccard_candidates_no_cartesian(spark):
    """Two-stage near-dup: the exact-verify stage joins LSH candidates,
    never all pairs."""
    plan = plan_of(spark, "ngram_jaccard")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tfidf_partial_aggs_no_cartesian(spark):
    """tf and df both partially aggregate map-side; N rides as a 1-row
    broadcast EQUI join onto the vocabulary-sized df table (r16; was an
    eager per-execution count job), so no nested-loop/cartesian appears
    and the operator submits zero jobs at call time."""
    plan = plan_of(spark, "tfidf")
    assert plan.count("HashAggregate") >= 4  # tf partial+final, df partial+final
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # the 1-row N relation


def test_runtime_bloom_filter_injects_on_shuffle_join(spark):
    """AQE runtime filters: when a selective dim filter feeds a shuffle
    join, Spark injects a bloom-filter semi-reduction (`might_contain`)
    into the fact-side scan — at 100 TB this prunes most of the probe
    shuffle. Locally the fact table sits under the application-side scan
    threshold, so the gate lowers it to prove the engine-level contract
    (the session keeps bloom filters enabled, Spark's default)."""
    from pyspark.sql import functions as F

    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
        == "true"
    )
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter"
            ".applicationSideScanSizeThreshold", "0")
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        part = spark.read.parquet(f"{SF_DIR}/part.parquet").filter(
            F.col("p_size") == 1)
        j = li.join(part, li.l_partkey == part.p_partkey)
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter"
            ".applicationSideScanSizeThreshold")


def test_dataset_split_and_sample_are_scan_level(spark):
    """Sampling/splitting must stay pure arithmetic: no shuffle except the
    summary agg (dataset_split) / none at all (stratified_sample)."""
    plan = plan_of(spark, "stratified_sample")
    assert "Exchange" not in plan  # filter only — no shuffle anywhere
    plan2 = plan_of(spark, "dataset_split")
    assert plan2.count("Exchange hashpartitioning") <= 1  # only the groupBy


def test_histogram_single_exchange_pushed_range(spark):
    """Bin arithmetic is scan-level: the range filter reaches the parquet
    scan and the only shuffle is the bin-count aggregation."""
    plan = plan_of(spark, "histogram")
    assert plan.count("Exchange") == 1
    # column-pruned scan (single column) with the range reaching the scan
    assert "FileScan parquet [o_totalprice#" in plan
    assert ">= 0.0" in plan and "< 600000.0" in plan


def test_pack_documents_reuses_window_partitioning(spark):
    """The summary groupBy(bucket, pack_id) must ride the bucket-window
    exchange (hash partitioning on bucket satisfies the agg's clustered
    distribution) — one shuffle total, and the id bound is pushed."""
    plan = plan_of(spark, "pack_documents")
    assert plan.count("Exchange") == 1
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,200)]" in plan


def test_inverted_index_single_token_shuffle(spark):
    """collect_set dedupes inside the aggregation: no separate distinct
    exchange, just the token-keyed shuffle with partial aggregation."""
    plan = plan_of(spark, "inverted_index")
    assert plan.count("Exchange") == 1
    assert plan.count("HashAggregate") == 2  # partial + final


def test_bloom_join_native_is_jvm_only(spark):
    """bloom_semi_join's default (native) strategy: the semi join stays
    a hash join with ZERO Python in the plan — pruning belongs to
    Spark's injected runtime bloom filter (see
    test_runtime_bloom_filter_injects_on_shuffle_join for the injection
    contract itself). The explicit numpy-probe path is pinned separately
    in test_incremental_dedup_probe_is_arrow_batched."""
    plan = plan_of(spark, "bloom_join")
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_incremental_dedup_probe_is_arrow_batched(spark):
    """The cross-stage bloom (incremental_dedup) keeps the portable
    explicit path: exactly one MapInPandas probe, no cartesian."""
    plan = plan_of(spark, "incremental_dedup")
    assert plan.count("MapInPandas") == 1
    assert "CartesianProduct" not in plan


def test_kmeans_update_is_partial_agg_one_exchange(spark):
    """The posexplode-based centroid update must keep its claimed scale
    shape: Generate(posexplode) feeding a map-side partial aggregate, a
    SINGLE exchange carrying only (cell, dim) partial sums — raw vectors
    never shuffle, and the expression count is dim-independent."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    sums = (
        df.withColumn("_cell", F.lit(0))
        .select("_cell", F.posexplode(F.col("embedding")).alias("_i", "_x"))
        .groupBy("_cell", "_i")
        .agg(F.count(F.lit(1)).alias("_n"),
             F.sum(F.col("_x").cast("double")).alias("_s"))
    )
    plan = sums._jdf.queryExecution().executedPlan().toString()
    assert "Generate" in plan
    assert "partial_sum" in plan  # map-side combine below the shuffle
    assert plan.count("Exchange") == 1
    # the shuffled payload is the exploded scalar, not the vector column
    exchange_and_above = plan.split("Generate")[0]
    assert "embedding" not in exchange_and_above


def test_weighted_sample_is_scan_level(spark):
    """Per-row weighted sampling must stay a pure filter: zero exchanges,
    no joins — the survive/drop decision is scan-side arithmetic."""
    plan = plan_of(spark, "weighted_sample")
    assert plan.count("Exchange") == 0
    assert "Join" not in plan


def test_timeseries_plans_have_no_cartesian(spark):
    """Spine and cohort joins must stay keyed (hash/broadcast) — a
    cartesian spine x aggregate would explode at scale."""
    for name in ("gap_fill", "cohort_retention"):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    assert plan_of(spark, "gap_fill").count("Exchange") <= 3
    assert plan_of(spark, "cohort_retention").count("Exchange") <= 4


def test_incremental_dedup_prunes_before_joins(spark):
    """The bloom probe must precede the exact joins; both closure joins
    stay hash joins (no nested loop for the fingerprint matching)."""
    plan = plan_of(spark, "incremental_dedup")
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_line_dedup_hot_set_anti_join_no_cartesian(spark):
    """Corpus line dedup must remove hot lines via a keyed anti join
    against the over-threshold fingerprint set (broadcastable at scale),
    never a cartesian; the frequency shuffle groups on the fixed-width
    fingerprint128 xxhash64 pair (r16; was md5 hex), not raw line
    text."""
    plan = plan_of(spark, "line_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftAnti" in plan
    assert "xxhash64" in plan and "md5" not in plan  # r16 narrow key
    # line-freq count + reassembly + id join back: bounded exchange count
    assert plan.count("Exchange hashpartitioning") <= 4


def test_source_cap_single_window_shuffle(spark):
    """The per-group quota is ONE row_number window shuffle on the group
    key — no extra exchanges, no join."""
    plan = plan_of(spark, "source_cap")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "RunningWindowFunction" in plan or "Window" in plan
    assert "Join" not in plan


def test_gopher_rules_is_scan_level(spark):
    """The quality rule battery is pure scan-level expression work: no
    keyed shuffle (only the ensure_parallelism round-robin spread for the
    regex-heavy map), zero joins, no Python."""
    plan = plan_of(spark, "gopher_rules")
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "Join" not in plan
    assert "Pandas" not in plan and "PythonUDF" not in plan


def test_segment_overlap_no_exact_distinct_expand(spark):
    """The theta path must never materialize exact distincts: each side
    reduces to ONE sketch via partial aggregation (SinglePartition
    exchange of sketch state, not raw keys), and the filters reach the
    scan."""
    plan = plan_of(spark, "segment_overlap")
    assert "Expand" not in plan
    assert "theta_sketch_agg" in plan
    assert plan.count("partial_theta_sketch_agg") == 2
    assert "PushedFilters: [IsNotNull(event_type), IsNotNull(value)" in plan


def test_dup_spans_hot_set_broadcast_no_cartesian(spark):
    """ExactSubstr-style span discovery: the corpus-hot shingle set is
    Zipf-small, so tagging positions must be a broadcast equi join (never
    a shuffle of the full shingle stream twice, never a cartesian), and
    span merging is a per-doc window."""
    plan = plan_of(spark, "dup_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "Window" in plan


def test_strip_spans_no_range_join_explosion(spark):
    """Token coverage is an id-keyed equi join + exists() over the per-doc
    span array — NOT a positional range join (which would plan as
    nested-loop). No Python anywhere."""
    plan = plan_of(spark, "strip_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Pandas" not in plan and "PythonUDF" not in plan


def test_url_dedup_single_shuffle(spark):
    """Canonicalization is scan-level expression work; the dedup is ONE
    hash shuffle on the canonical string with map-side combine."""
    plan = plan_of(spark, "url_dedup")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "Join" not in plan


def test_heavy_hitters_shuffles_candidates_only(spark):
    """The exact verify pass must broadcast the bounded candidate list
    (never sort-merge against the corpus) and aggregate with map-side
    partials; the only nested-loop is the one-row total broadcast.
    r16: the candidate-count table is pinned (compute_once), so the
    verify scan + its broadcast join live in the pinned RDD's plan and
    the FINAL plan reads ONE materialized copy (ExistingRDD) for both
    the total leg and the threshold filter — previously the verify
    scan ran once per leg."""
    plan = plan_of(spark, "heavy_hitters")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" in plan  # the pinned verify-count table
    # exactly the one-row total broadcast may plan nested-loop
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_scd2_closed_history_never_rejoins(spark):
    """SCD2: one keyed join for the open rows; the merge output unions
    branches of THAT join — no second full-dimension join, no cartesian."""
    plan = plan_of(spark, "scd2")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Union" in plan


def test_semantic_dedup_pairs_stay_cluster_bucketed(spark):
    """SemDeDup: the pair comparison must be an equi join on the cluster
    id (quadratic only within a cell) and the drop set an anti join —
    never a corpus-wide cartesian."""
    plan = plan_of(spark, "semantic_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftAnti" in plan


def test_ngram_perplexity_model_joins_are_vocab_keyed(spark):
    """The bigram LM score joins the token stream against the count
    tables on (prev, cur)/prev — vocabulary-keyed equi joins, never a
    cartesian; V arrives as a literal, not a cross join of the corpus."""
    plan = plan_of(spark, "ngram_perplexity")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 4  # two count tables + final, partial+final


def test_c4_rules_is_pure_scan(spark):
    """The C4 rule battery must stay a zero-shuffle scan-level
    projection — no hash/range exchange, no Python, no joins (the
    source's round-robin small-file repartition is not the operator's)."""
    plan = plan_of(spark, "c4_rules")
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "Join" not in plan
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert node not in plan


def test_mix_sources_stream_never_shuffles(spark):
    """mix_sources: the document stream reaches the output through
    broadcast joins + a scan-level hash filter only; the only exchanges
    in the plan belong to the tiny source-count aggregation, and the
    scalar attach stays a BroadcastHashJoin (never nested-loop)."""
    plan = plan_of(spark, "mix_sources")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # ONE hashpartitioning exchange: the |sources|-row count agg (the
    # feasibility bound is a window over it, not a second aggregation —
    # the corpus scan behind the counts must appear exactly once)
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("BroadcastHashJoin") >= 1  # thresholds onto stream
    assert plan.count("FileScan") == 2  # stream + one counts scan


def test_dsir_plan_shape(spark):
    """dsir_score: bucket-keyed shuffles only, corpus totals via a
    window over the bounded model table (each corpus tokenized exactly
    once per count — 3 FileScans total: target counts, raw counts, raw
    feature stream), ratio table broadcasts onto the feature stream,
    zero Python stages, no BNLJ/cartesian."""
    plan = plan_of(spark, "dsir")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert node not in plan
    assert plan.count("BroadcastHashJoin") >= 1  # ratio table onto stream
    # r16: the raw feature stream is pinned (compute_once), so its ONE
    # materialized copy serves both the raw-count leg and the scoring
    # probe — the final plan keeps a single FileScan (the target side)
    # plus the pinned RDD scan (previously 3 FileScans, the raw corpus
    # tokenized + md5-hashed twice)
    assert plan.count("FileScan") == 1, plan
    assert "ExistingRDD" in plan


def test_fuzzy_match_plan_shape(spark):
    """fuzzy_join: gram-blocked candidates, never an all-pairs compare —
    no cartesian/nested-loop node; one pair aggregation plus the top-1
    window; zero Python stages."""
    plan = plan_of(spark, "fuzzy_match")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert node not in plan
    assert "Window" in plan  # keep="best" top-1


def test_pagerank_loop_artifacts_bounded(spark, monkeypatch):
    """pagerank's distributed loop (``local_threshold=0``): the
    per-iteration plan (after lineage truncation) is one rank⋈edge join
    + dst-keyed agg + the 1-row dangling broadcast — no
    cartesian/nested-loop, no Python stages."""
    import functools

    import yaetl_spark.operators as ops

    monkeypatch.setattr(ops, "pagerank",
                        functools.partial(ops.pagerank, local_threshold=0))
    plan = plan_of(spark, "pagerank")
    assert "LocalTableScan" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert node not in plan


def test_pagerank_small_graph_is_local_and_few_jobs(spark):
    """The catalog pagerank graph (~100 nodes) is under the default
    ``local_threshold``: one probe count plus one Arrow fetch while it
    is built (the distributed loop fires ~35 jobs), and the result is a
    driver-built ``LocalTableScan`` with no Python stage."""
    sc = spark.sparkContext
    group = "test-pagerank-build-jobs"
    sc.setJobGroup(group, "pagerank build")
    try:
        df = entry_mod.queries()["pagerank"](spark, SF_DIR)
    finally:
        sc._jsc.clearJobGroup()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 8, jobs
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.lstrip().startswith("LocalTableScan"), plan
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                 "ExistingRDD"):
        assert node not in plan


def test_fuzzy_match_pruned_broadcast_prune(spark):
    """fuzzy_join(max_gram_df=...): the stop-gram prune must be
    SCAN-LEVEL — the hot-gram list rides 1-row broadcast hash joins
    (attach_scalars) and the sets are cut with array_except before
    exploding, so there are NO anti joins and NO per-row recount
    windows; still no cartesian/nested-loop and zero Python stages."""
    plan = plan_of(spark, "fuzzy_match_pruned")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert node not in plan
    assert "LeftAnti" not in plan  # prune is array_except, not anti join
    assert "array_except" in plan
    assert "BroadcastHashJoin" in plan  # the 1-row hot-gram attach
    # the only Window left is keep="best" top-1 — the per-row
    # size-recount windows are gone from the pruned plan
    assert plan.count("Window [") == 1


def test_distribution_shift_single_bounds_lineage(spark):
    """distribution_shift: the r7 tag-and-union shape — the reference
    min/max aggregate appears EXACTLY once (r6 executed it once per
    attach), the per-side counts come from one conditional-sum groupBy
    (no per-side aggregate + full-outer join), and the bounds ride a
    1-row BroadcastHashJoin, never a nested loop."""
    plan = plan_of(spark, "distribution_shift")
    assert plan.count("partial_min") == 1  # ONE bounds lineage
    assert "Union" in plan                 # tagged snapshots, one stream
    assert "FullOuter" not in plan         # counts from conditional sums
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan     # the 1-row bounds attach


def test_quantile_transform_one_sort_no_global_window(spark):
    """quantile_transform: all 21 boundaries come from ONE shared
    percentile aggregate (one buffered sort — 21 separate expressions
    cost 21 sorts, measured 9x at sf0.1), the boundary array rides a
    1-row BroadcastHashJoin, and the per-row CDF position is pure array
    arithmetic — no Window node, no global Sort over the data."""
    plan = plan_of(spark, "quantile_transform")
    assert plan.count("partial_percentile(") == 1
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_equi_depth_single_percentile_aggregate(spark):
    """equi_depth_histogram (exact mode): the boundary fit is one
    array-percentile aggregate, never one sort per boundary."""
    plan = plan_of(spark, "equi_depth")
    assert plan.count("partial_percentile(") == 1


def test_retrieval_metrics_broadcast_sample_grouplimit(spark):
    """retrieval_metrics: the eval sample is the BROADCAST side of the
    pair cross (corpus streams once, sample never exceeds broadcast
    size by contract), per-side norms are projected BELOW the join
    (never re-folded per pair), and the top-k cut is a rank-limit
    pushdown (WindowGroupLimit), not a full per-query sort."""
    plan = plan_of(spark, "retrieval_metrics")
    assert "BroadcastNestedLoopJoin" in plan  # corpus x broadcast sample
    assert "WindowGroupLimit" in plan         # rank-limit pushdown
    # hoisted norms: the score divides by precomputed _cn * _qn columns
    assert "_cn" in plan and "_qn" in plan


def test_scaler_fit_apply_single_broadcast(spark):
    """feature_scale: the fitted params row attaches via exactly one
    zero-key BroadcastHashJoin; the apply is scan-level arithmetic."""
    plan = plan_of(spark, "feature_scale")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") == 1


def test_file_stats_partial_agg_before_exchange(spark):
    """file_stats: the per-file aggregate partially combines map-side
    (HashAggregate below the Exchange), so the shuffle carries ~1 row
    per file, never data-sized."""
    plan = plan_of(spark, "file_stats")
    ex = plan.index("Exchange hashpartitioning(_groupingexpression")
    assert "partial_count" in plan[ex:]  # partial agg below the exchange


def test_window_ntile_one_window_one_exchange(spark):
    """All three distribution functions (ntile/percent_rank/cume_dist)
    must share ONE Window node over ONE priority-keyed Exchange — a
    second Window or Exchange means the frame specs diverged."""
    plan = plan_of(spark, "window_ntile")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("+- Window ") == 1
    assert "Exchange rangepartitioning" not in plan


def test_sessionize_filter_pushdown_and_agg_reuses_partitioning(spark):
    """The per-user driver filter reaches the parquet scan, and the
    session aggregate rides the window's user partitioning (partial +
    final HashAggregate with NO Exchange between them)."""
    plan = plan_of(spark, "sessionize")
    assert "PushedFilters: [IsNotNull(user_id), LessThan(user_id,300)]" \
        in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("HashAggregate") == 2  # partial + final, no shuffle


def test_token_pmi_vocab_prune_broadcasts(spark):
    """The max_vocab head must broadcast as the prune BEFORE the
    within-doc pair step (never a shuffle join against the head), and
    the corpus doc count must attach via the 1-row broadcast pattern —
    zero BroadcastNestedLoopJoin anywhere."""
    plan = plan_of(spark, "token_pmi")
    assert "BroadcastExchange" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_normalized_dedup_fingerprint_shuffle_and_semi_broadcast(spark):
    """The dedup shuffle key is the fixed 16-byte fingerprint128
    xxhash64 pair (r16; was md5 hex — never document text) and the
    survivor set comes back as a broadcast left-semi join."""
    plan = plan_of(spark, "normalized_dedup")
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "xxhash64" in plan and "md5" not in plan  # r16 narrow key


def test_fk_integrity_single_fact_pass(spark):
    """Distinct dim keys broadcast; the fact side is scanned once into
    partial conditional counts — exactly one fact-table FileScan and
    no row-exploding join."""
    plan = plan_of(spark, "fk_integrity")
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    assert plan.count("FileScan parquet") == 2  # fact + dim, once each


def test_ngram_novelty_single_left_join(spark):
    """Docs left-join the reference's distinct gram fingerprints ONCE
    on fixed-width keys — no BNLJ/cartesian, exactly one join, and the
    post-join regroup is the only additional exchange beyond the
    join's own key exchanges (no window, no quadratic)."""
    plan = plan_of(spark, "ngram_novelty")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    joins = sum(plan.count(j) for j in
                ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert joins == 1, plan


def test_random_projection_query_scan_only(spark):
    """The driver's random_projection query is pure scan-level
    arithmetic over compile-time planes: no Exchange at all, and the
    projection expression stays inside whole-stage codegen."""
    plan = plan_of(spark, "random_projection")
    assert "Exchange" not in plan
    assert "*(" in plan  # projection stays inside a codegen stage


def test_pq_codes_encode_is_scan_level(spark):
    """pq_encode against fitted codebook literals: the encode side has
    no join (codebooks are constants, not a table) and no exchange of
    the embeddings beyond the fit's own aggregates — the final plan is
    scan + project."""
    plan = plan_of(spark, "pq_codes")
    assert "Join" not in plan
    # encode itself never shuffles BY KEY — the only exchange is the
    # engine's round-robin scan-spread on the single-file table
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange SinglePartition" not in plan
    assert plan.count("FileScan parquet") == 1


def test_krippendorff_interval_single_corpus_scan(spark):
    """Interval metric keeps the nominal shape: ONE corpus scan (the
    (item,label) partial-count exchange reused by the value-moment
    branch), no cartesian blow-up in the 1-row combine."""
    df = entry_mod.queries()["krippendorff_interval"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final
    assert final.count("FileScan parquet") == 1
    assert "ReusedExchange" in final


def test_ann_ivf_pq_pruned_scan_topk(spark):
    """IVFADC: the probed-cell filter + ADC rank is a single pruned
    scan into one global top-k — no join, no key shuffle; the raw
    vectors never feed the distance (codes only)."""
    plan = plan_of(spark, "ann_ivf_pq")
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("FileScan parquet") == 1


def test_hard_negatives_cell_bucketed_pair_join(spark):
    """The pair compare is cell-bucketed (equi join on the cluster id,
    never a cartesian/BNLJ over the corpus) with norms hoisted per ROW
    before the join; the per-anchor top-n is a window, not a global
    sort."""
    plan = plan_of(spark, "hard_negatives")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan
    assert "Exchange rangepartitioning" not in plan


def test_leakage_safe_split_broadcast_cluster_join(spark):
    """The cluster table comes out of connected_components with
    unknown compile-time stats, so the static plan is an SMJ — AQE
    must convert it to a BROADCAST left join at runtime once the
    tiny cluster-side shuffle is measured (and must stay free to keep
    the SMJ on a heavy-dup corpus where broadcasting would OOM). The
    split rule itself is scan-level hash arithmetic."""
    df = entry_mod.queries()["leakage_safe_split"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final and "LeftOuter" in final
    assert "SortMergeJoin" not in final
    assert "CartesianProduct" not in final


def test_ann_recall_audit_is_tiny_join_plus_scalar_agg(spark):
    """The recall audit composes the two already-pinned searches
    (brute-force cosine and IVF-PQ ADC, one TakeOrderedAndProject
    each) and must add only a full-outer join of the two k-row sets
    plus ONE scalar aggregate — no cartesian, no key shuffle of the
    corpus beyond the searches themselves."""
    df = entry_mod.queries()["ann_recall"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    # the two pinned searches, nothing more
    assert final.count("TakeOrderedAndProject") == 2
    assert final.count("FileScan parquet") == 2
    # exactly one audit join, over the limit-k sets, full-outer
    joins = sum(final.count(j) for j in
                ("SortMergeJoin", "BroadcastHashJoin",
                 "ShuffledHashJoin"))
    assert joins == 1 and "FullOuter" in final, final
    assert "CartesianProduct" not in final
    # the audit adds no exchange: both sides are single-partition
    # top-k outputs, the scalar agg is partial+final in place
    assert "Exchange hashpartitioning" not in final
    assert final.count("HashAggregate") == 2  # partial + final


def test_sketch_quantiles_one_corpus_exchange(spark):
    """The fine pass is ONE corpus shuffle (hashpartitioning on the
    shard) with the per-shard rank window and the (shard, bucket)
    aggregate fused into the same stage; the merge exchanges ONLY
    |shards|·B summary rows (SinglePartition); the scan reads just
    (source, n_chars) with the null filter pushed."""
    df = entry_mod.queries()["sketch_quantiles"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1, final
    assert final.count("FileScan parquet") == 1
    assert "PushedFilters: [IsNotNull(n_chars)]" in final
    read_schema = final.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema and "doc_id" not in read_schema
    assert "CartesianProduct" not in final


def test_cluster_cap_registry_bounded_rank_shuffle(spark):
    """The rank window exchanges ONLY the clustered branch (one
    'Window [' node); unclustered docs reach the union through a plain
    filter — no second window, no cartesian, no global sort of the
    corpus."""
    df = entry_mod.queries()["cluster_cap"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Window [row_number()") == 1, final
    assert "Union" in final
    assert "CartesianProduct" not in final
    assert "Exchange rangepartitioning" not in final


def test_token_estimate_scan_only(spark):
    """token_count_estimate is one fixed-order fold per row — the
    driver query must stay a pure scan (no Exchange, no Generate) with
    only text/doc_id/n_chars read."""
    plan = plan_of(spark, "token_estimate")
    # no key shuffle, no explode — round-robin scan-spread only
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "Generate" not in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "lang" not in read_schema and "source" not in read_schema


def test_summary_w1_distance_summary_sized_merge(spark):
    """Each side's fine pass is its own single corpus exchange (the
    pinned sketch_quantiles shape, twice); everything after the union
    is summary-sized — one hash exchange on the breakpoint value plus
    one SinglePartition window — and both scans stay pruned to
    (doc_id, source, n_chars) with the null filter pushed."""
    df = entry_mod.queries()["summary_w1_distance"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    # 2 corpus-grain (one per side) + 1 summary-sized breakpoint hash
    assert final.count("Exchange hashpartitioning") == 3, final
    assert final.count("Exchange SinglePartition") == 1, final
    assert final.count("FileScan parquet") == 2
    assert "IsNotNull(n_chars)" in final.split("PushedFilters:")[1]
    read_schema = final.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema and "lang" not in read_schema
    assert "CartesianProduct" not in final


def test_summary_ks_distance_summary_sized_merge(spark):
    """KS shares W1's staging and drops the lead/interval term, so the
    plan is the same summary-sized shape: two corpus-grain fine passes,
    one breakpoint hash exchange, one SinglePartition window over the
    |summary| rows; scans pruned + null filter pushed; no join at all
    (the sup-gap needs no interval, hence no lead — and no cuts
    broadcast like PSI)."""
    df = entry_mod.queries()["summary_ks_distance"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 3, final
    assert final.count("Exchange SinglePartition") == 1, final
    assert final.count("FileScan parquet") == 2
    assert "IsNotNull(n_chars)" in final.split("PushedFilters:")[1]
    read_schema = final.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema and "lang" not in read_schema
    assert "Join" not in final  # no cuts broadcast, no interval join


def test_summary_psi_cuts_broadcast_summary_sized(spark):
    """PSI adds exactly two summary-sized joins to the family shape:
    the one-row cuts table broadcasts onto the |summary| points (a
    1-row crossJoin → BroadcastNestedLoopJoin, the accepted pattern)
    and the bins-row spine left-joins the binned masses (broadcast).
    Nothing shuffles beyond the fine passes + summary-sized exchanges;
    no CartesianProduct (the crossJoin IS broadcast)."""
    df = entry_mod.queries()["summary_psi"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final
    # the only BNLJ is the declared 1-row cuts broadcast
    assert final.count("BroadcastNestedLoopJoin") == 1, final
    assert "BroadcastExchange" in final
    assert "SortMergeJoin" not in final and "ShuffledHashJoin" not in final
    assert "IsNotNull(n_chars)" in final.split("PushedFilters:")[1]


def test_summary_psi_by_source_grouped_no_global_window(spark):
    """The grouped keys=['shard'] form must keep every stage
    key-partitioned: NO SinglePartition exchange anywhere (the global
    form's one-partition window is replaced by the shard-partitioned
    window), the cuts join is a broadcast equi-join on the key (no
    BNLJ — grouped cuts join on shard), and no corpus-grain artifacts
    beyond the fine passes."""
    df = entry_mod.queries()["summary_psi_by_source"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange SinglePartition") == 0, final
    assert "BroadcastNestedLoopJoin" not in final
    assert "CartesianProduct" not in final
    assert "SortMergeJoin" not in final and "ShuffledHashJoin" not in final


def test_minhash_probe_bucket_join_shape(spark):
    """The incremental probe meets the persisted index ONLY through
    the banded (band, bhash) bucket equi-join — exactly one hash join
    (broadcast at this fixture via the broadcast_probe knob's default
    heuristics), no cartesian / nested-loop, one dedup exchange, and
    both sides' scans pruned to the id+text columns with the two
    banding explodes as the only Generates."""
    df = entry_mod.queries()["minhash_probe"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("BroadcastHashJoin") == 1, final
    assert "SortMergeJoin" not in final
    assert "CartesianProduct" not in final
    assert "BroadcastNestedLoopJoin" not in final
    assert final.count("Exchange hashpartitioning") == 1, final
    assert final.count("FileScan parquet") == 2
    assert final.count("Generate") == 2  # one banding explode per side
    read_schema = final.split("ReadSchema:")[1].splitlines()[0]
    assert "lang" not in read_schema and "source" not in read_schema


def test_stream_dedup_two_exchange_shape(spark):
    """At-least-once dedup is the minimal two-exchange plan: one
    corpus-grain shuffle on the event identity (with the map-side
    partial dedup before it), one on the event type for the final
    aggregate; both scans read only the four projected columns."""
    df = entry_mod.queries()["stream_dedup"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 2, final
    assert "Exchange SinglePartition" not in final
    assert "CartesianProduct" not in final
    read_schema = final.split("ReadSchema:")[1].splitlines()[0]
    assert "props" not in read_schema and "user_id" not in read_schema


def test_basket_rules_no_stream_self_join(spark):
    """frequent_itemsets' pair generation is scan-level array expansion
    over the per-basket grouped frame — NEVER a stream self-join or
    cartesian: the raw stream shuffles once on the basket key, the
    basket-count scalar arrives as a broadcast, and no join in the
    executed plan is between two corpus-sized inputs."""
    df = entry_mod.queries()["basket_rules"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final
    assert "SortMergeJoin" not in final, final  # no corpus self-join
    # r16: the grouped basket frame is pinned with compute_once, so the
    # executed plan reads ONE materialized copy (Scan ExistingRDD) for
    # all four consumers — zero parquet rescans survive in the final
    # plan (previously 4 static scans, 2 after AQE stage reuse); column
    # pruning is enforced upstream by the query's explicit 2-column
    # select feeding the pinned frame
    assert final.count("FileScan parquet") == 0, final
    assert "ExistingRDD" in final
