"""Physical-plan regression tests — the 100TB design invariants
(SURVEY.md §7.4.7). Correctness tests prove the answer; these prove
the *plan*: column pruning reaches the parquet scan, filters push
down, bounded dimensions broadcast, per-row operators stay narrow.
A regression here is a scale bug even when every value still matches.
"""

from __future__ import annotations

import re

import pytest

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def scans_of(plan: str) -> list[list[str]]:
    """Column lists of each parquet FileScan in the plan."""
    return [
        [c.split("#")[0] for c in m.group(1).split(",")]
        for m in re.finditer(r"FileScan parquet \[([^\]]*)\]", plan)
    ]


@pytest.fixture(scope="module")
def registry():
    from nhl_data_warehouse_spark.suite import REGISTRY

    return REGISTRY


def test_column_pruning_reaches_scan(spark, registry):
    plan = plan_of(registry["pricing_summary"].fn(spark, SF))
    (scan,) = scans_of(plan)
    # lineitem has 11 columns; the query needs 6 — a full-width scan
    # at 100TB reads ~2x the bytes for nothing
    assert len(scan) == 6
    assert "l_partkey" not in scan and "l_suppkey" not in scan


def test_filter_pushdown_reaches_scan(spark, registry):
    plan = plan_of(registry["pricing_summary"].fn(spark, SF))
    m = re.search(r"DataFilters: \[([^\]]*)\]", plan)
    assert m and "l_shipdate" in m.group(1), "shipdate filter must push into the scan"


def test_dimension_joins_broadcast(spark, registry):
    plan = plan_of(registry["join_broadcast_dim"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # snowflake chain: every dim hop broadcasts, nothing sort-merges
    star = plan_of(registry["regional_revenue"].fn(spark, SF))
    assert star.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in star


def test_anti_and_semi_joins_broadcast(spark, registry):
    anti = plan_of(registry["anti_join_incremental"].fn(spark, SF))
    assert "BroadcastHashJoin" in anti and "LeftAnti" in anti
    semi = plan_of(registry["semi_join_exists"].fn(spark, SF))
    assert "BroadcastHashJoin" in semi and "LeftSemi" in semi


def test_narrow_ops_have_no_shuffle(spark, registry):
    # pure per-row projection pipelines: any Exchange is a regression
    assert plan_of(registry["clean_cast_project"].fn(spark, SF)).count("Exchange") == 0
    assert plan_of(registry["token_stats"].fn(spark, SF)).count("Exchange") == 0
    assert plan_of(registry["quality_scores"].fn(spark, SF)).count("Exchange") == 0
    assert plan_of(registry["lang_id_predictions"].fn(spark, SF)).count("Exchange") == 0


def test_sketches_shuffle_at_most_once(spark, registry):
    # doc_fingerprints is a per-row fold: scale_out's explicit
    # repartition is its only allowed exchange. simhash gained exactly
    # ONE more in round 12 — the doc-grain vote combine (id + 32 longs
    # after map-side partial agg): the zero-shuffle HOF fold was
    # REJECTED by measurement (7.84 s vs 2.47 s at a 100k-doc corpus,
    # interpreted lambda eval — BASELINE.md round-12 notes), so the
    # pinned contract is repartition + one narrow combine, nothing else.
    plan = plan_of(registry["simhash_sketch"].fn(spark, SF))
    assert plan.count("Exchange") <= 2
    assert "partial_sum" in plan, "vote combine must be map-side partial"
    assert plan_of(registry["doc_fingerprints"].fn(spark, SF)).count("Exchange") <= 1


def test_partial_aggregation_before_shuffle(spark, registry):
    # map-side combine: the shuffle must carry per-partition partials,
    # not raw rows — the difference between shuffling ~6 group rows
    # per partition and shuffling the whole fact table
    plan = plan_of(registry["pricing_summary"].fn(spark, SF))
    assert "partial_sum" in plan
    assert plan.index("partial_sum") > plan.index("Exchange"), (
        "partial aggregate must sit below the exchange"
    )


def test_tpch_topk_uses_take_ordered(spark, registry):
    # orderBy().limit(k) must plan as TakeOrderedAndProject (per-partition
    # heaps + k-row driver merge), never a full global Sort of the fact side
    for q in ("tpch_q3_shipping_priority", "tpch_q10_returned_items",
              "tpch_q18_large_volume_customer"):
        plan = plan_of(registry[q].fn(spark, SF))
        assert "TakeOrderedAndProject" in plan, q


def test_tpch_star_joins_broadcast_dims(spark, registry):
    # nation/region/supplier are bounded dims: at any scale they broadcast;
    # a SortMergeJoin against them shuffles the fact table for nothing
    plan = plan_of(registry["tpch_q5_local_supplier_volume"].fn(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3
    plan = plan_of(registry["tpch_q21_suppliers_kept_waiting"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_tpch_scalar_subquery_stays_distributed(spark, registry):
    # Q15/Q22's scalar subquery = 1-row aggregate broadcast back, no collect
    plan = plan_of(registry["tpch_q15_top_supplier"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    plan = plan_of(registry["tpch_q22_global_sales_opportunity"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_whole_stage_codegen_covers_hot_path(spark, registry):
    df = registry["pricing_summary"].fn(spark, SF)
    df.collect()  # finalize the adaptive plan on THIS QueryExecution
    plan = plan_of(df)
    assert "isFinalPlan=true" in plan
    # '*(n)' prefixes mark operators fused into whole-stage codegen
    assert "*(" in plan, "hot aggregation path fell out of codegen"


def test_contamination_broadcasts_benchmark_grams(spark, registry):
    # the benchmark gram set is the small side by construction (2% of
    # docs); at 100TB it must broadcast — a sort-merge join here would
    # shuffle every corpus gram
    plan = plan_of(registry["ngram_contamination"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_token_spans_windows_are_bucket_partitioned(spark, registry):
    # the two-level prefix sum: row-scale windows partition by bucket;
    # the only global (unpartitioned) window runs over bucket TOTALS,
    # which is ~n_rows/bucket_width rows. The row-scale window spec
    # must carry the bucket key.
    plan = plan_of(registry["sequence_token_spans"].fn(spark, SF))
    assert "__bucket" in plan
    assert plan.count("Window") >= 2


def test_countmin_counters_combine_map_side(spark, registry):
    # CMS counters: partial aggregation collapses each partition to
    # <=1024 cells before the exchange — the sketch merge property
    plan = plan_of(registry["countmin_token_freq"].fn(spark, SF))
    assert "partial_count" in plan
    assert plan.index("partial_count") > plan.index("Exchange")


def test_gapfill_spine_join_broadcasts(spark, registry):
    # the daily aggregate (keys x observed days) is tiny next to the
    # fact scan; the spine/grid machinery must never sort-merge
    plan = plan_of(registry["gapfill_priority_revenue"].fn(spark, SF))
    assert "SortMergeJoin" not in plan


def test_vector_argmin_uses_partial_min_by_not_window(spark, registry):
    # ivf_assign / pq_encode / kmeans: nearest-centroid selection must
    # be a min_by aggregation (map-side partial, one shuffled row per
    # vector) — a row_number window would sort-shuffle all n*k scored
    # rows, the difference between shuffling n and n*k at 100TB (W4)
    for q in ("ann_ivf_cells", "pq_codes", "kmeans_lloyd_step"):
        plan = plan_of(registry[q].fn(spark, SF))
        assert "partial_min_by" in plan, q
        assert "row_number" not in plan, q


def test_zorder_rank_window_is_bucket_partitioned(spark, registry):
    # W1 fix (VERDICT r2): no global ntile — the row-scale row_number
    # window must carry the Z-prefix bucket key; the only unpartitioned
    # window runs over ~2^12 bucket totals
    plan = plan_of(registry["zorder_file_assignment"].fn(spark, SF))
    assert "ntile" not in plan
    assert "__zbucket" in plan
    for m in re.finditer(r"Window \[[^\]]*row_number[^\]]*\], \[([^\]]*)\]", plan):
        assert "__zbucket" in m.group(1)


def test_equi_depth_rank_window_is_bucket_partitioned(spark, registry):
    # W2 fix (round 3): exact equi-depth binning no longer global-sorts;
    # the row-scale row_number window carries the uniform value bucket
    plan = plan_of(registry["equi_depth_bins"].fn(spark, SF))
    assert "ntile" not in plan
    assert "__vbucket" in plan
    for m in re.finditer(r"Window \[[^\]]*row_number[^\]]*\], \[([^\]]*)\]", plan):
        assert "__vbucket" in m.group(1)


def test_tfidf_topk_window_is_doc_partitioned(spark, registry):
    # top-k terms is a per-doc window — partitioned, parallel; a
    # global window here would funnel the corpus through one task
    plan = plan_of(registry["tfidf_top_terms"].fn(spark, SF))
    import re as _re

    for m in _re.finditer(r"Window \[[^\]]*row_number[^\]]*\], \[([^\]]*)\]", plan):
        assert "doc_id" in m.group(1)


def test_runtime_bloom_filter_prunes_fact_side(spark):
    # Runtime row-level filtering: when a selective dim side feeds a
    # shuffle join, Catalyst injects bloom_filter_agg on the build side
    # and might_contain on the fact scan — at 100 TB this prunes fact
    # rows BEFORE the shuffle. The application-side size threshold
    # (default 10 GB) is what gates it in production; at test scale we
    # lower it to observe the same plan the big cluster would run.
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        assert (
            spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
            == "true"
        )
        orders = spark.read.parquet(f"{SF}/orders.parquet")
        lineitem = spark.read.parquet(f"{SF}/lineitem.parquet")
        sel = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
            "o_orderkey"
        )
        plan = plan_of(
            lineitem.join(sel, lineitem.l_orderkey == sel.o_orderkey)
        )
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_gram_matrix_is_joinless_partial_agg(spark, registry):
    # X^T X must come from the narrow per-row pair expansion + one
    # keyed aggregate with map-side partials — a vec_id self-join
    # formulation would shuffle the corpus twice
    plan = plan_of(registry["embedding_gram_matrix"].fn(spark, SF))
    assert "Join" not in plan
    assert "partial_" in plan.lower() or "partial" in plan
    assert plan.count("Exchange") <= 2


def test_standardize_stats_join_broadcasts(spark, registry):
    # the 64-row per-dimension stats relation must broadcast back onto
    # the exploded stream, never sort-merge with it
    plan = plan_of(registry["embedding_standardize"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rfm_rank_windows_are_metric_partitioned(spark, registry):
    # grouped_ntile: every row-scale window must carry the metric (and
    # bucket) partition keys; only the (metric, bucket)-totals window
    # runs per-metric over dimension-scale rows
    plan = plan_of(registry["rfm_customer_segments"].fn(spark, SF))
    assert "ntile" not in plan  # closed-form tile, no global NTILE
    for m in re.finditer(r"Window \[[^\]]*row_number[^\]]*\], \[([^\]]*)\]", plan):
        assert "__m" in m.group(1) and "__vb" in m.group(1)


def test_transition_matrix_window_is_user_partitioned(spark, registry):
    plan = plan_of(registry["event_transition_matrix"].fn(spark, SF))
    for m in re.finditer(r"Window \[[^\]]*lead[^\]]*\], \[([^\]]*)\]", plan):
        assert "user_id" in m.group(1)


def test_dup_chunk_never_shuffles_text(spark, registry):
    # chunk hashes (32-char md5) cross the wire, the token arrays and
    # raw text must not survive past the narrow chunking projection
    plan = plan_of(registry["dup_chunk_fraction"].fn(spark, SF))
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1) and "_toks" not in m.group(1)


def test_recall_eval_ground_truth_broadcasts_queries(spark, registry):
    # the exact arm must broadcast the sampled query vectors over the
    # corpus (map-side only) — a shuffled all-pairs join would defeat
    # the sampling
    plan = plan_of(registry["ann_recall_eval"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_bm25_carries_dl_through_tf_agg_no_rowscale_join(spark, registry):
    # VERDICT r3 item 5: the r3 plan joined the tiny query-term tf
    # relation back to a row-scale per-doc length relation — a
    # full-corpus shuffle for one long column. The doc length is
    # functionally dependent on doc_id, so it rides the tf aggregate
    # as a group key instead: after the query-term filter, NO exchange
    # may partition on doc_id alone (the signature of the dl
    # join-back); every hash exchange is either the (doc, dl, term)
    # tf shuffle or the tiny per-term df shuffle.
    plan = plan_of(registry["bm25_doc_ranking"].fn(spark, SF))
    assert "SortMergeJoin" not in plan
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        keys = m.group(1)
        if "doc_id" in keys:
            assert "dl" in keys, f"row-scale dl join-back resurfaced: {keys}"


def test_round4_ops_plan_shapes(spark, registry):
    # kfold: every window is partitioned — a SinglePartition exchange
    # would serialize a 100TB stratum onto one task
    kfold = plan_of(registry["stratified_kfold_assign"].fn(spark, SF))
    assert "SinglePartition" not in kfold
    # budget select: exactly one bounded single-partition window (the
    # 16^d-row bucket-totals cumsum); row-scale windows stay bucketed
    budget = plan_of(registry["token_budget_selection"].fn(spark, SF))
    assert budget.count("SinglePartition") <= 1
    # DSIR: the B-row log-ratio table must broadcast back onto tokens
    dsir = plan_of(registry["dsir_importance_weights"].fn(spark, SF))
    assert "BroadcastHashJoin" in dsir
    # mapInArrow profiling is a narrow per-row pipeline: no shuffle
    arrow = plan_of(registry["media_byte_class_stats"].fn(spark, SF))
    assert "MapInArrow" in arrow
    assert arrow.count("Exchange") <= 1  # scale_out's explicit repartition only
    # EWMA: one grouped-map python node, keyed shuffle only
    ewma = plan_of(registry["ewma_monthly_spend"].fn(spark, SF))
    assert "FlatMapGroupsInPandas" in ewma
    # pair-scale ops never degrade to cartesian products
    for name in ("duplicate_span_removal", "leakage_safe_split",
                 "lsh_candidate_quality"):
        assert "CartesianProduct" not in plan_of(registry[name].fn(spark, SF)), name


def test_partition_pruning_reaches_scan(spark, registry):
    plan = plan_of(registry["partition_pruned_read"].fn(spark, SF))
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "o_year" in m.group(1), "year filter must prune partitions"
    # the pruned partition column never appears as a data filter
    d = re.search(r"DataFilters: \[([^\]]*)\]", plan)
    assert not (d and "o_year" in d.group(1))


def test_dynamic_partition_pruning_fires(spark, registry):
    df = registry["dynamic_partition_pruned_join"].fn(spark, SF)
    df.collect()  # DPP shows in the final adaptive plan
    plan = plan_of(df)
    assert "dynamicpruning" in plan.lower(), "DPP subquery must reach the scan"


def test_pagination_uses_take_ordered(spark, registry):
    # ORDER BY + LIMIT/OFFSET must plan as TakeOrderedAndProject
    # (per-partition heaps + a k-row driver merge), never a global Sort
    plan = plan_of(registry["paginated_orders"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "offset=100" in plan
    assert "Exchange" not in plan


def test_aqe_skew_join_splits_hot_partition(spark):
    """session.py enables AQE skew-join handling; this proves it FIRES:
    a 99%-hot key under test-scaled thresholds replans the sort-merge
    join as SortMergeJoin(skew=true) with a skewed AQEShuffleRead —
    the runtime remedy the 100 TB stance leans on for residual skew
    (salting covers the planned cases; AQE catches the surprises)."""
    from pyspark.sql import functions as F

    keep = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100KB"
        )
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "100KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        left = spark.range(500000).select(
            F.when(F.col("id") % 100 < 99, 1).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(50).select(
            (F.col("id") + 1000).alias("k"), F.col("id").alias("w")
        )
        j = left.join(right, on="k")
        j.collect()  # finalizes THIS df's adaptive plan
        plan = plan_of(j)
        assert "skew=true" in plan, "AQE skew-join must split the hot partition"
        assert "skewed" in plan  # the AQEShuffleRead marker
    finally:
        for k, v in keep.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_prefix_jaccard_plan_shape(spark, registry):
    """The PPJoin rewrite's scale invariants: no nested-loop or
    cartesian stage anywhere (prefix filtering exists to AVOID the
    all-pairs shape), the verify side joins by hash (shuffle_hash hint
    — sort-merge would sort the per-doc set arrays for nothing), and
    the shuffle count stays bounded (regressions reintroduce
    per-branch recomputation of the freq-join + window)."""
    plan = plan_of(registry["prefix_jaccard_near_dups"].fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ShuffledHashJoin" in plan, "verify joins must be hash, not SMJ"
    assert "SortMergeJoin" not in plan, "array payloads must not be sorted"
    # textual Exchange count is inflated by InMemoryTableScan branches
    # reprinting the cached subplan (24 today, 10 cache scans); the
    # cap still catches a persist-removal regression, which roughly
    # doubles the tree
    assert plan.count("Exchange") <= 30, plan.count("Exchange")


def test_hybrid_quantiles_plan_shape(spark, registry):
    """3-scan exact selection: no global sort of the input (the whole
    point), band window partitioned by band (never empty partitionBy),
    scalar stats broadcast into every scan."""
    plan = plan_of(registry["hybrid_exact_quantiles"].fn(spark, SF))
    assert "CartesianProduct" not in plan
    # the only Sort allowed is the in-band window's local sort; a
    # global Exchange rangepartitioning = full-sort regression
    assert "rangepartitioning" not in plan.lower(), "global sort crept in"


def test_interval_lookup_join_is_equi(spark, registry):
    """Cell-bucketed interval join must plan as a hash equi-join on
    the cell key — an inequality-only join degenerates to
    BroadcastNestedLoopJoin, which is the failure mode this operator
    exists to avoid."""
    plan = plan_of(registry["price_band_lookup_join"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bloom_membership_plan_shape(spark, registry):
    """The membership pre-filter's scale invariants: the bitmap build
    is a partial-aggregated bit_or (map-side combine before its one
    shuffle), the probe joins the bitmap by hash (broadcast while the
    filter is small — never nested-loop: a theta-join here would scan
    the bitmap per key), and no stage is cartesian."""
    plan = plan_of(registry["bloom_membership_prefilter"].fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan, "bitmap probe must hash-join"
    # bit_or must partial-aggregate: a partial_bitor before the word
    # exchange means set bits combine map-side, so the build shuffle
    # carries at most m/64 rows per mapper regardless of key count
    assert "partial_bitor" in plan.replace("_", "").replace(
        "partialbitor", "partial_bitor"
    ) or "partial_bit_or" in plan or "partial_bitor" in plan, plan[:400]


def test_deterministic_mode_stays_on_bounded_grain(spark, registry):
    """Mode reduces (type, cents) -> struct-max: two keyed aggregates,
    both map-side combined; no window (a row_number over row-scale
    data is the regression this pins against) and no sort exchange."""
    plan = plan_of(registry["deterministic_mode_values"].fn(spark, SF))
    assert "Window" not in plan
    assert "rangepartitioning" not in plan.lower()
    assert "CartesianProduct" not in plan
    # struct-max is not hash-aggregable, so the final reduction plans
    # as SortAggregate — what matters is that BOTH aggregates combine
    # map-side (partial_* before their exchange) and the sort runs
    # over the bounded grain, not the raw rows
    assert "partial_max" in plan and "partial_count" in plan
    assert plan.count("HashAggregate") + plan.count("SortAggregate") >= 4


def test_bloom_incremental_probe_word_join_broadcasts(spark, registry):
    """VERDICT r7 item 6: the Bloom short-circuit's entire value is
    that the PROBE side never shuffles on the word join — the bitmap
    (<= m/64 rows) broadcasts, and the only word-keyed Exchange in the
    plan is the build's own bit_or aggregation. A Spark upgrade that
    silently degraded this to a shuffled join would re-shuffle the
    full batch per probe and erase the operator's 100 TB advantage."""
    plan = plan_of(registry["bloom_prefiltered_incremental"].fn(spark, SF))
    assert "BroadcastHashJoin [word" in plan, "bitmap probe must broadcast"
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    # every word-keyed exchange belongs to a bloom BUILD aggregation
    # (follows a partial_bit_or), never to the probe join side
    word_exchanges = plan.count("Exchange hashpartitioning(word")
    assert word_exchanges == plan.count("partial_bit_or")
    # the null-id bypass branch pushes its isnull filter into the scan
    assert "isnull(doc_id" in plan


def test_union_by_name_is_metadata_only(spark, registry):
    """Schema-evolution union must not shuffle: alignment by name is
    a projection over each branch, then a Union node."""
    plan = plan_of(registry["union_by_name_evolution"].fn(spark, SF))
    assert "Union" in plan
    assert "Exchange" not in plan, "unionByName must stay shuffle-free"


def test_round8_stats_plan_shapes(spark, registry):
    """Round-8 statistics stay on their bounded grains: Spearman's
    marginal rank maps broadcast onto the joint histogram (no SMJ, no
    cartesian); Kendall's cell-pair theta join is a broadcast
    nested-loop over <= 550 FIXED grain cells (the one place BNLJ is
    the right plan — it must never become a row-scale join); Gini and
    ACF are join-free histogram pipelines; the NDCG/MRR eval reuses
    its one user-keyed exchange for both the rank window and the
    group fold (no second shuffle)."""
    sp = plan_of(registry["spearman_quantity_price"].fn(spark, SF))
    assert "BroadcastHashJoin" in sp
    assert "SortMergeJoin" not in sp and "CartesianProduct" not in sp
    assert "BroadcastNestedLoopJoin" not in sp

    kd = plan_of(registry["kendall_tau_quantity_discount"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" in kd  # bounded-cell theta join
    assert "CartesianProduct" not in kd and "SortMergeJoin" not in kd

    # ACF stays join-free; Gini's cumulative rank runs the
    # range-partitioned two-pass prefix sum since round 9 (VERDICT r8
    # item 4): its ONLY join is the broadcast of <= 32 per-partition
    # offsets back onto the histogram — never a data-sized exchange,
    # never SMJ/cartesian — and the data-sized window is keyed by the
    # range-partition id instead of running unpartitioned
    ac = plan_of(registry["acf_daily_revenue"].fn(spark, SF))
    assert "Join" not in ac and "CartesianProduct" not in ac
    assert "partial_" in ac  # map-side combine before the grain

    gi = plan_of(registry["gini_order_revenue"].fn(spark, SF))
    assert "CartesianProduct" not in gi and "SortMergeJoin" not in gi
    assert "BroadcastHashJoin" in gi  # bounded offsets join only
    assert "_pid" in gi  # local cumsum window keyed by partition id
    assert "partial_" in gi

    nd = plan_of(registry["ranking_ndcg_mrr_eval"].fn(spark, SF))
    assert "Join" not in nd
    assert nd.count("Exchange hashpartitioning(user_id") == 1, (
        "rank window and group fold must share one user-keyed exchange"
    )


def test_round8_join_and_bootstrap_plan_shapes(spark, registry):
    """The overlap join must meet on a cell EQUI-join — any
    BNLJ/cartesian here means the theta condition leaked into the
    join and every interval pairs with every interval at 100 TB. The
    bootstrap is a single map-side-combined aggregate: no join, and
    the only exchanges are the one-row final-agg merge."""
    ov = plan_of(registry["session_overlap_pairs"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" not in ov
    assert "CartesianProduct" not in ov
    assert "cell" in ov  # the equi key reached the join

    bs = plan_of(registry["bootstrap_revenue_ci"].fn(spark, SF))
    assert "Join" not in bs
    assert "partial_sum" in bs  # 64 sums combine map-side
    # r13: scale_out may add ONE round-robin repartition so the md5
    # aggregate isn't serialized onto a single scan task; the only
    # other exchange is still the one-row final-agg merge, and no
    # exchange may be keyed (no hashpartitioning = still no grouping
    # before the global aggregate)
    assert bs.count("Exchange") <= 2
    assert "hashpartitioning" not in bs


def test_round9_calibration_and_contamination_plan_shapes(spark, registry):
    """Round-9 additions stay on their declared shapes. The ECE and
    isotonic calibration queries may use BNLJ ONLY for bounded grids
    (<= n_bins rows by construction — the kendall class) and must
    never SMJ or cartesian; span contamination's gram join is a plain
    hash join on the md5 key (equi — a BNLJ here would mean the gram
    condition leaked); the CUSUM pair keeps every window partitioned
    (grouped form) or day-grain bounded (global form)."""
    for q in ("classifier_ece_eval", "isotonic_calibration_map"):
        p = plan_of(registry[q].fn(spark, SF))
        assert "CartesianProduct" not in p and "SortMergeJoin" not in p
        assert "BroadcastHashJoin" in p

    sc = plan_of(registry["substring_span_contamination_50g"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" not in sc
    assert "CartesianProduct" not in sc
    # the md5 gram key reached a hash join (BHJ via AQE at this scale)
    assert "BroadcastHashJoin" in sc or "SortMergeJoin" in sc
    assert "md5" in sc

    gp = plan_of(registry["cusum_drift_by_priority"].fn(spark, SF))
    assert "CartesianProduct" not in gp and "BroadcastNestedLoopJoin" not in gp
    # every window spec carries the slice key, never unpartitioned
    assert "windowspecdefinition(g#" in gp or "windowspecdefinition(o_orderpriority" in gp


def test_round9_theilsen_and_novelty_plan_shapes(spark, registry):
    """Theil-Sen: the pair BNLJ is the declared bounded-day-grain
    theta join (kendall doctrine), the slope median must come from
    the cell histogram (prefix-sum _pid window), and the plan must
    NOT contain a single-reducer exact percentile over the pair
    relation — only the day-count residual percentile. Novelty: the
    gram joins are equi (hash/SMJ), first-occurrence is an aggregate
    (min), never a window over gram rows."""
    ts = plan_of(registry["theil_sen_revenue_trend"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" in ts  # declared bounded pair join
    assert "CartesianProduct" not in ts
    assert "_pid" in ts  # histogram median via prefix_sum_cells
    # two percentile aggregates survive: the day-grain residual median
    # and prefix_sum_cells' bucket boundaries over the deterministic
    # 1/64 hash-sample of slope CELLS (bounded single-reducer input)
    # — never row-scale. A raw node-count pin is not stable here (the
    # lazy-persisted bucket frame prints its cached subtree once per
    # consumer), so the pin is the sample filter feeding the boundary
    # percentile; the slope median itself must come from the bucketed
    # prefix-sum (_pid assert above), not any percentile aggregate.
    assert "xxhash64" in ts

    nv = plan_of(registry["corpus_novelty_curve"].fn(spark, SF))
    # the only BNLJ allowed is the 1-row max_id scalar broadcast (the
    # tpch_q15 scalar-subquery pattern) — it appears once per consumer
    # subtree (gram relation x2 via the shared distinct, doc counts x1;
    # AQE exchange reuse executes the shared subtree once); gram joins
    # themselves are aggregates, never theta joins
    assert "CartesianProduct" not in nv
    assert nv.count("BroadcastNestedLoopJoin") <= 3
    assert "partial_min" in nv or "min(batch" in nv  # first-occurrence agg


def test_round10_new_query_plan_shapes(spark, registry):
    """Round-10 additions: Gopher gates are a pure projection (zero
    exchanges); the Murphy/eval scorecards only broadcast bounded
    1-row/bin-grain relations; the sliced KS/isotonic/CUSUM family
    carries the slice key in every window spec; neighbor Jaccard and
    CDC chunking never theta-join; DOW anomalies join a 7-row moments
    relation by equi key."""
    gq = plan_of(registry["gopher_quality_gates"].fn(spark, SF))
    assert "Exchange" not in gq and "CartesianProduct" not in gq

    md = plan_of(registry["brier_murphy_decomposition"].fn(spark, SF))
    assert "CartesianProduct" not in md
    # the only BNLJ is the 1-row totals broadcast (the ECE shape)
    assert md.count("BroadcastNestedLoopJoin") <= 1

    ks = plan_of(registry["ks_drift_by_priority"].fn(spark, SF))
    assert "CartesianProduct" not in ks
    assert "BroadcastNestedLoopJoin" not in ks
    # every cumulative window keyed by the slice, never cell-only
    assert "windowspecdefinition(c#" not in ks

    iso = plan_of(registry["isotonic_calibration_by_lang"].fn(spark, SF))
    assert "CartesianProduct" not in iso
    # interval-grid joins carry the slice equality -> hash joins, and
    # the per-slice windows are keyed
    assert "windowspecdefinition(bin#" not in iso

    nj = plan_of(registry["neighbor_jaccard_pairs"].fn(spark, SF))
    assert "CartesianProduct" not in nj
    assert "BroadcastNestedLoopJoin" not in nj
    assert "TakeOrderedAndProject" in nj  # top-k never a global sort

    cdc = plan_of(registry["cdc_chunk_dedup"].fn(spark, SF))
    assert "CartesianProduct" not in cdc
    assert "BroadcastNestedLoopJoin" not in cdc
    # spans come from the keyed lag window, not an unkeyed one
    assert "windowspecdefinition(e#" not in cdc

    dw = plan_of(registry["dow_revenue_anomalies"].fn(spark, SF))
    assert "CartesianProduct" not in dw
    assert "windowspecdefinition" not in dw  # aggregates only, no window

    ney = plan_of(registry["neyman_allocation_by_lang"].fn(spark, SF))
    assert "CartesianProduct" not in ney
    assert ney.count("BroadcastNestedLoopJoin") <= 1  # 1-row total fold

    ttr = plan_of(registry["type_token_ratio"].fn(spark, SF))
    assert "CartesianProduct" not in ttr
    assert "windowspecdefinition" not in ttr  # tf grain is aggregates

    wm = plan_of(registry["winsorized_mean_revenue"].fn(spark, SF))
    assert "CartesianProduct" not in wm
    # rank windows keyed by the priority slice
    assert "windowspecdefinition(cents#" not in wm


def test_round13_stats_plan_shapes(spark, registry):
    """Round-13 k-sample/multiple-testing additions: KW's one
    cumulative window runs over the bounded cents grain (the MW/KS
    doctrine) with no joins at all; BF keys its cumulative window BY
    GROUP and only broadcasts the k-row totals/medians; the BH screen
    equi-joins the (group, cell) grain to the histogram (never a
    theta join) and its only BNLJ is the 1-row global fold, with the
    rank windows over the m test rows; ARI pins the contingency grain
    (three consumers) and folds two 1-row marginal totals."""
    kw = plan_of(registry["kruskal_wallis_priority_values"].fn(spark, SF))
    assert "CartesianProduct" not in kw
    assert "BroadcastNestedLoopJoin" not in kw
    assert "SortMergeJoin" not in kw  # aggregates + one bounded window
    assert kw.count("windowspecdefinition") == 1

    bf = plan_of(registry["brown_forsythe_quantity_spread"].fn(spark, SF))
    assert "CartesianProduct" not in bf
    assert "BroadcastNestedLoopJoin" not in bf
    # the cumulative window is keyed by the group slice
    assert "windowspecdefinition(g#" in bf
    # totals + medians come back as broadcasts, never shuffled joins
    assert "SortMergeJoin" not in bf
    assert bf.count("BroadcastHashJoin") >= 2

    bh = plan_of(registry["bh_fdr_brand_price_screen"].fn(spark, SF))
    assert "CartesianProduct" not in bh
    # the only BNLJ is the 1-row (n, tsum) global fold
    assert bh.count("BroadcastNestedLoopJoin") <= 1
    # part joins in as a broadcast dim
    assert bh.count("BroadcastHashJoin") >= 1
    # rank + k* windows exist alongside the bounded histogram cum
    assert bh.count("windowspecdefinition") == 3

    ari = plan_of(registry["dedup_partition_ari"].fn(spark, SF))
    assert "CartesianProduct" not in ari
    assert "windowspecdefinition" not in ari  # pure keyed aggregates
    # two 1-row marginal folds, nothing bigger nested-loops
    assert ari.count("BroadcastNestedLoopJoin") <= 2
    # the contingency grain is pinned for its three consumers
    assert ari.count("InMemoryTableScan") >= 3


def test_round13_logrank_joinsize_plan_shapes(spark, registry):
    """Log-rank: the lead window is keyed by customer, the at-risk
    reverse-cumulative windows run over the distinct-durations grain;
    the segment dim comes in broadcast and the only BNLJ is the 1-row
    corpus-max fold. Join-size estimate: the top-k is a TakeOrdered
    (never a global sort), the only BNLJ is the 1-row head-stats
    fold, and nothing theta-joins."""
    lr = plan_of(registry["logrank_segment_gap_survival"].fn(spark, SF))
    assert "CartesianProduct" not in lr
    assert lr.count("BroadcastNestedLoopJoin") <= 1  # 1-row cmax fold
    assert lr.count("BroadcastHashJoin") >= 1  # segment dim broadcast
    assert "SortMergeJoin" not in lr
    assert "windowspecdefinition(o_custkey#" in lr  # lead keyed by cust

    js = plan_of(registry["selfjoin_cardinality_estimate"].fn(spark, SF))
    assert "CartesianProduct" not in js
    assert js.count("BroadcastNestedLoopJoin") <= 1  # 1-row head fold
    assert "SortMergeJoin" not in js
    assert "TakeOrderedAndProject" in js  # top-k never a global sort
    assert "windowspecdefinition" not in js


def test_round13_privacy_plan_shapes(spark, registry):
    """DP release: ONE exchange (the release-grain aggregate) and the
    noise is pure projection — no joins, no windows. k-anonymity: the
    only nested-loop is the 4-row threshold list broadcast against
    the bounded class grain."""
    dp = plan_of(registry["dp_laplace_priority_counts"].fn(spark, SF))
    assert "CartesianProduct" not in dp
    assert "BroadcastNestedLoopJoin" not in dp
    assert "windowspecdefinition" not in dp
    assert dp.count("Exchange") == 1

    ka = plan_of(registry["k_anonymity_customer_audit"].fn(spark, SF))
    assert "CartesianProduct" not in ka
    assert ka.count("BroadcastNestedLoopJoin") <= 1  # 4-row k list
    assert "SortMergeJoin" not in ka
    assert "windowspecdefinition" not in ka


def test_round14_verify_path_single_intersect(spark, registry):
    """The LSH verify path must evaluate ``array_intersect`` exactly
    ONCE per candidate pair. Without the nondeterminism barrier on
    ``n_common`` (dedup.jaccard_pairs), Catalyst substitutes the
    threshold filter through the score projection into the docset
    join condition, expanding the intersect three times (n_common and
    both union terms). The barrier is value-exact (0 * id = 0) but
    relies on Catalyst never folding a nondeterministic product — pin
    the plan shape so a Spark upgrade that silently collapses it
    surfaces here instead of as a perf-only regression (ADVICE r13).
    """
    plan = plan_of(registry["lsh_verified_near_dups"].fn(spark, SF))
    assert plan.count("array_intersect") == 1, plan.count("array_intersect")
    # and the single evaluation sits in a projection, never in a join
    # condition (the triple-expansion failure mode)
    for line in plan.splitlines():
        if "array_intersect" in line:
            assert "Join" not in line, line


def test_round14_multiset_shingles_codegen_shape(spark, registry):
    """char_shingles_multiset must stay a pure codegen pipeline: the
    shingle stage is Generate(explode(sequence)) + substring, with NO
    higher-order-function lambda (transform/filter/aggregate lambdas
    evaluate interpreted per element — guide §4.1). The distinct-array
    form (char_shingles) keeps its lambdas; only consumers whose
    aggregates dedupe anyway use the multiset variant."""
    from nhl_data_warehouse_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "abcdefghijklmnop"), (2, "qrs")], "doc_id long, text string"
    )
    plan = plan_of(dedup.char_shingles_multiset(df))
    assert "lambdafunction" not in plan.lower()
    assert "Generate explode(sequence" in plan
    # identical distinct shingle SETS as the reference implementation
    ref = {
        (r.doc_id, r.shingle)
        for r in dedup.char_shingles(df, k=12).collect()
    }
    got = {
        (r.doc_id, r.shingle)
        for r in dedup.char_shingles_multiset(df).collect()
    }
    assert got == ref
