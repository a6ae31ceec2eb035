"""Physical-plan assertions: the scale claims in README.md ("broadcast the
small side", "filters reach the scan", "no shuffle for per-row expansion")
are checked against `executedPlan` strings so they cannot silently regress.

These are *structure* tests — they run the optimizer, not the job, so they
cost milliseconds each after session startup.
"""

import pytest
from pyspark.sql import functions as F

from tsdisagg_spark import queries as Q

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_decontamination_broadcasts_benchmark_grams(spark):
    """The benchmark's distinct-gram set must broadcast: the corpus side of
    the overlap join never shuffles, which is what makes the audit ride the
    scan at any corpus size."""
    plan = _plan(Q.QUERIES["decontamination"](spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_knn_bruteforce_broadcasts_queries(spark):
    """Exact top-k broadcasts the (tiny) query side; the corpus is scanned
    in place — no corpus shuffle before the per-query aggregation."""
    plan = _plan(Q.QUERIES["knn_bruteforce"](spark, SF))
    assert "BroadcastExchange" in plan, plan


def test_doc_chunks_is_shuffle_free(spark):
    """Passage chunking is a per-row expansion: the plan must contain no
    Exchange at all — it rides the scan."""
    plan = _plan(Q.QUERIES["doc_chunks"](spark, SF))
    assert "Exchange" not in plan, plan


def test_repetition_stats_is_shuffle_free(spark):
    """Map-only contract: no KEYED exchange — the fold rides the scan.
    The only exchange ever allowed is the scale-adaptive round-robin
    input spread (operators/_par.py), which is a no-op on a many-split
    input; pinned by feeding a pre-spread frame and asserting the
    operator itself adds nothing."""
    from tsdisagg_spark.operators import text as text_ops

    docs = spark.read.parquet(f"{SF}/documents.parquet").repartition(8)
    plan = _plan(text_ops.repetition_stats(docs))
    assert "Exchange hashpartitioning" not in plan, plan
    assert plan.count("Exchange") <= 1, plan  # the pre-spread only


def test_pricing_summary_pushes_filter_to_scan(spark):
    """The date predicate must reach the parquet scan (PushedFilters), and
    the scan must not read columns the query never touches."""
    df = Q.QUERIES["pricing_summary"](spark, SF)
    scan = [
        line
        for line in _plan(df).splitlines()
        if "FileScan" in line or "PushedFilters" in line
    ]
    text = "\n".join(scan)
    assert "PushedFilters: [" in text, text
    assert "IsNotNull" in text or "LessThanOrEqual" in text, text
    # column pruning: the 16-column lineitem scan reads only what's needed
    assert "l_comment" not in text, text


def test_regional_revenue_broadcasts_dimensions(spark):
    """The 5-way star join must broadcast the small dimension tables, not
    shuffle the fact table once per dimension."""
    plan = _plan(Q.QUERIES["regional_revenue"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_salted_join_uses_shuffle_hash(spark):
    """salted_join exists for the non-broadcast path: the hint must hold."""
    plan = _plan(Q.QUERIES["salted_user_activity"](spark, SF))
    assert "ShuffledHashJoin" in plan, plan


def test_sequence_packing_bucket_offsets_broadcast(spark):
    """The hierarchical prefix sum joins bucket offsets back by broadcast —
    the doc-level side must never hash-exchange on the bucket key alone."""
    plan = _plan(Q.QUERIES["sequence_packing"](spark, SF))
    assert "BroadcastExchange" in plan, plan


def test_asof_join_has_no_join_node(spark):
    """The as-of join is a union + ordered window: the physical plan must
    contain ZERO join operators (the |L| x |R| range-join blow-up is the
    thing this formulation exists to avoid) and exactly one window sort."""
    plan = _plan(Q.QUERIES["events_asof_purchase"](spark, SF))
    assert "Join" not in plan, plan
    assert "Window" in plan, plan


def test_gap_fill_merges_both_direction_windows(spark):
    """Trailing (last-observation) and leading (next-observation) windows
    share partitioning AND ascending sort order, so Catalyst must merge all
    the interpolation's window expressions into a SINGLE Window physical
    node over one sort — a second Window node would mean the leading
    window was expressed with a reversed ordering and pays its own sort."""
    plan = _plan(Q.QUERIES["gap_fill_nation"](spark, SF))
    assert plan.count("Window ") == 1, plan


def test_rolling_stats_single_window_node(spark):
    """All four rolling stats share one frame: one Window physical node."""
    plan = _plan(Q.QUERIES["rolling_revenue"](spark, SF))
    assert plan.count("Window") == 1, plan


def test_supply_star_joins_broadcast_dimensions(spark):
    for q in ("supplier_region_summary", "brand_margin"):
        plan = _plan(Q.QUERIES[q](spark, SF))
        assert "BroadcastHashJoin" in plan, (q, plan)
        # column pruning: l_tax exists in the schema but neither query
        # touches it, so a scan reading it would mean pruning regressed
        assert "l_tax" not in plan, (q, plan)


def test_histogram_bounds_are_broadcast(spark):
    plan = _plan(Q.QUERIES["order_value_histogram"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_winsorize_bounds_are_broadcast(spark):
    """clip_outliers joins per-group percentile bounds back with an explicit
    broadcast (null-safe condition included) — the fact rows never
    shuffle."""
    plan = _plan(Q.QUERIES["order_value_winsorized"](spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_percentiles_single_aggregate(spark):
    """All requested quantiles come from ONE percentile pass per group —
    no join, no second aggregate over the facts."""
    plan = _plan(Q.QUERIES["order_value_percentiles"](spark, SF))
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan, plan


def test_pivot_is_single_aggregate_no_join(spark):
    """returnflag_pivot folds the flag x status grid into one hash
    aggregate (pivot lowers to conditional aggregates, not self-joins)."""
    plan = _plan(Q.QUERIES["returnflag_pivot"](spark, SF))
    assert "Join" not in plan, plan


def test_funnel_is_single_pass_over_events(spark):
    """signup_funnel computes all stage timestamps in one aggregation over
    events — per-user min-if expressions, not one join per stage."""
    plan = _plan(Q.QUERIES["signup_funnel"](spark, SF))
    assert "SortMergeJoin" not in plan, plan
    # one scan of the events table, not one per funnel stage
    assert plan.count("Scan parquet") <= 1 or plan.count("FileScan") <= 1, plan


def test_stratified_sample_no_shuffle(spark):
    """The md5-bucket sampling decision is per-row: rides the scan."""
    plan = _plan(Q.QUERIES["stratified_sample"](spark, SF))
    assert "Exchange" not in plan, plan


def test_quantize_no_shuffle(spark):
    """Embedding quantization is per-row array math: rides the scan."""
    plan = _plan(Q.QUERIES["embedding_quantize"](spark, SF))
    assert "Exchange" not in plan, plan


def test_large_orders_aggregates_before_dimension_joins(spark):
    """The HAVING aggregate must reduce lineitem BEFORE any dimension
    touch, and both downstream joins must broadcast the filtered
    aggregate — orders/customer are probed, never shuffled."""
    plan = _plan(Q.QUERIES["large_orders"](spark, SF))
    agg_pos = plan.find("HashAggregate")
    join_pos = plan.find("Join")
    assert agg_pos != -1 and join_pos != -1
    # plan strings print children BELOW parents: the HAVING aggregate must
    # sit inside a join input (deeper than the first join line), i.e. the
    # dataflow aggregates BEFORE joining — not join-everything-then-agg
    assert agg_pos > join_pos, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_dedup_canonical_broadcasts_component_maps(spark):
    """Both the component table and the canonical map are tiny relative to
    the corpus: each must join back via broadcast, so the documents scan
    for n_chars never shuffles."""
    plan = _plan(Q.QUERIES["dedup_canonical"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_kmeans_assign_update_broadcasts_seeds(spark):
    """The K-row seed side of the distance cross join must broadcast, its
    scan must push the vec_id < 8 filter down, and the K-fold fan-out must
    carry only (vec_id, seed_id, d2) — never a duplicated embedding
    array."""
    plan = _plan(Q.QUERIES["kmeans_assign_update"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "LessThan(vec_id,8)" in plan, plan
    # the post-join projection before the argmin aggregate is 3 columns
    assert "d2" in plan, plan


def test_aqe_splits_skewed_join_partitions():
    """The AQE skew-join claim from the README's scale section, executed:
    a join where one key carries 90% of the fact rows gets its oversized
    shuffle partition SPLIT at runtime (SortMergeJoin(skew=true) +
    'coalesced and skewed' AQEShuffleRead in the final adaptive plan),
    and the skew-split result equals the plain join.  Uses its own
    session confs (tight skew thresholds) so the trigger is deterministic
    at test scale — production relies on the same machinery at default
    thresholds."""
    from tsdisagg_spark.spark.session import get_spark

    skew_confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    spark = get_spark(
        app_name="skew-test",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "false", **skew_confs},
    )
    try:
        big = spark.range(400_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("payload"),
        )
        dim = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("attr")
        )
        j = big.join(dim, "k").select(
            F.sum(F.col("payload") + F.col("attr")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        row = j.collect()[0]
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
        assert "coalesced and skewed" in plan, plan
        # correctness: equals the reference sums computed without the join
        # (dim.attr = 2k, so every fact row contributes payload + 2k)
        ref = big.select(
            F.sum(F.col("payload") + 2 * F.col("k")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        assert (row["s"], row["n"]) == (ref["s"], ref["n"])
    finally:
        # getOrCreate may have handed back the suite's shared session with
        # the toy skew thresholds applied as runtime confs — unset them
        # (even on assertion failure) so later plan tests see the engine
        # defaults again
        for k in skew_confs:
            spark.conf.unset(k)


# ---------------------------------------------------------------------------
# round-4 additions: behavioral/TPC-H-shape queries
# ---------------------------------------------------------------------------


def test_part_basket_lift_has_no_fact_self_join(spark):
    """Brand pairs must come from per-order basket arrays, never from a
    lineitem self-join: no SortMergeJoin may appear — every join in the
    plan is a broadcast of a sketch-sized frame (marginals, totals,
    part dim)."""
    plan = _plan(Q.QUERIES["part_basket_lift"](spark, SF))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_sole_late_supplier_reuses_join_partitioning(spark):
    """The fact-fact join and the per-order aggregate share l_orderkey:
    exactly one exchange per fact input and NONE between the join and the
    aggregation (Catalyst reuses the join's hash partitioning)."""
    import re

    plan = _plan(Q.QUERIES["sole_late_supplier"](spark, SF))
    keys = re.findall(r"Exchange hashpartitioning\((\w+)", plan)
    assert keys.count("l_orderkey") == 2, keys


def test_min_cost_supplier_pushes_type_filter(spark):
    """The part-type predicate must reach the part parquet scan, and the
    filtered dim must broadcast into the lineitem join."""
    plan = _plan(Q.QUERIES["min_cost_supplier"](spark, SF))
    scan = "\n".join(
        line for line in plan.splitlines() if "PushedFilters" in line
    )
    assert "EqualTo(p_type,ECONOMY)" in scan, scan
    assert "BroadcastHashJoin" in plan, plan


def test_seasonal_decomposition_prunes_orders_scan(spark):
    """The decomposition touches only (o_orderdate, o_totalprice); the
    orders scan must not read the other four columns."""
    plan = _plan(Q.QUERIES["seasonal_decomposition"](spark, SF))
    scans = [
        line
        for line in plan.splitlines()
        if "FileScan" in line and "orders.parquet" in line
    ]
    assert scans, plan
    for line in scans:
        assert "o_custkey" not in line and "o_orderpriority" not in line, line


def test_bigram_lm_scores_stays_jvm_side(spark):
    """Tokenization, bigramming, and scoring are codegen expressions — no
    Python evaluation node anywhere in the plan."""
    plan = _plan(Q.QUERIES["bigram_lm_scores"](spark, SF))
    assert "EvalPython" not in plan, plan


def test_idle_customers_pushes_date_filter(spark):
    """The recent-order date predicate must reach the orders scan feeding
    the anti-join."""
    plan = _plan(Q.QUERIES["idle_customers"](spark, SF))
    scan = "\n".join(
        line for line in plan.splitlines() if "PushedFilters" in line
    )
    assert "GreaterThanOrEqual(o_orderdate" in scan, scan


def test_bloom_pruned_join_probes_stream_through_broadcasts(spark):
    """The Bloom probe must stream fact rows through a BROADCAST of the
    packed-word state (no fact shuffle before the final join).  r13 shape:
    the word table folds into ONE broadcast map and both salts probe with
    element_at bit tests riding the scan — so exactly one word-table build
    in the plan, zero per-salt join operators, and still no shuffle join."""
    plan = _plan(Q.QUERIES["bloom_pruned_urgent_revenue"](spark, SF))
    # one packed-word build: exactly one partial bit_or aggregation subtree
    assert plan.count("partial_bit_or") == 1, plan
    assert plan.count("element_at") >= 2, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_rowwise_signature_pipeline_is_shuffle_free_until_join(spark):
    """The streaming-dedup claim: row-wise signatures + band keys are a
    pure projection (no Exchange), and the probe's only exchanges serve
    the candidate equi-join itself — the document side never shuffles
    BEFORE the join, which is what keeps the stream stateless."""
    from tsdisagg_spark.streaming import rowwise_minhash_signatures

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sig_plan = _plan(rowwise_minhash_signatures(docs, num_hashes=8))
    assert "Exchange" not in sig_plan, sig_plan


def test_incremental_probe_semi_joins_before_reshingling(spark):
    """Verification must re-shingle only candidate documents: the probe
    plan contains left-semi joins (the candidate-id pushdown), not a full
    second pass over either corpus."""
    plan = _plan(Q.QUERIES["incremental_minhash_dedup"](spark, SF))
    assert "LeftSemi" in plan, plan


def test_dsir_cell_table_broadcasts(spark):
    """DSIR's 1024-row quantized log-ratio table must BROADCAST back to
    the per-doc cell counts — the corpus side never join-shuffles, which
    is what keeps scoring scan-bound at any corpus size."""
    plan = _plan(Q.QUERIES["dsir_importance_sample"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_small_quantity_broadcasts_part_dim(spark):
    """The Q17 shape broadcasts the part dim for the brand rollup; the
    fact-vs-own-aggregate join is the only data-sized join."""
    plan = _plan(Q.QUERIES["small_quantity_revenue"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_incremental_dsir_probe_broadcasts_index(spark):
    """The DSIR probe's only join is the batch vs the BROADCAST 1024-row
    cell index — the held corpus feeds the index build, never a
    data-sized join, so ingest cost stays O(batch)."""
    plan = _plan(Q.QUERIES["incremental_dsir_score"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_token_entropy_is_shuffle_free(spark):
    """The entropy fold is a pure projection over the document scan —
    zero exchanges, like repetition_stats."""
    from tsdisagg_spark.operators import text as text_ops

    docs = spark.read.parquet(f"{SF}/documents.parquet").repartition(8)
    plan = _plan(text_ops.token_entropy(docs))
    assert "Exchange hashpartitioning" not in plan, plan
    assert plan.count("Exchange") <= 1, plan  # the pre-spread only


def test_ngram_coverage_topk_never_full_sorts(spark):
    """The global top-10k vocabulary cut must be TakeOrdered (distributed
    heap) — a full Sort of the vocabulary would shuffle it all to rank
    rows the curve never reads."""
    plan = _plan(Q.QUERIES["ngram_coverage_curve"](spark, SF))
    assert "TakeOrderedAndProject" in plan, plan


def test_discount_band_pushes_scan_filters(spark):
    """Q6 is all predicate pushdown: the shipdate and quantity filters
    must reach the parquet scan (PushedFilters), and the plan has no
    join or exchange beyond the final single-row aggregate."""
    plan = _plan(Q.QUERIES["discount_band_revenue"](spark, SF))
    assert "PushedFilters: [" in plan and "l_shipdate" in plan, plan
    assert "Join" not in plan, plan


def test_returned_item_customers_takeordered_and_broadcasts(spark):
    """Q10's final cut is TakeOrdered (never a full sort of the customer
    aggregate) and both dims broadcast."""
    plan = _plan(Q.QUERIES["returned_item_customers"](spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_nation_pair_trade_prunes_broadcast_sides(spark):
    """Q7's nation-pair predicate must prune the supplier/customer
    broadcast sides BEFORE the fact join (the filter sits under the
    BroadcastExchange, not after the join)."""
    plan = _plan(Q.QUERIES["nation_pair_trade"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "NATION_18" in plan, plan


def test_winnowing_hash_array_not_inlined_into_lambda(spark):
    """Round-10 plan rule under regression guard (SCALING.md "the round's
    plan lesson"): Catalyst's projection collapse inlines a
    SINGLE-referenced array-valued alias into a consuming
    higher-order-function lambda, where it re-evaluates per element —
    for winnowing that put the whole md5 k-gram chain inside the
    O(grams x window) selection loop (hours at the x100 tier).  The
    shipped form keeps ``__h`` a multi-referenced attribute with O(1)
    ``F.get`` lookups, so the md5 chain must appear ONCE per plan
    subtree in the optimized plan, never once per lambda reference.  A
    Catalyst upgrade or refactor that reintroduces the inline shows up
    here as dozens of md5 occurrences."""
    import re

    for name, max_md5 in (
        ("winnowing_shared_pairs", 4),
        ("winnowing_fingerprints", 2),
    ):
        opt = (
            Q.QUERIES[name](spark, SF)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        n_md5 = opt.count("md5(")
        assert 1 <= n_md5 <= max_md5, (name, n_md5)
        # __h survived as ONE attribute the selection references many
        # times (the multi-reference is exactly what blocks collapse)
        hrefs = re.findall(r"__h#\d+", opt)
        assert len(set(hrefs)) == 1 and len(hrefs) >= 10, (
            name,
            len(hrefs),
            sorted(set(hrefs)),
        )


def test_q18_broadcasts_topk_not_dimension(spark):
    """VERDICT r11 #3, pinned: large_volume_customers must broadcast the
    100-row post-TakeOrdered frame onto the customer dimension, never
    the dimension onto the frame — the top-k side is bounded at 100
    rows by the LIMIT at ANY scale, where the customer dim grows with
    SF and is GBs at 100x.  The BroadcastExchange therefore sits on the
    LEFT (top-k) side of the final custkey join, with the top-k cut a
    TakeOrderedAndProject (distributed heap, no global sort) inside the
    broadcast subtree."""
    import re

    plan = _plan(Q.QUERIES["large_volume_customers"](spark, SF))
    m = re.search(
        r"BroadcastHashJoin \[o_custkey#\d+L?\], \[c_custkey#\d+L?\], "
        r"Inner, (Build\w+)",
        plan,
    )
    assert m is not None, plan
    assert m.group(1) == "BuildLeft", plan
    assert "TakeOrderedAndProject(limit=100" in plan, plan
    # the customer scan must NOT sit under a BroadcastExchange: every
    # BroadcastExchange in the plan precedes the customer FileScan, and
    # the text between the LAST exchange and that scan closes the
    # broadcast subtree (the join's streamed side starts a new branch)
    cust = plan.index("customer.parquet")
    assert plan.rindex("BroadcastExchange") < cust
    assert "TakeOrderedAndProject" in plan[: cust]


def test_q21_supplier_join_is_unhinted_aqe_call(spark):
    """VERDICT r11 #3 review, pinned: the supplier-name join in the two
    Q21 shapes carries no compile-time broadcast hint — supplier AND
    the filtered per-order frame both grow with SF, so the build side
    is AQE's runtime-size call.  At test scale the size estimate still
    broadcasts the small supplier table (right side), proving the
    unhinted plan keeps the good shape without pinning the wrong side
    forever."""
    for name in ("waiting_suppliers_topk", "sole_late_supplier"):
        plan = _plan(Q.QUERIES[name](spark, SF))
        assert "BroadcastHashJoin" in plan, (name, plan)


def test_disagg_shared_aggregates_have_one_consumer(spark):
    """VERDICT r13 #3, pinned: the shared upstream aggregates of the
    disagg queries and part_basket_lift must appear ONCE in the plan —
    no InMemoryRelation whose cold materialization the kernel-union /
    broadcast consumers race to compute (the lineitem month aggregation
    ran 2-4x per action in the pre-r14 shape).  One FileScan per source
    table and zero persists.  The disagg queries leave series eligibility
    to the kernel (errors='skip'), so no eligibility Window either."""
    plan = _plan(Q.QUERIES["disagg_chow_lin_suppliers"](spark, SF))
    assert "InMemoryRelation" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan
    # the target/indicator split is ONE grouping-sets pass, not a union
    # of two aggregates over the same frame
    assert "Expand" in plan, plan
    assert "Union" not in plan, plan
    assert "Window" not in plan, plan

    plan = _plan(Q.QUERIES["disagg_litterman_nation"](spark, SF))
    assert "InMemoryRelation" not in plan, plan
    # orders/customer/nation appear once per union leg they feed
    # (low: o+c+n, ind: l+o+c+n) — 7 scans, none duplicated by a span
    # aggregation or a cached-subtree race
    assert plan.count("Scan parquet") == 7, plan
    assert "Window" not in plan, plan

    # orders and customer once per union leg (low, ind) — no span
    # aggregates, no semi-joins
    plan = _plan(Q.QUERIES["disagg_denton_mean"](spark, SF))
    assert "InMemoryRelation" not in plan, plan
    assert plan.count("Scan parquet") == 4, plan

    plan = _plan(Q.QUERIES["disagg_denton_companion"](spark, SF))
    assert "InMemoryRelation" not in plan, plan
    assert plan.count("Scan parquet") == 2, plan  # orders + customer once

    plan = _plan(Q.QUERIES["part_basket_lift"](spark, SF))
    assert "InMemoryRelation" not in plan, plan
    assert plan.count("Scan parquet") == 2, plan  # lineitem + part once


def test_disagg_kernel_width_is_pinned(spark):
    """The CPU-dense GLS kernel stage must keep cluster width: every
    kernel-backed disagg query feeds its grouped kernel through the
    explicit repartition that `_kernel_stage` adds (REPARTITION_BY_NUM,
    exempt from AQE coalescing) — without it AQE coalesced the byte-tiny
    kernel exchange to 2 tasks and serialized 1000 solves onto 2 cores."""
    for name in sorted(n for n in Q.QUERIES if n.startswith("disagg_")):
        plan = _plan(Q.QUERIES[name](spark, SF))
        assert "FlatMapGroupsInArrow" in plan, (name, plan)
        assert "FlatMapGroupsInPandas" not in plan, (name, plan)
        assert "REPARTITION_BY_NUM" in plan, (name, plan)
