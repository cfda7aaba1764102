"""Plan-shape regression tests: pin the physical plans we want at scale.

These don't execute queries — they assert on ``explain()`` output, so a
Catalyst-interaction regression (a dimension join degrading to sort-merge,
a filter failing to push, an expensive expression cloned into a scan
filter) fails CI before it costs anything on a cluster.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from kyiv_traffic_bigdata_spark.operators.dedup import shingle_index
from kyiv_traffic_bigdata_spark.plans import physical_plan
from kyiv_traffic_bigdata_spark.queries import QUERIES
from plan_checks import (
    broadcast_join_count,
    broadcast_join_keys,
    exchange_count,
    final_plan,
    parquet_scan_count,
    scan_filter_exprs,
    sort_merge_join_count,
)


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    def get(name):
        return physical_plan(QUERIES[name](spark, sf_dir))

    return get


def test_enrichment_joins_broadcast_not_shuffle(plans):
    """J1-family: every dimension join on the lineitem fact must be a
    broadcast hash join — a sort-merge join here shuffles the fact table
    (petabytes at the target scale) for a kilobyte dimension."""
    plan = plans("lineitem_enriched")
    assert broadcast_join_count(plan) >= 2
    assert sort_merge_join_count(plan) == 0


def test_pricing_partial_agg_and_pruned_scan(plans):
    """A-family: the wide aggregate must map-side combine (partial
    HashAggregate under the single exchange) and the scan must prune to
    the six referenced columns — reading l_orderkey for a 6-column
    aggregate means pruning broke."""
    plan = plans("pricing_summary")
    assert exchange_count(plan) == 1
    # formatted mode lists nodes in tree + detail blocks; count the blocks
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 2
    assert "partial_sum" in plan
    read_schema = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    assert "l_orderkey" not in read_schema and "l_quantity" in read_schema


def test_filter_and_projection_reach_parquet_scan(spark, sf_dir):
    """F1-style pushdown on raw columns: a selective predicate lands in
    PushedFilters and projection prunes ReadSchema. (Derived-column
    predicates — e.g. the synthetic geo mapping — legitimately cannot
    push; this pins the raw-column contract.)"""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = li.where(F.col("l_quantity") < 10).select("l_orderkey", "l_quantity")
    plan = physical_plan(df)
    pushed = " ".join(scan_filter_exprs(plan))
    assert "LessThan(l_quantity" in pushed
    read_schema = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    assert set(read_schema.split(",")) == {"l_orderkey:bigint", "l_quantity:double"}


def test_trajectory_single_shuffle(plans):
    """W1: one hash-partition exchange (by the window key) is the whole
    shuffle budget for the lag-window pipeline."""
    plan = plans("geo_trajectory")
    assert exchange_count(plan) == 1


def test_latest_per_key_single_shuffle(plans):
    plan = plans("latest_event_per_user")
    assert exchange_count(plan) == 1


def test_topk_uses_take_ordered(plans):
    """W3/W4: global top-k must compile to TakeOrderedAndProject, never a
    full sort of the aggregate output."""
    assert "TakeOrderedAndProject" in plans("top_parts")


def test_cosine_topk_broadcasts_queries(plans):
    """The ANN baseline must broadcast the query side; the corpus scan
    stays shuffle-free until the final per-query top-k window."""
    plan = plans("cosine_topk")
    assert broadcast_join_count(plan) >= 1
    assert sort_merge_join_count(plan) == 0


def test_shingle_index_scan_filter_stays_cheap(spark, sf_dir):
    """Regression guard: the inferred-filter-pushdown interaction that once
    cloned the whole tokenizer+n-gram pipeline into the parquet scan's
    DataFilters (2x query cost). Scan filters must stay trivial."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = physical_plan(shingle_index(docs, 3))
    for expr in scan_filter_exprs(plan):
        assert "regexp_replace" not in expr and "transform" not in expr


def test_doc_stats_tokenizes_once(plans):
    """The staged-projection contract: exactly one regex-split tokenizer
    evaluation per row (plus one normalize for n_chars/fp), not one per
    consuming expression."""
    plan = plans("doc_stats")
    # each split( occurrence in the final plan is one tokenizer evaluation
    assert plan.count("split(regexp_replace") <= 4


def test_winnow_overlap_no_inlined_hash_chain(spark, sf_dir):
    """The winnow fingerprint UDF runs in exactly ONE ArrowEvalPython
    node and no Filter re-evaluates it (a pushed-down filter over the
    fps array would run the O(n·k) hash fold a second time per doc).
    Checked on winnow_fingerprints, the unstaged source of the overlap
    plan: winnow_overlap_pairs stages the exploded index, and the
    checkpoint truncates the lineage its own plan would show."""
    from kyiv_traffic_bigdata_spark.operators.dedup import winnow_fingerprints

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = physical_plan(winnow_fingerprints(docs))
    assert len(re.findall(r"\(\d+\) ArrowEvalPython\b", plan)) == 1
    for m in re.finditer(r"\(\d+\) Filter\b.*?(?=\(\d+\) )", plan, re.S):
        assert "_win(" not in m.group(0) and "pythonUDF" not in m.group(0)


def test_salted_join_replicates_dim_not_fact(spark, sf_dir):
    """The salted join must explode (replicate) only the dimension side;
    the fact side gets a scalar salt projection. A Generate over the
    fact table means the salting is inverted and fact bytes multiply."""
    from kyiv_traffic_bigdata_spark.operators.enrich import salted_join

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_suppkey", "l_orderkey", "l_extendedprice"
    )
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    plan = physical_plan(salted_join(li, sup))
    gen_blocks = re.findall(r"\(\d+\) Generate\b.*?(?=\(\d+\) )", plan, re.S)
    assert len(gen_blocks) == 1
    assert "s_nationkey" in gen_blocks[0]


def test_moving_stats_single_shuffle(plans):
    """All four window expressions (two frames + running + row_number)
    share one (key, order) sort: exactly one exchange in the plan."""
    assert exchange_count(plans("moving_event_stats")) == 1


def test_simhash_neardups_no_cartesian(plans):
    """Band blocking must compile to an equi-join on (band, bval) —
    never a cartesian/broadcast-nested-loop over the doc corpus."""
    plan = plans("simhash_neardups")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_interval_join_is_equi_join_not_nested_loop(plans):
    """The range join must block on (key, bin) — a BroadcastNestedLoopJoin
    here means the BETWEEN predicate reached the join unblocked, the
    quadratic plan at 100 TB."""
    plan = plans("clicks_after_error")
    assert "BroadcastNestedLoop" not in plan
    assert "Cross" not in plan


def test_quality_filter_has_no_per_lang_rank_sort(plans):
    """The quality gate's scale contract (operators.rank): no
    percent_rank window over the fact rows — a per-language monolithic
    rank sort is one task per language at 100 TB. The only per-row window
    must partition by the composite (lang, quality) key, and the slab
    metadata must come back via a broadcast join."""
    plan = plans("doc_quality_filter")
    assert "percent_rank" not in plan
    assert broadcast_join_count(plan) >= 1
    # the row_number window partitions by BOTH lang and quality
    assert re.search(
        r"row_number\(\) windowspecdefinition\(lang#\d+, quality#\d+", plan
    ), plan


def test_hash_sampling_queries_are_map_only(plans):
    """The deterministic sampling/mixing filters claim 'map-only, no
    shuffle' — hold them to it: zero Exchange in the physical plan."""
    for name in ["doc_hash_sample", "doc_corpus_mix"]:
        plan = plans(name)
        # the loader's explicit round-robin repartition is the ONE
        # allowed exchange; the sampling filter itself must add none
        assert exchange_count(plan) <= 1, name
        assert "Sort" not in plan, name


def test_gap_fill_scans_events_once(plans):
    """q_event_gap_fill reuses the hourly aggregate for both the span
    probe and the grid join; the localCheckpoint must absorb the raw
    events scan so the final plan reads NO parquet — without it the
    full-data aggregate (and its scan) runs twice."""
    plan = plans("event_gap_fill")
    assert "Scan parquet" not in plan


def test_shipping_priority_pushdown_and_topk(plans):
    """TPC-H-Q3 shape: the segment and date predicates must reach the
    parquet scans (PushedFilters), and the top-10 must be a TakeOrdered,
    never a global Sort of the aggregate."""
    plan = plans("shipping_priority")
    pushed = " | ".join(scan_filter_exprs(plan))
    assert "c_mktsegment" in pushed and "o_orderdate" in pushed and "l_shipdate" in pushed
    assert "TakeOrderedAndProject" in plan


def test_local_supplier_volume_broadcasts_tiny_dims(plans):
    """TPC-H-Q5 shape: nation and region are kilobyte dims — both joins
    must broadcast; the region filter must be pushed to its scan."""
    plan = plans("local_supplier_volume")
    assert broadcast_join_count(plan) >= 2
    assert any("r_name" in f for f in scan_filter_exprs(plan))


def test_session_window_is_single_shuffle(plans):
    """The built-in session_window aggregate must be one exchange on the
    user key — no extra sort/shuffle beyond the sessionization itself."""
    plan = plans("user_session_windows")
    assert exchange_count(plan) == 1
    assert "CartesianProduct" not in plan


def test_retention_joins_stay_keyed(plans):
    """Cohort retention: every join is keyed (broadcast at test SF,
    shuffle-hash at scale) — never a nested-loop/cartesian fallback."""
    plan = plans("event_retention")
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_returned_items_pushdown_and_topk(plans):
    """TPC-H-Q10 shape: returnflag + date predicates reach the fact
    scans, nation rides a broadcast, and the top-20 is a TakeOrdered —
    never a global sort of the per-customer aggregate."""
    plan = plans("returned_items")
    pushed = " | ".join(scan_filter_exprs(plan))
    assert "l_returnflag" in pushed and "o_orderdate" in pushed
    assert "TakeOrderedAndProject" in plan
    assert broadcast_join_count(plan) >= 1


def test_brand_discount_disjunction_pushed_to_part_scan(plans):
    """TPC-H-Q19 shape: Catalyst must factor the part-only conjuncts out
    of the OR and push them to the part scan — the build side carries
    only possibly-matching parts. A scan with no p_brand filter means
    the factoring regressed and every part flows into the join."""
    plan = plans("brand_discount_revenue")
    part_scan_filters = [f for f in scan_filter_exprs(plan) if "p_brand" in f]
    assert part_scan_filters, "p_brand disjunction not pushed to part scan"
    assert "Or(" in part_scan_filters[0]


def test_large_orders_gates_before_wide_joins(plans):
    """TPC-H-Q18 shape: the quantity HAVING gate must sit between the
    lineitem aggregate and the orders/customer joins (filter on the agg
    output), and the final ranking must be a TakeOrdered."""
    plan = plans("large_orders")
    assert "TakeOrderedAndProject" in plan
    assert re.search(r"Filter.*sum_qty", plan) or "(sum_qty" in plan


def test_idle_rich_scalar_gate_is_single_row_broadcast(plans):
    """TPC-H-Q22 shape: the decorrelated scalar average joins as a
    1-row broadcast (nested-loop over ONE row is the cheap and correct
    plan); the no-recent-orders test must plan as a real anti-join."""
    plan = plans("idle_rich_customers")
    assert re.search(r"BroadcastNestedLoopJoin.*(Inner|Cross)", plan)
    assert re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin).*LeftAnti", plan)


def test_doc_chunks_is_map_only(plans):
    """Chunking must stay shuffle-free: tokens → sequence explode →
    slices is per-row work; any Exchange here is a regression."""
    plan = plans("doc_chunks")
    # one round-robin repartition from _docs_with_tokens is the only
    # allowed exchange (local test-data balancing, see helper docstring)
    assert exchange_count(plan) <= 1
    assert "CartesianProduct" not in plan


def test_semdedup_single_cluster_exchange(plans):
    """SemDeDup: map-only centroid assignment + ONE groupBy(cluster)
    exchange into the per-cluster gram verify — no pair shuffle, no
    nested loop."""
    plan = plans("emb_semdedup")
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert exchange_count(plan) <= 2  # round-robin balance + cluster group


def test_repeated_spans_windows_are_per_doc(plans):
    """ExactSubstr span queries: the only sorts are per-doc window
    sorts (bounded by doc length) — no global sort, no cartesian; and
    the frequency gate must partial-aggregate map-side."""
    for q in ("doc_repeated_spans", "doc_clip_repeated"):
        plan = plans(q)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoop" not in plan
        assert "partial_count" in plan or "partial_" in plan


def test_forecast_revenue_all_predicates_pushed(plans):
    """TPC-H-Q6 shape: every predicate is a raw-column comparison, so
    all four must reach the parquet scan; no join anywhere."""
    plan = plans("forecast_revenue")
    pushed = " | ".join(scan_filter_exprs(plan))
    for c in ("l_shipdate", "l_discount", "l_quantity"):
        assert c in pushed, c
    assert "Join" not in plan


def test_priority_count_exists_is_semi_join(plans):
    """TPC-H-Q4 shape: EXISTS must plan as a LEFT SEMI join with the
    date comparison as residual — never a fan-out join + distinct."""
    plan = plans("priority_count")
    assert re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin).*LeftSemi", plan)
    assert "Distinct" not in plan


def test_emb_decontaminate_is_map_only_literal_probes(plans):
    """Semantic decontamination must be the kmeans-centroid shape:
    probes as metadata, per-row scoring — no join of any kind and only
    the round-robin balance exchange. The scoring is one Arrow
    projection (never row-at-a-time Python)."""
    plan = plans("emb_decontaminate")
    for node in ("Join", "CartesianProduct", "Exchange hashpartitioning",
                 "BatchEvalPython"):
        assert node not in plan, node
    assert exchange_count(plan) <= 1  # _emb round-robin balance only
    assert "ArrowEvalPython" in plan  # the vectorized scoring pass


def test_doc_version_diff_single_full_outer_join(plans):
    """Snapshot diff: one co-partitioned full-outer join on the key —
    no window, no nested loop; fingerprints are map-side."""
    plan = plans("doc_version_diff")
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "Window" not in plan


def test_blocklist_filter_is_map_only(plans):
    """The cheapest curation gate must stay shuffle-free: higher-order
    array filter + size over the token array is per-row work."""
    plan = plans("doc_blocklist_filter")
    # the round-robin balance repartition from _docs_with_tokens is the
    # only allowed exchange
    assert exchange_count(plan) <= 1
    assert "CartesianProduct" not in plan


def test_domain_quality_single_domain_aggregate(plans):
    """Domain gating = one map-only score pass + ONE hash aggregate
    keyed by domain; no windows, no joins."""
    plan = plans("doc_domain_quality")
    assert exchange_count(plan) <= 2  # balance repartition + domain agg
    assert sort_merge_join_count(plan) == 0
    assert "Window" not in plan


def test_neardup_keep_broadcasts_component_table_at_runtime(spark, sf_dir):
    """The keep-list assignment join carries NO broadcast hint (a
    heavily duplicated crawl can make the paired set corpus-scale,
    where a forced broadcast OOMs) — so the broadcast must come from
    AQE's runtime conversion when the component table is actually
    small, which it is here. Pin the EXECUTED plan: the doc_id join
    broadcasts and no sort-merge join survives to runtime."""
    executed = final_plan(QUERIES["doc_neardup_keep"](spark, sf_dir))
    assert "doc_id" in broadcast_join_keys(executed)
    assert sort_merge_join_count(executed) == 0


def test_cluster_prune_no_per_cluster_fact_window(plans):
    """Prototypicality pruning must not sort a whole cluster in one
    task: no percent_rank window, and every window spec partitions by
    the composite (cluster, distance) key or runs over the bounded slab
    table."""
    plan = plans("emb_cluster_prune")
    assert "percent_rank" not in plan


def test_boilerplate_df_table_preaggregated(plans):
    """Boilerplate removal re-joins the segment df table PRE-AGGREGATED:
    no cartesian, no nested loop; segment fan-out stays bounded by the
    corpus segment count."""
    plan = plans("doc_boilerplate_segments")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_trade_volume_broadcasts_both_nation_aliases(plans):
    """Q7 shape: both nation alias joins must broadcast; the fact side
    never sort-merges against a kilobyte dim."""
    plan = plans("nation_trade_volume")
    assert broadcast_join_count(plan) >= 2


def test_market_share_single_pass_no_self_join(plans):
    """Q8 shape: numerator and denominator ride ONE aggregate — a
    second lineitem scan or a self-join is a regression."""
    plan = plans("nation_market_share")
    assert parquet_scan_count(plan, "lineitem") <= 1


def test_product_line_filter_pushed_to_part_scan(plans):
    """Q9 shape: the product-line predicate must reach the part scan
    (contains → Filter directly over the scan, before any join)."""
    plan = plans("product_line_profit")
    assert "widget" in plan
    assert broadcast_join_count(plan) >= 1


def test_order_distribution_two_level_aggregate(plans):
    """Q13 shape: two hash aggregates (per-customer count, then
    count-of-counts), each with map-side partials."""
    plan = plans("customer_order_distribution")
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 4  # 2 levels x partial+final


def test_ann_hamming_broadcasts_queries(plans):
    """Hamming ANN: the query side must broadcast; the corpus never
    shuffles except the final per-query top-k."""
    plan = plans("ann_hamming")
    assert broadcast_join_count(plan) >= 1
    assert sort_merge_join_count(plan) == 0
    assert "CartesianProduct" not in plan


def test_ann_hamming_no_per_query_corpus_sort(plans):
    """The hamming top-k must never sort a query's whole corpus in one
    window partition: the per-row window partitions by the composite
    (query, distance) key (slab discipline)."""
    plan = plans("ann_hamming")
    import re as _re

    # every row_number window spec must carry BOTH partition keys
    specs = _re.findall(r"row_number\(\) windowspecdefinition\(([^,]+, [^,]+),", plan)
    assert specs, "expected a row_number window in the hamming plan"
    for spec in specs:
        assert "hamming" in spec, spec


def test_changelog_state_single_aggregate_no_window(plans):
    """CDC apply must stay the max_by single-aggregate shape: no window
    function, exactly one keyed exchange."""
    plan = plans("events_changelog_state")
    assert "Window" not in plan
    assert exchange_count(plan) == 1


def test_triangles_wedge_join_no_cartesian(plans):
    """Triangle counting must stay the ordered-wedge plan on the
    verified pair list: equi-joins only, no cartesian/nested-loop over
    pairs."""
    plan = plans("neardup_triangles")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_yoy_growth_window_over_aggregated_table_only(plans):
    """Q-YoY: the lag window must run over the AGGREGATED (type, year)
    table — exactly one window, positioned above the final aggregate,
    and the fact scan feeds a partial aggregate first."""
    plan = plans("part_type_yoy_growth")
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    assert "partial_sum" in plan


def test_bm25_takeordered_and_no_explode_for_doclength(plans):
    """BM25: final top-N is a TakeOrdered (never a global sort), totals
    ride a broadcast, document length is MAP-ONLY (the only documents
    scan in the final plan feeds the size() projection — no Generate),
    and the tf explode sits behind the staged frame so the corpus
    explode runs exactly once."""
    plan = plans("doc_bm25_topk")
    assert "TakeOrderedAndProject" in plan
    assert broadcast_join_count(plan) >= 1
    # the tf subtree is staged (checkpoint scan); a Generate in the
    # final plan means the dl aggregate regressed to the exploded shape
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 0
    # both corpus passes (tf explode, dl size) are staged — the final
    # plan reads only checkpoint scans, never the documents parquet
    assert parquet_scan_count(plan, "documents") == 0


def test_markov_transitions_bounded_window_and_aggregate(plans):
    """Markov transitions: the lag window partitions by user (the safe
    axis — per-user history is bounded) and the only other window is
    the row-normalizing sum over the ≤|types|²-row matrix (r07: the
    aggregate-joined-back form duplicated the whole lag pipeline and
    needed AQE ReusedExchange to claw one fact pass back — now the
    static plan has ONE events scan by construction); no fact
    self-join, no join at all."""
    plan = plans("event_markov_transitions")
    for spec in re.findall(r"windowspecdefinition\(([^,]+),", plan):
        assert "user_id" in spec or "from_type" in spec, spec
    assert parquet_scan_count(plan, "events") == 1
    assert sort_merge_join_count(plan) == 0
    assert broadcast_join_count(plan) == 0
    assert "CartesianProduct" not in plan


def test_min_cost_supplier_broadcast_dims_and_takeordered(plans):
    """Q2 shape: nation/region/filtered-part dims broadcast; the
    correlated min runs over the aggregated cost table; final top-100
    is a TakeOrdered, not a global sort."""
    plan = plans("min_cost_supplier")
    assert broadcast_join_count(plan) >= 3
    assert "TakeOrderedAndProject" in plan


def test_important_part_value_single_fact_pass_per_side(plans):
    """Q11 shape: the corpus total rides a broadcast join (1-row
    aggregate) — never a driver collect; per-part values map-side
    combine."""
    plan = plans("important_part_value")
    assert broadcast_join_count(plans("important_part_value")) >= 1
    assert "partial_sum" in plan


def test_supplier_part_variety_anti_join_broadcast(plans):
    """Q16 shape: the blocklist exclusion must be a broadcast ANTI
    join and the part dim a broadcast join — no sort-merge against
    dims."""
    plan = plans("supplier_part_variety")
    assert re.search(r"BroadcastHashJoin.*LeftAnti", plan)
    assert sort_merge_join_count(plan) == 0


def test_suppliers_kept_waiting_no_fact_self_join(plans):
    """Q21 shape: the EXISTS/NOT-EXISTS reformulation must keep a
    single lineitem⋈orders scan pair feeding one per-order aggregate —
    two lineitem scans would mean the textbook double self-join came
    back."""
    plan = plans("suppliers_kept_waiting")
    assert parquet_scan_count(plan, "lineitem") <= 2
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_event_bursts_single_user_window(plans):
    """Burst detection: one per-user window (lag) + one hash aggregate;
    no self-join of events against events."""
    plan = plans("event_bursts")
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    assert sort_merge_join_count(plan) == 0
    assert "CartesianProduct" not in plan


def test_emb_range_search_broadcasts_queries_corpus_never_shuffles(plans):
    """Range search: query side broadcasts; the corpus is scanned once
    with zero exchanges (the filter runs in-stage)."""
    plan = plans("emb_range_search")
    assert broadcast_join_count(plan) >= 1
    assert sort_merge_join_count(plan) == 0
    assert exchange_count(plan) == 0


def test_containment_pairs_no_cartesian(plans):
    """Containment dedup: candidates come from the rare-shingle
    equi-join; verification is candidate-bounded equi-joins — never a
    cartesian over docs."""
    plan = plans("doc_containment_dups")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kcore_peel_equi_joins_only(plans):
    """k-core: every peel round is a count aggregate + two semi-shaped
    equi-joins on the staged edge list — no cartesian/nested-loop, and
    no window at all (degree is an aggregate, not a rank)."""
    plan = plans("neardup_kcore")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 0


def test_fixpoint_runs_one_staging_job_and_one_scan_per_round(spark):
    """The graph loops' round budget: fixpoint stages each round once and
    checks convergence with one scan of the staged blocks — 2 jobs per
    round. A map-only one-partition step that settles after ``r`` rounds
    therefore costs exactly 2r jobs; an extra count() or re-join per
    round breaks this."""
    from kyiv_traffic_bigdata_spark.operators.graph import fixpoint

    r = 3

    def step(s):
        return s.select(
            "id",
            F.least(F.col("v") + 1, F.lit(r - 1)).alias("v"),
            (F.col("v") < r - 1).alias("_chg"),
        )

    start = spark.range(0, 16, numPartitions=1).withColumn("v", F.lit(0).cast("long"))
    sc = spark.sparkContext
    group = "fixpoint-job-budget"
    sc.setJobGroup(group, group)
    try:
        out, converged = fixpoint(start, step, max_rounds=10)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert converged
    assert jobs == 2 * r
    assert out.columns == ["id", "v"]
    assert {row.v for row in out.collect()} == {r - 1}


def test_prefix_filter_ranking_window_per_doc_no_cartesian(
    spark, sf_dir, monkeypatch
):
    """Prefix-filter join: the candidate join is an equi-join on prefix
    shingles and the df-ranking window partitions by doc_id (bounded by
    doc length) — never an unpartitioned global rank, never a cartesian
    over docs, and never a window over partitionBy(shingle) (a hot
    boilerplate shingle's posting list in ONE task — windows cannot be
    AQE-skew-split the way the _df join can).

    The operator stages its enriched frame (checkpoints truncate the
    window subtree out of the final explain()), so the plan is built
    with the operator's ``stage`` replaced by identity."""
    from kyiv_traffic_bigdata_spark.operators import dedup
    from kyiv_traffic_bigdata_spark.queries import load_table

    docs = load_table(spark, sf_dir, "documents")
    monkeypatch.setattr(dedup, "stage", lambda df: df)
    plan = physical_plan(dedup.prefix_filter_pairs(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    specs = re.findall(r"windowspecdefinition\(([^,]+),", plan)
    assert specs and all("doc_id" in s for s in specs), specs


def test_sorted_neighborhood_windows_partition_by_block(plans):
    """Sorted-neighborhood: every lead window partitions by the blocking
    key — an empty partitionBy here would funnel the whole corpus into
    one task (the classic global-sort-window scale bug)."""
    plan = plans("sorted_neighborhood_pairs")
    assert "CartesianProduct" not in plan
    specs = re.findall(r"windowspecdefinition\(([^,]+),", plan)
    assert specs and all("_blk" in s for s in specs), specs


def test_top_paths_takeordered_and_per_user_window(plans):
    """Path mining: the trigram leads run in ONE per-user window pass
    and the top-20 is a TakeOrderedAndProject, never a global sort."""
    plan = plans("event_top_paths")
    assert "TakeOrderedAndProject" in plan
    specs = re.findall(r"windowspecdefinition\(([^,]+),", plan)
    assert specs and all("user_id" in s for s in specs), specs
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1


def test_kmv_sketch_slab_windows_and_single_distinct_aggregate(plans):
    """KMV sketch: phase-1 rank partitions by (event_type, slab), only
    the k-bounded phase 2 by event_type alone; candidate generation is
    one distinct hash-aggregate (no join, no cartesian)."""
    plan = plans("user_distinct_sketch")
    specs = re.findall(r"windowspecdefinition\(([^)]*?)\bspecifiedwindowframe", plan)
    assert len(specs) == 2
    assert sum("_slab" in s for s in specs) == 1
    assert "CartesianProduct" not in plan


def test_priority_sample_map_only_plus_slab_rank(plans):
    """Priority sampling: the priority is computed map-side (no join
    anywhere in the plan) and ranking is the two slab windows."""
    plan = plans("doc_priority_sample")
    assert "Join" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*?)\bspecifiedwindowframe", plan)
    assert len(specs) == 2
    assert sum("_slab" in s for s in specs) == 1


def test_quantiles_window_over_histogram_only(plans):
    """Exact quantiles: the cumulative windows run over the AGGREGATED
    (group, value) histogram — the fact scan feeds a map-side partial
    count first, reads only the two referenced columns, and no window
    input is the raw fact."""
    plan = plans("order_price_quantiles")
    assert "partial_count" in plan
    read_schema = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    assert set(read_schema.split(",")) <= {
        "o_orderpriority:string",
        "o_totalprice:double",
    }
    for spec in re.findall(r"windowspecdefinition\(([^,]+),", plan):
        assert "o_orderpriority" in spec, spec


def test_overlap_sketch_operates_on_staged_sketches_only(plans):
    """KMV set algebra: the final plan must run entirely on the staged
    |types|*k sketch table — zero parquet scans of the events fact (the
    corpus-side distinct runs once, inside the checkpoint), and the only
    pair expansion is over the bounded type dimension."""
    plan = plans("user_overlap_sketch")
    assert parquet_scan_count(plan, "events") == 0


def test_lpa_communities_argmax_aggregate_no_window_no_cartesian(plans):
    """Label propagation: each round's label argmax is a min-of-struct
    AGGREGATE, never a per-node window, and every join is an equi-join
    on a vertex column — a window or cartesian here turns the per-round
    step into a one-task-per-node (or all-pairs) plan. Rounds are staged,
    so the final plan also never rescans the documents parquet."""
    plan = plans("neardup_communities")
    assert "windowspecdefinition" not in plan
    assert "CartesianProduct" not in plan
    assert parquet_scan_count(plan, "documents") == 0


def test_token_pmi_equi_self_join_and_broadcast_marginals(plans):
    """Token PMI: the windowed pair expansion must close with an
    EQUI-join on (doc_id, pos) after a constant-W map-only context
    explode — n*W events per doc, linear in document length (a doc-
    level self-join would be per-doc vocab^2, a cartesian corpus^2) —
    the 1-row token count rides a broadcast, the vocab-sized marginal
    joins carry NO hint (a web-scale vocab can exceed any broadcast
    budget; AQE converts at runtime instead — see
    test_pmi_marginals_broadcast_at_runtime), and the pair aggregate
    must map-side combine before its exchange."""
    plan = plans("token_pmi")
    assert "CartesianProduct" not in plan
    assert broadcast_join_count(plan) >= 1
    assert "partial_count" in plan


def test_pmi_marginals_broadcast_at_runtime(spark, sf_dir):
    """AQE must convert the unhinted vocab-marginal joins to broadcasts
    when the aggregated tfreq is actually small (runtime sizes, not
    static estimates). The static threshold is off here and AQE's own
    is set explicitly (it defaults to the static one), so only AQE can
    plan these broadcasts: the static plan has no broadcast keyed on
    tok_a or tok_b, and the EXECUTED plan has both."""
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    spark.conf.set(keys[0], "-1")
    spark.conf.set(keys[1], "32m")
    try:
        df = QUERIES["token_pmi"](spark, sf_dir)
        static = broadcast_join_keys(physical_plan(df))
        executed = broadcast_join_keys(final_plan(df))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert not {"tok_a", "tok_b"} & static
    assert {"tok_a", "tok_b"} <= executed


def test_link_prediction_wedge_plan_broadcast_degrees(plans):
    """Adamic–Adar: the blocking-window edge build is staged, so the
    final plan has NO window at all (a windowspec here would mean the
    O(n·w) candidate generation re-runs per wedge reference); wedges
    and the existing-edge exclusion are equi-joins, the node-sized
    degree table carries NO broadcast hint (corpus-scale at 100 TB;
    AQE converts at runtime when it fits), and nothing rescans the
    documents parquet."""
    plan = plans("neardup_link_prediction")
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition" not in plan
    assert parquet_scan_count(plan, "documents") == 0


def test_assoc_rules_basket_self_join_and_broadcast_marginals(plans):
    """Association rules: the pair expansion is an equi-join ON user_id
    over the staged distinct (user, type) basket index (bounded per-user
    fan-out — a cartesian would be |types|² × corpus), marginals and the
    1-row user count ride broadcasts, and both rule directions re-select
    ONE aggregated pair table (a second fact shuffle per direction would
    double the cost for free)."""
    plan = plans("event_assoc_rules")
    assert "CartesianProduct" not in plan
    assert broadcast_join_count(plan) >= 2
    assert parquet_scan_count(plan, "events") == 0


def test_ewma_folds_over_aggregated_histogram_only(plans):
    """EWMA: the sequential fold's collect_list runs over the (type ×
    hour) HISTOGRAM — the fact scan feeds a map-side-combined partial
    count reading exactly two columns, and no window function appears
    (a per-event window or a raw-event collect would make per-group
    state corpus-sized instead of calendar-sized)."""
    plan = plans("event_type_ewma")
    assert "partial_count" in plan
    assert "windowspecdefinition" not in plan
    read_schema = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    assert set(read_schema.split(",")) <= {
        "ts:timestamp_ntz",
        "event_type:string",
    }


def test_cms_bounded_counter_shuffle_and_broadcast_sketch(plans):
    """Count-min sketch: the counter build must map-side combine (the
    shuffle into the d*w cells is bounded per task, not key-cardinality
    — CMS's whole point; since r07 the counters SUM the staged per-key
    exact counts, so the partial is a sum, and the raw events scan
    happens exactly once at staging time), the finished sketch must
    ride a broadcast against the probe side, and the report must be a
    TakeOrderedAndProject, never a global sort. Zero events rescans in
    the final plan — everything derives from the staged exact table."""
    plan = plans("event_cms_heavy_hitters")
    assert "partial_sum" in plan
    assert parquet_scan_count(plan, "events") == 0
    assert broadcast_join_count(plan) >= 1
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_hybrid_rrf_fuses_shortlists_only(plans):
    """RRF hybrid retrieval: each ranker ends in TakeOrderedAndProject
    BEFORE fusion, the dense side broadcasts the 1-row query vector
    (corpus never shuffles for scoring), and the rank windows run on
    the k-bounded shortlists — a global window over a corpus-sized
    input would show up as a windowspec ordering raw scores without a
    TakeOrdered upstream."""
    plan = plans("doc_hybrid_rrf")
    assert "TakeOrderedAndProject" in plan
    assert broadcast_join_count(plan) >= 2
    assert "CartesianProduct" not in plan


def test_orders_profile_split_hash_aggregates(plans):
    """Data profiling (r12 shape): TWO scans of the orders parquet —
    one streaming nulls/min/max aggregate (no Expand) and one
    multi-distinct aggregate (Catalyst Expand with an all-long
    buffer) — and crucially ZERO Sort nodes: a combined aggregate
    puts string min/max in the buffer, disqualifies HashAggregate,
    and sorts the whole expanded fact (measured 2.75 s vs 0.95 s at
    sf0.1). The two 1-row results meet in a broadcast join and the
    unpivot is a generate over the finished row, not a per-column
    rescan."""
    plan = plans("orders_profile")
    assert parquet_scan_count(plan, "orders") == 2
    assert "Expand" in plan
    assert "Generate" in plan
    assert re.search(r"\(\d+\) Sort\b", plan) is None
    # exactly one broadcast join of the two 1-row aggregates (each
    # node appears twice in formatted plans: tree line + detail line)
    assert broadcast_join_count(plan) == 2
    assert "BroadcastNestedLoopJoin" in plan


def test_fk_audit_key_aggregated_joins_and_pruned_scans(plans):
    """FK integrity audit: both orphan-join sides are KEY-AGGREGATED
    before the join (child → (key, n) with map-side combine, parent →
    distinct keys), so the join is dim-sized regardless of fact size
    and no hint forces a broadcast (raw-parent-key broadcasts die at
    100 TB for lineitem→orders; AQE picks broadcast here because the
    aggregated sides are tiny). Child scans are key-only projections."""
    plan = plans("fk_integrity_audit")
    assert sort_merge_join_count(plan) == 0
    assert broadcast_join_count(plan) >= 7
    # the fact is absorbed by partial aggregation before any join
    assert "partial_count" in plan
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = [c for c in m.group(1).split(",") if c]
        assert len(cols) <= 1, cols


def test_textrank_sweeps_on_staged_edges_no_window(plans):
    """TextRank: every PageRank sweep joins the STAGED symmetric edge
    list (zero documents-parquet rescans in the final plan — without
    staging each sweep re-runs the corpus self-join), contributions
    aggregate (no per-node window), and nothing goes cartesian."""
    plan = plans("token_textrank")
    assert parquet_scan_count(plan, "documents") == 0
    assert "windowspecdefinition" not in plan
    assert "CartesianProduct" not in plan


def test_attribution_single_user_window_no_self_join(plans):
    """Last-touch attribution: ONE per-user carry-forward window pass —
    no self-join of purchases against touch candidates (zero joins at
    all), exactly one events scan, and the final aggregate map-side
    combines."""
    plan = plans("purchase_attribution")
    assert parquet_scan_count(plan, "events") == 1
    assert broadcast_join_count(plan) == 0
    assert sort_merge_join_count(plan) == 0
    specs = set(re.findall(r"windowspecdefinition\(([^,]+)#\d+[L]?,", plan))
    assert all("user_id" in s for s in specs), specs


def test_bloom_filter_broadcast_bits_no_fact_shuffle_joins(plans):
    """Bloom pre-join audit: the bit set rides a hint-broadcast (it is
    <= m rows by construction — shuffling a fact against it would
    defeat the runtime-filter pattern); the ground-truth member join
    carries no hint (members is an unbounded customer fraction — AQE
    decides), and nothing goes cartesian."""
    plan = plans("bloom_join_filter")
    assert broadcast_join_count(plan) >= 1
    assert "CartesianProduct" not in plan


def test_rfm_quartiles_from_staged_stats_broadcast_back(plans):
    """RFM segmentation: per-customer stats aggregate ONCE (staged —
    zero orders-parquet scans in the final plan), each quartile table
    is a 1-row broadcast, scoring is map-only comparisons, and no
    global window ranks the customer frame (quartiles come from the
    histogram trick, not ntile)."""
    plan = plans("customer_rfm_segments")
    assert parquet_scan_count(plan, "orders") == 0
    assert broadcast_join_count(plan) >= 3
    assert sort_merge_join_count(plan) == 0


def test_phrase_search_term_filtered_index_equi_adjacency(plans):
    """Phrase search: the positional index is filtered to the query
    terms BEHIND the staged frame (zero documents-parquet scans in the
    final plan — the corpus posting list never materializes), adjacency
    is an equi-join on (doc_id, pos), and nothing goes cartesian or
    window."""
    plan = plans("doc_phrase_search")
    assert parquet_scan_count(plan, "documents") == 0
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition" not in plan


def test_skew_profile_histogram_of_histograms(plans):
    """Skew diagnostic: the per-key counts aggregate map-side combines
    off a single-column scan; quantiles run over the count-of-counts
    histogram (staged — no fact rescan in the final plan); report is a
    broadcast crossJoin of 1-row frames."""
    plan = plans("join_skew_profile")
    assert parquet_scan_count(plan, "lineitem") == 0
    assert broadcast_join_count(plan) >= 1
    assert sort_merge_join_count(plan) == 0


def test_emb_dim_stats_single_pass_partial_agg(plans):
    """Feature stats: one posexplode pass with map-side partial
    aggregation down to d rows — no window, no join, one embeddings
    scan reading only the vector column."""
    plan = plans("emb_dim_stats")
    assert parquet_scan_count(plan, "embeddings") == 1
    assert "partial_count" in plan
    assert "windowspecdefinition" not in plan
    read_schema = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    assert "embedding" in read_schema and "label" not in read_schema


def test_seasonality_two_bounded_aggregates_no_window(plans):
    """Seasonality grid: fact → calendar-hour histogram (map-side
    combine) → ≤168-row profile; two aggregates, no window, no join,
    and the scan reads only the timestamp column."""
    plan = plans("event_seasonality")
    assert "partial_count" in plan
    assert "windowspecdefinition" not in plan
    read_schema = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    assert read_schema == "ts:timestamp_ntz", read_schema


def test_late_shipment_single_agg_pruned_scans(plans):
    """Q12-shape: the CASE-inside-sum bucketing is ONE hash aggregate
    (partial + final block — map-side combine) over a single exchange;
    the derived year() predicate legitimately cannot reach
    PushedFilters, but projection must prune both scans to exactly the
    referenced columns (reading l_quantity for a count-only aggregate
    means pruning broke)."""
    plan = plans("late_shipment_priority")
    assert exchange_count(plan) == 1
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 2
    assert "partial_sum" in plan
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    li = next(s for s in schemas if "l_orderkey" in s)
    assert set(li.split(",")) == {
        "l_orderkey:bigint",
        "l_shipdate:timestamp_ntz",
    }, li


def test_dominant_suppliers_single_fact_scan_window_totals(plans):
    """Q20-shape: per-part totals come from a WINDOW over the
    (part, supplier) aggregate, NOT a self-join — the join formulation
    recomputed the aggregate subtree and scanned lineitem twice with
    two sort-merge joins (caught+fixed r07). Pin: one scan per table,
    marker filter pushed into the part scan, zero sort-merge joins."""
    plan = plans("dominant_part_suppliers")
    assert parquet_scan_count(plan, "lineitem") == 1
    assert parquet_scan_count(plan, "part") == 1
    assert sort_merge_join_count(plan) == 0
    assert "StringContains(p_name" in " ".join(scan_filter_exprs(plan))


def test_token_entropy_single_documents_scan(plans):
    """Entropy/TTR: tokenize+explode is the dominant cost and must run
    ONCE — per-doc totals are a window over the (doc, term) aggregate,
    not a join back onto a second scan (caught+fixed r07). The window
    shuffle by doc_id pre-partitions the final per-doc aggregate, so
    the whole pipeline is two exchanges."""
    plan = plans("doc_token_entropy")
    assert parquet_scan_count(plan, "documents") == 1
    assert exchange_count(plan) == 2
    assert sort_merge_join_count(plan) == 0


def test_single_derivation_scan_budgets(plans):
    """r07 sweep: queries that referenced an expensive subtree more than
    once used to make Catalyst RE-DERIVE it (no common-subexpression
    reuse across DataFrame references) — doc_decontaminate scanned
    documents six times, event_funnel compounded to seven events scans.
    Each was fixed by staging the bounded intermediate, a window over
    the aggregate, or a pure-hash filter; this pins the per-table scan
    budget of every rewritten query so a refactor can't silently bring
    a rescans back."""
    budgets = {
        "doc_decontaminate": ("documents", 0),  # staged shingle index
        "doc_source_drift": ("documents", 0),  # staged (source,term)
        "doc_unigram_logprob": ("documents", 0),  # staged tf
        "doc_bigram_logprob": ("documents", 1),  # unigram marginal only
        "doc_mixture_weights": ("documents", 0),  # staged lang profile
        "doc_tfidf_terms": ("documents", 0),  # staged tf
        "doc_novelty": ("documents", 1),  # window over grams
        "doc_langid_confusion": ("documents", 1),  # window over cells
        "doc_vocab_coverage": ("documents", 0),  # staged vocab counts
        "doc_quality_filter": ("documents", 0),  # staged scored frame
        "event_funnel": ("events", 1),  # staged v/c stages
        "event_audience_overlap": ("events", 0),  # staged audiences
        "event_retention": ("events", 0),  # staged activity/cohort
        "event_cms_heavy_hitters": ("events", 0),  # staged exact counts
        "small_quantity_revenue": ("lineitem", 1),  # window avg
        "min_cost_supplier": ("lineitem", 1),  # window min
        "important_part_value": ("lineitem", 0),  # staged part values
        "top_revenue_supplier": ("lineitem", 0),  # staged revenue
        "fk_integrity_audit": ("lineitem", 3),  # one per FK relation
        "bloom_join_filter": ("customer", 1),  # one flag frame
        "event_markov_transitions": ("events", 1),  # window row totals
        "doc_scd2_history": ("documents", 1),  # array+explode versions
    }
    over = {}
    for name, (table, budget) in budgets.items():
        n = parquet_scan_count(plans(name), table)
        if n > budget:
            over[name] = (table, n, budget)
    assert not over, f"scan budgets exceeded (table, got, budget): {over}"


def test_r08_additions_plan_shapes(plans):
    """The four r08 queries' scale-critical shapes:

    - emb_mrl_recall: both top-k passes broadcast the bounded probe set
      (the corpus never shuffles for scoring) and nothing degrades to a
      cartesian — the probe join is an inequality join that would
      BNLJ-explode if the broadcast side were ever the corpus.
    - user_hll_sketch: pure hash-aggregate pipeline (no join of raw
      events against raw events, no cartesian); the sketch state is the
      only thing crossing the wire after partial aggregation.
    - doc_ngram_contamination: the benchmark-membership join must stay
      an equi-join (skew-splittable) — never a nested-loop.
    """
    mrl = plans("emb_mrl_recall")
    assert "CartesianProduct" not in mrl
    assert broadcast_join_count(mrl) >= 2, "probe sets must broadcast"

    hll = plans("user_hll_sketch")
    assert "CartesianProduct" not in hll
    assert "BroadcastNestedLoopJoin" not in hll

    contam = plans("doc_ngram_contamination")
    assert "CartesianProduct" not in contam
    assert "BroadcastNestedLoopJoin" not in contam


def test_hard_negatives_mined_serving_shape(plans):
    """The r09 scale-safe hard-negative miner (VERDICT r08 ask #4): the
    corpus must never be exact-scored against a corpus-proportional
    anchor set. Pinned shape:

    - no cartesian anywhere;
    - every join against the full corpus broadcasts the OTHER side
      (fixed-k anchors / bounded shortlist): no sort-merge join — a
      sort-merge here would shuffle the corpus for a constant-size
      probe table;
    - the float rerank stage ranks inside a per-anchor window bounded
      by HARDNEG_SHORTLIST, which plan-wise means the only windows are
      partitioned (no global Window without PARTITION BY)."""
    plan = plans("emb_hard_negatives_mined")
    assert "CartesianProduct" not in plan
    assert sort_merge_join_count(plan) == 0, (
        "corpus-side shuffle join in the serving path"
    )
    assert broadcast_join_count(plan) >= 2  # shortlist stage + rerank stage


def test_r09_additions_plan_shapes(plans):
    """The r09 additions' scale-critical shapes:

    - doc_cdc_chunks: chunk text must never cross a shuffle — the
      exchanges move (hash, len) pairs; no cartesian, no sort preceding
      the chunk explode (boundaries are per-row expression work).
    - token_zipf_fit: ONE token aggregate feeds a TakeOrdered top-200;
      the regression window runs on the bounded head, so the plan's
      only Window comes after a limit, and there is no corpus-wide
      global sort.
    - user_ab_lift: one fact scan, one user collapse, one conditional
      1-row aggregate — no join of any kind (the two-filter arm split
      would re-derive the chain and scan the fact twice).
    """
    cdc = plans("doc_cdc_chunks")
    assert "CartesianProduct" not in cdc
    # the chunk text column is projected away before both aggregates:
    # no exchange carries a string wider than the md5 hash
    assert "_c#" not in cdc.split("Exchange", 1)[-1] or "md5" in cdc

    zipf = plans("token_zipf_fit")
    assert "TakeOrderedAndProject" in zipf
    assert "CartesianProduct" not in zipf

    ab = plans("user_ab_lift")
    assert "Join" not in ab
    assert parquet_scan_count(ab, "events") == 1


def test_minhash_pipeline_never_broadcasts(plans, spark, sf_dir):
    """Every table in the near-dup pair pipelines scales with the corpus
    (bucket table, candidate pairs, per-doc shingle-id sets), and the
    size estimate of a staged table undershoots badly enough that a
    36.8M-row index became a broadcast build side and OOM'd an 8 GB
    driver at 100x sf0.1. So the MinHash-LSH plan has no broadcast join
    at all, no pair operator broadcasts a per-doc table (a join keyed on
    id_a / id_b / doc_id), and none ships per-doc shingle STRING arrays:
    the sets are built from the shared int64 shingle-id index. The
    per-doc rule holds in the executed plans too, after AQE's runtime
    join conversions (the ``_sid`` self-joins are not covered: they
    still become runtime broadcasts)."""
    by_name = {
        name: plans(name)
        for name in (
            "minhash_lsh_pairs",
            "neardup_prefix_pairs",
            "sorted_neighborhood_pairs",
            "ngram_neardups",
            "doc_containment_dups",
        )
    }
    minhash = by_name["minhash_lsh_pairs"]
    assert "BroadcastHashJoin" not in minhash
    assert "BroadcastNestedLoopJoin" not in minhash
    assert "CartesianProduct" not in minhash
    for name, plan in by_name.items():
        assert not broadcast_join_keys(plan) & {"id_a", "id_b", "doc_id"}, name
        assert "collect_set(shingle" not in plan, name
        assert "collect_list(shingle" not in plan, name
        executed = final_plan(QUERIES[name](spark, sf_dir))
        assert not broadcast_join_keys(executed) & {"id_a", "id_b", "doc_id"}, name


def test_r09_late_additions_plan_shapes(plans):
    """The 3 late-r09 additions' scale-critical shapes:

    - event_hopping_stats: the 2-per-event window assignment must be a
      map-side Expand (Catalyst's TimeWindowing rule), never a join —
      one exchange total, the group-by's.
    - user_cumulative_uniques: no join and no corpus-level window; the
      single-partition exchange is legal ONLY because it feeds the
      day-level aggregate (calendar-sized), pinned by it appearing
      after both hash aggregates.
    - part_name_fuzzy_matches: the blocked self-join must stay an
      equi-join on the blocking key (no cartesian / nested-loop), and
      the top-1-per-name rank must push down as a WindowGroupLimit so
      in-block candidate lists never sort corpus-wide.
    """
    hop = plans("event_hopping_stats")
    assert "Expand" in hop
    assert "Join" not in hop
    assert hop.count("Exchange") - hop.count("ENSURE_REQUIREMENTS") <= 1
    assert parquet_scan_count(hop, "events") == 1

    cum = plans("user_cumulative_uniques")
    assert "Join" not in cum
    assert "SinglePartition" in cum  # day-level only...
    # ...proven bounded: it must sit after the first-seen collapse
    assert cum.index("SinglePartition") > cum.index("hashpartitioning")

    fz = plans("part_name_fuzzy_matches")
    assert "CartesianProduct" not in fz
    assert "BroadcastNestedLoopJoin" not in fz
    assert "WindowGroupLimit" in fz

    # doc_token_heavy_hitters: the full token multiset must never be
    # sort-merge-shuffled — the candidate semi-join is a broadcast
    # (bounded ≤ k·#partitions by the MG summary), pruning map-side
    # before the only aggregate exchange.
    hh = plans("doc_token_heavy_hitters")
    assert "SortMergeJoin" not in hh
    assert "CartesianProduct" not in hh
    assert "LeftSemi" in hh and "Broadcast" in hh


def test_r10_additions_plan_shapes(plans):
    """The 5 r10 additions' scale-critical shapes:

    - doc_kn_logprob: tf AND cab are staged (every KN marginal derives
      from cab), so the visible plan must contain ZERO documents
      rescans (un-staged Catalyst re-derives the tokenize/zip subtree
      per marginal — the doc_bigram_logprob lesson) and join gram
      tables with equi-joins only.
    - event_ks_drift: one events scan; the only join is the 1-row
      midpoint broadcast — the KS statistic itself is a window over the
      bounded value slab, never a self-join of the fact.
    - event_value_mad: the per-type median returns to the fact on a
      BROADCAST join (the slab is ≤ |types| rows); no sort-merge join
      of the fact against itself.
    - brand_price_ols: dimension join broadcast, moments in ONE
      partial-aggregated hash aggregate, no window anywhere (the
      closed form is map-only post-aggregate).
    - token_chi2_drift: the top-k must be a TakeOrdered, not a global
      sort of the vocabulary.
    """
    kn = plans("doc_kn_logprob")
    assert parquet_scan_count(kn, "documents") == 0
    assert "CartesianProduct" not in kn
    # the |bigram types| total legitimately rides a 1-row broadcast
    # nested-loop (crossJoin); more than one would mean a gram join
    # degraded to a loop join
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", kn)) <= 1

    ks = plans("event_ks_drift")
    # two passes BY CONSTRUCTION: the midpoint (min/max of one column)
    # must be known before rows take sides — pass 1 reads ts only,
    # pass 2 the three working columns; anything beyond 2 is a rescan
    assert parquet_scan_count(ks, "events") == 2
    assert sort_merge_join_count(ks) == 0
    assert "CartesianProduct" not in ks

    mad = plans("event_value_mad")
    assert sort_merge_join_count(mad) == 0
    assert broadcast_join_count(mad) >= 1

    ols = plans("brand_price_ols")
    assert broadcast_join_count(ols) >= 1
    assert sort_merge_join_count(ols) == 0
    assert "Window" not in ols
    assert "partial_count" in ols or "partial_sum" in ols

    chi = plans("token_chi2_drift")
    assert "TakeOrdered" in chi

    # doc_gate_agreement: the gopher side reads documents once (the
    # percentile side is staged); the gate join is corpus-by-corpus on
    # doc_id so sort-merge is the RIGHT strategy (broadcast would ship
    # the corpus) — only cartesians are banned
    ka = plans("doc_gate_agreement")
    assert parquet_scan_count(ka, "documents") <= 1
    assert "CartesianProduct" not in ka
    assert "BroadcastNestedLoopJoin" not in ka


def test_r11_additions_plan_shapes(plans):
    """The 3 r11 drift/change-point additions' scale-critical shapes:

    - event_mwu_drift: same contract as the KS twin — exactly the two
      by-construction events scans (midpoint pass + sided pass), the
      midrank math a window over the bounded (type, value) slab, never
      a fact self-join.
    - event_welch_drift: ONE sided pass (the moments are conditional
      sums in a single hash aggregate — no per-side join), so two
      events scans total with the midpoint pass; map-side partials; no
      window and no sort-merge join anywhere.
    - event_cusum_shift: single events scan (no midpoint needed); the
      CUSUM windows run over the bounded (type, hour) slab after the
      count aggregate, and the peak row_number must not introduce a
      join.
    """
    mwu = plans("event_mwu_drift")
    assert parquet_scan_count(mwu, "events") == 2
    assert sort_merge_join_count(mwu) == 0
    assert "CartesianProduct" not in mwu

    w = plans("event_welch_drift")
    assert parquet_scan_count(w, "events") == 2
    assert sort_merge_join_count(w) == 0
    assert "Window" not in w
    assert "partial_count" in w or "partial_sum" in w

    cs = plans("event_cusum_shift")
    assert parquet_scan_count(cs, "events") == 1
    assert sort_merge_join_count(cs) == 0
    assert broadcast_join_count(cs) == 0
    assert "CartesianProduct" not in cs


def test_psi_and_winsor_plan_shapes(plans):
    """r11 late additions:

    - event_psi_drift: four events scans — the by-construction trio
      (midpoint, first-half decile histogram, bucket-cell pass) plus
      one duplicate of the single-column midpoint min/max, because the
      1-row mid subtree feeds TWO consumers (edges and cells) and
      Catalyst re-derives, it does not CTE-share; each extra scan is a
      ts_us-only pruned pass, the cheapest possible. The decile edges
      return on a BROADCAST (≤ |types| rows); the PSI fold is an
      aggregate over the bounded (type, bucket) slab — no sort-merge
      join, no cartesian.
    - event_winsor_stats: the event_value_mad shape — slab pass + one
      fact pass with the bounds on a broadcast; two scans, no SMJ.
    """
    psi = plans("event_psi_drift")
    assert parquet_scan_count(psi, "events") == 4
    assert sort_merge_join_count(psi) == 0
    assert "CartesianProduct" not in psi
    assert broadcast_join_count(psi) >= 1

    w = plans("event_winsor_stats")
    assert parquet_scan_count(w, "events") == 2
    assert sort_merge_join_count(w) == 0
    assert broadcast_join_count(w) >= 1
    assert "CartesianProduct" not in w


def test_r11_batch2_plan_shapes(plans):
    """The r11 batch-2 additions' scale-critical shapes:

    - order_benford_digits: the fact collapses to <= |priorities|x9
      cells in ONE pass; the dense digit frame and the chi-square
      windows run on bounded slabs; no sort-merge join.
    - event_js_divergence: |types| cells in one logical pass (the
      1-row midpoint and total aggregates re-derive the pruned scan,
      the PSI convention); everything joins back on broadcasts.
    - user_kaplan_meier: per-user reduce -> life-table aggregate; the
      cumulative windows run on the bounded life table (the
      single-partition Window is over distinct DURATIONS, not users).
    - event_poisson_bootstrap: exactly TWO fact scans (point mean +
      replicate pass) -- the x32 explode must flow straight into a
      partial aggregate, never through a join or extra shuffle of
      exploded rows; the percentile window rides the bounded
      (type, replicate) slab.
    - part_price_skyline: per-x reduce, bucket-local windows, and the
      frontier returns on a BROADCAST to the base table -- no SMJ, no
      cartesian.
    - geo_morton_density: map-side integer interleave -> one hash
      aggregate -> TakeOrdered top-100; the share total is a 1-row
      broadcast.
    """
    bf = plans("order_benford_digits")
    assert parquet_scan_count(bf, "orders") <= 3
    assert sort_merge_join_count(bf) == 0
    assert "CartesianProduct" not in bf
    assert "partial_count" in bf or "partial_sum" in bf

    js = plans("event_js_divergence")
    assert parquet_scan_count(js, "events") <= 4
    assert sort_merge_join_count(js) == 0
    assert "CartesianProduct" not in js
    assert broadcast_join_count(js) >= 2

    km = plans("user_kaplan_meier")
    assert parquet_scan_count(km, "events") <= 4
    assert sort_merge_join_count(km) == 0
    assert "CartesianProduct" not in km
    assert broadcast_join_count(km) >= 2

    pb = plans("event_poisson_bootstrap")
    assert parquet_scan_count(pb, "events") == 2
    assert sort_merge_join_count(pb) == 0
    assert "CartesianProduct" not in pb
    # the explode must feed a partial aggregate (map-side combine of
    # the 32x expansion), and the only join is the broadcast stitch
    assert "Generate" in pb and "partial_sum" in pb
    assert broadcast_join_count(pb) >= 1

    sk = plans("part_price_skyline")
    assert parquet_scan_count(sk, "part") == 2
    assert sort_merge_join_count(sk) == 0
    assert "CartesianProduct" not in sk
    assert broadcast_join_count(sk) >= 1

    mo = plans("geo_morton_density")
    assert parquet_scan_count(mo, "events") == 2
    assert sort_merge_join_count(mo) == 0
    assert "CartesianProduct" not in mo
    assert "TakeOrdered" in mo

    # event_trend_robust: the fact collapses to the bounded hourly grid
    # first; the pairwise self-join and the median/tie windows all run
    # on that slab (<= 720 rows/type regardless of corpus size), so the
    # join may broadcast and must never SMJ or go cartesian
    tr = plans("event_trend_robust")
    assert parquet_scan_count(tr, "events") <= 3
    assert sort_merge_join_count(tr) == 0
    assert "CartesianProduct" not in tr

    # doc_quality_auc: ONE corpus scan, zero joins — the label is a
    # map-side expression and the AUC folds over the bounded score
    # histogram
    auc = plans("doc_quality_auc")
    assert parquet_scan_count(auc, "documents") == 1
    assert sort_merge_join_count(auc) == 0
    assert broadcast_join_count(auc) == 0
    assert "CartesianProduct" not in auc

    # event_markov_entropy: per-user lag pairs -> |types|^2 cells;
    # the entropy folds and the pi total are slab arithmetic
    me = plans("event_markov_entropy")
    assert parquet_scan_count(me, "events") <= 2
    assert sort_merge_join_count(me) == 0
    assert "CartesianProduct" not in me

    # event_conformal_interval: the bounded intermediates (midpoint,
    # per-type med/n_cal, qhat) are collected driver metadata (the
    # kmeans-centroid convention), so the RETURNED plan is a single
    # pruned fact pass with literal-map bounds — no joins at all
    ci = plans("event_conformal_interval")
    assert parquet_scan_count(ci, "events") == 1
    assert sort_merge_join_count(ci) == 0
    assert broadcast_join_count(ci) == 0
    assert "CartesianProduct" not in ci


def test_pca_invariants_returned_plan_single_scan_no_joins(plans):
    """emb_pca_invariants: the RETURNED plan is the one posexplode
    aggregate — exactly one embeddings scan, zero joins, map-side
    partial agg (the eigen side is driver metadata, not plan nodes).
    At 100 TB this query costs two single-pass scans total (the gram
    pass inside fit_pca plus this aggregate), never a shuffle of the
    corpus beyond the 64-row per-dim slab."""
    plan = plans("emb_pca_invariants")
    assert parquet_scan_count(plan, "embeddings") == 1
    assert sort_merge_join_count(plan) == 0
    assert broadcast_join_count(plan) == 0
    assert "partial" in plan  # map-side combine on the per-dim agg
