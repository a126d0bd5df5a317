"""Physical-plan regression tests (SURVEY.md §4): the properties that
matter at 100 TB, asserted on the actual executed plans so a future
refactor can't silently trade them away.

- small-side joins stay broadcast (no sort-merge shuffle of the fact)
- filters and projections reach the parquet scan (PushedFilters /
  pruned ReadSchema)
- scalar pipelines stay inside whole-stage codegen
- shuffle counts stay at the designed minimum (e.g. the whole
  minhash-LSH sketch = repartition fan-out + ONE aggregation shuffle)
"""

from __future__ import annotations

import re

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _scan_info(df) -> str:
    # formatted explain includes PushedFilters / ReadSchema per scan
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def queries():
    from dug_data_ingest_spark.queries import all_queries

    return all_queries()


@pytest.mark.parametrize(
    "slug",
    ["join-gen3-picsure", "join-broadcast-map", "join-study-dd-link", "pipeline-bdc-summary"],
)
def test_small_side_joins_are_broadcast(queries, spark, slug):
    plan = _plan(queries[slug](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, f"{slug} fell back to a fact-table shuffle join"


@pytest.mark.parametrize(
    "slug,expected",
    [
        ("filter-notnull-conj", "StringStartsWith(c_name"),
        ("filter-membership", "Not(In(s_suppkey"),
        ("filter-key-equality", "EqualTo"),
    ],
)
def test_filters_reach_the_scan(queries, spark, slug, expected):
    info = _scan_info(queries[slug](spark, SF_DIR))
    pushed = re.findall(r"PushedFilters: \[[^\]]*\]", info)
    assert any(expected in p for p in pushed), f"{slug}: {pushed}"


def test_projection_prunes_scan_columns(queries, spark):
    # proj-derive-studyid touches 1-2 columns; the scan must not read
    # the whole customer schema
    info = _scan_info(queries["proj-derive-studyid"](spark, SF_DIR))
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", info)
    assert schemas and all(len(s.split(",")) <= 2 for s in schemas), schemas


@pytest.mark.parametrize("slug", ["proj-program-norm", "str-case-trim", "text-quality"])
def test_scalar_queries_stay_in_codegen(queries, spark, slug):
    plan = _plan(queries[slug](spark, SF_DIR))
    # '*(n)' is toString's whole-stage-codegen marker
    assert "*(" in plan, f"{slug} fell out of whole-stage codegen:\n{plan}"
    assert "BatchEvalPython" not in plan, f"{slug} fell off the JVM path (row Python UDF)"
    assert "Exchange" not in plan, f"{slug} added a shuffle to a pure projection"


def test_minhash_sketch_is_single_shuffle(queries, spark):
    # fan-out repartition + the one signature aggregation; anything
    # more means the 16-permutation fusion regressed
    plan = _plan(queries["dedup-minhash"](spark, SF_DIR))
    n_exchanges = plan.count("Exchange")
    assert n_exchanges <= 2, f"minhash plan grew to {n_exchanges} exchanges:\n{plan}"


def test_jaccard_candidate_join_never_sort_merges_at_test_scale(queries, spark):
    # Since r10 the graded path is the PPJoin prefix filter: the
    # candidate self-join joins only each doc's rarest-shingle prefix,
    # and at test scale its build side is small, so the planner must
    # pick broadcast; at real scale both sides become identical
    # hashpartitioning(shingle) exchanges and ReuseExchange kicks in.
    # Either way a SortMergeJoin of a recomputed side is never right.
    plan = _plan(queries["dedup-ngram-jaccard"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan or "ReusedExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_prefix_jaccard_verify_never_cartesian(queries, spark):
    # The exact-verify stage joins the candidate pair list back to the
    # checkpointed shingle-set arrays twice, by doc id — equi-joins
    # only. A CartesianProduct / BroadcastNestedLoopJoin anywhere means
    # the verify regressed to pairwise scoring.
    plan = _plan(queries["dedup-ngram-jaccard"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


@pytest.mark.parametrize("slug", ["dedup-ngram-jaccard", "dedup-containment"])
def test_shingle_self_join_reuses_pipeline_in_final_plan(queries, spark, slug):
    # The claim pinned here is the one that matters at 100 TB: the
    # heavy per-side pipeline — for containment the scan -> shingle
    # explode -> df-cap anti-join; for the prefix path the
    # explode+df-join+doc_id shuffle that feeds the prefix window — is
    # computed ONCE, and the self-join's second side feeds from a
    # ReusedExchange of it (only the cheap Window/projection re-runs
    # per side). AQE performs this reuse at stage materialization, so
    # it is only visible in the FINALIZED plan: the query must be
    # executed via its OWN plan (df.collect(); df.count() would build
    # a separate QueryExecution and leave this one at
    # isFinalPlan=false showing two full pipelines — the measurement
    # trap documented in SCALE.md).
    df = queries[slug](spark, SF_DIR)
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan, f"{slug}: AQE plan not finalized:\n{plan}"
    final = plan.split("+- == Initial Plan ==")[0]
    assert "ReusedExchange" in final or "ReusedQueryStage" in final, (
        f"{slug}: self-join sides no longer share the shingle pipeline "
        f"(corpus scanned/exploded twice at scale):\n{final}"
    )


def test_exact_dedup_is_one_shuffle(queries, spark):
    plan = _plan(queries["dedup-exact"](spark, SF_DIR))
    assert plan.count("Exchange") <= 1, plan


def test_flagship_report_no_python_in_hot_path(queries, spark):
    plan = _plan(queries["flagship-index-report"](spark, SF_DIR))
    assert "BatchEvalPython" not in plan


def test_kmeans_assigns_row_locally(queries, spark):
    # the corpus never shuffles for assignment: the collected centroids
    # fold into a row-local argmin, so the plan has no join, no
    # exchange on vec_id, and exactly one Exchange (the population
    # groupBy on the cell id)
    plan = _plan(queries["sim-kmeans-cells"](spark, SF_DIR))
    assert "Join" not in plan, plan
    assert "hashpartitioning(vec_id" not in plan, plan
    assert plan.count("Exchange") == 1, plan


# ---------------------------------------------------------------------------
# Star-schema OLAP plans (queries/analytics.py)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "slug",
    [
        "olap-revenue-by-nation",
        "olap-top-orders",
        "olap-nation-rank-window",
        "olap-returned-items",
        "olap-promo-share",
    ],
)
def test_olap_dim_joins_stay_broadcast(queries, spark, slug):
    # dim sides (nation/region/customer/supplier/filtered orders) are
    # O(sf); a sort-merge join here would shuffle the fact table once
    # per dim at 100 TB
    plan = _plan(queries[slug](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, f"{slug} shuffles the fact for a dim join"


def test_olap_pricing_summary_pushdown_and_partial_agg(queries, spark):
    df = queries["olap-pricing-summary"](spark, SF_DIR)
    info = _scan_info(df)
    pushed = re.findall(r"PushedFilters: \[[^\]]*\]", info)
    assert any("LessThanOrEqual(l_shipdate" in p for p in pushed), pushed
    # map-side combine: the shuffle moves one partial row per
    # (group, partition), never the fact rows
    plan = _plan(df)
    assert "partial_sum" in plan, plan


@pytest.mark.parametrize(
    "slug",
    [
        "olap-top-orders",
        "olap-returned-items",
        "events-heavy-hitters",
        "text-bigram-topk",
        "text-idf",
    ],
)
def test_olap_topk_avoids_global_sort(queries, spark, slug):
    # orderBy + limit must plan as TakeOrderedAndProject (per-partition
    # heap), not a full Sort + Exchange of every group
    plan = _plan(queries[slug](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan


@pytest.mark.parametrize("slug", ["olap-volume-shipping", "olap-market-share"])
def test_q7_q8_dims_stay_broadcast(queries, spark, slug):
    # The nation-pruned customer/supplier/part dims must broadcast;
    # the only permissible shuffle join is fact ⋈ orders (and at this
    # sf even that collapses to broadcast under AQE).
    plan = _plan(queries[slug](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


def test_events_retention_single_user_shuffle(queries, spark):
    # The per-user week set must build in ONE map-side-combined
    # shuffle on user_id (collect_set), plus the group-count-sized
    # final agg — not distinct + agg + join (3 shuffles).
    plan = _plan(queries["events-retention"](spark, SF_DIR))
    n_shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert n_shuffles <= 2, plan


def test_cust_order_dist_aggregates_before_join(queries, spark):
    # Q13 shape: orders must be aggregated down to one row per
    # customer BEFORE the join — the join input is the rollup
    # (broadcast), never the raw fact. A sort-merge join here means
    # the formulation regressed to join-then-aggregate.
    plan = _plan(queries["olap-cust-order-dist"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # the rollup side partial-aggregates map-side
    assert "partial_count" in plan, plan


def test_small_qty_threshold_join_stays_broadcast(queries, spark):
    # Q17 shape: the per-part average is <= |part| rows and must come
    # back onto the fact as a broadcast — the fact is scanned twice
    # but never shuffled.
    plan = _plan(queries["olap-small-qty-revenue"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_survivors_anti_join_stays_broadcast(queries, spark):
    # the drop set is tiny relative to the corpus; the final
    # subtraction must be a broadcast anti-join (corpus scanned once,
    # never shuffled for the subtraction)
    plan = _plan(queries["dedup-survivors"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


# ---------------------------------------------------------------------------
# Curation plans (queries/curation.py)
# ---------------------------------------------------------------------------


def test_decontaminate_joins_stay_broadcast(queries, spark):
    # the eval shingle set and the contaminated-id set are both small
    # relative to the corpus; both the semi and the anti join must be
    # broadcast so the corpus never shuffles
    plan = _plan(queries["text-decontaminate"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan, plan
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan


def test_hash_sample_is_shuffle_free_and_pruned(queries, spark):
    df = queries["pipeline-hash-sample"](spark, SF_DIR)
    plan = _plan(df)
    assert "Exchange" not in plan, plan  # row-local predicate
    assert "BatchEvalPython" not in plan
    # 3-column projection must not read the text column
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", _scan_info(df))
    assert schemas and all("text" not in s for s in schemas), schemas


def test_pack_sequences_python_stage_sees_no_text(queries, spark):
    # token counts are computed JVM-side; only (source, doc_id, n_tok)
    # may cross into the Arrow/pandas stage
    df = queries["pipeline-pack-sequences"](spark, SF_DIR)
    plan = _plan(df)
    assert "FlatMapGroupsInPandas" in plan, plan
    # the pandas function's argument list is `_pack(<cols>)` in toString
    m = re.search(r"_pack\(([^)]*)\)", plan)
    assert m, plan
    assert "text" not in m.group(1), (
        f"document text crossed the Arrow boundary: {m.group(1)}"
    )


def test_vocab_topk_is_heap_not_global_sort(queries, spark):
    plan = _plan(queries["text-vocab-topk"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert "partial" in plan, plan  # map-side combine before the shuffle


def test_curate_corpus_pipeline_plan(queries, spark):
    # composed pipeline: no sort-merge joins (decontamination sides
    # broadcast), no Python anywhere, and the two corpus shuffles the
    # semantics force (content-hash window + shingle-key aggregations)
    # don't multiply when the stages compose
    plan = _plan(queries["pipeline-curate-corpus"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_salted_join_salts_the_plan(queries, spark):
    # The skew escape hatch must actually be in the executed plan of
    # its registered query: the salt column on both join sides, and
    # the replication of the right side (8-row range crossJoin).
    df = queries["join-skew-salted"](spark, SF_DIR)
    plan = _plan(df)
    assert "__salt" in plan, plan
    assert "Range (0, 8" in plan, plan
    # the final agg keys on p_brand only — the salt never leaks out
    assert "__salt" not in str(df.columns)


def test_cheapest_supplier_is_single_pass_broadcast(queries, spark):
    # Q2-shape argmin: ONE aggregation over the fact (min_by, no
    # join-back of lineitem) and broadcast dims — at 100 TB the fact
    # is touched once and never shuffled into a sort-merge join.
    plan = _plan(queries["olap-cheapest-supplier"](spark, SF_DIR))
    assert "min_by" in plan or "minby" in plan.lower(), plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Scan parquet") <= 3  # lineitem + part + supplier


def test_important_stock_threshold_is_broadcast_not_collect(queries, spark):
    # The global threshold rides a 1-row broadcast nested-loop join;
    # nothing is collected to the driver and the fact aggregates once.
    df = queries["olap-important-stock"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_fuzzy_qgram_candidates_ride_broadcast_equi_joins(queries, spark):
    # The q-gram fuzzy join's candidate generation must be an equi-join
    # on the gram key with the (small) probe side broadcast — never a
    # cartesian/nested-loop over the corpus — and the only sort-merge
    # the plan may contain is none: gram-frequency ranking joins the
    # big df table, but the probe-types side broadcasts.
    plan = _plan(queries["join-fuzzy-qgram"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "gram" in plan, plan
    # exact levenshtein runs JVM-side inside codegen, not in Python
    assert "BatchEvalPython" not in plan, plan


def test_grouping_sets_single_expand_single_shuffle(queries, spark):
    # Arbitrary grouping sets must compile to ONE Expand feeding a
    # partial+final aggregate pair — a single shuffle computes every
    # set, vs the naive N-scans + union.
    plan = _plan(queries["olap-grouping-sets"](spark, SF_DIR))
    assert plan.count("Expand [") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_sum" in plan, plan  # map-side combine before the shuffle


def test_cube_single_expand_single_shuffle(queries, spark):
    plan = _plan(queries["olap-cube-summary"](spark, SF_DIR))
    assert plan.count("Expand [") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_running_total_single_window_shuffle(queries, spark):
    # both frames (running + moving) share one partition/order spec →
    # ONE exchange on o_custkey and ONE Window node
    plan = _plan(queries["win-running-total"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Window") == 1, plan


def test_stratified_sample_two_phase_prune(queries, spark):
    # The two-phase refinement (ext/curation.py::stratified_exact_k):
    # the corpus is never shuffled — the only hash exchanges carry the
    # 256-bucket rollup and the pruned candidates; the prune itself is
    # a broadcast LEFT SEMI that must not silently vanish back into a
    # full-stratum window sort (result-preserving, so only a plan pin
    # can catch its loss — the model pin for the other direction lives
    # in tests/test_stratified_properties.py).
    plan = _plan(queries["sample-stratified-exact"](spark, SF_DIR))
    assert "LeftSemi" in plan, plan
    assert "SinglePartition" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_revenue_forecast_pushes_all_predicates(queries, spark):
    # Q6 shape: shipdate/discount/quantity ranges must ALL reach the
    # parquet scan, and ReadSchema must not drag unused fact columns.
    info = _scan_info(queries["olap-revenue-forecast"](spark, SF_DIR))
    pushed = " ".join(re.findall(r"PushedFilters: \[[^\]]*\]", info))
    for frag in ["l_shipdate", "l_discount", "l_quantity"]:
        assert frag in pushed, f"{frag} not pushed: {pushed}"
    read = " ".join(re.findall(r"ReadSchema: [^\n]*", info))
    assert "l_returnflag" not in read and "l_tax" not in read, read


def test_product_profit_dims_broadcast_fact_shuffles_once(queries, spark):
    # part/supplier/nation are broadcast; lineitem-orders is the only
    # join allowed to shuffle (and AQE may still broadcast it at this sf).
    plan = _plan(queries["olap-product-profit"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_top_supplier_max_join_is_broadcast(queries, spark):
    # The 1-row max aggregate and the supplier dim must both be
    # broadcast — the per-supplier revenue relation never re-shuffles.
    plan = _plan(queries["olap-top-supplier"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_parts_supplier_exclusion_is_broadcast_anti(queries, spark):
    plan = _plan(queries["olap-parts-supplier"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_large_orders_qualifying_set_broadcasts(queries, spark):
    # The HAVING-filtered orderkey set is tiny; both lookups ride
    # broadcast joins — orders/customer never sort-merge.
    plan = _plan(queries["olap-large-orders"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_dormant_customers_avg_is_broadcast_not_subquery_rescan(queries, spark):
    # Scalar average: BroadcastNestedLoopJoin of a 1-row aggregate;
    # recent-orders NOT EXISTS: anti join. Customer scans stay at 2
    # (one for the avg, one for the probe) — never per-row.
    plan = _plan(queries["olap-dormant-customers"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "LeftAnti" in plan, plan


def test_sessionize_single_window_exchange(queries, spark):
    # lag marker and running session ordinal share one user_id
    # partition/order spec — exactly ONE hashpartitioning exchange on
    # user_id before the session rollup re-aggregates.
    plan = _plan(queries["events-sessionize"](spark, SF_DIR))
    assert plan.count("Window") >= 1, plan
    ex = re.findall(r"Exchange hashpartitioning\(user_id", plan)
    assert len(ex) == 1, f"expected 1 user_id exchange, got {len(ex)}:\n{plan}"


@pytest.mark.parametrize(
    "slug", ["dedup-ngram-jaccard", "dedup-containment", "pipeline-incremental-dedup"]
)
def test_shingle_join_keeps_ppjoin_length_filter(queries, spark, slug):
    # The PPJoin length filter (J <= min/max of the set sizes, the
    # directional nb >= t*na for containment) sits between the
    # candidate join and the downstream stage — on the r10 prefix path
    # it prunes candidate pairs before the distinct+verify; on the
    # capped paths it cuts the candidate shuffle by the mismatched-size
    # fraction (63% on the sf0.1 corpus). It is result-preserving, so
    # only a plan pin can catch its silent loss.
    plan = _plan(queries[slug](spark, SF_DIR))
    symmetric = re.search(r"least\(na#\d+L?, n[bc]#\d+L?\)", plan)
    directional = re.search(
        r"nb#\d+L? as double\) >= \(cast\(na#\d+L? as double\) \* 0\.", plan
    )
    assert symmetric or directional, (
        f"length filter missing from the candidate join:\n{plan}"
    )


def test_containment_candidates_are_df_capped(queries, spark):
    # Hot-shingle exclusion rides a broadcast anti-join; the candidate
    # join is an equi-join on shingle — no cross product anywhere.
    plan = _plan(queries["dedup-containment"](spark, SF_DIR))
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_incremental_dedup_never_corpus_x_corpus(queries, spark):
    # Exact stage: semi-join on the 16-byte hash (shuffled, NOT
    # broadcast — the corpus side is the big one at scale). Near
    # stage: shingle equi-join. No cross products.
    plan = _plan(queries["pipeline-incremental-dedup"](spark, SF_DIR))
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_sketch_rollup_merges_partials(queries, spark):
    # Two aggregation levels: daily hll_sketch_agg partials, then
    # hll_union_agg over the blobs — the merge layer must see sketch
    # bytes, not raw user_ids.
    plan = _plan(queries["agg-sketch-rollup"](spark, SF_DIR))
    assert "hll_union_agg" in plan and "hll_sketch_agg" in plan, plan


def test_audience_overlap_is_broadcast_singletons(queries, spark):
    # All three 1-row sides combine via broadcast nested-loop joins of
    # singletons; the only shuffles are the grouped sketch/distinct aggs.
    plan = _plan(queries["events-audience-overlap"](spark, SF_DIR))
    assert "theta_intersection" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_heavy_hitters_approx_sketch_is_broadcast(queries, spark):
    # The exploded sketch list joins the exact top-10 as the broadcast
    # side; the exact head itself is TakeOrdered, not a global sort.
    plan = _plan(queries["events-heavy-hitters-approx"](spark, SF_DIR))
    assert "approx_top_k" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_ntile_is_closed_form_over_rollup(queries, spark):
    # ntile itself never appears: the bucket is the closed-form
    # CASE/FLOOR expression in the global row number. The per-customer
    # spend rollup sits BEHIND global_row_number's checkpoint (the
    # ranked relation scans as ExistingRDD), so the only live shuffle
    # is the final quartile aggregate — the ranking adds no WindowExec
    # (pinned by test_global_ranking_never_single_partition).
    plan = _plan(queries["win-ntile-quartiles"](spark, SF_DIR))
    assert "ntile" not in plan.lower(), plan
    assert "CASE WHEN" in plan and "FLOOR" in plan, plan
    assert _shuffles(plan) == 1, plan
    assert re.search(r"Exchange hashpartitioning\(quartile", plan), plan


def test_topn_per_group_aggregates_before_ranking(queries, spark):
    # Rank window runs over the (brand, part) rollup — the fact join
    # is broadcast and the window exchange moves aggregate rows only.
    plan = _plan(queries["olap-topn-per-group"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "row_number" in plan, plan


def test_histogram_is_single_groupby(queries, spark):
    # One map-side-combined aggregation: exactly one exchange in the
    # whole plan, keyed on the bucket.
    plan = _plan(queries["agg-histogram"](spark, SF_DIR))
    assert plan.count("Exchange") <= 2, plan  # partial->final agg exchange (+AQE read)
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan


def test_bucketed_join_has_no_exchange(queries, spark):
    # Both sides are bucketed(16) on the join key: the sort-merge join
    # reads bucket files directly — NO hashpartitioning exchange on
    # either join input (the only exchange left is the tiny
    # o_orderpriority rollup).
    plan = _plan(queries["join-bucketed-colocated"](spark, SF_DIR))
    assert "SortMergeJoin" in plan, plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan, plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan, plan


def test_partitioned_sink_readback_prunes_directories(queries, spark):
    # The partition-column filter must appear under PartitionFilters
    # (directory pruning), not as a post-scan data filter.
    info = _scan_info(queries["snk-partitioned-pruned"](spark, SF_DIR))
    part = info.split("PartitionFilters", 1)
    assert len(part) == 2 and "event_type" in part[1].split("]", 1)[0], info


def test_dpp_injects_runtime_partition_filter(queries, spark):
    # The selective predicate is on the dim side; the fact scan must
    # carry a dynamicpruning subquery in its partition filters.
    info = _scan_info(queries["join-dpp-events"](spark, SF_DIR))
    assert "dynamicpruning" in info, info


def test_yoy_growth_windows_over_rollup(queries, spark):
    # Supplier/nation broadcast; the lag window input is the
    # |nation|x|years| rollup, not the fact.
    plan = _plan(queries["olap-yoy-growth"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan, plan
    assert "lag(" in plan, plan


def test_range_search_is_shuffle_free(queries, spark):
    # Literal query vector folded into the plan: one scan, a fused
    # filter, zero exchanges.
    plan = _plan(queries["sim-range-search"](spark, SF_DIR))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_mode_per_group_is_two_aggs_no_window(queries, spark):
    # argmax as a struct-max AGGREGATE: two keyed aggregations and no
    # rank window anywhere in the plan.
    plan = _plan(queries["agg-mode-per-group"](spark, SF_DIR))
    assert "Window" not in plan, plan
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 2, plan


def test_percent_rank_is_closed_form_no_window(queries, spark):
    # percent_rank/cume_dist never appear as window functions: both are
    # closed-form in (rn, N) over global_row_number's output (the
    # no-WindowExec / no-SinglePartition shape is pinned by
    # test_global_ranking_never_single_partition).
    plan = _plan(queries["win-percent-rank"](spark, SF_DIR))
    assert "percent_rank(" not in plan and "cume_dist(" not in plan, plan


def _shuffles(plan: str) -> int:
    return plan.count("Exchange") - plan.count("BroadcastExchange")


def test_moving_range_window_is_one_keyed_shuffle(queries, spark):
    # Interval frame compiles to a native RangeFrame window partitioned
    # by customer: exactly one hash exchange, no global sort.
    plan = _plan(queries["win-moving-avg-range"](spark, SF_DIR))
    assert "RangeFrame" in plan, plan
    assert _shuffles(plan) == 1, plan
    assert "SinglePartition" not in plan, plan


def test_gapfill_is_single_scan_join_free(queries, spark):
    # Gap days explode FROM the rollup rows (lead + global-bounds
    # windows), so the whole dense matrix costs ONE fact scan and no
    # join; the null-type contract filter reaches the scan.
    plan = _plan(queries["ts-gapfill-locf"](spark, SF_DIR))
    assert plan.count("FileScan") == 1, plan
    assert "Join" not in plan, plan
    assert "explode(" in plan and "lead(" in plan, plan
    assert "PushedFilters: [IsNotNull(event_type)]" in plan, plan


def test_unpivot_is_expand_after_single_agg_shuffle(queries, spark):
    # Melt compiles to a row-local Expand ABOVE the aggregate: the only
    # shuffle is the groupBy that built the wide matrix.
    plan = _plan(queries["agg-unpivot-melt"](spark, SF_DIR))
    assert "Expand" in plan, plan
    assert plan.index("Expand") < plan.index("HashAggregate"), plan
    assert _shuffles(plan) == 1, plan


def test_dq_profile_is_one_pass_no_python(queries, spark):
    # All metrics for all columns ride one aggregate pipeline over one
    # scan; the tall reshape is an explode of struct literals, not a
    # per-column union of scans.
    plan = _plan(queries["dq-profile"](spark, SF_DIR))
    assert plan.count("FileScan") == 1, plan
    assert "Union" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "Generate explode" in plan, plan
    # exact distincts Expand the scan k-fold — the documented cost
    assert "Expand" in plan, plan


def test_dq_profile_approx_swap_collapses_expand(spark):
    # The 100-TB swap the slug's prose promises, as real code:
    # approx_count_distinct (HLL++ partials) profiles every column in
    # the same one-pass shape WITHOUT the k-fold Expand of exact
    # count_distinct — and its counts stay within the sketch's
    # tolerance of the exact profile.
    import pyspark.sql.functions as F

    from dug_data_ingest_spark.operators.aggregates import profile_columns

    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    cols = ["c_custkey", "c_mktsegment"]
    approx = profile_columns(cust, cols, exact=False)
    plan = _plan(approx)
    assert "Expand" not in plan, plan
    assert plan.count("FileScan") == 1, plan
    exact_rows = {
        r["col_name"]: r for r in profile_columns(cust, cols).collect()
    }
    for r in approx.collect():
        e = exact_rows[r["col_name"]]
        assert (r["n_rows"], r["n_nulls"], r["min_val"], r["max_val"]) == (
            e["n_rows"], e["n_nulls"], e["min_val"], e["max_val"]
        )
        # HLL++ default rsd is 5%; allow 3x
        assert abs(r["n_distinct"] - e["n_distinct"]) <= max(
            1, 0.15 * e["n_distinct"]
        ), (r, e)


def test_snapshot_diff_is_single_scan_no_join(queries, spark):
    # Change capture via conditional aggregation: one fact scan, one
    # keyed shuffle, and NO join of snapshot A against snapshot B.
    plan = _plan(queries["pipeline-snapshot-diff"](spark, SF_DIR))
    assert plan.count("FileScan") == 1, plan
    assert "Join" not in plan, plan
    assert _shuffles(plan) == 1, plan


def test_audit_hash_is_single_scan_single_shuffle(queries, spark):
    # Row hashing is map-local; the fingerprint groupBy shuffles <=256
    # bucket groups once.
    plan = _plan(queries["audit-row-hash"](spark, SF_DIR))
    assert "md5(" in plan, plan
    assert plan.count("FileScan") == 1, plan
    assert _shuffles(plan) == 1, plan


def test_audio_features_is_arrow_staged_single_scan(queries, spark):
    # Audio decode rides the same Arrow-batched mapInPandas shape as
    # the image path: one scan of the id source, python only at the
    # two staged boundaries (synth fixture + decode), no shuffle of
    # payloads and no row-at-a-time BatchEvalPython. The single
    # allowed exchange is the id fan-out BELOW the synth stage
    # (8-byte ids, a fixture-parallelism no-op at scale); root-first
    # explain prints deeper nodes later, so the exchange must appear
    # after the last MapInPandas — an exchange printed before it
    # would be a payload shuffle.
    plan = _plan(queries["mm-audio-features"](spark, SF_DIR))
    assert plan.count("FileScan") == 1, plan
    assert "MapInPandas" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert _shuffles(plan) <= 1, plan
    if "Exchange" in plan:
        assert plan.rindex("MapInPandas") < plan.index("Exchange"), plan


def test_waiting_suppliers_has_no_self_join(queries, spark):
    # Q21's EXISTS/NOT-EXISTS self-correlations are answered by ONE
    # per-order aggregate: lineitem is scanned exactly once and the
    # only joins are lineitem⋈orders + the broadcast supplier lookup.
    plan = _plan(queries["olap-waiting-suppliers"](spark, SF_DIR))
    assert plan.count("lineitem.parquet") == 1, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_path_transitions_is_window_plus_tiny_agg(queries, spark):
    # one user-keyed lag window + one |types|^2 groupBy — two shuffles
    plan = _plan(queries["events-path-transitions"](spark, SF_DIR))
    assert "lag(" in plan, plan
    assert _shuffles(plan) <= 2, plan


def test_dq_expectations_is_one_pass_no_union(queries, spark):
    plan = _plan(queries["pipeline-dq-expectations"](spark, SF_DIR))
    assert plan.count("FileScan") == 1, plan
    assert "Union" not in plan, plan
    assert "Generate explode" in plan, plan


def test_lm_score_caps_then_broadcasts_the_model(queries, spark):
    # the LM the score join broadcasts is the df-capped frequency head,
    # not the vocab^2-bounded full bigram table: the cap must be LIVE in
    # the plan (TakeOrderedAndProject = floor + deterministic top-K,
    # partial per-partition — never a global Sort), the head feeds the
    # broadcasts, and the bigram stream is never sort-merge-joined
    df = queries["text-lm-score"](spark, SF_DIR)
    df.collect()
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # the frequency floor reaches the capped side as a filter
    from dug_data_ingest_spark.queries.curation import _LM_MIN_COUNT

    assert f"n_big#" in plan and f">= {_LM_MIN_COUNT}" in plan, plan
    # r14: the per-doc bigram arrays are snapshot ONCE (lazy
    # localCheckpoint) and BOTH passes — LM build and score — read the
    # snapshot, so the FINAL plan has ZERO parquet scans: the corpus
    # is tokenized exactly once, in the snapshot's own materialization
    # job (the dedup-substring r13 precedent — pin upgraded from
    # "scanned exactly twice" to "never scanned above the snapshot").
    # A regression re-deriving either pass from the raw table would
    # re-surface documents.parquet here.
    final = plan.split("+- == Initial Plan ==")[0]
    assert "isFinalPlan=true" in plan, plan
    assert final.count("documents.parquet") == 0, final
    assert "Scan ExistingRDD" in final, final


def test_lm_score_cap_bites_in_the_result(queries, spark):
    # the floor must be observable in the graded output, not vacuous:
    # at least one document loses bigrams to the head cut (hapax
    # bigrams exist at every SF), so n_bigrams < total bigram count
    import pyspark.sql.functions as F

    res = queries["text-lm-score"](spark, SF_DIR)
    scored = res.agg(F.sum("n_bigrams")).collect()[0][0]
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    from dug_data_ingest_spark.functions.text import (
        normalized_words,
        shingles_of,
    )

    words = docs.select(normalized_words(F.col("text")).alias("w"))
    total = words.select(
        F.explode(shingles_of(F.col("w"), k=2)).alias("b")
    ).count()
    assert 0 < scored < total, (scored, total)


def test_ohlc_is_single_groupby_no_window(queries, spark):
    # argmin/argmax as aggregates: the whole resample is one
    # map-side-combined groupBy — no rank window anywhere
    plan = _plan(queries["ts-resample-ohlc"](spark, SF_DIR))
    assert "Window" not in plan, plan
    assert _shuffles(plan) == 1, plan
    assert "partial_min_by" in plan or "partial_min" in plan, plan


def test_keyword_tfidf_df_join_is_adaptive_not_forced(queries, spark):
    # at test SF the vocabulary-sized df table broadcasts (AQE picks
    # it); with broadcast disabled the SAME code must degrade to a
    # token-keyed shuffle join — i.e. the broadcast is adaptive, not a
    # forced hint that would OOM the driver when the vocabulary
    # outgrows the threshold at 100 TB
    df = queries["text-keyword-tfidf"](spark, SF_DIR)
    df.collect()
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # the (doc, token) rollup shuffle is SHARED between the df branch
    # and the score branch (the vacuous tf >= 1 filter keeps the two
    # exchanges canonically identical): corpus exploded once
    final = plan.split("+- == Initial Plan ==")[0]
    assert "isFinalPlan=true" in plan, plan
    assert final.count("documents.parquet") == 2, final  # rollup + total
    assert "ReusedExchange" in final or "ReusedQueryStage" in final, final
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        degraded = _plan(queries["text-keyword-tfidf"](spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert "SortMergeJoin" in degraded or "ShuffledHashJoin" in degraded, (
        degraded
    )


def test_upsert_is_single_merge_key_shuffle(queries, spark):
    # union + version-rank window: one hash exchange on the merge key,
    # no join of base against updates
    plan = _plan(queries["pipeline-upsert-latest"](spark, SF_DIR))
    assert "Join" not in plan, plan
    assert "Union" in plan and "row_number" in plan, plan
    assert _shuffles(plan) == 1, plan


def test_cume_distinct_never_windows_at_event_grain(queries, spark):
    # the fact is scanned once; the running sum rides the DAILY rollup.
    # Root-first explain prints every node before the leaf FileScan, so
    # "Window before FileScan" is vacuous — the load-bearing assertion
    # is a rollup HashAggregate BETWEEN the Window and the scan (a
    # regression that windows at event grain has no aggregate below
    # the Window).
    plan = _plan(queries["win-cume-distinct"](spark, SF_DIR))
    assert plan.count("FileScan") == 1, plan
    agg_below_window = plan.find("HashAggregate", plan.index("Window"))
    assert -1 < agg_below_window < plan.index("FileScan"), (
        "window must sit above the rollup aggregates:\n" + plan
    )


def test_delta_sync_manifest_is_one_mapside_groupby(spark):
    # the content-fingerprint rollup must stay a single key shuffle
    # with map-side partial aggregation and NO collect_list/sort —
    # the property that keeps the manifest build O(scan) at 100 TB
    import pyspark.sql.functions as F

    from dug_data_ingest_spark.sources.delta_sync import build_manifest

    df = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("k"),
        "o_orderkey", "o_custkey", "o_orderstatus",
    )
    plan = _plan(build_manifest(df, "k", ["o_orderkey", "o_custkey", "o_orderstatus"]))
    assert _shuffles(plan) == 1, plan
    assert "partial_count" in plan or "partial" in plan, plan
    assert "collect_list" not in plan and "Sort" not in plan, plan


def test_triangle_count_builds_edges_once(queries, spark):
    # edges feeds e1/e2/e3 and the n_edges reduction: in the FINALIZED
    # AQE plan the edge pipeline materializes once (ReusedExchange /
    # ReusedQueryStage) and lineitem is scanned exactly once — a
    # refactor that perturbs one edge subplan would quietly quadruple
    # the corpus work (same measurement trap as the shingle self-joins,
    # see test_shingle_self_join_reuses_pipeline_in_final_plan)
    df = queries["graph-triangle-count"](spark, SF_DIR)
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan, plan
    final = plan.split("+- == Initial Plan ==")[0]
    assert final.count("lineitem.parquet") == 1, final
    assert "ReusedExchange" in final or "ReusedQueryStage" in final, final


@pytest.mark.parametrize("slug", ["win-percent-rank", "win-ntile-quartiles"])
def test_global_ranking_never_single_partition(queries, spark, slug):
    # global_row_number replaces the unpartitioned ranking window with
    # the range-partition + in-slice-position form: the executed plan
    # must contain NO WindowExec and NO Exchange SinglePartition — the
    # shape that would funnel the whole (customer-grain, data-scaled)
    # relation through one task. The offsets side stays broadcast.
    df = queries[slug](spark, SF_DIR)
    df.collect()
    plan = _plan(df)
    assert "SinglePartition" not in plan, plan
    assert "Window [" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_substring_dedup_plan_shape(queries, spark):
    # span-level verbatim dedup: NO pairwise stage anywhere (hot
    # boilerplate fingerprints cost a count, not m² pairs), the fp
    # count combines map-side, and the island/run/doc stages all ride
    # the ONE doc_id exchange under the window — finalized AQE plan
    df = queries["dedup-substring"](spark, SF_DIR)
    df.collect()
    plan = _plan(df).split("+- == Initial Plan ==")[0]
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("FileScan") <= 2, plan  # wins derived twice, by design
    # two windows, both on doc_id partitioning: the island key and the
    # lag(p1) for the covered-token overlap correction — the second
    # must NOT cost its own exchange
    assert plan.count("Window") == 2, plan
    # root-first: every node above the LAST window (run/doc aggregates
    # + the lag) needs NO exchange of its own — doc_id hash
    # partitioning satisfies all of them
    assert plan.rindex("Window") < plan.index("Exchange"), plan
    assert plan.count("Exchange hashpartitioning(fp") == 1, plan


def test_strip_spans_plan_shape(queries, spark):
    # the removal half of span dedup: same count-then-join skeleton as
    # dedup-substring (no pairwise stage), plus the base token pass.
    # r13: the per-doc fingerprint/token snapshot is materialized ONCE
    # (lazy localCheckpoint) and every branch — fp count, tagged probe,
    # removal/protect splits, base join — reads the checkpoint RDD, so
    # the tokenize+shingle+md5 fold appears in NO branch: zero
    # FileScans in the final plan, only checkpoint scans.
    df = queries["dedup-strip-spans"](spark, SF_DIR)
    df.collect()
    plan = _plan(df).split("+- == Initial Plan ==")[0]
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("FileScan") == 0, plan
    assert plan.count("Scan ExistingRDD") <= 4, plan
    # the two gaps-and-islands windows (removal + protect), both
    # doc-partitioned — and no single-partition exchange ANYWHERE in
    # the plan (a global window would surface as one under either
    # window node; checking the whole plan pins both, where a
    # split("Window")[1] check would only see the first)
    assert plan.count("Window") == 2, plan
    assert "SinglePartition" not in plan, plan


def test_paragraph_dedup_plan_shape(queries, spark):
    # CCNet paragraph dedup: count-then-join, NO pairwise stage — a
    # paragraph repeated 10M times costs a count, never m² pairs. 3
    # pruned scans (dup-hash build + probe + doc_id passthrough,
    # scan_audit KNOWN), the duplicated-hash table and the rebuild
    # join both broadcast at test scale, and no global exchange.
    df = queries["dedup-paragraph"](spark, SF_DIR)
    df.collect()
    plan = _plan(df).split("+- == Initial Plan ==")[0]
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("FileScan") <= 3, plan
    assert "SinglePartition" not in plan, plan
    assert "EvalPython" not in plan, plan
    # exactly the two designed aggregation shuffles: the ph-keyed dup
    # count and the doc-keyed rebuild
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_winnow_plan_is_row_local(queries, spark):
    # winnowing is ENTIRELY row-local by design (one O(n*w) fold per
    # document + one explode): no aggregation/join exchange, no
    # Python, one pruned scan — the fan-out repartition is the only
    # exchange allowed.
    df = queries["dedup-winnow"](spark, SF_DIR)
    df.collect()
    plan = _plan(df).split("+- == Initial Plan ==")[0]
    assert plan.count("FileScan") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_bloom_exact_flag_join_converts_to_broadcast(queries, spark):
    # the probe is a row-local projection over the 1-row bitmap
    # broadcast (BroadcastNestedLoopJoin on a 1-row side is the
    # scalar-crossJoin idiom, not a cartesian risk). The confirm
    # verdict's size is data-dependent (~(dup_rate + fpr) of the
    # batch's key set), so the flag join is AQE-DELEGATED by design
    # (the repo's r7-r8 posture): at any realistic dup rate AQE
    # converts it to a broadcast at runtime — asserted here — leaving
    # only the planning-time probe-side exchange as a local shuffle
    # read; a sort-merge in the FINAL plan would mean the conversion
    # regressed. The only other hash exchange is the flagged-key
    # distinct (__bk), bounded by the flagged slice.
    df = queries["dedup-bloom-exact"](spark, SF_DIR)
    df.collect()
    plan = _plan(df).split("+- == Initial Plan ==")[0]
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert plan.count("FileScan") <= 3, plan
    assert "BroadcastHashJoin [fp_key" in plan, plan
    import re as _re

    keys = {
        m.group(1).split("#")[0]
        for m in _re.finditer(r"Exchange hashpartitioning\(([^,]+)", plan)
    }
    assert keys <= {"__bk", "fp_key"}, (keys, plan)


def test_temperature_mix_corpus_never_shuffles(queries, spark):
    # one pruned corpus scan, one broadcast of the strata-bounded
    # rate table, a row-local keep decision — zero hash exchanges
    # (the rates come from a separate strata-bounded driver job, by
    # design; the returned plan must not re-shuffle the corpus).
    df = queries["curate-temperature-mix"](spark, SF_DIR)
    df.collect()
    plan = _plan(df).split("+- == Initial Plan ==")[0]
    assert plan.count("FileScan") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert plan.count("BroadcastExchange") == 1, plan
    assert "EvalPython" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_kn_lm_score_counts_materialize_once(queries, spark):
    # counts feeds four consumers through a lazy localCheckpoint —
    # the corpus-wide bigram explode must NOT re-derive per consumer
    # (pre-fix: 5 parquet scans; the checkpoint leaves one visible
    # scan for the probe side, the build side rides the materialized
    # RDD). Table-assembly joins are vocabulary-bounded and broadcast
    # at test scale; no sort-merge, no Python, and the only
    # single-partition exchange is the 1-row bigram-type total.
    df = queries["text-kn-lm-score"](spark, SF_DIR)
    df.collect()
    plan = _plan(df).split("+- == Initial Plan ==")[0]
    assert plan.count("FileScan") <= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert plan.count("SinglePartition") <= 1, plan


def test_contamination_report_eval_broadcasts_corpus_scans_once(queries, spark):
    # the eval side (benchmark-sized) broadcasts WITH its ids; the
    # train corpus is scanned once and never shuffled on the shingle —
    # the only hash exchange is the (train_id, eval_id) hit groupBy.
    df = queries["text-contamination-report"](spark, SF_DIR)
    df.collect()
    plan = _plan(df).split("+- == Initial Plan ==")[0]
    assert plan.count("FileScan") == 2, plan
    assert plan.count("BroadcastExchange") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_shuffle_corpus_is_one_shard_exchange(queries, spark):
    # the reproducible-permutation contract costs exactly ONE hash
    # exchange (on the shard id) + the in-shard rank sort — no
    # broadcast, no Python, no global sort / SinglePartition.
    df = queries["pipeline-shuffle-corpus"](spark, SF_DIR)
    df.collect()
    plan = _plan(df).split("+- == Initial Plan ==")[0]
    assert plan.count("FileScan") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("BroadcastExchange") == 0, plan
    assert "EvalPython" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_gate_documents_query_is_pure_projection(queries, spark):
    # 22 deterministic rules = ONE projected scan: no exchange of any
    # kind, no Python — the property that makes the gate free at
    # corpus scale (the library-level twin is pinned in
    # test_gopher_rules; this pins the registered slug's plan).
    df = queries["curate-gate-documents"](spark, SF_DIR)
    df.collect()
    plan = _plan(df).split("+- == Initial Plan ==")[0]
    assert plan.count("FileScan") == 1, plan
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_perplexity_buckets_cuts_broadcast_no_corpus_sort(queries, spark):
    # CCNet bucketing = ONE groupBy(lang) percentile sketch (the only
    # hash exchange), the |langs|-row cut table broadcast back, and a
    # row-local bucket projection — never a global sort / window over
    # the corpus.
    df = queries["curate-perplexity-buckets"](spark, SF_DIR)
    df.collect()
    plan = _plan(df).split("+- == Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("BroadcastExchange") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert "Window" not in plan, plan


def test_dsir_weights_scoring_is_row_local(queries, spark):
    # the returned plan is the SCORING pass: since r13 the hashed-gram
    # ids are materialized once (localCheckpoint -> Scan ExistingRDD)
    # and the 4096 log-ratios ride as a constant-folded literal array,
    # so scoring is ONE row-local fold — no exchange of ANY kind, no
    # join, no Python (the two bucket distributions are 4096-bounded
    # driver collects at construction, by contract).
    df = queries["curate-dsir-weights"](spark, SF_DIR)
    df.collect()
    plan = _plan(df).split("+- == Initial Plan ==")[0]
    assert "Scan ExistingRDD" in plan, plan
    assert "FileScan" not in plan, plan
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_bm25_topk_is_stats_row_plus_take_ordered(queries, spark):
    # one aggregate pass -> 1-row stats broadcast; tf is a row-local
    # array count (the corpus never explodes on tokens, never hash-
    # shuffles); top-k plans as TakeOrderedAndProject, not a global
    # sort. The only SinglePartition is the 1-row stats agg. Since
    # r13 the staged (id, dl, tf) int table is materialized once
    # (localCheckpoint) so both consumers read Scan ExistingRDD
    # instead of re-tokenizing the parquet corpus per pass.
    df = queries["text-bm25-topk"](spark, SF_DIR)
    df.collect()
    plan = _plan(df).split("+- == Initial Plan ==")[0]
    assert plan.count("Scan ExistingRDD") == 2, plan
    assert "FileScan" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("SinglePartition") <= 1, plan
    assert "EvalPython" not in plan, plan


def test_dsir_resample_take_ordered_no_global_sort(queries, spark):
    # Gumbel-top-k = the scoring projection + TakeOrderedAndProject
    # (per-partition heaps, k-row driver merge) — never a global sort
    # of the corpus; scoring stays row-local (no hash exchange).
    df = queries["curate-dsir-resample"](spark, SF_DIR)
    df.collect()
    plan = _plan(df).split("+- == Initial Plan ==")[0]
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert "EvalPython" not in plan, plan


def test_hard_negatives_single_fused_scan(queries, spark):
    # label filter + literal-query cosine fuse into ONE scan; top-k is
    # TakeOrderedAndProject; nothing shuffles, nothing broadcasts
    # (the query vector is a plan literal).
    df = queries["sim-hard-negatives"](spark, SF_DIR)
    df.collect()
    plan = _plan(df).split("+- == Initial Plan ==")[0]
    assert plan.count("FileScan") == 1, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert plan.count("BroadcastExchange") == 0, plan
    assert "EvalPython" not in plan, plan


def test_ngram_novelty_df_table_no_pairwise(queries, spark):
    # one shingle pipeline -> df groupBy -> token-keyed join back ->
    # per-doc agg. No broadcast of a corpus-sized side, no Python,
    # and critically NO pairwise/cartesian stage (novelty needs only
    # df == 1, never which other doc shares the shingle).
    df = queries["text-ngram-novelty"](spark, SF_DIR)
    df.collect()
    plan = _plan(df).split("+- == Initial Plan ==")[0]
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert plan.count("FileScan") <= 2, plan


def test_nearest_centroid_single_corpus_pass(queries, spark):
    # |labels| centroids from one posexplode pass + a literal query
    # cosine — the corpus is scanned once; output is label-bounded.
    df = queries["sim-nearest-centroid"](spark, SF_DIR)
    df.collect()
    plan = _plan(df).split("+- == Initial Plan ==")[0]
    assert plan.count("FileScan") == 1, plan
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_volume_anomaly_bounded_aggs_broadcast_stats(queries, spark):
    # one corpus scan into the (type x day)-bounded daily rollup; the
    # |types|-row stats table broadcasts back; flagging is row-local.
    df = queries["events-volume-anomaly"](spark, SF_DIR)
    df.collect()
    plan = _plan(df).split("+- == Initial Plan ==")[0]
    assert plan.count("FileScan") <= 2, plan
    assert plan.count("BroadcastExchange") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_token_entropy_zero_shuffles(queries, spark):
    # the entropy signal is ONE row-local run-length walk over the
    # sorted token array — a pure projection: no exchange of any kind.
    df = queries["text-token-entropy"](spark, SF_DIR)
    df.collect()
    plan = _plan(df).split("+- == Initial Plan ==")[0]
    assert plan.count("FileScan") == 1, plan
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_asof_tolerance_no_fact_window(queries, spark):
    # the bounded-lookback asof keeps the asof-events shape: inequality
    # join + max_by pick — never a window/sort over the fact side; at
    # scale the closed time-range bound is what lets both sides bucket
    # into aligned slices.
    df = queries["join-asof-tolerance"](spark, SF_DIR)
    df.collect()
    plan = _plan(df).split("+- == Initial Plan ==")[0]
    assert "Window" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ccnet_curate_no_cartesian_no_python_no_global_sort(queries, spark):
    # the composed CCNet pipeline must add NOTHING to its parts:
    # paragraph dedup's count-then-join, the LM head broadcast, the
    # GK cuts broadcast. Whole pipeline JVM-side; the only allowed
    # driver-bounded structures are the <=256Ki LM head (TakeOrdered)
    # and the |langs|-row cuts table. Never a cartesian, never a
    # single-partition exchange, never a range-partitioned global sort
    # of the corpus.
    df = queries["ccnet-curate"](spark, SF_DIR)
    df.collect()
    plan = _plan(df).split("+- == Initial Plan ==")[0]
    assert "EvalPython" not in plan and "MapInPandas" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    # since r13 the dedup/LM fan-out points are materialized once
    # (localCheckpoint -> Scan ExistingRDD); the returned plan is the
    # bucket assignment over the snapshots — the LM head's
    # TakeOrderedAndProject lives in the construction-time subtree
    # (pinned by test_lm_head_take_ordered in test_ccnet_pipeline)
    assert "Scan ExistingRDD" in plan, plan
    # GK percentile rollup per lang is the single corpus-keyed shuffle
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_pq_topk_reranked_rowlocal_adc_broadcast_rerank(queries, spark):
    # ADC scoring is a row-local literal-table expression (no join, no
    # Python); every top-k stage is TakeOrderedAndProject; the
    # 400-id shortlist broadcasts back to the raw vectors (never a
    # shuffle of the corpus side); the single BroadcastNestedLoopJoin
    # is the 1-row property crossJoin idiom.
    df = queries["sim-pq-topk-reranked"](spark, SF_DIR)
    df.collect()
    plan = _plan(df).split("+- == Initial Plan ==")[0]
    assert "EvalPython" not in plan and "MapInPandas" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("TakeOrderedAndProject") >= 3, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_hot_spans_bounded_agg_take_ordered(queries, spark):
    # the boilerplate report: explode -> gram groupBy (two-phase
    # because of the exact distinct-doc count: (span, doc) partial,
    # then span) -> TakeOrderedAndProject. Never a global sort, never
    # a driver materialization of the distinct-gram table.
    df = queries["dedup-hot-spans"](spark, SF_DIR)
    df.collect()
    plan = _plan(df).split("+- == Initial Plan ==")[0]
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_quality_classifier_scoring_row_local(queries, spark):
    # the NB classifier's scoring pass is the DSIR posture: two
    # bounded-collect class distributions happen at construction; the
    # RETURNED plan is one corpus scan + a row-local fold over the
    # constant-folded literal ratio array (since r13 — the old 1-row
    # ratio broadcast copied the array onto every row) — no exchange
    # of any kind, no join, no Python
    df = queries["curate-quality-classifier"](spark, SF_DIR)
    df.collect()
    plan = _plan(df).split("+- == Initial Plan ==")[0]
    assert "EvalPython" not in plan and "MapInPandas" not in plan, plan
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("FileScan") == 1, plan


def test_phash_clusters_single_decode_pass(queries, spark):
    # the window count keeps the Python decode stage in ONE pass — a
    # groupBy + join back would re-execute the Arrow decode per
    # consumer. Exactly one Python stage, one exchange (the window's
    # hash partitioning on the hash key).
    df = queries["mm-phash-clusters"](spark, SF_DIR)
    df.collect()
    plan = _plan(df).split("+- == Initial Plan ==")[0]
    # exactly two Python stages: the payload synthesis and the decode
    # — each ONCE (a third would mean a consumer re-ran the decode)
    assert plan.count("MapInPandas") == 2, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "CartesianProduct" not in plan, plan
