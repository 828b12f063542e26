"""Physical-plan assertions (SURVEY.md §4.2): the performance posture is
tested, not assumed. Filters reach the parquet scan, projections prune the
read schema, dimension joins broadcast, top-k avoids a global sort, and
pair joins parallelize."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from mdb_to_postgres_spark.plans.inspect import (
    explain_str,
    pushed_filters,
    scan_read_schema,
    uses_broadcast_join,
)
from mdb_to_postgres_spark.registry import QUERIES, load_all
from tests.conftest import ORACLE_SF

load_all()


def test_filter_pushdown_reaches_scan(spark):
    df = QUERIES["filter_predicate"](spark, ORACLE_SF)
    pushed = pushed_filters(df)
    assert "o_orderstatus" in pushed and "EqualTo" in pushed, pushed
    assert "o_totalprice" in pushed, pushed


def test_like_pushdown(spark):
    df = QUERIES["filter_like"](spark, ORACLE_SF)
    pushed = pushed_filters(df)
    # Infix LIKE -> StringContains; prefix LIKE -> StringStartsWith
    assert "StringContains" in pushed or "StringStartsWith" in pushed, pushed


def test_column_pruning(spark):
    df = QUERIES["project_rename"](spark, ORACLE_SF)
    schema = scan_read_schema(df)
    assert "c_custkey" in schema and "c_name" in schema
    assert "c_acctbal" not in schema, schema  # unprojected column not read


def test_dimension_joins_broadcast(spark):
    assert uses_broadcast_join(QUERIES["join_broadcast"](spark, ORACLE_SF))
    assert uses_broadcast_join(QUERIES["join_multiway_star"](spark, ORACLE_SF))


def test_topk_avoids_global_sort(spark):
    plan = explain_str(QUERIES["limit_topk"](spark, ORACLE_SF))
    assert "TakeOrderedAndProject" in plan, plan


def test_semi_anti_join_strategies(spark):
    semi = explain_str(QUERIES["join_semi"](spark, ORACLE_SF))
    anti = explain_str(QUERIES["join_anti"](spark, ORACLE_SF))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_agg_is_two_phase(spark):
    # Partial (map-side) + final HashAggregate: shuffled bytes scale with
    # group count, not input rows.
    plan = explain_str(QUERIES["agg_groupby"](spark, ORACLE_SF))
    assert plan.count("HashAggregate") >= 2, plan


def test_pair_join_parallelized(spark):
    # The all-pairs cosine repartitions its stream side: the single-file
    # (single-partition) scan must not serialize the nested loop.
    plan = explain_str(QUERIES["x_dedup_embedding_cos"](spark, ORACLE_SF))
    assert "RoundRobinPartitioning" in plan, plan


def test_theta_join_keeps_hash_strategy(spark):
    # Equi component (regionkey) + residual non-equi predicate: must plan as
    # a hash/sort-merge join carrying the residual as a join condition, not
    # a nested loop over all pairs.
    plan = explain_str(QUERIES["join_theta"](spark, ORACLE_SF))
    assert "NestedLoop" not in plan, plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    # The non-equi residual (key_a < key_b) rides the equi join, it does not
    # force a cartesian: the condition appears on the join node itself.
    assert re.search(r"Join .*\bkey_a#\d+ < key_b#\d+", plan), plan


def test_no_python_udf_in_relational_tier(spark):
    # Tier R/P queries must stay JVM-side: no BatchEvalPython / Arrow eval
    # nodes anywhere in their plans.
    for name in ("agg_groupby", "join_multiway_star", "win_rank", "fn_string", "fn_datetime"):
        plan = explain_str(QUERIES[name](spark, ORACLE_SF))
        assert "Python" not in plan, (name, plan)


def test_bucketed_join_has_no_exchange(spark):
    plan = QUERIES["join_bucketed_colocated"](spark, ORACLE_SF)._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan  # co-located buckets: no shuffle at all


def test_partition_pruning_reaches_planning_time(spark):
    df = QUERIES["scan_partition_pruned"](spark, ORACLE_SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan_lines = [l for l in plan.splitlines() if "FileScan" in l]
    assert scan_lines, plan
    # the o_orderstatus filter must be a PartitionFilter (directory prune),
    # not a per-row DataFilter after reading everything
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan or "PartitionFilters: [" in plan
    pf_seg = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "o_orderstatus" in pf_seg, pf_seg


def test_correlated_subquery_decorrelates(spark):
    """subquery_scalar_corr: Catalyst must rewrite both per-row scalar
    subqueries into grouped aggregates joined back on the correlation key —
    no nested-loop re-execution, no cartesian product."""
    load_all()
    plan = explain_str(QUERIES["subquery_scalar_corr"](spark, ORACLE_SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan  # the decorrelated per-nation aggregate
    assert "Join" in plan  # joined back, not re-executed per row


def test_pivot_is_single_aggregate_pass(spark):
    """agg_pivot with explicit values: one two-phase HashAggregate over one
    scan — no extra distinct job to discover pivot values, no second scan
    of the fact table."""
    load_all()
    plan = explain_str(QUERIES["agg_pivot"](spark, ORACLE_SF))
    # formatted explain prints each node twice (tree + details); count the
    # numbered detail headers so one physical node counts once
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "HashAggregate" in plan


def test_range_frame_single_shuffle(spark):
    """win_range_frame: exactly one Exchange (the o_custkey hash partition)
    feeds the window sort — the frame itself adds no extra shuffle."""
    load_all()
    plan = explain_str(QUERIES["win_range_frame"](spark, ORACLE_SF))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_dpp_injects_dynamic_pruning(spark):
    """join_dpp_pruned: the fact scan's partition filter must be a runtime
    DynamicPruningExpression fed by the dim join — not a static literal,
    not a post-scan row filter."""
    load_all()
    plan = explain_str(QUERIES["join_dpp_pruned"](spark, ORACLE_SF))
    assert "dynamicpruning" in plan.lower()


def test_sql_q1_filter_pushed_to_scan(spark):
    """sql_q1: the shipdate predicate must reach the parquet reader as a
    data-source filter, not run as a post-scan Filter."""
    load_all()
    plan = explain_str(QUERIES["sql_q1_pricing_summary"](spark, ORACLE_SF))
    assert re.search(r"PushedFilters: \[[^\]]*LessThanOrEqual\(l_shipdate", plan)


def test_sql_q3_topk_without_global_sort(spark):
    """sql_q3: ORDER BY + LIMIT 10 must plan as TakeOrderedAndProject
    (per-partition top-k + merge), never a full global sort."""
    load_all()
    plan = explain_str(QUERIES["sql_q3_shipping_priority"](spark, ORACLE_SF))
    assert len(re.findall(r"\(\d+\) TakeOrderedAndProject", plan)) == 1


def test_sql_q5_dims_broadcast(spark):
    """sql_q5: the dimension tables (region/nation/supplier/customer) must
    broadcast — at least 3 BroadcastHashJoins in the 5-join plan."""
    load_all()
    plan = explain_str(QUERIES["sql_q5_local_supplier_volume"](spark, ORACLE_SF))
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 3


def test_unpivot_is_map_only_expand(spark):
    """reshape_unpivot: wide-to-long must plan as a single Expand over the
    scan — no Exchange (a shuffle here would be pure waste: each input row
    independently emits one row per measure)."""
    load_all()
    plan = explain_str(QUERIES["reshape_unpivot"](spark, ORACLE_SF))
    assert len(re.findall(r"\(\d+\) Expand", plan)) >= 1, plan
    assert "Exchange" not in plan, plan


def test_quantiles_agg_two_phase(spark):
    """agg_quantiles: grouped percentiles still aggregate in two phases
    (partial per-partition state + final after the group shuffle)."""
    load_all()
    plan = explain_str(QUERIES["agg_quantiles"](spark, ORACLE_SF))
    # Count numbered operator headers only: formatted explain repeats node
    # names in the details section, so a bare substring count over-counts.
    n_agg = len(re.findall(r"\(\d+\) (?:Object)?(?:Hash|Sort)Aggregate", plan))
    assert n_agg >= 2, plan


def test_redact_and_chunk_are_map_only(spark):
    # PII redaction and overlap chunking must not shuffle: no Exchange in
    # either plan — they scale with input splits alone.
    for name in ("x_text_redact_pii", "x_text_chunk_overlap"):
        plan = explain_str(QUERIES[name](spark, ORACLE_SF))
        assert "Exchange" not in plan, (name, plan)


def test_scd2_single_exchange(spark):
    # One hash Exchange on the entity key; the LEAD window sorts within
    # partitions, never globally.
    plan = explain_str(QUERIES["etl_scd2_history"](spark, ORACLE_SF))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan
    assert "rangepartitioning" not in plan, plan


def test_filtered_agg_two_phase(spark):
    # FILTER-clause aggregates keep map-side partial aggregation (the
    # distinct-guarded count adds expand passes, but partials remain).
    plan = explain_str(QUERIES["agg_filtered"](spark, ORACLE_SF))
    assert "partial" in plan.lower(), plan


def test_funnel_and_bigram_avoid_nested_loops(spark):
    # Stage-chained funnel joins and the bigram-count joins must stay
    # hash-based (broadcast at toy scale, shuffle-on-key at scale) — a
    # BNLJ/cartesian here would be O(n*m) at 100 TB.
    for name in ("win_funnel", "x_text_bigram_score"):
        plan = explain_str(QUERIES[name](spark, ORACLE_SF))
        assert "NestedLoop" not in plan and "Cartesian" not in plan, (name, plan)
        assert "HashJoin" in plan or "SortMergeJoin" in plan, (name, plan)


def test_sql_q6_predicates_all_pushed(spark):
    # Q6 is the pushdown benchmark: date band, discount band, quantity cap
    # must ALL reach the parquet reader.
    plan = explain_str(QUERIES["sql_q6_forecast_revenue"](spark, ORACLE_SF))
    pushed = re.search(r"PushedFilters: \[[^\]]*\]", plan).group(0)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, (col, pushed)


def test_sql_q19_equi_join_with_residual(spark):
    # Disjunctive predicates must not demote the equi-join to a nested loop.
    plan = explain_str(QUERIES["sql_q19_discounted_revenue"](spark, ORACLE_SF))
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan


def test_exists_forms_plan_as_semi_anti_joins(spark):
    # Q4's EXISTS must decorrelate to a semi join; Q21's EXISTS + NOT
    # EXISTS to one semi and one anti — never a per-row subquery loop or a
    # nested-loop join.
    q4 = explain_str(QUERIES["sql_q4_order_priority"](spark, ORACLE_SF))
    assert "LeftSemi" in q4, q4
    q21 = explain_str(QUERIES["sql_q21_waiting_supplier"](spark, ORACLE_SF))
    assert "LeftSemi" in q21 and "LeftAnti" in q21, q21
    for plan in (q4, q21):
        assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan


def test_correlated_scalar_subqueries_decorrelate(spark):
    # Q2 (MIN per part) and Q17 (0.2*AVG per part) must plan as aggregate
    # + join on partkey, not re-executed scalar subqueries.
    for name in ("sql_q2_min_cost_supplier", "sql_q17_small_quantity_revenue"):
        plan = QUERIES[name](spark, ORACLE_SF)._jdf.queryExecution().executedPlan().toString()
        assert "Subquery" not in plan, (name, plan)
        assert "HashAggregate" in plan and "Join" in plan, (name, plan)


def test_q13_keeps_outer_join_semantics(spark):
    # The priority filter must ride the join condition (zero-order
    # customers survive as count 0), so the join stays LeftOuter.
    plan = explain_str(QUERIES["sql_q13_customer_distribution"](spark, ORACLE_SF))
    assert "LeftOuter" in plan, plan


def test_quality_gate_is_map_only(spark):
    # The composite gate must stream at scan speed: no Exchange at all.
    plan = QUERIES["x_text_quality_gate"](spark, ORACLE_SF)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_bloom_prefilter_joins_all_broadcast(spark):
    # The bloom table and the dim-key membership join must all broadcast —
    # the probe side never rides an exchange.
    plan = explain_str(QUERIES["join_bloom_prefilter"](spark, ORACLE_SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_cms_probe_broadcasts_sketch(spark):
    # The 4096-cell sketch is the broadcast side of the probe join.
    plan = explain_str(QUERIES["x_text_heavy_hitters_cms"](spark, ORACLE_SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_repeated_ngrams_hot_table_broadcasts(spark):
    plan = explain_str(QUERIES["x_dedup_repeated_ngrams"](spark, ORACLE_SF))
    assert "BroadcastHashJoin" in plan


def test_histogram_is_two_phase_agg(spark):
    # partial (map-side) + final aggregate: the shuffle carries bin rows,
    # never data rows.
    plan = explain_str(QUERIES["agg_histogram_bins"](spark, ORACLE_SF))
    assert plan.count("HashAggregate") >= 2, plan


def test_ivf_pq_codebook_broadcasts(spark):
    plan = explain_str(QUERIES["x_sim_ann_ivf_pq"](spark, ORACLE_SF))
    assert "BroadcastHashJoin" in plan


def test_outlier_moments_broadcast_back(spark):
    plan = explain_str(QUERIES["agg_outlier_zscore"](spark, ORACLE_SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_profile_is_single_scan(spark):
    # one parquet scan NODE feeds all per-column profiles (formatted
    # explain mentions each node twice: tree line + detail header)
    plan = explain_str(QUERIES["scan_profile_columns"](spark, ORACLE_SF))
    nodes = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(nodes) == 1, plan


def test_triplets_corpus_count_broadcast(spark):
    plan = explain_str(QUERIES["x_pipeline_contrastive_triplets"](spark, ORACLE_SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_cooccurrence_stats_joins_broadcast(spark):
    # Basket-blocked pair generation: the lift epilogue joins (freq, n)
    # must broadcast onto the pair aggregate — pair rows never ride a
    # sort-merge exchange for a stats lookup.
    plan = explain_str(QUERIES["x_rec_item_cooccurrence"](spark, ORACLE_SF))
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("HashAggregate") >= 4, plan  # two-phase pair counts


def test_kmv_sketch_keeps_k_minima_via_window(spark):
    # Per-group k-minimum-values: rank window over the hash, no
    # cross-group data movement beyond the one group-key shuffle.
    plan = explain_str(QUERIES["agg_kmv_distinct_sketch"](spark, ORACLE_SF))
    assert "Window" in plan, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan


def test_event_paths_topk_avoids_global_sort(spark):
    plan = explain_str(QUERIES["win_event_paths_top"](spark, ORACLE_SF))
    assert "TakeOrderedAndProject" in plan, plan


def test_bm25_topk_avoids_global_sort(spark):
    # Query scoring = broadcast joins against the df/dl index tables;
    # the final top-20 is a TakeOrdered, never a full sort of the corpus.
    plan = explain_str(QUERIES["x_text_bm25_retrieval"](spark, ORACLE_SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_rrf_fuses_two_topk_lists(spark):
    # BOTH retrieval arms end in TakeOrdered top-k lists (per-partition
    # heap + 20-row merge) before any rank window runs, and the fused
    # top-10 is a third TakeOrdered — RRF never ranks an unranked corpus
    # (the vector arm's old full-width row_number window is gone; every
    # Window in this plan runs over <= 40 post-limit rows).
    plan = explain_str(QUERIES["x_sim_hybrid_rrf"](spark, ORACLE_SF))
    assert plan.count("TakeOrderedAndProject") >= 6, plan  # 3 nodes (tree+detail)


def test_geo_grid_nearest_all_broadcast(spark):
    # 9-cell neighborhood expansion and the cell join broadcast the
    # (small) site side; the big events side never re-shuffles for it.
    plan = explain_str(QUERIES["join_geo_grid_nearest"](spark, ORACLE_SF))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_k_anonymity_is_pure_aggregation(spark):
    # Class-level audit: aggregates only — no join anywhere, so no row
    # explosion is possible at any scale.
    plan = explain_str(QUERIES["x_privacy_k_anonymity"](spark, ORACLE_SF))
    assert "Join" not in plan, plan


def test_prefix_filter_only_match_stream_rides_smj(spark):
    # Exactly ONE sort-merge join (the large-by-large shingle match
    # stream, formatted plans mention each node twice); df-rank,
    # candidate stats and verify epilogue all broadcast.
    plan = explain_str(QUERIES["x_dedup_prefix_filter_join"](spark, ORACLE_SF))
    assert plan.count("SortMergeJoin") <= 2, plan


def test_auc_ranks_clustered_single_data_exchange(spark):
    # Mann-Whitney AUC through the clustered global_cumsum substrate: the
    # distinct-score stream moves once through the deterministic-bucket
    # hash exchange (which satisfies the rank window's clustering — no
    # second exchange, no range exchange, no offsets join), and the only
    # SinglePartition exchange is the final scalar aggregate.
    plan = explain_str(QUERIES["x_eval_auc"](spark, ORACLE_SF))
    low = plan.lower()
    assert "window" in low, plan
    assert "hashpartitioning(__go_bucket" in low, plan
    assert "rangepartitioning" not in low, plan
    assert low.count("singlepartition") <= 1, plan  # scalar agg only
    # scan -> groupBy(score) exchange -> bucket exchange -> scalar agg:
    # three exchanges total, none of them data-sized re-scans (formatted
    # plans mention each node twice).
    assert plan.count("Exchange") <= 6, plan


# Queries whose globally-ORDERED window runs over definitionally-tiny
# input (bounded by something other than data size), audited by hand:
#   etl_build_star_schema    — dense_rank over the handful of event types
#   x_sim_hybrid_rrf         — rank windows over <= 40 post-TakeOrdered rows
#   x_eval_ndcg              — rank over the post-limit top-10 list
#   stream_rate_alert        — minute buckets of a bounded time range
#   sort_global_rank_twophase— the P-row offsets window of the two-phase demo
#   x_privacy_t_closeness    — fixed salary buckets
#   win_kaplan_meier         — distinct event days (calendar-bounded)
#   x_eval_bootstrap_ci      — exactly 100 replicate means
#   x_pack_curriculum        — the 4-row stage-offsets window
#   x_text_vocab_coverage    — rank over the post-limit top-25 terms
#   x_text_zipf_fit          — rank over the post-limit top-1000 terms
# Everything else must rank/accumulate through the clustered global-order
# substrate, a partitioned window, or orderBy+limit.
_GLOBAL_WINDOW_TINY_OK = {
    "etl_build_star_schema",
    "x_sim_hybrid_rrf",
    "x_eval_ndcg",
    "stream_rate_alert",
    "sort_global_rank_twophase",
    "x_privacy_t_closeness",
    "win_kaplan_meier",
    "x_eval_bootstrap_ci",
    "x_pack_curriculum",
    "x_text_vocab_coverage",
    "x_text_zipf_fit",
    # round 11: the cumulative per-file offset runs as a global window
    # over the (one row per part file) counts table — metadata-sized by
    # construction, same class as global_order's boundary offsets.
    "etl_row_lineage",
}


def _global_ordered_windows(plan: str) -> list[str]:
    """Window nodes with an order spec but NO partition spec (the
    single-task shape): `Window [exprs], [orderSpec]` — two bracket
    groups whose LAST is an ordering. Partition-only windows show a
    column list without ASC/DESC and are scale-fine (hash-clustered)."""
    import re

    out = []
    for line in plan.splitlines():
        if not re.search(r"\bWindow \[", line) or line.count("], [") != 1:
            continue
        last = line.rsplit("], [", 1)[1]
        if "ASC NULL" in last or "DESC NULL" in last:
            out.append(line.strip()[:110])
    return out


def test_no_plan_antipatterns_anywhere(spark):
    """Sweep EVERY registered query's physical plan at sf0.001, three
    audits in one pass:
      1. no un-broadcast CartesianProduct and no row-at-a-time Python
         eval (BatchEvalPython — the UDF tier is Arrow-vectorized);
      2. no globally-ordered WindowExec outside the hand-audited
         tiny-input allowlist (a global window funnels its whole input
         through ONE task — what the clustered global_order substrate
         exists to avoid);
      3. the node-type signature of every plan matches the committed
         golden (tools/plan_shapes.json) — a silent planner regression
         (broadcast join degrading to SortMergeJoin, a lost TakeOrdered,
         a new SinglePartition exchange) fails HERE, not rounds later as
         a bench anomaly. After reviewing an INTENDED plan change, regen
         with `python tools/plan_shapes.py --write`.
    ~2.5 min for all plans; this is the whole plan audit as one
    assertion instead of per-query spot checks."""
    import json
    import os

    from mdb_to_postgres_spark.registry import QUERIES

    from tools.plan_shapes import GOLDEN, shape_signature

    with open(GOLDEN) as f:
        golden = json.load(f)["shapes"]
    sf = "/root/testdata/sf0.001"
    flagged = {}
    for name, fn in QUERIES.items():
        df = fn(spark, sf)
        plan = explain_str(df)
        hits = [k for k in ("CartesianProduct", "BatchEvalPython") if k in plan]
        exec_plan = df._jdf.queryExecution().executedPlan().toString()
        if name not in _GLOBAL_WINDOW_TINY_OK:
            gw = _global_ordered_windows(exec_plan)
            if gw:
                hits.append(f"global-window: {gw[0]}")
        sig = shape_signature(exec_plan)
        if sig != golden.get(name):
            hits.append(f"shape drift: golden={golden.get(name)} now={sig}")
        if hits:
            flagged[name] = hits
    missing = sorted(set(golden) - set(QUERIES))
    assert not missing, f"golden has shapes for unregistered queries: {missing}"
    assert not flagged, flagged


# -- round-6 additions ---------------------------------------------------


def test_reservoir_uses_window_group_limit(spark):
    # rn <= k prunes per-partition BEFORE the shuffle (WindowGroupLimit),
    # so only ~k rows per stratum per input partition ride the exchange.
    plan = explain_str(QUERIES["x_sample_reservoir_stratified"](spark, ORACLE_SF))
    assert "WindowGroupLimit" in plan, plan


def test_bucketed_dedup_candidate_join_is_exchange_free(spark):
    # executedPlan string keeps the join keys inline, so the candidate
    # SMJ segment is addressable (the formatted tree elides them).
    df = QUERIES["join_bucketed_dedup_verify"](spark, ORACLE_SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan, plan
    # the candidate self-join segment: no Exchange between the bucketed
    # scans and the SMJ (each task sort-merges one bucket against itself)
    i = plan.find("SortMergeJoin [bucket_key")
    assert i >= 0, plan
    seg = plan[i : i + 900]
    assert "Exchange" not in seg, seg


def test_heavy_query_plans_stable_at_sf1(spark):
    """Second-scale-point goldens (round-9, VERDICT item 3): AQE flips
    broadcast/skew decisions with data size, so the sf0.001 sweep above
    cannot see a scale-point plan regression — the 12 heaviest data-bound
    queries get their signatures re-checked at the 10x replica. After
    reviewing an INTENDED change: python tools/plan_shapes.py --sf1
    --write."""
    import json
    import os

    import pytest

    from tools.plan_shapes import GOLDEN_SF1, HEAVY_SF1, SF1, shape_signature

    if not os.path.exists(os.path.join(SF1, "lineitem.parquet")):
        pytest.skip("10x replica .cache/sf1 absent; create it with: python tools/scale_corpus.py 10")
    from mdb_to_postgres_spark.registry import QUERIES

    with open(GOLDEN_SF1) as f:
        golden = json.load(f)["shapes"]
    drift = {}
    for name in HEAVY_SF1:
        plan = QUERIES[name](spark, SF1)._jdf.queryExecution().executedPlan().toString()
        sig = shape_signature(plan)
        if sig != golden.get(name):
            drift[name] = (golden.get(name), sig)
    assert not drift, drift


def test_char_lm_scoring_is_map_only(spark):
    # round-9 shape: the |alphabet|^2 model is a session-cached substrate
    # collected once; scoring evaluates a constant-folded bigram->ppm map
    # literal per position — NO join and NO aggregation exchange in the
    # scoring plan (the one repartition for per-char parallelism is the
    # only data movement). The old shape rebuilt + shuffled the counted
    # (doc, bigram) stream per call: 35 s warm at the 100x replica.
    df = QUERIES["x_text_char_lm_score"](spark, ORACLE_SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    low = plan.lower()
    assert "join" not in low, plan
    assert low.count("exchange") == 1, plan  # the parallelism repartition
    assert "hashaggregate" not in low, plan


def test_theta_sketch_k_minima_via_takeordered(spark):
    # each sketch is a sort+limit: per-partition TakeOrdered partials
    # merged on the driver — never a global sort of member hashes.
    plan = explain_str(QUERIES["agg_theta_sketch_setops"](spark, ORACLE_SF))
    assert "TakeOrderedAndProject" in plan, plan


def test_interval_overlap_blocks_on_grid_cells(spark):
    # candidate generation must be an equi-join (grid cells), never a
    # nested-loop BETWEEN theta join.
    plan = explain_str(QUERIES["join_interval_overlap"](spark, ORACLE_SF))
    assert "NestedLoop" not in plan, plan  # incl. BroadcastNestedLoopJoin
    assert "CartesianProduct" not in plan, plan


def test_dataset_card_single_pass_expand(spark):
    # grouping sets = one scan + Expand, not three scans unioned.
    plan = explain_str(QUERIES["x_pipeline_dataset_card"](spark, ORACLE_SF))
    assert "Expand" in plan, plan


def test_attribution_reuses_user_partitioning(spark):
    # sessionize (user) and path stats (user, session) windows: the second
    # window's ClusteredDistribution is satisfied by the first's
    # HashPartitioning(user_id) — one exchange feeds both sorts.
    plan = explain_str(QUERIES["win_funnel_attribution_paths"](spark, ORACLE_SF))
    # formatted mode puts the keys on the Arguments line, not next to the
    # node name — counting "Exchange hashpartitioning" matches nothing and
    # asserts vacuously; count the hashpartitioning arguments themselves
    # and pin that exactly ONE shuffle exists (0 would mean the plan
    # changed shape entirely and the test lost its subject).
    assert plan.count("hashpartitioning(") == 1, plan


def test_map_in_arrow_is_arrow_vectorized(spark):
    plan = explain_str(QUERIES["x_udf_map_in_arrow"](spark, ORACLE_SF))
    assert "MapInArrow" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_compaction_planner_is_joinless_window_pass(spark):
    # the planner is metadata-only: one scan, one window, one aggregate —
    # no join anywhere.
    plan = explain_str(QUERIES["etl_compact_small_files"](spark, ORACLE_SF))
    assert "Join" not in plan, plan
    assert "Window" in plan, plan


def test_l_diversity_is_pure_aggregation(spark):
    plan = explain_str(QUERIES["x_privacy_l_diversity"](spark, ORACLE_SF))
    assert "Join" not in plan, plan


def test_bitemporal_probe_grid_broadcasts(spark):
    # the 3-row probe grid broadcasts against the version table; the
    # theta predicate must ride a BroadcastNestedLoop over the TINY side,
    # never a CartesianProduct of versions.
    plan = explain_str(QUERIES["join_bitemporal"](spark, ORACLE_SF))
    assert "CartesianProduct" not in plan, plan
    assert "Broadcast" in plan, plan


def test_covariance_is_generator_projection_no_selfjoin(spark):
    # the 2,080-cell pair expansion is a transform/explode projection of
    # each row — a vec_id self-join would shuffle the vectors twice.
    plan = explain_str(QUERIES["x_embedding_pca_covariance"](spark, ORACLE_SF))
    assert "Generate" in plan and "explode(" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_cdc_chunking_is_single_projection_no_udf(spark):
    # the whole rolling-hash chunker is array lambdas inside ONE
    # projection: no Python eval, no per-char Window pass (the earlier
    # window form re-shuffled every char row), no join — only the
    # explicit rebalance exchange and the thin chunk-hash aggregate.
    plan = explain_str(QUERIES["x_dedup_chunk_cdc"](spark, ORACLE_SF))
    assert "BatchEvalPython" not in plan, plan
    assert "Window" not in plan, plan
    assert "Generate" in plan and "explode(" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bootstrap_replicates_collapse_mapside(spark):
    # the rows-x-replicates explode must partially aggregate before the
    # exchange (HashAggregate below Exchange) so the shuffle carries
    # ~B rows per partition, not rows*B.
    plan = explain_str(QUERIES["x_eval_bootstrap_ci"](spark, ORACLE_SF))
    assert "Generate" in plan and "explode(" in plan, plan
    # the replicate-keyed exchange exists AND partial HashAggregates sit
    # below it (formatted mode puts the keys on the Arguments line)
    assert "HashAggregate" in plan and "hashpartitioning(r#" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_row_lineage_joins_only_the_broadcast_offset_table(spark):
    # Round-11 global-position form: the per-file offset table (one row
    # per part file) rejoins the row stream as a BROADCAST — the full
    # data path must never sort-merge or shuffle for the join, and the
    # single-partition window runs only on the metadata-sized counts.
    plan = explain_str(QUERIES["etl_row_lineage"](spark, ORACLE_SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_t_closeness_joins_broadcast_thin_sides(spark):
    # the densification and global-cum joins carry buckets/classes, never
    # customer rows: every join must be a broadcast of a tiny side.
    plan = explain_str(QUERIES["x_privacy_t_closeness"](spark, ORACLE_SF))
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
