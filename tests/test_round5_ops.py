"""Invariant tests for the round-5 operators: windowed HLL twin,
q-gram spectrum, bloom-filter join pre-pruning, incremental MinHash
maintenance, IVF-PQ."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from mdb_to_postgres_spark.registry import QUERIES, load_all
from tests.conftest import ORACLE_SF

load_all()


def test_window_approx_distinct_bound_holds(spark):
    out = QUERIES["stream_window_approx_distinct"](spark, ORACLE_SF).toPandas()
    assert len(out) > 0
    # the sketch bound is an invariant, not a tolerance (see docstring)
    assert out.hll_within_5pct.all()
    assert (out.exact_users > 0).all()
    # window starts are hour-aligned epoch seconds
    assert (out.window_start % 3600 == 0).all()


def test_qgram_spectrum_ranges(spark):
    out = QUERIES["x_text_qgram_spectrum"](spark, ORACLE_SF).toPandas()
    assert len(out) > 0
    assert ((out.distinct_ratio > 0) & (out.distinct_ratio <= 1)).all()
    assert ((out.top_share > 0) & (out.top_share <= 1)).all()
    # modal share can never be below 1/distinct of a uniform spectrum
    assert (out.distinct_qgrams <= out.n_qgrams).all()


def test_bloom_prefilter_no_false_negatives(spark):
    r = QUERIES["join_bloom_prefilter"](spark, ORACLE_SF).toPandas().iloc[0]
    # every true match passes the filter (structural: member bits are set)
    assert r.bloom_pass >= r.true_matches
    assert r.false_positives == r.bloom_pass - r.true_matches
    # 128 Kbit / k=3 over ~3k keys: false-positive rate well under 1%
    pruned = r.fact_rows - r.true_matches
    if pruned > 0:
        assert r.false_positives / pruned < 0.01, r.to_dict()


def test_minhash_incremental_equals_full_restriction(spark):
    full = QUERIES["x_dedup_minhash_lsh"](spark, ORACLE_SF).toPandas()
    inc = QUERIES["x_dedup_minhash_incremental"](spark, ORACLE_SF).toPandas()
    delta_mask = (full.doc_a % 10 == 7) | (full.doc_b % 10 == 7)
    want = set(zip(full[delta_mask].doc_a, full[delta_mask].doc_b))
    got = set(zip(inc.doc_a, inc.doc_b))
    # incremental maintenance loses nothing vs a full rebuild
    assert got == want
    # and never re-reports base-base pairs
    assert all(a % 10 == 7 or b % 10 == 7 for a, b in got)


def test_ivf_pq_recall_vs_exact_knn(spark):
    """The 64-deep ADC shortlist always leaves exactly 5 ranked neighbors
    per query. Exact scoring, rank order and the recall floor against
    exact kNN are in test_ann_quality_vs_exact_knn[x_sim_ann_ivf_pq]."""
    pq = QUERIES["x_sim_ann_ivf_pq"](spark, ORACLE_SF).toPandas()
    per_q = pq.groupby("query_id").rn.agg(["count", "max"])
    assert len(per_q) == 20
    assert (per_q["count"] == 5).all() and (per_q["max"] == 5).all()


def test_histogram_bins_partition_data(spark):
    out = QUERIES["agg_histogram_bins"](spark, ORACLE_SF).toPandas()
    li = spark.read.parquet(f"{ORACLE_SF}/lineitem.parquet")
    # bins tile the data: counts add up to the full table
    assert out.cnt.sum() == li.count()
    # bucket mins/maxes respect their bin bounds (bins 1..12 are equi-width)
    inner = out[(out.bin >= 1) & (out.bin <= 12)]
    for _, r in inner.iterrows():
        lo, hi = (r.bin - 1) * 5000.0, r.bin * 5000.0
        assert lo <= r.bin_min <= r.bin_max < hi, r.to_dict()


def test_cms_heavy_hitters_never_undercount(spark):
    out = QUERIES["x_text_heavy_hitters_cms"](spark, ORACLE_SF).toPandas()
    assert len(out) > 0
    # CMS estimates only ever overcount
    assert (out.overcount >= 0).all()
    assert (out.est_count >= out.exact_count).all()
    # heavy hitters are genuinely frequent (stopwords of the corpus)
    assert (out.exact_count > 10).all()


def test_repeated_ngrams_ratio_bounds(spark):
    out = QUERIES["x_dedup_repeated_ngrams"](spark, ORACLE_SF).toPandas()
    assert len(out) > 0
    assert ((out.n_hot >= 1) & (out.n_hot <= out.n_shingles)).all()
    assert ((out.hot_frac > 0) & (out.hot_frac <= 1)).all()


def test_zorder_groups_are_clustered(spark):
    out = QUERIES["sort_zorder_cluster"](spark, ORACLE_SF).toPandas()
    assert len(out) == 16
    li = spark.read.parquet(f"{ORACLE_SF}/lineitem.parquet")
    n = li.count()
    assert out.cnt.sum() == n
    # Z-ordering must actually cluster: the mean per-group envelope in the
    # leading dimension is far narrower than the full key range.
    full_span = li.agg(F.max("l_partkey") - F.min("l_partkey")).collect()[0][0]
    mean_span = (out.part_max - out.part_min).mean()
    assert mean_span < full_span * 0.6, (mean_span, full_span)


def test_outlier_zscore_flags_extremes(spark):
    out = QUERIES["agg_outlier_zscore"](spark, ORACLE_SF).toPandas()
    assert len(out) > 0
    assert (out.zscore.abs() > 3).all()
    # outliers are a small tail, not the bulk
    n = spark.read.parquet(f"{ORACLE_SF}/events.parquet").count()
    assert len(out) < 0.05 * n


def test_profile_counts_consistent(spark):
    out = QUERIES["scan_profile_columns"](spark, ORACLE_SF).toPandas()
    assert set(out.column_name) == {
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"
    }
    assert (out.n_null + out.n_distinct <= out.n_rows + out.n_null).all()
    key = out[out.column_name == "o_orderkey"].iloc[0]
    assert key.n_distinct == key.n_rows and key.n_null == 0


def test_filtered_ann_respects_predicate(spark):
    out = QUERIES["x_sim_ann_filtered"](spark, ORACLE_SF).toPandas()
    assert len(out) > 0
    emb = spark.read.parquet(f"{ORACLE_SF}/embeddings.parquet").select(
        "vec_id", "label"
    ).toPandas().set_index("vec_id")["label"]
    # every returned neighbor shares its query's label (pre-filter, not
    # post-filter: never violated, not just usually)
    for _, r in out.iterrows():
        assert emb[r.neighbor_id] == emb[r.query_id], r.to_dict()
    # at most 5 per query, ranked
    assert (out.groupby("query_id").rn.max() <= 5).all()


def test_rate_alert_fires_on_real_baseline(spark):
    out = QUERIES["stream_rate_alert"](spark, ORACLE_SF).toPandas()
    assert len(out) > 0
    assert (out.rate_ratio > 1.5).all()
    assert (out.trailing_avg > 0).all()
    # windows are 15-minute aligned
    assert (out.window_start % 900 == 0).all()


def test_containment_catches_what_jaccard_misses(spark):
    out = QUERIES["x_dedup_containment"](spark, ORACLE_SF).toPandas()
    assert len(out) > 0
    assert (out.containment >= 0.8).all()
    # containment dominates jaccard by construction (min <= union)
    assert (out.containment >= out.jaccard).all()


def test_contrastive_triplets_are_valid(spark):
    out = QUERIES["x_pipeline_contrastive_triplets"](spark, ORACLE_SF).toPandas()
    assert len(out) > 0
    # negative never collides with anchor or positive
    assert ((out.negative != out.anchor) & (out.negative != out.positive)).all()
    # negatives land inside the corpus id range
    n = spark.read.parquet(f"{ORACLE_SF}/documents.parquet").count()
    assert ((out.negative >= 0) & (out.negative < n)).all()
    # pairs come from the >=0.35 near-dup set
    assert (out.pos_jaccard >= 0.35).all()
    # determinism: a second build yields the identical triplet set
    again = QUERIES["x_pipeline_contrastive_triplets"](spark, ORACLE_SF).toPandas()
    a = set(map(tuple, out[["anchor", "positive", "negative"]].itertuples(index=False)))
    b = set(map(tuple, again[["anchor", "positive", "negative"]].itertuples(index=False)))
    assert a == b


def test_cohort_retention_matrix_is_sound(spark):
    out = QUERIES["win_cohort_retention"](spark, ORACLE_SF).toPandas()
    assert len(out) > 0
    assert ((out.retention > 0) & (out.retention <= 1)).all()
    assert (out.active_users <= out.cohort_size).all()
    # offset 0 is full retention by construction (the cohorting event)
    zero = out[out.hr_offset == 0]
    assert len(zero) > 0 and (zero.retention == 1.0).all()
    # offsets never negative (first activity defines the cohort)
    assert (out.hr_offset >= 0).all()


def test_attribution_credits_recent_touch(spark):
    out = QUERIES["win_attribution_last_touch"](spark, ORACLE_SF).toPandas()
    assert len(out) > 0
    assert ((out.gap_sec >= 0) & (out.gap_sec <= 3600)).all()
    assert out.touch_type.isin(["click", "view"]).all()
    # one attribution row per purchase at most
    assert out.purchase_id.is_unique


def test_concurrency_sweep_is_conservative(spark):
    out = QUERIES["win_concurrency_sweep"](spark, ORACLE_SF).toPandas()
    assert len(out) > 0
    # concurrency never negative, never exceeds the user population
    n_users = (
        spark.read.parquet(f"{ORACLE_SF}/events.parquet")
        .select("user_id").distinct().count()
    )
    assert (out.peak_concurrent >= 0).all()
    assert (out.peak_concurrent <= n_users).all()
    # every session contributes exactly two boundary events in total
    assert out.boundary_events.sum() % 2 == 0


def test_lateral_topn_shape(spark):
    out = QUERIES["sql_lateral_topn"](spark, ORACLE_SF).toPandas()
    assert len(out) > 0
    # at most 2 orders per customer, ranked 1..2
    per_c = out.groupby("c_custkey").rk.agg(["count", "max"])
    assert (per_c["count"] <= 2).all() and (per_c["max"] <= 2).all()
    # within a customer, rank follows descending totalprice
    srt = out.sort_values(["c_custkey", "rk"])
    assert (srt.groupby("c_custkey").o_totalprice.diff().dropna() <= 0).all()


def test_recursive_cte_matches_pointer_jump(spark):
    # engine-native recursion and O(log depth) pointer jumping are twins
    rec = QUERIES["sql_recursive_cte"](spark, ORACLE_SF).toPandas()
    jump = QUERIES["x_tree_depth_pointer_jump"](spark, ORACLE_SF).toPandas()
    a = rec.sort_values("doc_id").reset_index(drop=True)
    b = jump.sort_values("doc_id").reset_index(drop=True)
    assert a.doc_id.tolist() == b.doc_id.tolist()
    assert a.depth.tolist() == b.depth.tolist()


def test_dynamic_overwrite_touches_only_its_partition(spark):
    out = QUERIES["etl_partition_overwrite_dynamic"](spark, ORACLE_SF).toPandas()
    src = spark.read.parquet(f"{ORACLE_SF}/orders.parquet").toPandas()
    assert len(out) == len(src)
    m = out.merge(src, on="o_orderkey", suffixes=("_new", "_old"))
    urgent = m[m.o_orderpriority_old == "1-URGENT"]
    rest = m[m.o_orderpriority_old != "1-URGENT"]
    # restated partition doubled; all other partitions byte-identical
    assert (urgent.o_totalprice_new == (
        urgent.o_totalprice_old.astype("float64") * 2).round(2)).all()
    assert (rest.o_totalprice_new == rest.o_totalprice_old).all()


def test_python_datasource_partition_parallel(spark):
    out = QUERIES["scan_python_datasource"](spark, ORACLE_SF).toPandas()
    assert len(out) == 4096
    # 8 declared partitions, each produced its own contiguous slice
    assert out.pid.nunique() == 8
    per = out.groupby("pid").id.agg(["min", "max", "count"])
    assert (per["count"] == 512).all()
    assert (per["min"] == per.index * 512).all()
    # registration is idempotent within a session
    again = QUERIES["scan_python_datasource"](spark, ORACLE_SF)
    assert again.count() == 4096


def test_variant_extraction_is_typed(spark):
    out = QUERIES["fn_variant_semistructured"](spark, ORACLE_SF).toPandas()
    assert len(out) == 5  # five event types
    assert (out.cnt > 0).all()
    assert (out.k_min <= out.k_max).all()
    # props k values are 0..99 in the corpus
    assert (out.k_min >= 0).all() and (out.k_max <= 99).all()


def test_sql_udf_inlines_and_matches_builtin_form(spark):
    udf_form = QUERIES["fn_sql_udf"](spark, ORACLE_SF).toPandas()
    assert len(udf_form) == 3
    # identical totals to the hand-inlined expression
    from mdb_to_postgres_spark.functions.compat import REVENUE_EXPR
    want = (
        spark.read.parquet(f"{ORACLE_SF}/lineitem.parquet")
        .selectExpr("l_returnflag", f"{REVENUE_EXPR} AS r")
        .groupBy("l_returnflag").sum("r").toPandas()
    )
    m = udf_form.merge(want, on="l_returnflag")
    assert (m.net_revenue == m["sum(r)"].astype("float64")).all()


def test_pipe_syntax_equals_classic_form(spark):
    pipe = QUERIES["sql_pipe_syntax"](spark, ORACLE_SF).toPandas()
    classic = QUERIES["agg_groupby"](spark, ORACLE_SF).toPandas()
    m = pipe.merge(classic, on=["l_returnflag", "l_linestatus"])
    assert len(m) == len(pipe) > 0
    assert (m.cnt == m.count_order).all()
    assert (m.sum_qty_x == m.sum_qty_y).all()


def test_collation_casefolds_groups(spark):
    out = QUERIES["fn_collation_casefold"](spark, ORACLE_SF).toPandas()
    # exactly the five lowercase segments — no case-split buckets
    assert len(out) == 5
    assert (out.segment == out.segment.str.lower()).all()


def test_bm25_ranks_plausibly(spark):
    out = QUERIES["x_text_bm25_retrieval"](spark, ORACLE_SF).toPandas()
    assert len(out) == 20
    assert (out.bm25 > 0).all()
    assert (out.terms_hit.between(1, 3)).all()
    # ranked descending
    assert (out.bm25.diff().dropna() <= 0).all()


def test_ewma_tracks_values(spark):
    out = QUERIES["win_ewma_bounded"](spark, ORACLE_SF).toPandas()
    assert len(out) > 0
    # first observation per user: ewma == value exactly (weight mass = w0)
    first = out.groupby("user_id").first()
    # smoothing stays inside the observed value envelope per user
    g = out.groupby("user_id").agg(vmin=("value", "min"), vmax=("value", "max"))
    m = out.merge(g, on="user_id")
    assert ((m.ewma >= m.vmin - 1e-9) & (m.ewma <= m.vmax + 1e-9)).all()


def test_hybrid_rrf_fuses_both_arms(spark):
    out = QUERIES["x_sim_hybrid_rrf"](spark, ORACLE_SF).toPandas()
    assert len(out) == 10
    # every fused row came from at least one arm
    assert ((out.lex_rank.notna()) | (out.vec_rank.notna())).all()
    # a doc ranked by both arms outranks one ranked by a single arm at
    # similar positions (structural property of rrf)
    both = out[out.lex_rank.notna() & out.vec_rank.notna()]
    if len(both) > 0:
        single = out[out.lex_rank.isna() | out.vec_rank.isna()]
        if len(single) > 0:
            assert both.rrf.max() >= single.rrf.max()
    # ranked descending
    assert (out.sort_values("rn").rrf.diff().dropna() <= 1e-12).all()


def test_keyset_page_continues_exactly(spark):
    page3 = QUERIES["sort_keyset_pagination"](spark, ORACLE_SF).toPandas()
    assert len(page3) == 50
    # equals rows 100-149 of the full OFFSET ordering
    full = (
        spark.read.parquet(f"{ORACLE_SF}/orders.parquet")
        .orderBy("o_totalprice", "o_orderkey")
        .limit(150)
        .toPandas()
        .iloc[100:150]
        .reset_index(drop=True)
    )
    assert page3.o_orderkey.tolist() == full.o_orderkey.tolist()


def test_cdc_extract_feed_reconstructs_v2(spark):
    feed = QUERIES["etl_cdc_extract"](spark, ORACLE_SF).toPandas()
    assert len(feed) > 0
    # deletes ordered before inserts before updates
    cls = feed.sort_values("op_seq").op.map({"delete": 0, "insert": 1, "update": 2})
    assert (cls.diff().dropna() >= 0).all()
    # replay sanity: applying the feed to v1's id set yields v2's id set
    from mdb_to_postgres_spark.extensions.pipeline import _corpus_v2
    v1_ids = set(
        spark.read.parquet(f"{ORACLE_SF}/documents.parquet").toPandas().doc_id
    )
    v2_ids = set(_corpus_v2(spark, ORACLE_SF).select("doc_id").toPandas().doc_id)
    ids = set(v1_ids)
    for _, r in feed.sort_values("op_seq").iterrows():
        if r.op == "delete":
            ids.discard(r.doc_id)
        elif r.op == "insert":
            ids.add(r.doc_id)
    assert ids == v2_ids


def test_quantile_normalize_range_and_monotone(spark):
    out = QUERIES["win_quantile_normalize"](spark, ORACLE_SF).toPandas()
    assert ((out.qnorm >= 0) & (out.qnorm <= 1)).all()
    # within a group, qnorm is monotone in value
    srt = out.sort_values(["event_type", "value"])
    assert (srt.groupby("event_type").qnorm.diff().dropna() >= 0).all()


def test_benford_shares_sum_to_one(spark):
    out = QUERIES["agg_benford_digits"](spark, ORACLE_SF).toPandas()
    assert set(out.digit) <= set(range(1, 10))
    assert abs(out.share.sum() - 1.0) < 1e-4
    assert abs(out.benford_expected.sum() - 1.0) < 1e-4


def test_ab_report_consistency(spark):
    r = QUERIES["stream_ab_test_report"](spark, ORACLE_SF).toPandas().iloc[0]
    assert r.users_a > 0 and r.users_b > 0
    assert 0 <= r.conv_a <= r.users_a and 0 <= r.conv_b <= r.users_b
    assert abs(r.rate_a - r.conv_a / r.users_a) < 1e-12
    # parity split covers every user exactly once
    n_users = (
        spark.read.parquet(f"{ORACLE_SF}/events.parquet")
        .select("user_id").distinct().count()
    )
    assert r.users_a + r.users_b == n_users
    import math
    assert math.isfinite(r.z_score)


def test_join_size_sketch_is_accurate(spark):
    r = QUERIES["agg_join_size_sketch"](spark, ORACLE_SF).toPandas().iloc[0]
    # AGMS is unbiased; at 4x512 the averaged estimate sits within a
    # wide +-20% band (measured ~3-4% on this corpus)
    assert 0.8 <= r.est_over_exact <= 1.2, r.to_dict()
    assert r.exact_rows > 0


def test_json_malformed_quarantines_and_survives(spark):
    out = QUERIES["scan_json_malformed"](spark, ORACLE_SF).toPandas()
    assert len(out) == 25  # all nation rows survive the corrupted feed
    bad = out[out.quarantined == 1]
    good = out[out.quarantined == 0]
    assert len(bad) > 0 and len(good) > 0
    assert bad.n_name.isna().all()
    assert good.n_name.notna().all()
    # keys recoverable even for quarantined rows
    assert out.n_nationkey.notna().all()


def test_soundex_blocks_name_variants(spark):
    out = QUERIES["fn_phonetic_soundex"](spark, ORACLE_SF).toPandas()
    codes = dict(zip(out.name, out.sx))
    assert codes["Smith"] == codes["Smyth"]
    assert codes["Johnson"] == codes["Jonson"]
    assert codes["ACME Corp"] == codes["Acme Corporation"]
    # distinct families stay apart
    assert codes["Smith"] != codes["Johnson"]


def test_distinct_on_latest_per_customer(spark):
    out = QUERIES["sql_distinct_on"](spark, ORACLE_SF).toPandas()
    assert out.o_custkey.is_unique
    # spot-check one customer: the returned order is their max orderdate
    orders = spark.read.parquet(f"{ORACLE_SF}/orders.parquet").toPandas()
    ck = out.o_custkey.iloc[0]
    mine = orders[orders.o_custkey == ck]
    assert out[out.o_custkey == ck].o_orderdate.iloc[0] == mine.o_orderdate.max()


def test_pit_join_never_leaks_the_future(spark):
    out = QUERIES["join_point_in_time"](spark, ORACLE_SF).toPandas()
    assert len(out) > 0
    dim = spark.read.parquet(f"{ORACLE_SF}/orders.parquet").toPandas()
    vfrom = dim.set_index("o_orderkey").o_orderdate.astype("int64") // 10**9
    # the matched version's validity start is never after the fact time
    assert (out.version_key.map(vfrom) <= out.ship_sec).all()


def test_pseudonymization_is_consistent_and_masking(spark):
    out = QUERIES["etl_pseudonymize_keys"](spark, ORACLE_SF).toPandas()
    n_users = (
        spark.read.parquet(f"{ORACLE_SF}/events.parquet")
        .select("user_id").distinct().count()
    )
    # bijective on this id space: one token per user, no collisions
    assert len(out) == n_users
    assert out.utoken.is_unique
    # tokens reveal nothing structural about the raw id
    assert out.utoken.str.fullmatch(r"u_[0-9a-f]{12}").all()
