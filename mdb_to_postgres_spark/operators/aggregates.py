"""Aggregation operators (SURVEY.md §2.4 #25-32).

All Spark aggregates here compile to two-phase HashAggregate (partial
map-side + final after shuffle), so shuffled bytes scale with group count,
not row count. Float-summation order-sensitivity is neutralized by the
decimal-exact helpers in functions/compat.py; variance/correlation are
computed from exact moment sums with a textually identical IEEE formula on
both engines (SURVEY.md §4.3 determinism table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.compat import CHARGE_EXPR, davg, dsum
from ..registry import query
from ..sources.tables import T, session_cache_get

# Checkpointed entity tables feeding the global-order substrate are session
# substrates (fresh per-call lineages defeat its build memo — z-order lesson).


@query(
    "agg_hash_global",
    oracle="""
    SELECT COUNT(*) AS cnt,
           COUNT(DISTINCT l_suppkey) AS supp_cnt,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
           MIN(l_shipdate) AS min_ship,
           MAX(l_shipdate) AS max_ship
    FROM lineitem
    """,
)
def agg_hash_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped aggregates (#25) over the fact table."""
    return T(spark, sf_dir, "lineitem").agg(
        F.count("*").alias("cnt"),
        F.countDistinct("l_suppkey").alias("supp_cnt"),
        dsum("l_quantity", "sum_qty"),
        davg("l_extendedprice", "avg_price"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )


@query(
    "agg_groupby",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS count_order,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM({CHARGE_EXPR}) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_discount) AS avg_disc
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TPC-H Q1 pricing-summary pattern (#26)."""
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("count_order"),
        dsum("l_quantity", "sum_qty"),
        dsum("l_extendedprice", "sum_base_price"),
        F.expr(f"CAST(SUM({CHARGE_EXPR}) AS DOUBLE)").alias("sum_charge"),
        davg("l_quantity", "avg_qty"),
        davg("l_discount", "avg_disc"),
    )


@query(
    "agg_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS distinct_supps,
           COUNT(DISTINCT l_partkey) AS distinct_parts,
           CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_distinct_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregates (#27): multiple COUNT(DISTINCT) expand to a
    multi-phase plan; SUM(DISTINCT) over exact decimals stays order-free."""
    return T(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("distinct_supps"),
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.sum_distinct(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_distinct_qty"),
    )


@query("agg_approx_distinct")  # rows-only: HLL estimate is impl-specific
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ cardinality (#28). The scale path for COUNT(DISTINCT):
    mergeable sketches, no expand — at 100 TB this is the difference
    between one shuffle of sketches and a shuffle of every distinct value."""
    return T(spark, sf_dir, "lineitem").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )


@query(
    "agg_approx_distinct_exact",
    oracle="""
    SELECT COUNT(DISTINCT l_partkey) AS exact_parts, TRUE AS hll_within_5pct
    FROM lineitem
    """,
)
def agg_approx_distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked twin of #28: the exact cardinality hash-matches, and
    the HLL estimate is folded into a BOOLEAN accuracy bound. Spark's
    sketch is deterministic for fixed input; at rsd=0.01 the measured
    relative error on this corpus is <=0.7% at every sf, so the 5% bound
    is a stable invariant, not a flaky tolerance."""
    a = F.approx_count_distinct("l_partkey", 0.01).cast("double")
    e = F.countDistinct("l_partkey")
    return T(spark, sf_dir, "lineitem").agg(
        e.alias("exact_parts"),
        (F.abs(a - e.cast("double")) / e.cast("double") < 0.05).alias("hll_within_5pct"),
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity aggregation in one pass (#29): rollup produces
    (flag, status), (flag), and grand-total rows with NULL markers."""
    return T(spark, sf_dir, "lineitem").rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("cnt"),
        dsum("l_extendedprice", "sum_price"),
    )


@query(
    "agg_having",
    oracle="""
    SELECT c_mktsegment, c_nationkey,
           COUNT(*) AS cust_cnt,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(c_acctbal) AS avg_bal
    FROM customer
    GROUP BY c_mktsegment, c_nationkey
    HAVING COUNT(*) >= 5
       AND CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(c_acctbal) > 4000
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (#30): HAVING is just filter-after-agg."""
    g = T(spark, sf_dir, "customer").groupBy("c_mktsegment", "c_nationkey").agg(
        F.count("*").alias("cust_cnt"),
        davg("c_acctbal", "avg_bal"),
    )
    return g.filter((F.col("cust_cnt") >= 5) & (F.col("avg_bal") > 4000))


@query(
    "agg_collect",
    oracle="""
    SELECT c_nationkey,
           STRING_AGG(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
           COUNT(*) AS cust_cnt
    FROM customer
    GROUP BY c_nationkey
    """,
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group set assembly (#31). collect_set is unordered by nature, so
    determinism comes from array_sort on the result; the sorted array is
    serialized through concat_ws because the comparison harness canonicalizes
    rows with a pandas sort, which cannot order raw Python lists (round-1
    driver failure: `TypeError: unhashable type: 'list'`)."""
    return T(spark, sf_dir, "customer").groupBy("c_nationkey").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("c_mktsegment"))).alias("segments"),
        F.count("*").alias("cust_cnt"),
    )


# Exact-moment formulas, written once and used verbatim by both engines so
# every IEEE op sequence is identical (compat.py rationale).
_S1 = "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)"
_S2 = "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)"
_N = "CAST(COUNT(o_totalprice) AS DOUBLE)"
_VAR = f"(({_S2}) - ({_S1}) * ({_S1}) / ({_N})) / (({_N}) - 1)"
# Correlation on the INTEGER lattice, end to end. The old form cast each
# decimal moment to DOUBLE first and did N*Σxy - Σx*Σy in floating point;
# with corr(price, custkey) ~ 0 that subtraction is catastrophic
# cancellation, and at the 10x replica's key magnitudes a 1-ULP
# decimal->double conversion difference between engines amplified past
# the comparator's %.9g lattice (sf1 sweep finding — sf0.1 and below
# never exposed it). Here every product and both cancellative
# subtractions are exact integer arithmetic on the cents/key lattice —
# Spark DECIMALs stay inside the 38-digit cap with scale 0 (no rounding,
# overflow would null, not drift), DuckDB's <=38-digit decimals are
# hugeint-backed — and only the three final scalars cross to DOUBLE,
# where a conversion ULP is 1e-16 relative, invisible at %.9g. Widths
# carry headroom through the 100x replica (price_cents < 1e9,
# custkey < 1e10, rows per group < 1e9).
_XC = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(9,0))"
_YK = "CAST(o_custkey AS DECIMAL(10,0))"
_NI = "CAST(COUNT(o_totalprice) AS DECIMAL(9,0))"
# width 19 (not 16): DuckDB executes products of <=18-digit decimals in
# int64 and overflows on sx*sx; >18 digits forces its hugeint kernel.
_SXI = f"CAST(SUM({_XC}) AS DECIMAL(19,0))"
_SYI = f"CAST(SUM({_YK}) AS DECIMAL(19,0))"
# width 29: the documented worst case (per-row product < 1e19, rows per
# group < 1e9, and custkey^2 < 1e20 only in the _SYYI term whose per-group
# bound is 1e20*1e9 = 1e29) needs 29 digits — at 28, Spark's non-ANSI CAST
# would null-wrap silently right where the exactness argument matters
# (round-10 ADVICE). n * sxy stays 9 + 29 = 38 digits: still inside both
# engines' exact-decimal cap.
_SXYI = f"CAST(SUM({_XC} * {_YK}) AS DECIMAL(29,0))"
_SXXI = f"CAST(SUM({_XC} * {_XC}) AS DECIMAL(29,0))"
_SYYI = f"CAST(SUM({_YK} * {_YK}) AS DECIMAL(29,0))"
_CORR = (
    f"CAST(({_NI}) * ({_SXYI}) - ({_SXI}) * ({_SYI}) AS DOUBLE)"
    f" / (SQRT(CAST(({_NI}) * ({_SXXI}) - ({_SXI}) * ({_SXI}) AS DOUBLE))"
    f" * SQRT(CAST(({_NI}) * ({_SYYI}) - ({_SYI}) * ({_SYI}) AS DOUBLE)))"
)


@query(
    "agg_stats",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS cnt,
           {_VAR} AS var_price,
           SQRT({_VAR}) AS stddev_price,
           {_CORR} AS corr_price_custkey,
           MEDIAN(o_totalprice) AS median_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (#32): sample variance/stddev/corr from exact
    decimal moment sums (bit-reproducible), plus exact median."""
    return T(spark, sf_dir, "orders").groupBy("o_orderstatus").agg(
        F.count("*").alias("cnt"),
        F.expr(_VAR).alias("var_price"),
        F.expr(f"SQRT({_VAR})").alias("stddev_price"),
        F.expr(_CORR).alias("corr_price_custkey"),
        F.median("o_totalprice").alias("median_price"),
    )


@query(
    "agg_quantiles",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS cnt,
           quantile_cont(o_totalprice, 0.25) AS p25,
           quantile_cont(o_totalprice, 0.50) AS p50,
           quantile_cont(o_totalprice, 0.75) AS p75,
           quantile_cont(o_totalprice, 0.95) AS p95
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped quantiles (#32 family): p25/p50/p75/p95 of order value
    per priority class. Spark's ``percentile`` and DuckDB's
    ``quantile_cont`` both linearly interpolate as lower + (upper-lower)*g,
    so doubles hash-match bit-for-bit (verified at sf0.001/0.01/0.1).

    Scale note: exact percentile holds per-group value multisets in the
    aggregation state, so memory scales with distinct values per group —
    fine for bounded-cardinality measures; at 100 TB on high-cardinality
    doubles the production form is ``approx_percentile`` (t-digest-style
    bounded sketch, same call shape), which trades a rank-error bound for
    O(1) state exactly as agg_approx_distinct does for counts."""
    return T(spark, sf_dir, "orders").groupBy("o_orderpriority").agg(
        F.count("*").alias("cnt"),
        F.expr("percentile(o_totalprice, 0.25D)").alias("p25"),
        F.expr("percentile(o_totalprice, 0.50D)").alias("p50"),
        F.expr("percentile(o_totalprice, 0.75D)").alias("p75"),
        F.expr("percentile(o_totalprice, 0.95D)").alias("p95"),
    )


@query(
    "agg_pivot",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_partial,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                           FILTER (WHERE o_orderstatus = 'O'), 0) AS DOUBLE) AS sum_open
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT / conditional aggregation: order counts by priority x status.

    Pivot values are given EXPLICITLY — ``pivot(col)`` without values runs an
    extra distinct job over the fact table to discover them, a full scan a
    100 TB deployment should never pay for a 3-value status column. With
    explicit values the whole query is one two-phase HashAggregate (the
    pivot lowers to exactly the FILTER-style conditional aggregates the
    oracle spells out). Missing combinations surface as NULL from pivot but
    0 from COUNT FILTER, so both count and sum are coalesced to 0.
    """
    p = (
        T(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s"),
        )
    )
    zero = F.lit(0).cast("bigint")
    return p.select(
        "o_orderpriority",
        F.coalesce(F.col("O_n"), zero).alias("n_open"),
        F.coalesce(F.col("F_n"), zero).alias("n_filled"),
        F.coalesce(F.col("P_n"), zero).alias("n_partial"),
        F.coalesce(F.col("O_s"), F.lit(0).cast("decimal(18,2)"))
        .cast("double").alias("sum_open"),
    )


@query(
    "agg_string_agg",
    oracle="""
    WITH d AS (SELECT DISTINCT c_nationkey, c_mktsegment FROM customer)
    SELECT c_nationkey,
           STRING_AGG(c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
           COUNT(*) AS n_segments
    FROM d
    GROUP BY c_nationkey
    """,
)
def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRING_AGG / LISTAGG: distinct market segments per nation, joined in
    sorted order. collect_list order is partition-arrival nondeterministic,
    so the list is array_sort'ed before concat — the only way a string
    aggregation can ever hash-match across engines (same reason the oracle
    carries ORDER BY inside STRING_AGG).

    Scale: distinct + collect per group are one shuffle each on the group
    key; per-group lists here are bounded (≤5 segments) — unbounded-list
    collects at 100 TB need the top-k/window forms instead.
    """
    d = T(spark, sf_dir, "customer").select("c_nationkey", "c_mktsegment").distinct()
    return d.groupBy("c_nationkey").agg(
        F.concat_ws(",", F.array_sort(F.collect_list("c_mktsegment"))).alias("segments"),
        F.count("*").alias("n_segments"),
    )


@query(
    "agg_mode",
    oracle="""
    WITH c AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
      FROM customer GROUP BY c_nationkey, c_mktsegment
    ),
    r AS (
      SELECT c_nationkey, c_mktsegment, n,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY n DESC, c_mktsegment) AS rn
      FROM c
    )
    SELECT c_nationkey, c_mktsegment AS mode_segment, n AS mode_count
    FROM r WHERE rn = 1
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODE (most frequent value per group), formulated as count + window
    rank rather than an engine mode() builtin: engines break frequency
    ties differently, so the explicit (count desc, value) tiebreak is the
    only oracle-exact form. Two shuffles (count keys, then rank per
    group); at 100 TB the count output is dimension-sized, not
    corpus-sized."""
    c = (
        T(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count("*").alias("n"))
    )
    from pyspark.sql.window import Window as W

    w = W.partitionBy("c_nationkey").orderBy(F.desc("n"), F.asc("c_mktsegment"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "c_nationkey",
            F.col("c_mktsegment").alias("mode_segment"),
            F.col("n").alias("mode_count"),
        )
    )


@query(
    "agg_filtered",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
             FILTER (WHERE l_tax > 0.04) AS DOUBLE) AS qty_taxed,
           COUNT(DISTINCT l_suppkey) FILTER (WHERE l_linestatus = 'F')
             AS supp_finished
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered aggregates (SQL FILTER clause): per-aggregate predicates in
    one pass over the fact table — one shuffle, map-side partials intact,
    versus the naive multi-scan union. Spark spells FILTER as
    when(...)-guarded inputs (null inputs are ignored by SUM/COUNT) and
    count_distinct over a guarded key."""
    li = T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.count(F.when(F.col("l_discount") > 0.05, F.lit(1))).alias("n_discounted"),
        F.sum(
            F.when(F.col("l_tax") > 0.04, F.col("l_quantity").cast("decimal(18,2)"))
        ).cast("double").alias("qty_taxed"),
        F.count_distinct(
            F.when(F.col("l_linestatus") == "F", F.col("l_suppkey"))
        ).alias("supp_finished"),
    )


@query(
    "agg_approx_quantiles_bound",
    oracle="""
    SELECT o_orderpriority,
           quantile_cont(o_totalprice, 0.50) AS exact_p50,
           TRUE AS sketch_within_2pct
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_approx_quantiles_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB quantile path, accuracy-gated like agg_approx_distinct's
    HLL twin: approx_percentile keeps O(accuracy) mergeable state per group
    instead of the full value multiset, and this query folds its estimate
    into a BOOLEAN 2% relative-error bound against the exact median
    (deterministic sketch, fixed input -> a stable invariant, not a flaky
    tolerance). The exact median hash-matches the oracle outright."""
    o = T(spark, sf_dir, "orders")
    exact = F.expr("percentile(o_totalprice, 0.50D)")
    approx = F.expr("approx_percentile(o_totalprice, 0.50D, 1000)")
    return o.groupBy("o_orderpriority").agg(
        exact.alias("exact_p50"),
        (F.abs(approx - exact) / exact < 0.02).alias("sketch_within_2pct"),
    )


@query(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation (#29 cont.): all 2^k grouping-set combinations in
    one Expand + two-phase aggregate pass — the OLAP companion to
    agg_grouping_sets' ROLLUP, same single-scan plan shape."""
    return (
        T(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        )
    )


_CORR_MOMENTS = """
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
      FROM lineitem GROUP BY l_returnflag
"""

_CORR_FINAL = """
    SELECT l_returnflag, n,
           (n * sxy - sx * sy)
           / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)) AS corr_qty_price,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope_price_per_qty
    FROM moments
"""

_CORR_SQL = f"WITH moments AS ({_CORR_MOMENTS})\n{_CORR_FINAL}"


@query("agg_corr_exact", oracle=_CORR_SQL)
def agg_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + regression slope per group (#32 cont.) —
    computed from exact decimal moments, not the builtin corr().

    The builtin float corr/covar accumulates doubles in partition order
    and is thus non-deterministic under repartitioning (and can never
    hash-match another engine). Accumulating the five moments as exact
    decimals and finishing with a fixed sequence of IEEE double ops makes
    the statistic bit-reproducible at any parallelism — on both engines —
    while still being one partial+final aggregate pass at 100 TB."""
    T(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_CORR_SQL)


@query(
    "agg_histogram_bins",
    oracle="""
    SELECT CASE WHEN CAST(l_extendedprice AS DOUBLE) < 0.0 THEN 0
                WHEN CAST(l_extendedprice AS DOUBLE) >= 60000.0 THEN 13
                ELSE CAST(FLOOR(CAST(l_extendedprice AS DOUBLE) / 5000.0) AS BIGINT) + 1
           END AS bin,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           CAST(MIN(l_extendedprice) AS DOUBLE) AS bin_min,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS bin_max
    FROM lineitem GROUP BY 1
    """,
)
def agg_histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via width_bucket (#32 cont.): 12 fixed bins
    over [0, 60000) plus the under/overflow buckets 0 and 13 — the shape
    behind data-profiling and range-partition planning. Fixed bounds (not
    data-derived min/max) keep the binning sf-invariant and one-pass; a
    bounds-unknown profile runs agg_stats first. DuckDB has no
    width_bucket, so the oracle spells out Spark's exact internal formula
    (floor((x - lo) / ((hi - lo) / n)) + 1, same IEEE ops, so boundary
    values bin identically). Map-side partials: the
    shuffle carries at most 14 rows per partition at any corpus size."""
    li = T(spark, sf_dir, "lineitem")
    return (
        li.withColumn(
            "bin",
            F.expr("width_bucket(CAST(l_extendedprice AS DOUBLE), 0.0D, 60000.0D, 12)"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
            F.min("l_extendedprice").cast("double").alias("bin_min"),
            F.max("l_extendedprice").cast("double").alias("bin_max"),
        )
    )


@query(
    "agg_outlier_zscore",
    oracle="""
    WITH m AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(value AS DECIMAL(18,2))
                      * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sxx
      FROM events GROUP BY event_type
    ),
    scored AS (
      SELECT e.event_id, e.event_type,
             CAST(e.value AS DOUBLE) AS value,
             (CAST(e.value AS DOUBLE) - m.sx / m.n)
             / SQRT(m.sxx / m.n - (m.sx / m.n) * (m.sx / m.n)) AS z
      FROM events e JOIN m ON e.event_type = m.event_type
    )
    SELECT event_id, event_type, value, ROUND(z, 6) AS zscore
    FROM scored WHERE ABS(z) > 3
    """,
)
def agg_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier detection (#32 cont.): events whose value
    sits more than 3 population standard deviations from their
    event-type mean — the row-level data-quality screen (events.value is
    heavy-tailed; lineitem prices are uniform and have NO 3-sigma tail,
    which is itself a distribution fact agg_histogram_bins shows).
    Moments are exact DECIMAL sums finished with a fixed IEEE sequence
    (the agg_corr_exact discipline), so mean/std are bit-reproducible at
    any parallelism and the flag set is deterministic; builtin
    stddev_pop's float partial merge order is not. Two scans in plan
    terms but the second is filter-only: a per-type moment table (rows =
    #types) broadcast back against the fact."""
    ev = T(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,2)")
    m = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(dec).cast("double").alias("sx"),
        F.sum(dec * dec).cast("double").alias("sxx"),
    )
    mean = F.col("sx") / F.col("n")
    std = F.sqrt(F.col("sxx") / F.col("n") - mean * mean)
    z = (F.col("value").cast("double") - mean) / std
    return (
        ev.join(F.broadcast(m), "event_type")
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) > 3)
        .select(
            "event_id",
            "event_type",
            F.col("value").cast("double").alias("value"),
            F.round("z", 6).alias("zscore"),
        )
    )


@query(
    "agg_benford_digits",
    oracle="""
    WITH cents AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      FROM orders WHERE o_totalprice > 0
    ),
    digits AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS digit FROM cents
    ),
    n AS (SELECT COUNT(*) AS total FROM digits)
    SELECT digit,
           COUNT(*) AS cnt,
           ROUND(COUNT(*) / CAST(n.total AS DOUBLE), 6) AS share,
           ROUND(LN(1.0 + 1.0 / digit) / LN(10.0), 6) AS benford_expected
    FROM digits, n
    GROUP BY digit, n.total
    """,
)
def agg_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen (#32 cont.): the leading-digit
    distribution of order totals vs Benford's law expectation — the
    classic audit/fraud red-flag report (fabricated amounts over-sample
    digits 5-9). First digits are extracted EXACTLY: price -> integer
    cents via DECIMAL (never float multiply), then the first character
    of the integer's decimal string — identical in both engines, no
    log10 boundary hazard at powers of ten. One aggregation; the digit
    histogram is 9 rows at any scale. (Uniform synthetic prices do NOT
    follow Benford — the report shows the deviation, which is the
    point of the screen.)"""
    o = T(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    cents = o.select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint").alias("c")
    )
    digit = F.expr("CAST(substring(CAST(c AS STRING), 1, 1) AS INT)")
    n = cents.agg(F.count("*").alias("total"))
    return (
        cents.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(n))
        .select(
            "digit",
            "cnt",
            F.round(F.col("cnt").cast("double") / F.col("total").cast("double"), 6).alias(
                "share"
            ),
            F.round(F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0)), 6).alias(
                "benford_expected"
            ),
        )
    )


_JS_D = 4  # sketch rows
_JS_W = 512  # buckets per row


# All 4 sketch rows derive from ONE md5 per input row (was 8: separate
# bucket+sign digests per d — the hash dominated the pass at bench sf).
# The 128 hex bits split disjointly: chars 1+4d..4+4d (16 bits) -> bucket
# (65536 % 512 == 0, so the mod is bias-free), char 17+d -> sign parity.
def _js_hx(key_expr: str, duck: bool) -> str:
    if duck:
        return f"md5('js:' || CAST({key_expr} AS VARCHAR))"
    return f"md5(concat('js:', cast({key_expr} as string)))"


def _js_bucket(d: int, duck: bool) -> str:
    if duck:
        return f"(('0x' || substr(hx, {1 + 4 * d}, 4))::BIGINT % {_JS_W})"
    return f"(cast(conv(substring(hx, {1 + 4 * d}, 4), 16, 10) as bigint) % {_JS_W})"


def _js_sign(d: int, duck: bool) -> str:
    """+1/-1 from an md5 nibble disjoint from every bucket field."""
    if duck:
        h = f"(('0x' || substr(hx, {17 + d}, 1))::BIGINT"
    else:
        h = f"(cast(conv(substring(hx, {17 + d}, 1), 16, 10) as bigint)"
    return f"(CASE WHEN {h} % 2) = 0 THEN 1 ELSE -1 END)"


def _join_size_oracle() -> str:
    def agms(table: str, key: str) -> str:
        return " UNION ALL ".join(
            f"SELECT {d} AS d, {_js_bucket(d, True)} AS b,"
            f" CAST(SUM({_js_sign(d, True)}) AS BIGINT) AS s"
            f" FROM (SELECT {_js_hx(key, True)} AS hx FROM {table}) GROUP BY 2"
            for d in range(_JS_D)
        )

    return f"""
    WITH ca AS ({agms('lineitem', 'l_orderkey')}),
    cb AS ({agms('orders', 'o_orderkey')}),
    dots AS (
      SELECT ca.d, CAST(SUM(ca.s * cb.s) AS BIGINT) AS dot
      FROM ca JOIN cb ON ca.d = cb.d AND ca.b = cb.b
      GROUP BY ca.d
    ),
    est AS (SELECT CAST(SUM(dot) AS BIGINT) AS est4 FROM dots),
    act AS (
      SELECT COUNT(*) AS exact_rows
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT CAST(est4 AS DOUBLE) / {_JS_D} AS est_rows, exact_rows,
           (CAST(est4 AS DOUBLE) / {_JS_D}) / exact_rows AS est_over_exact
    FROM est, act
    """


@query("agg_join_size_sketch", oracle=_join_size_oracle())
def agg_join_size_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based join-cardinality estimation (#28 cont.): |A JOIN B| is
    the inner product of the two sides\' key-frequency vectors, estimated
    UNBIASEDLY by the AGMS signed sketch — per row d, bucket-sum the
    +/-1-signed key counts on each side and take the dot product; sign
    cancellation removes the collision bias that makes the plain
    count-min dot product overcount ~30x at this width (measured before
    the switch). Averaging the 4 independent rows lands within a few
    percent of the exact size — the estimator cost-based optimizers use
    to pick join order WITHOUT touching the data twice. Each sketch is
    4x512 integer cells, one aggregation pass, mergeable map-side and
    always broadcastable; exact integers until one final divide,
    cross-engine hash-checked with the exact size alongside."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    # Round 12, second pass, REVERTED after sf10 measurement: a variant
    # that derived the sketch from the per-key count table (sketch sum
    # telescopes: SUM(sg) over rows == SUM(sg*cnt) over keys) looked
    # ~1.2x faster at sf0.1 but was 2-10x SLOWER at sf10 (warm 9.3 s ->
    # 21-111 s): the sketch then hangs off the full-cardinality keyed
    # shuffle (15M keys) instead of being a scan -> explode -> MAP-SIDE
    # partial agg -> 2048-cell shuffle, and a localCheckpoint of the
    # fact-keyed table burned heap per call. The row form's md5-per-row
    # cost parallelizes flat; the keyed form's extra exchange does not.
    # Kept: the sketch runs over raw rows (one scan, tiny shuffle).
    def agms(df: DataFrame, key: str) -> DataFrame:
        # Round 13 (guide §1.2 per-task work): the 4 bucket fields are hex
        # chars 1-16 = two 32-bit ints, the 4 sign nibbles are chars 17-20
        # = one 16-bit int, so THREE conv(substring) calls replace the
        # eight of the per-d form. Exact integer identities (hex digits
        # are non-negative, 65536 % _JS_W == 0):
        #   conv(substr(hx, 1, 4)) % W == (v01 div 65536) % W
        #   conv(substr(hx, 5, 4)) % W ==  v01           % W   (etc. for v23)
        #   conv(substr(hx, 17+d, 1)) % 2 == (sn div 16^(3-d)) % 2
        # The DuckDB oracle keeps the per-d spelling (_js_bucket/_js_sign);
        # both sides produce the same sketch cells — hash-checked.
        assert _JS_D == 4 and 65536 % _JS_W == 0  # packed spelling assumes this
        w = _JS_W
        sign = lambda shift: f"(CASE WHEN (sn div {shift}) % 2 = 0 THEN 1 ELSE -1 END)"  # noqa: E731
        pairs = ", ".join(
            (
                f"struct((v01 div 65536) % {w} AS b, {sign(4096)} AS sg)",
                f"struct(v01 % {w} AS b, {sign(256)} AS sg)",
                f"struct((v23 div 65536) % {w} AS b, {sign(16)} AS sg)",
                f"struct(v23 % {w} AS b, {sign(1)} AS sg)",
            )
        )
        return (
            df.selectExpr(f"{_js_hx(key, False)} AS hx")
            .selectExpr(
                "cast(conv(substring(hx, 1, 8), 16, 10) as bigint) AS v01",
                "cast(conv(substring(hx, 9, 8), 16, 10) as bigint) AS v23",
                "cast(conv(substring(hx, 17, 4), 16, 10) as bigint) AS sn",
            )
            .select(F.posexplode(F.expr(f"array({pairs})")).alias("d", "x"))
            .select("d", "x.b", "x.sg")
            .groupBy("d", "b")
            .agg(F.sum("sg").cast("bigint").alias("s"))
        )

    ca = agms(li, "l_orderkey").withColumnRenamed("s", "sa")
    cb = agms(o, "o_orderkey").withColumnRenamed("s", "sb")
    dots = (
        ca.join(F.broadcast(cb), ["d", "b"])
        .groupBy("d")
        .agg(F.sum(F.col("sa") * F.col("sb")).cast("bigint").alias("dot"))
    )
    est = dots.agg(F.sum("dot").cast("bigint").alias("est4"))
    # Exact |A JOIN B| without materializing the join: COUNT(*) of an
    # equi-join equals sum_k cnt_A(k) * cnt_B(k), so each side collapses to
    # its per-key count vector first (map-side partial agg shrinks the fact
    # shuffle to one row per key) and the join carries two thin count
    # columns instead of full fact x dim rows (guide §2.2: shuffle fewer
    # bytes / aggregate before joining). Bit-identical: integer counts.
    ka = li.groupBy(F.col("l_orderkey").alias("k")).agg(F.count("*").alias("na"))
    kb = o.groupBy(F.col("o_orderkey").alias("k")).agg(F.count("*").alias("nb"))
    act = ka.join(kb, "k").agg(
        F.sum(F.col("na") * F.col("nb")).cast("bigint").alias("exact_rows")
    )
    return (
        est.crossJoin(F.broadcast(act))
        .select(
            (F.col("est4").cast("double") / _JS_D).alias("est_rows"),
            "exact_rows",
            (
                (F.col("est4").cast("double") / _JS_D)
                / F.col("exact_rows").cast("double")
            ).alias("est_over_exact"),
        )
    )


_AUTOCORR_ORACLE: str | None = None


def _autocorr_oracle() -> str:
    """Built lazily so the events-generation probe runs once, at registry
    load, via the same ev_sec_sql used by every other events oracle."""
    from ..sources.tables import ev_sec_sql

    return f"""
    WITH seq AS (
      SELECT event_type,
             CAST(value AS DECIMAL(18,2)) AS x,
             LAG(CAST(value AS DECIMAL(18,2))) OVER (
               PARTITION BY event_type ORDER BY {ev_sec_sql('ts')}, event_id) AS y
      FROM events
    ),
    moments AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx,
             CAST(SUM(y * y) AS DOUBLE) AS syy
      FROM seq WHERE y IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n,
           (n * sxy - sx * sy)
           / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)) AS autocorr_lag1
    FROM moments
    """


from ..sources.tables import events_ts  # noqa: E402  (events axis helper)


@query("agg_autocorr_lag", oracle=_autocorr_oracle())
def agg_autocorr_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of events.value per event_type (#32 cont.) —
    the time-series self-similarity statistic behind seasonality detection
    and forecasting-feature screens.

    Adjacent (x, lag(x)) pairs come from one window pass ordered by the
    deterministic (ts_sec, event_id) axis; Pearson over the pairs follows
    the agg_corr_exact discipline — exact DECIMAL moment sums, one fixed
    IEEE finishing sequence — so the statistic is bit-reproducible at any
    parallelism on both engines. One shuffle on event_type (window and
    aggregation share the partitioning: the sort feeds a partial agg with
    no re-exchange)."""
    from pyspark.sql.window import Window

    ev = events_ts(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("ts_sec", "event_id")
    seq = (
        ev.select(
            "event_type",
            F.col("value").cast("decimal(18,2)").alias("x"),
            "ts_sec",
            "event_id",
        )
        .withColumn("y", F.lag("x").over(w))
        .filter(F.col("y").isNotNull())
    )
    m = seq.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n = F.col("n").cast("double")
    return m.select(
        "event_type",
        "n",
        (
            (n * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy"))
            )
        ).alias("autocorr_lag1"),
    )


@query(
    "agg_key_skew_profile",
    oracle="""
    WITH counts AS (
      SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt, o_custkey) AS i FROM counts
    )
    SELECT COUNT(*) AS n_keys,
           CAST(SUM(cnt) AS BIGINT) AS total_rows,
           CAST(MAX(cnt) AS BIGINT) AS max_cnt,
           CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) AS top_share,
           CAST(SUM(cnt) AS DOUBLE) / COUNT(*) AS avg_per_key,
           CAST(2 * SUM(i * cnt) - (COUNT(*) + 1) * SUM(cnt) AS DOUBLE)
             / (COUNT(*) * SUM(cnt)) AS gini
    FROM ranked
    """,
)
def agg_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/shuffle-key skew profile (#72 cont.): the pre-flight
    diagnostic behind the salted-join and AQE-skew decisions — per-key
    cardinalities reduced to max share, mean, and an exact Gini
    concentration index.

    Gini comes from the sorted prefix-sum identity (2*SUM(i*x_i) -
    (n+1)*SUM(x)) / (n*SUM(x)) with integer accumulators only — the
    rank's tie order doesn't affect the sum (equal x within a tie block
    contribute x*SUM(i) regardless of permutation), so the statistic is
    deterministic cross-engine. Key counts are one two-phase aggregate
    checkpointed once (1 row per key); the ranked pass runs clustered
    (functions/global_order.py, bucketed on the ASC-monotone composite
    cnt*2^42 + custkey because cnt alone is low-cardinality), so
    profiling cost is O(distinct keys) after the first map-side combine
    with no single-partition window over the key set."""
    from ..functions.global_order import global_row_number

    counts = session_cache_get(
        spark,
        sf_dir,
        "agg.skew_counts",
        lambda: T(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(),
    )
    ranked = global_row_number(
        counts,
        [("cnt", "asc"), ("o_custkey", "asc")],
        "i",
        bucket_key=F.col("cnt") * F.lit(2**42) + F.col("o_custkey"),
    ).select("cnt", "i")
    n = F.count("*")
    tot = F.sum("cnt")
    return ranked.agg(
        n.alias("n_keys"),
        tot.cast("bigint").alias("total_rows"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
        (F.max("cnt").cast("double") / tot).alias("top_share"),
        (tot.cast("double") / n).alias("avg_per_key"),
        (
            (2 * F.sum(F.col("i") * F.col("cnt")) - (n + 1) * tot).cast("double")
            / (n * tot)
        ).alias("gini"),
    )


@query(
    "agg_bool_logic",
    oracle="""
    SELECT o_orderpriority,
           bool_and(o_totalprice > 1000) AS all_over_1k,
           bool_or(o_orderstatus = 'F') AS any_finished,
           CAST(count_if(o_totalprice > 150000) AS BIGINT) AS n_large,
           COUNT(*) AS cnt
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_bool_logic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean-logic aggregate family (#25 cont.): bool_and / bool_or /
    count_if — the assertion aggregates behind data contracts and
    EXISTS-style rollups, spelled identically on both engines.

    All three are trivially partial-aggregable (AND/OR/SUM merges), so
    the shuffle carries one boolean/long per group per partition at any
    scale — the cheapest aggregate shapes Spark has."""
    return (
        T(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
            F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
            F.count_if(F.col("o_totalprice") > 150000).cast("bigint").alias("n_large"),
            F.count("*").alias("cnt"),
        )
    )


@query(
    "agg_sampled_estimate",
    oracle="""
    WITH s AS (
      SELECT l_quantity
      FROM lineitem
      WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)), 1, 2) < '1a'
    ),
    samp AS (
      SELECT COUNT(*) AS s_rows,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s_qty
      FROM s
    ),
    fullt AS (
      SELECT COUNT(*) AS exact_rows,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS exact_qty
      FROM lineitem
    )
    SELECT s_rows,
           CAST(s_rows * 256.0 / 26.0 AS DOUBLE) AS est_rows,
           exact_rows,
           CAST(s_qty * 256.0 / 26.0 AS DOUBLE) AS est_qty,
           exact_qty,
           ABS(s_rows * 256.0 / 26.0 - exact_rows) / exact_rows AS rel_err_rows
    FROM samp, fullt
    """,
)
def agg_sampled_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic-sample aggregate estimation (#28 cont.): a ~10%
    md5-band sample (26/256 of the hash space on the row key) scaled by
    the exact inverse inclusion probability, reported against the exact
    aggregate with its realized relative error — the
    approximate-query-processing primitive for interactive exploration
    over 100 TB, where the sample is a materialized 10% table and every
    profile query runs on it first.

    The hash-band sample is reproducible (no RNG, no sample() seed
    drift across retries/partitions) and composable: the same band
    always selects the same rows, so joins between sampled tables stay
    consistent (the join-synopsis property random per-table samples
    lack). Estimator arithmetic is exact-decimal sums with fixed-order
    IEEE finishing ops."""
    li = T(spark, sf_dir, "lineitem")
    in_sample = (
        F.substring(
            F.md5(
                F.concat(
                    F.col("l_orderkey").cast("string"),
                    F.lit("-"),
                    F.col("l_linenumber").cast("string"),
                )
            ),
            1,
            2,
        )
        < "1a"
    )
    samp = li.filter(in_sample).agg(
        F.count("*").alias("s_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("s_qty"),
    )
    fullt = li.agg(
        F.count("*").alias("exact_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("exact_qty"),
    )
    return samp.crossJoin(F.broadcast(fullt)).select(
        "s_rows",
        (F.col("s_rows") * 256.0 / 26.0).alias("est_rows"),
        "exact_rows",
        (F.col("s_qty") * 256.0 / 26.0).alias("est_qty"),
        "exact_qty",
        (
            F.abs(F.col("s_rows") * 256.0 / 26.0 - F.col("exact_rows"))
            / F.col("exact_rows")
        ).alias("rel_err_rows"),
    )


_KMV_K = 64
# 13 hex chars = 52 bits: the hash fits a double EXACTLY (<= 2^53), so the
# (0,1) normalization u = h / 2^52 is a lossless dyadic rational on both
# engines — 15 hex chars would silently round above 2^53.
_KMV_DEN = float(1 << 52)


def _kmv_oracle() -> str:
    return f"""
    WITH hashes AS (
      SELECT DISTINCT event_type,
             ('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 13))::BIGINT AS h
      FROM events
      UNION
      SELECT DISTINCT 'ALL' AS event_type,
             ('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 13))::BIGINT AS h
      FROM events
    ),
    ranked AS (
      SELECT event_type, h,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n_distinct
      FROM hashes
    ),
    sk AS (
      SELECT event_type, n_distinct, MAX(h) AS h_k, COUNT(*) AS k_eff
      FROM ranked WHERE rn <= {_KMV_K}
      GROUP BY event_type, n_distinct
    )
    SELECT event_type, CAST(n_distinct AS BIGINT) AS exact_distinct,
           CASE WHEN n_distinct < {_KMV_K} THEN CAST(n_distinct AS DOUBLE)
                ELSE ({_KMV_K} - 1) / (h_k / {_KMV_DEN!r}) END AS est_distinct
    FROM sk
    """


@query("agg_kmv_distinct_sketch", oracle=_kmv_oracle())
def agg_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch (#28 cont.), k=64:
    keep each group's k smallest hash values; the k-th smallest, as a
    fraction u of the hash space, estimates cardinality as (k-1)/u —
    the order-statistics sketch whose set algebra HLL lacks: two KMV
    sketches UNION by merge-and-retruncate, and their Jaccard (shared
    values in the merged sketch) estimates INTERSECTION cardinality,
    which is why distributed-distinct frameworks keep both. The 'ALL'
    row here IS the merged union sketch of the per-type rows.

    Fully deterministic cross-engine, unlike HLL implementations: md5
    hashes truncated to 52 bits normalize as exact dyadic rationals
    (one divide per estimate). The per-group k-smallest runs as a
    rank-window over distinct hashes; at scale it's the classic
    partial-aggregable top-k (each partition keeps its local k minima,
    merge keeps the global k — 64 BIGINTs per group on the shuffle)."""
    from pyspark.sql.window import Window

    ev = T(spark, sf_dir, "events")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))), 1, 13),
        16,
        10,
    ).cast("bigint")
    per_type = ev.select("event_type", h.alias("h")).distinct()
    merged = ev.select(F.lit("ALL").alias("event_type"), h.alias("h")).distinct()
    hashes = per_type.unionByName(merged)
    w = Window.partitionBy("event_type")
    ranked = hashes.select(
        "event_type",
        "h",
        F.row_number().over(w.orderBy("h")).alias("rn"),
        F.count("*").over(w).alias("n_distinct"),
    )
    sk = (
        ranked.filter(F.col("rn") <= _KMV_K)
        .groupBy("event_type", "n_distinct")
        .agg(F.max("h").alias("h_k"))
    )
    est = F.when(
        F.col("n_distinct") < _KMV_K, F.col("n_distinct").cast("double")
    ).otherwise((_KMV_K - 1) / (F.col("h_k") / F.lit(_KMV_DEN)))
    return sk.select(
        "event_type",
        F.col("n_distinct").cast("bigint").alias("exact_distinct"),
        est.alias("est_distinct"),
    )


@query(
    "agg_outlier_mad",
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS med
      FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type, m.med,
             median(ABS(e.value - m.med)) AS mad
      FROM events e JOIN med m ON e.event_type = m.event_type
      GROUP BY e.event_type, m.med
    )
    SELECT mad.event_type, mad.med, mad.mad,
           CAST(COUNT(*) FILTER (
             WHERE ABS(e.value - mad.med) > 3.0 * 1.4826 * mad.mad
           ) AS BIGINT) AS n_outliers,
           COUNT(*) AS n
    FROM events e JOIN mad ON e.event_type = mad.event_type
    GROUP BY mad.event_type, mad.med, mad.mad
    """,
)
def agg_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier screen per event type (#139 cont.) —
    the heavy-tail-safe complement to agg_outlier_zscore: mean/stddev are
    themselves dragged by the outliers they're meant to find, while the
    median and the median-absolute-deviation have a 50% breakdown point.
    The flag threshold is the classic |x - med| > 3 * 1.4826 * MAD
    (1.4826 scales MAD to sigma under normality).

    Exactly the zscore plan shape with medians in place of moments: a
    per-type median table broadcast back against the fact (twice — MAD
    is a median OF residuals, so it needs a second pass by definition),
    then one counting pass. Both engines interpolate medians identically
    (verified by agg_quantiles), |x-med| is one subtraction per row, and
    the comparison constant folds — three scans total, each shuffling
    only per-type scalars."""
    ev = T(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.expr("percentile(value, 0.5D)").alias("med"))
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(F.expr("percentile(abs(value - med), 0.5D)").alias("mad"))
    )
    return (
        ev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count_if(
                F.abs(F.col("value") - F.col("med")) > 3.0 * 1.4826 * F.col("mad")
            )
            .cast("bigint")
            .alias("n_outliers"),
            F.count("*").alias("n"),
        )
    )


@query(
    "agg_mutual_information",
    oracle="""
    WITH n AS (SELECT COUNT(*) AS n FROM documents),
    cx AS (SELECT lang, COUNT(*) AS c_x FROM documents GROUP BY lang),
    cy AS (SELECT source, COUNT(*) AS c_y FROM documents GROUP BY source),
    cxy AS (SELECT lang, source, COUNT(*) AS c_xy FROM documents GROUP BY lang, source),
    terms AS (
      SELECT CAST(ROUND((CAST(c_xy AS DOUBLE) / n.n)
               * LN(CAST(c_xy AS DOUBLE) * n.n / (c_x * CAST(c_y AS DOUBLE))), 12)
               AS DECIMAL(28,15)) AS t_mi
      FROM cxy JOIN cx USING (lang) JOIN cy USING (source) CROSS JOIN n
    ),
    hx AS (
      SELECT CAST(SUM(CAST(ROUND(-(CAST(c_x AS DOUBLE) / n.n)
               * LN(CAST(c_x AS DOUBLE) / n.n), 12) AS DECIMAL(28,15))) AS DOUBLE) AS h_x
      FROM cx CROSS JOIN n
    ),
    hy AS (
      SELECT CAST(SUM(CAST(ROUND(-(CAST(c_y AS DOUBLE) / n.n)
               * LN(CAST(c_y AS DOUBLE) / n.n), 12) AS DECIMAL(28,15))) AS DOUBLE) AS h_y
      FROM cy CROSS JOIN n
    )
    SELECT CAST(SUM(t_mi) AS DOUBLE) AS mi_nats, h_x, h_y,
           CAST(SUM(t_mi) AS DOUBLE) / SQRT(h_x * h_y) AS nmi
    FROM terms, hx, hy
    GROUP BY h_x, h_y
    """,
)
def agg_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information + normalized MI between two categorical columns
    (lang x source) (#32 cont.) — the dependence statistic behind feature
    selection and leakage screens (a near-1 NMI between a feature and the
    label is a red flag; near-0 here says the corpus assigns lang and
    source independently).

    Determinism discipline for a transcendental-bearing SUM: each of the
    |X|*|Y| cells' terms is ROUNDed (12 dp — the one ln is within 1 ulp
    on both engines, the round absorbs it) then accumulated as exact
    DECIMAL, so the cell-sum order never touches the result (the BM25 /
    fingerprint discipline).

    Round 12 (guide §2.2): everything derives from ONE scan + ONE shuffle.
    The marginals c_x, c_y and the total n are window re-aggregations over
    the |X|*|Y|-cell contingency table (bounded by the category
    cross-product at any corpus size, so the single-partition total window
    is safe), and the per-lang / per-source entropy terms enter the final
    global aggregate through row_number()==1 guards instead of separate
    groupBys. Before: 6 aggregates + 3 joins over 4 scans of documents
    (36 Exchanges, 15 jobs); after: 1 scan, 5 thin exchanges (sf0.1
    min-of-5 0.41 -> 0.11 s, bit-equal at sf0.01/sf0.1)."""
    d = T(spark, sf_dir, "documents")
    cxy = d.groupBy("lang", "source").agg(F.count("*").alias("c_xy"))
    cell = (
        cxy.withColumn("c_x", F.sum("c_xy").over(Window.partitionBy("lang")))
        .withColumn("c_y", F.sum("c_xy").over(Window.partitionBy("source")))
        .withColumn("n", F.sum("c_xy").over(Window.partitionBy()))
        .withColumn(
            "rn_l", F.row_number().over(Window.partitionBy("lang").orderBy("source"))
        )
        .withColumn(
            "rn_s", F.row_number().over(Window.partitionBy("source").orderBy("lang"))
        )
    )
    terms = cell.select(
        F.round(
            (F.col("c_xy").cast("double") / F.col("n"))
            * F.log(
                F.col("c_xy").cast("double")
                * F.col("n")
                / (F.col("c_x") * F.col("c_y").cast("double"))
            ),
            12,
        )
        .cast("decimal(28,15)")
        .alias("t_mi"),
        F.when(
            F.col("rn_l") == 1,
            F.round(
                -(F.col("c_x").cast("double") / F.col("n"))
                * F.log(F.col("c_x").cast("double") / F.col("n")),
                12,
            ).cast("decimal(28,15)"),
        ).alias("t_hx"),
        F.when(
            F.col("rn_s") == 1,
            F.round(
                -(F.col("c_y").cast("double") / F.col("n"))
                * F.log(F.col("c_y").cast("double") / F.col("n")),
                12,
            ).cast("decimal(28,15)"),
        ).alias("t_hy"),
    )
    return terms.agg(
        F.sum("t_mi").cast("double").alias("mi_nats"),
        F.sum("t_hx").cast("double").alias("h_x"),
        F.sum("t_hy").cast("double").alias("h_y"),
    ).select(
        "mi_nats",
        "h_x",
        "h_y",
        (F.col("mi_nats") / F.sqrt(F.col("h_x") * F.col("h_y"))).alias("nmi"),
    )


@query(
    "agg_grouping_id",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
           COUNT(*) AS cnt
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING()/grouping-id disambiguation (#29 cont.): in a grouping-
    sets result a NULL group key is ambiguous — it can be a real NULL
    value or the 'all' placeholder of a coarser set. GROUPING(col) is the
    engine's authoritative bit (1 = aggregated away), composed here into
    the standard bitmask id — the column BI layers and incremental
    rollup-merges key on, rather than guessing from NULLs.

    Same single-scan Expand + two-phase aggregate as agg_grouping_sets;
    the id is computed per output row from plan metadata, at zero data
    cost."""
    li = T(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            (F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus"))
            .cast("bigint")
            .alias("gid"),
            F.count("*").alias("cnt"),
        )
    )


_MLR_MOMENTS = """
      SELECT COUNT(*) AS n,
             CAST(SUM(x1) AS DOUBLE) AS s1, CAST(SUM(x2) AS DOUBLE) AS s2,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x1 * x1) AS DOUBLE) AS s11,
             CAST(SUM(x2 * x2) AS DOUBLE) AS s22,
             CAST(SUM(x1 * x2) AS DOUBLE) AS s12,
             CAST(SUM(x1 * y) AS DOUBLE) AS s1y,
             CAST(SUM(x2 * y) AS DOUBLE) AS s2y
      FROM (SELECT CAST(l_quantity AS DECIMAL(18,2)) AS x1,
                   CAST(l_discount AS DECIMAL(18,2)) AS x2,
                   CAST(l_extendedprice AS DECIMAL(18,2)) AS y
            FROM lineitem)
"""

_MLR_FINAL = """
    SELECT n,
           ((s11 - s1 * s1 / n) * (s2y - s2 * sy / n)
            - (s12 - s1 * s2 / n) * (s1y - s1 * sy / n))
           / ((s11 - s1 * s1 / n) * (s22 - s2 * s2 / n)
              - (s12 - s1 * s2 / n) * (s12 - s1 * s2 / n)) AS beta_discount,
           ((s22 - s2 * s2 / n) * (s1y - s1 * sy / n)
            - (s12 - s1 * s2 / n) * (s2y - s2 * sy / n))
           / ((s11 - s1 * s1 / n) * (s22 - s2 * s2 / n)
              - (s12 - s1 * s2 / n) * (s12 - s1 * s2 / n)) AS beta_qty
    FROM m
"""


@query(
    "agg_linear_regression_multi",
    oracle=f"WITH m AS ({_MLR_MOMENTS})\n{_MLR_FINAL}",
)
def agg_linear_regression_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-predictor OLS regression (#32 cont.): price ~ quantity +
    discount, solved in closed form from the 2x2 normal equations over
    centered second moments — multivariate regression as ONE aggregation
    pass plus a fixed arithmetic epilogue, the way SQL engines implement
    regr_* families and how a feature-importance sweep runs at 100 TB
    (9 moment sums; no iterative solver, no data movement after the
    single scan).

    The agg_corr_exact discipline, extended: every moment accumulates
    as exact DECIMAL (order-free), and the TEXTUALLY IDENTICAL sequence
    of IEEE ops — shared between the Spark epilogue and the oracle via
    one SQL string — produces bit-equal coefficients on both engines.
    For k predictors the same shape carries k(k+3)/2 moment sums; the
    closed form gives way to a broadcast Cholesky of the k x k Gram
    matrix, still one scan."""
    T(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(f"WITH m AS ({_MLR_MOMENTS})\n{_MLR_FINAL}")


@query(
    "agg_chisq_independence",
    oracle="""
    WITH n AS (SELECT COUNT(*) AS n FROM documents),
    cx AS (SELECT lang, COUNT(*) AS c_x FROM documents GROUP BY lang),
    cy AS (SELECT source, COUNT(*) AS c_y FROM documents GROUP BY source),
    cxy AS (SELECT lang, source, COUNT(*) AS c_xy FROM documents GROUP BY lang, source),
    grid AS (
      SELECT cx.lang, cy.source, cx.c_x, cy.c_y,
             COALESCE(cxy.c_xy, 0) AS o
      FROM cx CROSS JOIN cy
      LEFT JOIN cxy ON cxy.lang = cx.lang AND cxy.source = cy.source
    ),
    terms AS (
      SELECT CAST(ROUND(
               (o - CAST(c_x AS DOUBLE) * c_y / n.n)
               * (o - CAST(c_x AS DOUBLE) * c_y / n.n)
               / (CAST(c_x AS DOUBLE) * c_y / n.n), 12) AS DECIMAL(28,15)) AS t
      FROM grid CROSS JOIN n
    ),
    dims AS (
      SELECT (SELECT COUNT(*) FROM cx) AS r, (SELECT COUNT(*) FROM cy) AS c
    )
    SELECT CAST(SUM(t) AS DOUBLE) AS chi2,
           CAST((r - 1) * (c - 1) AS BIGINT) AS dof
    FROM terms, dims
    GROUP BY r, c
    """,
)
def agg_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence statistic for lang x source (#32
    cont.) — the classical contingency test beside agg_mutual_information
    (MI measures the dependence in nats; chi-square scales it into the
    test statistic whose null distribution is known, dof = (r-1)(c-1)).
    The full r x c grid INCLUDING empty cells enters the sum — dropping
    zero-observation cells understates the statistic, so the grid comes
    from a cross join of the margins, outer-joined to the counts.

    Determinism: each cell's (O-E)^2/E is ROUNDed then accumulated as
    exact DECIMAL (order-free, the MI discipline); expected counts are a
    fixed sequence of IEEE ops over exact integers.

    Round 12 (guide §2.2): one scan of documents — marginals, total and
    the r/c dimensions all derive from the single contingency-table
    shuffle (re-aggregated / window-counted over the bounded r x c grid,
    dims via row_number()==1 guards so NULL categories still count).
    Before: 4 scans + 6 aggregates (28 Exchanges); after 1 scan, and the
    cxy exchange is reused by all three consumers. Local sf0.1 timing is
    a wash (documents is small here); the win is the scan count at
    corpus scale. Bit-equal at sf0.01/sf0.1."""
    d = T(spark, sf_dir, "documents")
    cxy = d.groupBy("lang", "source").agg(F.count("*").alias("c_xy"))
    cx = cxy.groupBy("lang").agg(F.sum("c_xy").alias("c_x"))
    cy = cxy.groupBy("source").agg(F.sum("c_xy").alias("c_y"))
    grid = (
        cx.crossJoin(F.broadcast(cy))
        .join(F.broadcast(cxy), ["lang", "source"], "left")
        .select(
            "lang", "source", "c_x", "c_y",
            F.coalesce(F.col("c_xy"), F.lit(0)).alias("o"),
        )
        .withColumn("n", F.sum("o").over(Window.partitionBy()))
        .withColumn(
            "rn_l", F.row_number().over(Window.partitionBy("lang").orderBy("source"))
        )
        .withColumn(
            "rn_s", F.row_number().over(Window.partitionBy("source").orderBy("lang"))
        )
    )
    e = F.col("c_x").cast("double") * F.col("c_y") / F.col("n")
    return (
        grid.agg(
            F.sum(
                F.round((F.col("o") - e) * (F.col("o") - e) / e, 12)
                .cast("decimal(28,15)")
            ).cast("double").alias("chi2"),
            F.sum(F.when(F.col("rn_l") == 1, 1).otherwise(0)).alias("r"),
            F.sum(F.when(F.col("rn_s") == 1, 1).otherwise(0)).alias("c"),
        )
        .select(
            "chi2",
            ((F.col("r") - 1) * (F.col("c") - 1)).cast("bigint").alias("dof"),
        )
    )


@query(
    "agg_ks_two_sample",
    oracle="""
    WITH s AS (
      SELECT CAST(value AS DECIMAL(18,2)) AS v,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g1,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS g2
      FROM events WHERE event_type IN ('click', 'error')
    ),
    pv AS (
      SELECT v, CAST(SUM(g1) AS BIGINT) AS n1_v, CAST(SUM(g2) AS BIGINT) AS n2_v
      FROM s GROUP BY v
    ),
    cum AS (
      SELECT SUM(n1_v) OVER (ORDER BY v) AS c1,
             SUM(n2_v) OVER (ORDER BY v) AS c2
      FROM pv
    ),
    tot AS (
      SELECT CAST(SUM(n1_v) AS BIGINT) AS n1, CAST(SUM(n2_v) AS BIGINT) AS n2 FROM pv
    )
    SELECT n1, n2,
           CAST(MAX(ABS(c1 * n2 - c2 * n1)) AS BIGINT) AS d_scaled,
           CAST(MAX(ABS(c1 * n2 - c2 * n1)) AS DOUBLE) / (n1 * n2) AS ks_d
    FROM cum, tot
    GROUP BY n1, n2
    """,
)
def agg_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance (#32 cont.): the maximum
    ECDF gap between two groups' value distributions — the standard
    drift detector between a training corpus and an incoming batch
    (x_corpus_drift counts membership churn; KS detects DISTRIBUTION
    churn on a numeric column).

    Exact throughout: the ECDF comparison is scaled to integers
    (|c1*n2 - c2*n1| over the common denominator n1*n2), so the MAX is
    over exact BIGINTs — no float ECDF subtraction anywhere — and the
    reported D is one final divide. Shape: per-value counts (two-phase
    agg) checkpointed once (the distinct-value table is already far
    smaller than the data), then BOTH ECDF prefix-sums ride one
    clustered-bucket exchange + one WindowExec
    (functions/global_order.py global_cumsum_multi — no single-partition
    window over the distinct values), and a scalar max."""
    from ..functions.global_order import global_cumsum_multi

    ev = T(spark, sf_dir, "events").filter(F.col("event_type").isin("click", "error"))
    s = ev.select(
        F.col("value").cast("decimal(18,2)").alias("v"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("g1"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("g2"),
    )
    pv = session_cache_get(
        spark,
        sf_dir,
        "agg.ks_pv",
        lambda: s.groupBy("v").agg(
            F.sum("g1").cast("bigint").alias("n1_v"),
            F.sum("g2").cast("bigint").alias("n2_v"),
        ).localCheckpoint(),
    )
    cum = global_cumsum_multi(
        pv,
        [("v", "asc")],
        [(F.col("n1_v"), "c1"), (F.col("n2_v"), "c2")],
        inclusive=True,
    ).select("c1", "c2")
    tot = pv.agg(
        F.sum("n1_v").cast("bigint").alias("n1"), F.sum("n2_v").cast("bigint").alias("n2")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n1", "n2")
        .agg(
            F.max(F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1")))
            .cast("bigint")
            .alias("d_scaled")
        )
        .select(
            "n1",
            "n2",
            "d_scaled",
            (F.col("d_scaled").cast("double") / (F.col("n1") * F.col("n2"))).alias("ks_d"),
        )
    )


_WELCH_SQL = """
    WITH m AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sxx
      FROM events WHERE event_type IN ('click', 'error')
      GROUP BY event_type
    ),
    w AS (
      SELECT
        MAX(CASE WHEN event_type = 'click' THEN n END) AS n1,
        MAX(CASE WHEN event_type = 'click' THEN sx END) AS sx1,
        MAX(CASE WHEN event_type = 'click' THEN sxx END) AS sxx1,
        MAX(CASE WHEN event_type = 'error' THEN n END) AS n2,
        MAX(CASE WHEN event_type = 'error' THEN sx END) AS sx2,
        MAX(CASE WHEN event_type = 'error' THEN sxx END) AS sxx2
      FROM m
    )
    SELECT n1, n2,
           (sx1 / n1 - sx2 / n2)
             / SQRT((sxx1 - sx1 * sx1 / n1) / (n1 - 1) / n1
                    + (sxx2 - sx2 * sx2 / n2) / (n2 - 1) / n2) AS t_stat,
           ((sxx1 - sx1 * sx1 / n1) / (n1 - 1) / n1
            + (sxx2 - sx2 * sx2 / n2) / (n2 - 1) / n2)
           * ((sxx1 - sx1 * sx1 / n1) / (n1 - 1) / n1
              + (sxx2 - sx2 * sx2 / n2) / (n2 - 1) / n2)
             / ((sxx1 - sx1 * sx1 / n1) / (n1 - 1) / n1
                * ((sxx1 - sx1 * sx1 / n1) / (n1 - 1) / n1) / (n1 - 1)
                + (sxx2 - sx2 * sx2 / n2) / (n2 - 1) / n2
                  * ((sxx2 - sx2 * sx2 / n2) / (n2 - 1) / n2) / (n2 - 1)) AS welch_df
    FROM w
    """


@query("agg_welch_t_test", oracle=_WELCH_SQL)
def agg_welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between two groups' means (#32
    cont.) — the mean-shift companion to agg_ks_two_sample's
    distribution-shape test, with the Welch-Satterthwaite effective df
    (never the pooled-variance Student form, whose equal-variance
    assumption real pipelines can't certify).

    One aggregation pass yields both groups' exact-DECIMAL moments
    (pivoted to a single row by conditional MAX); t and df are a fixed
    IEEE epilogue over those six numbers — ONE SQL text executed by both
    engines (the agg_corr_exact discipline), so even this deeply-nested
    float formula hash-matches. Statistical testing at 100 TB is always
    this shape: moments distributed, algebra on the driver-sized
    result."""
    T(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_WELCH_SQL)


@query(
    "agg_hhi_concentration",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS r
      FROM lineitem GROUP BY l_suppkey
    ),
    agg AS (
      SELECT COUNT(*) AS n_suppliers,
             CAST(SUM(CAST(r AS DECIMAL(38,0)) * r) AS DECIMAL(38,0)) AS sum_sq,
             CAST(SUM(r) AS BIGINT) AS total
      FROM rev
    )
    SELECT n_suppliers,
           CAST(sum_sq AS DOUBLE)
             / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE)) AS hhi,
           1.0 / n_suppliers AS hhi_floor
    FROM agg
    """,
)
def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index of revenue by supplier
    (#32 cont.): the sum of squared market shares — the
    concentration-of-mass statistic (antitrust's, and a data pipeline's
    'is one source dominating the corpus' screen beside the Gini of
    agg_key_skew_profile: HHI weights the head, Gini the whole curve;
    hhi_floor = 1/n is the perfectly-even reference).

    Share squaring never happens in floats: per-supplier revenue goes to
    integer cents, the squared sum accumulates as exact DECIMAL(38,0)
    (cent-squared units; DuckDB's 128-bit integer sum matches), and HHI
    = sum_sq / total^2 is a fixed two-multiply-one-divide IEEE epilogue.
    One two-phase aggregate over suppliers, then a 1-row epilogue."""
    li = T(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey").agg(
        (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("r")
    )
    agg = rev.agg(
        F.count("*").alias("n_suppliers"),
        F.sum(F.col("r").cast("decimal(38,0)") * F.col("r"))
        .cast("decimal(38,0)")
        .alias("sum_sq"),
        F.sum("r").cast("bigint").alias("total"),
    )
    return agg.select(
        "n_suppliers",
        (
            F.col("sum_sq").cast("double")
            / (F.col("total").cast("double") * F.col("total").cast("double"))
        ).alias("hhi"),
        (F.lit(1.0) / F.col("n_suppliers")).alias("hhi_floor"),
    )


@query(
    "agg_weighted_median",
    oracle="""
    WITH w AS (
      SELECT l_returnflag,
             CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
             CAST(l_quantity AS DECIMAL(18,2)) AS wt
      FROM lineitem
    ),
    cum AS (
      SELECT l_returnflag, price, wt,
             SUM(wt) OVER (PARTITION BY l_returnflag
                           ORDER BY price, wt
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             SUM(wt) OVER (PARTITION BY l_returnflag) AS total
      FROM w
    )
    SELECT l_returnflag,
           CAST(MIN(CASE WHEN 2 * cw >= total THEN price END) AS DOUBLE)
             AS weighted_median_price,
           CAST(MAX(total) AS DOUBLE) AS total_weight
    FROM cum
    GROUP BY l_returnflag
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (#32 cont.): the price at which half the QUANTITY
    (not half the rows) lies below — the inventory/market-microstructure
    median where rows carry different mass, a statistic the plain
    percentile family structurally cannot express (a 50-unit line item
    must count 50x a 1-unit one).

    The selector 2*cw >= total compares exact DECIMAL cumulative weights
    — no fractional target, no interpolation, no float compare — and the
    (price, wt) ordering makes the prefix sums deterministic under ties.
    One per-group sort carries both window frames; at scale it's the
    range-partitioned sort + per-range weight offsets, exactly the
    two-phase global-rank shape (sort_global_rank_twophase) with weights
    in place of counts."""
    from pyspark.sql.window import Window

    li = T(spark, sf_dir, "lineitem")
    w = li.select(
        "l_returnflag",
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
        F.col("l_quantity").cast("decimal(18,2)").alias("wt"),
    )
    wc = (
        Window.partitionBy("l_returnflag")
        .orderBy("price", "wt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt_tot = Window.partitionBy("l_returnflag")
    cum = w.select(
        "l_returnflag",
        "price",
        F.sum("wt").over(wc).alias("cw"),
        F.sum("wt").over(wt_tot).alias("total"),
    )
    return cum.groupBy("l_returnflag").agg(
        F.min(F.when(2 * F.col("cw") >= F.col("total"), F.col("price")))
        .cast("double")
        .alias("weighted_median_price"),
        F.max("total").cast("double").alias("total_weight"),
    )


_THETA_K = 128  # KMV sketch size: (k-1)/theta estimator, ~9% rel. stderr


@query(
    "agg_theta_sketch_setops",
    oracle=f"""
    WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
    b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
    ha AS (SELECT (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                   + 1) AS h FROM a),
    hb AS (SELECT (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                   + 1) AS h FROM b),
    ska AS (SELECT h FROM ha ORDER BY h LIMIT {_THETA_K}),
    skb AS (SELECT h FROM hb ORDER BY h LIMIT {_THETA_K}),
    sku AS (SELECT h FROM (SELECT h FROM ska UNION SELECT h FROM skb)
            ORDER BY h LIMIT {_THETA_K}),
    est AS (
      SELECT
        CAST({_THETA_K} - 1 AS DOUBLE) / (CAST((SELECT MAX(h) FROM ska) AS DOUBLE)
                                          / 4294967296.0) AS est_a,
        CAST({_THETA_K} - 1 AS DOUBLE) / (CAST((SELECT MAX(h) FROM skb) AS DOUBLE)
                                          / 4294967296.0) AS est_b,
        CAST({_THETA_K} - 1 AS DOUBLE) / (CAST((SELECT MAX(h) FROM sku) AS DOUBLE)
                                          / 4294967296.0) AS est_union
    )
    SELECT est_a, est_b, est_union,
           est_a + est_b - est_union AS est_intersect,
           (SELECT COUNT(*) FROM a) AS exact_a,
           (SELECT COUNT(*) FROM b) AS exact_b,
           (SELECT COUNT(*) FROM (SELECT user_id FROM a UNION
                                  SELECT user_id FROM b)) AS exact_union,
           (SELECT COUNT(*) FROM (SELECT user_id FROM a INTERSECT
                                  SELECT user_id FROM b)) AS exact_intersect
    FROM est
    """,
)
def agg_theta_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/KMV sketch set operations: estimate |A|, |B|, |A∪B| and
    |A∩B| for two user sets (clickers vs purchasers) from k=128 minimum
    md5 hashes per set, next to the exact answers for error audit.

    This is the mergeable-sketch algebra a 100 TB distinct-count layer
    runs on: each partition keeps its k smallest hashes (a sort+limit =
    TakeOrdered partial per partition, merged k-way on the driver — never
    a global shuffle of members), sketches union by re-taking the k
    smallest of the concatenation (valid because the k smallest of A∪B is
    a subset of ska ∪ skb), and intersection comes from
    inclusion-exclusion on three estimates. Hashes are md5-derived exact
    dyadic rationals (h+1)/2^32 — the estimator (k-1)/theta is integer
    divides, bit-identical across engines, no RNG. The corpus-side exact
    counts are the audit column a production job samples, not computes.

    Requires both sets to overflow k (true for every corpus sf); the
    degenerate exact-below-k branch is the sketch library's concern, not
    this operator's.

    Round 12 (guide §2.2): one per-user membership substrate — groupBy
    user_id with click/purchase flags — replaces the former ten scans of
    events (2 distinct sets, 2 hash projections, union-distinct and
    intersect for the exacts). All four exact counts are one aggregate
    over the substrate (union = any row, intersect = both flags), and the
    sketch sides filter the same substrate so the planner reuses its one
    exchange. 42 Exchanges -> 13 (8 real after reuse); sf0.1 min-of-5
    0.34 -> 0.25 s, median 0.49 -> 0.26 s, bit-equal at sf0.01/sf0.1."""
    ev = events_ts(spark, sf_dir)
    users = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("fa"),
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "fb"
            ),
        )
    )
    hcol = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        + 1
    ).alias("h")
    ska = users.filter("fa = 1").select(hcol).orderBy("h").limit(_THETA_K)
    skb = users.filter("fb = 1").select(hcol).orderBy("h").limit(_THETA_K)
    sku = ska.union(skb).distinct().orderBy("h").limit(_THETA_K)

    def est(sk: DataFrame, name: str) -> DataFrame:
        return sk.agg(
            (
                F.lit(float(_THETA_K - 1))
                / (F.max("h").cast("double") / F.lit(4294967296.0))
            ).alias(name)
        )

    exacts = users.agg(
        F.sum("fa").alias("exact_a"),
        F.sum("fb").alias("exact_b"),
        F.count("*").alias("exact_union"),
        F.sum(F.col("fa") * F.col("fb")).alias("exact_intersect"),
    )
    return (
        est(ska, "est_a")
        .crossJoin(est(skb, "est_b"))
        .crossJoin(est(sku, "est_union"))
        .withColumn(
            "est_intersect", F.col("est_a") + F.col("est_b") - F.col("est_union")
        )
        .crossJoin(exacts)
        .select(
            "est_a", "est_b", "est_union", "est_intersect",
            "exact_a", "exact_b", "exact_union", "exact_intersect",
        )
    )


@query("agg_hll_sketch_merge")  # rows-only: Datasketches HLL has no DuckDB twin
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketch rollup (Spark 3.5+ Datasketches surface):
    build one hll_sketch_agg per (lang, source) leaf, then merge the
    LEAF SKETCHES to the lang level with hll_union_agg and estimate —
    next to the exact distinct count at both levels. This is the algebra
    a 100 TB metrics layer runs on: leaf sketches are computed once in
    the fact-table pass, every coarser rollup level is a cheap sketch
    union (bytes, not data), and a day's sketch merges into a month's —
    the re-aggregatable distinct-count a plain COUNT(DISTINCT) can never
    be. Rows-only by nature (sketch binaries are engine-specific); the
    quality gate lives in tests: estimates within 5% of exact at every
    level, and the merged estimate must equal sketching the lang
    directly."""
    d = T(spark, sf_dir, "documents")
    leaf = d.groupBy("lang", "source").agg(
        F.hll_sketch_agg("doc_id").alias("sk"),
        F.countDistinct("doc_id").alias("exact_leaf"),
    )
    rolled = leaf.groupBy("lang").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("bigint").alias("est_docs"),
        F.count("*").alias("n_sources"),
        F.sum("exact_leaf").cast("bigint").alias("exact_docs"),
    )
    return rolled.select("lang", "n_sources", "est_docs", "exact_docs")
