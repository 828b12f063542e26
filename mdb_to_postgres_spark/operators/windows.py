"""Window functions (SURVEY.md §2.5 #33-38).

Every ORDER BY carries a unique tiebreaker (orderkey/event_id) so ranks and
frames are total orders — without it row_number/lag are nondeterministic
under ties and can never hash-match an oracle. Running sums accumulate in
exact decimals (compat.py) before the final double cast.

Scale note: a window is one shuffle on its partition key plus a per-group
sort. None of these queries use an unpartitioned window except
``sort_global`` (in sort_setops.py), which documents that caveat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import query
from ..sources.tables import T, events_ts, ev_sec_sql, session_cache_get

# Checkpointed entity tables feeding the global-order substrate are session
# substrates (session_cache_get): a per-call localCheckpoint creates a fresh
# lineage that defeats the global-order build memo (the z-order lesson), so
# each is materialized once per (session, sf).

_EV_SEC = ev_sec_sql()  # generation-derived: see sources/tables.py


@query(
    "win_rank",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority,
           ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn,
           RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS rk,
           DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS drk
    FROM orders
    """,
)
def win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank (#33). rank/dense_rank order by a
    tied column (priority) — their values are deterministic under ties;
    row_number gets the unique tiebreaker."""
    o = T(spark, sf_dir, "orders")
    w_rn = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    w_rk = Window.partitionBy("o_custkey").orderBy("o_orderpriority")
    return o.select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority",
        F.row_number().over(w_rn).alias("rn"),
        F.rank().over(w_rk).alias("rk"),
        F.dense_rank().over(w_rk).alias("drk"),
    )


@query(
    "win_topk_per_group",
    oracle="""
    SELECT * FROM (
      SELECT c_nationkey, c_custkey, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer
    ) WHERE rn <= 3
    """,
)
def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group (#34): rank + filter. Catalyst/AQE push the rn<=k
    limit into the window sort (WindowGroupLimit), so each group only keeps
    k rows through the shuffle — the scalable top-k idiom."""
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        T(spark, sf_dir, "customer")
        .select("c_nationkey", "c_custkey", "c_acctbal", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )


@query(
    "win_lag_lead",
    oracle=f"""
    WITH ev AS (SELECT event_id, user_id, event_type,
                       {_EV_SEC} AS ts_sec
                FROM events)
    SELECT event_id, user_id, ts_sec,
           ts_sec - LAG(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) AS gap_prev,
           LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) AS next_type
    FROM ev
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead (#35): inter-event gaps per user, on epoch-second BIGINTs."""
    ev = events_ts(spark, sf_dir).select("event_id", "user_id", "event_type", "ts_sec")
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    return ev.select(
        "event_id", "user_id", "ts_sec",
        (F.col("ts_sec") - F.lag("ts_sec").over(w)).alias("gap_prev"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@query(
    "win_running",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
             / COUNT(o_totalprice)
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS moving_avg_3
    FROM orders
    """,
)
def win_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total + moving average with ROWS frames (#36), decimal-exact."""
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mv = w.rowsBetween(-2, Window.currentRow)
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    return o.select(
        "o_custkey", "o_orderkey", "o_orderdate",
        F.sum(dec).over(run).cast("double").alias("running_spend"),
        (F.sum(dec).over(mv).cast("double") / F.count("o_totalprice").over(mv)).alias("moving_avg_3"),
    )


@query(
    "win_range_frame",
    oracle="""
    WITH o AS (SELECT o_custkey, o_orderkey,
                      CAST(CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS BIGINT) AS day_num,
                      CAST(o_totalprice AS DECIMAL(18,2)) AS price
               FROM orders)
    SELECT o_custkey, o_orderkey, day_num,
           CAST(SUM(price) OVER (PARTITION BY o_custkey ORDER BY day_num
                                 RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_31d,
           COUNT(*) OVER (PARTITION BY o_custkey ORDER BY day_num
                          RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS n_31d
    FROM o
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based RANGE frame (#36): 31-day rolling spend per customer.

    The frame is defined on the ORDER BY *value* (epoch-day int), so same-day
    orders are peers and the result is tie-insensitive by construction — no
    tiebreaker needed, unlike ROWS frames. Decimal-exact sum, double at the
    boundary. Scale: one shuffle on o_custkey + per-group sort; the sliding
    frame is computed incrementally per partition, never materializing the
    window contents.
    """
    o = T(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey",
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("bigint").alias("day_num"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    w = Window.partitionBy("o_custkey").orderBy("day_num").rangeBetween(-30, Window.currentRow)
    return o.select(
        "o_custkey", "o_orderkey", "day_num",
        F.sum("price").over(w).cast("double").alias("spend_31d"),
        F.count(F.lit(1)).over(w).alias("n_31d"),
    )


@query(
    "win_ntile_cume",
    oracle="""
    SELECT c_custkey, c_acctbal,
           NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile,
           PERCENT_RANK() OVER (ORDER BY c_acctbal, c_custkey) AS pct_rank,
           CUME_DIST() OVER (ORDER BY c_acctbal, c_custkey) AS cume
    FROM customer
    """,
)
def win_ntile_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / percent_rank / cume_dist (#37) over a total order.

    Under a TOTAL order (acctbal, custkey — custkey unique) rank ==
    row_number and cume counts rows <= current, so all three derive
    exactly from the clustered global row number + total
    (functions/global_order.py): ntile via the front-loaded-remainder
    formula, percent_rank = (rn-1)/(n-1) (0.0 when n == 1, the SQL
    convention), cume_dist = rn/n. No single-partition window over the
    customer set."""
    from ..functions.global_order import global_row_number, ntile_from_rn

    c = T(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    ranked = global_row_number(
        c, [("c_acctbal", "asc"), ("c_custkey", "asc")], "rn", total_col="n_t"
    )
    n, rn = F.col("n_t"), F.col("rn")
    return ranked.select(
        "c_custkey",
        "c_acctbal",
        ntile_from_rn("rn", "n_t", 4).alias("quartile"),
        F.when(n == 1, F.lit(0.0))
        .otherwise((rn - 1).cast("double") / (n - 1))
        .alias("pct_rank"),
        (rn.cast("double") / n).alias("cume"),
    )


@query(
    "win_first_last",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           FIRST_VALUE(o_orderkey) OVER w AS first_order,
           LAST_VALUE(o_orderkey) OVER w AS last_order,
           NTH_VALUE(o_orderkey, 2) OVER w AS second_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth value over a full-partition frame (#38)."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    o = T(spark, sf_dir, "orders")
    return o.select(
        "o_custkey", "o_orderkey", "o_orderdate",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("last_order"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
    )


@query(
    "win_gaps_islands",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, {_EV_SEC} AS ts_sec
      FROM events
    ),
    flagged AS (
      SELECT user_id, ts_sec,
             CASE WHEN ts_sec - LAG(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec) > 3600
                  OR LAG(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec) IS NULL
                  THEN 1 ELSE 0 END AS new_island
      FROM ev
    ),
    islands AS (
      SELECT user_id, ts_sec,
             CAST(SUM(new_island) OVER (PARTITION BY user_id ORDER BY ts_sec
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS island_id
      FROM flagged
    )
    SELECT user_id, island_id,
           MIN(ts_sec) AS island_start,
           MAX(ts_sec) AS island_end,
           COUNT(*) AS n_events
    FROM islands
    GROUP BY user_id, island_id
    """,
)
def win_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands (#38b): contiguous activity runs per user with a
    1-hour gap threshold — LAG flag, running-sum island id, per-island
    rollup. The batch-window form of sessionization (the streaming twin is
    stream_session_window); one shuffle on user_id feeds the LAG window,
    the island-id prefix sum, and the final rollup."""
    from ..sources.tables import events_ts

    e = events_ts(spark, sf_dir).select("user_id", "ts_sec")
    w = Window.partitionBy("user_id").orderBy("ts_sec")
    flagged = e.withColumn(
        "new_island",
        F.when(
            (F.col("ts_sec") - F.lag("ts_sec").over(w) > 3600)
            | F.lag("ts_sec").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    run = Window.partitionBy("user_id").orderBy("ts_sec").rowsBetween(
        Window.unboundedPreceding, 0
    )
    islands = flagged.withColumn("island_id", F.sum("new_island").over(run))
    return islands.groupBy("user_id", "island_id").agg(
        F.min("ts_sec").alias("island_start"),
        F.max("ts_sec").alias("island_end"),
        F.count("*").alias("n_events"),
    )


@query(
    "win_distinct_count",
    oracle="""
    SELECT event_id, user_id,
           COUNT(DISTINCT event_type) OVER (
             PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS distinct_types
    FROM events
    """,
)
def win_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct count over a sliding frame — per user, how many distinct
    event types in the trailing 10 events. Spark has no
    COUNT(DISTINCT) OVER; the engine form is ``size(collect_set() over
    frame)``, which keeps the dedup inside the window operator's state
    (set size is bounded by the frame's 10 rows, so state is O(frame),
    not O(cardinality)). Same single partition-shuffle + sort as any
    other window — no extra exchange for the distinctness."""
    ev = T(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.size(F.collect_set("event_type").over(w)).alias("distinct_types"),
    )


@query(
    "win_funnel",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_type,
             {_EV_SEC} AS ts_sec
      FROM events
    ),
    v AS (SELECT user_id, MIN(ts_sec) AS t_view FROM ev
          WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts_sec) AS t_click
          FROM ev e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts_sec >= v.t_view
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts_sec) AS t_purchase
          FROM ev e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts_sec >= c.t_click
          GROUP BY e.user_id)
    SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
           1 + CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END
             + CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS funnel_depth
    FROM v
    LEFT JOIN c ON v.user_id = c.user_id
    LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def win_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel detection (view -> click -> purchase): the first
    qualifying event of each stage must follow the previous stage's
    timestamp. Three per-user MIN aggregations chained by time-constrained
    joins — every shuffle keys on user_id, so at scale the three stages
    co-partition into one exchange lineage (no re-keying), versus the
    sort-heavy MATCH_RECOGNIZE formulation."""
    ev = events_ts(spark, sf_dir).select("user_id", "event_type", "ts_sec")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_sec").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts_sec") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts_sec").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts_sec") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts_sec").alias("t_purchase"))
    )
    depth = (
        F.lit(1)
        + F.when(F.col("t_click").isNotNull(), 1).otherwise(0)
        + F.when(F.col("t_purchase").isNotNull(), 1).otherwise(0)
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select("user_id", "t_view", "t_click", "t_purchase", depth.alias("funnel_depth"))
    )


@query(
    "win_gap_fill_resample",
    oracle=f"""
    WITH ev AS (
      SELECT user_id,
             ({_EV_SEC} // 3600) * 3600 AS h,
             value
      FROM events WHERE user_id < 24
    ),
    base AS (
      SELECT user_id, h, COUNT(*) AS event_cnt, MAX(value) AS v
      FROM ev GROUP BY user_id, h
    ),
    rng AS (SELECT user_id, MIN(h) AS mn, MAX(h) AS mx FROM base GROUP BY user_id),
    spine AS (
      SELECT user_id, UNNEST(range(mn, mx + 3600, 3600)) AS h FROM rng
    )
    SELECT s.user_id, s.h AS hour_start,
           COALESCE(b.event_cnt, 0) AS event_cnt,
           CASE WHEN b.h IS NULL THEN 1 ELSE 0 END AS was_gap,
           last_value(b.v IGNORE NULLS)
             OVER (PARTITION BY s.user_id ORDER BY s.h) AS value_ffill
    FROM spine s LEFT JOIN base b ON s.user_id = b.user_id AND s.h = b.h
    """,
)
def win_gap_fill_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-spine resampling with gap fill: hourly per-user activity where
    silent hours appear as explicit zero rows and the last observed value
    carries forward (IGNORE NULLS last_value). The spine is generated
    per-entity from its own [min, max] via sequence+explode — no global
    calendar table, no driver loop — and the fill window needs no extra
    shuffle beyond the spine join's user_id partitioning. The standard
    sensor/metrics densification op at any scale."""
    from ..sources.tables import events_ts

    ev = (
        events_ts(spark, sf_dir)
        .filter(F.col("user_id") < 24)
        .select(
            "user_id",
            ((F.col("ts_sec") / 3600).cast("long") * 3600).alias("h"),
            "value",
        )
    )
    base = ev.groupBy("user_id", "h").agg(
        F.count("*").alias("event_cnt"), F.max("value").alias("v")
    )
    rng = base.groupBy("user_id").agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
    spine = rng.select(
        "user_id", F.explode(F.sequence("mn", "mx", F.lit(3600))).alias("h")
    )
    j = spine.join(base, ["user_id", "h"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        F.col("h").alias("hour_start"),
        F.coalesce("event_cnt", F.lit(0)).alias("event_cnt"),
        F.when(F.col("v").isNull() & F.col("event_cnt").isNull(), 1)
        .otherwise(0)
        .alias("was_gap"),
        F.last("v", ignorenulls=True).over(w).alias("value_ffill"),
    )


_PCT_SQL = """
    WITH nat_rev AS (
      SELECT n.n_name AS nation, r.r_name AS region,
             SUM(CAST(s.s_acctbal AS DECIMAL(18,2))) AS nat_bal
      FROM supplier s
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY n.n_name, r.r_name
    )
    SELECT nation, region,
           CAST(nat_bal AS DOUBLE) AS nation_balance,
           CAST(nat_bal AS DOUBLE)
           / CAST(SUM(nat_bal) OVER (PARTITION BY region) AS DOUBLE) AS share_of_region
    FROM nat_rev
"""


@query("win_percent_of_total", oracle=_PCT_SQL)
def win_percent_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-parent via an unbounded window SUM (#36 cont.): each
    nation's balance as a fraction of its region total. The window
    partition carries only the pre-aggregated (nation, region) rows —
    dimension-sized at any corpus scale — and the decimal window SUM is
    exact, so the single final divide is deterministic cross-engine."""
    for t in ("supplier", "nation", "region"):
        T(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_PCT_SQL)


@query(
    "win_cohort_retention",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, ({_EV_SEC} // 3600) AS hr FROM events
    ),
    cohort AS (
      SELECT user_id, MIN(hr) AS cohort_hr FROM ev GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT e.user_id, c.cohort_hr, e.hr - c.cohort_hr AS hr_offset
      FROM ev e JOIN cohort c ON e.user_id = c.user_id
    ),
    sizes AS (
      SELECT cohort_hr, COUNT(*) AS cohort_size FROM cohort GROUP BY cohort_hr
    )
    SELECT a.cohort_hr, a.hr_offset,
           COUNT(*) AS active_users,
           s.cohort_size,
           ROUND(COUNT(*) / CAST(s.cohort_size AS DOUBLE), 6) AS retention
    FROM active a JOIN sizes s ON a.cohort_hr = s.cohort_hr
    GROUP BY a.cohort_hr, a.hr_offset, s.cohort_size
    """,
)
def win_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention analysis (#36 cont.): users are cohorted by their
    first-activity hour; each later active hour increments that cohort's
    retention at offset (hour - cohort_hour) — the triangle matrix behind
    every product-analytics retention chart. Three thin aggregations on
    (user, hour) keys: cohort assignment (MIN per user), distinct
    activity, per-cohort sizes broadcast back for the rate. No window
    function needed — the min-per-user groupBy IS the cohort pass, so
    the whole thing is two shuffles on user_id + one on cohort_hr at any
    corpus size."""
    from ..sources.tables import events_ts

    # Round 12 (guide §2.2): cohort assignment is a min-window over the
    # user_id partition (one events shuffle, no join back), and
    # cohort_size rides the retention aggregate itself — every user has
    # an offset-0 row (their first hour IS active), so the size is the
    # offset-0 active_users count, recovered by a window over the
    # bounded (cohort_hr, hr_offset) triangle. 2 scans + join -> 1 scan;
    # sf0.1 median 0.59 -> 0.42 s; bit-equal at sf0.01/sf0.1.
    ev = events_ts(spark, sf_dir).select(
        "user_id", (F.col("ts_sec") / 3600).cast("bigint").alias("hr")
    )
    active = (
        ev.withColumn("cohort_hr", F.min("hr").over(Window.partitionBy("user_id")))
        .select("user_id", "cohort_hr", (F.col("hr") - F.col("cohort_hr")).alias("hr_offset"))
        .distinct()
    )
    return (
        active.groupBy("cohort_hr", "hr_offset")
        .agg(F.count("*").alias("active_users"))
        .withColumn(
            "cohort_size",
            F.sum(F.when(F.col("hr_offset") == 0, F.col("active_users"))).over(
                Window.partitionBy("cohort_hr")
            ),
        )
        .select(
            "cohort_hr",
            "hr_offset",
            "active_users",
            "cohort_size",
            F.round(
                F.col("active_users").cast("double") / F.col("cohort_size").cast("double"), 6
            ).alias("retention"),
        )
    )


@query(
    "win_attribution_last_touch",
    oracle=f"""
    WITH ev AS (
      SELECT event_id, user_id, event_type, {_EV_SEC} AS ts_sec FROM events
    ),
    tagged AS (
      SELECT user_id, ts_sec, event_id,
             event_type = 'purchase' AS is_purchase,
             CASE WHEN event_type IN ('click', 'view') THEN event_id END AS t_id,
             CASE WHEN event_type IN ('click', 'view') THEN event_type END AS t_type,
             CASE WHEN event_type IN ('click', 'view') THEN ts_sec END AS t_ts
      FROM ev WHERE event_type IN ('click', 'view', 'purchase')
    ),
    run AS (
      SELECT user_id, ts_sec, event_id, is_purchase,
             last_value(t_id IGNORE NULLS) OVER w AS touch_id,
             last_value(t_type IGNORE NULLS) OVER w AS touch_type,
             last_value(t_ts IGNORE NULLS) OVER w AS touch_ts
      FROM tagged
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id
                   ROWS UNBOUNDED PRECEDING)
    )
    SELECT event_id AS purchase_id, user_id, touch_id, touch_type,
           ts_sec - touch_ts AS gap_sec
    FROM run
    WHERE is_purchase AND touch_id IS NOT NULL AND ts_sec - touch_ts <= 3600
    """,
)
def win_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution (#35 cont.): each purchase is
    credited to the user's most recent click/view within the preceding
    hour. Union-and-running-window formulation — touches and purchases
    interleave in one per-user (ts, event_id) order and last_value(...
    IGNORE NULLS) carries the latest touch forward — so attribution is
    ONE shuffle on user_id and a single sort, never a per-pair band join
    (which blows up on power users at 100 TB; same scale argument as
    join_asof). Ties at the same second resolve by event_id in both
    engines."""
    ev = events_ts(spark, sf_dir).filter(
        F.col("event_type").isin("click", "view", "purchase")
    )
    is_touch = F.col("event_type").isin("click", "view")
    tagged = ev.select(
        "user_id",
        "ts_sec",
        "event_id",
        (F.col("event_type") == "purchase").alias("is_purchase"),
        F.when(is_touch, F.col("event_id")).alias("t_id"),
        F.when(is_touch, F.col("event_type")).alias("t_type"),
        F.when(is_touch, F.col("ts_sec")).alias("t_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_sec", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = tagged.select(
        "user_id",
        "ts_sec",
        "event_id",
        "is_purchase",
        F.last("t_id", ignorenulls=True).over(w).alias("touch_id"),
        F.last("t_type", ignorenulls=True).over(w).alias("touch_type"),
        F.last("t_ts", ignorenulls=True).over(w).alias("touch_ts"),
    )
    return (
        run.filter(
            F.col("is_purchase")
            & F.col("touch_id").isNotNull()
            & (F.col("ts_sec") - F.col("touch_ts") <= 3600)
        )
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            "touch_id",
            "touch_type",
            (F.col("ts_sec") - F.col("touch_ts")).alias("gap_sec"),
        )
    )


@query(
    "win_concurrency_sweep",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, {_EV_SEC} AS ts_sec FROM events
    ),
    marked AS (
      SELECT user_id, ts_sec,
             CASE WHEN ts_sec - LAG(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec)
                       > 1800 OR LAG(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec)
                       IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM ev
    ),
    sess_id AS (
      SELECT user_id, ts_sec,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_sec
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    ),
    sessions AS (
      SELECT user_id, MIN(ts_sec) AS s_start, MAX(ts_sec) + 1800 AS s_end
      FROM sess_id GROUP BY user_id, sid
    ),
    bounds AS (
      SELECT s_start AS t, 1 AS d FROM sessions
      UNION ALL
      SELECT s_end AS t, -1 AS d FROM sessions
    ),
    curve AS (
      SELECT t, d,
             CAST(SUM(d) OVER (ORDER BY t, d ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS concurrent
      FROM bounds
    )
    SELECT (t // 3600) * 3600 AS hour_start,
           MAX(concurrent) AS peak_concurrent,
           COUNT(*) AS boundary_events
    FROM curve GROUP BY 1
    """,
)
def win_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-concurrency sweep line (#36 cont.): sessionize each user
    (30-min inactivity gap, session open until last event + 30 min),
    explode sessions into +1/-1 boundary deltas, and a running sum over
    the global (t, delta) order IS the concurrency curve — reported as
    per-hour peaks. Delta orders before +1 at equal timestamps, so a
    session ending exactly as another starts never double-counts.

    Scale shape: the sweep runs over session BOUNDARIES (two thin rows
    per session, checkpointed once), not events; the global ordered sum
    runs clustered (functions/global_order.py: deterministic time-quantile
    buckets + one hash exchange + literal carry offsets — no
    single-partition pass over the boundary stream; tied (t, d) rows
    carry equal deltas, so the running sum is order-independent within
    ties). Sessionization itself is the gaps-islands window — one
    shuffle on user_id."""
    from ..functions.global_order import global_cumsum
    ev = events_ts(spark, sf_dir).select("user_id", "ts_sec")
    w_user = Window.partitionBy("user_id").orderBy("ts_sec")
    marked = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts_sec").over(w_user).isNull()
            | (F.col("ts_sec") - F.lag("ts_sec").over(w_user) > 1800),
            1,
        ).otherwise(0),
    )
    sess_id = marked.withColumn(
        "sid",
        F.sum("new_session").over(w_user.rowsBetween(Window.unboundedPreceding, 0)),
    )
    sessions = sess_id.groupBy("user_id", "sid").agg(
        F.min("ts_sec").alias("s_start"), (F.max("ts_sec") + 1800).alias("s_end")
    )
    bounds = session_cache_get(
        spark,
        sf_dir,
        "win.concurrency_bounds",
        lambda: sessions.select(
            F.col("s_start").alias("t"), F.lit(1).alias("d")
        ).unionByName(
            sessions.select(F.col("s_end").alias("t"), F.lit(-1).alias("d"))
        ).localCheckpoint(),
    )
    curve = global_cumsum(
        bounds, [("t", "asc"), ("d", "asc")], F.col("d"), "concurrent", inclusive=True
    )
    return (
        curve.groupBy(((F.col("t") / 3600).cast("bigint") * 3600).alias("hour_start"))
        .agg(
            F.max("concurrent").alias("peak_concurrent"),
            F.count("*").alias("boundary_events"),
        )
    )


_EWMA_LAGS = 8
# alpha = 3/10 exactly: w_i = 3 * 7^i / 10^(i+1). Scaled to the common
# denominator 10^8 every weight is an INTEGER, so the weighted sum is
# exact DECIMAL arithmetic end to end — no float ROUND anywhere (Spark
# rounds doubles via BigDecimal's shortest decimal string, DuckDB via a
# float multiply/rint path, and they disagree in the low digits on most
# values; integer weights sidestep the whole class).
_EWMA_W = [3 * 7**i * 10 ** (7 - i) for i in range(_EWMA_LAGS)]


def _ewma_terms_sql() -> tuple[str, str]:
    """(weighted-sum, weight-sum) expressions over lag columns x0..x7 —
    exact DECIMAL terms, same text both engines."""
    ws = " + ".join(
        f"CAST(CASE WHEN x{i} IS NULL THEN 0 ELSE CAST(x{i} AS DECIMAL(18,2))"
        f" * {w} END AS DECIMAL(38,2))"
        for i, w in enumerate(_EWMA_W)
    )
    ns = " + ".join(
        f"CAST(CASE WHEN x{i} IS NULL THEN 0 ELSE {w} END AS BIGINT)"
        for i, w in enumerate(_EWMA_W)
    )
    return ws, ns


_EWMA_WSUM, _EWMA_NSUM = _ewma_terms_sql()
_EWMA_LAG_COLS = ", ".join(
    f"LAG(value, {i}) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) AS x{i}"
    for i in range(_EWMA_LAGS)
)


@query(
    "win_ewma_bounded",
    oracle=f"""
    WITH ev AS (
      SELECT event_id, user_id, CAST(value AS DOUBLE) AS value,
             {_EV_SEC} AS ts_sec FROM events
    ),
    lagged AS (
      SELECT event_id, user_id, value, {_EWMA_LAG_COLS}
      FROM ev
    )
    SELECT event_id, user_id, value,
           CAST(({_EWMA_WSUM}) AS DOUBLE)
             / CAST(({_EWMA_NSUM}) AS DOUBLE) AS ewma
    FROM lagged
    """,
)
def win_ewma_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded exponentially-weighted moving average (#36 cont.): per-user
    EWMA of event values over the last 8 observations, alpha = 3/10, with
    the weight mass renormalized over the lags that actually exist (warm-
    up rows smooth over fewer points instead of emitting NULL). True
    recursive EWMA is not window-expressible; the 8-lag truncation
    carries (7/10)^8 = 5.8% residual mass — documented and deterministic.
    Exactness: alpha is rational, so integer-scaled weights make the
    numerator exact DECIMAL and the denominator exact BIGINT; the single
    IEEE divide of their (correctly-rounded) double conversions is
    bit-identical cross-engine. One shuffle on user_id."""
    ev = events_ts(spark, sf_dir).select(
        "event_id", "user_id", F.col("value").cast("double").alias("value"), "ts_sec"
    )
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    lagged = ev.select(
        "event_id",
        "user_id",
        "value",
        *[F.lag("value", i).over(w).alias(f"x{i}") for i in range(_EWMA_LAGS)],
    )
    return lagged.select(
        "event_id",
        "user_id",
        "value",
        (
            F.expr(f"CAST(({_EWMA_WSUM}) AS DOUBLE)")
            / F.expr(f"CAST(({_EWMA_NSUM}) AS DOUBLE)")
        ).alias("ewma"),
    )


@query(
    "win_quantile_normalize",
    oracle=f"""
    WITH ev AS (
      SELECT event_id, event_type, CAST(value AS DOUBLE) AS value FROM events
    )
    SELECT event_id, event_type, value,
           percent_rank() OVER (PARTITION BY event_type ORDER BY value) AS qnorm
    FROM ev
    """,
)
def win_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based quantile normalization (#37 cont.): each value maps to
    its within-group percent rank — the distribution-free [0,1] feature
    transform ML preprocessing uses when magnitudes are unreliable
    (heavy tails, sensor drift). percent_rank = (rank-1)/(n-1) with tied
    values sharing the min rank is defined identically in both engines,
    so even ties are deterministic. One shuffle + sort per group; at
    100 TB the same transform runs per feature shard."""
    ev = events_ts(spark, sf_dir).select(
        "event_id", "event_type", F.col("value").cast("double").alias("value")
    )
    w = Window.partitionBy("event_type").orderBy("value")
    return ev.select(
        "event_id", "event_type", "value", F.percent_rank().over(w).alias("qnorm")
    )


@query(
    "win_markov_transitions",
    oracle=f"""
    WITH seq AS (
      SELECT event_type AS next_type,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY {_EV_SEC}, event_id) AS prev_type
      FROM events
    ),
    tr AS (
      SELECT prev_type, next_type, COUNT(*) AS cnt
      FROM seq WHERE prev_type IS NOT NULL GROUP BY prev_type, next_type
    ),
    tot AS (SELECT prev_type, CAST(SUM(cnt) AS BIGINT) AS total FROM tr GROUP BY prev_type)
    SELECT tr.prev_type, tr.next_type, tr.cnt,
           CAST(tr.cnt AS DOUBLE) / tot.total AS p_next
    FROM tr JOIN tot USING (prev_type)
    """,
)
def win_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams
    (#35 cont.): P(next_type | prev_type) — the behavioral-model statistic
    behind next-action prediction and bot detection.

    One window pass per user on the deterministic (ts_sec, event_id) axis
    pairs each event with its predecessor; the transition counts then
    reduce to a #types x #types table, so the second aggregation and the
    probability normalization run on a few dozen rows no matter the corpus
    size. The probability is one IEEE divide of two exact integers —
    deterministic on both engines. At 100 TB the only full-data cost is
    the user_id shuffle+sort, shared with every other per-user sessionization
    pass (a production pipeline derives them all from one sorted substrate)."""
    ev = events_ts(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    seq = (
        ev.select("user_id", F.col("event_type").alias("next_type"), "ts_sec", "event_id")
        .withColumn("prev_type", F.lag("next_type").over(w))
        .filter(F.col("prev_type").isNotNull())
    )
    tr = seq.groupBy("prev_type", "next_type").agg(F.count("*").alias("cnt"))
    tot = tr.groupBy("prev_type").agg(F.sum("cnt").cast("bigint").alias("total"))
    return (
        tr.join(F.broadcast(tot), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "cnt",
            (F.col("cnt").cast("double") / F.col("total")).alias("p_next"),
        )
    )


@query(
    "win_event_paths_top",
    oracle=f"""
    WITH seq AS (
      SELECT event_type AS t0,
             LEAD(event_type, 1) OVER w AS t1,
             LEAD(event_type, 2) OVER w AS t2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY {_EV_SEC}, event_id)
    ),
    paths AS (
      SELECT t0 || '>' || t1 || '>' || t2 AS path, COUNT(*) AS cnt
      FROM seq WHERE t2 IS NOT NULL
      GROUP BY 1
    )
    SELECT path, cnt FROM paths ORDER BY cnt DESC, path LIMIT 15
    """,
)
def win_event_paths_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event paths of length 3 (#35 cont.): the path-mining /
    clickstream-analysis statistic one order above win_markov_transitions
    — every user's consecutive (t, t+1, t+2) event-type triple, counted
    corpus-wide, top-15.

    One per-user window pass produces both LEADs from a single sort (the
    two LEAD frames share the WINDOW clause, and Spark computes them in
    one WindowExec); the path space is |types|^3 at most, so the count
    aggregation and the final TakeOrderedAndProject run on at-most-125
    rows regardless of corpus size. Ties broken by path text on both
    engines."""
    ev = events_ts(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    seq = ev.select(
        F.col("event_type").alias("t0"),
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
    ).filter(F.col("t2").isNotNull())
    paths = seq.groupBy(
        F.concat_ws(">", "t0", "t1", "t2").alias("path")
    ).agg(F.count("*").alias("cnt"))
    return paths.orderBy(F.desc("cnt"), F.asc("path")).limit(15)


@query(
    "win_twap",
    oracle=f"""
    WITH seq AS (
      SELECT user_id,
             CAST(value AS DECIMAL(18,2)) AS v,
             LEAD({_EV_SEC}) OVER (PARTITION BY user_id ORDER BY {_EV_SEC}, event_id)
               - {_EV_SEC} AS dt
      FROM events
    ),
    agg AS (
      SELECT user_id,
             COUNT(*) AS n_intervals,
             CAST(SUM(dt) AS BIGINT) AS span_sec,
             SUM(v * dt) AS wsum
      FROM seq WHERE dt IS NOT NULL AND dt > 0
      GROUP BY user_id
    )
    SELECT user_id, n_intervals, span_sec,
           CAST(wsum AS DOUBLE) / span_sec AS twap
    FROM agg
    """,
)
def win_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (#36 cont.) — the TWAP/
    sensor-mean semantics where each observation holds until the next
    one, so irregular sampling doesn't bias the mean toward bursts
    (the arithmetic mean over-weights rapid-fire events; the
    time-weighted one is what monitoring and finance actually report).

    Each value's weight is the exact integer seconds to the user's next
    event (one LEAD over the shared per-user sort); weighted sums
    accumulate as exact DECIMAL * BIGINT products, and the final TWAP is
    one IEEE divide — bit-reproducible at any parallelism. Zero-length
    intervals (same-second events) drop out on both engines. One
    user_id shuffle, shared with every other per-user pass."""
    ev = events_ts(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    seq = ev.select(
        "user_id",
        F.col("value").cast("decimal(18,2)").alias("v"),
        (F.lead("ts_sec").over(w) - F.col("ts_sec")).alias("dt"),
    ).filter(F.col("dt").isNotNull() & (F.col("dt") > 0))
    agg = seq.groupBy("user_id").agg(
        F.count("*").alias("n_intervals"),
        F.sum("dt").cast("bigint").alias("span_sec"),
        F.sum(F.col("v") * F.col("dt")).alias("wsum"),
    )
    return agg.select(
        "user_id",
        "n_intervals",
        "span_sec",
        (F.col("wsum").cast("double") / F.col("span_sec")).alias("twap"),
    )


@query(
    "win_pareto_abc",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS revenue
      FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT SUM(revenue) AS total FROM rev),
    ranked AS (
      SELECT l_partkey, revenue,
             SUM(revenue) OVER (ORDER BY revenue DESC, l_partkey
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_revenue
      FROM rev
    ),
    cls AS (
      SELECT l_partkey,
             CASE WHEN 10 * (cum_revenue - revenue) < 8 * t.total THEN 'A'
                  WHEN 20 * (cum_revenue - revenue) < 19 * t.total THEN 'B'
                  ELSE 'C' END AS abc_class,
             revenue
      FROM ranked CROSS JOIN tot t
    )
    SELECT abc_class,
           COUNT(*) AS n_parts,
           CAST(SUM(revenue) AS DOUBLE) AS class_revenue,
           MIN(l_partkey) AS min_partkey
    FROM cls GROUP BY abc_class
    """,
)
def win_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification (#36 cont.): parts ranked by revenue,
    classified A while the PRIOR cumulative share is under 80%, B under
    95%, C after — the inventory-management cut ('20% of items drive 80%
    of value') and, in a data pipeline, the shard-pruning heuristic for
    hot-key handling.

    Class boundaries compare exact DECIMAL cumulative sums against
    integer-scaled thresholds (10*cum < 8*total for 80%) — no float
    ratio ever computed, so the classification is bit-deterministic.
    One groupBy checkpointed once (per-part aggregate, entity-sized),
    then the PRIOR cumulative revenue and the grand total both come from
    one clustered-bucket exchange + window (functions/global_order.py:
    the exclusive cumsum IS prior, the total is a literal — no
    single-partition window over the parts, no crossJoin for the
    total)."""
    from ..functions.global_order import global_cumsum

    li = T(spark, sf_dir, "lineitem")
    rev = session_cache_get(
        spark,
        sf_dir,
        "win.pareto_revenue",
        lambda: li.groupBy("l_partkey").agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("revenue")
        ).localCheckpoint(),
    )
    ranked = global_cumsum(
        rev,
        [("revenue", "desc"), ("l_partkey", "asc")],
        F.col("revenue"),
        "prior",
        inclusive=False,
        total_col="total",
    )
    prior = F.col("prior")
    cls = ranked.select(
        "l_partkey",
        "revenue",
        F.when(10 * prior < 8 * F.col("total"), "A")
        .when(20 * prior < 19 * F.col("total"), "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return cls.groupBy("abc_class").agg(
        F.count("*").alias("n_parts"),
        F.sum("revenue").cast("double").alias("class_revenue"),
        F.min("l_partkey").alias("min_partkey"),
    )


@query(
    "win_sessionize_assign",
    oracle=f"""
    WITH seq AS (
      SELECT event_id, user_id, {_EV_SEC} AS ts_sec,
             LAG({_EV_SEC}) OVER (PARTITION BY user_id
                                  ORDER BY {_EV_SEC}, event_id) AS prev_sec
      FROM events
    )
    SELECT event_id, user_id,
           CAST(SUM(CASE WHEN prev_sec IS NULL OR ts_sec - prev_sec > 1800
                         THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) AS BIGINT)
             AS session_seq
    FROM seq
    """,
)
def win_sessionize_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event session ASSIGNMENT (#54's transform face): each event
    gets its user's running session number — new session when the gap to
    the previous event exceeds 30 minutes. stream_session_window
    aggregates per session; this emits the labeling itself, the column
    every sessionized metric joins back through (and the batch
    equivalent of what session_window assigns internally).

    The classic two-window composition on ONE per-user sort: a LAG finds
    the gap breaks, a running SUM of break flags numbers the sessions —
    Spark executes both frames in a single WindowExec over the shared
    (user_id; ts, id) ordering, so the whole transform costs one shuffle
    + one sort, shared with every other per-user pass at 100 TB."""
    ev = events_ts(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    seq = ev.select("event_id", "user_id", "ts_sec").withColumn(
        "prev_sec", F.lag("ts_sec").over(w)
    )
    brk = F.when(
        F.col("prev_sec").isNull() | (F.col("ts_sec") - F.col("prev_sec") > 1800), 1
    ).otherwise(0)
    return seq.select(
        "event_id",
        "user_id",
        F.sum(brk).over(w).cast("bigint").alias("session_seq"),
    )


@query(
    "win_mann_kendall_trend",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, {_EV_SEC} // 86400 AS day,
             SUM(CAST(value AS DECIMAL(18,2))) AS v
      FROM events GROUP BY event_type, {_EV_SEC} // 86400
    ),
    pairs AS (
      SELECT a.event_type,
             CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1 ELSE 0 END AS sgn
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.day < b.day
    ),
    stat AS (
      SELECT p.event_type,
             CAST(SUM(p.sgn) AS BIGINT) AS s,
             (SELECT COUNT(*) FROM daily d WHERE d.event_type = p.event_type) AS n
      FROM pairs p GROUP BY p.event_type
    )
    SELECT event_type, n, s,
           CASE WHEN s > 0 THEN (s - 1) ELSE (s + 1) END
             / SQRT(n * (n - 1.0) * (2 * n + 5) / 18) AS z_stat
    FROM stat
    """,
)
def win_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per event type (#36 cont.): the
    nonparametric is-this-series-drifting statistic — S = sum of signs
    over all ordered day pairs, z-scored with the exact no-ties variance
    n(n-1)(2n+5)/18 — monitoring's distribution-free alternative to
    fitting a slope (|z| > 1.96 flags a trend at 5%).

    The O(n^2) pair enumeration is computed AFTER aggregating to daily
    totals: ~30 points per series makes ~435 pairs per type no matter
    how many raw events fed each day (pre-aggregate THEN test — the
    pattern that makes quadratic statistics tractable at any scale). S
    accumulates as exact integers over exact-DECIMAL daily sums; the
    continuity-corrected z is a fixed IEEE epilogue."""
    ev = events_ts(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.expr("ts_sec div 86400").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("v"))
    a = daily.select("event_type", F.col("day").alias("day_a"), F.col("v").alias("va"))
    b = daily.select("event_type", F.col("day").alias("day_b"), F.col("v").alias("vb"))
    pairs = (
        a.join(b, "event_type")
        .filter(F.col("day_a") < F.col("day_b"))
        .select(
            "event_type",
            F.when(F.col("vb") > F.col("va"), 1)
            .when(F.col("vb") < F.col("va"), -1)
            .otherwise(0)
            .alias("sgn"),
        )
    )
    n_tbl = daily.groupBy("event_type").agg(F.count("*").alias("n"))
    stat = (
        pairs.groupBy("event_type")
        .agg(F.sum("sgn").cast("bigint").alias("s"))
        .join(F.broadcast(n_tbl), "event_type")
    )
    s, n = F.col("s"), F.col("n")
    z = F.when(s > 0, s - 1).otherwise(s + 1) / F.sqrt(
        n * (n - F.lit(1.0)) * (2 * n + 5) / 18
    )
    return stat.select("event_type", "n", "s", z.alias("z_stat"))


@query(
    "win_changepoint_cusum",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, {_EV_SEC} // 86400 AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS x
      FROM events GROUP BY event_type, {_EV_SEC} // 86400
    ),
    tot AS (
      SELECT event_type, CAST(SUM(x) AS BIGINT) AS total, COUNT(*) AS n
      FROM daily GROUP BY event_type
    ),
    cum AS (
      SELECT d.event_type, d.day, t.n, t.total,
             CAST(SUM(d.x) OVER (PARTITION BY d.event_type ORDER BY d.day) AS BIGINT) AS c,
             ROW_NUMBER() OVER (PARTITION BY d.event_type ORDER BY d.day) AS i
      FROM daily d JOIN tot t ON d.event_type = t.event_type
    ),
    dev AS (
      SELECT event_type, day, n,
             ABS(n * c - i * total) AS dev_scaled
      FROM cum
    )
    SELECT event_type,
           CAST(MIN(CASE WHEN dev_scaled = mx THEN day END) AS BIGINT) AS change_day,
           CAST(mx AS DOUBLE) / (n * 100.0) AS cusum_peak
    FROM (SELECT event_type, day, n, dev_scaled,
                 MAX(dev_scaled) OVER (PARTITION BY event_type) AS mx
          FROM dev)
    GROUP BY event_type, mx, n
    """,
)
def win_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint localization per series (#36 cont.): the running
    sum of deviations from the series mean peaks AT the change point —
    where Mann-Kendall answers 'is there a drift?', CUSUM answers
    'WHEN did the level shift?' (the argmax day is the binary-
    segmentation split a full changepoint search would recurse on).

    Exactness: daily totals go to integer cents; the deviation
    |S_t| = |prefix_t - t*mean| is scaled by n to |n*prefix_t -
    t*total| — all BIGINT, so the peak and its argmax day (min-day
    tie-break) are bit-deterministic with no float mean subtraction.
    One daily pre-aggregation, one per-series prefix window, a scalar
    max — the same pre-aggregate-then-analyze shape as the trend
    test."""
    ev = events_ts(spark, sf_dir)
    daily = ev.groupBy("event_type", F.expr("ts_sec div 86400").alias("day")).agg(
        (F.sum(F.col("value").cast("decimal(18,2)")) * 100).cast("bigint").alias("x")
    )
    tot = daily.groupBy("event_type").agg(
        F.sum("x").cast("bigint").alias("total"), F.count("*").alias("n")
    )
    wo = Window.partitionBy("event_type").orderBy("day")
    cum = (
        daily.join(F.broadcast(tot), "event_type")
        .withColumn("c", F.sum("x").over(wo).cast("bigint"))
        .withColumn("i", F.row_number().over(wo))
    )
    dev = cum.select(
        "event_type",
        "day",
        "n",
        F.abs(F.col("n") * F.col("c") - F.col("i") * F.col("total")).alias("dev_scaled"),
    )
    mx = dev.withColumn(
        "mx", F.max("dev_scaled").over(Window.partitionBy("event_type"))
    )
    return mx.groupBy("event_type", "mx", "n").agg(
        F.min(F.when(F.col("dev_scaled") == F.col("mx"), F.col("day")))
        .cast("bigint")
        .alias("change_day"),
    ).select(
        "event_type",
        "change_day",
        (F.col("mx").cast("double") / (F.col("n") * 100.0)).alias("cusum_peak"),
    )


@query(
    "win_seasonal_profile",
    oracle=f"""
    WITH d AS (
      SELECT event_type, ({_EV_SEC} // 86400 + 4) % 7 AS dow,
             CAST(value AS DECIMAL(18,2)) AS v
      FROM events
    ),
    t AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS total FROM d GROUP BY event_type
    )
    SELECT d.event_type, d.dow,
           COUNT(*) AS cnt,
           CAST(SUM(d.v) AS DOUBLE) / COUNT(*) AS mean_value,
           CAST(COUNT(*) AS DOUBLE) / t.total AS dow_share
    FROM d JOIN t ON d.event_type = t.event_type
    GROUP BY d.event_type, d.dow, t.total
    """,
)
def win_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal profile per event type (#36 cont.): traffic
    share and mean value by weekday (epoch-day + 4 mod 7 pins Thursday
    = 0 ... the classic epoch alignment, identical arithmetic both
    engines) — the seasonality baseline that rate-alerting and forecast
    residuals normalize against before any anomaly call (a Monday spike
    is only a spike relative to Mondays).

    One grouped pass for the 7 x types profile plus a per-type total
    broadcast back for shares; exact DECIMAL sums, one divide per cell.
    The profile table (7 x types rows) is what production materializes
    and joins against live windows."""
    ev = events_ts(spark, sf_dir)
    d = ev.select(
        "event_type",
        ((F.expr("ts_sec div 86400") + 4) % 7).alias("dow"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    t = d.groupBy("event_type").agg(F.count("*").cast("bigint").alias("total"))
    return (
        d.groupBy("event_type", "dow")
        .agg(
            F.count("*").alias("cnt"),
            (F.sum("v").cast("double") / F.count("*")).alias("mean_value"),
        )
        .join(F.broadcast(t), "event_type")
        .select(
            "event_type",
            "dow",
            "cnt",
            "mean_value",
            (F.col("cnt").cast("double") / F.col("total")).alias("dow_share"),
        )
    )


@query(
    "win_rolling_zscore",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, {_EV_SEC} // 86400 AS day,
             SUM(CAST(value AS DECIMAL(18,2))) AS x
      FROM events GROUP BY event_type, {_EV_SEC} // 86400
    ),
    roll AS (
      SELECT event_type, day, x,
             COUNT(*) OVER w AS n,
             CAST(SUM(x) OVER w AS DOUBLE) AS sx,
             CAST(SUM(x * x) OVER w AS DOUBLE) AS sxx
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day,
           CAST(x AS DOUBLE) AS x,
           (CAST(x AS DOUBLE) - sx / n)
             / SQRT((sxx - sx * sx / n) / (n - 1)) AS roll_z,
           ABS(CAST(x AS DOUBLE) - sx / n)
             > 2.0 * SQRT((sxx - sx * sx / n) / (n - 1)) AS is_anomaly
    FROM roll WHERE n >= 7
    """,
)
def win_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day z-score anomaly flag per series (#36 cont.): each
    day scored against its OWN trailing week's mean/std — the local
    anomaly detector between the global screens (agg_outlier_zscore/
    _mad, whole-history baselines) and the streaming rate alert (count
    based): level shifts age INTO the baseline instead of flagging
    forever, and the warm-up window (n < 7) is excluded rather than
    scored against itself.

    Rolling moments are exact DECIMAL sums over an explicit ROWS frame
    (one per-series sort shared by both frames); the z epilogue is the
    agg_corr_exact fixed IEEE sequence, textually shared with the
    oracle. Daily pre-aggregation first: the window runs over ~30 rows
    per series no matter the event rate."""
    ev = events_ts(spark, sf_dir)
    daily = ev.groupBy("event_type", F.expr("ts_sec div 86400").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("x")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    roll = daily.select(
        "event_type",
        "day",
        "x",
        F.count("*").over(w).alias("n"),
        F.sum("x").over(w).cast("double").alias("sx"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("double").alias("sxx"),
    ).filter(F.col("n") >= 7)
    xd = F.col("x").cast("double")
    mean = F.col("sx") / F.col("n")
    sd = F.sqrt((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1))
    return roll.select(
        "event_type",
        "day",
        xd.alias("x"),
        ((xd - mean) / sd).alias("roll_z"),
        (F.abs(xd - mean) > 2.0 * sd).alias("is_anomaly"),
    )


@query(
    "win_conversion_lag",
    oracle=f"""
    WITH v AS (
      SELECT user_id, MIN({_EV_SEC}) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, MIN({_EV_SEC}) AS t_purchase
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase' AND {_EV_SEC} >= v.t_view
      GROUP BY e.user_id
    ),
    lag_tbl AS (
      SELECT p.user_id, p.t_purchase - v.t_view AS lag_sec
      FROM p JOIN v ON p.user_id = v.user_id
    ),
    n AS (SELECT COUNT(*) AS n_conv FROM lag_tbl),
    b AS (
      SELECT CASE WHEN lag_sec < 3600 THEN 0
                  WHEN lag_sec < 21600 THEN 1
                  WHEN lag_sec < 86400 THEN 2
                  WHEN lag_sec < 259200 THEN 3
                  ELSE 4 END AS lag_bucket
      FROM lag_tbl
    )
    SELECT lag_bucket, COUNT(*) AS conversions,
           CAST(COUNT(*) AS DOUBLE) / n.n_conv AS share
    FROM b CROSS JOIN n
    GROUP BY lag_bucket, n.n_conv
    """,
)
def win_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-lag distribution (#92 cont.): time from each user's
    first view to their first subsequent purchase, bucketed (<1h, <6h,
    <1d, <3d, more) with conversion shares — the 'how long does the
    funnel take' histogram that sets attribution windows (the 1h cap in
    win_attribution_last_touch comes from reading exactly this curve)
    and retargeting schedules.

    Round 12 (guide §2.2): the former v -> p -> lag MIN-chain computed v
    twice, lag twice and re-derived the whole chain once more for the
    total — 26 Exchanges. Now ONE user_id window pass pins each user's
    first-view time next to every event (min-when over the partition),
    the first qualifying purchase comes from a groupBy on the same key
    (no new exchange — hash(user_id) already satisfies the clustering),
    and the denominator is a sum-window over the 5-row bucket histogram
    instead of a crossJoin against a recomputed chain. 26 Exchanges -> 4;
    sf0.1 median 0.39 -> 0.30 s; bit-equal at sf0.01/sf0.1. Scale shape:
    one shuffle of events by user_id, everything after is bounded."""
    ev = events_ts(spark, sf_dir).select("user_id", "event_type", "ts_sec")
    lag = (
        ev.withColumn(
            "t_view",
            F.min(F.when(F.col("event_type") == "view", F.col("ts_sec"))).over(
                Window.partitionBy("user_id")
            ),
        )
        .filter(
            (F.col("event_type") == "purchase") & (F.col("ts_sec") >= F.col("t_view"))
        )
        .groupBy("user_id", "t_view")
        .agg(F.min("ts_sec").alias("t_purchase"))
        .select((F.col("t_purchase") - F.col("t_view")).alias("lag_sec"))
    )
    bucket = (
        F.when(F.col("lag_sec") < 3600, 0)
        .when(F.col("lag_sec") < 21600, 1)
        .when(F.col("lag_sec") < 86400, 2)
        .when(F.col("lag_sec") < 259200, 3)
        .otherwise(4)
    )
    return (
        lag.select(bucket.alias("lag_bucket"))
        .groupBy("lag_bucket")
        .agg(F.count("*").alias("conversions"))
        .withColumn("n_conv", F.sum("conversions").over(Window.partitionBy()))
        .select(
            "lag_bucket",
            "conversions",
            (F.col("conversions").cast("double") / F.col("n_conv")).alias("share"),
        )
    )


@query(
    "win_runs_test",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, {_EV_SEC} // 86400 AS day,
             SUM(CAST(value AS DECIMAL(18,2))) AS x
      FROM events GROUP BY event_type, {_EV_SEC} // 86400
    ),
    moves AS (
      SELECT event_type, day,
             CASE WHEN x > LAG(x) OVER w THEN 1
                  WHEN x < LAG(x) OVER w THEN -1 END AS s
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    seq AS (
      SELECT event_type, s,
             LAG(s) OVER (PARTITION BY event_type ORDER BY day) AS prev_s
      FROM moves WHERE s IS NOT NULL
    ),
    agg AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN prev_s IS NULL OR s <> prev_s THEN 1 ELSE 0 END) AS BIGINT) AS runs,
             CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
             CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_down
      FROM seq GROUP BY event_type
    )
    SELECT event_type, runs, n_up, n_down,
           (runs - (2.0 * n_up * n_down / (n_up + n_down) + 1))
             / SQRT(2.0 * n_up * n_down * (2.0 * n_up * n_down - n_up - n_down)
                    / ((n_up + n_down) * (n_up + n_down) * (n_up + n_down - 1.0))) AS z_stat
    FROM agg
    """,
)
def win_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test per series (#36 cont.): are the daily
    up/down moves RANDOM? Too few runs = momentum/autocorrelation, too
    many = mean-reverting oscillation — completing the nonparametric
    monitoring suite (Mann-Kendall: is there drift; CUSUM: where is the
    shift; runs: is the residual noise actually noise).

    Signs come from one LAG over the daily series (ties dropped, the
    standard treatment), runs from a second LAG counting sign changes —
    both share the per-series sort. Counts are exact integers; the
    z-score is the classical mean/variance epilogue as one fixed IEEE
    expression. Daily pre-aggregation first, as with every test in this
    family: statistics over ~30 points per series at any event rate."""
    ev = events_ts(spark, sf_dir)
    daily = ev.groupBy("event_type", F.expr("ts_sec div 86400").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    moves = daily.withColumn(
        "s",
        F.when(F.col("x") > F.lag("x").over(w), 1).when(
            F.col("x") < F.lag("x").over(w), -1
        ),
    ).filter(F.col("s").isNotNull())
    seq = moves.withColumn("prev_s", F.lag("s").over(w))
    agg = seq.groupBy("event_type").agg(
        F.sum(
            F.when(F.col("prev_s").isNull() | (F.col("s") != F.col("prev_s")), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("runs"),
        F.count_if(F.col("s") == 1).cast("bigint").alias("n_up"),
        F.count_if(F.col("s") == -1).cast("bigint").alias("n_down"),
    )
    r, u, d = F.col("runs"), F.col("n_up"), F.col("n_down")
    n = u + d
    z = (r - (2.0 * u * d / n + 1)) / F.sqrt(
        2.0 * u * d * (2.0 * u * d - u - d) / (n * n * (n - F.lit(1.0)))
    )
    return agg.select("event_type", "runs", "n_up", "n_down", z.alias("z_stat"))


# -- round-6 additions: sessionized multi-touch attribution, RFM ---------
@query(
    "win_funnel_attribution_paths",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_id, event_type, {_EV_SEC} AS ts_sec
      FROM events WHERE event_type IN ('click', 'view', 'purchase')
    ),
    flagged AS (
      SELECT user_id, event_id, event_type, ts_sec,
             CASE WHEN ts_sec - LAG(ts_sec) OVER
                    (PARTITION BY user_id ORDER BY ts_sec, event_id) > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM ev
    ),
    sess AS (
      SELECT user_id, event_id, event_type, ts_sec,
             CAST(SUM(new_sess) OVER (PARTITION BY user_id
                                      ORDER BY ts_sec, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_id
      FROM flagged
    ),
    run AS (
      SELECT user_id, event_id, event_type, session_id,
             CAST(SUM(CASE WHEN event_type IN ('click', 'view')
                           THEN 1 ELSE 0 END) OVER ws AS BIGINT) AS n_touches,
             first_value(CASE WHEN event_type IN ('click', 'view')
                              THEN event_type END IGNORE NULLS)
               OVER ws AS first_touch_type,
             last_value(CASE WHEN event_type IN ('click', 'view')
                             THEN event_type END IGNORE NULLS)
               OVER ws AS last_touch_type
      FROM sess
      WINDOW ws AS (PARTITION BY user_id, session_id
                    ORDER BY ts_sec, event_id ROWS UNBOUNDED PRECEDING)
    )
    SELECT event_id AS purchase_id, user_id, session_id, n_touches,
           first_touch_type, last_touch_type,
           CASE WHEN n_touches = 1 THEN 1.0
                WHEN n_touches = 2 THEN 0.5 ELSE 0.4 END AS first_credit,
           CASE WHEN n_touches = 1 THEN 0.0
                WHEN n_touches = 2 THEN 0.5 ELSE 0.4 END AS last_credit,
           CASE WHEN n_touches >= 3 THEN 0.2 ELSE 0.0 END AS middle_credit
    FROM run
    WHERE event_type = 'purchase' AND n_touches >= 1
    """,
)
def win_funnel_attribution_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionized multi-touch (U-shaped) attribution over real event
    paths: sessionize each user's click/view/purchase stream (30-min
    inactivity gap), then credit every purchase across the touches that
    preceded it IN ITS SESSION — 40/20/40 between first touch, middle
    touches (as a pool), and last touch (1 touch: all credit; 2: split).

    The whole path analysis is two running windows over ONE shuffle on
    user_id (sessionize = lag + running sum; path stats = running
    count/first/last over (user, session)) — never a per-(purchase, touch)
    pair join, which is the formulation that blows up on power users at
    100 TB. Middle credit stays a pool (n_touches fully determines each
    middle touch's share, 0.2/(n-2)) precisely so the result stays
    purchase-granular instead of pair-granular."""
    ev = events_ts(spark, sf_dir).filter(
        F.col("event_type").isin("click", "view", "purchase")
    ).select("user_id", "event_id", "event_type", "ts_sec")
    wo = (
        Window.partitionBy("user_id")
        .orderBy("ts_sec", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    new_sess = F.when(
        F.col("ts_sec") - F.lag("ts_sec").over(
            Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
        ) > 1800,
        1,
    ).otherwise(0)
    sess = ev.withColumn("session_id", F.sum(new_sess).over(wo))
    is_touch = F.col("event_type").isin("click", "view")
    touch_type = F.when(is_touch, F.col("event_type"))
    ws = (
        Window.partitionBy("user_id", "session_id")
        .orderBy("ts_sec", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = sess.select(
        "user_id",
        "event_id",
        "event_type",
        "session_id",
        F.sum(is_touch.cast("int")).over(ws).alias("n_touches"),
        F.first(touch_type, ignorenulls=True).over(ws).alias("first_touch_type"),
        F.last(touch_type, ignorenulls=True).over(ws).alias("last_touch_type"),
    )
    n = F.col("n_touches")
    return (
        run.filter((F.col("event_type") == "purchase") & (n >= 1))
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            "session_id",
            "n_touches",
            "first_touch_type",
            "last_touch_type",
            F.when(n == 1, 1.0).when(n == 2, 0.5).otherwise(0.4).alias("first_credit"),
            F.when(n == 1, 0.0).when(n == 2, 0.5).otherwise(0.4).alias("last_credit"),
            F.when(n >= 3, 0.2).otherwise(0.0).alias("middle_credit"),
        )
    )


@query(
    "win_rfm_segmentation",
    oracle="""
    WITH anchor AS (SELECT MAX(o_orderdate) AS mx FROM orders),
    rfm AS (
      SELECT o_custkey AS custkey,
             CAST(date_diff('day', MAX(o_orderdate), ANY_VALUE(a.mx)) AS BIGINT)
               AS recency_days,
             COUNT(*) AS frequency,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
      FROM orders, anchor a GROUP BY o_custkey
    ),
    scored AS (
      SELECT custkey, recency_days, frequency, monetary,
             NTILE(4) OVER (ORDER BY recency_days DESC, custkey) AS r_score,
             NTILE(4) OVER (ORDER BY frequency ASC, custkey) AS f_score,
             NTILE(4) OVER (ORDER BY monetary ASC, custkey) AS m_score
      FROM rfm
    )
    SELECT custkey, recency_days, frequency,
           CAST(monetary AS DOUBLE) AS monetary, r_score, f_score, m_score,
           CASE WHEN r_score = 4 AND f_score >= 3 THEN 'champion'
                WHEN r_score >= 3 AND f_score >= 3 THEN 'loyal'
                WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
                WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
                ELSE 'other' END AS segment
    FROM scored
    """,
)
def win_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per-customer recency (days since last
    order, against the corpus max date), frequency (order count) and
    monetary (exact DECIMAL revenue sum — never a float accumulation), each
    quartile-scored with NTILE(4) under a fully-deterministic total order
    (metric, custkey) so bucket boundaries are engine-independent, then
    mapped to named segments.

    Scale shape: one groupBy on o_custkey, then the 1-row-per-customer
    aggregate is localCheckpoint-materialized ONCE (entity-sized — orders
    of magnitude smaller than the fact table) and the three quartile
    scores chain through the clustered global-order substrate's
    shared-build multi-spec form (global_row_number_specs): ONE
    multi-column quantile pass + ONE per-bucket counts job feed all three
    deterministic-bucket hash-exchange windows + the exact
    front-loaded-remainder NTILE formula — no single-partition window
    over the customer set anywhere, the fact table scanned once, and the
    customer table scanned 2 + 3 times instead of 3 x 3."""
    from ..functions.global_order import global_row_number_specs, ntile_from_rn

    o = T(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("mx"))
    rfm = (
        o.crossJoin(F.broadcast(anchor))
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.datediff(F.first("mx"), F.max("o_orderdate"))
            .cast("bigint")
            .alias("recency_days"),
            F.count("*").alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
        )
    )
    rfm_plan = rfm
    rfm = session_cache_get(
        spark, sf_dir, "win.rfm_entity", lambda: rfm_plan.localCheckpoint()
    )
    # recency/frequency leading keys are LOW-CARDINALITY (day counts /
    # order counts cluster in a handful of values), which would collapse
    # most rows into a few quantile buckets and degrade the clustered
    # window toward single-partition at scale (ADVICE r8). The composite
    # bucket_key (key * 2^42 + custkey, negated for the desc spec) is
    # ascending-monotone in each spec's total order, so results are
    # unchanged — only bucket balance improves. Double-cast rounding on
    # the composite can only MERGE adjacent buckets, never split a key.
    shift = F.lit(2**42)
    ranked = global_row_number_specs(
        rfm,
        [
            (
                [("recency_days", "desc"), ("custkey", "asc")],
                "rn_r",
                -F.col("recency_days") * shift + F.col("custkey"),
            ),
            (
                [("frequency", "asc"), ("custkey", "asc")],
                "rn_f",
                F.col("frequency") * shift + F.col("custkey"),
            ),
            ([("monetary", "asc"), ("custkey", "asc")], "rn_m"),
        ],
        total_col="n_tot",
    )
    scored = ranked.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary",
        ntile_from_rn("rn_r", "n_tot", 4).alias("r_score"),
        ntile_from_rn("rn_f", "n_tot", 4).alias("f_score"),
        ntile_from_rn("rn_m", "n_tot", 4).alias("m_score"),
    )
    r, f_ = F.col("r_score"), F.col("f_score")
    segment = (
        F.when((r == 4) & (f_ >= 3), "champion")
        .when((r >= 3) & (f_ >= 3), "loyal")
        .when((r <= 2) & (f_ >= 3), "at_risk")
        .when((r <= 2) & (f_ <= 2), "hibernating")
        .otherwise("other")
    )
    return scored.select(
        "custkey",
        "recency_days",
        "frequency",
        F.col("monetary").cast("double").alias("monetary"),
        "r_score",
        "f_score",
        "m_score",
        segment.alias("segment"),
    )


@query(
    "win_kaplan_meier",
    oracle="""
    WITH mx AS (SELECT MAX(o_orderdate) AS maxd FROM orders),
    nxt AS (
      SELECT o_custkey, o_orderdate,
             LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey) AS nd
      FROM orders
    ),
    obs AS (
      SELECT CAST(date_diff('day', o_orderdate,
                            COALESCE(nd, (SELECT maxd FROM mx))) AS BIGINT) AS t,
             CASE WHEN nd IS NULL THEN 0 ELSE 1 END AS ev
      FROM nxt
    ),
    per_t AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS n_at,
             CAST(SUM(ev) AS BIGINT) AS n_events,
             CAST(COUNT(*) - SUM(ev) AS BIGINT) AS n_censored
      FROM obs GROUP BY t
    ),
    risk AS (
      SELECT t, n_events, n_censored,
             CAST(SUM(n_at) OVER (ORDER BY t DESC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS BIGINT) AS n_risk
      FROM per_t
    ),
    hz AS (
      SELECT t, n_risk, n_events, n_censored,
             CAST(n_events AS DOUBLE) / n_risk AS hazard,
             CAST(ROUND(1000000.0 * n_events / n_risk, 0) AS BIGINT) AS hz_ppm
      FROM risk
    )
    SELECT t, n_risk, n_events, n_censored, hazard,
           CAST(SUM(hz_ppm) OVER (ORDER BY t
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS BIGINT)
             AS cum_hazard_ppm
    FROM hz
    """,
)
def win_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival analysis over order inter-arrival gaps (the churn /
    time-to-next-purchase table): each order's observation is days to
    the customer's next order, right-censored at the corpus horizon for
    the last order — then the classic risk-set table per distinct
    duration t: subjects still at risk (suffix-sum of counts over t,
    descending), events, censorings, the discrete hazard d/n, and the
    Nelson-Aalen cumulative hazard.

    Exactness: the counting process is all BIGINTs; the hazard is ONE
    divide per row; the cumulative hazard accumulates ppm-quantized
    hazards (integer lattice — a running double sum would expose the
    engines' window-sum association). The per-customer LEAD rides one
    custkey shuffle; the risk table is tiny (distinct durations), so its
    global suffix-sum window is a metadata pass — at 100 TB the same
    rollup is the two-phase ordered sum over a range-partitioned sort of
    a few thousand rows."""
    o = T(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_orderdate").alias("maxd"))
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = o.select(
        "o_custkey",
        "o_orderdate",
        F.lead("o_orderdate").over(w).alias("nd"),
    )
    obs = nxt.crossJoin(F.broadcast(mx)).select(
        F.datediff(F.coalesce(F.col("nd"), F.col("maxd")), F.col("o_orderdate"))
        .cast("bigint")
        .alias("t"),
        F.when(F.col("nd").isNull(), 0).otherwise(1).alias("ev"),
    )
    per_t = obs.groupBy("t").agg(
        F.count("*").cast("bigint").alias("n_at"),
        F.sum("ev").cast("bigint").alias("n_events"),
        (F.count("*") - F.sum("ev")).cast("bigint").alias("n_censored"),
    )
    w_desc = Window.orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = per_t.select(
        "t",
        "n_events",
        "n_censored",
        F.sum("n_at").over(w_desc).cast("bigint").alias("n_risk"),
    )
    hz = risk.select(
        "t",
        "n_risk",
        "n_events",
        "n_censored",
        (F.col("n_events").cast("double") / F.col("n_risk")).alias("hazard"),
        F.round(F.lit(1000000.0) * F.col("n_events") / F.col("n_risk"), 0)
        .cast("bigint")
        .alias("hz_ppm"),
    )
    w_asc = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return hz.select(
        "t",
        "n_risk",
        "n_events",
        "n_censored",
        "hazard",
        F.sum("hz_ppm").over(w_asc).cast("bigint").alias("cum_hazard_ppm"),
    )
