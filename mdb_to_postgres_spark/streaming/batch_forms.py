"""Batch-checkable forms of the streaming operators (SURVEY.md §2.8 #52-58).

An operator that also runs under readStream has its one body in
``runtime.py``; its form here calls that body on the static events table,
so the DuckDB oracle verifies the window semantics exactly. Window
boundaries are emitted as epoch-second BIGINTs: deterministic across
engines and timestamp precisions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources.tables import events_ts, ev_sec_sql
from . import runtime

_EV_SEC = ev_sec_sql()  # generation-derived: see sources/tables.py


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events_ts(spark, sf_dir)


@query(
    "stream_tumbling_window",
    oracle=f"""
    SELECT ({_EV_SEC} // 3600) * 3600 AS window_start,
           event_type,
           COUNT(*) AS event_cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows (#52): F.window produces [start, end) struct;
    emitted as epoch seconds. Streaming twin: runtime.tumbling_counts."""
    return runtime.tumbling_counts(_events(spark, sf_dir))


@query(
    "stream_sliding_window",
    oracle=f"""
    WITH ev AS (SELECT {_EV_SEC} AS ts_sec, event_type FROM events),
    slid AS (
      SELECT (ts_sec // 900) * 900 - 900 * UNNEST(range(4)) AS window_start, event_type
      FROM ev
    )
    SELECT window_start, event_type, COUNT(*) AS event_cnt
    FROM slid
    WHERE window_start >= 0
    GROUP BY window_start, event_type
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour/15-min windows (#53): each event lands in 4 windows.
    The oracle replicates F.window's start generation (slide-aligned)."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("event_cnt"))
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "event_type",
            "event_cnt",
        )
    )


@query(
    "stream_session_window",
    oracle=f"""
    WITH ev AS (SELECT user_id, {_EV_SEC} AS ts_sec FROM events),
    flagged AS (
      SELECT user_id, ts_sec,
             -- Strict >: verified empirically — Spark merges an event at
             -- EXACTLY previous_ts+gap into the running session (touching
             -- candidate ranges [ts, ts+gap) merge), so only a gap
             -- strictly greater than the timeout starts a new session.
             CASE WHEN ts_sec - LAG(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec) > 1800
                  OR LAG(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM ev
    ),
    sessions AS (
      SELECT user_id, ts_sec,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_sec
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id,
           MIN(ts_sec) AS session_start,
           MAX(ts_sec) + 1800 AS session_end,
           COUNT(*) AS event_cnt
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with 30-min gap (#54): F.session_window merges
    events closer than the gap; end = last event + gap. The oracle is the
    classic gaps-and-islands rewrite — exact equivalence. Streaming twin:
    runtime.session_counts."""
    return runtime.session_counts(_events(spark, sf_dir))


@query(
    "stream_watermark_late",
    oracle=f"""
    WITH mx AS (SELECT MAX({_EV_SEC}) AS max_sec FROM events),
    kept AS (SELECT {_EV_SEC} AS ts_sec, event_type FROM events, mx
             WHERE {_EV_SEC} >= mx.max_sec - 600)
    SELECT (ts_sec // 60) * 60 AS minute_start, event_type, COUNT(*) AS event_cnt
    FROM kept
    GROUP BY 1, 2
    """,
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics, batch approximation (#55): keep only events
    within 10 minutes of the max timestamp, then window-aggregate. The true
    late-data-drop behavior is exercised in runtime tests; this form pins
    the arithmetic."""
    e = _events(spark, sf_dir).select(F.col("ts_sec"), "event_type")
    mx = e.agg(F.max("ts_sec").alias("max_sec"))
    kept = e.crossJoin(F.broadcast(mx)).filter(F.col("ts_sec") >= F.col("max_sec") - 600)
    return (
        kept.groupBy((F.floor(F.col("ts_sec") / 60) * 60).alias("minute_start"), "event_type")
        .agg(F.count("*").alias("event_cnt"))
    )


@query(
    "stream_dedup",
    oracle=f"""
    WITH ev AS (SELECT user_id, event_type, ({_EV_SEC} // 60) * 60 AS minute_start, event_id
                FROM events)
    SELECT user_id, event_type, minute_start,
           MIN(event_id) AS first_event_id,
           COUNT(*) AS dup_cnt
    FROM ev
    GROUP BY user_id, event_type, minute_start
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-within-watermark, batch form (#56): deterministic keep-first
    (min event_id) per (user, type, minute) key. The streaming twin uses
    withWatermark + dropDuplicates on the same key."""
    e = _events(spark, sf_dir).select(
        "user_id", "event_type",
        (F.floor(F.col("ts_sec") / 60) * 60).alias("minute_start"),
        "event_id",
    )
    return e.groupBy("user_id", "event_type", "minute_start").agg(
        F.min("event_id").alias("first_event_id"),
        F.count("*").alias("dup_cnt"),
    )


@query(
    "stream_stateful_count",
    oracle="""
    SELECT user_id,
           COUNT(*) AS event_cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
           COUNT(DISTINCT event_type) AS distinct_types
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user counters, batch form (#57). The streaming twin
    (runtime.stateful_user_counters) maintains the same counters with
    applyInPandasWithState; converged state must equal this aggregate."""
    return _events(spark, sf_dir).groupBy("user_id").agg(
        F.count("*").alias("event_cnt"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
        F.countDistinct("event_type").alias("distinct_types"),
    )


@query(
    "stream_foreach_sink",
    oracle="""
    SELECT event_type, COUNT(*) AS event_cnt
    FROM events
    GROUP BY event_type
    """,
)
def stream_foreach_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-batch sink round-trip (#58): run the real readStream with an
    availableNow trigger, land per-type counts in a parquet sink via
    foreachBatch, read the sink back. Result must equal the batch GROUP BY
    — this is the one gate query that actually executes the streaming
    engine."""
    return runtime.run_foreach_sink_counts(spark, sf_dir)


@query(
    "stream_static_join",
    oracle="""
    SELECT c.c_mktsegment, e.event_type,
           COUNT(*) AS event_cnt,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment (#58b): each micro-batch joins
    against a static (broadcastable) dim table — the canonical streaming
    enrichment shape. Batch form groups the enriched stream per
    (segment, type); streaming twin: runtime.static_join_counts."""
    return runtime.static_join_counts(spark, _events(spark, sf_dir), sf_dir)


_SS_BAND_SEC = 600  # purchase within 10 minutes after a click, same user


@query(
    "stream_stream_join",
    oracle=f"""
    SELECT a.event_id AS click_id, b.event_id AS purchase_id,
           ({_EV_SEC.replace('ts', 'b.ts')} - {_EV_SEC.replace('ts', 'a.ts')}) AS gap_sec
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND {_EV_SEC.replace('ts', 'b.ts')} >= {_EV_SEC.replace('ts', 'a.ts')}
     AND {_EV_SEC.replace('ts', 'b.ts')} - {_EV_SEC.replace('ts', 'a.ts')} <= {_SS_BAND_SEC}
    WHERE a.event_type = 'click' AND b.event_type = 'purchase'
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (#58c): clicks matched to same-user
    purchases within 10 minutes — the attribution-join shape. In
    streaming this needs watermarks on BOTH sides plus the time-range
    predicate so state can be expired; the batch form is the same plan
    minus watermarks. Streaming twin: runtime.click_purchase_join."""
    return runtime.click_purchase_join(spark, sf_dir, _SS_BAND_SEC, source=_events)


@query(
    "stream_cdc_upsert",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_type, value, {_EV_SEC} AS ts_sec, event_id FROM events
    ),
    ranked AS (
      SELECT user_id, event_type, value, ts_sec, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts_sec DESC, event_id DESC) AS rn
      FROM ev
    )
    SELECT user_id, value AS last_value, ts_sec AS last_ts_sec
    FROM ranked WHERE rn = 1 AND event_type <> 'click'
    """,
)
def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply / streaming upsert (#58 cont.): the event stream is a
    change feed keyed by user — every event upserts the user's state,
    'click' acts as the delete marker — and the result is the FINAL table
    after replaying the feed in (ts_sec, event_id) order: last writer
    wins, deleted keys absent.

    Batch form: one window top-1 per key (single shuffle on user_id).
    Streaming twin: runtime.run_cdc_upsert applies the same feed through
    foreachBatch MERGE semantics — reduce each micro-batch to its latest
    row per key, merge into the state store keeping the (ts_sec,
    event_id)-max — and the test asserts the two converge, which is
    exactly the idempotence contract a production JDBC/Delta MERGE sink
    must satisfy."""
    e = _events(spark, sf_dir).select("user_id", "event_type", "value", "ts_sec", "event_id")
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("ts_sec"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("event_type") != "click"))
        .select(
            "user_id",
            F.col("value").alias("last_value"),
            F.col("ts_sec").alias("last_ts_sec"),
        )
    )


@query(
    "stream_window_approx_distinct",
    oracle=f"""
    SELECT ({_EV_SEC} // 3600) * 3600 AS window_start,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS hll_within_5pct
    FROM events GROUP BY 1
    """,
)
def stream_window_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed distinct-user cardinality, sketch + exact twin (#53 cont.).

    Per tumbling hour: exact COUNT(DISTINCT) hash-checks against the
    oracle, and the HyperLogLog++ estimate is folded into a boolean
    accuracy bound (same contract as agg_approx_distinct_exact — at
    rsd=0.01 HLL++ stays in exact sparse mode at these per-window
    cardinalities, so the 5% bound is an invariant, not a tolerance).
    The sketch is the 100 TB path: per-window HLL buffers merge across
    partitions, so the shuffle carries fixed-size sketches instead of
    every distinct user id; in Structured Streaming the same aggregate
    runs incrementally over the watermark-bounded state store."""
    e = _events(spark, sf_dir)
    a = F.approx_count_distinct("user_id", 0.01).cast("double")
    ex = F.count_distinct("user_id")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            ex.alias("exact_users"),
            (F.abs(a - ex.cast("double")) / ex.cast("double") < 0.05).alias("hll_within_5pct"),
        )
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "exact_users",
            "hll_within_5pct",
        )
    )


@query(
    "stream_rate_alert",
    oracle=f"""
    WITH win AS (
      SELECT ({_EV_SEC} // 900) * 900 AS window_start, COUNT(*) AS cnt
      FROM events GROUP BY 1
    ),
    trail AS (
      SELECT window_start, cnt,
             AVG(CAST(cnt AS DOUBLE)) OVER (
               ORDER BY window_start ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING
             ) AS trailing_avg,
             COUNT(*) OVER (
               ORDER BY window_start ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING
             ) AS trailing_n
      FROM win
    )
    SELECT window_start, cnt, ROUND(trailing_avg, 6) AS trailing_avg,
           ROUND(cnt / trailing_avg, 6) AS rate_ratio
    FROM trail
    WHERE trailing_n = 4 AND cnt > 1.5 * trailing_avg
    """,
)
def stream_rate_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-anomaly alerting (#52 cont.): 15-minute event counts compared
    with the trailing 4-window average; windows running >1.5x their own
    recent baseline fire. Warm-up windows (fewer than 4 predecessors) are
    suppressed so the ratio is always against a full baseline. The
    trailing AVG over integer counts divides once per row — deterministic
    on both engines. In production this is the same windowed count
    maintained incrementally by Structured Streaming with the comparison
    in a foreachBatch sink; batch form = one windowed aggregate + one
    ordered window pass over the (tiny) per-window table."""
    return runtime.rate_alerts(runtime.rate_window_counts(_events(spark, sf_dir)))


@query(
    "stream_session_dynamic_gap",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, {_EV_SEC} AS ts_sec,
             CASE WHEN event_type = 'error' THEN 3600 ELSE 1800 END AS gap
      FROM events
    ),
    marked AS (
      -- Spark's session merge is INCLUSIVE of a touching boundary: an
      -- event at exactly max(previous ts+gap) joins the running session
      -- (same rule the fixed-gap oracle above encodes with "> 1800"),
      -- so only a STRICTLY later event starts a new one. The >= form
      -- passed at sf0.01 only because no touching boundary existed
      -- there; sf0.1 produced one (user 511) and the multi-sf sweep
      -- caught it (round 10).
      SELECT user_id, ts_sec, gap,
             CASE WHEN ts_sec > MAX(ts_sec + gap) OVER (
                    PARTITION BY user_id ORDER BY ts_sec
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_session
      FROM ev
    ),
    sess AS (
      SELECT user_id, ts_sec, gap,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_sec
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id,
           MIN(ts_sec) AS session_start,
           MAX(ts_sec + gap) AS session_end,
           COUNT(*) AS event_cnt
    FROM sess GROUP BY user_id, session_id
    """,
)
def stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap session windows (#54 cont.): the session timeout depends
    on the EVENT — an 'error' keeps its session alive 60 minutes, anything
    else 30 — via session_window's per-row gap expression (the Spark-native
    feature fixed-gap sessionization can't express: think checkout flows
    whose timeout differs by page type). The oracle reproduces Spark's
    merge rule from first principles as an interval merge: a new session
    starts exactly when an event's time passes STRICTLY beyond the
    running max of previous (ts + gap) ends; a touching boundary
    ([a,b) then b) DOES merge — verified against the engine at sf0.1,
    where the one touching case split under the previous >= reading and
    the multi-sf oracle sweep caught it. Events are second-truncated
    (ts_sec) so both engines bin identically. Runs incrementally under
    Structured Streaming with the same expression."""
    return runtime.session_counts_dynamic(_events(spark, sf_dir))


@query(
    "stream_ab_test_report",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 5
                       > COUNT(*) THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY user_id
    ),
    v AS (
      SELECT variant, COUNT(*) AS users,
             CAST(SUM(converted) AS BIGINT) AS conversions
      FROM u GROUP BY variant
    ),
    w AS (
      SELECT
        MAX(CASE WHEN variant = 'A' THEN users END) AS users_a,
        MAX(CASE WHEN variant = 'A' THEN conversions END) AS conv_a,
        MAX(CASE WHEN variant = 'B' THEN users END) AS users_b,
        MAX(CASE WHEN variant = 'B' THEN conversions END) AS conv_b
      FROM v
    )
    SELECT users_a, conv_a,
           CAST(conv_a AS DOUBLE) / users_a AS rate_a,
           users_b, conv_b,
           CAST(conv_b AS DOUBLE) / users_b AS rate_b,
           (CAST(conv_a AS DOUBLE) / users_a - CAST(conv_b AS DOUBLE) / users_b)
           / SQRT((CAST(conv_a + conv_b AS DOUBLE) / (users_a + users_b))
                  * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (users_a + users_b))
                  * (1.0 / users_a + 1.0 / users_b)) AS z_score
    FROM w
    """,
)
def stream_ab_test_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B conversion report (#57 cont.): users split into variants by the
    stable id hash (here parity), conversion = purchase share above the
    uniform expectation (>1/5 of the user's events — every synthetic
    user purchases at least once, so 'any purchase' would be the
    degenerate p=1), and the
    two-proportion pooled z-statistic quantifies the lift — the
    experimentation readout every product pipeline serves. All inputs
    are exact integers; the z formula is ONE textually identical float
    expression in both engines, so the statistic is bit-deterministic.
    Two thin aggregations (per-user flag, per-variant rollup) then a
    1-row pivot — runs incrementally under streaming as a keyed
    last-flag state + tiny rollup."""
    e = _events(spark, sf_dir)
    u = (
        e.groupBy("user_id")
        .agg(
            F.when(
                F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)) * 5
                > F.count("*"),
                1,
            )
            .otherwise(0)
            .alias("converted")
        )
        .select(
            F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("variant"),
            "converted",
        )
    )
    v = u.groupBy("variant").agg(
        F.count("*").alias("users"), F.sum("converted").cast("bigint").alias("conversions")
    )
    w = v.agg(
        F.max(F.when(F.col("variant") == "A", F.col("users"))).alias("users_a"),
        F.max(F.when(F.col("variant") == "A", F.col("conversions"))).alias("conv_a"),
        F.max(F.when(F.col("variant") == "B", F.col("users"))).alias("users_b"),
        F.max(F.when(F.col("variant") == "B", F.col("conversions"))).alias("conv_b"),
    )
    z = F.expr(
        """(CAST(conv_a AS DOUBLE) / users_a - CAST(conv_b AS DOUBLE) / users_b)
           / SQRT((CAST(conv_a + conv_b AS DOUBLE) / (users_a + users_b))
                  * (1.0D - CAST(conv_a + conv_b AS DOUBLE) / (users_a + users_b))
                  * (1.0D / users_a + 1.0D / users_b))"""
    )
    return w.select(
        "users_a",
        "conv_a",
        (F.col("conv_a").cast("double") / F.col("users_a")).alias("rate_a"),
        "users_b",
        "conv_b",
        (F.col("conv_b").cast("double") / F.col("users_b")).alias("rate_b"),
        z.alias("z_score"),
    )


@query(
    "stream_windowed_topk",
    oracle=f"""
    WITH counts AS (
      SELECT ({_EV_SEC} // 3600) * 3600 AS window_start, event_type,
             COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT window_start, event_type, cnt,
             ROW_NUMBER() OVER (PARTITION BY window_start
                                ORDER BY cnt DESC, event_type) AS rnk
      FROM counts
    )
    SELECT window_start, event_type, cnt, rnk
    FROM ranked WHERE rnk <= 3
    """,
)
def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly top-3 trending event types (#52 cont.) — the live-dashboard
    'what's hot right now' query: tumbling window counts, ranked within
    each window with a deterministic tie-break.

    Under Structured Streaming the count stage is the incremental
    windowed aggregation (state = one count per (window, type)); the
    rank-and-cut runs per closed window over at most |types| rows, so
    the top-k itself costs nothing at any event rate — state size is
    bounded by windows x types, never by events."""
    return runtime.top3_per_window(runtime.type_counts_hourly(_events(spark, sf_dir)))


@query(
    "stream_late_data_quarantine",
    oracle=f"""
    WITH ev AS (
      SELECT event_id, event_type, {_EV_SEC}
             + (('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 7))::BIGINT
                % 601) - 300 AS ts_eff
      FROM events
    ),
    wm AS (
      SELECT event_id, event_type, ts_eff,
             MAX(ts_eff) OVER (ORDER BY event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) - 300 AS watermark
      FROM ev
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN ts_eff < watermark THEN 1 ELSE 0 END) AS BIGINT)
             AS n_quarantined,
           CAST(MAX(CASE WHEN ts_eff < watermark
                         THEN watermark - ts_eff END) AS BIGINT)
             AS max_lateness_sec,
           CAST(SUM(CASE WHEN ts_eff < watermark
                         THEN watermark - ts_eff ELSE 0 END) AS BIGINT)
             AS total_lateness_sec,
           MIN(CASE WHEN ts_eff < watermark THEN event_id END)
             AS first_quarantined_id
    FROM wm GROUP BY event_type
    """,
)
def stream_late_data_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data quarantine audit, batch form (#55 cont.): the
    watermark-split a production stream performs — on-time rows flow to
    the windowed aggregate, late rows (event time below the watermark at
    their ARRIVAL position) route to a quarantine sink with their lateness
    recorded. The corpus arrives perfectly time-ordered, so event time is
    perturbed by a deterministic md5-derived +/-300 s jitter (same
    arithmetic in both engines — no RNG) and the watermark is the running
    max event time over arrival order (event_id) minus a 300 s delay,
    exactly Spark's withWatermark bookkeeping made explicit.

    The running max over global arrival order is the one total-order step,
    computed clustered (functions/global_order.py global_running_max:
    deterministic arrival-id buckets, ONE hash exchange, per-bucket local
    running max + a literal prefix-max array — no single-partition window
    over the events); the per-type audit itself is an ordinary mergeable
    aggregation."""
    from ..functions.global_order import global_running_max
    ev = _events(spark, sf_dir).select(
        "event_id",
        "event_type",
        (
            F.col("ts_sec")
            + F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 7), 16, 10)
            .cast("bigint")
            % 601
            - 300
        ).alias("ts_eff"),
    )
    wm = global_running_max(
        ev, [("event_id", "asc")], F.col("ts_eff"), "wmax", inclusive=False
    ).withColumn("watermark", F.col("wmax") - 300)
    late = F.col("ts_eff") < F.col("watermark")
    lateness = F.col("watermark") - F.col("ts_eff")
    return wm.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(late.cast("int")).cast("bigint").alias("n_quarantined"),
        F.max(F.when(late, lateness)).cast("bigint").alias("max_lateness_sec"),
        F.sum(F.when(late, lateness).otherwise(0)).cast("bigint").alias("total_lateness_sec"),
        F.min(F.when(late, F.col("event_id"))).alias("first_quarantined_id"),
    )


@query(
    "stream_join_windowed_runtime",
    oracle=f"""
    WITH c AS (
      SELECT user_id, {_EV_SEC} AS a_sec FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id, {_EV_SEC} AS b_sec FROM events
      WHERE event_type = 'purchase'
    ),
    pairs AS (
      SELECT p.b_sec, p.b_sec - c.a_sec AS gap_sec
      FROM c JOIN p ON c.user_id = p.user_id
       AND p.b_sec >= c.a_sec AND p.b_sec <= c.a_sec + 600
    )
    SELECT (b_sec // 3600) * 3600 AS window_start,
           COUNT(*) AS n_pairs,
           CAST(SUM(gap_sec) AS BIGINT) AS total_gap_sec,
           CAST(MIN(gap_sec) AS BIGINT) AS min_gap_sec,
           CAST(MAX(gap_sec) AS BIGINT) AS max_gap_sec
    FROM pairs GROUP BY 1
    """,
)
def stream_join_windowed_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed stream-stream join UNDER THE REAL STREAMING ENGINE (#58c
    cont.): runtime.windowed_join_counts runs the click-purchase interval
    join chained into a tumbling-window aggregate as one availableNow
    streaming query (two stateful operators: join state + window state,
    both watermark-evicted — tests/test_streaming.py asserts the state
    metrics), materialized through a memory sink. The oracle is the plain
    batch SQL for the same semantics: with the corpus's in-order arrival
    nothing is ever late, so engine output == batch output exactly — the
    equivalence that certifies the streaming deployment."""
    return runtime.run_to_memory(
        spark,
        runtime.windowed_join_counts(spark, sf_dir),
        "stream_join_windowed_runtime_sink",
        "append",
    )


@query(
    "stream_outer_join_watermark",
    oracle=f"""
    -- Two-step form of "clicks LEFT JOIN purchases within the band":
    -- the single LEFT JOIN with the band predicates in its ON clause is
    -- semantically identical, but DuckDB cannot attach residual
    -- predicates to a hash OUTER join and planned it as a
    -- BLOCKWISE_NL_JOIN — 2M x 2M at sf10, hours (observed in the
    -- round-12 census sweep). Matching inner-band pairs first (hash
    -- join on user_id + filter) and left-joining them back on the
    -- unique click_id is two hash joins, seconds at sf10.
    WITH a AS (
      SELECT event_id, user_id, {_EV_SEC} AS sec
      FROM events WHERE event_type = 'click'
    ),
    b AS (
      SELECT event_id, user_id, {_EV_SEC} AS sec
      FROM events WHERE event_type = 'purchase'
    ),
    m AS (
      SELECT a.event_id AS click_id, b.event_id AS purchase_id,
             b.sec - a.sec AS gap_sec
      FROM a JOIN b
        ON a.user_id = b.user_id
       AND b.sec >= a.sec
       AND b.sec - a.sec <= {_SS_BAND_SEC}
    )
    SELECT a.event_id AS click_id, m.purchase_id, m.gap_sec,
           CASE WHEN m.purchase_id IS NULL THEN 0 ELSE 1 END AS matched
    FROM a LEFT JOIN m ON m.click_id = a.event_id
    """,
)
def stream_outer_join_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join (#58c cont.): every click, matched
    to same-user purchases within 10 minutes OR emitted null-padded —
    the attribution join that also has to answer 'which clicks
    converted to NOTHING', which the inner form silently drops. In the
    real engine the null-padded row can only be emitted once the
    watermark passes click_time + 10 min (state eviction proves no
    match can still arrive — outer results are inherently
    watermark-delayed); the batch form is the same plan with the
    horizon fully settled. The join state is user-bucketed and the
    time-range predicate bounds per-key state exactly as the inner
    variant's."""
    pairs = runtime.click_purchase_pairs(spark, sf_dir, _SS_BAND_SEC, _events, "left_outer")
    return pairs.select(
        "click_id",
        "purchase_id",
        "gap_sec",
        F.when(F.col("purchase_id").isNull(), 0).otherwise(1).alias("matched"),
    )
