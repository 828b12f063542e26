"""Join operators (SURVEY.md §2.3 #14-24).

Physical-strategy notes (verified via .explain in tests/test_plans.py):
- dimension joins broadcast (region/nation always; customer under AQE
  thresholds at small sf) — no shuffle of the fact side;
- fact-fact joins (lineitem x orders) sort-merge with AQE skew handling;
- the as-of and band joins use the linear formulations in ``asof.py``
  instead of BroadcastNestedLoopJoin, which is the difference between
  O(n) and O(n*m) at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.compat import REVENUE_EXPR
from ..registry import query
from ..sources.tables import T, events_ts, ev_sec_sql, session_cache_get
from .asof import asof_join, range_join

# Epoch-seconds view of events: all as-of/range logic runs on BIGINT
# seconds, sidestepping ns-vs-us timestamp precision differences between
# engines (SURVEY.md §4.3 determinism table).
_EV_SEC = ev_sec_sql()  # generation-derived: see sources/tables.py


def _events_sec(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events_ts(spark, sf_dir).select("event_id", "user_id", "event_type", "ts_sec")


@query(
    "join_inner_hash",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_custkey, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def join_inner_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join (#14): orders x customer on custkey."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "join_broadcast",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name, r.r_name
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-dim broadcast join (#15): explicit broadcast() on nation and
    region keeps the customer side shuffle-free at any scale."""
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "c_name", "n_name", "r_name")
    )


@query(
    "join_sortmerge",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice, o.o_orderdate, o.o_totalprice
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'F'
    """,
)
def join_sortmerge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-large equi join (#16): lineitem x orders shuffles both sides on
    the key; the merge hint documents intent (AQE may still pick better)."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return li.hint("merge").join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "o_orderdate", "o_totalprice"
    )


@query(
    "join_left",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c LEFT JOIN orders o
      ON c.c_custkey = o.o_custkey AND o.o_totalprice > 100000
    """,
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join (#17) with an ON-clause filter on the right side —
    the null-extension case the HAVING/WHERE placement gets wrong."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    cond = (c.c_custkey == o.o_custkey) & (o.o_totalprice > 100000)
    return c.join(o, cond, "left").select("c_custkey", "c_name", "o_orderkey", "o_totalprice")


@query(
    "join_right",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM orders o RIGHT JOIN customer c
      ON c.c_custkey = o.o_custkey AND o.o_totalprice > 100000
    """,
)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join (#17) — mirror of join_left with the build/stream
    sides swapped (Spark plans it as a left join with sides flipped; the
    declared form exercises the planner's side-swap)."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    cond = (c.c_custkey == o.o_custkey) & (o.o_totalprice > 100000)
    return o.join(c, cond, "right").select("c_custkey", "c_name", "o_orderkey", "o_totalprice")


@query(
    "join_full",
    oracle="""
    SELECT a.c_custkey AS left_key, a.c_acctbal, b.o_custkey AS right_key, b.order_cnt
    FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey < 200) a
    FULL JOIN (SELECT o_custkey, COUNT(*) AS order_cnt
               FROM orders WHERE o_custkey >= 100 AND o_custkey < 300
               GROUP BY o_custkey) b
      ON a.c_custkey = b.o_custkey
    """,
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join (#17): overlapping key ranges so both sides produce
    null-extended rows."""
    c = (
        T(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 200)
        .select(F.col("c_custkey"), "c_acctbal")
    )
    o = (
        T(spark, sf_dir, "orders")
        .filter((F.col("o_custkey") >= 100) & (F.col("o_custkey") < 300))
        .groupBy("o_custkey")
        .agg(F.count("*").alias("order_cnt"))
    )
    return c.join(o, c.c_custkey == o.o_custkey, "full").select(
        F.col("c_custkey").alias("left_key"),
        "c_acctbal",
        F.col("o_custkey").alias("right_key"),
        "order_cnt",
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (#18): EXISTS without duplicating left rows."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (#19): customers with no order above 300k. The
    threshold makes the result non-empty at every sf (every customer has
    SOME order in this corpus, so an unfiltered anti-join returns 0 rows
    on both engines — a vacuous hash-match that proves nothing about
    anti-join semantics)."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "join_cross",
    oracle="SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product (#20) — only ever sane on small inputs."""
    return T(spark, sf_dir, "region").crossJoin(T(spark, sf_dir, "nation")).select(
        "r_name", "n_name"
    )


@query(
    "join_theta",
    oracle="""
    SELECT a.n_nationkey AS key_a, b.n_nationkey AS key_b, a.n_name AS name_a, b.n_name AS name_b
    FROM nation a JOIN nation b
      ON a.n_nationkey < b.n_nationkey AND a.n_regionkey = b.n_regionkey
    """,
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (theta) join (#21): unordered pairs within a region. The
    equi part (regionkey) keeps it a hash join with a residual predicate,
    not a nested loop."""
    a = T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("key_a"), F.col("n_name").alias("name_a"),
        F.col("n_regionkey").alias("rk_a"),
    )
    b = T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("key_b"), F.col("n_name").alias("name_b"),
        F.col("n_regionkey").alias("rk_b"),
    )
    return (
        a.join(b, (F.col("key_a") < F.col("key_b")) & (F.col("rk_a") == F.col("rk_b")))
        .select("key_a", "key_b", "name_a", "name_b")
    )


@query(
    "join_range",
    oracle=f"""
    WITH ev AS (SELECT event_id, user_id, {_EV_SEC} AS ts_sec FROM events)
    SELECT a.event_id AS left_id, b.event_id AS right_id, a.user_id,
           b.ts_sec - a.ts_sec AS gap_sec
    FROM ev a JOIN ev b
      ON a.user_id = b.user_id
     AND b.ts_sec >= a.ts_sec AND b.ts_sec <= a.ts_sec + 300
     AND a.event_id <> b.event_id
    """,
)
def join_range_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band join (#22): same-user event pairs within 5 minutes, via the
    bucketized equi-join in asof.py (no nested loop)."""
    ev = _events_sec(spark, sf_dir)
    l = ev.select(F.col("event_id").alias("left_id"), "user_id", F.col("ts_sec"))
    r = ev.select(F.col("event_id").alias("right_id"), "user_id", F.col("ts_sec").alias("rts_sec"))
    out = range_join(l, r, on=["user_id"], left_ts="ts_sec", right_ts="rts_sec", width=F.lit(300))
    return out.filter(F.col("left_id") != F.col("right_id")).select(
        "left_id", "right_id", "user_id", (F.col("rts_sec") - F.col("ts_sec")).alias("gap_sec")
    )


@query(
    "join_asof",
    oracle=f"""
    WITH ev AS (SELECT event_id, user_id, event_type, {_EV_SEC} AS ts_sec FROM events),
    p AS (SELECT user_id, ts_sec AS pts, MAX(event_id) AS p_event_id
          FROM ev WHERE event_type = 'purchase' GROUP BY user_id, ts_sec),
    l AS (SELECT event_id, user_id, ts_sec FROM ev WHERE event_type <> 'purchase')
    SELECT l.event_id, l.user_id, l.ts_sec,
           p.p_event_id AS r_p_event_id, p.pts AS r_pts
    FROM l ASOF LEFT JOIN p ON l.user_id = p.user_id AND l.ts_sec >= p.pts
    """,
)
def join_asof_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (#23): each non-purchase event gets the user's most recent
    purchase at-or-before it. Union+window formulation: one shuffle, no
    pairwise join (asof.py)."""
    ev = _events_sec(spark, sf_dir)
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts_sec").alias("pts"))
        .agg(F.max("event_id").alias("p_event_id"))
    )
    l = ev.filter(F.col("event_type") != "purchase").select("event_id", "user_id", "ts_sec")
    return asof_join(
        l, p, on=["user_id"], left_ts="ts_sec", right_ts="pts",
        right_cols=["p_event_id", "pts"],
    )


@query(
    "join_multiway_star",
    oracle=f"""
    SELECT r.r_name, c.c_mktsegment,
           COUNT(*) AS line_cnt,
           CAST(SUM({REVENUE_EXPR}) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderstatus <> 'P'
    GROUP BY r.r_name, c.c_mktsegment
    """,
)
def join_multiway_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way star join + aggregate (#24) — the flagship query. Fact table
    joins up the dimension chain; region/nation broadcast, revenue is an
    exact decimal sum (compat.py).

    Round 12 (guide §2.3 aggregate-before-you-shuffle): lineitem partial-
    aggregates to its per-orderkey (count, decimal revenue) BEFORE the
    join chain — the orderkey is the join key, so the pre-aggregation
    shares the join's exchange while shrinking every downstream shuffle
    (orders join, custkey exchange, final rollup) from fact-line grain to
    order grain (~4x fewer rows at every sf). COUNT(*) of the join equals
    SUM of per-key counts because o_orderkey is unique; the revenue
    regroup is exact because DECIMAL addition is order-free. Bit-equal
    (interleaved A/B at sf0.1), time-neutral locally — the win is
    shuffle bytes at scale, per the agg_join_size_sketch lesson applied
    correctly this time: the pre-agg hangs off the exchange the join
    needed ANYWAY (map-side partials), it does not add a new one."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "P")
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    lag = li.groupBy("l_orderkey").agg(
        F.count("*").alias("ln_cnt"),
        F.expr(f"SUM({REVENUE_EXPR})").alias("rev_part"),
    )
    return (
        lag.join(o, lag.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "c_mktsegment")
        .agg(
            F.sum("ln_cnt").alias("line_cnt"),
            F.expr("CAST(SUM(rev_part) AS DOUBLE)").alias("revenue"),
        )
    )


_SUBQ_CORR_SQL = """
    SELECT c_custkey, c_nationkey, c_acctbal
    FROM {customer} c
    WHERE CAST(c_acctbal AS DECIMAL(18,2)) *
          (SELECT COUNT(*) FROM {customer} c2
           WHERE c2.c_nationkey = c.c_nationkey)
        > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) FROM {customer} c2
           WHERE c2.c_nationkey = c.c_nationkey)
"""


@query("subquery_scalar_corr", oracle=_SUBQ_CORR_SQL.format(customer="customer"))
def subquery_scalar_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subqueries: customers above their nation's mean
    balance, written as SQL so Catalyst's decorrelation does the work —
    RewriteCorrelatedScalarSubquery turns each per-row subquery into ONE
    grouped aggregate joined back on the correlation key (test_plans
    asserts: Aggregate + join, no per-row re-execution, no cartesian).

    Determinism: the mean comparison avoids division entirely
    (balance * count > sum, all exact DECIMAL), so the threshold is
    bit-identical across engines — no float-summation-order hazard.
    """
    T(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    return spark.sql(_SUBQ_CORR_SQL.format(customer="customer_v"))


@query(
    "join_nullsafe",
    oracle="""
    WITH l AS (SELECT event_id, NULLIF(event_type, 'click') AS k FROM events),
    d AS (SELECT DISTINCT NULLIF(event_type, 'click') AS k FROM events),
    d2 AS (SELECT k, 'type=' || COALESCE(k, '(null)') AS label FROM d)
    SELECT l.event_id, d2.label
    FROM l JOIN d2 ON l.k IS NOT DISTINCT FROM d2.k
    """,
)
def join_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    match NULL keys instead of silently dropping, the semantics Postgres
    spells IS NOT DISTINCT FROM. The key is NULLIF-derived so a fifth of
    the rows genuinely carry NULL — a plain inner equi-join would lose
    them, making the match evidential, not vacuous.

    Scale: Catalyst canonicalizes EqualNullSafe into a hashable key
    (coalesce + null flag), so this stays a broadcast/shuffled HASH join —
    never a nested loop — and the tiny derived dim is broadcast."""
    ev = T(spark, sf_dir, "events")
    lhs = ev.select("event_id", F.expr("nullif(event_type, 'click')").alias("k"))
    dim = (
        lhs.select("k")
        .distinct()
        .select(
            F.col("k").alias("dk"),
            F.concat(F.lit("type="), F.coalesce(F.col("k"), F.lit("(null)"))).alias("label"),
        )
    )
    return (
        lhs.join(F.broadcast(dim), F.col("k").eqNullSafe(F.col("dk")))
        .select("event_id", "label")
    )


@query(
    "join_point_in_time",
    oracle="""
    WITH dim AS (
      SELECT o_custkey, o_orderkey, o_orderstatus,
             CAST(FLOOR(EXTRACT(epoch FROM o_orderdate)) AS BIGINT) AS vfrom
      FROM orders WHERE o_custkey < 500
    ),
    fact AS (
      SELECT DISTINCT l.l_orderkey, l.l_linenumber, o.o_custkey,
             CAST(FLOOR(EXTRACT(epoch FROM l.l_shipdate)) AS BIGINT) AS ship_sec
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_custkey < 500
    ),
    pit AS (
      SELECT f.l_orderkey, f.l_linenumber, f.o_custkey, f.ship_sec,
             d.o_orderkey AS version_key, d.o_orderstatus AS status_at_ship,
             ROW_NUMBER() OVER (
               PARTITION BY f.l_orderkey, f.l_linenumber, f.ship_sec
               ORDER BY d.vfrom DESC, d.o_orderkey DESC) AS rn
      FROM fact f JOIN dim d
        ON f.o_custkey = d.o_custkey AND d.vfrom <= f.ship_sec
    )
    SELECT l_orderkey, l_linenumber, o_custkey, ship_sec,
           version_key, status_at_ship
    FROM pit WHERE rn = 1
    """,
)
def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) join (#23 cont.): each shipment fact gets the
    customer's dimension version that was VALID AT SHIP TIME — the
    temporal-correctness join feature stores and warehouse audits demand
    (joining is_current instead silently leaks the future into training
    features). The dim is the SCD2 status timeline (etl_scd2_history's
    intervals, where valid_to = next valid_from, so latest-at-or-before
    == interval containment); the fact is every lineitem at its ship
    date. Spark side = the union+window asof formulation (one shuffle on
    the entity key, one ordered pass — never the per-pair inequality
    join the oracle can afford at sf); ties break toward the newest
    version by (vfrom, version_key), both engines."""
    from pyspark.sql.window import Window

    from .asof import asof_join
    from ..sources.tables import T as _tbl

    o = _tbl(spark, sf_dir, "orders").filter(F.col("o_custkey") < 500)
    dim = o.select(
        "o_custkey",
        F.col("o_orderkey").alias("version_key"),
        F.col("o_orderstatus").alias("status_at_ship"),
        F.unix_seconds(F.col("o_orderdate").cast("timestamp")).alias("vfrom"),
    )
    # within-second version ties resolve to the max version_key: pre-pick
    # the winner per (custkey, vfrom) so the asof carry sees one candidate
    dim1 = (
        dim.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("o_custkey", "vfrom").orderBy(F.desc("version_key"))
            ),
        )
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    li = _tbl(spark, sf_dir, "lineitem")
    fact = (
        li.join(o.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .select(
            "l_orderkey",
            "l_linenumber",
            "o_custkey",
            F.unix_seconds(F.col("l_shipdate").cast("timestamp")).alias("ship_sec"),
        )
        # (orderkey, linenumber) is NOT unique in this synthetic corpus
        # (60000 rows / 45832 distinct pairs) — dedup the full fact tuple
        # so the PIT result is keyed identically in both engines
        .distinct()
    )
    return asof_join(
        fact,
        dim1,
        on=["o_custkey"],
        left_ts="ship_sec",
        right_ts="vfrom",
        right_cols=["version_key", "status_at_ship"],
        how="inner",
    ).select(
        "l_orderkey",
        "l_linenumber",
        "o_custkey",
        "ship_sec",
        F.col("r_version_key").alias("version_key"),
        F.col("r_status_at_ship").alias("status_at_ship"),
    )


_GEO_M = 1000000  # synthetic planar coordinate space: [0, 1e6)^2
# Grid cell width is DENSITY-SCALED: cells_per_axis = floor(sqrt(n/4)) puts
# ~4 suppliers in a cell at every corpus size, so a 3x3 neighborhood holds
# ~36 candidates whether the table has 100 suppliers or 100 billion — a
# FIXED grid would grow candidates quadratically with scale (measured 11.5x
# wall at 10x data before this). Integer arithmetic on a count, identical
# in both engines; sqrt/floor are exact here (IEEE double, n < 2^52).
_GEO_CELL_SQL = f"CAST(ceil({_GEO_M} / greatest(1.0, floor(sqrt(count(*) / 4.0)))) AS BIGINT)"


def _geo_cell(n_supp: int) -> int:
    import math

    return int(math.ceil(_GEO_M / max(1.0, math.floor(math.sqrt(n_supp / 4.0)))))


def _geo_coord_sql(tag: str, key: str) -> str:
    return f"('0x' || substr(md5('{tag}-' || CAST({key} AS VARCHAR)), 1, 6))::BIGINT % {_GEO_M}"


@query(
    "join_geo_grid_nearest",
    oracle=f"""
    WITH params AS (SELECT {_GEO_CELL_SQL} AS cell FROM supplier),
    cust AS (
      SELECT c_custkey,
             {_geo_coord_sql('lat', 'c_custkey')} AS cx,
             {_geo_coord_sql('lon', 'c_custkey')} AS cy
      FROM customer
    ),
    supp AS (
      SELECT s_suppkey,
             {_geo_coord_sql('lat', 's_suppkey')} AS sx,
             {_geo_coord_sql('lon', 's_suppkey')} AS sy
      FROM supplier
    ),
    offs AS (SELECT UNNEST(range(-1, 2)) AS dx),
    supp9 AS (
      SELECT s.s_suppkey, s.sx, s.sy,
             s.sx // p.cell + ox.dx AS gx,
             s.sy // p.cell + oy.dx AS gy
      FROM supp s CROSS JOIN params p CROSS JOIN offs ox CROSS JOIN offs oy
    ),
    cand AS (
      SELECT c.c_custkey, s.s_suppkey,
             (c.cx - s.sx) * (c.cx - s.sx) + (c.cy - s.sy) * (c.cy - s.sy) AS d2
      FROM cust c CROSS JOIN params p
      JOIN supp9 s ON c.cx // p.cell = s.gx AND c.cy // p.cell = s.gy
    )
    SELECT c_custkey,
           CAST(MIN(d2 * 1048576 + s_suppkey) % 1048576 AS BIGINT) AS s_suppkey,
           CAST(MIN(d2 * 1048576 + s_suppkey) // 1048576 AS BIGINT) AS d2
    FROM cand GROUP BY c_custkey
    """,
)
def join_geo_grid_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-blocked spatial nearest-neighbor join (#22 cont.): each
    customer point finds its closest supplier point, candidates limited
    to the 3x3 grid neighborhood around the customer's cell — the
    bucketized spatial-join pattern (geohash/S2/H3 cells at production
    scale) that turns an O(n*m) all-pairs distance join into a per-cell
    equi-join.

    Coordinates are md5-derived synthetic planar integers (a real
    pipeline pre-projects lat/lon); distances are exact BIGINT squared
    euclidean — no floats anywhere, so the winner and its tie-break
    (s_suppkey) are bit-deterministic on both engines. The supplier side
    replicates 9x into neighbor cells BEFORE the join (replicate the
    small side, never re-shuffle the big side per offset) and is
    broadcast; the per-customer argmin is MIN(struct(d2, key)) — a
    hash aggregate with map-side partial combine, so candidate rows
    reduce before any shuffle (a ranked window here would sort the full
    candidate set: measured 3.9 s -> this shape at sf0.1). A customer
    whose neighborhood holds no supplier drops out (guarantee radius =
    one cell width). Cell width is derived from the supplier count
    (cells_per_axis = floor(sqrt(n/4)), ~4 points per cell at ANY scale):
    the one-row count probe is the same O(1) driver pattern as the JDBC
    partition-bounds probe, and it is what keeps the per-neighborhood
    candidate set O(1) — a fixed grid measured 11.5x wall at 10x data."""
    c = T(spark, sf_dir, "customer")
    s = T(spark, sf_dir, "supplier")
    cell = _geo_cell(s.count())

    def coord(tag: str, key: str) -> F.Column:
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{tag}-"), F.col(key).cast("string"))), 1, 6),
                16,
                10,
            ).cast("bigint")
            % _GEO_M
        )

    cust = c.select("c_custkey", coord("lat", "c_custkey").alias("cx"),
                    coord("lon", "c_custkey").alias("cy"))
    supp = s.select("s_suppkey", coord("lat", "s_suppkey").alias("sx"),
                    coord("lon", "s_suppkey").alias("sy"))
    offs = spark.range(-1, 2).select(F.col("id").cast("bigint").alias("d"))
    supp9 = (
        supp.crossJoin(F.broadcast(offs.select(F.col("d").alias("dx"))))
        .crossJoin(F.broadcast(offs.select(F.col("d").alias("dy"))))
        .select(
            "s_suppkey",
            "sx",
            "sy",
            (F.floor(F.col("sx") / cell) + F.col("dx")).alias("gx"),
            (F.floor(F.col("sy") / cell) + F.col("dy")).alias("gy"),
        )
    )
    d2 = (F.col("cx") - F.col("sx")) * (F.col("cx") - F.col("sx")) + (
        F.col("cy") - F.col("sy")
    ) * (F.col("cy") - F.col("sy"))
    cand = (
        cust.withColumn("gx", F.floor(F.col("cx") / cell))
        .withColumn("gy", F.floor(F.col("cy") / cell))
        .join(F.broadcast(supp9), ["gx", "gy"])
        .withColumn("d2", d2.cast("bigint"))
    )
    # argmin as ONE packed-BIGINT MIN (d2 < 2e12, key < 2^20 here: the
    # pack is lossless and orders by (d2, key)): a plain hash aggregate
    # with map-side partial combine — candidates reduce before the
    # shuffle, where a ranked window would sort the full candidate set.
    best = cand.groupBy("c_custkey").agg(
        F.min(F.col("d2") * 1048576 + F.col("s_suppkey")).alias("pk")
    )
    return best.select(
        "c_custkey",
        (F.col("pk") % 1048576).alias("s_suppkey"),
        # integer `div`, never float division: pk can exceed 2^53, where
        # a double quotient rounds and floor() would mis-split the pack
        F.expr("pk div 1048576").alias("d2"),
    )


# The counted co-order part-pair table (pa < pb, basket-blocked counts) is
# the shared substrate of the market-basket ops: x_rec_item_cooccurrence
# scores its existing edges, x_graph_link_prediction predicts its missing
# ones. Built once per (session, sf) — the self-join over order baskets is
# the dominant cost of both queries (at 100 TB this is the pair table a
# pipeline materializes next to the fact table).
def order_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        items = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
        a = items.select("l_orderkey", F.col("l_partkey").alias("pa"))
        b = items.select("l_orderkey", F.col("l_partkey").alias("pb"))
        return (
            a.join(b, "l_orderkey")
            .filter(F.col("pa") < F.col("pb"))
            .groupBy("pa", "pb")
            .agg(F.count("*").alias("c"))
            .localCheckpoint()
        )

    return session_cache_get(spark, sf_dir, "joins.order_pairs", build)


@query(
    "x_rec_item_cooccurrence",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items),
    freq AS (SELECT l_partkey, COUNT(*) AS cnt FROM items GROUP BY l_partkey),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS cnt_ab
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT p.part_a, p.part_b, p.cnt_ab,
           CAST(p.cnt_ab * n.n_orders AS DOUBLE) / (fa.cnt * fb.cnt) AS lift
    FROM pairs p
    JOIN freq fa ON p.part_a = fa.l_partkey
    JOIN freq fb ON p.part_b = fb.l_partkey
    CROSS JOIN n
    WHERE p.cnt_ab >= 2
    """,
)
def x_rec_item_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket item co-occurrence with lift (#24 cont.): parts
    bought together in one order, scored by lift = P(ab)/(P(a)P(b)) —
    the association-rule / item-item collaborative-filtering primitive
    ('customers who bought X also bought Y').

    The pair join is blocked by basket: candidates are generated within
    an order only (~4 items here -> ~6 pairs per basket), so pair count
    grows linearly in orders, never |items|^2 — the same
    bounded-blocking discipline as the dedup tier, with the basket as
    the natural block. Lift finishes as one divide of exact integers
    (cnt_ab * n_orders exact BIGINT, frequencies exact); the min-support
    filter (cnt_ab >= 2) is what production pushes INTO the pair
    aggregation at 100 TB to keep the long tail off the shuffle."""
    li = T(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    n = items.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    freq = items.groupBy("l_partkey").agg(F.count("*").alias("cnt"))
    pairs = (
        order_part_pairs(spark, sf_dir)
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            F.col("c").alias("cnt_ab"),
        )
        .filter(F.col("cnt_ab") >= 2)
    )
    fa = freq.select(F.col("l_partkey").alias("part_a"), F.col("cnt").alias("cnt_a"))
    fb = freq.select(F.col("l_partkey").alias("part_b"), F.col("cnt").alias("cnt_b"))
    return (
        pairs.join(fa, "part_a")
        .join(fb, "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "cnt_ab",
            (
                (F.col("cnt_ab") * F.col("n_orders")).cast("double")
                / (F.col("cnt_a") * F.col("cnt_b"))
            ).alias("lift"),
        )
    )


_IV_GRID = 600  # seconds per blocking cell for the interval-overlap join


@query(
    "join_interval_overlap",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_id, {_EV_SEC} AS s FROM events
    ),
    f AS (
      SELECT user_id, event_id, s,
             CASE WHEN s - LAG(s) OVER (PARTITION BY user_id
                                        ORDER BY s, event_id) > 1800
                  THEN 1 ELSE 0 END AS ns
      FROM ev
    ),
    se AS (
      SELECT user_id, s,
             CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY s, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
      FROM f
    ),
    iv AS (
      SELECT user_id, sid, MIN(s) AS t_start, MAX(s) AS t_end
      FROM se GROUP BY user_id, sid
    ),
    top AS (
      SELECT user_id, sid, t_start, t_end, t_end - t_start AS duration_sec
      FROM iv
      ORDER BY t_end - t_start DESC, user_id, sid LIMIT 20
    )
    SELECT a.user_id, a.sid AS session_id, a.t_start, a.t_end, a.duration_sec,
           COUNT(*) AS n_overlap_sessions,
           COUNT(DISTINCT b.user_id) AS n_overlap_users
    FROM top a JOIN iv b
      ON b.t_start <= a.t_end AND b.t_end >= a.t_start
     AND NOT (b.user_id = a.user_id AND b.sid = a.sid)
    GROUP BY a.user_id, a.sid, a.t_start, a.t_end, a.duration_sec
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join with time-grid blocking (#22 cont.): for the
    20 longest user sessions, count every other session whose [start, end]
    interval overlaps theirs.

    join_range/join_asof cover point-in-interval; THIS is the
    interval-x-interval case, and the scale shape is grid blocking: each
    interval explodes to the 600 s cells it covers (sequence()/explode —
    cells-per-interval is bounded by duration/grid), the join equates
    cells, pair duplicates collapse with distinct, and the exact overlap
    predicate re-verifies survivors — candidate generation is an equi-join
    a shuffle can partition on cell, never the O(n^2) theta-join a naive
    BETWEEN formulation plans (NestedLoop asserted absent). The oracle
    states the same result as the naive predicate, proving the blocking
    loses no pair (an interval pair that overlaps always shares at least
    one grid cell)."""
    from pyspark.sql.window import Window

    ev = events_ts(spark, sf_dir).select("user_id", "event_id", "ts_sec")
    wlag = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    wsum = wlag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    new_sess = F.when(
        F.col("ts_sec") - F.lag("ts_sec").over(wlag) > 1800, 1
    ).otherwise(0)
    # Materialize the session table once: its two consumers (the global
    # top-20 and the probe side of the cell join) otherwise each re-run
    # the events scan + sessionize window — the plan showed the Window
    # chain and FileScan twice, once under the broadcast arm and once on
    # the probe side (no cross-branch CSE for non-identical exchanges).
    # One events pass per call; the checkpointed table is session-grain,
    # ~|events| / session-length rows.
    iv = (
        ev.withColumn("sid", F.sum(new_sess).over(wsum))
        .groupBy("user_id", "sid")
        .agg(F.min("ts_sec").alias("t_start"), F.max("ts_sec").alias("t_end"))
        .localCheckpoint()
    )
    top = (
        iv.withColumn("duration_sec", F.col("t_end") - F.col("t_start"))
        .orderBy(F.desc("duration_sec"), "user_id", "sid")
        .limit(20)
    )
    cells = F.explode(
        F.sequence(
            F.floor(F.col("t_start") / _IV_GRID), F.floor(F.col("t_end") / _IV_GRID)
        )
    ).alias("cell")
    a_cells = top.select(
        F.col("user_id").alias("a_user"), F.col("sid").alias("a_sid"),
        F.col("t_start").alias("a_start"), F.col("t_end").alias("a_end"),
        F.col("duration_sec").alias("a_dur"), cells,
    )
    b_cells = iv.select(
        F.col("user_id").alias("b_user"), F.col("sid").alias("b_sid"),
        F.col("t_start").alias("b_start"), F.col("t_end").alias("b_end"), cells,
    )
    pairs = (
        a_cells.join(b_cells, "cell")
        .filter(
            (F.col("b_start") <= F.col("a_end"))
            & (F.col("b_end") >= F.col("a_start"))
            & ~((F.col("b_user") == F.col("a_user")) & (F.col("b_sid") == F.col("a_sid")))
        )
        .select(
            "a_user", "a_sid", "a_start", "a_end", "a_dur", "b_user", "b_sid"
        )
        .distinct()
    )
    return pairs.groupBy(
        F.col("a_user").alias("user_id"), F.col("a_sid").alias("session_id"),
        F.col("a_start").alias("t_start"), F.col("a_end").alias("t_end"),
        F.col("a_dur").alias("duration_sec"),
    ).agg(
        F.count("*").alias("n_overlap_sessions"),
        F.countDistinct("b_user").alias("n_overlap_users"),
    )


# Fixed bitemporal probe grid: (valid-as-of V, known-as-of T). T before,
# at, and well after V exercises all three late-arrival regimes.
_BITEMPORAL_PROBES = (
    (1, "1998-01-01", "1998-01-01"),
    (2, "1998-01-01", "1999-06-01"),
    (3, "2000-01-01", "2000-01-03"),
)


@query(
    "join_bitemporal",
    oracle=f"""
    WITH probes(probe_id, v_date, t_date) AS (
      VALUES {", ".join(f"({p}, DATE '{v}', DATE '{t}')" for p, v, t in _BITEMPORAL_PROBES)}
    ),
    versions AS (
      SELECT o_custkey,
             CAST(o_orderdate AS DATE) AS valid_from,
             CAST(o_orderdate AS DATE) + CAST(o_orderkey % 5 AS INTEGER)
               AS tx_date,
             o_orderkey AS version_key
      FROM orders
    ),
    hits AS (
      SELECT p.probe_id, p.v_date, p.t_date, v.o_custkey,
             v.version_key, v.valid_from, v.tx_date,
             ROW_NUMBER() OVER (PARTITION BY p.probe_id, v.o_custkey
                                ORDER BY v.valid_from DESC, v.tx_date DESC,
                                         v.version_key DESC) AS rn
      FROM probes p JOIN versions v
        ON v.valid_from <= p.v_date AND v.tx_date <= p.t_date
    )
    SELECT probe_id,
           CAST(v_date AS VARCHAR) AS v_date,
           CAST(t_date AS VARCHAR) AS t_date,
           o_custkey, version_key,
           CAST(valid_from AS VARCHAR) AS valid_from,
           CAST(date_diff('day', valid_from, tx_date) AS BIGINT)
             AS days_late
    FROM hits WHERE rn = 1
    """,
)
def join_bitemporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal point lookup (#23/#94 cont.): 'what was each customer's
    current version as of valid time V, as the warehouse KNEW it at
    transaction time T' — the audit/backfill query a bitemporal
    warehouse answers without rewriting history. Versions are derived
    from orders (valid_from = order date; tx_date simulates late
    recording by orderkey % 5 days), probed at a fixed (V, T) grid
    covering as-of-now, long-settled, and mid-settlement regimes.

    Shape: the 3-row probe grid broadcasts against the version table
    (never the reverse); resolution is the standard bitemporal argmax —
    latest valid_from, tie-broken by latest tx_date then version key, as
    ONE row_number over the (probe, custkey) partition. At 100 TB this
    is a broadcast-join + one custkey-partitioned window: no
    version-x-version self-join, no interval explosion."""
    from pyspark.sql.window import Window

    probes = spark.createDataFrame(
        [(p, v, t) for p, v, t in _BITEMPORAL_PROBES],
        "probe_id INT, v_date STRING, t_date STRING",
    ).select(
        "probe_id",
        F.col("v_date").cast("date").alias("v_date"),
        F.col("t_date").cast("date").alias("t_date"),
    )
    versions = T(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("valid_from"),
        F.date_add(
            F.to_date("o_orderdate"), (F.col("o_orderkey") % 5).cast("int")
        ).alias("tx_date"),
        F.col("o_orderkey").alias("version_key"),
    )
    hits = versions.join(
        F.broadcast(probes),
        (F.col("valid_from") <= F.col("v_date"))
        & (F.col("tx_date") <= F.col("t_date")),
    )
    # Bitemporal argmax as max_by instead of a row_number window (guide
    # §2.2): the window form dragged every hit row (with its formatted
    # date strings) through a sort exchange; max_by partial-aggregates
    # map-side, so only one candidate row per (probe, custkey) rides the
    # shuffle and the date formatting runs on survivors only. The DESC
    # (valid_from, tx_date, version_key) order is exactly the struct MAX
    # (version_key is unique, so no tie exists for max_by to break).
    payload = F.struct(
        F.date_format("v_date", "yyyy-MM-dd").alias("v_date"),
        F.date_format("t_date", "yyyy-MM-dd").alias("t_date"),
        F.col("version_key").alias("version_key"),
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
        F.datediff("tx_date", "valid_from").cast("bigint").alias("days_late"),
    )
    ordk = F.struct(F.col("valid_from"), F.col("tx_date"), F.col("version_key"))
    return (
        hits.groupBy("probe_id", "o_custkey")
        .agg(F.max_by(payload, ordk).alias("p"))
        .select(
            "probe_id",
            "p.v_date",
            "p.t_date",
            "o_custkey",
            "p.version_key",
            "p.valid_from",
            "p.days_late",
        )
    )
