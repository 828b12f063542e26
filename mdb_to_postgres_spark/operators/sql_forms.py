"""SQL-text entry point (SURVEY.md §3.2 E2): the classic decision-support
query shapes run as ONE ANSI SQL string that is simultaneously the Spark
query (``spark.sql`` over temp views of the corpus tables) and the DuckDB
oracle — the strongest possible parity statement, since there is no
translation step left to get wrong.

Dialect discipline: timestamp literals, DECIMAL casts, and the exact
decimal revenue/charge fragments (functions/compat.py) are the ANSI subset
both engines parse identically; every aggregate is decimal-accumulated and
cast to DOUBLE at the end so float summation order cannot diverge.

Scale notes (same plans a 100 TB run wants):
- Q1 shape: single scan + partial/final HashAggregate on a 6-group key.
- Q3 shape: segment-filtered customer dim broadcasts into orders, the
  join result shuffles once on orderkey against lineitem; top-10 is
  TakeOrderedAndProject (no global sort).
- Q5 shape: region/nation/supplier dims broadcast; the two fact tables
  meet on one orderkey shuffle; final agg is per-nation (25 groups).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources.tables import T
from ..functions.compat import REVENUE_EXPR, CHARGE_EXPR

_D = "DECIMAL(18,2)"


def _views(spark: SparkSession, sf_dir: str, tables: list[str]) -> None:
    for t in tables:
        T(spark, sf_dir, t).createOrReplaceTempView(t)


_Q1 = f"""
    SELECT l_returnflag,
           l_linestatus,
           CAST(SUM(CAST(l_quantity AS {_D})) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS {_D})) AS DOUBLE) AS sum_base_price,
           CAST(SUM({REVENUE_EXPR}) AS DOUBLE) AS sum_disc_price,
           CAST(SUM({CHARGE_EXPR}) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS {_D})) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS {_D})) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
           CAST(SUM(CAST(l_discount AS {_D})) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
"""


@query("sql_q1_pricing_summary", oracle=_Q1)
def sql_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape through the SQL entry point: the oracle string IS the
    executed query."""
    _views(spark, sf_dir, ["lineitem"])
    return spark.sql(_Q1)


def _rev(alias: str) -> str:
    return REVENUE_EXPR.replace("l_extendedprice", f"{alias}.l_extendedprice").replace(
        "l_discount", f"{alias}.l_discount"
    )


_Q3 = f"""
    SELECT l.l_orderkey,
           CAST(SUM({_rev('l')}) AS DOUBLE) AS revenue,
           o.o_orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
"""


@query("sql_q3_shipping_priority", oracle=_Q3)
def sql_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (top unshipped orders by revenue) through the SQL
    entry point; deterministic orderkey tiebreak under LIMIT."""
    _views(spark, sf_dir, ["customer", "orders", "lineitem"])
    return spark.sql(_Q3)


_Q5 = f"""
    SELECT n.n_name,
           CAST(SUM({_rev('l')}) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
"""


@query("sql_q5_local_supplier_volume", oracle=_Q5)
def sql_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (regional same-nation supplier revenue) through the
    SQL entry point: three broadcast dims + one fact-fact shuffle."""
    _views(
        spark, sf_dir,
        ["customer", "orders", "lineitem", "supplier", "nation", "region"],
    )
    return spark.sql(_Q5)


_Q10 = f"""
    SELECT c.c_custkey,
           c.c_name,
           CAST(SUM({_rev('l')}) AS DOUBLE) AS revenue,
           c.c_acctbal,
           n.n_name,
           c.c_mktsegment
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name, c.c_mktsegment
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
"""


@query("sql_q10_returned_items", oracle=_Q10)
def sql_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (top customers by returned-item revenue) through the
    SQL entry point; top-20 with deterministic custkey tiebreak."""
    _views(spark, sf_dir, ["customer", "orders", "lineitem", "nation"])
    return spark.sql(_Q10)


_Q18 = f"""
    SELECT c.c_name,
           c.c_custkey,
           o.o_orderkey,
           o.o_orderdate,
           CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(SUM(CAST(l.l_quantity AS {_D})) AS DOUBLE) AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING CAST(SUM(CAST(l_quantity AS {_D})) AS DOUBLE) > 300
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
"""


@query("sql_q18_large_orders", oracle=_Q18)
def sql_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (customers behind very large orders): IN-subquery
    with HAVING over the fact table, decorrelated by Catalyst into a
    semi-join against the pre-aggregated orderkeys."""
    _views(spark, sf_dir, ["customer", "orders", "lineitem"])
    return spark.sql(_Q18)


_Q6 = f"""
    SELECT CAST(SUM(CAST(l_extendedprice AS {_D}) * CAST(l_discount AS {_D}))
                AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
"""


@query("sql_q6_forecast_revenue", oracle=_Q6)
def sql_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan+filter+global agg — every predicate must
    reach the parquet reader (plan test asserts shipdate/quantity in
    PushedFilters), so at 100 TB the scan reads only the year's row
    groups. No shuffle at all: partial sums merge in one final stage."""
    _views(spark, sf_dir, ["lineitem"])
    return spark.sql(_Q6)


_Q14 = f"""
    SELECT CAST(100.00 * SUM(CASE WHEN p_type = 'PROMO'
                                  THEN CAST(l_extendedprice AS {_D})
                                       * (1 - CAST(l_discount AS {_D}))
                                  ELSE CAST(0 AS {_D}) END) AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice AS {_D})
                      * (1 - CAST(l_discount AS {_D}))) AS DOUBLE)
             AS promo_revenue_pct
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
"""


@query("sql_q14_promo_effect", oracle=_Q14)
def sql_q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: month-filtered fact joins the part dim (broadcast
    at any realistic dim/fact ratio), conditional decimal sums, one final
    divide — decimal accumulation keeps the ratio order-independent."""
    _views(spark, sf_dir, ["lineitem", "part"])
    return spark.sql(_Q14)


_Q16 = """
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#13'
      AND p_type NOT IN ('PROMO', 'ECONOMY')
      AND p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
"""


@query("sql_q16_supplier_parts", oracle=_Q16)
def sql_q16_supplier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT IN anti-subquery against the supplier dim
    (null-aware anti-join — Catalyst plans a broadcast NAAJ since the
    subquery side is dim-sized), IN-list + inequality dim filters, and a
    grouped COUNT(DISTINCT) whose expand shuffles only the surviving
    join output."""
    _views(spark, sf_dir, ["lineitem", "part", "supplier"])
    return spark.sql(_Q16)


_Q19 = f"""
    SELECT CAST(SUM(CAST(l_extendedprice AS {_D})
                    * (1 - CAST(l_discount AS {_D}))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
           AND l_quantity >= 20 AND l_quantity <= 30)
"""


@query("sql_q19_discounted_revenue", oracle=_Q19)
def sql_q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive mixed-table predicates over an
    equi-join. The join key stays an equi-join (hash/broadcast) with the
    OR-of-conjunctions as a residual filter — never a nested loop; the
    single-table arms of the disjunction (quantity ranges, brand/size)
    still prune at each scan."""
    _views(spark, sf_dir, ["lineitem", "part"])
    return spark.sql(_Q19)

# ----------------------------------------------------------------------
# Round-4 widening: the remaining classic decision-support shapes, adapted
# to the corpus's reduced schema (no partsupp table, no commit/receipt
# dates, no phone column — each adaptation keeps the ORIGINAL query's plan
# shape: the correlated/EXISTS/semi-join structure is the point, not the
# exact column set).


_Q2 = """
    SELECT DISTINCT p.p_partkey, p.p_name, s.s_suppkey, s.s_name,
           CAST(l.l_extendedprice AS DOUBLE) AS supply_price
    FROM part p
    JOIN lineitem l ON l.l_partkey = p.p_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE p.p_size = 25 AND p.p_type = 'STANDARD'
      AND l.l_extendedprice = (SELECT MIN(l2.l_extendedprice) FROM lineitem l2
                               WHERE l2.l_partkey = p.p_partkey)
"""


@query("sql_q2_min_cost_supplier", oracle=_Q2)
def sql_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier), adapted: with no partsupp
    table, lineitem is the supply relation and extendedprice the cost. The
    load-bearing structure survives — a correlated scalar MIN subquery per
    part, decorrelated by Catalyst into an aggregate + self-join on
    partkey (no per-row re-execution); dim filters prune the part scan."""
    _views(spark, sf_dir, ["part", "lineitem", "supplier"])
    return spark.sql(_Q2)


_Q4 = """
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY o.o_orderpriority
"""


@query("sql_q4_order_priority", oracle=_Q4)
def sql_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking), adapted: the late-line
    predicate (commitdate < receiptdate, columns absent) becomes a
    returned-line predicate. Correlated EXISTS plans as a LEFT SEMI join
    on orderkey — the quarter filter prunes the orders scan first, so the
    semi-join probe side is one quarter of the fact, not all of it."""
    _views(spark, sf_dir, ["orders", "lineitem"])
    return spark.sql(_Q4)


_Q7 = f"""
    SELECT supp_nation, cust_nation, l_year, CAST(SUM(volume) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
             {_rev('l')} AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
          OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
        AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
"""


@query("sql_q7_volume_shipping", oracle=_Q7)
def sql_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (bilateral trade volume by year): both nation dims
    broadcast; the nation-pair disjunction is a residual on the joins, and
    the two-year shipdate band prunes the fact scan. Grouping key is
    (nation, nation, year) — tiny output at any scale."""
    _views(spark, sf_dir, ["supplier", "lineitem", "orders", "customer", "nation"])
    return spark.sql(_Q7)


_Q8 = f"""
    SELECT o_year,
           CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
           / CAST(SUM(volume) AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
             {_rev('l')} AS volume, n2.n_name AS nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      JOIN region r ON n1.n_regionkey = r.r_regionkey
      JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'EUROPE' AND p.p_type = 'ECONOMY'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    ) all_nations
    GROUP BY o_year
"""


@query("sql_q8_market_share", oracle=_Q8)
def sql_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): seven-table star with both
    customer-side (region gate) and supplier-side (share numerator) nation
    roles; conditional decimal sums keep the share ratio exact until the
    final divide."""
    _views(
        spark, sf_dir,
        ["part", "lineitem", "supplier", "orders", "customer", "nation", "region"],
    )
    return spark.sql(_Q8)


_Q9 = f"""
    SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_margin
    FROM (
      SELECT n.n_name AS nation,
             CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
             {_rev('l')}
             - CAST(p.p_retailprice AS DECIMAL(18,2)) * CAST(l.l_quantity AS DECIMAL(18,2)) AS amount
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE p.p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
"""


@query("sql_q9_product_margin", oracle=_Q9)
def sql_q9_product_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit), adapted: with no
    ps_supplycost, margin = revenue - retailprice*quantity. Keeps the
    infix-LIKE part filter (StringContains pushdown), the five-table join
    tree, and the (nation, year) rollup of a per-line decimal amount."""
    _views(spark, sf_dir, ["part", "lineitem", "supplier", "orders", "nation"])
    return spark.sql(_Q9)


_Q12 = """
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_returnflag = 'R'
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l.l_linestatus
"""


@query("sql_q12_priority_lines", oracle=_Q12)
def sql_q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-mode priority split), adapted: shipmode/
    commit-vs-receipt (columns absent) become returnflag + priority-class
    pivot. The orders join carries only the priority column; conditional
    integer counts pivot without a second scan."""
    _views(spark, sf_dir, ["orders", "lineitem"])
    return spark.sql(_Q12)


_Q13 = """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT OUTER JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
"""


@query("sql_q13_customer_distribution", oracle=_Q13)
def sql_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
    join with an ON-clause filter (must stay in the join condition, not a
    WHERE — zero-order customers survive), double aggregation custkey ->
    count -> histogram."""
    _views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(_Q13)


_Q15 = f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no, SUM({REVENUE_EXPR}) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, CAST(r.total_revenue AS DOUBLE) AS total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


@query("sql_q15_top_supplier", oracle=_Q15)
def sql_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier via revenue view): the CTE stands in
    for the original CREATE VIEW; the scalar MAX subquery re-reads the CTE
    (both engines evaluate it once and broadcast the scalar). Decimal
    accumulation makes the equality against MAX exact — safe in a way
    float totals never would be."""
    _views(spark, sf_dir, ["supplier", "lineitem"])
    return spark.sql(_Q15)


_Q17 = """
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23' AND p.p_type = 'MEDIUM'
      AND l.l_quantity < (SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                                        / COUNT(l2.l_quantity))
                          FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
"""


@query("sql_q17_small_quantity_revenue", oracle=_Q17)
def sql_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): correlated scalar
    AVG per part, decorrelated into a partkey aggregate joined back to the
    filtered fact. The 0.2*avg threshold is computed as exact-sum/count in
    DOUBLE so both engines perform identical IEEE ops."""
    _views(spark, sf_dir, ["lineitem", "part"])
    return spark.sql(_Q17)


_Q20 = """
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
        SELECT l.l_suppkey FROM lineitem l
        WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
          AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l.l_suppkey
        HAVING CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 100.0
      )
      AND s.s_nationkey IN (SELECT n_nationkey FROM nation
                            WHERE n_name IN ('NATION_1','NATION_2','NATION_3','NATION_4'))
"""


@query("sql_q20_part_suppliers", oracle=_Q20)
def sql_q20_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (suppliers with significant stock of matching
    parts), adapted: lineitem stands in for partsupp as the supply
    relation (as Q16's adaptation does). Nested IN chain: prefix-LIKE part
    filter (StringStartsWith pushdown) feeds a grouped HAVING semi-join,
    intersected with a broadcast nation semi-join."""
    _views(spark, sf_dir, ["supplier", "lineitem", "part", "nation"])
    return spark.sql(_Q20)


_Q21 = """
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
"""


@query("sql_q21_waiting_supplier", oracle=_Q21)
def sql_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting), adapted to
    returnflag as the fault marker: the sole-at-fault supplier in
    multi-supplier finished orders. The EXISTS and NOT EXISTS both
    correlate on (orderkey, <> suppkey) — one LEFT SEMI and one LEFT ANTI
    join against the same fact, the classic double-correlation plan."""
    _views(spark, sf_dir, ["supplier", "lineitem", "orders"])
    return spark.sql(_Q21)


_Q22 = """
    SELECT cntrycode, COUNT(*) AS numcust,
           CAST(SUM(CAST(acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM (
      SELECT substring(c.c_name, 16, 2) AS cntrycode, c.c_acctbal AS acctbal
      FROM customer c
      WHERE substring(c.c_name, 16, 2) IN ('02','13','24','35','46','57')
        AND CAST(c.c_acctbal AS DOUBLE) > (
          SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
          FROM customer c2 WHERE c2.c_acctbal > 0.0)
        AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    ) custsale
    GROUP BY cntrycode
"""


@query("sql_q22_sales_opportunity", oracle=_Q22)
def sql_q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity), adapted: country code
    comes from c_name digits (no phone column). Scalar above-average
    balance subquery (exact sum/count then one IEEE divide) + NOT EXISTS
    anti-join against recent orders, grouped on the derived code."""
    _views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(_Q22)


_Q11 = """
    WITH supply AS (
      SELECT l.l_partkey,
             SUM(CAST(l.l_quantity AS DECIMAL(18,2))
                 * CAST(l.l_extendedprice AS DECIMAL(18,2))) AS value
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name IN ('NATION_5', 'NATION_6', 'NATION_7')
      GROUP BY l.l_partkey
    )
    SELECT l_partkey, CAST(value AS DOUBLE) AS part_value
    FROM supply
    WHERE CAST(value AS DOUBLE) >
          (SELECT 2.0 * (CAST(SUM(value) AS DOUBLE) / COUNT(*)) FROM supply)
"""


@query("sql_q11_important_value", oracle=_Q11)
def sql_q11_important_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock identification), adapted: lineitem
    value stands in for partsupp stock. The structure is the point — group
    to per-part values, then keep parts above a GLOBAL threshold computed
    by a scalar subquery over the same aggregate: both engines evaluate
    the CTE once and broadcast the scalar. (TPC-H's fixed global fraction
    is itself SF-scaled — 0.0001/SF — so the sf-invariant restatement is
    2x the mean part value; exact decimal sums feed one identical IEEE
    divide+multiply on both engines.)"""
    _views(spark, sf_dir, ["lineitem", "supplier", "nation"])
    return spark.sql(_Q11)


_LATERAL = """
    SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.o_totalprice, t.rk
    FROM customer c,
    LATERAL (
      SELECT o.o_orderkey, o.o_totalprice,
             ROW_NUMBER() OVER (ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rk
      FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o.o_totalprice DESC, o.o_orderkey
      LIMIT 2
    ) t
    WHERE c.c_acctbal > 9000
"""


@query("sql_lateral_topn", oracle=_LATERAL)
def sql_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated-subquery join (#81 cont.): each qualifying
    customer's top-2 orders via a per-row dependent subquery — the SQL
    form ORMs and hand-written reports lean on. Catalyst decorrelates
    the LATERAL into a ranked window + join rather than executing one
    subquery per outer row (the textual form is per-row; the physical
    plan is set-based — exactly the rewrite a 100 TB engine must do,
    since a correlated loop over a filtered customer dimension is still
    millions of subqueries). Identical text runs on DuckDB."""
    _views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(_LATERAL)


# Identical text on both engines: CAST(FLOOR(...)) instead of the
# engine-specific integer-division operators (Spark DIV vs DuckDB //).
_RECURSIVE = """
    WITH RECURSIVE walk(node, cur, d) AS (
      SELECT doc_id, doc_id, 0 FROM documents WHERE doc_id < 1023
      UNION ALL
      SELECT node, CAST(FLOOR((cur - 1) / 2.0) AS BIGINT), d + 1
      FROM walk WHERE cur > 0
    )
    SELECT node AS doc_id, MAX(d) AS depth
    FROM walk GROUP BY node
"""


@query("sql_recursive_cte", oracle=_RECURSIVE)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (#81 cont., Spark 4 WITH RECURSIVE): walk every doc
    up the implicit binary-heap tree (parent = (id-1)/2) to the root and
    report its depth — org charts, thread nesting, BOM explosions. The
    engine iterates the recursive step to a fixpoint: O(depth)
    sequential rounds, each a full pass over the frontier. Its
    registered twin x_tree_depth_pointer_jump computes the SAME answer
    in O(log depth) doubling rounds — the scale-preferred formulation
    when depth is large — and the two hash-match each other AND this
    shared SQL text on DuckDB. Having both shapes is the point: the CTE
    is what users write; the pointer jump is what a 100 TB migration
    rewrites it into."""
    _views(spark, sf_dir, ["documents"])
    return spark.sql(_RECURSIVE)


@query(
    "fn_sql_udf",
    oracle=f"""
    SELECT l_returnflag,
           CAST(SUM({REVENUE_EXPR}) AS DOUBLE) AS net_revenue,
           COUNT(*) AS cnt
    FROM lineitem GROUP BY l_returnflag
    """,
)
def fn_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native SQL UDF (#43 cont., Spark 4 CREATE FUNCTION ...
    RETURN): the discounted-revenue formula is defined ONCE as a catalog
    function and referenced like a builtin — the governed way to share
    business logic across queries (vs copy-pasted expressions or Python
    UDFs that leave codegen). The body inlines into the plan, so it costs
    nothing at execution; the oracle states the same inlined formula.
    Exact DECIMAL inside, one cast to DOUBLE at the end (the repo's
    standard money discipline)."""
    _views(spark, sf_dir, ["lineitem"])
    spark.sql("DROP TEMPORARY FUNCTION IF EXISTS graft_net_revenue")
    # Body = the repo's canonical REVENUE_EXPR shape: full-precision
    # decimal product, NO intermediate round-back (an extra CAST to
    # DECIMAL(18,2) rounds each term and hash-diverges from the oracle).
    spark.sql(
        f"""CREATE TEMPORARY FUNCTION graft_net_revenue(p DOUBLE, d DOUBLE)
        RETURNS DECIMAL(38,6)
        RETURN CAST(p AS {_D}) * (1 - CAST(d AS {_D}))"""
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(SUM(graft_net_revenue(l_extendedprice, l_discount)) AS DOUBLE)
                 AS net_revenue,
               COUNT(*) AS cnt
        FROM lineitem GROUP BY l_returnflag
        """
    )


_PIPE_ORACLE = """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
"""


@query("sql_pipe_syntax", oracle=_PIPE_ORACLE)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (#81 cont., Spark 4 |> operators): the same
    pricing-summary logic written as a linear dataflow — FROM |> WHERE |>
    AGGREGATE ... GROUP BY — instead of inside-out nested SQL. Purely a
    parser front-end: the plan (and the hash) is identical to the
    classic form the oracle states, which is exactly the guarantee a
    team adopting pipe syntax needs."""
    _views(spark, sf_dir, ["lineitem"])
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |> AGGREGATE COUNT(*) AS cnt,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
           GROUP BY l_returnflag, l_linestatus
        """
    )


@query(
    "fn_collation_casefold",
    oracle="""
    WITH mixed AS (
      SELECT CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
                  ELSE lower(c_mktsegment) END AS seg_mixed
      FROM customer
    )
    SELECT min(lower(seg_mixed)) AS segment, COUNT(*) AS cnt
    FROM mixed GROUP BY lower(seg_mixed)
    """,
)
def fn_collation_casefold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (#43 cont., Spark 4 COLLATE): a
    mixed-case segment column groups under UTF8_LCASE so 'BUILDING' and
    'building' land in one bucket WITHOUT rewriting every reference
    through lower() — collation travels with the type, the reader's
    query stays clean, and comparisons/joins/sorts all follow. The
    emitted key is min(lower(raw)) because the collated group's raw
    representative is first-seen (order-dependent); the oracle mirrors
    with explicit lower() grouping — same buckets, same counts."""
    _views(spark, sf_dir, ["customer"])
    return spark.sql(
        """
        WITH mixed AS (
          SELECT CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
                      ELSE lower(c_mktsegment) END COLLATE UTF8_LCASE AS seg_mixed
          FROM customer
        )
        SELECT CAST(min(lower(seg_mixed)) AS STRING COLLATE UTF8_BINARY) AS segment,
               COUNT(*) AS cnt
        FROM mixed GROUP BY seg_mixed
        """
    )


@query(
    "sql_distinct_on",
    # DuckDB implements the Postgres idiom natively — the oracle IS the
    # source dialect a migrated application was written in.
    oracle="""
    SELECT DISTINCT ON (o_custkey)
           o_custkey, o_orderkey, o_totalprice, o_orderdate
    FROM orders
    ORDER BY o_custkey, o_orderdate DESC, o_orderkey DESC
    """,
)
def sql_distinct_on(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Postgres DISTINCT ON (#13 cont.): each customer's most recent order
    — THE Postgres idiom a migrated application leans on (the reference
    targets Postgres, so its users write this daily). Spark has no
    DISTINCT ON; the faithful translation is the ranked-window keep-rn=1
    rewrite with the ORDER BY's remaining keys as the ranking — same
    rows, same tie behavior, and the window form is what survives at
    100 TB (one shuffle on the DISTINCT ON key)."""
    o = T(spark, sf_dir, "orders")
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice", "o_orderdate")
    )
