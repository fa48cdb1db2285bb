"""Core relational query set (SURVEY.md §2.2-§2.7 + declared widenings).

Each query is the Spark-first re-expression of a reference operator
family, registered with a value-identical DuckDB oracle. Conventions
(registry module docstring): integer aggregates cast to BIGINT both
sides; double aggregates wrapped in ROUND(x, n) both sides (HALF_UP on
two doubles converges to identical bit patterns); every ranked/limited
output has a tiebreak-complete ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import catalog
from ..registry import register
from ..stage import stage_frame

# --------------------------------------------------------------------------
# Aggregations (reference §2.4 A1/A2 generalized — TPC-H Q1 shape)
# --------------------------------------------------------------------------


@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                                   AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           ROUND(AVG(l_quantity), 4)                                        AS avg_qty,
           ROUND(AVG(l_extendedprice), 4)                                   AS avg_price,
           ROUND(AVG(l_discount), 4)                                        AS avg_disc,
           COUNT(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    survey_ref="§2.4 A1/A2 (generalized multi-agg; TPC-H Q1 shape)",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    li = t["lineitem"].filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "group_count",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS order_count,
           COUNT(DISTINCT o_custkey) AS distinct_customers
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    survey_ref="§2.4 A1 (group-count) + declared count_distinct widening",
)
def q_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    return (
        t["orders"]
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            F.countDistinct("o_custkey").alias("distinct_customers"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "group_sum_multi",
    oracle="""
    SELECT l_suppkey,
           ROUND(SUM(l_quantity), 2)      AS total_qty,
           ROUND(SUM(l_extendedprice), 2) AS total_price,
           ROUND(MIN(l_extendedprice), 2) AS min_price,
           ROUND(MAX(l_extendedprice), 2) AS max_price,
           ROUND(AVG(l_discount), 4)      AS avg_discount
    FROM lineitem
    GROUP BY l_suppkey
    ORDER BY l_suppkey
    """,
    survey_ref="§2.4 A2 (group-sum multi-column) + min/max/avg widening",
)
def q_group_sum_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    return (
        t["lineitem"]
        .groupBy("l_suppkey")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
            F.round(F.min("l_extendedprice"), 2).alias("min_price"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_discount"),
        )
        .orderBy("l_suppkey")
    )


# --------------------------------------------------------------------------
# Joins (reference §2.3 J1 + declared semi/anti widenings)
# --------------------------------------------------------------------------


@register(
    "full_outer_coalesce",
    oracle="""
    WITH cust AS (
      SELECT c_nationkey AS nk, COUNT(*) AS customers FROM customer GROUP BY c_nationkey
    ),
    supp AS (
      SELECT s_nationkey AS nk, COUNT(*) AS suppliers FROM supplier GROUP BY s_nationkey
    )
    SELECT COALESCE(cust.nk, supp.nk)      AS nationkey,
           COALESCE(cust.customers, 0)     AS customers,
           COALESCE(supp.suppliers, 0)     AS suppliers
    FROM cust FULL OUTER JOIN supp ON cust.nk = supp.nk
    ORDER BY nationkey
    """,
    survey_ref="§2.3 J1 (full-outer equi-join + key coalesce; reference spark-scripts/spark-project.py:75-80)",
)
def q_full_outer_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    cust = t["customer"].groupBy(F.col("c_nationkey").alias("cnk")).agg(
        F.count(F.lit(1)).alias("customers")
    )
    supp = t["supplier"].groupBy(F.col("s_nationkey").alias("snk")).agg(
        F.count(F.lit(1)).alias("suppliers")
    )
    return (
        cust.join(supp, cust.cnk == supp.snk, "full_outer")
        .select(
            F.coalesce("cnk", "snk").alias("nationkey"),
            F.coalesce("customers", F.lit(0)).alias("customers"),
            F.coalesce("suppliers", F.lit(0)).alias("suppliers"),
        )
        .orderBy("nationkey")
    )


@register(
    "revenue_by_nation",
    oracle="""
    SELECT n.n_name AS nation,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           COUNT(*) AS line_count
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY nation
    """,
    survey_ref="§2.3 equi-join chain + §2.4 A2 (multi-join rollup)",
)
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-below-join: revenue/line_count collapse to one row per
    orderkey BEFORE the orders join, then to one row per custkey BEFORE
    the customer join — every shuffle after the first carries aggregate
    rows, never raw lineitems. customer grows with SF so its join
    strategy stays with Catalyst/AQE; only nation (25 rows) is hinted.

    A/B at sf0.1 (best-of-3, isolated): pushdown 0.77 s vs flat-join
    0.78 s — equal here, strictly smaller shuffles at 100 TB (the
    custkey exchange shrinks from |lineitem| to |orders| rows). The
    r2→r3 bench delta on this query (0.70→1.5 s) reproduced only inside
    the full 18-query bench process, not in isolation: shared-JVM
    GC/codegen-cache pressure, not a plan change.
    """
    t = catalog.tables(spark, sf_dir)
    per_order = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
            F.count(F.lit(1)).alias("lines"),
        )
    )
    per_cust = (
        per_order.join(
            t["orders"].select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("rev").alias("rev"), F.sum("lines").alias("lines"))
    )
    per_nation = (
        per_cust.join(
            t["customer"].select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_nationkey")
        .agg(F.sum("rev").alias("rev"), F.sum("lines").alias("lines"))
    )
    return (
        per_nation.join(
            F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .select(
            F.col("n_name").alias("nation"),
            F.round(F.col("rev"), 2).alias("revenue"),
            F.col("lines").alias("line_count"),
        )
        .orderBy("nation")
    )


@register(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    ORDER BY c_custkey
    """,
    survey_ref="§2.3 declared widening: left-anti join",
)
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    urgent = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        t["customer"]
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "high_value_customers_semi",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
    )
    ORDER BY c_custkey
    """,
    survey_ref="§2.3 declared widening: left-semi join",
)
def q_high_value_customers_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    big = t["orders"].filter(F.col("o_totalprice") > 300000)
    return (
        t["customer"]
        .join(big, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# Sorts / limits / top-k (reference §2.6 O1/O2)
# --------------------------------------------------------------------------


@register(
    "top_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 100
    """,
    survey_ref="§2.6 O1 (multi-key desc sort) + O2 (limit) = global top-k",
)
def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    # orderBy().limit() compiles to TakeOrderedAndProject — a per-partition
    # top-k + driver merge, no global sort shuffle at any scale.
    return (
        t["orders"]
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


# --------------------------------------------------------------------------
# Window functions (reference §2.5 W1/W2 + declared widenings)
# --------------------------------------------------------------------------


@register(
    "top_customers_per_nation",
    oracle="""
    SELECT * FROM (
      SELECT c_nationkey,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC
             ) AS BIGINT) AS rn,
             c_custkey, c_name, ROUND(c_acctbal, 2) AS acctbal
      FROM customer
    ) WHERE rn <= 5
    ORDER BY c_nationkey, rn
    """,
    survey_ref="§2.5 W2 (rank after sort, partitioned) — top-k per group",
)
def q_top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        t["customer"]
        .select(
            "c_nationkey",
            F.row_number().over(w).cast("long").alias("rn"),
            "c_custkey",
            "c_name",
            F.round("c_acctbal", 2).alias("acctbal"),
        )
        .filter(F.col("rn") <= 5)
        .orderBy("c_nationkey", "rn")
    )


@register(
    "order_gaps_lag",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(date_diff('day',
             LAG(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
             o_orderdate) AS BIGINT) AS days_since_prev
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
    survey_ref="§2.5 declared widening: lag/lead analytic windows",
)
def q_order_gaps_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderdate").over(w)
    return (
        t["orders"]
        .select(
            "o_custkey",
            "o_orderkey",
            F.datediff(F.to_date("o_orderdate"), F.to_date(prev)).cast("long").alias(
                "days_since_prev"
            ),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "part_price_rank",
    oracle="""
    SELECT p_brand, p_partkey,
           CAST(DENSE_RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS BIGINT)
             AS price_rank,
           CAST(RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS BIGINT)
             AS price_rank_gapped,
           ROUND(SUM(p_retailprice) OVER (
             PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_price
    FROM part
    ORDER BY p_brand, price_rank, p_partkey
    """,
    survey_ref="§2.5 declared widening: rank/dense_rank + running frame",
)
def q_part_price_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    w_rank = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"))
    w_run = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        t["part"]
        .select(
            "p_brand",
            "p_partkey",
            F.dense_rank().over(w_rank).cast("long").alias("price_rank"),
            F.rank().over(w_rank).cast("long").alias("price_rank_gapped"),
            F.round(F.sum("p_retailprice").over(w_run), 2).alias("running_price"),
        )
        .orderBy("p_brand", "price_rank", "p_partkey")
    )


# --------------------------------------------------------------------------
# Set operations (reference §2.7 U1 + declared intersect/except widenings)
# --------------------------------------------------------------------------


@register(
    "custkey_set_ops",
    oracle="""
    SELECT 'both' AS tag, c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_totalprice > 200000
    )
    UNION ALL
    SELECT 'only_segment' AS tag, c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_totalprice > 200000
    )
    ORDER BY tag, c_custkey
    """,
    survey_ref="§2.7 U1 + declared intersect/except widening",
)
def q_custkey_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    seg = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey")
    )
    big = t["orders"].filter(F.col("o_totalprice") > 200000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    both = seg.intersect(big).select(F.lit("both").alias("tag"), "c_custkey")
    only = seg.exceptAll(big).distinct().select(F.lit("only_segment").alias("tag"), "c_custkey")
    return both.unionByName(only).orderBy("tag", "c_custkey")


# --------------------------------------------------------------------------
# Grouping sets (declared widening — rollup / cube)
# --------------------------------------------------------------------------


@register(
    "rollup_region_nation",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation,
           COUNT(*) AS customers,
           ROUND(SUM(c.c_acctbal), 2) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    ORDER BY region NULLS FIRST, nation NULLS FIRST
    """,
    survey_ref="§2.4 declared widening: rollup grouping sets",
)
def q_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    joined = (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("r_name").alias("region"), F.col("n_name").alias("nation"), "c_acctbal")
    )
    return (
        joined.rollup("region", "nation")
        .agg(
            F.count(F.lit(1)).alias("customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
        .orderBy(F.asc_nulls_first("region"), F.asc_nulls_first("nation"))
    )


@register(
    "cube_flag_status",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           ROUND(SUM(l_quantity), 2) AS qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    survey_ref="§2.4 declared widening: cube grouping sets",
)
def q_cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    return (
        t["lineitem"]
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
        .orderBy(F.asc_nulls_first("l_returnflag"), F.asc_nulls_first("l_linestatus"))
    )


# --------------------------------------------------------------------------
# Join-heavy analytics (generic equi-join widenings, §2.3 scope note —
# TPC-H Q3/Q10/Q14 shapes; the bench's join-reordering/pushdown probes)
# --------------------------------------------------------------------------


@register(
    "shipping_priority",
    oracle="""
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-06-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    survey_ref="§2.3 widening: selective 3-way join + top-k (TPC-H Q3 shape)",
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both date predicates and the segment filter must reach the scans
    (pushdown); customer is the selective side — Catalyst/AQE picks the
    join order, nothing is hinted (every input grows with SF)."""
    t = catalog.tables(spark, sf_dir)
    cutoff = F.lit("1998-06-01 00:00:00").cast("timestamp")
    return (
        t["customer"]
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
        .join(
            t["orders"].filter(F.col("o_orderdate") < cutoff),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            t["lineitem"].filter(F.col("l_shipdate") > cutoff),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue_lost,
           n_name AS nation
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND c_nationkey = n_nationkey
      AND l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue_lost DESC, c_custkey
    LIMIT 20
    """,
    survey_ref="§2.3 widening: 4-way join, returned-revenue rollup (TPC-H Q10 shape)",
)
def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-below-join (same shape as revenue_by_nation): returned
    revenue collapses to one row per orderkey before the orders join
    and one row per custkey before the customer join, so the customer
    exchange carries (custkey, rev) pairs — not order-level rows with
    names attached. nation is the only bounded dim → the only broadcast
    hint. Isolated A/B at sf0.1, 5 interleaved reps: 0.70 s median
    pushdown vs 0.60 s flat — the flat plan saves one partial-agg pass
    at this scale, but the pushdown's shuffle volume is strictly
    smaller (order-level rows never cross the customer exchange), which
    is the term that dominates at 100 TB. The 3.36 s recorded for this
    query in the round-4 single-pass bench was harness jitter, not
    plan cost.
    """
    t = catalog.tables(spark, sf_dir)
    per_order = (
        t["lineitem"]
        .filter(F.col("l_returnflag") == "R")
        .groupBy("l_orderkey")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
    )
    per_cust = (
        per_order.join(
            t["orders"]
            .filter(
                (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            )
            .select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("rev").alias("rev"))
    )
    return (
        per_cust.join(
            t["customer"].select("c_custkey", "c_name", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "c_custkey",
            "c_name",
            F.round(F.col("rev"), 2).alias("revenue_lost"),
            F.col("n_name").alias("nation"),
        )
        .orderBy(F.desc("revenue_lost"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "promo_revenue_share",
    oracle="""
    SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_share_pct
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
    """,
    survey_ref="§2.3/§2.4 widening: join + conditional ratio agg (TPC-H Q14 shape)",
)
def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One month of lineitem joined to part: the date filter prunes the
    fact scan; part is joined on its key with no hint (grows with SF —
    AQE broadcasts when it fits, shuffles when it doesn't)."""
    t = catalog.tables(spark, sf_dir)
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-06-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-07-01 00:00:00").cast("timestamp"))
        )
        .join(t["part"].select("p_partkey", "p_type"), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0)))
                / F.sum(disc),
                4,
            ).alias("promo_share_pct")
        )
    )


@register(
    "distinct_customers_salted",
    oracle="""
    SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_distinct
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    survey_ref="§2.4 widening + §4 skew rule: salted exact distinct-count",
)
def q_distinct_customers_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same answer as COUNT(DISTINCT) — the salted two-level plan exists
    for the skewed-hot-key case where the direct form straggles."""
    from ..operators.skew import salted_count_distinct

    t = catalog.tables(spark, sf_dir)
    return salted_count_distinct(
        t["orders"], ["o_orderpriority"], "o_custkey", n_salts=16
    ).orderBy("o_orderpriority")


@register(
    "price_quantiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           ROUND(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
           ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    survey_ref="§2.4 widening: exact percentiles (linear interpolation both engines)",
)
def q_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (not approx) percentiles so the oracle hash-matches; the
    scale path swaps in percentile_approx with a documented tolerance —
    exact percentile is a full sort per group and is the right default
    only when groups are few (3 flags here)."""
    t = catalog.tables(spark, sf_dir)
    agg = [
        F.round(F.expr(f"percentile(l_extendedprice, {q})"), 4).alias(f"p{int(q * 100)}")
        for q in (0.25, 0.50, 0.75, 0.99)
    ]
    return t["lineitem"].groupBy("l_returnflag").agg(*agg).orderBy("l_returnflag")


@register(
    "pivot_qty_by_status",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_open,
           ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_filled
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    survey_ref="§2.4 widening: pivot (explicit value list → conditional-agg plan)",
)
def q_pivot_qty_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an EXPLICIT value list — the implicit form runs an
    extra distinct-collect job over the pivot column, which is a full
    scan at 100 TB; declaring values keeps it one pass."""
    t = catalog.tables(spark, sf_dir)
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .withColumnRenamed("O", "qty_open")
        .withColumnRenamed("F", "qty_filled")
        .orderBy("l_returnflag")
    )


@register(
    "order_value_quartiles",
    oracle="""
    SELECT o_orderpriority, o_orderkey,
           ntile(4)       OVER w AS quartile,
           ROUND(percent_rank() OVER w, 6) AS pct_rank,
           ROUND(cume_dist()    OVER w, 6) AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    ORDER BY o_orderpriority, o_orderkey
    """,
    survey_ref="§2.5 widening: ntile / percent_rank / cume_dist analytic windows",
)
def q_order_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution windows per priority class; (o_totalprice,
    o_orderkey) ordering is tiebreak-complete so bucket boundaries are
    reproducible across engines and partitionings."""
    t = catalog.tables(spark, sf_dir)
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        t["orders"]
        .select(
            "o_orderpriority",
            "o_orderkey",
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
        )
        .orderBy("o_orderpriority", "o_orderkey")
    )


@register(
    "large_volume_customers",
    oracle="""
    -- TPC-H Q18 shape: IN-subquery over an aggregated HAVING —
    -- decorrelated in Spark as agg -> semi-equi-join (no subquery op).
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           CAST(SUM(l.l_quantity) AS BIGINT) AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 150
    )
    GROUP BY 1, 2, 3, 4, 5
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
    survey_ref="§2.3/§2.4 widening: TPC-H Q18 shape (agg subquery -> semi join)",
)
def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark plans the IN-subquery as a broadcast-able semi join on the
    pre-aggregated order totals — one lineitem shuffle on l_orderkey
    shared by the HAVING aggregate and the final per-order rollup."""
    t = catalog.tables(spark, sf_dir)
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("tq"))
        .filter(F.col("tq") > 150)
        .select("l_orderkey")
    )
    return (
        t["lineitem"]
        .join(big, "l_orderkey", "semi")
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").cast("long").alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@register(
    "small_qty_part_revenue",
    oracle="""
    -- TPC-H Q17 shape: correlated scalar-agg subquery (per-part avg
    -- quantity) — decorrelated in Spark as agg -> equi-join.
    SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    WHERE l.l_quantity < (
      SELECT 0.5 * AVG(l2.l_quantity) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
    )
    """,
    survey_ref="§2.4 widening: TPC-H Q17 shape (correlated scalar subquery)",
)
def q_small_qty_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    li = t["lineitem"]
    half_avg = (
        li.groupBy("l_partkey").agg((F.avg("l_quantity") * 0.5).alias("half_avg"))
    )
    return (
        li.join(half_avg, "l_partkey")
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@register(
    "lone_late_supplier",
    oracle="""
    -- TPC-H Q21 shape: EXISTS (another supplier in the order) +
    -- NOT EXISTS (another LATE supplier) double correlation; "late" =
    -- shipped >90 days after the order date (the fixture has no
    -- commit/receipt dates). Spark decorrelates via one per-order
    -- aggregate (supplier count, late-supplier count) + a semi join.
    WITH late_lines AS (
      SELECT l.l_orderkey, l.l_suppkey
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM late_lines l1 JOIN supplier s ON l1.l_suppkey = s.s_suppkey
    WHERE EXISTS (
      SELECT 1 FROM lineitem l2
      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
    )
    AND NOT EXISTS (
      SELECT 1 FROM late_lines l3
      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
    )
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
    survey_ref="§2.3 widening: TPC-H Q21 shape (EXISTS + NOT EXISTS decorrelation)",
)
def q_lone_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    li = t["lineitem"].join(
        t["orders"].select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    flagged = li.select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.date_add("o_orderdate", 90)).alias("late"),
    )
    per_order = flagged.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("n_late_supp"),
    )
    target = per_order.filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)).select(
        "l_orderkey"
    )
    return (
        flagged.filter("late")
        .join(target, "l_orderkey", "semi")
        .join(F.broadcast(t["supplier"].select("s_suppkey", "s_name")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )

@register(
    "priority_order_counts",
    oracle="""
    -- TPC-H Q4 shape: EXISTS correlated subquery (any line shipped
    -- >30 days after order placement) — decorrelated in Spark as a
    -- LEFT SEMI join on the pre-filtered join of lineitem x orders.
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-07-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    survey_ref="§2.3 widening: TPC-H Q4 shape (EXISTS -> semi join)",
)
def q_priority_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The correlated EXISTS becomes a semi join whose right side is
    the orders-filtered lineitem scan; the date window is pushed to the
    orders parquet scan so the semi join's build side is six months of
    keys, not the whole table."""
    t = catalog.tables(spark, sf_dir)
    o = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    late_orders = (
        t["lineitem"]
        .select("l_orderkey", "l_shipdate")
        .join(o.select("o_orderkey", "o_orderdate"), F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.date_add("o_orderdate", 30))
        .select("o_orderkey")
    )
    return (
        o.join(late_orders, "o_orderkey", "semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "customer_order_distribution",
    oracle="""
    -- TPC-H Q13 shape: outer-join aggregation — per-customer order
    -- counts (urgent orders excluded in the JOIN predicate, so
    -- customers keep their row even at count 0) then the distribution
    -- of those counts.
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) per_cust
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    survey_ref="§2.3/§2.4 widening: TPC-H Q13 shape (left-join agg distribution)",
)
def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level aggregation: the first groupBy shuffles on c_custkey
    (same key as the join, so AQE coalesces into one exchange); the
    second groups the tiny count-histogram — its shuffle is bounded by
    the distinct count values, independent of table size."""
    t = catalog.tables(spark, sf_dir)
    non_urgent = t["orders"].filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        t["customer"]
        .select("c_custkey")
        .join(non_urgent.select("o_custkey", "o_orderkey"),
              F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "idle_rich_customers",
    oracle="""
    -- TPC-H Q22 shape: scalar-avg subquery + NOT EXISTS anti join —
    -- above-average-balance customers with no URGENT order, rolled up
    -- by market segment (the fixture's analog of Q22's phone country
    -- code; at fixture SFs every customer has SOME order, so the anti
    -- side filters to urgent orders to keep the result non-degenerate).
    WITH avg_bal AS (
      SELECT AVG(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           ROUND(SUM(c.c_acctbal), 2) AS totacctbal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.ab
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
      )
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    survey_ref="§2.3 widening: TPC-H Q22 shape (scalar subquery + anti join)",
)
def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar average is a 1-row aggregate broadcast into the
    filter (no driver-side collect); NOT EXISTS is a LEFT ANTI join on
    o_custkey. At scale the anti join's right side projects only the
    join key, so the shuffle carries 8 bytes per order."""
    t = catalog.tables(spark, sf_dir)
    avg_bal = (
        t["customer"].filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("ab"))
    )
    return (
        t["customer"]
        .join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(
            t["orders"].filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "anti",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )

@register(
    "nation_pair_volume",
    oracle="""
    -- TPC-H Q7 shape: bilateral shipping volume between two nations by
    -- ship year — a 5-way join with a symmetric pair predicate.
    SELECT supp_nation, cust_nation, l_year, ROUND(SUM(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
      JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
      WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
         OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    survey_ref="§2.3 widening: TPC-H Q7 shape (multi-join symmetric pair filter)",
)
def q_nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both nation dims broadcast (25 rows each) and the pair filter
    lands right after them, so the only real shuffles are the
    fact-side equi-joins; the final agg groups a handful of
    (nation, nation, year) cells."""
    t = catalog.tables(spark, sf_dir)
    n1 = F.broadcast(t["nation"].select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(t["nation"].select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")))
    pair = (
        ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
        | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    )
    return (
        t["lineitem"]
        .join(t["supplier"].select("s_suppkey", "s_nationkey"),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t["orders"].select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"].select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(n1, F.col("s_nationkey") == F.col("s_nk"))
        .join(n2, F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "top_revenue_supplier",
    oracle="""
    -- TPC-H Q15 shape: aggregate view + scalar-max subquery equality.
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """,
    survey_ref="§2.4 widening: TPC-H Q15 shape (agg view + scalar max)",
)
def q_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The revenue 'view' computes once; the scalar MAX is a 1-row
    aggregate broadcast back against it (Catalyst reuses the exchange
    rather than rescanning lineitem). Rounding happens per-supplier
    BEFORE the max equality on both sides, keeping the comparison on
    identical values."""
    t = catalog.tables(spark, sf_dir)
    revenue = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("total_revenue"))
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_rev"))
    return (
        revenue.join(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_rev"))
        .join(t["supplier"].select("s_suppkey", "s_name"),
              F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "part_supplier_counts",
    oracle="""
    -- TPC-H Q16 shape: NOT IN subquery exclusion + per-group distinct
    -- count. Suppliers in deficit (negative balance — the fixture's
    -- analog of Q16's complaints filter) are excluded from the counts.
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#13'
      AND p.p_size IN (1, 9, 17, 25, 33, 41, 49)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    LIMIT 50
    """,
    survey_ref="§2.3/§2.7 widening: TPC-H Q16 shape (NOT IN -> anti join + count distinct)",
)
def q_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN over a non-nullable key decorrelates to a LEFT ANTI join
    (broadcast — the exclusion list is tiny); the distinct count
    shuffles (brand, type, size, suppkey) once, partial-deduped
    map-side."""
    t = catalog.tables(spark, sf_dir)
    deficit = t["supplier"].filter(F.col("s_acctbal") < 0).select("s_suppkey")
    p = t["part"].filter(
        (F.col("p_brand") != "Brand#13")
        & F.col("p_size").isin(1, 9, 17, 25, 33, 41, 49)
    )
    return (
        t["lineitem"]
        .select("l_partkey", "l_suppkey")
        .join(F.broadcast(deficit), F.col("l_suppkey") == F.col("s_suppkey"), "anti")
        .join(p.select("p_partkey", "p_brand", "p_type", "p_size"),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
        .limit(50)
    )

@register(
    "dq_audit",
    oracle="""
    -- Data-quality audit: one row per constraint with its violation
    -- count. The checks every ingest gate runs before publishing a
    -- 100 TB table: key nullability, primary-key uniqueness,
    -- referential integrity, domain ranges, temporal sanity.
    SELECT 'lineitem_discount_range' AS check_name,
           CAST((SELECT COUNT(*) FROM lineitem
                 WHERE l_discount < 0 OR l_discount > 1) AS BIGINT) AS violations
    UNION ALL
    SELECT 'lineitem_nonpositive_qty',
           CAST((SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0) AS BIGINT)
    UNION ALL
    SELECT 'lineitem_orphan_orderkey',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
    UNION ALL
    SELECT 'orders_dup_orderkey',
           CAST((SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders) AS BIGINT)
    UNION ALL
    SELECT 'orders_future_date',
           CAST((SELECT COUNT(*) FROM orders
                 WHERE o_orderdate > TIMESTAMP '2002-01-01') AS BIGINT)
    UNION ALL
    SELECT 'orders_null_custkey',
           CAST((SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) AS BIGINT)
    ORDER BY check_name
    """,
    survey_ref="extended: data-quality constraint audit (ingest gate)",
)
def q_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six constraints in three passes: one conditional-sum scan over
    orders, one over lineitem, one anti join for referential integrity
    — then an unpivot to (check_name, violations). No per-check scans,
    no collect; adding a constraint adds a column to an existing agg,
    not a pass over the table."""
    t = catalog.tables(spark, sf_dir)
    o = t["orders"].agg(
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias(
            "orders_null_custkey"
        ),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("orders_dup_orderkey"),
        F.sum(
            F.when(F.col("o_orderdate") > F.lit("2002-01-01").cast("timestamp"), 1).otherwise(0)
        ).alias("orders_future_date"),
    )
    li = t["lineitem"].agg(
        F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0)).alias(
            "lineitem_nonpositive_qty"
        ),
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1).otherwise(0)
        ).alias("lineitem_discount_range"),
    )
    orphans = (
        t["lineitem"]
        .select("l_orderkey")
        .join(t["orders"].select("o_orderkey"),
              F.col("l_orderkey") == F.col("o_orderkey"), "anti")
        .agg(F.count(F.lit(1)).alias("lineitem_orphan_orderkey"))
    )
    wide = o.join(li).join(orphans)  # three 1-row frames
    checks = [
        "lineitem_discount_range",
        "lineitem_nonpositive_qty",
        "lineitem_orphan_orderkey",
        "orders_dup_orderkey",
        "orders_future_date",
        "orders_null_custkey",
    ]
    stack = ", ".join(f"'{c}', cast(`{c}` as bigint)" for c in checks)
    return wide.selectExpr(
        f"stack({len(checks)}, {stack}) as (check_name, violations)"
    ).orderBy("check_name")

@register(
    "customer_name_fuzzy_pairs",
    oracle="""
    -- Entity resolution: blocked fuzzy match on edit distance. The
    -- block key (name prefix) turns the quadratic all-pairs problem
    -- into an equi-join; the Levenshtein verify runs only inside
    -- blocks. The custkey sample bounds fixture output.
    SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
           a.c_name AS name_a, b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_dist
    FROM customer a
    JOIN customer b
      ON substring(a.c_name, 1, 17) = substring(b.c_name, 1, 17)
     AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
      AND a.c_custkey % 10 < 3 AND b.c_custkey % 10 < 3
    ORDER BY key_a, key_b
    """,
    survey_ref="extended: entity resolution (blocked Levenshtein fuzzy join)",
)
def q_customer_name_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching, the scale-safe way: an equi-join on a
    blocking key (here a name prefix; phonetic keys or sorted-
    neighborhood windows slot in the same place), then the exact
    edit-distance verify only within blocks — never an all-pairs theta
    join. One shuffle on the block key; block size bounds the verify
    cost, exactly like the simhash/minhash band buckets."""
    t = catalog.tables(spark, sf_dir)
    c = t["customer"].filter(F.col("c_custkey") % 10 < 3).select(
        "c_custkey", "c_name", F.substring("c_name", 1, 17).alias("blk")
    )
    a = c.select(F.col("c_custkey").alias("key_a"), F.col("c_name").alias("name_a"),
                 F.col("blk").alias("blk_a"))
    b = c.select(F.col("c_custkey").alias("key_b"), F.col("c_name").alias("name_b"),
                 F.col("blk").alias("blk_b"))
    return (
        a.join(b, (F.col("blk_a") == F.col("blk_b")) & (F.col("key_a") < F.col("key_b")))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= 1)
        .select("key_a", "key_b", "name_a", "name_b", "edit_dist")
        .orderBy("key_a", "key_b")
    )

@register(
    "order_qty_sequences",
    oracle="""
    -- Nested/array analytics: per-order ordered quantity sequence +
    -- higher-order-function reductions over the array.
    SELECT l_orderkey,
           array_to_string(list(CAST(l_quantity AS INT) ORDER BY l_linenumber, CAST(l_quantity AS INT)), ',')
             AS qty_seq,
           CAST(list_sum(list(CAST(l_quantity AS INT))) AS BIGINT) AS total_qty,
           CAST(list_max(list(CAST(l_quantity AS INT))) AS INT) AS max_qty,
           CAST(len(list(l_quantity)) AS INT) AS n_items
    FROM lineitem
    WHERE l_orderkey % 50 = 0
    GROUP BY l_orderkey
    ORDER BY l_orderkey
    """,
    survey_ref="extended: array/nested-type analytics (collect, sort, HOF reduce)",
)
def q_order_qty_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array column lifecycle in one pass: collect_list(struct) under
    the groupBy (one shuffle), array_sort over the (linenumber, qty)
    struct restores line order without a sort exchange — qty as the
    tiebreak, since the fixture's linenumbers repeat within an order, then transform /
    aggregate / array_max run as codegen'd expressions — the
    sequence-shaped analytics (session paths, token streams, sensor
    traces) a 100 TB log table needs. Integer math keeps the HOF
    reduction bit-identical to the oracle's list_sum. The key sample
    bounds fixture output."""
    t = catalog.tables(spark, sf_dir)
    arr = F.array_sort(
        F.collect_list(F.struct(F.col("l_linenumber"), F.col("l_quantity").cast("int").alias("q")))
    )
    return (
        t["lineitem"]
        .filter(F.col("l_orderkey") % 50 == 0)
        .groupBy("l_orderkey")
        .agg(arr.alias("s"))
        .select(
            "l_orderkey",
            F.array_join(F.transform("s", lambda x: x["q"].cast("string")), ",").alias("qty_seq"),
            F.aggregate("s", F.lit(0).cast("long"), lambda acc, x: acc + x["q"]).alias("total_qty"),
            F.array_max(F.transform("s", lambda x: x["q"])).alias("max_qty"),
            F.size("s").alias("n_items"),
        )
        .orderBy("l_orderkey")
    )

@register(
    "sorted_neighborhood_pairs",
    oracle="""
    -- Sorted-neighborhood entity resolution: order candidates by the
    -- match key, compare each record only to its w nearest neighbors
    -- in that order (here w = 3). The window formulation replaces
    -- prefix blocking where typos break prefixes but preserve rank
    -- locality.
    WITH ranked AS (
      SELECT c_custkey, c_name,
             ROW_NUMBER() OVER (ORDER BY c_name, c_custkey) AS rnk
      FROM customer
      WHERE c_custkey % 10 < 3
    )
    SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
           a.c_name AS name_a, b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_dist
    FROM ranked a
    JOIN ranked b
      ON b.rnk > a.rnk AND b.rnk <= a.rnk + 3
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    ORDER BY key_a, key_b
    """,
    survey_ref="extended: sorted-neighborhood entity resolution (windowed blocking)",
)
def q_sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe sorted-neighborhood, no single-task stage anywhere:

    1. the global rank comes from sampling.distributed_row_number —
       range-repartition on the sort key, per-partition row_number,
       broadcast per-partition offsets (the round-2 unpartitioned
       Window.orderBy ran the whole candidate set through ONE task);
    2. the w-successor candidate pairs come from a rank-band EQUI-join:
       bucket = floor((rnk-1) / w) puts every (a, b) with
       a.rnk < b.rnk <= a.rnk + w in a's bucket or the next one, so two
       bucket-keyed joins (same bucket, bucket+1) + the band filter
       enumerate exactly the oracle's rank-band pairs — candidate
       volume stays w x n and the join key is uniformly distributed by
       construction.
    Levenshtein verifies only inside the w-neighborhood, as before."""
    from ..operators import sampling as smp

    t = catalog.tables(spark, sf_dir)
    w = 3
    ranked = smp.distributed_row_number(
        t["customer"].filter(F.col("c_custkey") % 10 < 3).select("c_custkey", "c_name"),
        sort_cols=("c_name", "c_custkey"),
    ).withColumn("bkt", F.floor((F.col("rnk") - 1) / w))
    a = ranked.select(
        F.col("c_custkey").alias("key_a"), F.col("c_name").alias("name_a"),
        F.col("rnk").alias("rnk_a"), F.col("bkt").alias("bkt_a"),
    )
    b = ranked.select(
        F.col("c_custkey").alias("key_b"), F.col("c_name").alias("name_b"),
        F.col("rnk").alias("rnk_b"), F.col("bkt").alias("bkt_b"),
    )
    band = (F.col("rnk_b") > F.col("rnk_a")) & (F.col("rnk_b") <= F.col("rnk_a") + w)
    pairs = a.join(b, (F.col("bkt_b") == F.col("bkt_a")) & band).unionByName(
        a.join(b, (F.col("bkt_b") == F.col("bkt_a") + 1) & band)
    )
    return (
        pairs.withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= 1)
        .select("key_a", "key_b", "name_a", "name_b", "edit_dist")
        .orderBy("key_a", "key_b")
    )

@register(
    "status_reconciliation_nullsafe",
    oracle="""
    -- Null-safe equality join (IS NOT DISTINCT FROM / <=>): the NULL
    -- bucket on each side must reconcile against the other side's NULL
    -- bucket — a plain equi-join silently drops it, the classic
    -- reconciliation-report bug.
    WITH o AS (
      SELECT CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_orderstatus END AS sk,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    ),
    l AS (
      SELECT CASE WHEN l_linestatus = 'O' THEN NULL ELSE l_linestatus END AS sk,
             CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY 1
    )
    SELECT o.sk AS status_key, o.n_orders, l.n_lines
    FROM o JOIN l ON o.sk IS NOT DISTINCT FROM l.sk
    ORDER BY status_key NULLS FIRST
    """,
    survey_ref="§2.3 widening: null-safe equality join (eqNullSafe / <=>)",
)
def q_status_reconciliation_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eqNullSafe plans as a hash join whose key includes the null flag
    (NULLs co-partition like any other value) — same shuffle shape as a
    plain equi-join, none of the null-dropping. The open-status bucket
    is mapped to NULL on both sides to make the hazard explicit."""
    t = catalog.tables(spark, sf_dir)
    o = (
        t["orders"]
        .select(F.when(F.col("o_orderstatus") == "O", None)
                .otherwise(F.col("o_orderstatus")).alias("sk"))
        .groupBy("sk")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    li = (
        t["lineitem"]
        .select(F.when(F.col("l_linestatus") == "O", None)
                .otherwise(F.col("l_linestatus")).alias("sk"))
        .groupBy("sk")
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )
    return (
        o.join(li, o["sk"].eqNullSafe(li["sk"]))
        .select(o["sk"].alias("status_key"), "n_orders", "n_lines")
        .orderBy(F.asc_nulls_first("status_key"))
    )


@register(
    "cheapest_part_per_brand",
    oracle="""
    -- TPC-H Q2 shape: correlated groupwise-MIN subquery decorrelated
    -- into a per-group aggregate joined back on (group, min-equality).
    -- (The fixture has no partsupp table, so the group is brand and
    -- the measure retailprice — the decorrelation shape is identical.)
    SELECT p.p_brand, p.p_partkey, p.p_name, p.p_retailprice
    FROM part p
    WHERE p.p_retailprice = (
      SELECT MIN(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand
    )
    ORDER BY p.p_brand, p.p_partkey
    """,
    survey_ref="§2.3/§2.4 widening: TPC-H Q2 shape (correlated groupwise min)",
)
def q_cheapest_part_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The correlated scalar subquery decorrelates to one brand-keyed
    min aggregate (bounded: one row per brand) broadcast back against
    the table — one scan + one tiny join, never a per-row subquery."""
    t = catalog.tables(spark, sf_dir)
    mins = t["part"].groupBy(F.col("p_brand").alias("mb")).agg(
        F.min("p_retailprice").alias("min_price")
    )
    return (
        t["part"]
        .join(
            F.broadcast(mins),
            (F.col("p_brand") == F.col("mb"))
            & (F.col("p_retailprice") == F.col("min_price")),
        )
        .select("p_brand", "p_partkey", "p_name", "p_retailprice")
        .orderBy("p_brand", "p_partkey")
    )


@register(
    "market_share_by_year",
    oracle="""
    -- TPC-H Q8 shape: a conditional share inside the aggregate — one
    -- nation's fraction of total shipped volume per order year.
    SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           ROUND(SUM(CASE WHEN n.n_name = 'NATION_3'
                          THEN l.l_extendedprice * (1 - l.l_discount)
                          ELSE 0 END)
                 / SUM(l.l_extendedprice * (1 - l.l_discount)), 6) AS mkt_share,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS total_volume
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY o_year
    ORDER BY o_year
    """,
    survey_ref="§2.4 widening: TPC-H Q8 shape (conditional share aggregate)",
)
def q_market_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numerator and denominator are two conditional sums in ONE
    aggregation pass (never two scans + a join); nation broadcasts,
    supplier/orders join on their uniform fact keys."""
    t = catalog.tables(spark, sf_dir)
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        t["lineitem"]
        .join(t["orders"].select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["supplier"].select("s_suppkey", "s_nationkey"),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("n_name") == "NATION_3", vol).otherwise(0.0))
                / F.sum(vol),
                6,
            ).alias("mkt_share"),
            F.round(F.sum(vol), 2).alias("total_volume"),
        )
        .orderBy("o_year")
    )


@register(
    "product_profit_by_nation_year",
    oracle="""
    -- TPC-H Q9 shape: multi-join derived-measure rollup by (nation,
    -- year). The fixture has no partsupp/supplycost, so cost is proxied
    -- at 90% of retail — the join/rollup shape is Q9's.
    -- profit accumulates in integer cents (round per row, SUM exact,
    -- divide once): a double SUM's order-dependent error can straddle
    -- a half-cent boundary and diverge between engines.
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CAST(round((l.l_extendedprice * (1 - l.l_discount)
                     - 0.9 * p.p_retailprice * l.l_quantity) * 100) AS BIGINT))
                AS BIGINT) / 100.0 AS sum_profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_type = 'PROMO'
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    survey_ref="§2.3/§2.4 widening: TPC-H Q9 shape (profit rollup, 5-way join)",
)
def q_product_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The selective p_type filter lands on the part scan (pushdown)
    BEFORE its join, shrinking the fact stream early; nation broadcasts;
    the rollup groups a bounded (nation x year) grid."""
    t = catalog.tables(spark, sf_dir)
    profit_cents = F.round(
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            - 0.9 * F.col("p_retailprice") * F.col("l_quantity")
        )
        * 100
    ).cast("long")
    return (
        t["lineitem"]
        .join(t["part"].filter(F.col("p_type") == "PROMO")
              .select("p_partkey", "p_retailprice"),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(t["supplier"].select("s_suppkey", "s_nationkey"),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t["orders"].select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg((F.sum(profit_cents) / 100.0).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@register(
    "disjunctive_pred_revenue",
    oracle="""
    -- TPC-H Q19 shape: OR-of-conjuncts over two tables — the classic
    -- pushdown test (each disjunct mixes part and lineitem columns; the
    -- common part-key join must still be recognized as an equi-join).
    SELECT ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#14' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#17' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    survey_ref="§2.2 widening: TPC-H Q19 shape (disjunctive mixed-table predicates)",
)
def q_disjunctive_pred_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalyst extracts the common l_partkey = p_partkey conjunct so
    the join stays equi (no nested-loop fallback), and derives a
    partial part-side filter (brand IN ...) pushed to the part scan;
    the residual OR evaluates post-join. Single-row result."""
    t = catalog.tables(spark, sf_dir)
    p, li = t["part"], t["lineitem"]
    cond = (
        ((F.col("p_brand") == "Brand#11") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#14") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#17") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "excess_shipped_suppliers",
    oracle="""
    -- TPC-H Q20 shape: nested aggregate inside an IN chain — suppliers
    -- who shipped an outsized quantity of some PROMO part in 1997.
    -- (No partsupp/availqty in the fixture; the per-(supplier, part)
    -- HAVING aggregate plays availqty's role — same decorrelation.)
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT l.l_suppkey
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_type = 'PROMO'
        AND l.l_shipdate >= TIMESTAMP '1997-01-01'
        AND l.l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY l.l_suppkey, l.l_partkey
      HAVING SUM(l.l_quantity) > 50
    )
    ORDER BY s.s_suppkey
    """,
    survey_ref="§2.3 widening: TPC-H Q20 shape (nested agg -> semi join chain)",
)
def q_excess_shipped_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner-to-outer: part filter pushed to its scan -> (suppkey,
    partkey)-keyed quantity rollup -> HAVING -> distinct suppliers as a
    LEFT SEMI join against the supplier dim. Every shuffle keys on
    uniform fact keys; the semi probe side is the small aggregate."""
    t = catalog.tables(spark, sf_dir)
    shipped = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(F.broadcast(t["part"].filter(F.col("p_type") == "PROMO")
                          .select("p_partkey")),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
    )
    return (
        t["supplier"]
        .join(shipped, F.col("s_suppkey") == F.col("l_suppkey"), "semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@register(
    "forecast_revenue_change",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue_delta,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    survey_ref="§2.3 widening: multi-range-predicate scan + scalar agg (TPC-H Q6 shape)",
)
def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape — the pure scan query of the suite: three range
    predicates and a scalar aggregate, no join, no group. Its whole
    value is the plan: every predicate must reach the parquet scan as a
    PushedFilter and the aggregate is a map-side partial + 1-row final
    — the I/O-bound floor any 100 TB engine should hit."""
    t = catalog.tables(spark, sf_dir)
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue_delta"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "late_shipment_priority",
    oracle="""
    -- TPC-H Q12 shape adapted to the fixture's columns (no l_shipmode/
    -- l_commitdate): lines shipped more than 90 days after order date,
    -- bucketed by line status, counting urgent (1-2) vs other order
    -- priorities — the join + two-way conditional count shape.
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    GROUP BY l.l_linestatus
    ORDER BY l.l_linestatus
    """,
    survey_ref="§2.3 widening: join + conditional two-way count (TPC-H Q12 shape)",
)
def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: fact-fact equi-join with a post-join interval
    predicate, then a conditional two-way count on a 2-row group key —
    map-side partial aggregation collapses everything before the final
    exchange. The join predicate references both sides so it cannot
    push to either scan; the shuffle is the orderkey equi-join only."""
    t = catalog.tables(spark, sf_dir)
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        t["lineitem"]
        .select("l_orderkey", "l_linestatus", "l_shipdate")
        .join(
            t["orders"].select("o_orderkey", "o_orderdate", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~urgent, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


_PROFILE_COLS = [
    ("o_orderkey", "int"),
    ("o_custkey", "int"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "money"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
]


def _profile_oracle() -> str:
    from ..operators.profiling import CANON

    branches = []
    for c, kind in _PROFILE_COLS:
        canon = CANON[kind].replace("AS STRING", "AS VARCHAR")
        branches.append(
            f"""
      SELECT '{c}' AS column_name,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
             {canon.format(v=f"MIN({c})")} AS min_value,
             {canon.format(v=f"MAX({c})")} AS max_value
      FROM orders"""
        )
    return (
        "\n    UNION ALL".join(branches) + "\n    ORDER BY column_name"
    )


@register(
    "table_profile",
    oracle=_profile_oracle(),
    survey_ref="extended: one-pass per-column table profile (ANALYZE-shaped ingest gate)",
)
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile of the orders table — ONE aggregation over ONE scan for
    all six columns (operators/profiling.py; the oracle's 6-scan
    UNION ALL is the naive form this replaces). Exact multi-column
    distinct plans as Expand with map-side partials; the documented
    100 TB swap is approx_count_distinct."""
    t = catalog.tables(spark, sf_dir)
    from ..operators.profiling import profile

    return profile(t["orders"], _PROFILE_COLS).orderBy("column_name")


@register(
    "revenue_trend_by_nation",
    oracle="""
    -- Grouped closed-form OLS: per-nation linear trend of yearly
    -- revenue. Revenue rides as exact integer cents; the OLS moments
    -- (n, Σx, Σy, Σxy, Σx²) are pure BIGINT sums, so numerator and
    -- denominator are exact integers and the slope is ONE double
    -- division — bit-identical on any engine or shuffle width.
    WITH yearly AS (
      SELECT n.n_name AS nation,
             CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS yr,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name, EXTRACT(year FROM o.o_orderdate)),
    moments AS (
      SELECT nation,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(yr) AS BIGINT) AS sx,
             CAST(SUM(rev_cents) AS BIGINT) AS sy,
             CAST(SUM(yr * rev_cents) AS BIGINT) AS sxy,
             CAST(SUM(yr * yr) AS BIGINT) AS sxx
      FROM yearly GROUP BY nation)
    SELECT nation,
           n AS n_years,
           ROUND(sy / 100.0, 2) + 0.0 AS total_revenue,
           ROUND((n * sxy - sx * sy) / CAST(n * sxx - sx * sx AS DOUBLE)
                 / 100.0, 4) + 0.0 AS slope_per_year
    FROM moments
    WHERE n >= 2
    ORDER BY nation
    """,
    survey_ref="extended: grouped closed-form OLS trend (integer-moment regression)",
)
def q_revenue_trend_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue trend by closed-form least squares — the
    grouped-regression primitive of a metrics warehouse (is each
    market growing, and how fast?). Determinism: revenue is summed as
    exact integer cents and all five OLS moments are BIGINT sums, so
    the slope is a single double division of two exact integers — no
    float reduction ever rides a shuffle. Integer headroom: Σ(yr ·
    cents) stays < 2⁶³ through ~10¹⁴ cents per nation-year; past that
    the moments swap to DECIMAL(38,0), same plan. Scale shape: dims
    broadcast onto the orders scan, one (nation, year) partial-agg
    shuffle that collapses to |nations|·|years| rows, then a
    |nations|-row moment rollup — nothing downstream of the first
    aggregate sees data volume."""
    t = catalog.tables(spark, sf_dir)
    yearly = (
        t["orders"]
        .join(F.broadcast(t["customer"].select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"].select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("yr"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("rev_cents")
        )
    )
    moments = yearly.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("yr").cast("long").alias("sx"),
        F.sum("rev_cents").cast("long").alias("sy"),
        F.sum(F.col("yr") * F.col("rev_cents")).cast("long").alias("sxy"),
        F.sum(F.col("yr") * F.col("yr")).cast("long").alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return (
        moments.filter(F.col("n") >= 2)
        .select(
            "nation",
            F.col("n").alias("n_years"),
            (F.round(F.col("sy") / 100.0, 2) + 0.0).alias("total_revenue"),
            (F.round(num / den / 100.0, 4) + 0.0).alias("slope_per_year"),
        )
        .orderBy("nation")
    )


@register(
    "rfm_segments",
    oracle="""
    -- RFM customer segmentation: per-customer recency (days to the
    -- frozen anchor), frequency, monetary (exact cents); each metric
    -- quartile-coded by GLOBAL RANK (1 + floor(4*(rn-1)/n)), which is
    -- deterministic under the tiebreak-complete orders — unlike
    -- NTILE-off-a-float-quantile, every engine assigns identically.
    WITH base AS (
      SELECT o_custkey,
             date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                       DATE '2001-09-01') AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey),
    ranked AS (
      SELECT o_custkey, cents,
             ROW_NUMBER() OVER (ORDER BY recency_days ASC, o_custkey ASC) AS rrn,
             ROW_NUMBER() OVER (ORDER BY freq DESC, o_custkey ASC) AS frn,
             ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey ASC) AS mrn,
             COUNT(*) OVER () AS n
      FROM base),
    coded AS (
      SELECT cents,
             CONCAT(1 + CAST(FLOOR(4.0 * (rrn - 1) / n) AS BIGINT),
                    1 + CAST(FLOOR(4.0 * (frn - 1) / n) AS BIGINT),
                    1 + CAST(FLOOR(4.0 * (mrn - 1) / n) AS BIGINT)) AS segment
      FROM ranked)
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(CAST(SUM(cents) AS BIGINT) / 100.0, 2) + 0.0 AS total_monetary
    FROM coded GROUP BY segment ORDER BY segment
    """,
    survey_ref="extended: RFM segmentation (rank-quartile coding, distributed global rank)",
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic RFM segmentation: recency/frequency/monetary quartile
    codes per customer, rolled up to segment counts + revenue. Each
    quartile is a GLOBAL-RANK bucket computed with
    operators/sampling.distributed_row_number — range-partitioned
    two-phase rank, so there is NO single-task global window anywhere
    (the naive ``ntile(4) OVER (ORDER BY ...)`` plans an Exchange
    SinglePartition — one task sorts every customer). Monetary rides
    as exact integer cents; the customer count enters the bucket
    formula as one bounded scalar probe. All orders-derived, one
    custkey aggregation feeding three |customers|-row rank passes."""
    from ..operators.sampling import distributed_row_number

    t = catalog.tables(spark, sf_dir)
    base = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(
            F.datediff(
                F.lit("2001-09-01").cast("date"),
                F.max("o_orderdate").cast("date"),
            )
            .cast("long")
            .alias("recency_days"),
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
        )
        .withColumn("neg_freq", -F.col("freq"))
        .withColumn("neg_cents", -F.col("cents"))
        # r16: stage the per-customer aggregate ONCE. Seven consumers
        # re-evaluated the orders scan + custkey aggregation without it
        # (the count probe, plus each of the three rank passes paying
        # it twice more: repartitionByRange's range-boundary sampling
        # pass and the local-rank/offset join re-read) — the before
        # plan carried 56 Exchange nodes; the staged frame is read from
        # blocks instead. At cluster scale the staging point is a
        # parquet write — stage_frame's conf-selectable sink.
        .transform(stage_frame)
    )
    n = base.count()  # bounded scalar probe: |customers|

    def code(rank_col: str):
        return (
            1 + F.floor(4.0 * (F.col(rank_col) - 1) / F.lit(n))
        ).cast("long")

    r = distributed_row_number(
        base.select("o_custkey", "recency_days"),
        ("recency_days", "o_custkey"), "rrn",
    ).select("o_custkey", "rrn")
    f = distributed_row_number(
        base.select("o_custkey", "neg_freq"), ("neg_freq", "o_custkey"), "frn"
    ).select("o_custkey", "frn")
    m = distributed_row_number(
        base.select("o_custkey", "neg_cents", "cents"),
        ("neg_cents", "o_custkey"), "mrn",
    ).select("o_custkey", "cents", "mrn")
    coded = (
        r.join(f, "o_custkey")
        .join(m, "o_custkey")
        .select(
            F.concat(code("rrn"), code("frn"), code("mrn")).alias("segment"),
            "cents",
        )
    )
    return (
        coded.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            (F.round(F.sum("cents") / 100.0, 2) + 0.0).alias("total_monetary"),
        )
        .orderBy("segment")
    )


@register(
    "brand_affinity_pairs",
    oracle="""
    -- Market-basket affinity: brand pairs co-occurring in the same
    -- order, with per-brand supports and lift. One distinct
    -- (order, brand) projection feeds both the pair self-join and the
    -- support counts; lift's arithmetic order is pinned left-to-right.
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    tot AS (SELECT CAST(COUNT(DISTINCT okey) AS BIGINT) AS n_orders FROM ob),
    sup AS (
      SELECT brand, CAST(COUNT(*) AS BIGINT) AS n FROM ob GROUP BY brand),
    pairs AS (
      SELECT a.brand AS brand_a, b.brand AS brand_b,
             CAST(COUNT(*) AS BIGINT) AS n_pair
      FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
      GROUP BY a.brand, b.brand)
    SELECT p.brand_a, p.brand_b, p.n_pair,
           sa.n AS n_a, sb.n AS n_b,
           ROUND(CAST(p.n_pair AS DOUBLE) * t.n_orders / sa.n / sb.n, 4) + 0.0
             AS lift
    FROM pairs p
    JOIN sup sa ON p.brand_a = sa.brand
    JOIN sup sb ON p.brand_b = sb.brand
    CROSS JOIN tot t
    ORDER BY p.n_pair DESC, p.brand_a ASC, p.brand_b ASC
    LIMIT 15
    """,
    survey_ref="extended: market-basket brand affinity (bounded self-join co-occurrence + lift)",
)
def q_brand_affinity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top co-purchased brand pairs with lift — the affinity-analysis
    primitive behind recommendations and assortment planning. Scale
    shape: the (order, brand) projection is DISTINCT first (collapses
    repeat lines before any pair work), the pair self-join keys on
    l_orderkey where fan-out is bounded by brands-per-order (≤ lines
    per order, a single-digit constant) — linear in order count, never
    the unbounded wedge of a raw item-pair join; brand supports are a
    25-row broadcast and the order total is one bounded scalar probe.
    Lift = pair·total/(nₐ·n_b) as one fixed-order double chain over
    exact integer counts. Self-join sides are built from independent
    subquery aliases (the Spark 4 self-join rewrite gotcha)."""
    t = catalog.tables(spark, sf_dir)
    return brand_affinity(t["lineitem"], t["part"], k=15)


def brand_affinity(lineitem: DataFrame, part: DataFrame, k: int = 15) -> DataFrame:
    """Shared body of ``brand_affinity_pairs`` (see its docstring) —
    takes the two frames directly so pytest can drive hand baskets.

    r16 shape: ONE okey-keyed shuffle builds the per-order sorted
    distinct brand basket (``collect_set`` dedups repeat lines in the
    same pass that groups them — no separate ``distinct`` exchange);
    pairs are generated INSIDE each basket row with the same
    transform-with-index comprehension as the dedup posting lists
    (operators/dedup._shared_shingle_pairs — A/B'd 2× over the
    postings self-join there) instead of an okey self-join, which cost
    two more exchanges + sorts of the staged frame. Supports and the
    order total read the same staged baskets. Fan-out per row is
    C(brands-per-order, 2) — bounded by the same single-digit
    brands-per-order constant that bounded the self-join."""
    ob = (
        lineitem
        .select("l_orderkey", "l_partkey")
        .join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .groupBy("okey")
        .agg(F.sort_array(F.collect_set("brand")).alias("bs"))
        # three consumers read the basket frame (total probe, supports,
        # pair generation) — stage the join+group once instead of
        # re-executing it per branch (at cluster scale the staging
        # point is a parquet write)
        .transform(stage_frame)
    )
    total = ob.count()  # one row per order: the order total, no extra distinct
    sup = (
        ob.select(F.explode("bs").alias("brand"))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    pairs_arr = F.flatten(
        F.transform(
            F.col("bs"),
            lambda x, i: F.transform(
                F.slice(F.col("bs"), i + 2, F.size(F.col("bs"))),
                lambda y: F.struct(x.alias("brand_a"), y.alias("brand_b")),
            ),
        )
    )
    pairs = (
        ob.select(F.explode(pairs_arr).alias("p"))
        .groupBy(F.col("p.brand_a").alias("brand_a"), F.col("p.brand_b").alias("brand_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
    )
    sa = sup.select(F.col("brand").alias("brand_a"), F.col("n").alias("n_a"))
    sb = sup.select(F.col("brand").alias("brand_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "brand_a")
        .join(F.broadcast(sb), "brand_b")
        .select(
            "brand_a",
            "brand_b",
            "n_pair",
            "n_a",
            "n_b",
            (
                F.round(
                    F.col("n_pair").cast("double")
                    * F.lit(total)
                    / F.col("n_a")
                    / F.col("n_b"),
                    4,
                )
                + 0.0
            ).alias("lift"),
        )
        .orderBy(F.desc("n_pair"), F.asc("brand_a"), F.asc("brand_b"))
        .limit(k)
    )


@register(
    "revenue_pareto_deciles",
    oracle="""
    -- Revenue concentration (Lorenz/Pareto): customers ranked by
    -- revenue DESC into 10 global-rank deciles; per decile the
    -- customer count, exact-cent revenue, share and cumulative share.
    -- Shares are single double divisions of exact BIGINTs; the
    -- cumulative sum runs over the 10-row decile frame only.
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey),
    ranked AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey ASC) AS rn,
             COUNT(*) OVER () AS n
      FROM per_cust),
    dec AS (
      SELECT 1 + CAST(FLOOR(10.0 * (rn - 1) / n) AS BIGINT) AS decile,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(cents) AS BIGINT) AS dec_cents
      FROM ranked GROUP BY 1),
    tot AS (SELECT CAST(SUM(dec_cents) AS BIGINT) AS total_cents FROM dec)
    SELECT d.decile, d.n_customers,
           ROUND(d.dec_cents / 100.0, 2) + 0.0 AS revenue,
           ROUND(CAST(d.dec_cents AS DOUBLE) / t.total_cents, 6) + 0.0 AS share,
           ROUND(CAST(SUM(d.dec_cents) OVER (ORDER BY d.decile
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS DOUBLE) / t.total_cents, 6) + 0.0 AS cum_share
    FROM dec d CROSS JOIN tot t
    ORDER BY d.decile
    """,
    survey_ref="extended: revenue concentration deciles (Lorenz/Pareto, distributed rank)",
)
def q_revenue_pareto_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration report: customers ranked into deciles by
    revenue (decile 1 = top spenders), each decile's share and the
    Lorenz cumulative share — the who-pays-the-bills table of every
    revenue review. The global rank is the distributed two-phase rank
    (no single-task window over customers); decile totals collapse to
    10 rows before the cumulative window (tiny_global_window — a
    metadata-sized frame by construction); the grand total enters as
    one bounded scalar probe; every share is one double division of
    exact integer cents."""
    from ..operators.sampling import distributed_row_number, tiny_global_window

    t = catalog.tables(spark, sf_dir)
    per_cust = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
        .withColumn("neg_cents", -F.col("cents"))
        # r16: stage the per-customer aggregate once — the count probe,
        # the total probe, and the rank pass (whose repartitionByRange
        # samples its input and whose offset join re-reads it) each
        # re-ran the orders scan + aggregation without it (22 Exchange
        # nodes in the before plan).
        .transform(stage_frame)
    )
    n = per_cust.count()  # bounded scalar probe: |customers|
    ranked = distributed_row_number(
        per_cust.select("o_custkey", "cents", "neg_cents"),
        ("neg_cents", "o_custkey"),
        "rn",
    )
    dec = (
        ranked.groupBy(
            (1 + F.floor(10.0 * (F.col("rn") - 1) / F.lit(n)))
            .cast("long")
            .alias("decile")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("cents").cast("long").alias("dec_cents"),
        )
    )
    w_cum = (
        tiny_global_window(F.col("decile"))
        .orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    total = per_cust.agg(F.sum("cents").cast("long")).collect()[0][0]  # scalar
    return dec.select(
        "decile",
        "n_customers",
        (F.round(F.col("dec_cents") / 100.0, 2) + 0.0).alias("revenue"),
        (
            F.round(F.col("dec_cents").cast("double") / F.lit(total), 6) + 0.0
        ).alias("share"),
        (
            F.round(
                F.sum("dec_cents").over(w_cum).cast("double") / F.lit(total), 6
            )
            + 0.0
        ).alias("cum_share"),
    ).orderBy("decile")


@register(
    "grouping_sets_revenue",
    oracle="""
    -- Explicit GROUPING SETS (the general form behind cube/rollup):
    -- per-nation totals, per-year totals, and the grand total in ONE
    -- aggregation pass; revenue as exact integer cents.
    WITH j AS (
      SELECT n.n_name AS nation,
             CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS yr,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey)
    SELECT nation, yr,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(cents) AS BIGINT) / 100.0, 2) + 0.0 AS revenue
    FROM j
    GROUP BY GROUPING SETS ((nation), (yr), ())
    ORDER BY nation NULLS FIRST, yr NULLS FIRST
    """,
    survey_ref="§2.4 widening: explicit GROUPING SETS (cube/rollup's general form)",
)
def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general multi-granularity
    aggregation cube/rollup specialize: per-nation totals, per-year
    totals and the grand total computed in ONE pass (Spark plans one
    Expand + one aggregate — each input row fans to its grouping-set
    rows with map-side partial aggregation, instead of three scans
    unioned). Dims broadcast onto the orders scan; revenue rides as
    exact integer cents."""
    t = catalog.tables(spark, sf_dir)
    j = (
        t["orders"]
        .join(
            F.broadcast(t["customer"].select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("yr"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    return spark.sql(
        """
        SELECT nation, yr,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               -- Spark SQL parses bare decimal literals as DECIMAL:
               -- without the DOUBLE cast the whole chain stays decimal
               -- and renders trailing zeros ('…328.50') that the
               -- strict string hash rejects against DuckDB's DOUBLE
               ROUND(SUM(cents) / CAST(100.0 AS DOUBLE), 2)
                 + CAST(0.0 AS DOUBLE) AS revenue
        FROM {j}
        GROUP BY GROUPING SETS ((nation), (yr), ())
        ORDER BY nation ASC NULLS FIRST, yr ASC NULLS FIRST
        """,
        j=j,
    )


@register(
    "fd_violation_audit",
    oracle="""
    -- Functional-dependency audit: for each candidate FD (lhs -> rhs)
    -- count the distinct LHS values and how many of them map to more
    -- than one RHS value. Pure integer aggregates; the discovery
    -- primitive behind key inference and denormalization checks.
    SELECT 'documents.source->lang' AS fd,
           CAST(COUNT(*) AS BIGINT) AS n_lhs,
           CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating
    FROM (SELECT source, COUNT(DISTINCT lang) AS n_rhs
          FROM documents GROUP BY source) t
    UNION ALL
    SELECT 'lineitem.l_partkey->l_suppkey',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
    FROM (SELECT l_partkey, COUNT(DISTINCT l_suppkey) AS n_rhs
          FROM lineitem GROUP BY l_partkey) t
    UNION ALL
    SELECT 'customer.c_custkey->c_nationkey',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
    FROM (SELECT c_custkey, COUNT(DISTINCT c_nationkey) AS n_rhs
          FROM customer GROUP BY c_custkey) t
    UNION ALL
    SELECT 'events.user_id->event_type',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
    FROM (SELECT user_id, COUNT(DISTINCT event_type) AS n_rhs
          FROM events GROUP BY user_id) t
    ORDER BY fd
    """,
    survey_ref="extended: functional-dependency violation audit (key/FD discovery)",
)
def q_fd_violation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-discovery audit: does each candidate lhs → rhs hold?
    (c_custkey → c_nationkey must, as a PK dependency; source → lang
    and user_id → event_type must NOT — a violated 'FD' here means
    the column pair genuinely varies). One distinct-count aggregation
    per FD collapsing to a 1-row summary — four bounded branches
    unioned, each map-side-partial, nothing downstream sees data
    volume. The profiling primitive behind key inference,
    denormalization and join-safety checks."""
    t = catalog.tables(spark, sf_dir)

    def fd(name: str, df: DataFrame, lhs: str, rhs: str) -> DataFrame:
        per = df.groupBy(lhs).agg(F.countDistinct(rhs).alias("n_rhs"))
        return per.agg(
            F.lit(name).alias("fd"),
            F.count(F.lit(1)).cast("long").alias("n_lhs"),
            F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_violating"),
        )

    return (
        fd("documents.source->lang", t["documents"], "source", "lang")
        .unionAll(
            fd(
                "lineitem.l_partkey->l_suppkey",
                t["lineitem"],
                "l_partkey",
                "l_suppkey",
            )
        )
        .unionAll(
            fd(
                "customer.c_custkey->c_nationkey",
                t["customer"],
                "c_custkey",
                "c_nationkey",
            )
        )
        .unionAll(
            fd("events.user_id->event_type", t["events"], "user_id", "event_type")
        )
        .orderBy("fd")
    )


@register(
    "revenue_trend_theilsen",
    oracle="""
    -- Theil-Sen robust trend: median over all year-pair slopes per
    -- nation. Pair slopes are identical IEEE divisions of exact
    -- integers on both engines; the median is an EXPLICIT rank
    -- selection ((slope, yr_a, yr_b) tiebreak, middle one-or-two
    -- averaged) so no engine quantile interpolation is involved.
    WITH yearly AS (
      SELECT n.n_name AS nation,
             CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS yr,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name, EXTRACT(year FROM o.o_orderdate)),
    pairs AS (
      SELECT a.nation, a.yr AS yr_a, b.yr AS yr_b,
             CAST(b.cents - a.cents AS DOUBLE) / (b.yr - a.yr) AS slope
      FROM yearly a JOIN yearly b
        ON a.nation = b.nation AND a.yr < b.yr),
    ranked AS (
      SELECT nation, slope,
             ROW_NUMBER() OVER (PARTITION BY nation
                                ORDER BY slope, yr_a, yr_b) AS rn,
             COUNT(*) OVER (PARTITION BY nation) AS n
      FROM pairs)
    SELECT nation,
           CAST(MIN(n) AS BIGINT) AS n_pairs,
           ROUND(AVG(CASE WHEN rn = CAST(FLOOR((n+1)/2) AS BIGINT)
                            OR rn = CAST(FLOOR((n+2)/2) AS BIGINT)
                          THEN slope END) / 100.0, 4) + 0.0
             AS theilsen_slope
    FROM ranked
    GROUP BY nation ORDER BY nation
    """,
    survey_ref="extended: Theil-Sen robust trend (rank-median of pair slopes)",
)
def q_revenue_trend_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust twin of revenue_trend_by_nation: the Theil–Sen slope
    (median of all year-pair slopes) shrugs off a single anomalous
    year that would swing least squares. The pair join is per-nation
    with ≤ years² fan-out (a bounded constant); slopes are identical
    IEEE divisions of exact integer cents; the median is the explicit
    rank selection (no quantile interpolation). AVG over the 1–2
    middle rows is commutative-exact."""
    t = catalog.tables(spark, sf_dir)
    yearly = (
        t["orders"]
        .join(
            F.broadcast(t["customer"].select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("yr"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    a = yearly.alias("a")
    b = yearly.alias("b")
    pairs = a.join(
        b,
        (F.col("a.nation") == F.col("b.nation")) & (F.col("a.yr") < F.col("b.yr")),
    ).select(
        F.col("a.nation").alias("nation"),
        F.col("a.yr").alias("yr_a"),
        F.col("b.yr").alias("yr_b"),
        (
            (F.col("b.cents") - F.col("a.cents")).cast("double")
            / (F.col("b.yr") - F.col("a.yr"))
        ).alias("slope"),
    )
    wr = Window.partitionBy("nation").orderBy("slope", "yr_a", "yr_b")
    wn = Window.partitionBy("nation")
    ranked = pairs.select(
        "nation",
        "slope",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    mid = (F.col("rn") == F.floor((F.col("n") + 1) / 2)) | (
        F.col("rn") == F.floor((F.col("n") + 2) / 2)
    )
    return (
        ranked.groupBy("nation")
        .agg(
            F.min("n").cast("long").alias("n_pairs"),
            (
                F.round(F.avg(F.when(mid, F.col("slope"))) / 100.0, 4) + 0.0
            ).alias("theilsen_slope"),
        )
        .orderBy("nation")
    )


#: Benford expected first-digit shares log10(1+1/d), embedded as full-
#: precision literals so Spark and DuckDB hold the identical doubles
#: (computed once in Python — no engine log10 in the plan).
_BENFORD = {1: 0.3010299956639812, 2: 0.17609125905568124, 3: 0.12493873660829992, 4: 0.09691001300805642, 5: 0.07918124604762482, 6: 0.06694678963061322, 7: 0.05799194697768673, 8: 0.05115252244738129, 9: 0.04575749056067514}


@register(
    "benford_first_digit",
    oracle="""
    -- Benford's-law forensic audit of order totals: observed share of
    -- each leading digit of the exact integer cents (BIGINT decimal
    -- rendering is engine-identical, so the digit extraction is
    -- string-safe) vs the Benford expectation (literal doubles).
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice > 0),
    counts AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts)
    SELECT c.digit, c.n,
           ROUND(CAST(c.n AS DOUBLE) / t.total, 6) + 0.0 AS pct,
           ROUND(CASE c.digit WHEN 1 THEN 0.3010299956639812 WHEN 2 THEN 0.17609125905568124 WHEN 3 THEN 0.12493873660829992 WHEN 4 THEN 0.09691001300805642 WHEN 5 THEN 0.07918124604762482 WHEN 6 THEN 0.06694678963061322 WHEN 7 THEN 0.05799194697768673 WHEN 8 THEN 0.05115252244738129 WHEN 9 THEN 0.04575749056067514 END, 6) + 0.0 AS benford_pct,
           ROUND(ROUND(CAST(c.n AS DOUBLE) / t.total, 6)
                 - ROUND(CASE c.digit WHEN 1 THEN 0.3010299956639812 WHEN 2 THEN 0.17609125905568124 WHEN 3 THEN 0.12493873660829992 WHEN 4 THEN 0.09691001300805642 WHEN 5 THEN 0.07918124604762482 WHEN 6 THEN 0.06694678963061322 WHEN 7 THEN 0.05799194697768673 WHEN 8 THEN 0.05115252244738129 WHEN 9 THEN 0.04575749056067514 END, 6), 6) + 0.0
             AS excess
    FROM counts c CROSS JOIN tot t
    ORDER BY c.digit
    """,
    survey_ref="extended: Benford first-digit forensic audit (literal-expectation compare)",
)
def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forensic data-quality screen: the leading-digit distribution of
    order totals against Benford's law — the classic fabricated-data
    detector. The digit comes from the BIGINT cents' decimal string
    (engine-identical rendering; no float formatting, no log10 in the
    plan — expectations are Python-computed literals). One 9-key
    count; everything after is metadata-sized; each share is one
    double division."""
    t = catalog.tables(spark, sf_dir)
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
    ).cast("long")
    counts = (
        t["orders"]
        .filter(F.col("o_totalprice") > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    total = counts.agg(F.sum("n").cast("long")).collect()[0][0]  # bounded scalar
    ben_col = F.lit(None).cast("double")
    for dd in sorted(_BENFORD, reverse=True):
        ben_col = F.when(F.col("digit") == dd, F.lit(_BENFORD[dd])).otherwise(ben_col)
    pct = F.round(F.col("n").cast("double") / F.lit(total), 6) + 0.0
    benp = F.round(ben_col, 6) + 0.0
    return (
        counts.select(
            "digit",
            "n",
            pct.alias("pct"),
            benp.alias("benford_pct"),
            (F.round(pct - benp, 6) + 0.0).alias("excess"),
        )
        .orderBy("digit")
    )


@register(
    "revenue_gini",
    oracle="""
    -- Gini coefficient of customer revenue via the rank formula
    -- G = (2*SUM(i*x_i))/(n*SUM(x)) - (n+1)/n over ascending-sorted
    -- exact cents: every moment an exact BIGINT (headroom to ~10^5
    -- customers at 10^11 cents each; DECIMAL(38) documented past
    -- that), then ONE double expression in pinned order.
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey),
    ranked AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents ASC, o_custkey ASC) AS i
      FROM per_cust),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS sx,
             CAST(SUM(i * cents) AS BIGINT) AS six
      FROM ranked)
    SELECT n AS n_customers,
           ROUND(sx / 100.0, 2) + 0.0 AS total_revenue,
           ROUND(2.0 * six / (CAST(n AS DOUBLE) * sx)
                 - (CAST(n AS DOUBLE) + 1.0) / n, 6) + 0.0 AS gini
    FROM m
    """,
    survey_ref="extended: Gini coefficient (inequality scalar, rank-moment formula)",
)
def q_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scalar inequality measure to go with the Pareto deciles:
    the Gini coefficient of per-customer revenue by the rank-moment
    formula — Σi·xᵢ and Σx are exact BIGINT sums over the distributed
    two-phase rank (no single-task sort), the final G is one pinned-
    order double expression. 0 = perfectly equal, →1 = one customer
    pays everything."""
    from ..operators.sampling import distributed_row_number

    t = catalog.tables(spark, sf_dir)
    per_cust = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    ranked = distributed_row_number(per_cust, ("cents", "o_custkey"), "i")
    m = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sx"),
        F.sum(F.col("i") * F.col("cents")).cast("long").alias("six"),
    )
    return m.select(
        F.col("n").alias("n_customers"),
        (F.round(F.col("sx") / 100.0, 2) + 0.0).alias("total_revenue"),
        (
            F.round(
                2.0 * F.col("six") / (F.col("n").cast("double") * F.col("sx"))
                - (F.col("n").cast("double") + 1.0) / F.col("n"),
                6,
            )
            + 0.0
        ).alias("gini"),
    )


@register(
    "part_price_boxplot",
    oracle="""
    -- Five-number summary (box plot) of part retail price per brand,
    -- every quantile a NEAREST-RANK selection over exact cents
    -- ((cents, p_partkey) tiebreak) — one picked row per statistic,
    -- no interpolation, so the summary replays on any engine.
    WITH p AS (
      SELECT p_brand, p_partkey,
             CAST(ROUND(p_retailprice * 100) AS BIGINT) AS cents
      FROM part),
    ranked AS (
      SELECT p_brand, cents,
             ROW_NUMBER() OVER (PARTITION BY p_brand
                                ORDER BY cents, p_partkey) AS rn,
             COUNT(*) OVER (PARTITION BY p_brand) AS n
      FROM p)
    SELECT p_brand,
           CAST(MIN(n) AS BIGINT) AS n_parts,
           ROUND(MIN(cents) / 100.0, 2) + 0.0 AS min_price,
           ROUND(MIN(CASE WHEN rn = CAST(CEIL(0.25 * n) AS BIGINT)
                          THEN cents END) / 100.0, 2) + 0.0 AS q1,
           ROUND(MIN(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT)
                          THEN cents END) / 100.0, 2) + 0.0 AS median,
           ROUND(MIN(CASE WHEN rn = CAST(CEIL(0.75 * n) AS BIGINT)
                          THEN cents END) / 100.0, 2) + 0.0 AS q3,
           ROUND(MAX(cents) / 100.0, 2) + 0.0 AS max_price
    FROM ranked
    GROUP BY p_brand ORDER BY p_brand
    """,
    survey_ref="extended: per-brand five-number summary (nearest-rank box plot)",
)
def q_part_price_boxplot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE-style box-plot table: min/q1/median/q3/max of part
    price per brand, every quantile a nearest-rank pick over exact
    integer cents (the engine-portable alternative to interpolating
    percentile functions — round-8 rule). One brand-keyed rank window
    + one rollup; at 100 TB swap the rank window for approx_percentile
    per brand (documented, tests/test_approx.py covers the sketch
    path)."""
    t = catalog.tables(spark, sf_dir)
    p = t["part"].select(
        "p_brand",
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("cents"),
    )
    wr = Window.partitionBy("p_brand").orderBy("cents", "p_partkey")
    wn = Window.partitionBy("p_brand")
    ranked = p.select(
        "p_brand",
        "cents",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def near(pq: str):
        sel = F.when(
            F.col("rn") == F.ceil(F.lit(pq).cast("double") * F.col("n")),
            F.col("cents"),
        )
        return F.round(F.min(sel) / 100.0, 2) + 0.0

    return (
        ranked.groupBy("p_brand")
        .agg(
            F.min("n").cast("long").alias("n_parts"),
            (F.round(F.min("cents") / 100.0, 2) + 0.0).alias("min_price"),
            near("0.25").alias("q1"),
            near("0.5").alias("median"),
            near("0.75").alias("q3"),
            (F.round(F.max("cents") / 100.0, 2) + 0.0).alias("max_price"),
        )
        .orderBy("p_brand")
    )


@register(
    "snapshot_reconcile",
    oracle="""
    -- Snapshot reconciliation: classify rows between snapshot A
    -- (orders) and a deterministically-derived snapshot B (drop
    -- okey%97=0, +1 cent on okey%89=0, clone okey%83=0 with a
    -- shifted key) via ONE full-outer join on the PK -> per-class
    -- row counts and the net value delta in exact cents.
    WITH a AS (
      SELECT o_orderkey AS okey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    b AS (
      SELECT okey,
             CASE WHEN okey % 89 = 0 THEN cents + 1 ELSE cents END AS cents
      FROM a WHERE okey % 97 <> 0
      UNION ALL
      SELECT okey + 1000000000 AS okey, cents FROM a WHERE okey % 83 = 0),
    j AS (
      SELECT CASE WHEN a.okey IS NULL THEN 'added'
                  WHEN b.okey IS NULL THEN 'removed'
                  WHEN a.cents <> b.cents THEN 'changed'
                  ELSE 'unchanged' END AS change_type,
             COALESCE(b.cents, 0) - COALESCE(a.cents, 0) AS delta
      FROM a FULL OUTER JOIN b ON a.okey = b.okey)
    SELECT change_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(CAST(SUM(delta) AS BIGINT) / 100.0, 2) + 0.0 AS net_delta
    FROM j GROUP BY change_type ORDER BY change_type
    """,
    survey_ref="extended: snapshot reconciliation (full-outer PK diff, added/removed/changed)",
)
def q_snapshot_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-reconciliation primitive: diff two table snapshots by
    primary key (ONE full-outer equi-join) and classify every row as
    added / removed / changed / unchanged with the net value delta —
    the audit every ingestion or backfill runs before swapping a
    published table. Snapshot B is derived deterministically from A
    (modulo drop / +1-cent change / shifted-key clone) so the oracle
    replays the classification exactly; the same code path diffs two
    real snapshot directories. Exact integer cents throughout; the
    join shuffles once on the PK and the rollup key is 4 values."""
    t = catalog.tables(spark, sf_dir)
    a = t["orders"].select(
        F.col("o_orderkey").alias("okey"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    b = (
        a.filter(F.col("okey") % 97 != 0)
        .select(
            "okey",
            F.when(F.col("okey") % 89 == 0, F.col("cents") + 1)
            .otherwise(F.col("cents"))
            .alias("cents"),
        )
        .unionAll(
            a.filter(F.col("okey") % 83 == 0).select(
                (F.col("okey") + 1_000_000_000).alias("okey"), "cents"
            )
        )
    )
    sa, sb = a.alias("sa"), b.alias("sb")
    j = sa.join(sb, F.col("sa.okey") == F.col("sb.okey"), "full_outer").select(
        F.when(F.col("sa.okey").isNull(), "added")
        .when(F.col("sb.okey").isNull(), "removed")
        .when(F.col("sa.cents") != F.col("sb.cents"), "changed")
        .otherwise("unchanged")
        .alias("change_type"),
        (
            F.coalesce(F.col("sb.cents"), F.lit(0))
            - F.coalesce(F.col("sa.cents"), F.lit(0))
        ).alias("delta"),
    )
    return (
        j.groupBy("change_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            (F.round(F.sum("delta") / 100.0, 2) + 0.0).alias("net_delta"),
        )
        .orderBy("change_type")
    )


@register(
    "weekday_seasonality",
    oracle="""
    -- Weekday seasonality index of order revenue: a day's index is
    -- its revenue share x 7 (1.0 = flat). Exact-cent sums; the index
    -- is one double expression over two exact BIGINTs per row
    -- (7*wd/total — no float average in the denominator).
    WITH wd AS (
      SELECT CAST(isodow(o_orderdate) AS BIGINT) AS dow,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY isodow(o_orderdate)),
    tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS total FROM wd)
    SELECT wd.dow, wd.n_orders,
           ROUND(wd.cents / 100.0, 2) + 0.0 AS revenue,
           ROUND(7.0 * wd.cents / t.total, 4) + 0.0 AS seasonality_index
    FROM wd CROSS JOIN tot t
    ORDER BY wd.dow
    """,
    survey_ref="extended: weekday seasonality index (share-normalized calendar profile)",
)
def q_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar seasonality profile: each ISO weekday's revenue index
    (share × 7, so 1.0 = flat week). One 7-key aggregation — map-side
    partials absorb the scan — and a bounded scalar total; the index
    is 7·wd/total over exact integer cents, avoiding any float mean.
    Spark weekday()+1 ≡ DuckDB isodow (the engine-aligned convention
    from activity_heatmap)."""
    t = catalog.tables(spark, sf_dir)
    wd = (
        t["orders"]
        .groupBy((F.weekday("o_orderdate") + 1).cast("long").alias("dow"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
    )
    total = wd.agg(F.sum("cents").cast("long")).collect()[0][0]  # bounded scalar
    return wd.select(
        "dow",
        "n_orders",
        (F.round(F.col("cents") / 100.0, 2) + 0.0).alias("revenue"),
        (F.round(7.0 * F.col("cents") / F.lit(total), 4) + 0.0).alias(
            "seasonality_index"
        ),
    ).orderBy("dow")


@register(
    "brand_hhi_by_year",
    oracle="""
    -- Herfindahl-Hirschman concentration of lineitem revenue across
    -- brands, per order year. Determinism pattern: each brand share
    -- is ROUNDED to 9dp and cast to DECIMAL(12,9) BEFORE squaring and
    -- summing — decimal arithmetic is exact and order-invariant, so
    -- the cross-row SUM never depends on shuffle layout (the one
    -- place a float sum would); the final cast to DOUBLE rounds the
    -- identical exact rational on both engines.
    WITH by_brand AS (
      SELECT CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS yr,
             p.p_brand,
             CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY EXTRACT(year FROM l.l_shipdate), p.p_brand),
    tot AS (
      SELECT yr, CAST(SUM(cents) AS BIGINT) AS total FROM by_brand
      GROUP BY yr),
    shares AS (
      SELECT b.yr,
             CAST(ROUND(CAST(b.cents AS DOUBLE) / t.total, 9)
                  AS DECIMAL(12,9)) AS share
      FROM by_brand b JOIN tot t USING (yr))
    SELECT yr,
           CAST(COUNT(*) AS BIGINT) AS n_brands,
           ROUND(CAST(SUM(share * share) AS DOUBLE), 6) + 0.0 AS hhi
    FROM shares GROUP BY yr ORDER BY yr
    """,
    survey_ref="extended: HHI market concentration (order-invariant decimal share sum)",
)
def q_brand_hhi_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-concentration index per year: HHI = Σ share² across
    brands (1/25 = perfectly even over 25 brands, 1.0 = monopoly).
    The cross-row Σ share² is the one aggregate here a float could
    not carry deterministically — so shares are rounded to 9dp and
    cast to DECIMAL before squaring: decimal sums are EXACT and
    order-invariant, the engine-portable way to sum small floats
    across a shuffle (new pattern beside integer cents and rank
    selection). Everything upstream is the usual exact-cent integer
    aggregation with a broadcast part dim."""
    t = catalog.tables(spark, sf_dir)
    by_brand = (
        t["lineitem"]
        .join(
            F.broadcast(t["part"].select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(
            F.year("l_shipdate").cast("long").alias("yr"),
            "p_brand",
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    tot = by_brand.groupBy("yr").agg(F.sum("cents").cast("long").alias("total"))
    shares = by_brand.join(F.broadcast(tot), "yr").select(
        "yr",
        F.round(F.col("cents").cast("double") / F.col("total"), 9)
        .cast("decimal(12,9)")
        .alias("share"),
    )
    return (
        shares.groupBy("yr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_brands"),
            (
                F.round(
                    F.sum(F.col("share") * F.col("share")).cast("double"), 6
                )
                + 0.0
            ).alias("hhi"),
        )
        .orderBy("yr")
    )


@register(
    "supplier_latency_league",
    oracle="""
    -- Supplier fulfillment league: mean ship delay (days between
    -- order date and line ship date) per supplier, slowest 10 with a
    -- >= 20-line floor. Day differences are exact integers; the mean
    -- is ONE double division, and the cut ranks on the ROUNDED mean
    -- with (supplier) tiebreak so the boundary replays.
    WITH d AS (
      SELECT l.l_suppkey,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS delay_days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    agg AS (
      SELECT l_suppkey,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             CAST(SUM(delay_days) AS BIGINT) AS total_days
      FROM d GROUP BY l_suppkey
      HAVING COUNT(*) >= 20)
    SELECT a.l_suppkey, s.s_name, a.n_lines,
           ROUND(CAST(a.total_days AS DOUBLE) / a.n_lines, 4) + 0.0
             AS avg_delay_days
    FROM agg a JOIN supplier s ON a.l_suppkey = s.s_suppkey
    ORDER BY ROUND(CAST(a.total_days AS DOUBLE) / a.n_lines, 4) DESC,
             a.l_suppkey ASC
    LIMIT 10
    """,
    survey_ref="extended: supplier fulfillment-latency league (exact-integer day deltas)",
)
def q_supplier_latency_league(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operations league table: the 10 slowest suppliers by mean
    order→ship delay (≥20 lines so small-sample noise can't top the
    board). Day deltas are exact integers summed per supplier (one
    orderkey equi-join + one suppkey aggregate); the mean is one
    double division and the cut ranks on the ROUNDED mean with a
    suppkey tiebreak. Supplier names broadcast onto the 10-row-bound
    result path."""
    t = catalog.tables(spark, sf_dir)
    d = (
        t["lineitem"]
        .select("l_suppkey", "l_orderkey", "l_shipdate")
        .join(
            t["orders"].select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "l_suppkey",
            F.datediff(
                F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
            ).alias("delay_days"),
        )
    )
    agg = (
        d.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum("delay_days").cast("long").alias("total_days"),
        )
        .filter(F.col("n_lines") >= 20)
    )
    mean = F.round(F.col("total_days").cast("double") / F.col("n_lines"), 4)
    return (
        agg.join(
            F.broadcast(t["supplier"].select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            "l_suppkey",
            "s_name",
            "n_lines",
            (mean + 0.0).alias("avg_delay_days"),
        )
        .orderBy(F.desc("avg_delay_days"), F.asc("l_suppkey"))
        .limit(10)
    )


#: Inverse Poisson(1) CDF thresholds (cumulative e^{-1}·Σ 1/k!) — the
#: SAME double literals on both engines, so a uniform hash maps to an
#: identical replicate weight everywhere.
_POISSON_CDF = (
    "0.36787944117144233",  # k = 0
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238462",
    "0.9963401531726563",
    "0.9994058151824183",
    "0.9999167588507119",  # k = 6; else 7
)
_BOOT_B = 64  #: replicates; nearest-rank 2.5/97.5 percentiles = ranks 2/63
_BOOT_M = 1073741789  #: prime modulus < 2^30 (products stay < 2^63)
#: per-replicate odd multiplier: golden-ratio base + large odd stride —
#: every replicate is a different well-mixed multiplicative hash of the
#: per-row seed (small multipliers would correlate a row's weights
#: across replicates and narrow the CI)
_BOOT_MULT = "(2654435761 + 40503 * CAST(b AS BIGINT))"


def _poisson_w_sql(u: str) -> str:
    """CASE chain mapping a uniform [0,1) expression to a Poisson(1)
    draw — shared verbatim between the Spark expr and the oracle."""
    arms = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POISSON_CDF)
    )
    return f"CASE {arms} ELSE 7 END"


@register(
    "revenue_bootstrap_ci",
    oracle=f"""
    -- Poisson-bootstrap CI of the mean order value (the large-scale
    -- bootstrap: each row draws a Poisson(1) weight per replicate, so
    -- B resamples cost ONE pass and no data movement — no B full
    -- re-reads, no sampling coordination). One md5 seeds each ROW;
    -- each replicate mixes it with its own large odd multiplier mod a
    -- prime (exact integer ops, identical on both engines); replicate
    -- sums are exact integer cents; the CI is a nearest-rank pick
    -- over the {_BOOT_B} replicate means.
    WITH seeded AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             CAST(concat('0x', substr(md5('boot:' || CAST(o_orderkey AS VARCHAR)), 1, 15))
                  AS BIGINT) % {_BOOT_M} AS h0
      FROM orders),
    reps AS (
      SELECT s.cents, b.b,
             CAST((s.h0 * {_BOOT_MULT} + b) % {_BOOT_M} AS DOUBLE)
               / CAST({_BOOT_M} AS DOUBLE) AS u
      FROM seeded s CROSS JOIN (SELECT unnest(range(0, {_BOOT_B})) AS b) b),
    weighted AS (
      SELECT b, cents, {{W}} AS w FROM reps),
    means AS (
      SELECT b, CAST(SUM(w * cents) AS BIGINT) AS s,
             CAST(SUM(w) AS BIGINT) AS n_eff
      FROM weighted GROUP BY b),
    ranked AS (
      SELECT ROUND(CAST(s AS DOUBLE) / n_eff / 100.0, 4) + 0.0 AS mean_b,
             ROW_NUMBER() OVER (ORDER BY CAST(s AS DOUBLE) / n_eff, b) AS rn
      FROM means),
    full_mean AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
             ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   / CAST(COUNT(*) AS DOUBLE) / 100.0, 4) + 0.0 AS mean_value
      FROM orders)
    SELECT f.n_orders, f.mean_value,
           CAST({_BOOT_B} AS BIGINT) AS n_replicates,
           MIN(CASE WHEN r.rn = 2 THEN r.mean_b END) + 0.0 AS ci_lo,
           MIN(CASE WHEN r.rn = {_BOOT_B - 1} THEN r.mean_b END) + 0.0 AS ci_hi
    FROM ranked r CROSS JOIN full_mean f
    GROUP BY f.n_orders, f.mean_value
    """.replace("{W}", _poisson_w_sql("u")),
    survey_ref="extended: Poisson-bootstrap CI (one-pass hash-weighted resampling)",
)
def q_revenue_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap confidence interval for the mean order value in
    ONE pass — the large-scale (Poisson) bootstrap: instead of B
    resampled re-reads, every row draws a deterministic Poisson(1)
    weight per replicate, so the whole resampling plan is a bounded
    64× fan-out (explode over the replicate index), one exact-integer
    aggregation into 64 groups, and a nearest-rank pick of the
    2.5/97.5 percentile replicate means. Rank ties on the raw
    replicate mean break by replicate id; the reported means round
    AFTER ranking.

    Cost design: md5 runs ONCE PER ROW (the seed); each of the 64
    replicates derives its uniform from the seed with one multiply+mod
    against a large odd per-replicate multiplier (small multipliers
    would correlate a row's weights across replicates and narrow the
    CI; the md5-per-(row, replicate) formulation measured 17 s at
    sf0.1 vs ~2 s for this). Fan-out partial-aggregates map-side into
    ≤64 states per partition — the exchange carries 64 rows per input
    partition no matter the corpus. The statistical contract is pinned
    by tests/test_extended_ops.py::test_bootstrap_ci_brackets_mean.
    """
    t = catalog.tables(spark, sf_dir)
    seeded = t["orders"].select(
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
        F.expr(
            "CAST(conv(substring(md5(concat('boot:', CAST(o_orderkey AS STRING))), 1, 15), 16, 10) AS BIGINT)"
            f" % {_BOOT_M}"
        ).alias("h0"),
        # staged: CollapseProject would otherwise inline the md5 into
        # the post-explode projection and recompute it per REPLICATE
        # (64 md5/row — measured 5.7 s vs 1.3 s at sf0.1); the staged
        # frame is two integer columns per order
    ).transform(stage_frame)
    reps = seeded.select(
        "cents", F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"), "h0"
    ).select(
        "b",
        "cents",
        # CAST ... AS DOUBLE on both engines: a bare `/ M.0` literal is
        # DECIMAL in Spark SQL (38-digit division, measured 5.6 s vs
        # 0.9 s at sf0.1) and decimal-rounded in DuckDB — the explicit
        # double division is the identical IEEE op everywhere
        F.expr(
            f"CAST((h0 * {_BOOT_MULT} + b) % {_BOOT_M} AS DOUBLE)"
            f" / CAST({_BOOT_M} AS DOUBLE)"
        ).alias("u"),
    )
    weighted = reps.select("b", "cents", F.expr(_poisson_w_sql("u")).alias("w"))
    means = weighted.groupBy("b").agg(
        F.sum(F.col("w") * F.col("cents")).cast("long").alias("s"),
        F.sum("w").cast("long").alias("n_eff"),
    )
    wr = Window.orderBy(
        (F.col("s").cast("double") / F.col("n_eff")).asc(), F.col("b").asc()
    )
    # global window over exactly 64 replicate rows — metadata-sized
    ranked = means.select(
        (F.round(F.col("s").cast("double") / F.col("n_eff") / 100.0, 4) + 0.0).alias(
            "mean_b"
        ),
        F.row_number().over(wr).alias("rn"),
    )
    full = t["orders"].agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        (
            F.round(
                F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
                .cast("long")
                .cast("double")
                / F.count(F.lit(1)).cast("double")
                / 100.0,
                4,
            )
            + 0.0
        ).alias("mean_value"),
    )
    return (
        ranked.crossJoin(F.broadcast(full))
        .groupBy("n_orders", "mean_value")
        .agg(
            F.lit(_BOOT_B).cast("long").alias("n_replicates"),
            (F.min(F.when(F.col("rn") == 2, F.col("mean_b"))) + 0.0).alias("ci_lo"),
            (F.min(F.when(F.col("rn") == _BOOT_B - 1, F.col("mean_b"))) + 0.0).alias(
                "ci_hi"
            ),
        )
        .select("n_orders", "mean_value", "n_replicates", "ci_lo", "ci_hi")
    )
