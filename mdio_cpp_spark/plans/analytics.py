"""Remaining TPC-H-shaped analytics (Q2/Q9/Q12/Q15/Q16/Q17/Q19/Q20/Q21
analogs), adapted to the driver tables (no partsupp table, no
shipmode/commitdate/receiptdate columns — each query keeps the original's
*plan shape* and substitutes available columns; the adaptation is noted per
query). SURVEY §2.5 relational-completeness rows.

Shared conventions (see plans/base.py): money stays in exact integer
fixed-point (cents / 1e-4 / 1e-5 units) until the final display division so
map-side partial aggregation is exact and accumulation-order independent;
every computed column is aliased identically in the Spark plan and the
DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mdio_cpp_spark.catalog import table
from mdio_cpp_spark.plans.base import declared
from mdio_cpp_spark.session import local_frame, tune


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune(spark)
    return table(spark, sf_dir, name)


def _e2(col: str):
    """Exact cents: ROUND(x*100) AS BIGINT — same expression both engines."""
    return F.round(F.col(col) * 100).cast("long")


@declared(
    "h14_priority_class_count",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_returnflag IN ('A', 'R')
      AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def h14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped two-way classification count (shipmode column is
    absent from the driver tables; l_returnflag plays its role and
    o_orderpriority keeps Q12's urgent/non-urgent CASE). The lineitem side
    pre-aggregates to (orderkey, returnflag, cnt) BEFORE the fact-fact join
    — the join then carries one row per order-flag pair instead of one per
    line, and the post-join agg is a 2-row reduce. Both facts shuffle on
    orderkey once; at 100 TB this is the bucketed-join layout."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_returnflag").isin("A", "R")
            & (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
        )
        .groupBy("l_orderkey", "l_returnflag")
        .agg(F.count(F.lit(1)).alias("nlines"))
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, F.col("nlines")).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, F.col("nlines")).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@declared(
    "h15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS total_e4
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total_e4 AS DOUBLE) / 10000.0 AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = l_suppkey
    WHERE total_e4 = (SELECT MAX(total_e4) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def h15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 top supplier: quarter-revenue view, global-max scalar
    subquery, supplier detail join. The revenue agg is the only data-sized
    shuffle; its result (|suppliers| rows) is reused for the max via a
    broadcast 1-row cross join (no second lineitem scan — Q15's CREATE
    VIEW materialized once), and the supplier dimension broadcasts. Exact
    integer revenue means the max comparison can never straddle a float
    rounding boundary (ties are real ties)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("date"))
    )
    rev_e4 = _e2("l_extendedprice") * (F.lit(100) - _e2("l_discount"))
    revenue = (
        li.select("l_suppkey", rev_e4.alias("r"))
        .groupBy("l_suppkey")
        .agg(F.sum("r").alias("total_e4"))
    )
    mx = revenue.agg(F.max("total_e4").alias("mx_e4"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(F.broadcast(mx))
        .filter(F.col("total_e4") == F.col("mx_e4"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("total_e4").cast("double") / 10000.0).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@declared(
    "h16_supplier_cnt_by_part",
    oracle="""
    SELECT p_type, p_size, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_type <> 'PROMO' AND p_size IN (1, 2, 3, 4, 5)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_type, p_size
    ORDER BY supplier_cnt DESC, p_type, p_size
    """,
)
def h16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped distinct-supplier count per part class (partsupp is
    absent — lineitem is the supplier-part relation; p_type/p_size stand in
    for brand/type/size; the excluded-supplier NOT IN keeps Q16's anti-join
    against a filtered supplier list, with s_acctbal < 0 replacing the
    comment LIKE). Part and the excluded-supplier list both broadcast; the
    COUNT(DISTINCT) is two hash aggregates — Spark plans it as a partial
    distinct on (type, size, suppkey) before the final count, so the
    shuffle carries deduplicated triples, never raw lines."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") != "PROMO") & F.col("p_size").isin(1, 2, 3, 4, 5)
    ).select("p_partkey", "p_type", "p_size")
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("l_suppkey")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(bad), "l_suppkey", "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_type", "p_size")
    )


@declared(
    "h17_small_qty_revenue",
    oracle="""
    WITH pq AS (
      SELECT l_partkey,
             SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS s_e2,
             COUNT(*) AS n
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
             / 700.0 AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
                  JOIN pq ON pq.l_partkey = lineitem.l_partkey
    WHERE p_type = 'SMALL'
      AND CAST(ROUND(l_quantity * 100) AS BIGINT) * 5 * n < s_e2
    """,
)
def h17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 small-quantity revenue: lines below 20% of their part's
    average quantity (the correlated AVG subquery). The part-class filter
    is pushed BELOW the per-part average (equivalent — the average is
    per-part), so both lineitem passes are semi-join-pruned to the selected
    class before any aggregation; the averages then join the probe side on
    partkey (AQE broadcasts the agg when it fits, falls back to a
    co-partitioned shuffle join when the class is large — never a forced
    broadcast of an SF-scaling frame). The 20% comparison is exact integers
    (q*5*n < Σq — no float average), so both engines make identical
    keep/drop decisions on boundary rows. Brand/container filter becomes
    p_type (available column)."""
    q_e2 = F.round(F.col("l_quantity") * 100).cast("long")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "SMALL").select(
        F.col("p_partkey").alias("l_partkey")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .join(F.broadcast(p), "l_partkey", "left_semi")
        .select("l_partkey", q_e2.alias("q_e2"), _e2("l_extendedprice").alias("price_e2"))
    )
    pq = li.groupBy("l_partkey").agg(
        F.sum("q_e2").alias("s_e2"), F.count(F.lit(1)).alias("n")
    )
    return (
        li.join(pq, "l_partkey")
        .filter(F.col("q_e2") * 5 * F.col("n") < F.col("s_e2"))
        .agg((F.sum("price_e2").cast("double") / 700.0).alias("avg_yearly"))
    )


@declared(
    "h18_disjunctive_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT)
             AS revenue_e4
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_type = 'SMALL'  AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
       OR (p_type = 'MEDIUM' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
       OR (p_type = 'LARGE'  AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)
    """,
)
def h18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 disjunctive-predicate revenue. The classic Q19 trap is
    letting the OR reach the join condition (forces a nested-loop); here the
    join stays a pure broadcast equi-join on partkey and the disjunction is
    a post-join filter over already-joined columns — Catalyst additionally
    derives the common `p_size >= 1` and quantity-range envelope for
    pushdown. Brand/container → p_type/p_size (available columns)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity").between(1, 40))
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type", "p_size")
    q = F.col("l_quantity")
    disj = (
        ((F.col("p_type") == "SMALL") & F.col("p_size").between(1, 15) & q.between(1, 20))
        | ((F.col("p_type") == "MEDIUM") & F.col("p_size").between(1, 25) & q.between(10, 30))
        | ((F.col("p_type") == "LARGE") & F.col("p_size").between(1, 35) & q.between(20, 40))
    )
    rev_e4 = _e2("l_extendedprice") * (F.lit(100) - _e2("l_discount"))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(disj)
        .agg(F.sum(rev_e4).alias("revenue_e4"))
    )


@declared(
    "h19_concentrated_suppliers",
    oracle="""
    WITH pairs AS (
      SELECT l_suppkey, l_partkey,
             SUM(CASE WHEN l_shipdate >= DATE '1996-01-01'
                       AND l_shipdate < DATE '1997-01-01'
                      THEN CAST(ROUND(l_quantity * 100) AS BIGINT) ELSE 0 END) AS q96_e2,
             SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS qall_e2
      FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      GROUP BY l_suppkey, l_partkey
    )
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (SELECT l_suppkey FROM pairs WHERE q96_e2 * 2 > qall_e2)
    ORDER BY s_suppkey
    """,
)
def h19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped qualified-supplier listing (partsupp.availqty is
    absent — the threshold becomes "more than half of this supplier-part
    pair's all-time quantity shipped in 1996", keeping Q20's
    agg-threshold-then-semi-join chain). The part-name IN-subquery is a
    broadcast semi-join pushed below the pair aggregation, both period sums
    come out of ONE conditional aggregate pass (no lineitem self-join), and
    the final supplier lookup is a broadcast semi-join on the deduplicated
    qualifying-supplier ids."""
    part_ids = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select(F.col("p_partkey").alias("l_partkey"))
    )
    li = _t(spark, sf_dir, "lineitem")
    q_e2 = F.round(F.col("l_quantity") * 100).cast("long")
    in96 = (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date")) & (
        F.col("l_shipdate") < F.lit("1997-01-01").cast("date")
    )
    pairs = (
        li.join(F.broadcast(part_ids), "l_partkey", "left_semi")
        .select("l_suppkey", "l_partkey", q_e2.alias("q"), in96.alias("in96"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(F.col("in96"), F.col("q")).otherwise(0)).alias("q96_e2"),
            F.sum("q").alias("qall_e2"),
        )
    )
    qualified = (
        pairs.filter(F.col("q96_e2") * 2 > F.col("qall_e2"))
        .select(F.col("l_suppkey").alias("s_suppkey"))
        .distinct()
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return s.join(F.broadcast(qualified), "s_suppkey", "left_semi").orderBy("s_suppkey")


@declared(
    "h20_sole_returning_supplier",
    oracle="""
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier, lineitem l1, orders
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    """,
)
def h20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped sole-fault supplier count (receipt/commit dates are
    absent — "kept waiting" becomes "returned": count a supplier's returned
    lines in finished multi-supplier orders where NO other supplier's line
    was returned). The oracle keeps Q21's literal EXISTS / NOT EXISTS
    self-join pair; the Spark plan replaces both with a per-order
    aggregate (distinct supplier count, distinct returning-supplier count)
    joined back — versus the reference shape's two extra fact-fact
    self-joins. The distinct pair is computed as a two-level aggregate
    (dedupe to (order, supplier, any-return) pairs, then reduce per order)
    rather than two countDistincts, which would compile to an Expand (2×
    rows) plus a 4-key exchange; this way the one data-sized shuffle
    carries each pair once. A returned line qualifies iff its order has >1
    supplier and exactly 1 returning supplier (necessarily this one)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_returnflag")
    o_f = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    li_f = li.join(o_f, F.col("l_orderkey") == F.col("o_orderkey")).drop("o_orderkey")
    pairs = li_f.groupBy("l_orderkey", "l_suppkey").agg(
        F.max((F.col("l_returnflag") == "R").cast("int")).alias("ret")
    )
    per_order = pairs.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("ret").alias("n_ret_supp"),
    )
    qualifying = (
        li_f.filter(F.col("l_returnflag") == "R")
        .join(
            per_order.filter((F.col("n_supp") > 1) & (F.col("n_ret_supp") == 1)),
            "l_orderkey",
            "left_semi",
        )
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        qualifying.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
    )


@declared(
    "h21_min_cost_supplier",
    oracle="""
    WITH unit AS (
      SELECT l_partkey, l_suppkey,
             MIN(CAST(ROUND(l_extendedprice / l_quantity * 100) AS BIGINT)) AS u_e2
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    best AS (SELECT l_partkey, MIN(u_e2) AS m_e2 FROM unit GROUP BY l_partkey)
    SELECT p_partkey, s_suppkey, s_name,
           CAST(ROUND(s_acctbal * 100) AS BIGINT) AS s_acctbal_e2,
           CAST(u_e2 AS DOUBLE) / 100.0 AS unit_cost
    FROM part
      JOIN unit ON l_partkey = p_partkey
      JOIN best USING (l_partkey)
      JOIN supplier ON s_suppkey = l_suppkey
    WHERE p_size = 7 AND p_type = 'STANDARD' AND u_e2 = m_e2
    ORDER BY s_acctbal_e2 DESC, s_suppkey, p_partkey
    """,
)
def h21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped min-cost supplier (partsupp.supplycost is absent —
    unit cost derives from lineitem as min(extendedprice/quantity) per
    supplier-part pair, in exact cents). Q2's correlated MIN subquery
    becomes a per-part MIN over the pair aggregate joined back on equality
    — ties keep every achieving supplier, exactly the reference semantics.
    The part filter broadcasts and prunes the pair aggregate BEFORE the
    min/join-back, so the heavy agg runs only over the selected part class;
    supplier detail broadcasts last."""
    p = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_size") == 7) & (F.col("p_type") == "STANDARD"))
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem")
    u_e2 = F.round(F.col("l_extendedprice") / F.col("l_quantity") * 100).cast("long")
    unit = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select("p_partkey", "l_suppkey", u_e2.alias("u"))
        .groupBy("p_partkey", "l_suppkey")
        .agg(F.min("u").alias("u_e2"))
    )
    best = unit.groupBy("p_partkey").agg(F.min("u_e2").alias("m_e2"))
    s = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", F.round(F.col("s_acctbal") * 100).cast("long").alias("s_acctbal_e2")
    )
    return (
        unit.join(best, "p_partkey")
        .filter(F.col("u_e2") == F.col("m_e2"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "p_partkey",
            "s_suppkey",
            "s_name",
            "s_acctbal_e2",
            (F.col("u_e2").cast("double") / 100.0).alias("unit_cost"),
        )
        .orderBy(F.col("s_acctbal_e2").desc(), "s_suppkey", "p_partkey")
    )


@declared(
    "h22_nation_profit",
    oracle="""
    SELECT n_name AS nation,
           CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)) * 10
                    - CAST(ROUND(l_quantity * 100) AS BIGINT)
                      * CAST(ROUND(p_retailprice * 100) AS BIGINT)) AS BIGINT)
             AS profit_e5
    FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      JOIN orders ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%gear%'
    GROUP BY n_name, EXTRACT(year FROM o_orderdate)
    ORDER BY n_name, o_year DESC
    """,
)
def h22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped nation/year profit (partsupp.supplycost is absent —
    unit cost is modeled as 10% of p_retailprice, keeping Q9's
    revenue-minus-cost measure; everything scaled to exact 1e-5 integer
    units so the subtraction never leaves fixed point: rev_e4*10 −
    qty_e2·retail_e2). Join order: the part-name filter broadcasts first
    and prunes lineitem before the orderkey shuffle against orders (the one
    fact-fact join); supplier and nation broadcast. Q9's plan trap —
    joining orders before pruning by part — would shuffle the full fact."""
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%gear%"))
        .select("p_partkey", _e2("p_retailprice").alias("retail_e2"))
    )
    li = _t(spark, sf_dir, "lineitem")
    profit_e5 = (
        _e2("l_extendedprice") * (F.lit(100) - _e2("l_discount")) * 10
        - F.round(F.col("l_quantity") * 100).cast("long") * F.col("retail_e2")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            profit_e5.alias("pe5"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("pe5").alias("profit_e5"))
        .orderBy("nation", F.col("o_year").desc())
    )


@declared(
    "ev01_funnel",
    oracle="""
    WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
          JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
          WHERE e.event_type = 'click' GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
          JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
          WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT step, step_name, n_users FROM (
      SELECT 1 AS step, 'view' AS step_name, CAST(COUNT(*) AS BIGINT) AS n_users FROM v
      UNION ALL SELECT 2, 'click', CAST(COUNT(*) AS BIGINT) FROM c
      UNION ALL SELECT 3, 'purchase', CAST(COUNT(*) AS BIGINT) FROM p
    ) ORDER BY step
    """,
)
def ev01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel over the events table: users who viewed, then LATER
    clicked, then LATER purchased (strict temporal ordering — a click
    before the first view does not advance the funnel; per-step times are
    the earliest qualifying instant). Every stage is keyed on user_id: a
    type-filtered min-aggregate joined to the previous stage's frame with
    the ts > t residual, so one user_id hash partitioning serves all three
    aggs and both joins (co-partitioned at any scale; the per-stage frames
    shrink monotonically). The final 3-row report is a union of counts."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    def first_after(step_type: str, prev: DataFrame | None) -> DataFrame:
        e = ev.filter(F.col("event_type") == step_type)
        if prev is not None:
            e = e.join(prev, "user_id").filter(F.col("ts") > F.col("t"))
        return e.groupBy("user_id").agg(F.min("ts").alias("t"))

    v = first_after("view", None)
    c = first_after("click", v)
    p = first_after("purchase", c)
    counts = [
        frame.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(i + 1).cast("int").alias("step"),
            F.lit(nm).alias("step_name"),
            "n_users",
        )
        for i, (nm, frame) in enumerate([("view", v), ("click", c), ("purchase", p)])
    ]
    return counts[0].unionByName(counts[1]).unionByName(counts[2]).orderBy("step")


@declared(
    "ev02_cohort_retention",
    oracle="""
    WITH d AS (SELECT DISTINCT user_id,
                      CAST(ts AS DATE) - DATE '2024-01-01' AS day
               FROM events),
    f AS (SELECT user_id, MIN(day) AS day0 FROM d GROUP BY user_id)
    SELECT CAST(day0 // 7 AS BIGINT) AS cohort_week,
           CAST((day - day0) // 7 AS BIGINT) AS offset_week,
           CAST(COUNT(DISTINCT d.user_id) AS BIGINT) AS active_users
    FROM d JOIN f USING (user_id)
    GROUP BY 1, 2 ORDER BY cohort_week, offset_week
    """,
)
def ev02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity week, counted
    as active per subsequent week offset. Events collapse to DISTINCT
    (user, day) FIRST — the dedup absorbs any per-day event volume before
    anything else shuffles, so downstream cost is bounded by users×days,
    not events. The first-activity frame re-aggregates the same
    user_id-partitioned data (exchange reuse), the join is co-partitioned
    on user_id, and the final matrix agg needs no distinct (rows are
    already unique per (user, day), and per (user, week-pair) counting
    collapses in the partial agg). Week buckets are integer day arithmetic
    — no engine-specific week-truncation semantics."""
    ev = _t(spark, sf_dir, "events")
    d = (
        ev.select(
            "user_id",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias("day"),
        )
        .distinct()
    )
    f = d.groupBy("user_id").agg(F.min("day").alias("day0"))
    pairs = (
        d.join(f, "user_id")
        .select(
            # FLOOR division (DuckDB's //): Spark's integer `div` truncates
            # toward zero, which would disagree for pre-epoch (negative) days
            F.floor(F.col("day0") / 7).cast("long").alias("cohort_week"),
            F.floor((F.col("day") - F.col("day0")) / 7).cast("long").alias("offset_week"),
            "user_id",
        )
        .distinct()
    )
    return (
        pairs.groupBy("cohort_week", "offset_week")
        .agg(F.count(F.lit(1)).alias("active_users"))
        .orderBy("cohort_week", "offset_week")
    )


@declared(
    "u02_scd2_history",
    oracle="""
    WITH ch AS (
      SELECT key, new_value, change_date FROM (
        SELECT o_custkey AS key, o_totalprice AS new_value,
               CAST(o_orderdate AS DATE) AS change_date,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders
        WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-07-01'
      ) WHERE rn = 1
    ),
    t AS (SELECT c_custkey AS key, c_acctbal AS value FROM customer)
    SELECT key, value, CAST(valid_from AS TIMESTAMP) AS valid_from,
           CAST(valid_to AS TIMESTAMP) AS valid_to FROM (
      SELECT t.key, t.value, DATE '1995-01-01' AS valid_from,
             CASE WHEN ch.key IS NOT NULL AND ch.new_value <> t.value
                  THEN ch.change_date END AS valid_to
      FROM t LEFT JOIN ch ON t.key = ch.key
      UNION ALL
      SELECT ch.key, ch.new_value, ch.change_date, CAST(NULL AS DATE)
      FROM ch LEFT JOIN t ON t.key = ch.key
      WHERE t.key IS NULL OR ch.new_value <> t.value
    ) ORDER BY key, valid_from
    """,
)
def u02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension merge (operators/merge.py
    scd2_apply): the customer dimension is versioned (one current row per
    key), a CDC batch (each customer's latest H1-1996 order, deterministic
    latest-by-(date, orderkey)) closes the current version at the change
    date and opens a new one — history rows immutable, no-change updates
    suppressed, unmatched keys inserted. The dimension never shuffles: the
    batch broadcasts for the close join, new versions come off that same
    joined stream, and inserts probe matched keys tiny-vs-tiny. No
    reference analog (nearest is CommitMetadata's replace-wholesale
    attribute snapshots, stats.h:408-490 — SCD2 is the relational
    versioned-history twin)."""
    from pyspark.sql import Window

    from mdio_cpp_spark.operators.merge import scd2_apply

    target = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        F.col("c_acctbal").alias("value"),
        F.lit("1995-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    changes = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1996-07-01").cast("date"))
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("key"),
            F.col("o_totalprice").alias("value"),
            F.to_date("o_orderdate").alias("change_date"),
        )
    )
    return (
        scd2_apply(target, changes, "key", "value")
        .select(
            "key",
            "value",
            F.col("valid_from").cast("timestamp").alias("valid_from"),
            F.col("valid_to").cast("timestamp").alias("valid_to"),
        )
        .orderBy("key", "valid_from")
    )


@declared(
    "g06_unpivot",
    oracle="""
    SELECT n_name, measure, val_e2 FROM (
      SELECT n_name, 'acctbal' AS measure,
             CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS val_e2
      FROM customer JOIN nation ON n_nationkey = c_nationkey GROUP BY n_name
      UNION ALL
      SELECT n_name, 'orders_total',
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      FROM orders JOIN customer ON c_custkey = o_custkey
                  JOIN nation ON n_nationkey = c_nationkey
      GROUP BY n_name
    ) ORDER BY n_name, measure
    """,
)
def g06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt — the inverse of g03's pivot: a wide per-nation
    aggregate (two exact fixed-point measures as columns) melts into long
    (nation, measure, value) rows via DataFrame.unpivot, which compiles to
    one Expand over the aggregated frame — 2× |nations| rows, no extra
    shuffle (the melt runs AFTER aggregation, so Expand multiplies group
    rows, never base data). The oracle reconstructs the long form as a
    UNION ALL of the per-measure aggregates."""
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    bal = per_cust.groupBy("n_name").agg(F.sum(_e2("c_acctbal")).alias("acctbal"))
    tot = (
        o.join(per_cust.select("c_custkey", "n_name"),
               F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("n_name")
        .agg(F.sum(_e2("o_totalprice")).alias("orders_total"))
    )
    wide = bal.join(tot, "n_name", "full_outer")
    return (
        wide.unpivot("n_name", ["acctbal", "orders_total"], "measure", "val_e2")
        # the oracle is a UNION ALL of independent aggregates: a nation
        # missing one measure (customers but zero orders) contributes no row
        # for it — drop the outer join's NULL slots to match
        .filter(F.col("val_e2").isNotNull())
        .orderBy("n_name", "measure")
    )


@declared(
    "ml01_group_ols",
    oracle="""
    WITH pts AS (
      SELECT n_name,
             CAST(EXTRACT(year FROM o_orderdate) - 1995 AS BIGINT) AS x,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS y_e2
      FROM orders JOIN customer ON c_custkey = o_custkey
                  JOIN nation ON n_nationkey = c_nationkey
    ),
    s AS (
      SELECT n_name, COUNT(*) AS n, SUM(x) AS sx, SUM(y_e2) AS sy,
             SUM(x * x) AS sxx, SUM(x * y_e2) AS sxy
      FROM pts GROUP BY n_name
    )
    SELECT n_name, CAST(n AS BIGINT) AS n,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * 100.0), 4) AS slope,
           ROUND((CAST(sy AS DOUBLE) / n
                  - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(sx AS DOUBLE) / n)) / 100.0, 4) AS intercept
    FROM s ORDER BY n_name
    """,
)
def ml01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped OLS trend fit (y = a + b·x per nation, x = order year,
    y = order value) computed from EXACT integer sufficient statistics
    (n, Σx, Σy, Σxx, Σxy) — one partial-aggregatable pass, the closed-form
    slope/intercept evaluated per group afterward. Built-in regr_slope /
    regr_intercept accumulate in floats whose partial-merge order varies
    run to run; integer moments make the fit bit-reproducible at any
    parallelism (x is a small offset year and y fixed-point cents, so the
    moments stay far inside int64; their COMBINATIONS n·Σxy − Σx·Σy are
    evaluated in double — identical IEEE products both engines — because
    those would overflow int64 near sf100). The customer bridge to nation broadcasts
    (n_name rides the customer dimension), so the only data-sized exchange
    is the orders-customer key join, then |nations| sufficient-stat rows."""
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = _t(spark, sf_dir, "orders")
    pts = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "n_name",
            (F.year("o_orderdate") - 1995).cast("long").alias("x"),
            _e2("o_totalprice").alias("y_e2"),
        )
    )
    s = pts.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y_e2").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y_e2")).alias("sxy"),
    )
    # combine in DOUBLE: the individual moments fit int64 at any sf, but
    # n*sxy / sx*sy would overflow int64 near sf100; double products of
    # exact ints are IEEE-identical across engines
    num = (
        F.col("n").cast("double") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    )
    den = (
        F.col("n").cast("double") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    slope_e2 = num / den
    return s.select(
        "n_name",
        "n",
        F.round(slope_e2 / 100.0, 4).alias("slope"),
        F.round(
            (F.col("sy").cast("double") / F.col("n")
             - slope_e2 * (F.col("sx").cast("double") / F.col("n"))) / 100.0,
            4,
        ).alias("intercept"),
    ).orderBy("n_name")


@declared(
    "t14_lang_mix_lift",
    oracle="""
    WITH sl AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_sl
                FROM documents GROUP BY source, lang),
    s AS (SELECT source, CAST(SUM(n_sl) AS BIGINT) AS n_s FROM sl GROUP BY source),
    l AS (SELECT lang, CAST(SUM(n_sl) AS BIGINT) AS n_l FROM sl GROUP BY lang),
    g AS (SELECT CAST(SUM(n_sl) AS BIGINT) AS n FROM sl)
    SELECT sl.source, sl.lang, n_sl,
           ROUND(CAST(n_sl AS DOUBLE) / n_s, 6) AS p_source,
           ROUND(CAST(n_l AS DOUBLE) / n, 6) AS p_global,
           ROUND((CAST(n_sl AS DOUBLE) / n_s) / (CAST(n_l AS DOUBLE) / n), 4) AS lift
    FROM sl JOIN s USING (source) JOIN l USING (lang) CROSS JOIN g
    WHERE sl.source IN ('src0', 'src1', 'src2')
    ORDER BY source, lang
    """,
)
def t14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition drift: per-source language-mix LIFT against the
    global language distribution (lift > 1 = the source over-represents the
    language — the domain-shift check a data-mixing pipeline runs before
    adjusting sampling weights, cf. p10's temperature rates). One
    (source, lang) partial-aggregatable count is the only data-sized pass;
    the three marginals re-derive from that tiny frame and broadcast back.
    Every output value is a pure function of exact integer counts — no
    float SUM across rows anywhere, so there is no accumulation-order
    sensitivity to round away (the ROUNDs only fix display precision)."""
    d = _t(spark, sf_dir, "documents")
    sl = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n_sl"))
    s = sl.groupBy("source").agg(F.sum("n_sl").alias("n_s"))
    l = sl.groupBy("lang").agg(F.sum("n_sl").alias("n_l"))
    g = sl.agg(F.sum("n_sl").alias("n"))
    p_source = F.col("n_sl").cast("double") / F.col("n_s")
    p_global = F.col("n_l").cast("double") / F.col("n")
    return (
        sl.join(F.broadcast(s), "source")
        .join(F.broadcast(l), "lang")
        .join(F.broadcast(g))
        .filter(F.col("source").isin("src0", "src1", "src2"))
        .select(
            "source", "lang", "n_sl",
            F.round(p_source, 6).alias("p_source"),
            F.round(p_global, 6).alias("p_global"),
            F.round(p_source / p_global, 4).alias("lift"),
        )
        .orderBy("source", "lang")
    )


@declared(
    "w09_topk_per_group",
    oracle="""
    SELECT c_mktsegment, o_orderkey, o_totalprice, CAST(rk AS BIGINT) AS rk FROM (
      SELECT c_mktsegment, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders JOIN customer ON c_custkey = o_custkey
    ) WHERE rk <= 3
    ORDER BY c_mktsegment, rk
    """,
)
def w09(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-correct top-k per group (operators/sorting.py topk_per_group):
    top-3 orders per market segment. The oracle's textbook
    PARTITION-BY-segment window would put a fifth of the table in each of 5
    reducers; the Spark plan salts into groups×32 bounded sub-windows, keeps
    each bucket's top-3, then ranks the ≤ groups·32·3 survivors — a winner
    is always in its bucket's top-k, so the two-phase result is exactly the
    single-window result. Customer broadcasts onto orders for the segment
    column (dimension bridge); ordering includes the orderkey tie-break so
    the rank is total."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    from mdio_cpp_spark.operators.sorting import topk_per_group

    joined = o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
    out = topk_per_group(
        joined,
        ["c_mktsegment"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        k=3,
        salt_on="o_orderkey",
    )
    return (
        out.select("c_mktsegment", "o_orderkey", "o_totalprice", F.col("rk").cast("long"))
        .orderBy("c_mktsegment", "rk")
    )


@declared(
    "dq01_quality_report",
    oracle="""
    WITH s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(l_quantity) AS BIGINT) AS nn_qty,
             CAST(MIN(l_quantity) AS DOUBLE) AS min_qty,
             CAST(MAX(l_quantity) AS DOUBLE) AS max_qty,
             CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS d_flag,
             CAST(COUNT(l_returnflag) AS BIGINT) AS nn_flag,
             CAST(COUNT(DISTINCT l_orderkey * 10 + l_linenumber) AS BIGINT) AS d_key
      FROM lineitem
    )
    SELECT col, metric, value FROM (
      SELECT 'l_quantity' AS col, 'completeness' AS metric,
             ROUND(CAST(nn_qty AS DOUBLE) / n, 6) AS value FROM s
      UNION ALL SELECT 'l_quantity', 'min', min_qty FROM s
      UNION ALL SELECT 'l_quantity', 'max', max_qty FROM s
      UNION ALL SELECT 'l_returnflag', 'completeness',
             ROUND(CAST(nn_flag AS DOUBLE) / n, 6) FROM s
      UNION ALL SELECT 'l_returnflag', 'distinct_count', CAST(d_flag AS DOUBLE) FROM s
      UNION ALL SELECT 'line_key', 'uniqueness',
             ROUND(CAST(d_key AS DOUBLE) / n, 6) FROM s
    ) ORDER BY col, metric
    """,
)
def dq01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation report (the Deequ/dbt-test shape): column
    completeness, bounds, distinct counts, and key uniqueness computed in
    ONE wide aggregate pass over the fact table, then melted to the long
    (col, metric, value) report via unpivot (Expand runs over the 1-row
    aggregate, never the data). The composite line key's COUNT(DISTINCT)
    is the only expensive term — Spark plans it as a partial distinct on
    the key before the count, the same two-phase shape as h16. Every
    reported ratio is a pure function of exact counts."""
    li = _t(spark, sf_dir, "lineitem")
    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("l_quantity").alias("nn_qty"),
        F.min("l_quantity").cast("double").alias("min_qty"),
        F.max("l_quantity").cast("double").alias("max_qty"),
        F.countDistinct("l_returnflag").alias("d_flag"),
        F.count("l_returnflag").alias("nn_flag"),
        F.countDistinct(F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("d_key"),
    )
    wide = s.select(
        F.round(F.col("nn_qty").cast("double") / F.col("n"), 6).alias("l_quantity|completeness"),
        F.col("min_qty").alias("l_quantity|min"),
        F.col("max_qty").alias("l_quantity|max"),
        F.round(F.col("nn_flag").cast("double") / F.col("n"), 6).alias("l_returnflag|completeness"),
        F.col("d_flag").cast("double").alias("l_returnflag|distinct_count"),
        F.round(F.col("d_key").cast("double") / F.col("n"), 6).alias("line_key|uniqueness"),
    )
    melted = wide.unpivot([], wide.columns, "cm", "value")
    return (
        melted.select(
            F.split_part(F.col("cm"), F.lit("|"), F.lit(1)).alias("col"),
            F.split_part(F.col("cm"), F.lit("|"), F.lit(2)).alias("metric"),
            "value",
        )
        .orderBy("col", "metric")
    )


@declared(
    "ev03_pattern_within",
    oracle="""
    WITH c AS (SELECT user_id, ts AS c_ts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts AS p_ts FROM events WHERE event_type = 'purchase')
    SELECT c.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(MIN(epoch_us(p_ts) - epoch_us(c_ts)) AS BIGINT) AS min_gap_us
    FROM c JOIN p ON c.user_id = p.user_id
       AND p_ts > c_ts AND p_ts <= c_ts + INTERVAL 1 HOUR
    GROUP BY c.user_id
    ORDER BY c.user_id
    """,
)
def ev03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-pattern detection (the CEP "A followed by B within T" shape):
    per user, count click→purchase pairs no more than one hour apart, with
    the tightest gap. The join is an equi-join on user_id with the time
    window as a residual range predicate — one key shuffle, never a time
    cross-product; at scale the same plan becomes a bucketed co-located
    join on user_id (the streaming twin is st03's interval join with
    watermark-bounded state). Gaps compare in exact epoch microseconds."""
    ev = _t(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.unix_micros("ts").alias("c_us")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.unix_micros("ts").alias("p_us")
    )
    return (
        c.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_us") > F.col("c_us"))
            & (F.col("p_us") <= F.col("c_us") + 3_600_000_000),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min(F.col("p_us") - F.col("c_us")).alias("min_gap_us"),
        )
        .orderBy("user_id")
    )


@declared(
    "ga01_supplier_cooccurrence",
    oracle="""
    SELECT l1.l_suppkey AS s_a, l2.l_suppkey AS s_b,
           CAST(COUNT(DISTINCT l1.l_orderkey) AS BIGINT) AS n_orders
    FROM lineitem l1 JOIN lineitem l2
      ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
    GROUP BY s_a, s_b
    ORDER BY n_orders DESC, s_a, s_b
    LIMIT 20
    """,
)
def ga01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence (the association-rule/bipartite-
    projection shape): supplier pairs appearing in the same order, ranked
    by distinct co-orders. The oracle's fact self-join becomes: collapse to
    DISTINCT (order, supplier) FIRST (one orderkey-keyed shuffle absorbs
    line-level duplicates), then pairs expand WITHIN each order from the
    grouped supplier set — pair count is C(order_width, 2), bounded by
    basket size, never a corpus-level cross product (the same
    bounded-bucket argument as the LSH candidate expansion, dedup.py).
    Top-20 compiles to TakeOrderedAndProject."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey").distinct()
    per_order = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_suppkey")).alias("supps")
    )
    pairs = per_order.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        F.col("supps"),
                        lambda a: F.transform(F.col("supps"), lambda b: F.struct(a.alias("s_a"), b.alias("s_b"))),
                    )
                ),
                lambda p: p["s_a"] < p["s_b"],
            )
        ).alias("p")
    ).select("p.s_a", "p.s_b")
    return (
        pairs.groupBy("s_a", "s_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "s_a", "s_b")
        .limit(20)
    )


@declared(
    "s06_systematic_weighted",
    oracle="""
    WITH c AS (
      SELECT doc_id, source, n_chars,
             SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
      FROM documents
    )
    SELECT doc_id, source, n_chars FROM c
    WHERE (cum - n_chars) // 5000 <> cum // 5000
    ORDER BY doc_id
    """,
)
def s06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WEIGHTED sampling (probability ∝ document length, no
    RNG): walk each source's documents in id order accumulating exact
    integer weights and keep rows crossing a 5000-char boundary of the
    running total (operators/sampling.systematic_weighted_sample). The
    standard A-ES exponential-keys scheme would hinge on pow() ulp-parity
    across engines; integer boundary-crossing is bit-reproducible anywhere.
    The prefix window partitions by source — parallel across sources, never
    a global walk."""
    from mdio_cpp_spark.operators.sampling import systematic_weighted_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return systematic_weighted_sample(
        d, "doc_id", "n_chars", stride=5000, partition_col="source"
    ).orderBy("doc_id")


@declared(
    "a11_grouped_mad",
    oracle="""
    WITH med AS (
      SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS m
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           ROUND(MAX(m), 4) AS med,
           ROUND(quantile_cont(ABS(l.l_quantity - m), 0.5), 4) AS mad
    FROM lineitem l JOIN med USING (l_returnflag)
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
)
def a11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust dispersion: grouped median absolute deviation via
    operators/stats.grouped_mad — ONE distributed pass collapses the scan
    to a per-(group, value) run-length table (l_quantity is a discrete
    1..50 domain, exactly where MAD monitors live) and both dependent
    quantiles derive exactly from it; the limit-probe bounds the table on
    the driver, and unbounded-cardinality inputs fall back to the two-pass
    buffer-free grouped_percentiles composition (round-4/5 a11 design).
    The outlier-resistant scale estimate a data-quality monitor wants
    where stddev is blown up by a single bad row."""
    from mdio_cpp_spark.operators.stats import grouped_mad

    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    return grouped_mad(li, "l_returnflag", "l_quantity").orderBy("l_returnflag")


@declared(
    "asof03_tolerance",
    oracle="""
    SELECT e.event_id,
           CASE WHEN p.pts IS NOT NULL
                 AND epoch_us(e.ts) - epoch_us(p.pts) <= 3600000000
                THEN CAST(ROUND(p.pv * 100) AS BIGINT) END AS last_purchase_e2
    FROM events e ASOF LEFT JOIN
         (SELECT user_id, ts AS pts, value AS pv FROM events
          WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id AND e.ts >= p.pts
    ORDER BY e.event_id
    """,
)
def asof03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a TOLERANCE bound (pandas ``merge_asof(tolerance=…)``
    — stale state must not enrich): each event takes its user's latest
    prior purchase value, but matches older than one hour are nulled. The
    tolerance composes on the bucketed as-of operator by carrying the
    matched row's OWN timestamp in the value struct (all carried columns
    come from the same right row by construction), then one map-side CASE —
    no second join, no extra shuffle beyond asof02's plan."""
    from mdio_cpp_spark.operators import joins

    ev = _t(spark, sf_dir, "events")
    e = ev.select("event_id", "user_id", "ts")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("value").alias("pv")
    )
    j = joins.asof_join(e, p, "ts", "pts", ["pts", "pv"],
                        partition_keys=["user_id"], how="left")
    within = (
        F.col("pts").isNotNull()
        & (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("pts")) <= 3_600_000_000)
    )
    return (
        j.select(
            "event_id",
            F.when(within, F.round(F.col("pv") * 100).cast("long")).alias("last_purchase_e2"),
        )
        .orderBy("event_id")
    )


@declared(
    "mm07_payload_integrity",
    oracle="""
    WITH p AS (
      SELECT doc_id, source, text,
             CASE WHEN doc_id % 97 = 0 THEN md5(text || 'CORRUPT')
                  ELSE md5(text) END AS stored_md5
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_payloads,
           CAST(SUM(CASE WHEN md5(text) = stored_md5 THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
           CAST(SUM(CASE WHEN md5(text) <> stored_md5 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt
    FROM p GROUP BY source ORDER BY source
    """,
)
def mm07(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload integrity audit: recompute each payload's checksum
    and compare against the stored manifest digest (the bitrot/transfer
    check a multimodal lake runs before training; fixture digests are
    derived from the text bytes with doc_id % 97 == 0 corrupted so the
    gate is non-vacuous). Entirely map-side md5 + one small grouped count
    — payload bytes never shuffle, only (source, ok) flags."""
    d = _t(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "utf-8")
    stored = F.when(
        F.col("doc_id") % 97 == 0, F.md5(F.encode(F.concat(F.col("text"), F.lit("CORRUPT")), "utf-8"))
    ).otherwise(F.md5(payload))
    ok = F.md5(payload) == F.col("stored_md5")
    return (
        d.select("doc_id", "source", "text", stored.alias("stored_md5"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_payloads"),
            F.sum(F.when(ok, 1).otherwise(0)).alias("n_ok"),
            F.sum(F.when(~ok, 1).otherwise(0)).alias("n_corrupt"),
        )
        .orderBy("source")
    )


@declared(
    "ev04_time_to_convert",
    oracle="""
    WITH s AS (SELECT user_id, MIN(ts) AS st FROM events
               WHERE event_type = 'signup' GROUP BY user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS pt FROM events e
          JOIN s ON e.user_id = s.user_id AND e.ts > s.st
          WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT s.user_id,
           CAST((epoch_us(p.pt) - epoch_us(s.st)) // 1000000 AS BIGINT) AS secs_to_convert
    FROM s JOIN p ON s.user_id = p.user_id
    ORDER BY s.user_id
    """,
)
def ev04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-conversion: seconds from each user's FIRST signup to their
    first purchase strictly after it (the survival-analysis input every
    growth dashboard starts from). Funnel machinery's shape: two earliest-
    qualifying-instant aggregates co-partitioned on user_id and one
    user-keyed join — exact integer microsecond arithmetic, no windows."""
    e = _t(spark, sf_dir, "events")
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id").agg(F.min("ts").alias("st"))
    )
    p = (
        e.join(s, "user_id")
        .filter((F.col("event_type") == "purchase") & (F.col("ts") > F.col("st")))
        .groupBy("user_id").agg(F.min("ts").alias("pt"))
    )
    return (
        s.join(p, "user_id")
        .select(
            "user_id",
            ((F.unix_micros("pt") - F.unix_micros("st")) / 1_000_000)
            .cast("long").alias("secs_to_convert"),
        )
        .orderBy("user_id")
    )


@declared(
    "ev05_last_touch_attribution",
    oracle="""
    WITH t AS (SELECT user_id, ts AS t_ts, event_id AS t_id, event_type AS touch
               FROM events WHERE event_type IN ('click', 'view')),
    p AS (SELECT user_id, ts AS p_ts, event_id AS p_id, value
          FROM events WHERE event_type = 'purchase'),
    j AS (SELECT p.p_id, p.value, t.touch,
                 ROW_NUMBER() OVER (PARTITION BY p.p_id
                                    ORDER BY t.t_ts DESC, t.t_id DESC) AS rn
          FROM p JOIN t ON p.user_id = t.user_id
                       AND t.t_ts < p.p_ts
                       AND t.t_ts >= p.p_ts - INTERVAL 30 DAY)
    SELECT touch,
           CAST(COUNT(*) AS BIGINT) AS n_conversions,
           ROUND(SUM(value), 2) AS attributed_value
    FROM j WHERE rn = 1 GROUP BY touch ORDER BY touch
    """,
)
def ev05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the user's most recent
    click/view in a 30-day lookback; revenue rolls up per touch channel.
    Shape: touches and purchases co-partition on user_id, the lookback
    bound caps per-user join fanout (the skew guard — an unbounded history
    join on a power user is the classic attribution scale-killer), and
    "most recent touch" is a partial-aggregatable max_by keyed on the
    purchase — no per-purchase window over the event stream."""
    e = _t(spark, sf_dir, "events")
    t = e.filter(F.col("event_type").isin("click", "view")).select(
        "user_id", F.col("ts").alias("t_ts"),
        F.col("event_id").alias("t_id"), F.col("event_type").alias("touch"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"), "value",
    )
    j = p.join(
        t,
        (p["user_id"] == t["user_id"])
        & (F.col("t_ts") < F.col("p_ts"))
        & (F.col("t_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 DAYS")),
    )
    last = j.groupBy("p_id", "value").agg(
        F.max_by("touch", F.struct("t_ts", "t_id")).alias("touch")
    )
    return (
        last.groupBy("touch")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.round(F.sum("value"), 2).alias("attributed_value"),
        )
        .orderBy("touch")
    )


@declared(
    "ev06_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type AS src,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events),
    c AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS transitions
          FROM seq WHERE dst IS NOT NULL GROUP BY src, dst)
    SELECT src, dst, transitions,
           transitions / SUM(transitions) OVER (PARTITION BY src) AS prob
    FROM c ORDER BY src, dst
    """,
)
def ev06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user journeys: P(next
    event type | current), the input to funnel simulation and next-step
    prediction. One user-partitioned LEAD (parallel across users), one
    map-side-combined pair count (|types|² keys), and the row-normalizer
    is a window over the TINY count matrix — probabilities divide two
    exact integers so both engines emit identical doubles."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    c = seq.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("transitions"))
    wt = Window.partitionBy("src")
    return (
        c.select(
            "src", "dst", "transitions",
            (F.col("transitions") / F.sum("transitions").over(wt)).alias("prob"),
        )
        .orderBy("src", "dst")
    )


_RIDGE_LAMBDA = "1000.0"

@declared(
    "ml02_group_ridge",
    oracle=f"""
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS su,
             CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS DOUBLE) AS sv,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS suu,
             CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT) * CAST(ROUND(l_discount * 100) AS BIGINT)) AS DOUBLE) AS svv,
             CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(ROUND(l_discount * 100) AS BIGINT)) AS DOUBLE) AS suv,
             CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS suy,
             CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT) * CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS svy
      FROM lineitem GROUP BY l_returnflag
    ),
    m AS (
      SELECT l_returnflag, n, su, sv, sy,
             n * suu - su * su AS a,
             n * svv - sv * sv AS b,
             n * suv - su * sv AS c,
             n * suy - su * sy AS p,
             n * svy - sv * sy AS q
      FROM s
    )
    SELECT l_returnflag,
           ((b + {_RIDGE_LAMBDA}) * p - c * q)
           / ((a + {_RIDGE_LAMBDA}) * (b + {_RIDGE_LAMBDA}) - c * c) AS beta_qty,
           ((a + {_RIDGE_LAMBDA}) * q - c * p)
           / ((a + {_RIDGE_LAMBDA}) * (b + {_RIDGE_LAMBDA}) - c * c) AS beta_disc,
           (sy - ((b + {_RIDGE_LAMBDA}) * p - c * q)
                 / ((a + {_RIDGE_LAMBDA}) * (b + {_RIDGE_LAMBDA}) - c * c) * su
               - ((a + {_RIDGE_LAMBDA}) * q - c * p)
                 / ((a + {_RIDGE_LAMBDA}) * (b + {_RIDGE_LAMBDA}) - c * c) * sv) / n
           AS intercept_e2
    FROM m ORDER BY l_returnflag
    """,
)
def ml02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form ridge regression per group (2 features + unpenalized
    intercept): cents-of-extendedprice on quantity and cents-of-discount,
    solved by the centered 2×2 normal equations — the scalable shape for
    linear models at 100 TB (ONE map-side-combined pass collecting 9
    integer sums per group; no gradient iterations, no driver math).
    Exactness: every sufficient statistic is an EXACT integer sum (all
    < 2^53 through sf~1, noted bound), cast once to double, and both
    engines evaluate the same rational expression in the same order —
    bit-identical betas with no rounding step. λ = 1000 on the centered
    Gram diagonal."""
    li = table(spark, sf_dir, "lineitem")
    u = F.col("l_quantity").cast("long")
    v = F.round(F.col("l_discount") * 100).cast("long")
    y = F.round(F.col("l_extendedprice") * 100).cast("long")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(u).cast("double").alias("su"),
        F.sum(v).cast("double").alias("sv"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(u * u).cast("double").alias("suu"),
        F.sum(v * v).cast("double").alias("svv"),
        F.sum(u * v).cast("double").alias("suv"),
        F.sum(u * y).cast("double").alias("suy"),
        F.sum(v * y).cast("double").alias("svy"),
    )
    lam = F.lit(float(_RIDGE_LAMBDA))
    n, su, sv, sy = F.col("n"), F.col("su"), F.col("sv"), F.col("sy")
    a = n * F.col("suu") - su * su
    b = n * F.col("svv") - sv * sv
    c = n * F.col("suv") - su * sv
    p = n * F.col("suy") - su * sy
    q = n * F.col("svy") - sv * sy
    det = (a + lam) * (b + lam) - c * c
    b1 = ((b + lam) * p - c * q) / det
    b2 = ((a + lam) * q - c * p) / det
    return s.select(
        "l_returnflag",
        b1.alias("beta_qty"),
        b2.alias("beta_disc"),
        ((sy - b1 * su - b2 * sv) / n).alias("intercept_e2"),
    ).orderBy("l_returnflag")


@declared(
    "dq02_volume_anomaly",
    oracle="""
    WITH d AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type, day, n,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS days,
             CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS s1,
             CAST(SUM(n * n) OVER (PARTITION BY event_type) AS BIGINT) AS s2
      FROM d
    )
    SELECT event_type, day, n,
           (n * days - s1) / sqrt(CAST(days * s2 - s1 * s1 AS DOUBLE)) AS z
    FROM s
    WHERE days * s2 - s1 * s1 > 0
      AND ABS((n * days - s1) / sqrt(CAST(days * s2 - s1 * s1 AS DOUBLE))) > 2.0
    ORDER BY event_type, day
    """,
)
def dq02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-volume anomaly detection: flag (event_type, day) cells whose
    daily count sits more than 2 population-z from that type's mean — the
    data-quality tripwire every ingestion pipeline runs before training
    jobs consume a day's partition. The z-score is algebraically
    rearranged onto exact integer sufficient statistics
    (z = (n·d − S1)/√(d·S2 − S1²)) so the only float ops are one sqrt and
    one division — bit-identical across engines. One day-keyed count agg
    then a window over the TINY per-type daily series (partitioned by
    type; at 100 TB this is |types|×|days| rows, not event-sized)."""
    e = _t(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type")
    s = d.select(
        "event_type", "day", "n",
        F.count(F.lit(1)).over(w).alias("days"),
        F.sum("n").over(w).alias("s1"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("s2"),
    )
    # a type with constant daily volume has zero variance — no anomalies by
    # definition (and an unguarded division would abort under ANSI mode)
    var_num = F.col("days") * F.col("s2") - F.col("s1") * F.col("s1")
    z = (F.col("n") * F.col("days") - F.col("s1")) / F.sqrt(var_num.cast("double"))
    return (
        s.filter(var_num > 0)
        .select("event_type", "day", "n", z.alias("z"))
        .filter(F.abs(F.col("z")) > 2.0)
        .orderBy("event_type", "day")
    )


_GA2_TOP_EDGES = 2000

@declared(
    "ga02_triangle_count",
    oracle=f"""
    WITH d AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    p AS (SELECT d1.l_suppkey AS a, d2.l_suppkey AS b, COUNT(*) AS n
          FROM d d1 JOIN d d2
            ON d1.l_orderkey = d2.l_orderkey AND d1.l_suppkey < d2.l_suppkey
          GROUP BY 1, 2),
    e AS (SELECT a, b FROM p ORDER BY n DESC, a, b LIMIT {_GA2_TOP_EDGES})
    SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
           CAST((SELECT COUNT(*) FROM (SELECT a FROM e UNION SELECT b FROM e)) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM e e1
                 JOIN e e2 ON e1.b = e2.a
                 JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b) AS BIGINT) AS n_triangles
    """,
)
def ga02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census over the supplier co-occurrence graph's heaviest
    edges — the clustering-structure summary (community tightness, spam-
    ring detection) graph pipelines compute after building an entity
    graph. Edges come from ga01's bounded within-order pair expansion;
    the census runs on the TOP-{_GA2_TOP_EDGES} edges by weight
    (deterministic (n, a, b) order → TakeOrdered, never a global sort),
    so the triangle joins are broadcast-sized at ANY corpus scale — the
    standard node-ordering canonicalization (a<b<c via the edge
    direction) counts each triangle exactly once with no Expand and no
    high-degree blowup. For a census over ALL edges, the same plan keys
    the two-path join on the shared node — edge-keyed shuffles, still no
    cross product."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey").distinct()
    per_order = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_suppkey")).alias("supps")
    )
    pairs = per_order.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        F.col("supps"),
                        lambda a: F.transform(
                            F.col("supps"),
                            lambda b: F.struct(a.alias("a"), b.alias("b")),
                        ),
                    )
                ),
                lambda p: p["a"] < p["b"],
            )
        ).alias("p")
    ).select("p.a", "p.b")
    # the ≤2000-row edge set feeds five branches (three join aliases + two
    # census aggs) — persist it so the within-order pair expansion runs ONCE
    e = (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "a", "b")
        .limit(_GA2_TOP_EDGES)
        .select("a", "b")
        .persist()
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    n_nodes = (
        e.select(F.explode(F.array("a", "b")).alias("v"))
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    n_tri = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    return n_edges.join(n_nodes).join(n_tri)


@declared(
    "ev07_top_paths",
    oracle="""
    WITH seq AS (
      SELECT event_type AS e1,
             LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
             LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
      FROM events)
    SELECT e1, e2, e3, n, rk FROM (
      SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, e1, e2, e3) AS BIGINT) AS rk
      FROM seq WHERE e3 IS NOT NULL GROUP BY e1, e2, e3
    ) WHERE rk <= 10 ORDER BY rk
    """,
)
def ev07(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern mining (3-step journeys): the most frequent
    event-type trigram paths across all user timelines — ev06's
    transition matrix extended one step, the input to journey-map and
    funnel-discovery dashboards. One user-partitioned double-LEAD
    (parallel across users), a |types|³-keyed map-side-combined count,
    and top-10 compiles to TakeOrderedAndProject over the tiny path
    table — never a global sort of events."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    c = seq.groupBy("e1", "e2", "e3").agg(F.count(F.lit(1)).alias("n"))
    ranked = c.orderBy(F.col("n").desc(), "e1", "e2", "e3").limit(10)
    from pyspark.sql import Window as W2

    return ranked.select(
        "e1", "e2", "e3", "n",
        F.row_number().over(W2.orderBy(F.col("n").desc(), "e1", "e2", "e3")).cast("long").alias("rk"),
    ).orderBy("rk")


@declared(
    "a13_grouped_mode",
    oracle="""
    SELECT l_returnflag, qty AS mode_qty, n AS mode_n FROM (
      SELECT l_returnflag, qty, n,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY n DESC, qty) AS rn
      FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM lineitem GROUP BY 1, 2)
    ) WHERE rn = 1 ORDER BY l_returnflag
    """,
)
def a13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact MODE per group — the aggregate SQL forgot: most frequent
    quantity per return flag, smallest value on ties. Two partial-
    aggregatable levels: (group, value) counts (map-side combine absorbs
    repeats), then ONE max_by per group over the tiny count table — never
    a data-sized window or sort. The same shape scales to any
    cardinality: the shuffle carries (group, value, partial count)."""
    li = table(spark, sf_dir, "lineitem")
    c = li.groupBy("l_returnflag", F.col("l_quantity").cast("long").alias("qty")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        c.groupBy("l_returnflag")
        .agg(
            F.max_by("qty", F.struct(F.col("n"), -F.col("qty"))).alias("mode_qty"),
            F.max("n").alias("mode_n"),
        )
        .orderBy("l_returnflag")
    )


@declared(
    "a14_weighted_median",
    oracle="""
    WITH b AS (
      SELECT l_returnflag AS f,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS pc,
             CAST(l_quantity AS BIGINT) AS q
      FROM lineitem),
    agg AS (SELECT f, pc, CAST(SUM(q) AS BIGINT) AS q FROM b GROUP BY f, pc),
    cum AS (
      SELECT f, pc,
             CAST(SUM(q) OVER (PARTITION BY f ORDER BY pc
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
             CAST(SUM(q) OVER (PARTITION BY f) AS BIGINT) AS tw
      FROM agg)
    SELECT f AS l_returnflag, MIN(pc) / 100.0 AS wmedian
    FROM cum WHERE 2 * cw >= tw GROUP BY f ORDER BY f
    """,
)
def a14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED median per group (weights = quantity): the smallest
    price whose cumulative weight reaches half the group's total — the
    order statistic behind fair-price and capacity-planning summaries
    that plain medians misstate. Duplicate prices collapse FIRST (one
    partial agg bounds the window input at distinct values, absorbing
    repeats map-side); the crossing test ``2·cw ≥ tw`` stays in exact
    integers — no division until the final /100. The per-group cumsum
    window is the didactic form; at extreme per-group cardinality the
    a07 bucket machinery generalizes to weighted ranks (sum weights per
    bucket instead of counts)."""
    from mdio_cpp_spark.operators.stats import grouped_weighted_median_lower

    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_returnflag").alias("f"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("pc"),
        F.col("l_quantity").cast("long").alias("q"),
    )
    # round-11: bucketized crossing search (stats.grouped_weighted_median_
    # lower) — the lattice-window form shuffled ~594k distinct (f, pc) rows
    # into 3 window partitions and sorted each serially; the bucket
    # machinery reduces that to a (f, bucket) weight aggregate + one
    # covering bucket's rows per group, int64-exact, oracle-gated. The
    # lattice form survives as the operator's over-bound fallback.
    return (
        grouped_weighted_median_lower(b, "f", "pc", "q")
        .select(
            F.col("f").alias("l_returnflag"),
            (F.col("__wmed") / 100.0).alias("wmedian"),
        )
        .orderBy("l_returnflag")
    )


@declared(
    "dq03_referential_integrity",
    oracle="""
    SELECT rel, n_orphans FROM (
      SELECT 'lineitem->orders' AS rel,
             CAST((SELECT COUNT(*) FROM lineitem l
                   WHERE NOT EXISTS (SELECT 1 FROM orders o
                                     WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT) AS n_orphans
      UNION ALL
      SELECT 'orders->customer',
             CAST((SELECT COUNT(*) FROM orders o
                   WHERE NOT EXISTS (SELECT 1 FROM customer c
                                     WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
      UNION ALL
      SELECT 'customer->nation',
             CAST((SELECT COUNT(*) FROM customer c
                   WHERE NOT EXISTS (SELECT 1 FROM nation n
                                     WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT)
      UNION ALL
      SELECT 'lineitem->part',
             CAST((SELECT COUNT(*) FROM lineitem l
                   WHERE NOT EXISTS (SELECT 1 FROM part p
                                     WHERE p.p_partkey = l.l_partkey)) AS BIGINT)
    ) ORDER BY rel
    """,
)
def dq03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts for every foreign-key
    edge of the star schema — the constraint checker a lakehouse doesn't
    enforce and every ingest pipeline should run (zero is the healthy
    answer; the gate proves the machinery counts correctly either way,
    and any drift from zero hash-mismatches). Each edge is ONE left-anti
    join reduced to a count: the dimension side broadcasts when small
    (Catalyst's choice), the fact side never moves twice. Four exact
    integer counts union into the report."""
    def orphans(fact: DataFrame, fk: str, dim: DataFrame, pk: str, rel: str) -> DataFrame:
        return (
            fact.select(F.col(fk).alias("k"))
            .join(dim.select(F.col(pk).alias("k")), "k", "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
            .select(F.lit(rel).alias("rel"), "n_orphans")
        )

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    p = table(spark, sf_dir, "part")
    return (
        orphans(li, "l_orderkey", o, "o_orderkey", "lineitem->orders")
        .unionAll(orphans(o, "o_custkey", c, "c_custkey", "orders->customer"))
        .unionAll(orphans(c, "c_nationkey", n, "n_nationkey", "customer->nation"))
        .unionAll(orphans(li, "l_partkey", p, "p_partkey", "lineitem->part"))
        .orderBy("rel")
    )


@declared(
    "ev08_dau_wau_mau",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id,
             date_trunc('day', ts) AS day,
             date_diff('day', DATE '1970-01-01', CAST(date_trunc('day', ts) AS DATE)) AS dnum
      FROM events),
    grid AS (SELECT DISTINCT day, dnum FROM ud),
    j AS (
      SELECT g.day, g.dnum AS d, u.user_id, u.dnum AS ud
      FROM grid g JOIN ud u ON u.dnum BETWEEN g.dnum - 27 AND g.dnum)
    SELECT day,
           CAST(COUNT(DISTINCT CASE WHEN ud = d THEN user_id END) AS BIGINT) AS dau,
           CAST(COUNT(DISTINCT CASE WHEN ud >= d - 6 THEN user_id END) AS BIGINT) AS wau,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
    FROM j GROUP BY day ORDER BY day
    """,
)
def ev08(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU: distinct active users per day and per trailing
    7- and 28-day windows — the engagement staple that windowed
    COUNT(DISTINCT) cannot express directly. Rewrite: collapse to
    DISTINCT (user, day) FIRST (event-sized data reduces immediately),
    then each activity row joins the ≤28 grid days it contributes to
    (bounded fanout, a range predicate on integer day numbers — no
    per-day rescan of events), and three conditional distinct-counts
    reduce per day. All exact integers."""
    e = _t(spark, sf_dir, "events")
    ud = (
        e.select(
            "user_id",
            F.date_trunc("day", "ts").alias("day"),
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias("dnum"),
        )
        .distinct()
    )
    grid = ud.select("day", "dnum").distinct()
    j = grid.alias("g").join(
        ud.alias("u"),
        F.col("u.dnum").between(F.col("g.dnum") - 27, F.col("g.dnum")),
    ).select(
        F.col("g.day").alias("day"), F.col("g.dnum").alias("d"),
        F.col("u.user_id").alias("user_id"), F.col("u.dnum").alias("ud"),
    )
    return (
        j.groupBy("day")
        .agg(
            F.count_distinct(F.when(F.col("ud") == F.col("d"), F.col("user_id"))).alias("dau"),
            F.count_distinct(F.when(F.col("ud") >= F.col("d") - 6, F.col("user_id"))).alias("wau"),
            F.count_distinct("user_id").alias("mau"),
        )
        .orderBy("day")
    )


@declared(
    "dq04_column_profile",
    oracle="""
    SELECT col, n, n_null, n_distinct, min_v, max_v, mean_e2 FROM (
      SELECT 'event_id' AS col,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
             CAST(MIN(event_id) AS DOUBLE) AS min_v,
             CAST(MAX(event_id) AS DOUBLE) AS max_v,
             CAST(SUM(event_id * 100) AS DOUBLE) / COUNT(event_id) AS mean_e2
      FROM events
      UNION ALL
      SELECT 'user_id', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             CAST(COUNT(DISTINCT user_id) AS BIGINT),
             CAST(MIN(user_id) AS DOUBLE), CAST(MAX(user_id) AS DOUBLE),
             CAST(SUM(user_id * 100) AS DOUBLE) / COUNT(user_id)
      FROM events
      UNION ALL
      SELECT 'value', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             CAST(COUNT(DISTINCT value) AS BIGINT),
             MIN(value), MAX(value),
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / COUNT(value)
      FROM events
    ) ORDER BY col
    """,
)
def dq04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling: per-column count / null-rate / distinct / range /
    mean for the numeric columns — the data-profile report an ingestion
    service renders before anyone queries a new table. ONE wide aggregate
    scan computes every column's statistics simultaneously (a single
    pass, no per-column rescan), then the struct unpivots to tidy rows.
    Means divide exact integer (cents) sums; min/max carry values
    untouched — bit-exact with no rounding."""
    e = _t(spark, sf_dir, "events")

    def prof(col: str, cents: F.Column) -> F.Column:
        c = F.col(col)
        return F.struct(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(c.isNull(), 1).otherwise(0)).alias("n_null"),
            F.count_distinct(c).alias("n_distinct"),
            F.min(c).cast("double").alias("min_v"),
            F.max(c).cast("double").alias("max_v"),
            (F.sum(cents).cast("double") / F.count(c)).alias("mean_e2"),
        )

    wide = e.agg(
        prof("event_id", F.col("event_id") * 100).alias("event_id"),
        prof("user_id", F.col("user_id") * 100).alias("user_id"),
        prof("value", F.round(F.col("value") * 100).cast("long")).alias("value"),
    )
    rows = [
        wide.select(
            F.lit(c).alias("col"),
            F.col(f"{c}.n").alias("n"), F.col(f"{c}.n_null").alias("n_null"),
            F.col(f"{c}.n_distinct").alias("n_distinct"),
            F.col(f"{c}.min_v").alias("min_v"), F.col(f"{c}.max_v").alias("max_v"),
            F.col(f"{c}.mean_e2").alias("mean_e2"),
        )
        for c in ["event_id", "user_id", "value"]
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("col")


@declared(
    "a15_group_entropy",
    oracle="""
    WITH c AS (
      SELECT date_trunc('day', ts) AS day, event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    t AS (SELECT day, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY day)
    SELECT c.day,
           ROUND(SUM(-(CAST(n AS DOUBLE) / tot) * ln(CAST(n AS DOUBLE) / tot)), 4)
           AS mix_entropy
    FROM c JOIN t USING (day)
    GROUP BY c.day ORDER BY c.day
    """,
)
def a15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the event-type mix per day — the drift detector
    for categorical distributions (a day whose traffic mix collapses to
    one type drops toward zero entropy long before volumes look odd).
    Tiny shape end-to-end: a (day, type) count agg, a per-day total, and
    a |days|·|types|-row reduce; probabilities divide exact integers,
    entropy follows t12's ln-rounding contract."""
    e = _t(spark, sf_dir, "events")
    c = e.groupBy(F.date_trunc("day", "ts").alias("day"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    t = c.groupBy("day").agg(F.sum("n").alias("tot"))
    p = F.col("n").cast("double") / F.col("tot")
    return (
        c.join(t, "day")
        .groupBy("day")
        .agg(F.round(F.sum(-p * F.log(p)), 4).alias("mix_entropy"))
        .orderBy("day")
    )


@declared(
    "ev09_day_over_day",
    oracle="""
    WITH d AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS rev_e2
      FROM events GROUP BY 1, 2),
    l AS (
      SELECT event_type, day, rev_e2,
             LAG(rev_e2) OVER (PARTITION BY event_type ORDER BY day) AS prev
      FROM d)
    SELECT event_type, day, rev_e2,
           (rev_e2 - prev) * 10000 / prev AS change_bp
    FROM l WHERE prev IS NOT NULL AND prev <> 0
    ORDER BY event_type, day
    """,
)
def ev09(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day change in basis points, per event type — the
    period-over-period delta every metrics dashboard leads with. Daily
    cents totals reduce first (|types|·|days| rows), one type-partitioned
    LAG, and the change multiplies before dividing two exact integers —
    bit-identical doubles, zero-previous days excluded on both sides."""
    e = _t(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("rev_e2"))
    w = Window.partitionBy("event_type").orderBy("day")
    l = d.withColumn("prev", F.lag("rev_e2").over(w))
    return (
        l.filter(F.col("prev").isNotNull() & (F.col("prev") != 0))
        .select(
            "event_type", "day", "rev_e2",
            ((F.col("rev_e2") - F.col("prev")) * 10000 / F.col("prev")).alias("change_bp"),
        )
        .orderBy("event_type", "day")
    )


@declared(
    "u04_pit_join",
    oracle="""
    WITH ch AS (
      SELECT key, new_value, change_date FROM (
        SELECT o_custkey AS key, o_totalprice AS new_value,
               CAST(o_orderdate AS DATE) AS change_date,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders
        WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-07-01'
      ) WHERE rn = 1
    ),
    t AS (SELECT c_custkey AS key, c_acctbal AS value FROM customer),
    hist AS (
      SELECT t.key, t.value, DATE '1995-01-01' AS valid_from,
             CASE WHEN ch.key IS NOT NULL AND ch.new_value <> t.value
                  THEN ch.change_date END AS valid_to
      FROM t LEFT JOIN ch ON t.key = ch.key
      UNION ALL
      SELECT ch.key, ch.new_value, ch.change_date, CAST(NULL AS DATE)
      FROM ch LEFT JOIN t ON t.key = ch.key
      WHERE t.key IS NULL OR ch.new_value <> t.value
    )
    SELECT o.o_orderkey, h.key, h.value AS pit_value
    FROM orders o JOIN hist h
      ON h.key = o.o_custkey
     AND h.valid_from <= CAST(o.o_orderdate AS DATE)
     AND (h.valid_to IS NULL OR CAST(o.o_orderdate AS DATE) < h.valid_to)
    WHERE o.o_orderdate >= DATE '1996-07-01'
    ORDER BY o.o_orderkey
    """,
)
def u04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME join against the SCD2 history (u02's output): each
    H2-1996 order reads the dimension version that was valid ON ITS
    date — the feature-store correctness rule that prevents training-time
    leakage (joining current values backfills the future into the past).
    SCD2 intervals are non-overlapping by construction, so the range
    predicate resolves to exactly one version per fact; the history is
    dimension-sized and broadcasts — the fact table never shuffles."""
    from pyspark.sql import Window as W

    from mdio_cpp_spark.operators.merge import scd2_apply

    target = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        F.col("c_acctbal").alias("value"),
        F.lit("1995-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    o = _t(spark, sf_dir, "orders")
    changes = (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1996-07-01").cast("date"))
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("key"),
            F.col("o_totalprice").alias("value"),
            F.to_date("o_orderdate").alias("change_date"),
        )
    )
    hist = scd2_apply(target, changes, "key", "value")
    facts = o.filter(F.col("o_orderdate") >= F.lit("1996-07-01").cast("date")).select(
        "o_orderkey", F.col("o_custkey").alias("key"), F.to_date("o_orderdate").alias("d")
    )
    return (
        facts.join(
            F.broadcast(hist),
            (facts["key"] == hist["key"])
            & (F.col("valid_from") <= F.col("d"))
            & (F.col("valid_to").isNull() | (F.col("d") < F.col("valid_to"))),
        )
        .select("o_orderkey", facts["key"].alias("key"), F.col("value").alias("pit_value"))
        .orderBy("o_orderkey")
    )


@declared(
    "ev10_interevent_gaps",
    oracle="""
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                                    ORDER BY ts, event_id) AS gap_us
      FROM events)
    SELECT user_id,
           CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
           quantile_cont(gap_us, 0.5) / 1000000.0 AS p50_gap_s,
           quantile_cont(gap_us, 0.9) / 1000000.0 AS p90_gap_s
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY user_id HAVING COUNT(gap_us) >= 5
    ORDER BY user_id
    """,
)
def ev10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap distribution per user (burstiness profiling): the
    median and p90 of consecutive-event spacing — the temporal signature
    separating bots (metronomic), bursts, and organic traffic. One
    user-partitioned LAG on exact integer microseconds, then exact
    interpolated quantiles per user (gaps are bigints, so quantile
    interpolation lands on exact .5 microsecond steps) and ONE division
    to seconds — bit-identical. Users with <5 gaps drop (no stable
    percentile from 4 points)."""
    e = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = e.select(
        "user_id", (us - F.lag(us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    return (
        g.groupBy("user_id")
        .agg(
            F.count("gap_us").alias("n_gaps"),
            (F.percentile("gap_us", F.lit(0.5)) / 1_000_000.0).alias("p50_gap_s"),
            (F.percentile("gap_us", F.lit(0.9)) / 1_000_000.0).alias("p90_gap_s"),
        )
        .filter(F.col("n_gaps") >= 5)
        .orderBy("user_id")
    )


@declared(
    "ev11_pareto_share",
    oracle="""
    WITH u AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY user_id),
    k AS (SELECT CAST(CEIL(COUNT(*) * 0.1) AS BIGINT) AS k,
                 CAST(COUNT(*) AS BIGINT) AS n_users,
                 CAST(SUM(n) AS BIGINT) AS total FROM u),
    top AS (SELECT n FROM u ORDER BY n DESC, user_id LIMIT (SELECT k FROM k))
    SELECT k.n_users, k.k AS top_decile_users,
           CAST((SELECT SUM(n) FROM top) AS BIGINT) AS top_events,
           (SELECT SUM(n) FROM top) / k.total AS share
    FROM k
    """,
)
def ev11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration: what share of all events the top-10% most
    active users produce — the power-user skew number that decides salting
    strategies and abuse thresholds alike. No global rank window: the
    decile cut is a TakeOrdered top-k over the |users|-sized count table
    (deterministic (n, user_id) order), and the share divides two exact
    integers. One partial-aggregated user count feeds everything."""
    e = _t(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    totals = u.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.ceil(F.count(F.lit(1)) * 0.1).cast("long").alias("k"),
        F.sum("n").alias("total"),
    ).collect()[0]
    top = (
        u.orderBy(F.col("n").desc(), "user_id")
        .limit(int(totals["k"]))
        .agg(F.sum("n").alias("top_events"))
    )
    return top.select(
        F.lit(int(totals["n_users"])).alias("n_users"),
        F.lit(int(totals["k"])).alias("top_decile_users"),
        F.col("top_events"),
        (F.col("top_events") / F.lit(int(totals["total"]))).alias("share"),
    )


@declared(
    "ga03_strength_distribution",
    oracle="""
    WITH d AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    p AS (SELECT d1.l_suppkey AS a, d2.l_suppkey AS b, CAST(COUNT(*) AS BIGINT) AS w
          FROM d d1 JOIN d d2
            ON d1.l_orderkey = d2.l_orderkey AND d1.l_suppkey < d2.l_suppkey
          GROUP BY 1, 2),
    s AS (
      SELECT node, CAST(SUM(w) AS BIGINT) AS strength FROM (
        SELECT a AS node, w FROM p UNION ALL SELECT b, w FROM p
      ) GROUP BY node)
    SELECT CAST(strength // 16 AS BIGINT) AS strength_bin,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(strength) AS BIGINT) AS min_strength,
           CAST(MAX(strength) AS BIGINT) AS max_strength
    FROM s GROUP BY 1 ORDER BY 1
    """,
)
def ga03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-degree (strength) distribution of the supplier
    co-occurrence graph — the structural diagnostic that predicts join
    skew before it bites (a heavy strength tail = the hot keys salting
    exists for; ga02's triangle census is the clustering companion; plain
    degree is degenerate here because small-SF graphs are complete).
    Edges with weights from ga01's bounded within-order expansion, node
    strengths from one endpoint-exploded sum, then a width-16 integer
    binning — every stage partial-aggregatable, all exact integers."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey").distinct()
    per_order = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_suppkey")).alias("supps")
    )
    pairs = per_order.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        F.col("supps"),
                        lambda a: F.transform(
                            F.col("supps"),
                            lambda b: F.struct(a.alias("a"), b.alias("b")),
                        ),
                    )
                ),
                lambda pr: pr["a"] < pr["b"],
            )
        ).alias("p")
    ).select("p.a", "p.b")
    w = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("w"))
    s = (
        w.select(F.col("a").alias("node"), "w")
        .unionAll(w.select(F.col("b").alias("node"), "w"))
        .groupBy("node")
        .agg(F.sum("w").alias("strength"))
    )
    return (
        s.groupBy(F.expr("strength div 16").alias("strength_bin"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("strength").alias("min_strength"),
            F.max("strength").alias("max_strength"),
        )
        .orderBy("strength_bin")
    )


@declared(
    "a16_gini",
    oracle="""
    WITH u AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY user_id),
    r AS (SELECT n, CAST(ROW_NUMBER() OVER (ORDER BY n, user_id) AS BIGINT) AS i FROM u)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(2 * SUM(i * n) - (COUNT(*) + 1) * SUM(n) AS DOUBLE)
           / (COUNT(*) * SUM(n)) AS gini
    FROM r
    """,
)
def a16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of per-user activity — the inequality
    summary behind ev11's decile share. Needs a FULL ranking of users;
    the scalable form is `_zip_index` (quantile-bucketed partitioned
    ranks + broadcast offsets — zipWithIndex as DataFrames, NO
    single-partition window), then G = (2Σi·xᵢ − (n+1)Σx)/(nΣx) on
    exact integer sums with ONE final division — bit-identical. At any
    corpus size every stage stays parallel; the driver holds only the
    bucket offsets."""
    from mdio_cpp_spark.plans.zarr_queries import _zip_index

    e = _t(spark, sf_dir, "events")
    # _zip_index consumes its input three times (the quantile job, the
    # in-plan offset subtree, the ranked scan); persist the narrow
    # |users|-row aggregate so events reduce once, not three times
    u = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).persist()
    r = _zip_index(u, ["n", "user_id"], F.col("n"), "i0").select(
        "n", (F.col("i0") + 1).alias("i")
    )
    n_users = F.count(F.lit(1))
    return r.agg(
        n_users.alias("n_users"),
        (
            (2 * F.sum(F.col("i") * F.col("n")) - (n_users + 1) * F.sum("n")).cast("double")
            / (n_users * F.sum("n"))
        ).alias("gini"),
    )


@declared(
    "ts02_ewma",
    oracle="""
    WITH d AS (
      SELECT event_type,
             CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    f AS (
      SELECT d.event_type, d.day + l.lag AS tday,
             d.x * (1 << (7 - l.lag)) AS wx, CAST(1 << (7 - l.lag) AS BIGINT) AS w
      FROM d JOIN (SELECT unnest(range(8)) AS lag) l ON TRUE),
    g AS (
      SELECT event_type, tday,
             CAST(SUM(wx) AS BIGINT) AS num, CAST(SUM(w) AS BIGINT) AS den
      FROM f GROUP BY 1, 2)
    SELECT g.event_type, g.tday AS day,
           CAST(g.num AS DOUBLE) / (100.0 * g.den) AS ewma
    FROM g JOIN d ON d.event_type = g.event_type AND d.day = g.tday
    ORDER BY g.event_type, day
    """,
)
def ts02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily revenue per event
    type (half-life 1 day, 8-day support) — the smoothing primitive behind
    every ops dashboard, WITHOUT the sorted window a textbook EWMA drags
    in. The decay ladder is dyadic (weights 2^(7−lag)), so each daily
    total fans out map-side into its ≤8 target days with EXACT integer
    weighted contributions; one keyed reduce sums numerator and the
    present-day weight mass, and absent days self-normalize (gaps get the
    correct renormalized weights for free, where a recursive EWMA would
    silently decay through missing days). No window, no sort, no
    state — bounded 8× fan-out and a (type, day)-keyed partial agg; the
    only double op is the final num/(100·den). The inner join back to d
    keeps exactly the observed days (a left anchor, not a calendar)."""
    e = _t(spark, sf_dir, "events")
    d = (
        e.groupBy(
            "event_type",
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("day"),
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    )
    ladder = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(l).cast("long").alias("lag"),
                    F.lit(1 << (7 - l)).cast("long").alias("w"),
                )
                for l in range(8)
            ]
        )
    ).alias("lw")
    f = d.select("event_type", "day", "x", ladder).select(
        "event_type",
        (F.col("day") + F.col("lw.lag")).alias("tday"),
        (F.col("x") * F.col("lw.w")).alias("wx"),
        F.col("lw.w").alias("w"),
    )
    g = f.groupBy("event_type", "tday").agg(
        F.sum("wx").alias("num"), F.sum("w").alias("den")
    )
    return (
        g.join(d.select("event_type", F.col("day").alias("tday")), ["event_type", "tday"])
        .select(
            "event_type",
            F.col("tday").alias("day"),
            (F.col("num").cast("double") / (100.0 * F.col("den"))).alias("ewma"),
        )
        .orderBy("event_type", "day")
    )


@declared(
    "ts03_ohlc_downsample",
    oracle="""
    WITH d AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day,
             CAST(ROUND(value * 100) AS BIGINT) AS vc,
             ts, event_id
      FROM events)
    SELECT event_type, day,
           CAST(first(vc ORDER BY ts, event_id) AS DOUBLE) / 100.0 AS open,
           CAST(MAX(vc) AS DOUBLE) / 100.0 AS high,
           CAST(MIN(vc) AS DOUBLE) / 100.0 AS low,
           CAST(last(vc ORDER BY ts, event_id) AS DOUBLE) / 100.0 AS close,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM d GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def ts03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar downsampling — the tick→bar compaction every market/telemetry
    store runs before charting: per (event_type, day), the first, max, min,
    and last value. ONE partial-aggregating groupBy; open/close ride
    min_by/max_by over a composite STRUCT order key (ts, event_id) —
    lexicographic struct comparison gives a total order even under
    timestamp ties without packing both fields into one integer (a packed
    ms·10⁶+id key silently mis-orders once event_id ≥ 10⁶) — so no sorted
    window and no per-group buffering: first/last are combiner-mergeable
    (value, key) pairs. Values travel as integer cents; the /100.0 happens
    once per output cell, so both engines divide the same integers."""
    e = _t(spark, sf_dir, "events")
    k = F.struct(F.col("ts"), F.col("event_id")).alias("k")
    d = e.select(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
        k,
    )
    g = d.groupBy("event_type", "day").agg(
        F.min_by("vc", "k").alias("oc"),
        F.max("vc").alias("hc"),
        F.min("vc").alias("lc"),
        F.max_by("vc", "k").alias("cc"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return g.select(
        "event_type", "day",
        (F.col("oc").cast("double") / 100.0).alias("open"),
        (F.col("hc").cast("double") / 100.0).alias("high"),
        (F.col("lc").cast("double") / 100.0).alias("low"),
        (F.col("cc").cast("double") / 100.0).alias("close"),
        "n_events",
    ).orderBy("event_type", "day")


@declared(
    "ts04_gap_interpolate",
    oracle="""
    WITH d0 AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    d AS (SELECT * FROM d0 WHERE day % 7 NOT IN (2, 3)),
    nx AS (
      SELECT event_type, day, x,
             LEAD(day) OVER w AS nday, LEAD(x) OVER w AS nx
      FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day)),
    fill AS (
      SELECT event_type, f.fday AS day,
             CAST(x * (nday - f.fday) + nx * (f.fday - day) AS BIGINT) AS num,
             (nday - day) * 100 AS den
      FROM nx, unnest(range(day + 1, nday)) AS f(fday)
      WHERE nday IS NOT NULL AND nday > day + 1)
    SELECT event_type, day, CAST(x AS DOUBLE) / 100.0 AS value, 'obs' AS src
    FROM d
    UNION ALL
    SELECT event_type, day, CAST(num AS DOUBLE) / den AS value, 'interp' AS src
    FROM fill
    ORDER BY event_type, day
    """,
)
def ts04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap repair by LINEAR interpolation (ts01 is the step/LOCF variant):
    missing days between consecutive observations are synthesized on the
    line joining their neighbors. One lead() window per key over the tiny
    per-day aggregate finds each gap locally — no calendar cross-join, no
    global densify — and sequence()+explode emits only the missing days
    (output ∝ gaps, not ∝ span). The interpolated value is the integer
    identity (x·(next−f) + nx·(f−cur)) / ((next−cur)·100): one double
    division of exact integers, bit-identical across engines. The test
    corpus has a dense calendar, so the series is first THINNED
    deterministically (days ≡ 2,3 mod 7 dropped — a simulated two-day
    weekly sensor outage) to guarantee the interpolation path is the one
    under oracle gate, multi-day gaps included."""
    e = _t(spark, sf_dir, "events")
    d = (
        e.groupBy(
            "event_type",
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
            .cast("long")
            .alias("day"),
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
        .filter(~(F.col("day") % 7).isin(2, 3))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    nx = d.select(
        "event_type", "day", "x",
        F.lead("day").over(w).alias("nday"),
        F.lead("x").over(w).alias("nx"),
    )
    fill = (
        nx.filter(F.col("nday").isNotNull() & (F.col("nday") > F.col("day") + 1))
        .select(
            "event_type", "day", "x", "nday", "nx",
            F.explode(F.sequence(F.col("day") + 1, F.col("nday") - 1)).alias("fday"),
        )
        .select(
            "event_type",
            F.col("fday").alias("day"),
            (
                (
                    F.col("x") * (F.col("nday") - F.col("fday"))
                    + F.col("nx") * (F.col("fday") - F.col("day"))
                ).cast("double")
                / ((F.col("nday") - F.col("day")) * 100).cast("double")
            ).alias("value"),
            F.lit("interp").alias("src"),
        )
    )
    obs = d.select(
        "event_type", "day",
        (F.col("x").cast("double") / 100.0).alias("value"),
        F.lit("obs").alias("src"),
    )
    return obs.unionAll(fill).orderBy("event_type", "day")


@declared(
    "ts05_crosscorr_lags",
    oracle="""
    WITH d AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1, 2),
    j AS (
      SELECT l.lag, a.c AS ca, b.c AS cb
      FROM (SELECT unnest(range(7)) AS lag) l
      JOIN d a ON a.event_type = 'click'
      JOIN d b ON b.event_type = 'purchase' AND b.day = a.day + l.lag),
    m AS (
      SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(ca) AS BIGINT) AS sa, CAST(SUM(cb) AS BIGINT) AS sb,
             CAST(SUM(ca * cb) AS BIGINT) AS sab,
             CAST(SUM(ca * ca) AS BIGINT) AS saa,
             CAST(SUM(cb * cb) AS BIGINT) AS sbb
      FROM j GROUP BY lag)
    SELECT lag, n,
           CAST(n * sab - sa * sb AS DOUBLE)
             / (sqrt(CAST(n * saa - sa * sa AS DOUBLE))
                * sqrt(CAST(n * sbb - sb * sb AS DOUBLE))) AS r
    FROM m ORDER BY lag
    """,
)
def ts05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag discovery: Pearson correlation between daily click volume
    and purchase volume shifted by 0–6 days — does engagement predict
    revenue, and at what delay? The raw events collapse to per-day counts
    FIRST (one partial agg), so the 7-lag fan-out and the lag-joins touch
    |days| rows, never events. The correlation evaluates from six exact
    integer sums via the textbook identity under a fixed expression shape
    (two sqrts, one product, one division) — no accumulation-order
    dependence anywhere."""
    e = _t(spark, sf_dir, "events")
    d = (
        e.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy(
            "event_type",
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
            .cast("long")
            .alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()  # both lag-join sides read the same tiny daily table
    )
    a = d.filter(F.col("event_type") == "click").select("day", F.col("c").alias("ca"))
    b = d.filter(F.col("event_type") == "purchase").select(
        F.col("day").alias("bday"), F.col("c").alias("cb")
    )
    lags = spark.range(7).select(F.col("id").alias("lag"))
    j = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("bday") == F.col("day") + F.col("lag"))
    )
    m = j.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ca").alias("sa"),
        F.sum("cb").alias("sb"),
        F.sum(F.col("ca") * F.col("cb")).alias("sab"),
        F.sum(F.col("ca") * F.col("ca")).alias("saa"),
        F.sum(F.col("cb") * F.col("cb")).alias("sbb"),
    )
    r = (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")).cast("double") / (
        F.sqrt((F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")).cast("double"))
        * F.sqrt((F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")).cast("double"))
    )
    return m.select("lag", "n", r.alias("r")).orderBy("lag")


@declared(
    "ts06_cusum_changepoint",
    oracle="""
    WITH d AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    t AS (
      SELECT event_type, CAST(SUM(x) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
      FROM d GROUP BY 1),
    c AS (
      SELECT d.event_type, d.day, t.n, t.s,
             CAST(SUM(d.x) OVER (PARTITION BY d.event_type ORDER BY d.day
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(ROW_NUMBER() OVER (PARTITION BY d.event_type ORDER BY d.day)
                  AS BIGINT) AS k
      FROM d JOIN t USING (event_type)),
    z AS (
      SELECT event_type, day, n,
             abs(n * cum - k * s) AS dev,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY abs(n * cum - k * s) DESC, day) AS rn
      FROM c)
    SELECT event_type, day AS change_day,
           CAST(dev AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0) AS max_cusum
    FROM z WHERE rn = 1 ORDER BY event_type
    """,
)
def ts06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point estimate: per event type, the day where the
    cumulative deviation of daily revenue from its own mean peaks — the
    classic level-shift locator. The mean never materializes as a float:
    the deviation is scaled by n (n·cum_k − k·S, all exact integers), so
    the argmax and its tie-break (earliest day) are integer comparisons;
    one division at the very end converts the winning deviation to the
    conventional Σ(x−x̄) units. Per-key windows over per-day aggregates —
    nothing grows with the raw event count."""
    e = _t(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    t = d.groupBy("event_type").agg(
        F.sum("x").alias("s"), F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    c = d.join(F.broadcast(t), "event_type").select(
        "event_type", "day", "n", "s",
        F.sum("x").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.row_number().over(w).cast("long").alias("k"),
    )
    dev = F.abs(F.col("n") * F.col("cum") - F.col("k") * F.col("s"))
    z = c.select(
        "event_type", "day", "n", dev.alias("dev"),
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy(dev.desc(), F.col("day")))
        .alias("rn"),
    )
    return (
        z.filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("change_day"),
            (F.col("dev").cast("double") / (F.col("n").cast("double") * 100.0)).alias(
                "max_cusum"
            ),
        )
        .orderBy("event_type")
    )


@declared(
    "ev12_hourly_profile",
    oracle="""
    WITH h AS (
      SELECT event_type, CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS rev_e2
      FROM events GROUP BY 1, 2),
    t AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS tot FROM h GROUP BY event_type)
    SELECT h.event_type, h.hour, h.n,
           CAST(h.n AS DOUBLE) / t.tot AS share,
           CAST(h.rev_e2 AS DOUBLE) / 100.0 AS revenue
    FROM h JOIN t ON h.event_type = t.event_type
    ORDER BY h.event_type, h.hour
    """,
)
def ev12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality profile per event type: traffic share and
    revenue by hour — the diurnal fingerprint capacity planning and
    anomaly baselines (dq02) are normalized against. One (type, hour)
    partial agg over raw events (≤24·|types| result rows), a broadcast of
    per-type totals, and exact int/int share divisions — the profile's
    cost is one map-side-combined pass regardless of corpus size."""
    e = _t(spark, sf_dir, "events")
    h = e.groupBy("event_type", F.hour("ts").cast("long").alias("hour")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("rev_e2"),
    )
    t = h.groupBy("event_type").agg(F.sum("n").alias("tot"))
    return (
        h.join(F.broadcast(t), "event_type")
        .select(
            "event_type",
            "hour",
            "n",
            (F.col("n").cast("double") / F.col("tot")).alias("share"),
            (F.col("rev_e2").cast("double") / 100.0).alias("revenue"),
        )
        .orderBy("event_type", "hour")
    )


@declared(
    "dq05_key_audit",
    oracle="""
    WITH k AS (
      SELECT 'orders' AS tbl, CAST(o_orderkey AS VARCHAR) AS k FROM orders
      UNION ALL SELECT 'customer', CAST(c_custkey AS VARCHAR) FROM customer
      UNION ALL SELECT 'part', CAST(p_partkey AS VARCHAR) FROM part
      UNION ALL SELECT 'supplier', CAST(s_suppkey AS VARCHAR) FROM supplier
      UNION ALL SELECT 'lineitem',
                       CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)
                FROM lineitem
      UNION ALL SELECT 'events', CAST(event_id AS VARCHAR) FROM events
      UNION ALL SELECT 'documents', CAST(doc_id AS VARCHAR) FROM documents
      UNION ALL SELECT 'embeddings', CAST(vec_id AS VARCHAR) FROM embeddings
    ),
    c AS (SELECT tbl, k, CAST(COUNT(*) AS BIGINT) AS m FROM k GROUP BY tbl, k)
    SELECT tbl, CAST(SUM(m) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(COUNT(*) FILTER (WHERE m > 1) AS BIGINT) AS n_dup_keys,
           CAST(MAX(m) AS BIGINT) AS max_mult
    FROM c GROUP BY tbl ORDER BY tbl
    """,
)
def dq05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit across the whole star schema in ONE
    unioned plan: per declared key (composite for lineitem) — row count,
    distinct keys, duplicated keys, and the worst multiplicity. The
    ingestion-gate companion to dq03's foreign-key audit: a key whose
    max_mult jumps is an upstream double-load long before joins start
    exploding. Each branch is a projection straight off its scan (keys
    stringified so one union covers heterogeneous schemas), then ONE
    map-side-combined (table, key) count whose second-stage rollup is
    8 rows; per-branch shuffles carry key strings only, never payloads."""
    pieces = [
        ("orders", F.col("o_orderkey").cast("string")),
        ("customer", F.col("c_custkey").cast("string")),
        ("part", F.col("p_partkey").cast("string")),
        ("supplier", F.col("s_suppkey").cast("string")),
        (
            "lineitem",
            F.concat_ws(":", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string")),
        ),
        ("events", F.col("event_id").cast("string")),
        ("documents", F.col("doc_id").cast("string")),
        ("embeddings", F.col("vec_id").cast("string")),
    ]
    parts = []
    for tbl, key in pieces:
        parts.append(
            _t(spark, sf_dir, tbl).select(F.lit(tbl).alias("tbl"), key.alias("k"))
        )
    allk = parts[0]
    for p in parts[1:]:
        allk = allk.unionAll(p)
    c = allk.groupBy("tbl", "k").agg(F.count(F.lit(1)).alias("m"))
    return (
        c.groupBy("tbl")
        .agg(
            F.sum("m").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.count(F.when(F.col("m") > 1, 1)).alias("n_dup_keys"),
            F.max("m").alias("max_mult"),
        )
        .orderBy("tbl")
    )


_U05_CUT = "2024-01-16 00:00:00"


@declared(
    "u05_snapshot_delta",
    oracle=f"""
    WITH s1 AS (
      SELECT user_id, event_type, v FROM (
        SELECT user_id, event_type, CAST(ROUND(value * 100) AS BIGINT) AS v,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts DESC, event_id DESC) AS r
        FROM events WHERE ts < TIMESTAMP '{_U05_CUT}') WHERE r = 1),
    s2 AS (
      SELECT user_id, event_type, v FROM (
        SELECT user_id, event_type, CAST(ROUND(value * 100) AS BIGINT) AS v,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts DESC, event_id DESC) AS r
        FROM events) WHERE r = 1)
    SELECT s2.event_type,
           CAST(COUNT(*) FILTER (WHERE s1.user_id IS NULL) AS BIGINT) AS n_added,
           CAST(COUNT(*) FILTER (WHERE s1.user_id IS NOT NULL AND s1.v <> s2.v) AS BIGINT) AS n_changed,
           CAST(COUNT(*) FILTER (WHERE s1.v = s2.v) AS BIGINT) AS n_unchanged
    FROM s2 LEFT JOIN s1 ON s1.user_id = s2.user_id AND s1.event_type = s2.event_type
    GROUP BY s2.event_type ORDER BY s2.event_type
    """,
)
def u05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot delta audit: diff the latest-value-per-(user, type) state
    at a historical cutoff against the current state and count
    added / changed / unchanged keys per event type — the reconciliation
    report run after every CDC backfill (u01 applies changes; this PROVES
    what a replay changed). Latest-per-key is the deterministic max_by on
    (ts, event_id) — one keyed partial agg per snapshot, both partitioned
    on the SAME (user, type) key so the outer join is co-partitioned with
    no extra exchange; the cutoff snapshot additionally benefits from
    predicate pushdown on ts. Counts are exact integers."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id",
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )

    def latest(df: DataFrame, out: str) -> DataFrame:
        return df.groupBy("user_id", "event_type").agg(
            F.max_by("v", F.struct(F.col("ts"), F.col("event_id"))).alias(out)
        )

    s1 = latest(e.filter(F.col("ts") < F.lit(_U05_CUT).cast("timestamp")), "v1")
    s2 = latest(e, "v2")
    j = s2.join(s1, ["user_id", "event_type"], "left")
    return (
        j.groupBy("event_type")
        .agg(
            F.count(F.when(F.col("v1").isNull(), 1)).alias("n_added"),
            F.count(F.when(F.col("v1").isNotNull() & (F.col("v1") != F.col("v2")), 1)).alias("n_changed"),
            F.count(F.when(F.col("v1") == F.col("v2"), 1)).alias("n_unchanged"),
        )
        .orderBy("event_type")
    )


@declared(
    "ev13_rfm_segments",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(DATE '2024-01-31' - MAX(CAST(ts AS DATE)) AS BIGINT) AS rec,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS mon
      FROM events GROUP BY user_id),
    c AS (
      SELECT ROUND(quantile_cont(rec, 0.25), 4) AS r1, ROUND(quantile_cont(rec, 0.75), 4) AS r2,
             ROUND(quantile_cont(freq, 0.25), 4) AS f1, ROUND(quantile_cont(freq, 0.75), 4) AS f2,
             ROUND(quantile_cont(mon, 0.25), 4) AS m1, ROUND(quantile_cont(mon, 0.75), 4) AS m2
      FROM u),
    seg AS (
      SELECT CAST(((rec >= r1)::INT + (rec >= r2)::INT) * 100
                  + ((freq >= f1)::INT + (freq >= f2)::INT) * 10
                  + ((mon >= m1)::INT + (mon >= m2)::INT) AS BIGINT) AS segment,
             mon
      FROM u CROSS JOIN c)
    SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(mon) AS DOUBLE) / (100.0 * COUNT(*)) AS avg_monetary
    FROM seg GROUP BY segment ORDER BY segment
    """,
)
def ev13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: band every user by recency / frequency / monetary
    quartile cuts (low/mid/high per axis → a 3-digit segment code) and
    profile each segment — the marketing-analytics workhorse, built on the
    SAME exact distributed percentile operator as p06/p14 so no per-group
    value buffer exists anywhere. Events reduce ONCE to a |users|-row
    aggregate; the three cut pairs ride one 6-literal broadcast row;
    banding is map-side integer comparisons and the profile is a ≤27-key
    reduce. avg_monetary divides two exact integers in one double op."""
    from mdio_cpp_spark.operators import stats as _stats

    e = _t(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.datediff(F.lit("2024-01-31").cast("date"), F.max(F.col("ts").cast("date")))
        .cast("long")
        .alias("rec"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("mon"),
    )
    from pyspark.storagelevel import StorageLevel

    # the cut computations each consume u; persist the narrow
    # |users|-row aggregate so events reduce ONCE, not three times
    u = u.persist(StorageLevel.MEMORY_AND_DISK)
    # ONE percentile pass for all three axes: unpivot (axis, value) and let
    # the axis BE the group key — the exact-percentile machinery prices its
    # passes per invocation, so three separate calls cost 3× the jobs for
    # the same answer. The 3-row (axis, lo, hi) result folds into the
    # 6-literal cut row with one conditional aggregate.
    longs = u.selectExpr("stack(3, 'rec', rec, 'freq', freq, 'mon', mon) AS (ax, val)")
    # longs is a map-side stack over the persisted u — the operator's
    # internal second cache of it would only duplicate u in memory
    # (round-11: one fewer cache materialization job)
    p = _stats.grouped_percentiles(
        longs, "ax", "val", [(0.25, "lo"), (0.75, "hi")], input_cached=True
    )
    pick = lambda ax, c: F.max(F.when(F.col("ax") == ax, F.col(c)))
    cuts = p.agg(
        pick("rec", "lo").alias("r1"), pick("rec", "hi").alias("r2"),
        pick("freq", "lo").alias("f1"), pick("freq", "hi").alias("f2"),
        pick("mon", "lo").alias("m1"), pick("mon", "hi").alias("m2"),
    ).withColumn("gg", F.lit(1))
    band = lambda v, c1, c2: (F.col(v) >= F.col(c1)).cast("int") + (F.col(v) >= F.col(c2)).cast("int")
    seg = (
        u.crossJoin(F.broadcast(cuts.drop("gg")))
        .select(
            (
                band("rec", "r1", "r2") * 100
                + band("freq", "f1", "f2") * 10
                + band("mon", "m1", "m2")
            )
            .cast("long")
            .alias("segment"),
            "mon",
        )
    )
    return (
        seg.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            (F.sum("mon").cast("double") / (100.0 * F.count(F.lit(1)))).alias("avg_monetary"),
        )
        .orderBy("segment")
    )


@declared(
    "ga04_pagerank_step",
    oracle="""
    WITH e AS (
      SELECT l1.l_suppkey AS a, l2.l_suppkey AS b,
             CAST(COUNT(DISTINCT l1.l_orderkey) AS BIGINT) AS w
      FROM lineitem l1 JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
      GROUP BY a, b),
    ud AS (SELECT a AS src, b AS dst, w FROM e
           UNION ALL SELECT b, a, w FROM e),
    s AS (SELECT src, CAST(SUM(w) AS BIGINT) AS strength FROM ud GROUP BY src)
    SELECT ud.dst AS node,
           ROUND(0.15 + 0.85 * SUM(CAST(ud.w AS DOUBLE) / s.strength), 6) AS pr1
    FROM ud JOIN s ON s.src = ud.src
    GROUP BY ud.dst ORDER BY node
    """,
)
def ga04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One weighted-PageRank iteration over the supplier co-occurrence
    graph (damping 0.85, uniform unnormalized start): pr₁(v) = 0.15 +
    0.85·Σᵤ w(u,v)/strength(u) — the graph-centrality analog of
    ml03/ml04/ml05's one-distributed-iteration family. Edges come from
    ga01's bounded within-order expansion (never a corpus cross join),
    directed by a 2× map-side mirror; out-strengths are one keyed agg
    that CO-PARTITIONS with the contribution join on src; the rank update
    is a dst-keyed reduce. Per iteration the shuffle carries one
    (src, dst, w) triple per edge — the textbook message-passing shape.
    Contribution sums follow the 6dp rounding contract (float add order)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey").distinct()
    per_order = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_suppkey")).alias("supps")
    )
    pairs = per_order.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        F.col("supps"),
                        lambda a: F.transform(
                            F.col("supps"),
                            lambda b: F.struct(a.alias("a"), b.alias("b")),
                        ),
                    )
                ),
                lambda p: p["a"] < p["b"],
            )
        ).alias("p")
    ).select("p.a", "p.b")
    # the edge table feeds four plan positions (both mirror halves, each
    # consumed by the strength agg AND the contribution join); persist the
    # small (a, b, w) list so the lineitem scan + pair expansion runs once
    e = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("w")).persist()
    ud = e.select(F.col("a").alias("src"), F.col("b").alias("dst"), "w").unionAll(
        e.select(F.col("b").alias("src"), F.col("a").alias("dst"), "w")
    )
    s = ud.groupBy("src").agg(F.sum("w").alias("strength"))
    return (
        ud.join(s, "src")
        .groupBy(F.col("dst").alias("node"))
        .agg(
            F.round(
                0.15 + 0.85 * F.sum(F.col("w").cast("double") / F.col("strength")), 6
            ).alias("pr1")
        )
        .orderBy("node")
    )


@declared(
    "w14_bollinger",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    w AS (
      SELECT event_type, day, x,
             CAST(SUM(x) OVER fr AS BIGINT) AS s,
             CAST(SUM(x * x) OVER fr AS BIGINT) AS ss,
             CAST(COUNT(*) OVER fr AS BIGINT) AS n
      FROM d
      WINDOW fr AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
    SELECT event_type, day,
           CAST(s AS DOUBLE) / (100.0 * n) AS mid,
           CAST(s AS DOUBLE) / (100.0 * n)
             - 2.0 * sqrt(CAST(n * ss - s * s AS DOUBLE)) / (100.0 * n) AS lower_band,
           CAST(s AS DOUBLE) / (100.0 * n)
             + 2.0 * sqrt(CAST(n * ss - s * s AS DOUBLE)) / (100.0 * n) AS upper_band
    FROM w ORDER BY event_type, day
    """,
)
def w14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands: 7-day rolling mean ± 2 population-σ of daily
    revenue per event type — the volatility envelope behind alert
    thresholds (dq02 flags deviations; this computes the adaptive band
    itself). The window carries EXACT integer sums (Σx, Σx², n in cents),
    so the frame aggregation is accumulation-order-free; mean and σ
    evaluate per row in one fixed-shape expression — σ via the integer
    identity n·Σx² − (Σx)² under a single IEEE sqrt — bit-identical with
    no rounding escape. Windows partition on event_type over the tiny
    per-day aggregate (≤|days| rows per key), never over raw events."""
    e = _t(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    fr = Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    w = d.select(
        "event_type", "day", "x",
        F.sum("x").over(fr).alias("s"),
        F.sum(F.col("x") * F.col("x")).over(fr).alias("ss"),
        F.count(F.lit(1)).over(fr).alias("n"),
    )
    mid = F.col("s").cast("double") / (100.0 * F.col("n"))
    sig = (
        F.lit(2.0)
        * F.sqrt((F.col("n") * F.col("ss") - F.col("s") * F.col("s")).cast("double"))
        / (100.0 * F.col("n"))
    )
    return w.select(
        "event_type", "day",
        mid.alias("mid"),
        (mid - sig).alias("lower_band"),
        (mid + sig).alias("upper_band"),
    ).orderBy("event_type", "day")


@declared(
    "dq06_freshness",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           MAX(ts) AS last_ts,
           CAST(date_diff('minute', MAX(ts), TIMESTAMP '2024-01-31 00:00:00')
                AS BIGINT) AS lag_minutes,
           CAST(COUNT(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-30 00:00:00')
                AS BIGINT) AS n_last_day
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def dq06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-freshness audit: per event type — total volume, the most
    recent timestamp, its staleness in minutes against the 2024-01-31
    reporting anchor, and the final-day volume. The first page of every
    ingestion dashboard (dq02 catches volume anomalies; this catches the
    feed that silently STOPPED). One map-side-combined pass; MAX(ts) and
    the conditional count are classic partial aggregates, so the shuffle
    is |types| rows of scalars regardless of corpus size."""
    e = _t(spark, sf_dir, "events")
    anchor = F.lit("2024-01-31 00:00:00").cast("timestamp")
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.max("ts").alias("last_ts"),
            # date_diff('minute', …) counts minute-BOUNDARY crossings, so
            # truncate to the minute before differencing
            (
                (anchor.cast("long") - F.date_trunc("minute", F.max("ts")).cast("long"))
                / 60
            ).cast("long").alias("lag_minutes"),
            F.count(
                F.when(F.col("ts") >= F.lit("2024-01-30 00:00:00").cast("timestamp"), 1)
            ).alias("n_last_day"),
        )
        .orderBy("event_type")
    )


@declared(
    "dq07_contract_audit",
    oracle="""
    SELECT 'orders_price_positive' AS rule,
           CAST(COUNT(*) AS BIGINT) AS n_checked,
           CAST(COUNT(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT) AS n_violations
    FROM orders
    UNION ALL
    SELECT 'lineitem_discount_range',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.5) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'ship_after_order',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE l_shipdate < o_orderdate) AS BIGINT)
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    UNION ALL
    SELECT 'events_value_nonneg',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE value < 0) AS BIGINT)
    FROM events
    ORDER BY rule
    """,
)
def dq07(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract audit: declarative validity rules — domain checks on
    single tables plus the CROSS-TABLE temporal invariant (no line ships
    before its order is placed) — each reported as checked/violation
    counts in one unioned plan. This is the constraint layer dq01–dq06
    don't cover: dq05 audits keys, dq03 references; dq07 audits VALUES
    against business rules, the thing that actually rots first in a feed.
    Single-table rules are map-side conditional counts (one scan each);
    the temporal rule is one orderkey equi-join that only carries two
    date columns. |rules| result rows at any corpus size."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    e = _t(spark, sf_dir, "events")
    r1 = o.agg(
        F.lit("orders_price_positive").alias("rule"),
        F.count(F.lit(1)).alias("n_checked"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("n_violations"),
    )
    r2 = li.agg(
        F.lit("lineitem_discount_range").alias("rule"),
        F.count(F.lit(1)).alias("n_checked"),
        F.count(F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.5), 1)).alias("n_violations"),
    )
    r3 = (
        li.select("l_orderkey", "l_shipdate")
        .join(o.select("o_orderkey", "o_orderdate"), F.col("l_orderkey") == F.col("o_orderkey"))
        .agg(
            F.lit("ship_after_order").alias("rule"),
            F.count(F.lit(1)).alias("n_checked"),
            F.count(F.when(F.col("l_shipdate") < F.col("o_orderdate"), 1)).alias("n_violations"),
        )
    )
    r4 = e.agg(
        F.lit("events_value_nonneg").alias("rule"),
        F.count(F.lit(1)).alias("n_checked"),
        F.count(F.when(F.col("value") < 0, 1)).alias("n_violations"),
    )
    return r1.unionAll(r2).unionAll(r3).unionAll(r4).orderBy("rule")


@declared(
    "w15_rolling_corr",
    oracle="""
    WITH d AS (
      SELECT CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day,
             CAST(SUM(CASE WHEN event_type = 'click'
                           THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY 1),
    w AS (
      SELECT day,
             CAST(COUNT(*) OVER fr AS BIGINT) AS n,
             CAST(SUM(x) OVER fr AS BIGINT) AS sx,
             CAST(SUM(y) OVER fr AS BIGINT) AS sy,
             CAST(SUM(x * x) OVER fr AS BIGINT) AS sxx,
             CAST(SUM(y * y) OVER fr AS BIGINT) AS syy,
             CAST(SUM(x * y) OVER fr AS BIGINT) AS sxy
      FROM d
      WINDOW fr AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
    SELECT day,
           CAST(n * sxy - sx * sy AS DOUBLE)
           / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
              * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS corr
    FROM w WHERE n >= 3 ORDER BY day
    """,
)
def w15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling Pearson correlation between the click and purchase revenue
    series over a trailing 7-day frame — the co-movement monitor behind
    attribution sanity checks (ev05 assigns credit; this watches whether
    the channels still move together at all). The frame carries SIX exact
    integer sums; the correlation evaluates per row from the integer
    identities (n·Σxy − ΣxΣy over the two √(n·Σ²−Σ²) spreads) in one
    fixed-shape expression — bit-identical, no rounding escape. The
    window is keyless but runs over the |days|-row PER-DAY aggregate
    (two-column pivot built map-side), never raw events; a multi-series
    version would partition per pair."""
    e = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    d = e.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("day")
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", cents).otherwise(0)).alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", cents).otherwise(0)).alias("y"),
    )
    fr = Window.orderBy("day").rowsBetween(-6, 0)
    w = d.select(
        "day",
        F.count(F.lit(1)).over(fr).alias("n"),
        F.sum("x").over(fr).alias("sx"),
        F.sum("y").over(fr).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(fr).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(fr).alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(fr).alias("sxy"),
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double") / (
        F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
        * F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
    )
    return w.filter(F.col("n") >= 3).select("day", corr.alias("corr")).orderBy("day")


@declared(
    "ev14_new_vs_returning",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day
      FROM events),
    fs AS (SELECT user_id, MIN(day) AS first_day FROM ud GROUP BY user_id)
    SELECT ud.day,
           CAST(COUNT(*) FILTER (WHERE ud.day = fs.first_day) AS BIGINT) AS n_new,
           CAST(COUNT(*) FILTER (WHERE ud.day > fs.first_day) AS BIGINT) AS n_returning,
           CAST(COUNT(*) FILTER (WHERE ud.day = fs.first_day) AS DOUBLE) / COUNT(*)
           AS new_share
    FROM ud JOIN fs ON ud.user_id = fs.user_id
    GROUP BY ud.day ORDER BY ud.day
    """,
)
def ev14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning split: classify each active (user, day)
    against the user's first-seen day — the growth-accounting staple
    (ev08 counts actives; this says whether they're acquisition or
    retention). Events collapse FIRST to distinct (user, day) — the same
    event-sized-reduces-immediately move as ev08 — then first-seen is one
    user-keyed MIN that CO-PARTITIONS with the classify join (both keyed
    on user_id, no extra exchange), and the day rollup is |days| keys.
    All exact integers, one share division."""
    e = _t(spark, sf_dir, "events")
    ud = e.select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    ).distinct()
    fs = ud.groupBy("user_id").agg(F.min("day").alias("first_day"))
    new = F.count(F.when(F.col("day") == F.col("first_day"), 1))
    return (
        ud.join(fs, "user_id")
        .groupBy("day")
        .agg(
            new.alias("n_new"),
            F.count(F.when(F.col("day") > F.col("first_day"), 1)).alias("n_returning"),
            (new.cast("double") / F.count(F.lit(1))).alias("new_share"),
        )
        .orderBy("day")
    )


@declared(
    "ev15_stickiness",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id,
             date_trunc('day', ts) AS day,
             date_diff('day', DATE '1970-01-01', CAST(date_trunc('day', ts) AS DATE)) AS dnum
      FROM events),
    grid AS (SELECT DISTINCT day, dnum FROM ud),
    j AS (
      SELECT g.day, g.dnum AS d, u.user_id, u.dnum AS ud
      FROM grid g JOIN ud u ON u.dnum BETWEEN g.dnum - 27 AND g.dnum),
    m AS (
      SELECT day,
             CAST(COUNT(DISTINCT CASE WHEN ud = d THEN user_id END) AS BIGINT) AS dau,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
      FROM j GROUP BY day)
    SELECT day, dau, mau, CAST(dau AS DOUBLE) / mau AS stickiness
    FROM m ORDER BY day
    """,
)
def ev15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stickiness (DAU/MAU): the engagement-frequency ratio product teams
    steer by — how much of the monthly audience shows up on a given day.
    COMPOSES ev08's machinery (distinct-first collapse, bounded 28-day
    grid fanout, conditional distinct counts) and adds one exact int/int
    division; the plan is ev08's plan minus the WAU branch. A rising DAU
    with flat stickiness means acquisition, not habit — the distinction
    ev14's new-vs-returning split corroborates from the other side."""
    e = _t(spark, sf_dir, "events")
    ud = (
        e.select(
            "user_id",
            F.date_trunc("day", "ts").alias("day"),
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias("dnum"),
        )
        .distinct()
    )
    grid = ud.select("day", "dnum").distinct()
    j = grid.alias("g").join(
        ud.alias("u"),
        F.col("u.dnum").between(F.col("g.dnum") - 27, F.col("g.dnum")),
    ).select(
        F.col("g.day").alias("day"), F.col("g.dnum").alias("d"),
        F.col("u.user_id").alias("user_id"), F.col("u.dnum").alias("ud"),
    )
    m = j.groupBy("day").agg(
        F.countDistinct(F.when(F.col("ud") == F.col("d"), F.col("user_id"))).alias("dau"),
        F.countDistinct("user_id").alias("mau"),
    )
    return m.select(
        "day", "dau", "mau", (F.col("dau").cast("double") / F.col("mau")).alias("stickiness")
    ).orderBy("day")


@declared(
    "ml08_ab_ztest",
    oracle="""
    WITH u AS (
      SELECT user_id, CAST(user_id % 2 AS BIGINT) AS grp,
             CAST(CASE WHEN COUNT(*) FILTER (WHERE event_type = 'purchase') > 0
                       THEN 1 ELSE 0 END AS BIGINT) AS conv
      FROM events GROUP BY user_id),
    s AS (
      SELECT CAST(COUNT(*) FILTER (WHERE grp = 0) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN grp = 0 THEN conv ELSE 0 END) AS BIGINT) AS c0,
             CAST(COUNT(*) FILTER (WHERE grp = 1) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN grp = 1 THEN conv ELSE 0 END) AS BIGINT) AS c1
      FROM u)
    SELECT n0, c0, n1, c1,
           CAST(c0 AS DOUBLE) / n0 AS p0,
           CAST(c1 AS DOUBLE) / n1 AS p1,
           (CAST(c0 AS DOUBLE) / n0 - CAST(c1 AS DOUBLE) / n1)
           / NULLIF(sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                         * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                         * (1.0 / n0 + 1.0 / n1)), 0.0) AS z
    FROM s
    """,
)
def ml08(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test — the experiment readout: conversion rates of
    two user cohorts (deterministic user_id-parity assignment standing in
    for the bucketing hash) with the pooled-variance z statistic. The
    corpus reduces ONCE to per-user (group, converted) — the same
    sufficient-statistics discipline as ml01/ml04 — then FOUR integers
    feed one fixed-shape expression (two rate divisions, the pooled rate,
    one sqrt, one final division — identical IEEE op order both engines,
    bit-exact with no rounding). Any experiment size returns exactly one
    row; significance thresholds apply downstream."""
    e = _t(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        (F.col("user_id") % 2).cast("long").alias("grp"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("conv"),
    )
    s = u.agg(
        F.count(F.when(F.col("grp") == 0, 1)).alias("n0"),
        F.sum(F.when(F.col("grp") == 0, F.col("conv")).otherwise(0)).alias("c0"),
        F.count(F.when(F.col("grp") == 1, 1)).alias("n1"),
        F.sum(F.when(F.col("grp") == 1, F.col("conv")).otherwise(0)).alias("c1"),
    )
    p0 = F.col("c0").cast("double") / F.col("n0")
    p1 = F.col("c1").cast("double") / F.col("n1")
    pp = (F.col("c0") + F.col("c1")).cast("double") / (F.col("n0") + F.col("n1"))
    # a degenerate experiment (pooled rate 0 or 1) has zero variance: the
    # z statistic is undefined — NULL, not a DIVIDE_BY_ZERO abort (ANSI)
    z = (p0 - p1) / F.nullif(
        F.sqrt(
            pp * (F.lit(1.0) - pp) * (F.lit(1.0) / F.col("n0") + F.lit(1.0) / F.col("n1"))
        ),
        F.lit(0.0),
    )
    return s.select(
        "n0", "c0", "n1", "c1", p0.alias("p0"), p1.alias("p1"), z.alias("z")
    )


@declared(
    "ga05_label_prop_step",
    oracle="""
    WITH e AS (
      SELECT l1.l_suppkey AS a, l2.l_suppkey AS b
      FROM lineitem l1 JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
      GROUP BY a, b),
    ud AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
    nodes AS (SELECT DISTINCT src AS node FROM ud)
    SELECT n.node,
           CAST(LEAST(n.node, MIN(ud.dst)) AS BIGINT) AS new_label
    FROM nodes n LEFT JOIN ud ON ud.src = n.node
    GROUP BY n.node ORDER BY n.node
    """,
)
def ga05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One min-label propagation step over the supplier co-occurrence
    graph: every node adopts the smallest label in its closed
    neighborhood — THE primitive d06's distributed connected-components
    fallback iterates to a fixed point, surfaced as its own declared
    gate so the iteration's single step is differentially pinned (ga04
    does the weighted-PageRank analog). ONE keyed min over the mirrored
    edge list — the node set is exactly distinct(src) of the mirrored
    edges, so the closed-neighborhood min is a single groupBy(src) with
    least(src, min(dst)); no separate node frame, no join. Both mirror
    directions explode from one pass over the pair list (no persist, no
    double scan). Per sweep the shuffle carries one (src, dst) pair per
    edge and the state is one label per node — the message-passing shape
    at any graph size. Exact integers."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey").distinct()
    per_order = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_suppkey")).alias("supps")
    )
    pairs = per_order.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        F.col("supps"),
                        lambda a: F.transform(
                            F.col("supps"),
                            lambda b: F.struct(a.alias("a"), b.alias("b")),
                        ),
                    )
                ),
                lambda p: p["a"] < p["b"],
            )
        ).alias("p")
    ).select("p.a", "p.b").distinct()
    ud = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    return (
        ud.groupBy(F.col("src").alias("node"))
        .agg(F.least(F.col("node"), F.min("dst")).cast("long").alias("new_label"))
        .orderBy("node")
    )


@declared(
    "dq08_benford",
    oracle="""
    WITH d AS (
      SELECT CAST(SUBSTR(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice > 0),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM d)
    SELECT digit,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS DOUBLE) / MAX(n.total) AS obs_share,
           ROUND(ln(1.0 + 1.0 / digit) / ln(10.0), 6) AS benford_share
    FROM d, n GROUP BY digit ORDER BY digit
    """,
)
def dq08(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals — the classic fabricated-
    data screen a quality monitor runs over any money-like column. The
    leading digit comes from INTEGER cents rendered as a string (never
    floor(log10(x)): libm log10 of an exact power of 10 can land a hair
    under the integer and shift every boundary value's digit), so the digit
    histogram is exact in both engines; shares are single divisions of
    exact counts and the Benford expectation ln(1+1/d)/ln(10) is a fixed
    per-row expression. One partial-agg groupBy over the scan + a 1-row
    broadcast total — no shuffle wider than 9 rows."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    d = o.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("digit")
    )
    n = d.agg(F.count(F.lit(1)).alias("total"))
    return (
        d.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .crossJoin(F.broadcast(n))
        .select(
            "digit",
            "n_orders",
            (F.col("n_orders").cast("double") / F.col("total")).alias("obs_share"),
            F.round(F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0)), 6).alias(
                "benford_share"
            ),
        )
        .orderBy("digit")
    )


@declared(
    "ev17_seasonal_anomaly",
    aliases=("ev15_seasonal_anomaly",),
    oracle="""
    WITH d AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    b AS (
      SELECT event_type, day % 7 AS wd,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s,
             CAST(SUM(x * x) AS BIGINT) AS ss
      FROM d GROUP BY 1, 2),
    z AS (
      SELECT d.event_type, d.day, d.day % 7 AS wd,
             CAST(d.x AS DOUBLE) / 100.0 AS revenue,
             CAST(d.x * (b.n - 1) - (b.s - d.x) AS DOUBLE)
               / sqrt(CAST((b.n - 1) * (b.ss - d.x * d.x)
                           - (b.s - d.x) * (b.s - d.x) AS DOUBLE)) AS zn
      FROM d JOIN b ON b.event_type = d.event_type AND b.wd = d.day % 7
      WHERE b.n >= 4
        AND (b.n - 1) * (b.ss - d.x * d.x) > (b.s - d.x) * (b.s - d.x))
    SELECT event_type, day, wd, revenue, ROUND(zn, 4) AS z
    FROM z WHERE abs(zn) > 3.0
    ORDER BY event_type, day
    """,
)
def ev17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-adjusted anomaly days: each day's revenue is scored
    against its OWN weekday's baseline (Mondays vs Mondays), catching the
    "weekend dip is normal, a weekday dip is not" case that w14's rolling
    band smears across the week. The baseline is LEAVE-ONE-OUT — the day
    under test is subtracted from its weekday's sufficient statistics
    (n−1, Σx−x, Σx²−x²) before scoring, so an outlier can't dilute its own
    reference (with only ~4 same-weekday peers, in-sample z is bounded by
    (n−1)/√n ≈ 2 and would flag nothing, ever). Day 0 is a Monday, so
    wd = day mod 7 needs no calendar function and no locale-dependent
    DAYOFWEEK convention; the z is one fixed-shape expression over exact
    integers — engine-reproducible flagging at |z| > 3. Two partial aggs +
    a broadcast-sized baseline join back onto the |days|-row frame —
    nothing event-sized past the first agg."""
    e = _t(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    b = d.select("event_type", (F.col("day") % 7).alias("wd"), "x").groupBy(
        "event_type", "wd"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("ss"),
    )
    j = d.withColumn("wd", F.col("day") % 7).join(F.broadcast(b), ["event_type", "wd"])
    nl = F.col("n") - 1
    sl = F.col("s") - F.col("x")
    ssl = F.col("ss") - F.col("x") * F.col("x")
    zn = (F.col("x") * nl - sl).cast("double") / F.sqrt(
        (nl * ssl - sl * sl).cast("double")
    )
    return (
        j.filter((F.col("n") >= 4) & (nl * ssl > sl * sl))
        .select(
            "event_type", "day", "wd",
            (F.col("x").cast("double") / 100.0).alias("revenue"),
            F.round(zn, 4).alias("z"),
        )
        .filter(F.abs(zn) > 3.0)
        .orderBy("event_type", "day")
    )


_A17_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@declared(
    "a17_correlation_matrix",
    oracle="""
    WITH m AS (
      SELECT corr(l_quantity, l_extendedprice) AS c01,
             corr(l_quantity, l_discount) AS c02,
             corr(l_quantity, l_tax) AS c03,
             corr(l_extendedprice, l_discount) AS c12,
             corr(l_extendedprice, l_tax) AS c13,
             corr(l_discount, l_tax) AS c23
      FROM lineitem)
    SELECT var_a, var_b, ROUND(r, 4) AS corr
    FROM m, LATERAL (VALUES
      ('l_quantity', 'l_extendedprice', c01),
      ('l_quantity', 'l_discount', c02),
      ('l_quantity', 'l_tax', c03),
      ('l_extendedprice', 'l_discount', c12),
      ('l_extendedprice', 'l_tax', c13),
      ('l_discount', 'l_tax', c23)) AS p(var_a, var_b, r)
    ORDER BY var_a, var_b
    """,
)
def a17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise correlation matrix of the four lineitem measures in ONE
    pass — the feature-redundancy screen run before any modeling. All six
    coefficients are co-moment aggregates inside a single partial-then-
    final HashAggregate (Chan et al. merge, a08's machinery widened to the
    full upper triangle), so the table scans once however many column
    pairs there are; the 1×6 result unpivots to matrix rows via a literal
    stack. 4-dp rounding absorbs accumulation-order ulps (the a08
    rounding contract)."""
    li = _t(spark, sf_dir, "lineitem")
    pairs = [
        (a, b) for i, a in enumerate(_A17_COLS) for b in _A17_COLS[i + 1:]
    ]
    m = li.agg(
        *[F.corr(a, b).alias(f"c{i}") for i, (a, b) in enumerate(pairs)]
    )
    stack = ", ".join(
        f"'{a}', '{b}', c{i}" for i, (a, b) in enumerate(pairs)
    )
    return (
        m.selectExpr(f"stack({len(pairs)}, {stack}) AS (var_a, var_b, r)")
        .select("var_a", "var_b", F.round("r", 4).alias("corr"))
        .orderBy("var_a", "var_b")
    )


@declared(
    "ev16_concurrency_sweep",
    oracle="""
    WITH a AS (
      SELECT user_id,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day,
             CAST(MIN(epoch_us(ts)) AS BIGINT) AS lo,
             CAST(MAX(epoch_us(ts)) AS BIGINT) AS hi
      FROM events GROUP BY 1, 2),
    f AS (SELECT * FROM a WHERE lo < hi),
    p AS (
      SELECT x.day, GREATEST(x.lo, y.lo) AS g, LEAST(x.hi, y.hi) AS l
      FROM f x JOIN f y
        ON x.day = y.day AND x.user_id < y.user_id
       AND x.lo < y.hi AND y.lo < x.hi)
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(CAST(SUM(l - g) AS DOUBLE) / 60000000.0, 2) AS total_overlap_min
    FROM p GROUP BY day ORDER BY day
    """,
)
def ev16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j06's aggregate computed WITHOUT materializing a single pair — the
    sweep line. When intervals are dense (every user active all day),
    overlapping pairs are Θ(n²) and any join-based plan pays for each one;
    but the AGGREGATE only needs the active-count profile: at each
    interval start with k others active, n_pairs += k, and between
    consecutive boundaries with k active, total overlap += C(k,2)·Δt.
    One per-day ordered window over 2 boundary rows per interval —
    O(n log n) against the join's Θ(n²), and the oracle brute-forces the
    pairs to prove the identity. Boundary order (ends before starts)
    realizes the strict-overlap convention; degenerate point intervals
    (single-event user-days) are excluded on both paths; timestamps are
    unique so no residual ties exist. Overlap accumulates as exact integer
    µs·pairs (DECIMAL would take over at corpus scales where
    C(k,2)·Δt exceeds int64)."""
    e = _t(spark, sf_dir, "events")
    a = (
        e.groupBy(
            "user_id",
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
            .cast("long")
            .alias("day"),
        )
        .agg(
            F.min(F.unix_micros("ts")).alias("lo"),
            F.max(F.unix_micros("ts")).alias("hi"),
        )
        .filter(F.col("lo") < F.col("hi"))
    )
    ev = a.select(
        "day",
        F.explode(
            F.array(
                F.struct(F.col("lo").alias("t"), F.lit(1).cast("long").alias("dlt")),
                F.struct(F.col("hi").alias("t"), F.lit(-1).cast("long").alias("dlt")),
            )
        ).alias("b"),
    ).select("day", "b.t", "b.dlt")
    w = Window.partitionBy("day").orderBy("t", "dlt")
    s = ev.select(
        "day", "t", "dlt",
        F.sum("dlt").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("k"),
        F.lead("t").over(w).alias("nt"),
    )
    seg_overlap = F.when(
        F.col("nt").isNotNull(),
        (F.col("k") * (F.col("k") - 1) / 2).cast("long") * (F.col("nt") - F.col("t")),
    ).otherwise(F.lit(0))
    started_pairs = F.when(F.col("dlt") == 1, F.col("k") - 1).otherwise(F.lit(0))
    return (
        s.groupBy("day")
        .agg(
            F.sum(started_pairs).alias("n_pairs"),
            F.round(F.sum(seg_overlap).cast("double") / 60000000.0, 2).alias(
                "total_overlap_min"
            ),
        )
        # a day whose intervals never overlap produces no PAIR — the join
        # formulation emits nothing for it, so the sweep must not either
        # (caught by test_degenerate_inputs: the gate corpus overlaps daily)
        .filter(F.col("n_pairs") > 0)
        .orderBy("day")
    )


@declared(
    "dq09_value_reconciliation",
    oracle="""
    WITH l AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS lc
      FROM lineitem GROUP BY 1),
    j AS (
      SELECT CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS oc, l.lc
      FROM orders o LEFT JOIN l ON l.l_orderkey = o.o_orderkey),
    b AS (
      SELECT CASE
               WHEN lc IS NULL THEN 0
               WHEN oc = lc THEN 1
               WHEN ABS(oc - lc) * 1000 <= oc THEN 2
               WHEN ABS(oc - lc) * 100 <= oc THEN 3
               WHEN ABS(oc - lc) * 10 <= oc THEN 4
               ELSE 5 END AS sev
      FROM j),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM b)
    SELECT sev,
           CASE sev WHEN 0 THEN 'no_lines' WHEN 1 THEN 'exact'
                    WHEN 2 THEN 'within_0.1pct' WHEN 3 THEN 'within_1pct'
                    WHEN 4 THEN 'within_10pct' ELSE 'over_10pct' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS DOUBLE) / MAX(n.total) AS share
    FROM b, n GROUP BY sev ORDER BY sev
    """,
)
def dq09(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table VALUE reconciliation: does each order's stored total
    equal the sum of its lineitems? — the money-column integrity audit
    (dq03 checks keys exist; this checks the amounts agree), bucketed by
    relative error. Every boundary is an exact integer cross-multiplication
    (|Δ|·1000 ≤ total for 0.1%, never a float threshold), so bucket
    membership is engine-identical. One partial agg collapses lineitem to
    order grain BEFORE the fact-fact join — the only wide shuffle carries
    (orderkey, cents) — and the severity rollup is 6 rows."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("lc")
    )
    j = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("oc"), "o_orderkey"
    ).join(li, o["o_orderkey"] == li["l_orderkey"], "left")
    d = F.abs(F.col("oc") - F.col("lc"))
    sev = (
        F.when(F.col("lc").isNull(), 0)
        .when(F.col("oc") == F.col("lc"), 1)
        .when(d * 1000 <= F.col("oc"), 2)
        .when(d * 100 <= F.col("oc"), 3)
        .when(d * 10 <= F.col("oc"), 4)
        .otherwise(5)
    )
    b = j.select(sev.alias("sev"))
    n = b.agg(F.count(F.lit(1)).alias("total"))
    name = (
        F.when(F.col("sev") == 0, "no_lines")
        .when(F.col("sev") == 1, "exact")
        .when(F.col("sev") == 2, "within_0.1pct")
        .when(F.col("sev") == 3, "within_1pct")
        .when(F.col("sev") == 4, "within_10pct")
        .otherwise("over_10pct")
    )
    return (
        b.groupBy("sev")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .crossJoin(F.broadcast(n))
        .select(
            "sev", name.alias("bucket"), "n_orders",
            (F.col("n_orders").cast("double") / F.col("total")).alias("share"),
        )
        .orderBy("sev")
    )


@declared(
    "a18_grouped_skew_kurt",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
             CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                  AS BIGINT) AS s2,
             CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s3,
             CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                  AS BIGINT) AS s4
      FROM lineitem GROUP BY 1),
    c AS (
      SELECT l_returnflag, n,
             CAST(s1 AS DOUBLE) / n AS mu,
             CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS v2,
             CAST(s3 AS DOUBLE) / n
               - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
               + 2.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                     * (CAST(s1 AS DOUBLE) / n) AS m3,
             CAST(s4 AS DOUBLE) / n
               - 4.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
               + 6.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                     * (CAST(s2 AS DOUBLE) / n)
               - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                     * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m4
      FROM m)
    SELECT l_returnflag, n,
           ROUND(mu, 4) AS mean_qty,
           ROUND(m3 / (v2 * sqrt(v2)), 4) + 0.0 AS skewness,
           ROUND(m4 / (v2 * v2) - 3.0, 4) + 0.0 AS excess_kurtosis
    FROM c ORDER BY l_returnflag
    """,
)
def a18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped skewness and excess kurtosis — the shape moments a
    distribution monitor tracks beyond a08's variance. The quantity column
    is integral, so ALL FOUR power sums ride exact int64 through the one
    partial-aggregatable pass (Σx⁴ ≤ 50⁴·n keeps headroom past sf1 —
    fixed-point moments of cents-scaled columns would switch to
    DECIMAL(38)); the central-moment identities then evaluate in one
    fixed-shape double expression per group, so 4-dp rounding holds with
    no accumulation-order exposure at all — stronger than a08's
    covar/corr, which round away distributed-merge ulps. The one residual
    cross-engine hazard is IEEE signed zero (a symmetric group's m3 is a
    tiny negative in one engine, rounding to −0.0); + 0.0 after the ROUND
    canonicalizes it on both sides."""
    li = _t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("long")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("s1"),
        F.sum(q * q).alias("s2"),
        F.sum(q * q * q).alias("s3"),
        F.sum(q * q * q * q).alias("s4"),
    )
    n = F.col("n").cast("double")
    mu = F.col("s1") / n
    e2 = F.col("s2") / n
    e3 = F.col("s3") / n
    e4 = F.col("s4") / n
    v2 = e2 - mu * mu
    m3 = e3 - 3.0 * mu * e2 + 2.0 * mu * mu * mu
    m4 = e4 - 4.0 * mu * e3 + 6.0 * mu * mu * e2 - 3.0 * mu * mu * mu * mu
    return m.select(
        "l_returnflag", "n",
        F.round(mu, 4).alias("mean_qty"),
        (F.round(m3 / (v2 * F.sqrt(v2)), 4) + 0.0).alias("skewness"),
        (F.round(m4 / (v2 * v2) - 3.0, 4) + 0.0).alias("excess_kurtosis"),
    ).orderBy("l_returnflag")


_PSI_EDGES = (50_000.0, 100_000.0, 150_000.0, 200_000.0, 300_000.0)
_PSI_BASE_YEAR = 1995


def _dd_psi_sql() -> str:
    n_bins = len(_PSI_EDGES) + 1
    case = "CASE " + " ".join(
        f"WHEN o_totalprice < {e} THEN {i}" for i, e in enumerate(_PSI_EDGES)
    ) + f" ELSE {len(_PSI_EDGES)} END"
    ccols = ",\n        ".join(
        f"CAST(COUNT(*) FILTER (WHERE b = {i}) AS DOUBLE) AS c{i}"
        for i in range(n_bins)
    )
    tot = " + ".join(f"c{i}" for i in range(n_bins))
    def share(tbl, i):
        return f"(({tbl}.c{i} + 0.5) / ({tbl}.tot + {0.5 * n_bins}))"
    terms = " + ".join(
        f"({share('y', i)} - {share('b', i)}) * ln({share('y', i)} / {share('b', i)})"
        for i in range(n_bins)
    )
    return f"""
    WITH binned AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
             {case} AS b
      FROM orders),
    p AS (
      SELECT yr,
        {ccols}
      FROM binned GROUP BY yr),
    t AS (SELECT yr, c0, c1, c2, c3, c4, c5, ({tot}) AS tot FROM p),
    b AS (SELECT * FROM t WHERE yr = {_PSI_BASE_YEAR})
    SELECT y.yr AS yr, ROUND({terms}, 6) AS psi
    FROM t y CROSS JOIN b
    WHERE y.yr > {_PSI_BASE_YEAR}
    ORDER BY yr
    """


@declared("dq10_psi_drift", oracle=_dd_psi_sql())
def dq10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index — THE model-monitoring drift score:
    each year's order-value distribution against the 1995 baseline,
    PSI = Σ_bins (p_y − p_base) · ln(p_y / p_base) over six fixed literal
    value bins with 0.5 Laplace smoothing (zero-count bins stay finite and
    the rule is engine-reproducible; >0.2 is the classic 'repopulate your
    model' alarm). Bin counts pivot into FIXED columns (one conditional
    count per bin) so the six-term sum adds in literal order on both
    engines — no float drift from aggregation order. Scale shape: one
    partial-aggregatable scan to a |years|×|bins| frame; the baseline is
    a one-row broadcast; everything after the first agg is tiny."""
    o = _t(spark, sf_dir, "orders")
    n_bins = len(_PSI_EDGES) + 1
    b = F.lit(len(_PSI_EDGES))
    for i, e in reversed(list(enumerate(_PSI_EDGES))):
        b = F.when(F.col("o_totalprice") < e, F.lit(i)).otherwise(b)
    binned = o.select(F.year("o_orderdate").cast("long").alias("yr"), b.alias("b"))
    counts = binned.groupBy("yr").agg(
        *[
            F.count(F.when(F.col("b") == i, F.lit(1))).cast("double").alias(f"c{i}")
            for i in range(n_bins)
        ]
    )
    tot = sum((F.col(f"c{i}") for i in range(1, n_bins)), F.col("c0"))
    t = counts.withColumn("tot", tot)
    base = t.filter(F.col("yr") == _PSI_BASE_YEAR).select(
        *[F.col(f"c{i}").alias(f"b{i}") for i in range(n_bins)],
        F.col("tot").alias("btot"),
    )
    smooth = 0.5 * n_bins

    def share(prefix, i, tot_col):
        return (F.col(f"{prefix}{i}") + 0.5) / (F.col(tot_col) + smooth)

    terms = [
        (share("c", i, "tot") - share("b", i, "btot"))
        * F.log(share("c", i, "tot") / share("b", i, "btot"))
        for i in range(n_bins)
    ]
    psi = sum(terms[1:], terms[0])
    return (
        t.crossJoin(F.broadcast(base))
        .filter(F.col("yr") > _PSI_BASE_YEAR)
        .select("yr", F.round(psi, 6).alias("psi"))
        .orderBy("yr")
    )


@declared(
    "ga06_transitive_closure",
    oracle="""
    WITH RECURSIVE e AS (
      SELECT o_orderkey AS node, o_orderkey // 8 AS parent
      FROM orders WHERE o_orderkey >= 1 AND o_orderkey < 4096
    ), cl AS (
      SELECT node, parent AS anc, 1 AS dist FROM e WHERE parent >= 1
      UNION ALL
      SELECT cl.node, e2.parent AS anc, cl.dist + 1 AS dist
      FROM cl JOIN e e2 ON e2.node = cl.anc WHERE e2.parent >= 1
    )
    SELECT CAST(dist AS BIGINT) AS dist, COUNT(*) AS n_pairs,
           CAST(SUM(anc) AS BIGINT) AS sum_anc
    FROM cl GROUP BY dist ORDER BY dist
    """,
)
def ga06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRANSITIVE CLOSURE (ancestor expansion) — the recursive-CTE shape
    warehouses express with WITH RECURSIVE and Spark has no native operator
    for: a parent edge table (here the div-8 parentage over order keys, a
    BOM/org-chart stand-in) expands to all (node, ancestor, dist) pairs by
    iterated frontier joins. The oracle IS a DuckDB recursive CTE; the
    Spark side is the canonical iterative-join equivalent: the frontier
    joins the persisted edge table on the ancestor key each level and the
    loop stops when a level's count probe reports an empty frontier —
    iteration count equals graph DEPTH (log-bounded here, bounded by the
    hierarchy in any real BOM), never its size. Scale shape: edges persist
    once and every level is ONE equi-join keyed on the node id + a
    frontier-sized union; per-level driver work is a single count. The
    closure report aggregates per depth (pair counts + ancestor checksum)
    so the gate pins every level of the expansion."""
    o = _t(spark, sf_dir, "orders")
    e = (
        o.filter((F.col("o_orderkey") >= 1) & (F.col("o_orderkey") < 4096))
        .select(
            F.col("o_orderkey").alias("node"),
            F.floor(F.col("o_orderkey") / 8).cast("long").alias("parent"),
        )
        .persist()
    )
    frontier = (
        e.filter(F.col("parent") >= 1)
        .select("node", F.col("parent").alias("anc"), F.lit(1).alias("dist"))
        .persist()
    )
    levels = [frontier]
    # ONE count job per level: the count that materializes level N's cache
    # doubles as the loop condition for expanding level N+1 (the previous
    # form re-counted the just-counted frontier at the top of each pass —
    # 2 driver-blocking jobs per level instead of 1; round 12)
    n_frontier = frontier.count()
    while n_frontier > 0:
        nxt = (
            frontier.join(
                e.select(F.col("node").alias("anc"), F.col("parent").alias("anc2")),
                "anc",
            )
            .filter(F.col("anc2") >= 1)
            .select("node", F.col("anc2").alias("anc"), (F.col("dist") + 1).alias("dist"))
            .persist()
        )
        n_frontier = nxt.count()
        if n_frontier == 0:
            nxt.unpersist()
            break
        levels.append(nxt)
        frontier = nxt
    closure = levels[0]
    for lv in levels[1:]:
        closure = closure.unionByName(lv)
    out = (
        closure.groupBy(F.col("dist").cast("long").alias("dist"))
        .agg(F.count(F.lit(1)).alias("n_pairs"), F.sum("anc").alias("sum_anc"))
        .orderBy("dist")
    )
    rows = out.collect()
    for lv in levels:
        lv.unpersist()
    e.unpersist()
    return local_frame(spark, rows, out.schema)


@declared(
    "ga07_modularity",
    oracle="""
    WITH e AS (
      SELECT l1.l_suppkey AS a, l2.l_suppkey AS b,
             CAST(COUNT(DISTINCT l1.l_orderkey) AS BIGINT) AS w
      FROM lineitem l1 JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
      GROUP BY a, b
    ),
    en AS (
      SELECT e.w, sa.s_nationkey AS na, sb.s_nationkey AS nb
      FROM e JOIN supplier sa ON sa.s_suppkey = e.a
             JOIN supplier sb ON sb.s_suppkey = e.b
    ),
    m AS (SELECT CAST(SUM(w) AS DOUBLE) AS m FROM en),
    deg AS (
      SELECT n, CAST(SUM(w) AS BIGINT) AS degree_w FROM (
        SELECT na AS n, w FROM en UNION ALL SELECT nb AS n, w FROM en
      ) GROUP BY n
    ),
    win AS (SELECT na AS n, CAST(SUM(w) AS BIGINT) AS w_in FROM en
            WHERE na = nb GROUP BY na)
    SELECT CAST(deg.n AS BIGINT) AS nationkey,
           COALESCE(win.w_in, 0) AS w_in, deg.degree_w,
           ROUND(COALESCE(win.w_in, 0) / m.m
                 - (degree_w / (2 * m.m)) * (degree_w / (2 * m.m)), 6) + 0.0
             AS q_contrib
    FROM deg LEFT JOIN win ON win.n = deg.n CROSS JOIN m
    ORDER BY nationkey
    """,
)
def ga07(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman MODULARITY of a node partition over the supplier
    co-occurrence graph — community-quality scoring, with the supplier's
    NATION as the partition under test (the assortativity question 'do
    same-nation suppliers co-serve orders more than chance?'): per
    community c, q_c = w_in(c)/m − (deg(c)/2m)², where w_in counts
    intra-community edge weight, deg the community's total weighted
    degree, m the graph's weight; Q = Σ q_c (pinned in pytest; near 0
    here — TPC-H order composition is nation-blind, which is exactly
    what the null-model term predicts).

    Scale shape: edges come from ga01's bounded within-order expansion
    (never a corpus self-join in the engine); both endpoint nation
    lookups are one BROADCAST dimension join; m is a 1-row broadcast;
    degrees flow from ONE mirrored explode + groupBy (ga05's pattern) and
    the result frame is |nations| rows. Everything through the aggregates
    is exact integer weight arithmetic; the only floats are the final
    per-community divisions (identical literal expression both engines,
    6dp round)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey").distinct()
    per_order = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_suppkey")).alias("supps")
    )
    pairs = per_order.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        F.col("supps"),
                        lambda a: F.transform(
                            F.col("supps"),
                            lambda b: F.struct(a.alias("a"), b.alias("b")),
                        ),
                    )
                ),
                lambda p: p["a"] < p["b"],
            )
        ).alias("p")
    ).select("p.a", "p.b")
    e = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("w"))
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    en = (
        e.join(
            F.broadcast(sup.select(F.col("s_suppkey").alias("a"),
                                   F.col("s_nationkey").alias("na"))), "a")
        .join(
            F.broadcast(sup.select(F.col("s_suppkey").alias("b"),
                                   F.col("s_nationkey").alias("nb"))), "b")
        .select("w", "na", "nb")
        # three consumers (m, deg, win) re-derive this subtree, but the
        # expensive stage — the (a, b) pair-aggregation exchange — is
        # textually identical in all three branches and ReuseExchange
        # computes it once; an explicit persist() here A/B-measured as a
        # wash at sf0.1 (cache write+read ≈ the 3× post-exchange map work)
        # and was left out (round-11 optimization pass).
    )
    m = en.agg(F.sum("w").cast("double").alias("m"))
    deg = (
        en.select(
            F.explode(
                F.array(
                    F.struct(F.col("na").alias("n"), F.col("w").alias("w")),
                    F.struct(F.col("nb").alias("n"), F.col("w").alias("w")),
                )
            ).alias("x")
        )
        .groupBy(F.col("x.n").alias("n"))
        .agg(F.sum("x.w").alias("degree_w"))
    )
    win = (
        en.filter(F.col("na") == F.col("nb"))
        .groupBy(F.col("na").alias("n"))
        .agg(F.sum("w").alias("w_in"))
    )
    return (
        deg.join(win, "n", "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.col("n").cast("long").alias("nationkey"),
            F.coalesce(F.col("w_in"), F.lit(0)).alias("w_in"),
            "degree_w",
            (
                F.round(
                    F.coalesce(F.col("w_in"), F.lit(0)) / F.col("m")
                    - (F.col("degree_w") / (2 * F.col("m")))
                    * (F.col("degree_w") / (2 * F.col("m"))),
                    6,
                )
                + 0.0
            ).alias("q_contrib"),
        )
        .orderBy("nationkey")
    )


_KM_CENSOR_H = 48  # purchasers active in the final 2 days are right-censored


@declared(
    "ev19_survival_km",
    oracle=f"""
    WITH spans AS (
      SELECT user_id,
             CAST(date_diff('hour', TIMESTAMP '2024-01-01 00:00:00', MIN(ts))
                  AS BIGINT) AS first_h,
             CAST(date_diff('hour', TIMESTAMP '2024-01-01 00:00:00', MAX(ts))
                  AS BIGINT) AS last_h
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    horizon AS (SELECT MAX(last_h) AS max_h FROM spans),
    obs AS (
      SELECT last_h - first_h AS t,
             CASE WHEN last_h > max_h - {_KM_CENSOR_H} THEN 0 ELSE 1 END AS ev
      FROM spans CROSS JOIN horizon
    ),
    total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM obs),
    byday AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS n_at,
             CAST(SUM(ev) AS BIGINT) AS d_churn
      FROM obs GROUP BY t
    ),
    risk AS (
      SELECT t, d_churn,
             n - CAST(COALESCE(SUM(n_at) OVER (ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS n_risk
      FROM byday CROSS JOIN total
    )
    SELECT t, n_risk, d_churn,
           ROUND(CAST(d_churn AS DOUBLE) / n_risk, 6) AS hazard,
           ROUND(EXP(SUM(LN(GREATEST(1.0 - CAST(d_churn AS DOUBLE) / n_risk,
                                     1e-12)))
                     OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)), 4)
             AS survival
    FROM risk WHERE d_churn > 0 OR n_risk > 0
    ORDER BY t
    """,
)
def ev19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier churn SURVIVAL curve — the retention question ev02's
    cohort matrix cannot answer once observation windows are ragged:
    survival time = HOURS between a user's first and last purchase,
    purchasers still active in the final {_KM_CENSOR_H} hours RIGHT-CENSORED
    (they count in the at-risk denominator but never as churn events —
    dropping them, or counting them as churned, both bias retention down).
    Emits the lifetime table: per duration t the at-risk count n_t, churn
    events d_t, hazard d_t/n_t, and the KM product-limit estimator
    S(t) = Π(1 − d_i/n_i).

    Scale shape: the corpus collapses to one (first, last) row per user
    in a single map-side-combined pass; everything after lives on the
    BOUNDED duration grid (≤ observation-window days): the at-risk counts
    come from the total minus a prefix sum over that grid — never a
    per-user window — and the running product runs in log space over the
    same bounded frame (exp-sum-ln, the engines' shared 4dp contract;
    hazards are exact integer ratios rounded at 6dp). The one
    SinglePartition window is over the duration grid — a bounded frame,
    the documented plan-quality exception class. A duration where EVERY
    remaining at-risk user churns has hazard 1; ln is clamped at 1e-12 on
    both engines (Spark's log(0) is NULL, DuckDB's is -inf — unclamped,
    the engines diverge) so survival snaps to 0.0 and stays there."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    epoch0 = F.lit("2024-01-01 00:00:00").cast("timestamp")
    hours_since = lambda c: F.floor(
        (c.cast("long") - epoch0.cast("long")) / 3600
    ).cast("long")
    spans = e.groupBy("user_id").agg(
        hours_since(F.min("ts")).alias("first_h"),
        hours_since(F.max("ts")).alias("last_h"),
    )
    horizon = F.broadcast(spans.agg(F.max("last_h").alias("max_h")))
    obs = spans.crossJoin(horizon).select(
        (F.col("last_h") - F.col("first_h")).alias("t"),
        F.when(
            F.col("last_h") > F.col("max_h") - _KM_CENSOR_H, F.lit(0)
        ).otherwise(F.lit(1)).alias("ev"),
    )
    total = F.broadcast(obs.agg(F.count(F.lit(1)).alias("n")))
    byday = obs.groupBy("t").agg(
        F.count(F.lit(1)).alias("n_at"), F.sum("ev").alias("d_churn")
    )
    wprev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    risk = byday.crossJoin(total).select(
        "t",
        "d_churn",
        (F.col("n") - F.coalesce(F.sum("n_at").over(wprev), F.lit(0))).alias(
            "n_risk"
        ),
    )
    haz = F.col("d_churn").cast("double") / F.col("n_risk")
    return (
        risk.select(
            "t", "n_risk", "d_churn",
            F.round(haz, 6).alias("hazard"),
            F.round(
                F.exp(
                    F.sum(
                        F.log(F.greatest(1.0 - haz, F.lit(1e-12)))
                    ).over(wcum)
                ),
                4,
            ).alias("survival"),
        )
        .orderBy("t")
    )


_CV_FOLDS = 5
_CV_LAMBDA = "1000.0"


@declared(
    "ml13_ridge_cv",
    oracle=f"""
    WITH rows_ AS (
      SELECT CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 1))
                  AS BIGINT) % {_CV_FOLDS} AS fold,
             CAST(l_quantity AS BIGINT) AS u,
             CAST(ROUND(l_discount * 100) AS BIGINT) AS v,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    fs AS (
      SELECT fold,
             CAST(COUNT(*) AS DOUBLE) AS n, CAST(SUM(u) AS DOUBLE) AS su,
             CAST(SUM(v) AS DOUBLE) AS sv, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(u * u) AS DOUBLE) AS suu, CAST(SUM(v * v) AS DOUBLE) AS svv,
             CAST(SUM(u * v) AS DOUBLE) AS suv, CAST(SUM(u * y) AS DOUBLE) AS suy,
             CAST(SUM(v * y) AS DOUBLE) AS svy
      FROM rows_ GROUP BY fold
    ),
    tot AS (
      SELECT SUM(n) AS n, SUM(su) AS su, SUM(sv) AS sv, SUM(sy) AS sy,
             SUM(suu) AS suu, SUM(svv) AS svv, SUM(suv) AS suv,
             SUM(suy) AS suy, SUM(svy) AS svy
      FROM fs
    ),
    train AS (
      SELECT fold,
             tot.n - fs.n AS n, tot.su - fs.su AS su, tot.sv - fs.sv AS sv,
             tot.sy - fs.sy AS sy, tot.suu - fs.suu AS suu,
             tot.svv - fs.svv AS svv, tot.suv - fs.suv AS suv,
             tot.suy - fs.suy AS suy, tot.svy - fs.svy AS svy
      FROM fs CROSS JOIN tot
      WHERE tot.n - fs.n > 0
    ),
    beta AS (
      SELECT fold,
             ((n*svv - sv*sv + {_CV_LAMBDA}) * (n*suy - su*sy)
              - (n*suv - su*sv) * (n*svy - sv*sy))
             / ((n*suu - su*su + {_CV_LAMBDA}) * (n*svv - sv*sv + {_CV_LAMBDA})
                - (n*suv - su*sv) * (n*suv - su*sv)) AS b1,
             ((n*suu - su*su + {_CV_LAMBDA}) * (n*svy - sv*sy)
              - (n*suv - su*sv) * (n*suy - su*sy))
             / ((n*suu - su*su + {_CV_LAMBDA}) * (n*svv - sv*sv + {_CV_LAMBDA})
                - (n*suv - su*sv) * (n*suv - su*sv)) AS b2,
             su, sv, sy, n
      FROM train
    ),
    model AS (
      SELECT fold, b1, b2, (sy - b1 * su - b2 * sv) / n AS b0 FROM beta
    )
    SELECT r.fold AS fold, CAST(COUNT(*) AS BIGINT) AS n_test,
           ROUND(MAX(m.b1), 6) AS beta_qty, ROUND(MAX(m.b2), 6) AS beta_disc,
           ROUND(SQRT(SUM((r.y - m.b0 - m.b1 * r.u - m.b2 * r.v)
                          * (r.y - m.b0 - m.b1 * r.u - m.b2 * r.v))
                      / COUNT(*)) / 100.0, 4) AS rmse
    FROM rows_ r JOIN model m ON m.fold = r.fold
    GROUP BY r.fold ORDER BY fold
    """,
)
def ml13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold CROSS-VALIDATED ridge regression — ml02's closed form under
    honest evaluation, at the cost of TWO corpus passes TOTAL (not 2·k):
    fold membership is an id-hash (grouped by order, so leakage across a
    split order is impossible), pass 1 collects the 9 sufficient
    statistics PER FOLD, and each fold's TRAINING stats are total − fold —
    the leave-one-fold-out identity that makes distributed CV k-free.
    Pass 2 joins the broadcast 5-row model table back by fold and scores
    held-out rows only against the model that never saw them. Emits per
    fold the betas and held-out RMSE.

    Exactness: sufficient statistics are exact integer sums; betas are
    the same rational expression on both engines (bit-identical, rounded
    6dp for display only); the residual sum is the one order-exposed
    float, rounded at 4dp inside RMSE (t12's contract)."""
    li = _t(spark, sf_dir, "lineitem")
    fold = (
        F.conv(F.substring(F.md5(F.col("l_orderkey").cast("string")), 1, 1), 16, 10)
        .cast("long") % _CV_FOLDS
    )
    # round-11: (a) spread the scan before the per-row md5 — a few-file
    # parquet input plans 3 partitions and serializes the hash on 3 of 32
    # cores (scale-adaptive no-op on real multi-file inputs); (b) persist
    # the narrow 4-long projection — BOTH corpus passes (fold stats and
    # held-out scoring) read it, so the md5 runs once, not twice
    # (A/B: md5 is ~0.55 s of each un-spread pass at sf0.1).
    from mdio_cpp_spark.operators.dedup import ensure_map_parallelism

    rows = ensure_map_parallelism(
        li.select("l_orderkey", "l_quantity", "l_discount", "l_extendedprice")
    ).select(
        fold.alias("fold"),
        F.col("l_quantity").cast("long").alias("u"),
        F.round(F.col("l_discount") * 100).cast("long").alias("v"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    ).persist()
    u, v, y = F.col("u"), F.col("v"), F.col("y")
    fs = rows.groupBy("fold").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(u).cast("double").alias("su"),
        F.sum(v).cast("double").alias("sv"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(u * u).cast("double").alias("suu"),
        F.sum(v * v).cast("double").alias("svv"),
        F.sum(u * v).cast("double").alias("suv"),
        F.sum(u * y).cast("double").alias("suy"),
        F.sum(v * y).cast("double").alias("svy"),
    )
    stats = ["n", "su", "sv", "sy", "suu", "svv", "suv", "suy", "svy"]
    tot = fs.agg(*[F.sum(c).alias(f"t_{c}") for c in stats])
    train = (
        fs.crossJoin(F.broadcast(tot))
        .select(
            "fold", *[(F.col(f"t_{c}") - F.col(c)).alias(c) for c in stats]
        )
        # a corpus hashing into a single fold has no training data for it:
        # drop the fold (empty result) instead of dividing by zero
        .filter(F.col("n") > 0)
    )
    lam = F.lit(float(_CV_LAMBDA))
    n, su, sv, sy = F.col("n"), F.col("su"), F.col("sv"), F.col("sy")
    a = n * F.col("suu") - su * su + lam
    b = n * F.col("svv") - sv * sv + lam
    c = n * F.col("suv") - su * sv
    p = n * F.col("suy") - su * sy
    q = n * F.col("svy") - sv * sy
    det = a * b - c * c
    b1 = (b * p - c * q) / det
    b2 = (a * q - c * p) / det
    model = train.select(
        "fold", b1.alias("b1"), b2.alias("b2"),
        ((sy - b1 * su - b2 * sv) / n).alias("b0"),
    )
    resid = y - F.col("b0") - F.col("b1") * u - F.col("b2") * v
    return (
        rows.join(F.broadcast(model), "fold")
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.round(F.max("b1"), 6).alias("beta_qty"),
            F.round(F.max("b2"), 6).alias("beta_disc"),
            F.round(
                F.sqrt(F.sum(resid * resid) / F.count(F.lit(1))) / 100.0, 4
            ).alias("rmse"),
        )
        .orderBy("fold")
    )


@declared(
    "ml14_decision_stump",
    oracle="""
    WITH rows_ AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(ROUND(l_extendedprice) AS BIGINT) AS y
      FROM lineitem
    ),
    lattice AS (
      SELECT x, CAST(COUNT(*) AS BIGINT) AS n_v,
             CAST(SUM(y) AS BIGINT) AS sy_v,
             CAST(SUM(y * y) AS BIGINT) AS syy_v
      FROM rows_ GROUP BY x
    ),
    tot AS (SELECT SUM(n_v) AS n, SUM(sy_v) AS sy, SUM(syy_v) AS syy FROM lattice),
    cum AS (
      SELECT x,
             SUM(n_v) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS nl,
             SUM(sy_v) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS syl,
             SUM(syy_v) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS syyl
      FROM lattice
    ),
    cand AS (
      SELECT x AS split_x, nl, n - nl AS nr, syl, sy - syl AS syr,
             (syyl - CAST(syl AS DOUBLE) * syl / nl)
             + ((syy - syyl) - CAST(sy - syl AS DOUBLE) * (sy - syl) / (n - nl))
               AS sse,
             syy - CAST(sy AS DOUBLE) * sy / n AS sse0
      FROM cum CROSS JOIN tot WHERE nl < n
    )
    SELECT CAST(split_x AS BIGINT) AS split_x,
           CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
           ROUND(CAST(syl AS DOUBLE) / nl, 4) AS mean_left,
           ROUND(CAST(syr AS DOUBLE) / nr, 4) AS mean_right,
           ROUND(sse0 - sse, 2) AS sse_gain
    FROM cand ORDER BY sse, split_x LIMIT 1
    """,
)
def ml14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-STUMP training (depth-1 regression tree — the weak learner
    one round of gradient boosting fits): choose the split 'quantity ≤ v'
    minimizing total SSE of whole-DOLLAR extendedprice, evaluated for EVERY
    candidate threshold in one pass — the exact-split algorithm (XGBoost's
    'exact greedy') rather than a sampled/sketched approximation.

    Scale shape: the corpus collapses to the feature VALUE LATTICE
    (count, Σy, Σy² per distinct x — one map-side-combined agg; quantity
    has ≤50 distinct values, and any bounded-cardinality or quantized
    feature keeps this frame tiny); candidate split scores come from ONE
    prefix-sum window over that lattice (left stats cumulate, right =
    total − left), and the argmin is a TakeOrdered(1) on the lattice.
    All sufficient statistics are exact int64 — the target is WHOLE
    dollars (y ≤ 6e5, y² ≤ 3.6e11) precisely so Σy² holds headroom to
    ~2.5e7 rows per lattice value (sf~40); a cents-scaled target
    overflows at sf0.1, which the gate caught live — past that, the
    same lattice carries DECIMAL(38) sums; SSE compares as identical
    rational-double
    expressions on both engines, ties break on the smaller threshold."""
    li = _t(spark, sf_dir, "lineitem")
    rows = li.select(
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice")).cast("long").alias("y"),
    )
    lattice = rows.groupBy("x").agg(
        F.count(F.lit(1)).alias("n_v"),
        F.sum("y").alias("sy_v"),
        F.sum(F.col("y") * F.col("y")).alias("syy_v"),
    )
    tot = lattice.agg(
        F.sum("n_v").alias("n"), F.sum("sy_v").alias("sy"), F.sum("syy_v").alias("syy")
    )
    wcum = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cum = lattice.select(
        "x",
        F.sum("n_v").over(wcum).alias("nl"),
        F.sum("sy_v").over(wcum).alias("syl"),
        F.sum("syy_v").over(wcum).alias("syyl"),
    )
    n, sy, syy = F.col("n"), F.col("sy"), F.col("syy")
    nl, syl, syyl = F.col("nl"), F.col("syl"), F.col("syyl")
    nr, syr = n - nl, sy - syl
    sse = (syyl - syl.cast("double") * syl / nl) + (
        (syy - syyl) - syr.cast("double") * syr / nr
    )
    sse0 = syy - sy.cast("double") * sy / n
    cand = (
        cum.crossJoin(F.broadcast(tot))
        .filter(nl < n)
        .select(
            F.col("x").alias("split_x"),
            nl.alias("n_left"),
            nr.alias("n_right"),
            F.round(syl.cast("double") / nl, 4).alias("mean_left"),
            F.round(syr.cast("double") / nr, 4).alias("mean_right"),
            sse.alias("sse"),
            (sse0 - sse).alias("gain"),
        )
    )
    return (
        cand.orderBy("sse", "split_x")
        .limit(1)
        .select(
            "split_x", "n_left", "n_right", "mean_left", "mean_right",
            F.round("gain", 2).alias("sse_gain"),
        )
    )


_TRIM_FRAC_NUM, _TRIM_FRAC_DEN = 1, 10  # trim 10% of rows from EACH tail


@declared(
    "a19_trimmed_mean",
    oracle=f"""
    WITH rows_ AS (
      SELECT o_orderpriority AS grp,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
      FROM orders
    ),
    lat AS (
      SELECT grp, v, CAST(COUNT(*) AS BIGINT) AS c FROM rows_ GROUP BY grp, v
    ),
    cum AS (
      SELECT grp, v, c,
             CAST(COALESCE(SUM(c) OVER (PARTITION BY grp ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS below,
             CAST(SUM(c) OVER (PARTITION BY grp) AS BIGINT) AS n,
             CAST(SUM(c * v) OVER (PARTITION BY grp) AS BIGINT) AS s
      FROM lat
    ),
    k AS (SELECT grp, n, s, n * {_TRIM_FRAC_NUM} // {_TRIM_FRAC_DEN} AS k
          FROM cum GROUP BY grp, n, s),
    lo AS (
      SELECT c.grp,
             SUM(CASE WHEN c.below + c.c <= k.k THEN c.c * c.v
                      WHEN c.below < k.k THEN (k.k - c.below) * c.v
                      ELSE 0 END) AS cut_lo
      FROM cum c JOIN k ON k.grp = c.grp GROUP BY c.grp
    ),
    hi AS (
      SELECT c.grp,
             SUM(CASE WHEN c.n - (c.below + c.c) + c.c <= k.k THEN c.c * c.v
                      WHEN c.n - (c.below + c.c) < k.k
                        THEN (k.k - (c.n - (c.below + c.c))) * c.v
                      ELSE 0 END) AS cut_hi
      FROM cum c JOIN k ON k.grp = c.grp GROUP BY c.grp
    )
    SELECT k.grp AS grp, k.n, CAST(k.k AS BIGINT) AS k_trim,
           ROUND(CAST(k.s - lo.cut_lo - hi.cut_hi AS DOUBLE)
                 / (k.n - 2 * k.k) / 100.0, 4) AS trimmed_mean,
           ROUND(CAST(k.s AS DOUBLE) / k.n / 100.0, 4) AS plain_mean
    FROM k JOIN lo ON lo.grp = k.grp JOIN hi ON hi.grp = k.grp
    ORDER BY grp
    """,
)
def a19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distributed 10%-trimmed mean per group — the robust average
    (a11's MAD sibling) that a percentile-then-filter approximation gets
    WRONG whenever ties straddle the cut rank: the bottom/top k=⌊n/10⌋
    ROWS are removed exactly, with partial-tie corrections in pure int64
    arithmetic ((k − below)·v for the value the k-th rank lands inside).

    Scale shape: rows collapse to the per-(group, cents-value) COUNT
    lattice first (bounded by the price range in cents, never by row
    count); the rank bookkeeping is one per-group prefix window over that
    lattice and two lattice-sized conditional aggregates (low cut / high
    cut mirrored); every quantity through the final division is an exact
    integer, so both engines emit identical doubles before the 4dp
    display round."""
    from mdio_cpp_spark.operators.stats import grouped_trimmed_sums

    o = _t(spark, sf_dir, "orders")
    rows = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    # round-11: bucketized tail bookkeeping (stats.grouped_trimmed_sums) —
    # the lattice form shuffled ~150k distinct (grp, v) rows into 5 window
    # partitions, sorted each serially, then joined two more lattice-sized
    # conditional aggregates. The bucket machinery aggregates (count, sum)
    # per (grp, bucket), drives the cut ranks from the driver walk, and
    # touches only the two covering buckets' rows (both tails in one
    # shuffle + window); all quantities stay int64 so the result is
    # bit-identical (oracle-gated). Lattice form = over-bound fallback.
    t = grouped_trimmed_sums(rows, "grp", "v", _TRIM_FRAC_NUM, _TRIM_FRAC_DEN)
    return (
        t.select(
            "grp", F.col("__n").alias("n"), F.col("__k").alias("k_trim"),
            F.round(
                (F.col("__s") - F.col("__cut_lo") - F.col("__cut_hi")).cast("double")
                / (F.col("__n") - 2 * F.col("__k")) / 100.0, 4,
            ).alias("trimmed_mean"),
            F.round(F.col("__s").cast("double") / F.col("__n") / 100.0, 4).alias(
                "plain_mean"
            ),
        )
        .orderBy("grp")
    )


@declared(
    "ev20_gini",
    oracle="""
    WITH per_user AS (
      SELECT event_type, user_id,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY event_type, user_id
    ),
    lat AS (
      SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS c
      FROM per_user GROUP BY event_type, v
    ),
    cum AS (
      SELECT event_type, v, c,
             CAST(COALESCE(SUM(c) OVER (PARTITION BY event_type ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS below,
             CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n,
             CAST(SUM(c * v) OVER (PARTITION BY event_type) AS BIGINT) AS s
      FROM lat
    ),
    g AS (
      -- Σ rank·x over ties in closed form: ranks below+1 .. below+c share
      -- value v, their rank sum is c·below + c(c+1)/2 — exact integers
      SELECT event_type, n, s,
             SUM(v * (2 * (c * below + (c * (c + 1)) // 2) - c * (n + 1))) AS num
      FROM cum GROUP BY event_type, n, s
    )
    SELECT event_type, n AS n_users,
           ROUND(CAST(s AS DOUBLE) / n / 100.0, 4) AS mean_rev,
           CASE WHEN s <> 0
                THEN ROUND(CAST(num AS DOUBLE) / (CAST(n AS DOUBLE) * s), 6)
                ELSE NULL END AS gini
    FROM g ORDER BY event_type
    """,
)
def ev20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI COEFFICIENT of per-user revenue by event type — the inequality
    index behind every 'whale concentration' readout (ev11's top-decile
    share is one point of this curve; Gini integrates the whole Lorenz
    area): G = (2·Σᵢ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx) with tie-safe rank sums in
    closed form — the c tied users at value v occupy ranks below+1..below+c,
    whose rank total is c·below + c(c+1)/2, all exact int64.

    Scale shape: users collapse to per-(type, cents) value-lattice counts
    (one partial agg after the per-user rollup); the rank bookkeeping is a
    prefix window over the bounded lattice and ONE closed-form aggregate —
    no row-level rank window, no sort of users anywhere. Every term until
    the final two display divisions is exact integer arithmetic, so the
    engines agree bit-for-bit. Zero-mass groups (an event type whose
    per-user revenue sums to 0) emit NULL gini rather than ANSI-aborting
    the job on n·s = 0 — same CASE in the oracle."""
    e = _t(spark, sf_dir, "events")
    per_user = e.groupBy("event_type", "user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("v")
    )
    lat = per_user.groupBy("event_type", "v").agg(F.count(F.lit(1)).alias("c"))
    wprev = (
        Window.partitionBy("event_type").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wall = Window.partitionBy("event_type")
    cum = lat.select(
        "event_type", "v", "c",
        F.coalesce(F.sum("c").over(wprev), F.lit(0)).alias("below"),
        F.sum("c").over(wall).alias("n"),
        F.sum(F.col("c") * F.col("v")).over(wall).alias("s"),
    )
    c, below, n = F.col("c"), F.col("below"), F.col("n")
    rank_sum = c * below + F.expr("(c * (c + 1)) div 2")
    g = cum.groupBy("event_type", "n", "s").agg(
        F.sum(F.col("v") * (2 * rank_sum - c * (n + 1))).alias("num")
    )
    return g.select(
        "event_type",
        F.col("n").alias("n_users"),
        F.round(F.col("s").cast("double") / F.col("n") / 100.0, 4).alias(
            "mean_rev"
        ),
        F.when(
            F.col("s") != 0,
            F.round(
                F.col("num").cast("double")
                / (F.col("n").cast("double") * F.col("s")),
                6,
            ),
        ).alias("gini"),
    ).orderBy("event_type")
