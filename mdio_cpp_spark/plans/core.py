"""Core declared queries — the reference's own operator inventory
(SURVEY §2.2 selection, §2.3 sorts, §2.4 stats) plus the relational
categories the Spark engine adds (§2.5: joins, windows, rollup, set ops,
as-of). Each query cites the reference operator it covers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mdio_cpp_spark.catalog import table
from mdio_cpp_spark.operators import joins, selection, sorting, stats
from mdio_cpp_spark.plans.base import declared
from mdio_cpp_spark.session import local_frame, tune


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune(spark)
    return table(spark, sf_dir, name)


# ---------------------------------------------------------------- §2.2 Q1-Q10

@declared(
    "q01_isel_range",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
    WHERE l_orderkey >= 100 AND l_orderkey < 200
    ORDER BY l_orderkey, l_linenumber
    """,
)
def q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 Dataset::isel — half-open index slice (dataset.h:423-470)."""
    li = _t(spark, sf_dir, "lineitem")
    out = selection.isel(li, "l_orderkey", 100, 200)
    return selection.project(out, ["l_orderkey", "l_linenumber", "l_quantity"]).orderBy(
        "l_orderkey", "l_linenumber"
    )


@declared(
    "q02_isel_stride",
    oracle="""
    SELECT o_orderkey FROM orders
    WHERE o_orderkey % 2 = 0 AND o_orderkey < 1000
    ORDER BY o_orderkey
    """,
)
def q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 isel with stride (variable.h:1348-1351; dataset_test.cc:436-560)."""
    o = _t(spark, sf_dir, "orders")
    return selection.isel(o, "o_orderkey", start=0, stop=1000, step=2).select("o_orderkey").orderBy("o_orderkey")


@declared(
    "q03_isel_multirange",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE (o_orderkey >= 10 AND o_orderkey < 20) OR (o_orderkey >= 50 AND o_orderkey < 60)
    ORDER BY o_orderkey
    """,
)
def q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 duplicate-label slice → OR-of-ranges (variable.h:1357-1396)."""
    o = _t(spark, sf_dir, "orders")
    out = selection.isel_multi(o, "o_orderkey", [(10, 20), (50, 60)])
    return out.select("o_orderkey", "o_totalprice").orderBy("o_orderkey")


@declared(
    "q04_sel_value",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey FROM customer
    WHERE c_nationkey = 7 ORDER BY c_custkey
    """,
)
def q04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 Dataset::sel point lookup (dataset.h:639-755)."""
    c = _t(spark, sf_dir, "customer")
    return selection.sel_value(c, "c_nationkey", 7).select("c_custkey", "c_name", "c_nationkey").orderBy("c_custkey")


@declared(
    "q05_sel_range",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
    WHERE l_shipdate BETWEEN TIMESTAMP '1995-06-01' AND TIMESTAMP '1995-08-31'
    ORDER BY l_orderkey, l_linenumber
    """,
)
def q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 Dataset::sel value range — stop-inclusive (dataset.h:872-876)."""
    li = _t(spark, sf_dir, "lineitem")
    out = selection.sel_range(li, "l_shipdate", "1995-06-01", "1995-08-31")
    return out.select("l_orderkey", "l_linenumber", "l_extendedprice").orderBy("l_orderkey", "l_linenumber")


@declared(
    "q06_sel_isin",
    oracle="""
    SELECT n_nationkey, n_name FROM nation
    WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_14')
    ORDER BY n_nationkey
    """,
)
def q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 Dataset::sel membership list (dataset.h:756-786; duplicate values
    rejected per dataset.h:584-609)."""
    n = _t(spark, sf_dir, "nation")
    out = selection.sel_isin(n, "n_name", ["NATION_3", "NATION_7", "NATION_14"])
    return out.select("n_nationkey", "n_name").orderBy("n_nationkey")


@declared(
    "q07_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_discount FROM lineitem
    ORDER BY l_orderkey, l_linenumber
    """,
)
def q07(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 Dataset::operator[] — column pruning (dataset.h:896-925); the
    pruned ReadSchema reaches the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return selection.project(li, ["l_orderkey", "l_linenumber", "l_discount"]).orderBy("l_orderkey", "l_linenumber")


@declared(
    "q08_select_field",
    oracle="""
    SELECT o_orderkey, o_orderdate FROM orders ORDER BY o_orderkey
    """,
)
def q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 Dataset::SelectField — struct-field projection (dataset.h:1131-1262).
    The reference re-opens the array with a field selector; Spark prunes the
    nested field natively. A struct column is synthesized here to exercise
    the nested projection path."""
    o = _t(spark, sf_dir, "orders")
    hdr = o.select("o_orderkey", F.struct("o_orderdate", "o_orderpriority").alias("hdr"))
    return selection.select_field(hdr, "hdr", "o_orderdate").orderBy("o_orderkey")


@declared(
    "q09_slice_cached",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
    WHERE l_orderkey >= 500 AND l_orderkey < 600
    ORDER BY l_orderkey, l_linenumber
    """,
)
def q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 VariableData::slice — slice of a materialized (cached) array
    (variable.h:1745-1790). Spark analog: filter over a PERSISTED DataFrame
    (the persist is the operator under test — without it this gate would be
    q01 with different constants)."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .persist()
    )
    return selection.isel(li, "l_orderkey", 500, 600).orderBy("l_orderkey", "l_linenumber")


@declared(
    "q10_coord_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber FROM lineitem
    WHERE l_returnflag = 'R' AND l_linestatus = 'F'
    ORDER BY l_orderkey, l_linenumber
    """,
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 CoordinateSelector::filterByCoordinate — conjunctive coordinate
    predicates (coordinate_selector.h:302-503); no run-building needed."""
    li = _t(spark, sf_dir, "lineitem")
    out = selection.coordinate_filter(li, F.col("l_returnflag") == "R", F.col("l_linestatus") == "F")
    return out.select("l_orderkey", "l_linenumber").orderBy("l_orderkey", "l_linenumber")


# ------------------------------------------------------------------ §2.3 S0/S2

@declared(
    "s00_multikey_sort",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
    ORDER BY s_nationkey ASC, s_acctbal ASC, s_suppkey ASC
    """,
)
def s00(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S0 sortSelectionByKey — multi-key stable sort
    (coordinate_selector.h:122-188)."""
    s = _t(spark, sf_dir, "supplier")
    return sorting.sort_by_keys(
        s.select("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
        ["s_nationkey", "s_acctbal", "s_suppkey"],
    )


@declared(
    "s02_argmax_top1",
    oracle="""
    SELECT l_orderkey, l_linenumber FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC LIMIT 1
    """,
)
def s02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 peak tracking — coordinate of the max value
    (examples/seismic_reader/main.cc:71-127); plans TakeOrderedAndProject,
    not a global sort."""
    li = _t(spark, sf_dir, "lineitem")
    return sorting.argmax(li, "l_extendedprice", ["l_orderkey", "l_linenumber"], ["l_orderkey", "l_linenumber"])


# ------------------------------------------------------------------ §2.4 stats

@declared(
    "a01_summary_stats",
    oracle="""
    SELECT COUNT(l_quantity) AS cnt, MIN(l_quantity) AS min_v, MAX(l_quantity) AS max_v,
           ROUND(SUM(l_quantity), 2) AS sum_v,
           ROUND(SUM(l_quantity * l_quantity), 2) AS sum_sq
    FROM lineitem
    """,
)
def a01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 SummaryStats — count/min/max/sum/sumSquares (stats.h:229-335);
    computed in double, single-pass partial aggregation."""
    return stats.summary_stats(_t(spark, sf_dir, "lineitem"), "l_quantity")


@declared(
    "a02_centered_histogram",
    oracle="""
    SELECT CAST(FLOOR(l_quantity / 10) AS INTEGER) AS bin, COUNT(*) AS cnt
    FROM lineitem GROUP BY 1 ORDER BY 1
    """,
)
def a02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 CenteredBinHistogram (stats.h:109-161) — fixed-width bucketing;
    shuffle cardinality = #bins."""
    return stats.centered_bin_histogram(_t(spark, sf_dir, "lineitem"), "l_quantity", 10.0)


@declared(
    "a03_edge_histogram",
    oracle="""
    SELECT bin, lo, hi, COUNT(*) AS cnt FROM (
      SELECT CASE WHEN l_quantity >= 1 AND l_quantity < 10 THEN 0
                  WHEN l_quantity >= 10 AND l_quantity < 25 THEN 1
                  WHEN l_quantity >= 25 AND l_quantity < 40 THEN 2
                  WHEN l_quantity >= 40 AND l_quantity < 51 THEN 3 END AS bin,
             CASE WHEN l_quantity >= 1 AND l_quantity < 10 THEN CAST(1.0 AS DOUBLE)
                  WHEN l_quantity >= 10 AND l_quantity < 25 THEN CAST(10.0 AS DOUBLE)
                  WHEN l_quantity >= 25 AND l_quantity < 40 THEN CAST(25.0 AS DOUBLE)
                  WHEN l_quantity >= 40 AND l_quantity < 51 THEN CAST(40.0 AS DOUBLE) END AS lo,
             CASE WHEN l_quantity >= 1 AND l_quantity < 10 THEN CAST(10.0 AS DOUBLE)
                  WHEN l_quantity >= 10 AND l_quantity < 25 THEN CAST(25.0 AS DOUBLE)
                  WHEN l_quantity >= 25 AND l_quantity < 40 THEN CAST(40.0 AS DOUBLE)
                  WHEN l_quantity >= 40 AND l_quantity < 51 THEN CAST(51.0 AS DOUBLE) END AS hi
      FROM lineitem
    ) WHERE bin IS NOT NULL
    GROUP BY bin, lo, hi ORDER BY bin
    """,
)
def a03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 EdgeDefinedHistogram (stats.h:163-227) — explicit half-open edges."""
    return stats.edge_binned_histogram(_t(spark, sf_dir, "lineitem"), "l_quantity", [1.0, 10.0, 25.0, 40.0, 51.0])


@declared(
    "a04_num_samples",
    oracle="SELECT COUNT(*) AS n FROM lineitem",
)
def a04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 Variable::num_samples (variable.h:1153-1162)."""
    return stats.num_samples(_t(spark, sf_dir, "lineitem"))


@declared(
    "a05_get_intervals",
    oracle="""
    SELECT 'o_custkey' AS dim, CAST(MIN(o_custkey) AS BIGINT) AS lo, CAST(MAX(o_custkey) + 1 AS BIGINT) AS hi FROM orders
    UNION ALL
    SELECT 'o_orderkey' AS dim, CAST(MIN(o_orderkey) AS BIGINT) AS lo, CAST(MAX(o_orderkey) + 1 AS BIGINT) AS hi FROM orders
    ORDER BY dim
    """,
)
def a05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 get_intervals — per-dimension [min, max+1) domain
    (variable.h:1652-1698, dataset.h:264-287); one scan for all dims."""
    return stats.get_intervals(_t(spark, sf_dir, "orders"), ["o_custkey", "o_orderkey"])


@declared(
    "cs01_fluent_pipeline",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
    WHERE l_returnflag = 'R' AND l_linestatus = 'F' AND l_quantity >= 30
    ORDER BY l_orderkey, l_linenumber
    """,
)
def cs01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7 fluent pipeline — ReadDataVariables(names, filter, filter, sort,
    sort) (coordinate_selector.h:94-288): conjunctive filters + chained
    least-significant-first sorts + multi-column read, emitted as one
    declarative Catalyst plan (filters reach the scan as PushedFilters)."""
    from mdio_cpp_spark.operators.coordinate_query import CoordinateQuery

    li = _t(spark, sf_dir, "lineitem")
    return (
        CoordinateQuery(li)
        .filter_by(F.col("l_returnflag") == "R", F.col("l_linestatus") == "F")
        .filter_by(F.col("l_quantity") >= 30)
        .sort_by("l_linenumber")   # least significant first, like the reference
        .sort_by("l_orderkey")
        .read("l_orderkey", "l_linenumber", "l_quantity")
    )


# ---------------------------------------------------- §2.5 joins / windows / sets

@declared(
    "j01_broadcast_join_agg",
    oracle="""
    SELECT n_name, ROUND(SUM(o_totalprice), 2) AS total_price, COUNT(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name
    """,
)
def j01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-alignment join (dataset.h:439-447 analog). nation (25 rows,
    sf-independent) is broadcast; customer is sf-PROPORTIONAL (15M rows at
    sf100), so it is NOT size-blind-broadcast — AQE picks the strategy from
    runtime stats and can still broadcast it when it actually fits."""
    o = _t(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = joins.dim_align_join(o, c, on=[o.o_custkey == c.c_custkey], broadcast_dim=False).join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    )
    return (
        j.groupBy("n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total_price"), F.count(F.lit(1)).alias("n_orders"))
        .orderBy("n_name")
    )


@declared(
    "j02_semi_join",
    oracle="""
    SELECT c_custkey FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ORDER BY c_custkey
    """,
)
def j02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS)."""
    c = _t(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return joins.semi_join(c.select("c_custkey"), o, on="c_custkey").orderBy("c_custkey")


@declared(
    "j03_anti_join",
    oracle="""
    SELECT c_custkey FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    ORDER BY c_custkey
    """,
)
def j03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no urgent orders."""
    c = _t(spark, sf_dir, "customer")
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return joins.anti_join(c.select("c_custkey"), o, on="c_custkey").orderBy("c_custkey")


@declared(
    "w01_row_number",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS rn
    FROM orders ORDER BY o_custkey, rn
    """,
)
def w01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window function: per-key ordered row numbering."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.select("o_custkey", "o_orderkey", F.row_number().over(w).cast("long").alias("rn"))
        .orderBy("o_custkey", "rn")
    )


@declared(
    "w02_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS UNBOUNDED PRECEDING), 2) AS running
    FROM orders ORDER BY o_custkey, o_orderkey
    """,
)
def w02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window function: per-key running sum (frame-ordered accumulation)."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        o.select("o_custkey", "o_orderkey", F.round(F.sum("o_totalprice").over(w), 2).alias("running"))
        .orderBy("o_custkey", "o_orderkey")
    )


@declared(
    "g01_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def g01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets: ROLLUP over two keys (absent in reference; built-in)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first())
    )


@declared(
    "g02_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
           COUNT(*) AS cnt
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def g02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets: CUBE with grouping_id disambiguating real NULLs from
    subtotal rows (absent in reference; built-in)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.grouping_id().cast("long").alias("gid"), F.count(F.lit(1)).alias("cnt"))
        .select("l_returnflag", "l_linestatus", "gid", "cnt")
        .orderBy("gid", F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first())
    )


_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PRIORITY_ALIASES = ["urgent", "high", "medium", "notspec", "low"]


def _dd_pivot_sql() -> str:
    cols = ",\n           ".join(
        f"ROUND(SUM(CASE WHEN o_orderpriority = '{p}' THEN o_totalprice END), 2) AS {a}"
        for p, a in zip(_PRIORITIES, _PRIORITY_ALIASES)
    )
    return f"""
    SELECT o_orderstatus,
           {cols}
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """


@declared("g03_pivot", oracle=_dd_pivot_sql())
def g03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order-priority columns per order status (absent in reference;
    built-in groupBy().pivot()). The value list is passed explicitly, so no
    extra distinct-values job runs and the output schema is static — the
    form that scales (one shuffle, map-side partial aggs per pivot cell)."""
    o = _t(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.round(F.sum("o_totalprice"), 2))
    )
    renamed = p.select(
        "o_orderstatus",
        *[F.col(f"`{v}`").alias(a) for v, a in zip(_PRIORITIES, _PRIORITY_ALIASES)],
    )
    return renamed.orderBy("o_orderstatus")


@declared(
    "w03_range_frame",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                RANGE BETWEEN 100 PRECEDING AND CURRENT ROW) AS BIGINT) AS near_cnt
    FROM orders ORDER BY o_custkey, o_orderkey
    """,
)
def w03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window with a RANGE (value-based) frame — peers within 100 key units,
    not a fixed row count."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey").rangeBetween(-100, 0)
    return (
        o.select("o_custkey", "o_orderkey", F.count(F.lit(1)).over(w).cast("long").alias("near_cnt"))
        .orderBy("o_custkey", "o_orderkey")
    )


@declared(
    "t05_date_parts",
    oracle="""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
           CAST(EXTRACT(quarter FROM o_orderdate) AS BIGINT) AS qtr,
           COUNT(*) AS cnt, ROUND(SUM(o_totalprice), 2) AS total
    FROM orders GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def t05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction + time-grouped aggregate (scalar date functions
    — absent in reference, built-in here)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("long").alias("yr"),
            F.quarter("o_orderdate").cast("long").alias("qtr"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy("yr", "qtr")
    )


@declared(
    "a06_distinct_agg",
    oracle="""
    SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_prio,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    """,
)
def a06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (SURVEY notes the reference has none) — two
    count-distincts in one pass; Spark expands to partial aggregates, no
    driver-side distinct."""
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.countDistinct("o_custkey").cast("long").alias("n_cust"),
        F.countDistinct("o_orderpriority").cast("long").alias("n_prio"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )


@declared(
    "set01_intersect",
    oracle="""
    SELECT c_nationkey AS k FROM customer
    INTERSECT
    SELECT s_nationkey AS k FROM supplier
    ORDER BY k
    """,
)
def set01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: INTERSECT (distinct)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.intersect(s).orderBy("k")


@declared(
    "set02_except",
    oracle="""
    SELECT c_nationkey AS k FROM customer
    EXCEPT
    SELECT s_nationkey AS k FROM supplier WHERE s_acctbal > 8000
    ORDER BY k
    """,
)
def set02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: EXCEPT (distinct) — nations with customers but no
    high-balance supplier."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 8000)
        .select(F.col("s_nationkey").alias("k"))
    )
    return c.subtract(s).orderBy("k")


@declared(
    "set05_except_all",
    oracle="""
    SELECT k, COUNT(*) AS cnt FROM (
      SELECT c_nationkey AS k FROM customer
      EXCEPT ALL
      SELECT s_nationkey AS k FROM supplier WHERE s_acctbal > 8000
    ) GROUP BY k ORDER BY k
    """,
)
def set05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: EXCEPT ALL (bag difference — multiplicities subtract, unlike
    set02's distinct EXCEPT); aggregated to per-key survivor counts so the
    result is order-insensitive."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 8000)
        .select(F.col("s_nationkey").alias("k"))
    )
    return c.exceptAll(s).groupBy("k").agg(F.count(F.lit(1)).alias("cnt")).orderBy("k")


@declared(
    "set03_union_all_count",
    oracle="""
    SELECT k, COUNT(*) AS cnt FROM (
      SELECT c_nationkey AS k FROM customer
      UNION ALL
      SELECT s_nationkey AS k FROM supplier
    ) GROUP BY k ORDER BY k
    """,
)
def set03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: UNION ALL (the reference's tensorstore::Concat analog,
    variable.h:1390-1391) + count."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.unionByName(s).groupBy("k").agg(F.count(F.lit(1)).alias("cnt")).orderBy("k")


_QTY_BINS = [(0, 1.0, 10.0), (1, 10.0, 25.0), (2, 25.0, 40.0), (3, 40.0, 51.0)]


def _dd_range_join_sql() -> str:
    rows = ", ".join(f"({b}, {lo}, {hi})" for b, lo, hi in _QTY_BINS)
    return f"""
    WITH bins(b_id, lo, hi) AS (VALUES {rows})
    SELECT CAST(b_id AS BIGINT) AS b_id, COUNT(*) AS cnt,
           ROUND(SUM(l_extendedprice), 2) AS sum_price
    FROM lineitem JOIN bins ON l_quantity >= lo AND l_quantity < hi
    GROUP BY 1 ORDER BY 1
    """


@declared("j05_range_join", oracle=_dd_range_join_sql())
def j05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (non-equi) join: fact rows against a broadcast interval table.
    With a handful of arbitrary intervals the right physical plan IS a
    broadcast nested-loop — each row tests |bins| predicates map-side, no
    shuffle before the partial agg. (Uniform bins would instead be a
    computed width_bucket key; overlapping genome-style intervals an
    interval tree. The broadcast NLJ is the general-purpose form.)"""
    li = _t(spark, sf_dir, "lineitem")
    bins = local_frame(spark, _QTY_BINS, "b_id long, lo double, hi double")
    return (
        li.join(
            F.broadcast(bins),
            (F.col("l_quantity") >= F.col("lo")) & (F.col("l_quantity") < F.col("hi")),
        )
        .groupBy("b_id")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .orderBy("b_id")
    )


@declared(
    "j04_full_outer",
    oracle="""
    SELECT k, c_cnt, s_cnt FROM (
      SELECT COALESCE(c.k, s.k) AS k, c.cnt AS c_cnt, s.cnt AS s_cnt
      FROM (SELECT c_nationkey AS k, COUNT(*) AS cnt FROM customer WHERE c_acctbal > 9000 GROUP BY 1) c
      FULL OUTER JOIN
           (SELECT s_nationkey AS k, COUNT(*) AS cnt FROM supplier WHERE s_acctbal > 9000 GROUP BY 1) s
      ON c.k = s.k
    ) ORDER BY k
    """,
)
def j04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join — unmatched keys survive from both sides with NULLs."""
    c = (
        _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
        .groupBy(F.col("c_nationkey").alias("k")).agg(F.count(F.lit(1)).alias("c_cnt"))
    )
    s = (
        table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 9000)
        .groupBy(F.col("s_nationkey").alias("k")).agg(F.count(F.lit(1)).alias("s_cnt"))
    )
    return c.join(s, on="k", how="full_outer").select("k", "c_cnt", "s_cnt").orderBy("k")


@declared(
    "w04_lead_lag",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(EXTRACT(day FROM o_orderdate - lag(o_orderdate) OVER w) AS BIGINT) AS days_since_prev,
           CAST(lead(o_orderkey) OVER w AS BIGINT) AS next_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderkey
    """,
)
def w04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag offsets — inter-row deltas within a key's timeline."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.select(
            "o_custkey", "o_orderkey",
            F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)).cast("long").alias("days_since_prev"),
            F.lead("o_orderkey").over(w).cast("long").alias("next_order"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@declared(
    "w05_ntile_percent_rank",
    oracle="""
    SELECT s_suppkey,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           ROUND(percent_rank() OVER w, 6) AS pr,
           ROUND(cume_dist() OVER w, 6) AS cd
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
    ORDER BY s_suppkey
    """,
)
def w05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution windows: ntile quartiles + percent_rank + cume_dist per
    nation — partitioned windows only."""
    s = _t(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    return (
        s.select(
            "s_suppkey",
            F.ntile(4).over(w).cast("long").alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pr"),
            F.round(F.cume_dist().over(w), 6).alias("cd"),
        )
        .orderBy("s_suppkey")
    )


@declared(
    "a07_exact_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
           ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def a07(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT grouped percentiles (quantile_cont interpolation) via
    stats.grouped_percentiles: bucket histogram → driver maps target ranks
    to covering buckets → only those buckets' rows rank through a
    partitioned window. No per-group value buffer (Spark's `percentile`
    UDAF holds every group value on one reducer) and no data-sized shuffle
    (the previous distinct-count design moved one row per distinct value).
    Same interpolation formula as the DuckDB oracle, rounded to 4dp."""
    li = _t(spark, sf_dir, "lineitem")
    return stats.grouped_percentiles(
        li, "l_returnflag", "l_extendedprice",
        [(0.5, "p50"), (0.9, "p90"), (0.99, "p99")],
    ).orderBy("l_returnflag")


@declared(
    "a08_stat_moments",
    oracle="""
    SELECT l_returnflag,
           ROUND(stddev_samp(l_quantity), 4) AS sd_qty,
           ROUND(var_samp(l_quantity), 4) AS var_qty,
           ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
           ROUND(covar_samp(l_quantity, l_extendedprice), 2) AS cov_qp
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def a08(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics: grouped stddev/variance plus two-column
    correlation and covariance. All four merge as distributed co-moments
    (Chan et al. pairwise update) — one partial agg, one vocabulary-sized
    shuffle; rounding absorbs the accumulation-order ulps vs the
    single-threaded oracle."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
            F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qp"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("cov_qp"),
        )
        .orderBy("l_returnflag")
    )


@declared(
    "s04_salted_agg",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS cnt
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def s04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit two-phase salted aggregation on a 3-key (maximally skewed)
    grouping: phase 1 shuffles on (key, salt) so each hot key spreads across
    n_salts reducers, phase 2 merges n_salts rows per key. Deterministic
    xxhash64 salt — identical across retries. Same answer as the plain
    GROUP BY (the oracle), by construction."""
    from mdio_cpp_spark.operators.skew import salted_agg_count

    li = _t(spark, sf_dir, "lineitem")
    return (
        salted_agg_count(li, ["l_returnflag"], n_salts=8)
        .withColumn("cnt", F.col("cnt").cast("long"))
        .orderBy("l_returnflag")
    )


@declared(
    "t06_regexp_extract",
    oracle="""
    SELECT o_orderkey, regexp_extract(o_orderpriority, '^([0-9]+)-([A-Z]+)$', 2) AS prio_word,
           CAST(regexp_extract(o_orderpriority, '^([0-9]+)', 1) AS BIGINT) AS prio_rank
    FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey
    """,
)
def t06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp extraction — structured parsing of a formatted string column."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderkey") < 2000)
        .select(
            "o_orderkey",
            F.regexp_extract("o_orderpriority", r"^([0-9]+)-([A-Z]+)$", 2).alias("prio_word"),
            F.regexp_extract("o_orderpriority", r"^([0-9]+)", 1).cast("long").alias("prio_rank"),
        )
        .orderBy("o_orderkey")
    )


@declared(
    "set04_intersect_all",
    oracle="""
    SELECT k FROM (SELECT c_nationkey AS k FROM customer)
    INTERSECT ALL
    SELECT k FROM (SELECT s_nationkey AS k FROM supplier)
    ORDER BY k
    """,
)
def set04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — bag semantics (min multiplicity per key), vs set01's
    distinct semantics."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.intersectAll(s).orderBy("k")


@declared(
    "asof01_event_order",
    oracle="""
    SELECT e.event_id, o.o_orderdate AS asof_date
    FROM events e ASOF JOIN orders o ON e.ts >= o.o_orderdate
    ORDER BY e.event_id
    """,
)
def asof01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join — strict extension of the reference's exact-match sel
    (dataset.h:840-847 errors on missing values; as-of matches the latest
    prior). Inner semantics matching DuckDB ASOF JOIN. Time-bucketed
    windows — no single-partition WindowExec even with no partition keys."""
    e = _t(spark, sf_dir, "events").select("event_id", "ts")
    o = table(spark, sf_dir, "orders").select("o_orderdate")
    out = joins.asof_join(e, o, "ts", "o_orderdate", ["o_orderdate"], how="inner")
    return out.select("event_id", F.col("o_orderdate").alias("asof_date")).orderBy("event_id")


@declared(
    "asof02_left",
    oracle="""
    SELECT e.event_id, o.rts AS asof_ts
    FROM events e ASOF LEFT JOIN
         (SELECT o_orderdate + INTERVAL 29 YEAR + INTERVAL 5 DAY AS rts FROM orders) o
      ON e.ts >= o.rts
    ORDER BY e.event_id
    """,
)
def asof02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left as-of join: left rows preceding every right timestamp are KEPT
    with NULL carried values (how='left'); the shifted right side guarantees
    such rows exist, pinning the inner/left divergence."""
    e = _t(spark, sf_dir, "events").select("event_id", "ts")
    o = table(spark, sf_dir, "orders").select(
        F.expr("o_orderdate + INTERVAL 29 YEAR + INTERVAL 5 DAY").alias("rts")
    )
    out = joins.asof_join(e, o, "ts", "rts", ["rts"], how="left")
    return out.select("event_id", F.col("rts").alias("asof_ts")).orderBy("event_id")


@declared(
    "g04_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
           COUNT(*) AS cnt, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus))
    ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def g04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — an arbitrary set list (not the rollup/cube
    lattices of g01/g02), with grouping_id disambiguating subtotal rows from
    real NULLs. One shuffle: Spark expands the sets map-side then aggregates
    once on (gid, keys) — no per-set rescan of the input."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], ["l_linestatus"]],
            "l_returnflag", "l_linestatus",
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "cnt", "sum_qty")
        .orderBy("gid", F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first())
    )


@declared(
    "w06_value_frames",
    oracle="""
    SELECT o_custkey, o_orderkey,
           first_value(o_totalprice) OVER w AS first_p,
           nth_value(o_totalprice, 2) OVER w AS second_p,
           last_value(o_totalprice) OVER
             (PARTITION BY o_custkey ORDER BY o_orderkey
              ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING) AS ahead2_p
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY o_custkey, o_orderkey
    """,
)
def w06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-positional window frames: first_value / nth_value over a
    running ROWS frame and last_value over a forward-looking frame —
    explicit frames on BOTH sides so the engines agree exactly (the default
    RANGE frame differs subtly across engines)."""
    o = _t(spark, sf_dir, "orders")
    base = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    wrun = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wfwd = base.rowsBetween(Window.currentRow, 2)
    return (
        o.select(
            "o_custkey", "o_orderkey",
            F.first("o_totalprice").over(wrun).alias("first_p"),
            F.nth_value("o_totalprice", 2).over(wrun).alias("second_p"),
            F.last("o_totalprice").over(wfwd).alias("ahead2_p"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@declared(
    "h01_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT)
             AS revenue_e4,
           o_orderdate
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate < DATE '1995-03-15' AND l_shipdate > DATE '1995-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue_e4 DESC, l_orderkey LIMIT 10
    """,
)
def h01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped multi-join analytics: selective dimension filter →
    join → grouped revenue → global top-10. The customer filter broadcasts
    (small side), lineitem joins orders on the grouping key so the agg
    reuses the join shuffle, and the ORDER BY+LIMIT compiles to
    TakeOrderedAndProject (per-partition top-k, never a global sort).
    Revenue is kept in exact integer 1e-4 units so the hash-compare never
    rides a float rounding boundary (see plans/base.py)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1995-03-15").cast("date"))
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1995-03-15").cast("date"))
    rev = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
    )
    return (
        li.join(o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey")),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(rev).alias("revenue_e4"))
        .select("l_orderkey", "revenue_e4", "o_orderdate")
        .orderBy(F.col("revenue_e4").desc(), "l_orderkey")
        .limit(10)
    )


@declared(
    "h02_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_e2,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) AS sum_disc_e4,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
                    * (100 + CAST(ROUND(l_tax * 100) AS BIGINT))) AS BIGINT) AS sum_charge_e6,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_price_e2,
           CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_disc_e2,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def h02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: one wide partial-aggregatable scan.
    Every measure is an integer sum in fixed-point units (cents / 1e-4 /
    1e-6), so the map-side partial agg is exact and order-independent; the
    averages are a single IEEE division of exact integers, identical bit
    patterns on Spark and DuckDB. One shuffle of 4 grouped rows per
    partition — the 100-TB plan is the sf0.01 plan."""
    tune(spark)
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("date")
    )
    qty = F.col("l_quantity").cast("long")
    price_e2 = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_e2 = F.round(F.col("l_discount") * 100).cast("long")
    tax_e2 = F.round(F.col("l_tax") * 100).cast("long")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).alias("sum_qty"),
            F.sum(price_e2).alias("sum_base_e2"),
            F.sum(price_e2 * (F.lit(100) - disc_e2)).alias("sum_disc_e4"),
            F.sum(price_e2 * (F.lit(100) - disc_e2) * (F.lit(100) + tax_e2)).alias("sum_charge_e6"),
            F.count(F.lit(1)).alias("count_order"),
            F.sum(disc_e2).alias("_sum_disc_e2"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "sum_qty",
            "sum_base_e2",
            "sum_disc_e4",
            "sum_charge_e6",
            (F.col("sum_qty").cast("double") / F.col("count_order")).alias("avg_qty"),
            (F.col("sum_base_e2").cast("double") / F.col("count_order")).alias("avg_price_e2"),
            (F.col("_sum_disc_e2").cast("double") / F.col("count_order")).alias("avg_disc_e2"),
            "count_order",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@declared(
    "h03_local_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_e4
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey AND r_name = 'ASIA'
      AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue_e4 DESC, n_name
    """,
)
def h03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped six-way join: region→nation filter prunes supplier
    and customer BEFORE the fact joins, and all four dimension sides are
    broadcast (region/nation/supplier/customer are the small sides at any
    scale ratio lineitem dominates). The only shuffles left are the
    lineitem⋈orders equi-join and the 25-row group-by; at 100 TB AQE picks
    SMJ for that one fact-fact join and everything else stays map-side."""
    tune(spark)
    asia_nations = (
        table(spark, sf_dir, "nation")
        .join(
            F.broadcast(table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    s = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    c = (
        table(spark, sf_dir, "customer")
        .join(
            F.broadcast(asia_nations.select("n_nationkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "c_nationkey")
    )
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
    )
    li = table(spark, sf_dir, "lineitem")
    rev = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .groupBy("n_name")
        .agg(F.sum(rev).alias("revenue_e4"))
        .orderBy(F.col("revenue_e4").desc(), "n_name")
    )


@declared(
    "h04_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_e4,
           CAST(ROUND(c_acctbal * 100) AS BIGINT) AS acctbal_e2, n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
      AND l_returnflag = 'R' AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue_e4 DESC, c_custkey LIMIT 20
    """,
)
def h04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped returned-item report: date-pruned orders join the
    'R'-filtered lineitem on the grouping key (agg reuses the join
    exchange), customer+nation broadcast onto the 20-row-bound result, and
    the final ORDER BY ... LIMIT 20 is TakeOrderedAndProject."""
    tune(spark)
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("date"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    cn = (
        table(spark, sf_dir, "customer")
        .join(F.broadcast(table(spark, sf_dir, "nation")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_name", "c_acctbal", "n_name")
    )
    rev = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cn), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(rev).alias("revenue_e4"))
        .select(
            "c_custkey", "c_name", "revenue_e4",
            F.round(F.col("c_acctbal") * 100).cast("long").alias("acctbal_e2"),
            "n_name",
        )
        .orderBy(F.col("revenue_e4").desc(), "c_custkey")
        .limit(20)
    )


@declared(
    "q11_sel_nearest",
    oracle="""
    SELECT target, c_custkey, c_acctbal AS nearest_c_acctbal FROM (
      SELECT target, c_custkey, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY target
                                ORDER BY abs(c_acctbal - target), c_custkey) AS rn
      FROM customer CROSS JOIN (VALUES (0.0), (5000.0), (9999.99)) t(target)
    ) WHERE rn = 1 ORDER BY target
    """,
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-value sel (xarray method='nearest'; the reference's sel is
    exact-only and errors on a miss, dataset.h:840-847 — this is the
    upgrade). Targets broadcast; the per-target argmin is one partial-
    aggregated min_by — no window over the data, no sort."""
    c = _t(spark, sf_dir, "customer")
    return selection.sel_nearest(
        c, "c_acctbal", [0.0, 5000.0, 9999.99], keys=["c_custkey"]
    ).orderBy("target")


@declared(
    "h05_revenue_forecast",
    oracle="""
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_e4,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      AND l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 24
    """,
)
def h05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped revenue forecast: the pure-pushdown query. All three
    predicates reach the parquet scan (PushedFilters), the projection reads
    four columns, and the whole query is one partial-aggregated scan — no
    shuffle except the 1-row final agg. The plan at 100 TB is identical;
    runtime is bounded by scan bandwidth alone."""
    tune(spark)
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
        & F.col("l_discount").between(0.02, 0.04)
        & (F.col("l_quantity") < 24)
    )
    rev = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * F.round(F.col("l_discount") * 100).cast("long")
    )
    return li.agg(F.sum(rev).alias("revenue_e4"), F.count(F.lit(1)).alias("n_rows"))


@declared(
    "h06_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= DATE '1996-07-01' AND o_orderdate < DATE '1996-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > CAST(o_orderdate AS DATE)
      )
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def h06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped priority check: date-pruned orders LEFT SEMI join
    lineitem on the order key with a non-equi residual (shipped after the
    order date). The semi join ships only (orderkey, orderdate) — never
    order payloads — and the priority count is a 5-row partial agg. At
    100 TB the date filter prunes orders first, and Spark's runtime bloom
    filter (on by default) prunes lineitem's scan by the surviving keys."""
    tune(spark)
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("date"))
    )
    li = table(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate").cast("date")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@declared(
    "w07_value_window_fns",
    oracle="""
    SELECT o_orderkey,
           FIRST_VALUE(o_totalprice) OVER w AS first_p,
           LAST_VALUE(o_totalprice) OVER w AS last_p,
           NTH_VALUE(o_totalprice, 2) OVER w AS second_p
    FROM orders
    WHERE o_orderkey < 2000
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ORDER BY o_orderkey
    """,
)
def w07(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over an unbounded frame —
    rounding out the window-function family. Partitioned by priority (5
    parallel partitions at any scale; the frame is whole-partition, so the
    sort is one pass)."""
    tune(spark)
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        F.first("o_totalprice").over(w).alias("first_p"),
        F.last("o_totalprice").over(w).alias("last_p"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_p"),
    ).orderBy("o_orderkey")


@declared(
    "set06_union_distinct",
    oracle="""
    SELECT n_nationkey AS k FROM nation WHERE n_regionkey = 1
    UNION
    SELECT n_nationkey AS k FROM nation WHERE n_nationkey < 10
    ORDER BY k
    """,
)
def set06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) — completes the set-op family (union-all, intersect,
    intersect-all, except, except-all already gated). One hash-distinct
    after the cheap union."""
    n = _t(spark, sf_dir, "nation")
    a = n.filter(F.col("n_regionkey") == 1).select(F.col("n_nationkey").alias("k"))
    b = n.filter(F.col("n_nationkey") < 10).select(F.col("n_nationkey").alias("k"))
    return a.union(b).distinct().orderBy("k")


@declared(
    "a10_hist2d",
    oracle="""
    SELECT CAST(FLOOR(l_quantity / 10) AS BIGINT) AS qbin,
           CAST(FLOOR(l_extendedprice / 20000) AS BIGINT) AS pbin,
           COUNT(*) AS cnt
    FROM lineitem GROUP BY qbin, pbin ORDER BY qbin, pbin
    """,
)
def a10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D histogram (joint quantity × price binning — the heatmap the A2/A3
    1-D histograms generalize to). Pure map-side key derivation, one
    partial-aggregated shuffle of (qbin, pbin) cells; output cardinality is
    the bin grid, not the data."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.floor(F.col("l_quantity") / 10).alias("qbin"),
            F.floor(F.col("l_extendedprice") / 20000).alias("pbin"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("qbin", "pbin")
    )


@declared(
    "g05_grouping_id",
    oracle="""
    SELECT n_regionkey, n_nationkey,
           CAST(GROUPING(n_regionkey) AS BIGINT) AS g_region,
           CAST(GROUPING(n_nationkey) AS BIGINT) AS g_nation,
           COUNT(*) AS cnt
    FROM nation
    GROUP BY ROLLUP (n_regionkey, n_nationkey)
    ORDER BY g_region, g_nation, n_regionkey NULLS FIRST, n_nationkey NULLS FIRST
    """,
)
def g05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING() indicators — distinguishes 'NULL because
    aggregated away' from 'NULL in the data', the piece that makes rollup
    output machine-consumable. Single Expand + one hash aggregate."""
    n = _t(spark, sf_dir, "nation")
    return (
        n.rollup("n_regionkey", "n_nationkey")
        .agg(
            F.grouping("n_regionkey").cast("long").alias("g_region"),
            F.grouping("n_nationkey").cast("long").alias("g_nation"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select("n_regionkey", "n_nationkey", "g_region", "g_nation", "cnt")
        .orderBy(
            "g_region", "g_nation",
            F.col("n_regionkey").asc_nulls_first(), F.col("n_nationkey").asc_nulls_first(),
        )
    )


@declared(
    "h07_large_quantity_orders",
    oracle="""
    SELECT c_name, o_orderkey, CAST(SUM(l_quantity) AS DOUBLE) AS total_qty
    FROM orders
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN customer ON c_custkey = o_custkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
    )
    GROUP BY c_name, o_orderkey
    ORDER BY total_qty DESC, o_orderkey LIMIT 20
    """,
)
def h07(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped large-order report: the HAVING subquery reduces
    lineitem to qualifying order keys FIRST (a partial-aggregatable
    groupBy whose output is tiny — 204 keys at sf0.01), and that key set
    drives LEFT SEMI pruning of both fact scans before the final
    three-way join. Quantity sums are exact (integral values in a
    double column — no rounding needed); top-20 compiles to
    TakeOrderedAndProject, never a global sort."""
    tune(spark)
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__q"))
        .filter(F.col("__q") > 250)
        .select("l_orderkey")
    )
    o = table(spark, sf_dir, "orders").join(
        big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi"
    )
    c = table(spark, sf_dir, "customer")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_name", "o_orderkey")
        .agg(F.sum("l_quantity").cast("double").alias("total_qty"))
        .orderBy(F.col("total_qty").desc(), "o_orderkey")
        .limit(20)
    )


@declared(
    "h08_nation_volume_flows",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(v_e4) AS DOUBLE) / 10000.0 AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
             CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT) AS v_e4
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE n1.n_nationkey < 4 AND n2.n_nationkey < 4
        AND n1.n_nationkey <> n2.n_nationkey
    )
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def h08(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped cross-nation volume flows: both nation dimension
    joins broadcast and their name filters apply BEFORE the fact joins, so
    supplier and customer shrink to two nations each ahead of the
    lineitem⋈orders shuffle. Revenue is an exact fixed-point sum (1e-4
    units in BIGINT — associative, partition-order-independent) cast back
    to double only at the end; the grouped output is |nations|²·|years|
    rows."""
    tune(spark)
    n = table(spark, sf_dir, "nation")
    n1 = F.broadcast(
        n.filter(F.col("n_nationkey") < 4)
        .select(F.col("n_nationkey").alias("__sk"), F.col("n_name").alias("supp_nation"))
    )
    n2 = F.broadcast(
        n.filter(F.col("n_nationkey") < 4)
        .select(F.col("n_nationkey").alias("__ck"), F.col("n_name").alias("cust_nation"))
    )
    s = table(spark, sf_dir, "supplier").join(n1, F.col("s_nationkey") == F.col("__sk"))
    c = table(spark, sf_dir, "customer").join(n2, F.col("c_nationkey") == F.col("__ck"))
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    v_e4 = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000).cast("long")
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("__sk") != F.col("__ck"))
        .select(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
            v_e4.alias("v_e4"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg((F.sum("v_e4").cast("double") / 10000.0).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@declared(
    "h09_promo_revenue_share",
    oracle="""
    SELECT ROUND(CAST(SUM(CASE WHEN p_type = 'ECONOMY' THEN v_e4 ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(v_e4) AS DOUBLE), 6) AS promo_share
    FROM (
      SELECT CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT) AS v_e4,
             p_type
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
    )
    """,
)
def h09(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promo revenue share: one conditional aggregate over
    the date-pruned lineitem⋈part join — numerator and denominator are
    exact 1e-4 fixed-point BIGINT sums (associative, partition-order-free),
    divided exactly once at the end, so the double is bit-identical on any
    partitioning. The shipdate filter reaches the FileScan; part is
    sf-proportional so its join strategy is left to the planner/AQE."""
    tune(spark)
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("date"))
    )
    p = table(spark, sf_dir, "part")
    v_e4 = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000).cast("long")
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .select(v_e4.alias("v_e4"), "p_type")
        .agg(
            F.round(
                F.sum(F.when(F.col("p_type") == "ECONOMY", F.col("v_e4")).otherwise(0)).cast("double")
                / F.sum("v_e4").cast("double"),
                6,
            ).alias("promo_share")
        )
    )


@declared(
    "h10_market_share",
    oracle="""
    SELECT l_year,
           ROUND(CAST(n1_e4 AS DOUBLE) / CAST(tot_e4 AS DOUBLE), 6) AS mkt_share
    FROM (
      SELECT l_year,
             SUM(CASE WHEN supp_nation = 'NATION_1' THEN v_e4 ELSE 0 END) AS n1_e4,
             SUM(v_e4) AS tot_e4
      FROM (
        SELECT n1.n_name AS supp_nation,
               CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
               CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT) AS v_e4
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE n1.n_nationkey < 4 AND n2.n_nationkey < 4
          AND n1.n_nationkey <> n2.n_nationkey
      )
      GROUP BY l_year
    )
    ORDER BY l_year
    """,
)
def h10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped market share: NATION_1 suppliers' slice of the
    cross-nation flow volume per year. Same broadcast-pruned join tree as
    h08; the share is a ratio of two exact fixed-point sums computed in ONE
    grouped pass (conditional aggregate — no second scan, no join of two
    aggregates), divided once per year row."""
    tune(spark)
    n = table(spark, sf_dir, "nation")
    n1 = F.broadcast(
        n.filter(F.col("n_nationkey") < 4)
        .select(F.col("n_nationkey").alias("__sk"), F.col("n_name").alias("supp_nation"))
    )
    n2 = F.broadcast(
        n.filter(F.col("n_nationkey") < 4).select(F.col("n_nationkey").alias("__ck"))
    )
    s = table(spark, sf_dir, "supplier").join(n1, F.col("s_nationkey") == F.col("__sk"))
    c = table(spark, sf_dir, "customer").join(n2, F.col("c_nationkey") == F.col("__ck"))
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    v_e4 = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000).cast("long")
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("__sk") != F.col("__ck"))
        .select(
            F.year("l_shipdate").cast("long").alias("l_year"),
            F.col("supp_nation"),
            v_e4.alias("v_e4"),
        )
        .groupBy("l_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_1", F.col("v_e4")).otherwise(0)
                ).cast("double")
                / F.sum("v_e4").cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("l_year")
    )


@declared(
    "h11_order_count_distribution",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist FROM (
      SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """,
)
def h11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped order-count distribution: LEFT OUTER join keeps
    customers with zero qualifying orders (COUNT of the join column — not
    COUNT(*) — so unmatched rows count 0; the non-join predicate lives in
    the join condition, not a post-filter, or zero-order customers would
    vanish). Two hash aggregates: per-customer counts (shuffle keyed on
    custkey, partial-agg absorbed), then the tiny count-of-counts."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@declared(
    "h12_important_parts",
    oracle="""
    WITH pv AS (
      SELECT l_partkey,
             SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS v_e4
      FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT SUM(v_e4) AS g_e4, COUNT(*) AS np FROM pv)
    SELECT l_partkey, CAST(v_e4 AS DOUBLE) / 10000.0 AS value
    FROM pv CROSS JOIN tot
    WHERE v_e4 * np * 4 > 5 * g_e4
    ORDER BY value DESC, l_partkey
    """,
)
def h12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped "important parts": keep parts whose revenue exceeds
    1.25× the AVERAGE part revenue (Q11's fixed global fraction would go
    vacuous as part count grows with SF; an average-relative cut stays
    scale-stable). The global total re-derives from the per-part aggregate
    (no second scan) and broadcasts as a 1-row cross join; the significance
    test stays in exact integer fixed-point (v·n·4 > 5·g — no float
    threshold, no accumulation-order sensitivity). One data-sized shuffle
    (the partkey agg), total."""
    li = _t(spark, sf_dir, "lineitem")
    v_e4 = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000).cast("long")
    pv = li.select("l_partkey", v_e4.alias("v_e4")).groupBy("l_partkey").agg(
        F.sum("v_e4").alias("v_e4")
    )
    tot = pv.agg(F.sum("v_e4").alias("g_e4"), F.count(F.lit(1)).alias("np"))
    return (
        pv.join(F.broadcast(tot))
        .filter(F.col("v_e4") * F.col("np") * 4 > 5 * F.col("g_e4"))
        .select("l_partkey", (F.col("v_e4").cast("double") / 10000.0).alias("value"))
        .orderBy(F.col("value").desc(), "l_partkey")
    )


@declared(
    "h13_rich_inactive_customers",
    oracle="""
    WITH bal AS (
      SELECT c_custkey, c_mktsegment,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS b_e2
      FROM customer
    ),
    avgpos AS (
      SELECT SUM(b_e2) AS s_e2, COUNT(*) AS n FROM bal WHERE b_e2 > 0
    )
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(b_e2) AS DOUBLE) / 100.0 AS totacctbal
    FROM bal CROSS JOIN avgpos
    WHERE b_e2 * n > s_e2
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= DATE '2000-07-01')
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def h13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped "rich but inactive" report: customers with
    above-average positive balance (the scalar-subquery average broadcasts
    as a 1-row agg; the comparison stays in exact integers — b·n > Σb — so
    no float average can drift) and no RECENT orders (LEFT ANTI against the
    date-filtered order keys; Q22's literal no-orders-ever is vacuous here —
    every customer has orders). The date filter is pushed to the orders
    scan. Segment totals are exact fixed-point sums."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("b_e2"),
    )
    avgpos = c.filter(F.col("b_e2") > 0).agg(
        F.sum("b_e2").alias("s_e2"), F.count(F.lit(1)).alias("n")
    )
    o_keys = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-07-01").cast("date"))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        c.join(F.broadcast(avgpos))
        .filter(F.col("b_e2") * F.col("n") > F.col("s_e2"))
        .join(o_keys, "c_custkey", "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum("b_e2").cast("double") / 100.0).alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


@declared(
    "w08_range_frame",
    oracle="""
    SELECT event_id,
           CAST(SUM(v_e2) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) / 100.0 AS roll_1h
    FROM (SELECT event_id, user_id, ts,
                 CAST(ROUND(value * 100) AS BIGINT) AS v_e2 FROM events)
    ORDER BY event_id
    """,
)
def w08(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: per-user rolling 1-hour sum (RANGE frames
    bound by the ORDER-BY VALUE, not row position — peers at the same
    timestamp always share a frame, unlike ROWS). The frame key is exact
    epoch microseconds and the measure an exact fixed-point integer, so the
    result is independent of within-frame accumulation order. Window
    partitions by user — never global."""
    e = _t(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.unix_micros(F.col("ts")).alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("v_e2"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "event_id",
        (F.sum("v_e2").over(w).cast("double") / 100.0).alias("roll_1h"),
    ).orderBy("event_id")


@declared(
    "asof04_forward",
    oracle="""
    SELECT e.event_id, CAST(ROUND(p.pv * 100) AS BIGINT) AS next_purchase_e2
    FROM events e ASOF LEFT JOIN
         (SELECT user_id, ts AS pts, value AS pv FROM events
          WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id AND e.ts <= p.pts
    ORDER BY e.event_id
    """,
)
def asof04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (pandas ``merge_asof(direction='forward')``):
    each event takes its user's EARLIEST purchase at-or-after its
    timestamp — the time-mirror of asof01/02, implemented by negating the
    microsecond axis inside the same bucketed operator, so the plan (one
    keyed shuffle + tiny boundary table, no single-partition window) is
    identical to the backward join's."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select("event_id", "user_id", "ts")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("value").alias("pv")
    )
    out = joins.asof_join(
        e, p, "ts", "pts", ["pv"], partition_keys=["user_id"], how="left",
        direction="forward",
    )
    return out.select(
        "event_id",
        F.round(F.col("pv") * 100).cast("long").alias("next_purchase_e2"),
    ).orderBy("event_id")


@declared(
    "w10_session_window",
    oracle="""
    WITH s AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events),
    g AS (
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM s)
    SELECT user_id, MIN(ts) AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total_value_e2
    FROM g GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
)
def w10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization via Spark's NATIVE ``session_window`` groupBy
    (st02 is the streaming twin): events merge into a session while each
    gap is under 30 minutes — the engine fuses assignment and merge into
    one aggregate, no explicit lag/cumsum pass (the oracle spells out the
    classic two-window formulation; Spark's session ends at last event +
    gap, so a new session opens when the gap is >= the duration). One
    user-keyed shuffle; sessions per user are windowless merges. Values
    sum in exact integer cents."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_value_e2"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "total_value_e2",
        )
        .orderBy("user_id", "session_start")
    )


@declared(
    "asof05_nearest",
    oracle="""
    WITH r AS (SELECT o_orderdate + INTERVAL 29 YEAR + INTERVAL 5 DAY AS rts FROM orders),
    b AS (SELECT e.event_id, e.ts, r.rts AS prev
          FROM events e ASOF LEFT JOIN r ON e.ts >= r.rts),
    f AS (SELECT e.event_id, r.rts AS next
          FROM events e ASOF LEFT JOIN r ON e.ts <= r.rts)
    SELECT b.event_id,
           CASE WHEN b.prev IS NULL THEN f.next
                WHEN f.next IS NULL THEN b.prev
                WHEN epoch_us(b.ts) - epoch_us(b.prev)
                     <= epoch_us(f.next) - epoch_us(b.ts) THEN b.prev
                ELSE f.next END AS nearest_ts
    FROM b JOIN f USING (event_id) ORDER BY b.event_id
    """,
)
def asof05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of (pandas ``merge_asof(direction='nearest')``,
    the join-level twin of q11's coordinate sel_nearest): ONE bucketed
    pass computes BOTH directions (joins.asof_nearest_us — value == axis
    makes the backward carry a running MAX and the forward carry a running
    MIN over the same RANGE-framed window sort), then a map-side pick of
    the temporally closer side, ties to the earlier. The previous
    composition — a backward asof_join + a forward asof_join + an
    event-keyed merge join — paid two full union shuffles and a data-sized
    re-join for the identical result (A/B-measured 2.3 → 1.7 s at sf0.1,
    identical hashes; round-11 optimization). Exact integer-microsecond
    distance arithmetic; timestamps round-trip through unix_micros ↔
    timestamp_micros losslessly."""
    e = _t(spark, sf_dir, "events").select("event_id", "ts")
    r = table(spark, sf_dir, "orders").select(
        (F.col("o_orderdate") + F.expr("INTERVAL 29 YEARS") + F.expr("INTERVAL 5 DAYS")).alias("rts")
    )
    both = joins.asof_nearest_us(e, r, "ts", "rts")
    us_l = F.unix_micros(F.col("ts").cast("timestamp"))
    d_prev = us_l - F.col("__prev_us")
    d_next = F.col("__next_us") - us_l
    nearest_us = (
        F.when(F.col("__prev_us").isNull(), F.col("__next_us"))
        .when(F.col("__next_us").isNull(), F.col("__prev_us"))
        .when(d_prev <= d_next, F.col("__prev_us"))
        .otherwise(F.col("__next_us"))
    )
    return (
        both.select(
            "event_id", F.timestamp_micros(nearest_us).alias("nearest_ts")
        )
        .orderBy("event_id")
    )


@declared(
    "w11_running_distinct",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                          ORDER BY ts, event_id) = 1
                  THEN 1 ELSE 0 END AS first_seen
      FROM events)
    SELECT event_id,
           CAST(SUM(first_seen) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS distinct_types_so_far
    FROM flagged ORDER BY event_id
    """,
)
def w11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) per key — the window SQL refuses to allow:
    how many distinct event types has this user produced up to each
    event. Decomposed into two partitioned windows (the standard
    rewrite): flag each (user, type)'s FIRST occurrence, then a running
    sum of flags over the user's timeline. Both windows partition on the
    user (parallel across users); nothing resembling a per-row distinct
    state ever materializes."""
    e = _t(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        e.select(
            "event_id", "user_id", "ts",
            F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias("first_seen"),
        )
        .select(
            "event_id",
            F.sum("first_seen").over(w_run).alias("distinct_types_so_far"),
        )
        .orderBy("event_id")
    )


@declared(
    "w12_activity_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id,
             date_trunc('day', ts) AS day,
             date_diff('day', DATE '1970-01-01', CAST(date_trunc('day', ts) AS DATE)) AS dnum
      FROM events),
    grp AS (
      SELECT user_id, day,
             dnum - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY dnum) AS g
      FROM days)
    SELECT user_id, MIN(day) AS streak_start,
           CAST(COUNT(*) AS BIGINT) AS streak_days
    FROM grp GROUP BY user_id, g
    HAVING COUNT(*) >= 3
    ORDER BY user_id, streak_start
    """,
)
def w12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: contiguous daily-activity streaks (≥3 days) per
    user — retention analysis's 'current streak' metric, and the canonical
    hard window shape. The island id is day-number minus the user's day
    rank (constant within a run of consecutive days); one user-partitioned
    window over DISTINCT days (the distinct-first collapse bounds it at
    |users|·|days|, never event-sized), then a plain grouped count."""
    e = _t(spark, sf_dir, "events")
    days = (
        e.select(
            "user_id",
            F.date_trunc("day", "ts").alias("day"),
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias("dnum"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("dnum")
    grp = days.withColumn("g", F.col("dnum") - F.row_number().over(w))
    return (
        grp.groupBy("user_id", "g")
        .agg(F.min("day").alias("streak_start"), F.count(F.lit(1)).alias("streak_days"))
        .filter(F.col("streak_days") >= 3)
        .select("user_id", "streak_start", "streak_days")
        .orderBy("user_id", "streak_start")
    )


@declared(
    "w13_moving_median",
    oracle="""
    WITH v AS (
      SELECT user_id, ts, event_id,
             CAST(ROUND(value * 100) AS BIGINT) AS c
      FROM events),
    f AS (
      SELECT user_id, event_id,
             quantile_cont(c, 0.5) OVER w AS med_c,
             COUNT(*) OVER w AS n_in
      FROM v
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING))
    SELECT user_id, event_id, med_c / 100.0 AS med5
    FROM f WHERE n_in = 5 ORDER BY user_id, event_id
    """,
)
def w13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving MEDIAN (centered, width 5) per user — the robust smoother
    SQL window aggregates don't offer in Spark: rebuilt from built-ins by
    collecting the frame into an array (two lags + two leads), sorting it,
    and taking the middle element — codegen'd array ops, no UDF. Only
    full frames emit (edge rows drop on both engines). Odd width means
    the median IS an element: exact integer cents, one final division —
    bit-identical. Window partitions by user; frame width is constant,
    so the array never exceeds 5 elements regardless of data size."""
    e = _t(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    arr = F.array(
        F.lag(c, 2).over(w), F.lag(c, 1).over(w), c,
        F.lead(c, 1).over(w), F.lead(c, 2).over(w),
    )
    return (
        e.select("user_id", "event_id", arr.alias("fr"))
        .filter(F.size(F.filter("fr", lambda x: x.isNotNull())) == 5)
        .select(
            "user_id", "event_id",
            (F.element_at(F.array_sort("fr"), 3) / 100.0).alias("med5"),
        )
        .orderBy("user_id", "event_id")
    )


@declared(
    "w16_max_drawdown",
    oracle="""
    WITH d AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    c0 AS (
      SELECT event_type, day,
             CAST(SUM(x) OVER (PARTITION BY event_type ORDER BY day
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM d),
    c AS (
      SELECT event_type, day, cum,
             CAST(MAX(cum) OVER (PARTITION BY event_type ORDER BY day
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS peak
      FROM c0),
    z AS (
      SELECT event_type, day, peak, peak - cum AS dd,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY peak - cum DESC, day) AS rn
      FROM c)
    SELECT event_type, day AS trough_day,
           CAST(dd AS DOUBLE) / 100.0 AS max_drawdown,
           CAST(peak AS DOUBLE) / 100.0 AS peak_cum,
           CAST(dd AS DOUBLE) / peak AS dd_frac
    FROM z WHERE rn = 1 ORDER BY event_type
    """,
)
def w16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of cumulative daily revenue per event type — the
    running-peak-minus-current envelope risk metric (the window shape ts06's
    CUSUM doesn't cover: a max-OVER-a-sum, two nested running aggregates in
    one frame). Both the cumulative sum and its running peak ride exact
    integer cents through a single per-key ordered window, the argmax
    tie-breaks on the earliest day with integer compares, and doubles
    appear only in the three final output divisions. Per-key windows over
    per-day aggregates: state is one row per (type, day), never per event."""
    e = _t(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = d.select(
        "event_type", "day", F.sum("x").over(w).alias("cum")
    ).select("event_type", "day", "cum", F.max("cum").over(w).alias("peak"))
    dd = (F.col("peak") - F.col("cum")).alias("dd")
    z = c.select(
        "event_type", "day", "peak", dd,
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy(
                (F.col("peak") - F.col("cum")).desc(), F.col("day")
            )
        )
        .alias("rn"),
    )
    return (
        z.filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("trough_day"),
            (F.col("dd").cast("double") / 100.0).alias("max_drawdown"),
            (F.col("peak").cast("double") / 100.0).alias("peak_cum"),
            (F.col("dd").cast("double") / F.col("peak")).alias("dd_frac"),
        )
        .orderBy("event_type")
    )


@declared(
    "j06_interval_overlap",
    oracle="""
    WITH a AS (
      SELECT user_id,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day,
             CAST(MIN(epoch_us(ts)) AS BIGINT) AS lo,
             CAST(MAX(epoch_us(ts)) AS BIGINT) AS hi
      FROM events GROUP BY 1, 2),
    p AS (
      SELECT x.day, GREATEST(x.lo, y.lo) AS g, LEAST(x.hi, y.hi) AS l
      FROM a x JOIN a y
        ON x.day = y.day AND x.user_id < y.user_id
       AND x.lo < y.hi AND y.lo < x.hi)
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(CAST(SUM(l - g) AS DOUBLE) / 60000000.0, 2) AS total_overlap_min
    FROM p GROUP BY day ORDER BY day
    """,
)
def j06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval OVERLAP join with BOTH sides data-sized — the shape j05's
    broadcast NLJ can't scale to (genomics ranges, concurrent sessions,
    temporal conflicts). A pair overlaps iff the LATER-starting interval's
    start lies inside the other — so one side of the equi-join carries
    each interval ONCE at its start's hour cell and only the other side
    explodes into the ≤24 cells it covers; candidates meet on (day, cell)
    and every true pair materializes at exactly one orientation (x = the
    later-starting interval, user-id tie-break on equal starts). Versus
    the previous both-sides-explode + canonical-cell residual, candidate
    rows drop from Σ_cells n_cell² (≈24× the true pairs with day-long
    intervals — each pair met in every shared cell and all but one were
    filtered) to the true pairs + the rare start-covered-but-disjoint
    false candidates (measured 2.5× faster at sf0.1, identical hashes;
    round-11 optimization). The oracle brute-forces within each day to
    prove the decomposition is lossless. Overlap minutes sum as exact
    integer microseconds, one division at the end. Cell width should
    track interval scale — cells ≪ intervals inflate the exploded side,
    cells ≫ intervals degenerate to the per-bucket cross product. This
    data is pair-DENSE (day-long intervals → Θ(n²) true pairs), the join
    shape's worst case: when only the aggregate is needed,
    ev16_concurrency_sweep computes the identical result via a sweep line
    in O(n log n) while this query remains the form that materializes the
    pairs themselves."""
    e = _t(spark, sf_dir, "events")
    a = e.groupBy(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    ).agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    )
    hour_us = 3_600_000_000
    # x side: each interval ONCE, keyed by the hour cell of its start
    x = a.select(
        F.col("day"), F.floor(F.col("lo") / hour_us).alias("cell"),
        F.col("user_id").alias("u1"),
        F.col("lo").alias("lo1"), F.col("hi").alias("hi1"),
    )
    # y side: each interval replicated into every hour cell it covers
    y = a.select(
        F.col("day").alias("d2"),
        F.col("user_id").alias("u2"), F.col("lo").alias("lo2"),
        F.col("hi").alias("hi2"),
        F.explode(
            F.sequence(F.floor(F.col("lo") / hour_us), F.floor(F.col("hi") / hour_us))
        ).alias("c2"),
    )
    pairs = x.join(
        y,
        (F.col("day") == F.col("d2")) & (F.col("cell") == F.col("c2"))
        # orientation: x is the LATER-starting interval of the pair
        # (user-id tie-break on equal starts) — y provably covers x's
        # start cell whenever the pair overlaps, so each true pair
        # materializes exactly once; no post-join canonical-cell filter
        & (
            (F.col("lo1") > F.col("lo2"))
            | ((F.col("lo1") == F.col("lo2")) & (F.col("u1") < F.col("u2")))
        )
        & (F.col("lo1") < F.col("hi2")) & (F.col("lo2") < F.col("hi1")),
    ).select("day", "u1", "u2", "lo1", "hi1", "lo2", "hi2")
    return (
        pairs.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(
                F.sum(
                    F.least("hi1", "hi2") - F.greatest("lo1", "lo2")
                ).cast("double")
                / 60000000.0,
                2,
            ).alias("total_overlap_min"),
        )
        .orderBy("day")
    )


@declared(
    "w17_rolling_trend",
    oracle="""
    WITH d AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    w AS (
      SELECT event_type, day,
             CAST(COUNT(*) OVER fr AS BIGINT) AS n,
             CAST(SUM(day) OVER fr AS BIGINT) AS st,
             CAST(SUM(x) OVER fr AS BIGINT) AS sx,
             CAST(SUM(day * x) OVER fr AS BIGINT) AS stx,
             CAST(SUM(day * day) OVER fr AS BIGINT) AS stt
      FROM d
      WINDOW fr AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
    SELECT event_type, day,
           ROUND(CAST(n * stx - st * sx AS DOUBLE)
                 / (100.0 * (n * stt - st * st)), 4) AS slope
    FROM w WHERE n >= 3 ORDER BY event_type, day
    """,
)
def w17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day OLS trend slope of daily revenue — "how fast is this
    series moving right now", the windowed form of zarr63's bit-exact
    per-axis trend and the regression sibling of w14's bands. The frame
    carries FIVE exact integer sufficient statistics (n, Σt, Σx, Σtx, Σt²
    in cents·days), so the slope is one fixed-shape division per row —
    no float accumulation inside the window, engine-identical before the
    4-dp display rounding. Same per-key window over per-day aggregates as
    w14/w16: state is one frame of integers per (type, day)."""
    e = _t(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    fr = Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    w = d.select(
        "event_type", "day",
        F.count(F.lit(1)).over(fr).alias("n"),
        F.sum("day").over(fr).alias("st"),
        F.sum("x").over(fr).alias("sx"),
        F.sum(F.col("day") * F.col("x")).over(fr).alias("stx"),
        F.sum(F.col("day") * F.col("day")).over(fr).alias("stt"),
    )
    slope = (F.col("n") * F.col("stx") - F.col("st") * F.col("sx")).cast("double") / (
        100.0 * (F.col("n") * F.col("stt") - F.col("st") * F.col("st"))
    )
    return (
        w.filter(F.col("n") >= 3)
        .select("event_type", "day", F.round(slope, 4).alias("slope"))
        .orderBy("event_type", "day")
    )


_EWM_SPAN = 32  # trailing observations; 2^-32 is far below the 4dp contract


@declared(
    "w18_ewma",
    oracle=f"""
    WITH d AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    r AS (
      SELECT event_type, day, x,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
      FROM d),
    pairs AS (
      SELECT t.event_type, t.day, t.rn,
             s.x AS xs,
             1.0 / CAST(1 << (t.rn - s.rn) AS DOUBLE) AS w
      FROM r t JOIN r s
        ON s.event_type = t.event_type
       AND s.rn <= t.rn AND s.rn > t.rn - {_EWM_SPAN})
    SELECT event_type, day,
           ROUND(SUM(xs * w) / SUM(w) / 100.0, 4) AS ewma
    FROM pairs GROUP BY event_type, day ORDER BY event_type, day
    """,
)
def w18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of daily revenue per event
    type (pandas ``ewm(halflife=1 step, adjust=True)`` semantics over the
    per-day series) — THE smoothing every metrics dashboard ships next to
    the raw line, and the one rolling shape w01–w17 lack. ts02_ewma
    (analytics.py) smooths the same metric but decays by CALENDAR-DAY lag
    with dyadic half-life; this one decays by OBSERVATION INDEX (rn − rn′,
    span-{_EWM_SPAN} adjust=True semantics) — the two differ whenever the
    day grid has gaps, and both shapes ship deliberately. The decay
    weight is 2^-k computed as an exact integer SHIFT (1.0 / (1 << k)),
    never pow() — bit-identical on any engine — and the memory is
    truncated at {_EWM_SPAN} trailing observations, where the dropped
    tail (≤ 2^-32 relative) sits far below the 4dp output contract.

    Scale shape: w16's prep (events collapse to exact integer cents per
    (type, day) in one partial agg); the weighted sum runs on the
    BOUNDED per-day frame as a banded self-join (≤ {_EWM_SPAN} surviving
    partners per row, equi-keyed on event_type; the hash join still
    evaluates |days|² candidate pairs per type before the band filter —
    day-grid-sized, zero in corpus size; a multi-year grid would swap in
    the asof-style bucketed range decomposition) — state is rows-per-day,
    never per-event. Daily x is exact;
    only the final weighted mean carries the sum-order round."""
    e = _t(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    rn = F.row_number().over(Window.partitionBy("event_type").orderBy("day"))
    r = d.select("event_type", "day", "x", rn.alias("rn"))
    t = r.select("event_type", "day", F.col("rn").alias("rt"))
    s = r.select(
        F.col("event_type").alias("event_type"),
        F.col("x").alias("xs"),
        F.col("rn").alias("rs"),
    )
    pairs = t.join(s, "event_type").filter(
        (F.col("rs") <= F.col("rt"))
        & (F.col("rs") > F.col("rt") - _EWM_SPAN)
    )
    w = F.lit(1.0) / F.expr(
        "cast(shiftleft(1L, cast(rt - rs as int)) as double)"
    )
    return (
        pairs.groupBy("event_type", "day")
        .agg(
            F.round(
                F.sum(F.col("xs") * w) / F.sum(w) / 100.0, 4
            ).alias("ewma")
        )
        .orderBy("event_type", "day")
    )
