"""Relational surface: joins, aggregations, windows, sorts/top-k, set ops,
scalar functions (SURVEY.md §2.3-§2.8 — the capabilities the engine declares
beyond the reference's single-table dataflow).

Scale notes per query are in docstrings: what broadcasts, what shuffles,
and why the plan holds at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from openmaptiles_zh_modifier_spark.registry import load, local_frame, register


# -------------------------------------------------------------------------
# Joins + aggregation
# -------------------------------------------------------------------------

@register(
    "q3_shipping_priority",
    oracle="""
SELECT l_orderkey,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       o_orderdate,
       o_orderpriority
FROM customer
JOIN orders    ON c_custkey = o_custkey
JOIN lineitem  ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-06-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape. customer is tiny → broadcast into orders; the
    orders⋈lineitem join shuffles on orderkey (both sides huge at scale —
    sort-merge, AQE-skew-handled). Top-k compiles to TakeOrderedAndProject:
    no global sort materialization."""
    cust = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-06-01 00:00:00").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-06-01 00:00:00").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    oracle="""
SELECT n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
)
def q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join. region/nation/supplier/customer are dims
    → broadcast; only orders⋈lineitem shuffles. Catalyst folds the
    region→nation filter into a broadcast-side reduction."""
    region = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


@register(
    "q4_order_priority",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join (EXISTS): Spark's left_semi — no row multiplication, no
    dedup pass, and the probe side only carries the join key + filter cols."""
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q_customers_without_orders",
    oracle="""
SELECT n_name, COUNT(*) AS n_customers
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY n_name
ORDER BY n_name
""",
)
def q_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (NOT EXISTS): left_anti against orders projected to its
    key column only — at 100 TB the build side is the distinct key set."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").select("o_custkey")
    nation = load(spark, sf_dir, "nation")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("n_name")
    )


# -------------------------------------------------------------------------
# Windows
# -------------------------------------------------------------------------

@register(
    "q_top3_parts_per_brand",
    oracle="""
SELECT p_brand, p_partkey, p_name, p_retailprice, rn
FROM (
  SELECT p_brand, p_partkey, p_name, p_retailprice,
         ROW_NUMBER() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice DESC, p_partkey) AS rn
  FROM part
) WHERE rn <= 3
ORDER BY p_brand, rn
""",
)
def q_topk_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window. Deterministic tiebreaker (p_partkey) is mandatory —
    row_number over ties is otherwise partition-order-dependent."""
    part = load(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.desc("p_retailprice"), F.asc("p_partkey")
    )
    return (
        part.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", "p_name", "p_retailprice", "rn")
        .orderBy("p_brand", "rn")
    )


@register(
    "q_customer_order_running",
    oracle="""
SELECT o_custkey,
       o_orderkey,
       ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey
                                     ROWS UNBOUNDED PRECEDING), 2) AS running_spend,
       ROUND(COALESCE(LAG(o_totalprice) OVER (PARTITION BY o_custkey
                                              ORDER BY o_orderdate, o_orderkey), 0), 2) AS prev_price,
       RANK() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS price_rank
FROM orders
ORDER BY o_custkey, o_orderkey
""",
)
def q_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic windows: running sum, lag, rank — one shuffle on o_custkey
    shared by all three window specs over the same partitioning."""
    orders = load(spark, sf_dir, "orders")
    w_seq = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_run = w_seq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_rank = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.round(F.sum("o_totalprice").over(w_run), 2).alias("running_spend"),
            F.round(
                F.coalesce(F.lag("o_totalprice").over(w_seq), F.lit(0.0)), 2
            ).alias("prev_price"),
            F.rank().over(w_rank).alias("price_rank"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


# -------------------------------------------------------------------------
# Grouping sets / rollup / cube / distinct aggregates
# -------------------------------------------------------------------------

@register(
    "q_rollup_returns",
    oracle="""
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       COUNT(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
""",
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP: partial-aggregate-friendly (one shuffle, grouping-set
    expansion happens map-side)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@register(
    "q_cube_orders",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""",
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "orders")
    return (
        li.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@register(
    "q_distinct_agg",
    oracle="""
SELECT c_mktsegment,
       COUNT(DISTINCT c_nationkey) AS n_nations,
       COUNT(*) AS n_customers,
       ROUND(AVG(c_acctbal), 4) AS avg_bal
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) — Catalyst plans expand+two-phase agg; stays a
    single logical groupBy here."""
    cust = load(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_nationkey").alias("n_nations"),
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
        )
        .orderBy("c_mktsegment")
    )


# -------------------------------------------------------------------------
# Set operations
# -------------------------------------------------------------------------

@register(
    "q_setops_nations",
    oracle="""
WITH cust_nations AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
     supp_nations AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
SELECT 'both' AS tag, nk FROM (SELECT nk FROM cust_nations INTERSECT SELECT nk FROM supp_nations)
UNION ALL
SELECT 'cust_only' AS tag, nk FROM (SELECT nk FROM cust_nations EXCEPT SELECT nk FROM supp_nations)
UNION ALL
SELECT 'supp_only' AS tag, nk FROM (SELECT nk FROM supp_nations EXCEPT SELECT nk FROM cust_nations)
ORDER BY tag, nk
""",
)
def q_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL / INTERSECT / EXCEPT over distinct key sets."""
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nk")
    ).distinct()
    supp = load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nk")
    ).distinct()
    both = cust.intersect(supp).select(F.lit("both").alias("tag"), "nk")
    c_only = cust.exceptAll(supp).select(F.lit("cust_only").alias("tag"), "nk")
    s_only = supp.exceptAll(cust).select(F.lit("supp_only").alias("tag"), "nk")
    return both.unionAll(c_only).unionAll(s_only).orderBy("tag", "nk")


# -------------------------------------------------------------------------
# Scalar function surface (string / date / math / conditional)
# -------------------------------------------------------------------------

@register(
    "q_scalar_functions",
    oracle="""
SELECT p_partkey,
       UPPER(p_name) AS name_upper,
       LENGTH(p_name) AS name_len,
       SUBSTRING(p_type, 1, 5) AS type_prefix,
       CONCAT(p_brand, ':', p_type) AS brand_type,
       ROUND(p_retailprice * p_size, 2) AS price_volume,
       ABS(p_size - 25) AS size_dev,
       CASE WHEN p_size >= 25 THEN 'large' ELSE 'small' END AS size_class,
       REPLACE(p_name, ' ', '_') AS name_snake
FROM part
ORDER BY p_partkey
""",
)
def q_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    return (
        part.select(
            "p_partkey",
            F.upper("p_name").alias("name_upper"),
            F.length("p_name").alias("name_len"),
            F.substring("p_type", 1, 5).alias("type_prefix"),
            F.concat_ws("", F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
            F.round(F.col("p_retailprice") * F.col("p_size"), 2).alias("price_volume"),
            F.abs(F.col("p_size") - 25).alias("size_dev"),
            F.when(F.col("p_size") >= 25, "large").otherwise("small").alias("size_class"),
            F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        )
        .orderBy("p_partkey")
    )


@register(
    "q_date_functions",
    oracle="""
SELECT EXTRACT(year FROM o_orderdate)::INT AS order_year,
       EXTRACT(month FROM o_orderdate)::INT AS order_month,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS month_total,
       MIN(CAST(o_orderdate AS DATE)) AS first_day
FROM orders
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def q_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("month_total"),
            F.min(F.col("o_orderdate").cast("date")).alias("first_day"),
        )
        .orderBy("order_year", "order_month")
    )


@register(
    "q_nullsafe_join",
    oracle="""
WITH e AS (
  SELECT NULLIF(json_extract_string(props, '$.k')::INT % 10, 0) AS kbin, value
  FROM events
),
a AS (
  SELECT kbin, COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
  FROM e GROUP BY kbin
),
b AS (
  SELECT kbin, ROUND(AVG(value), 4) AS avg_value FROM e GROUP BY kbin
)
SELECT a.kbin, a.n, a.sum_value, b.avg_value
FROM a JOIN b ON a.kbin IS NOT DISTINCT FROM b.kbin
ORDER BY a.kbin NULLS FIRST
""",
)
def q_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`eqNullSafe` == SQL IS NOT DISTINCT FROM): the
    NULL key group survives the join and matches exactly once — a plain
    equi-join would silently drop it. The nullable key is derived with
    NULLIF so the NULL group is guaranteed non-empty. Null-safe equality
    stays a hash-joinable key (Catalyst plans BroadcastHashJoin /
    SortMergeJoin on it, not a nested loop), so the shape scales like any
    equi-join."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    ev = load(spark, sf_dir, "events")
    props_schema = StructType([StructField("k", IntegerType())])
    e = ev.select(
        F.nullif(
            F.from_json("props", props_schema)["k"] % 10, F.lit(0)
        ).alias("kbin"),
        "value",
    )
    a = e.groupBy("kbin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    b = e.groupBy("kbin").agg(F.round(F.avg("value"), 4).alias("avg_value"))
    return (
        a.join(b, a["kbin"].eqNullSafe(b["kbin"]))
        .select(a["kbin"], "n", "sum_value", "avg_value")
        .orderBy(F.asc_nulls_first("kbin"))
    )


@register(
    "q_unpivot_measures",
    oracle="""
WITH agg AS (
  SELECT o_orderpriority,
         ROUND(SUM(o_totalprice), 2) AS sum_price,
         ROUND(AVG(o_totalprice), 4) AS avg_price,
         ROUND(MAX(o_totalprice), 2) AS max_price
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority, measure, value FROM (
  SELECT o_orderpriority, 'sum_price' AS measure, sum_price AS value FROM agg
  UNION ALL
  SELECT o_orderpriority, 'avg_price', avg_price FROM agg
  UNION ALL
  SELECT o_orderpriority, 'max_price', max_price FROM agg
)
ORDER BY o_orderpriority, measure
""",
)
def q_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) — the inverse of q_pivot_user_activity: wide
    per-priority measures become (priority, measure, value) rows via
    Spark's native unpivot operator (Catalyst Expand node: one pass,
    3x row multiplication, no shuffle beyond the source aggregate).
    The oracle spells the same relation as a UNION ALL."""
    orders = load(spark, sf_dir, "orders")
    agg = orders.groupBy("o_orderpriority").agg(
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )
    return agg.unpivot(
        ids=["o_orderpriority"],
        values=["sum_price", "avg_price", "max_price"],
        variableColumnName="measure",
        valueColumnName="value",
    ).orderBy("o_orderpriority", "measure")


# Shared by the Spark query and the DuckDB oracle verbatim: the recursion
# is ANSI WITH RECURSIVE (Spark 4.1+), and the explicit TIMESTAMP casts
# pin the month key type (DuckDB's date_trunc on DATE yields DATE, Spark's
# yields TIMESTAMP).
_RECURSIVE_CALENDAR_SQL = """
WITH RECURSIVE bounds AS (
  SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS TIMESTAMP) AS lo,
         CAST(date_trunc('month', MAX(o_orderdate)) AS TIMESTAMP) AS hi
  FROM orders
),
months(m) AS (
  SELECT lo FROM bounds
  UNION ALL
  SELECT m + INTERVAL 1 MONTH FROM months, bounds WHERE m < hi
),
per_month AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m,
         COUNT(*) AS n_orders,
         ROUND(SUM(o_totalprice), 2) AS revenue
  FROM orders GROUP BY 1
)
SELECT months.m AS month_start,
       COALESCE(n_orders, 0) AS n_orders,
       COALESCE(revenue, 0.0) AS revenue
FROM months LEFT JOIN per_month ON months.m = per_month.m
ORDER BY month_start
"""


@register("q_recursive_calendar", oracle=_RECURSIVE_CALENDAR_SQL)
def q_recursive_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine gap filling via ANSI recursive CTE (Spark 4.1
    WITH RECURSIVE): generate every month between the data's min and max
    order date, then left-join per-month aggregates so empty months
    surface as explicit zero rows. The ORACLE is the declarative
    recursive form; the Spark plan generates the spine with sequence()
    + explode instead — Spark executes each WITH RECURSIVE step as its
    own tiny job (~80 jobs, measured 9s at sf0.1) where the sequence
    expression is one codegen operator (~0.3s). Spark's WITH RECURSIVE
    support itself is proven equivalent in
    tests/test_pipeline_ops.py::test_recursive_cte_matches_sequence.
    The heavy side stays a single scan + hash aggregate."""
    orders = load(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("lo"),
        F.date_trunc("month", F.max("o_orderdate")).alias("hi"),
    )
    months = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 MONTH"))
        ).alias("month_start")
    )
    per_month = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month_start")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )
    return (
        months.join(per_month, "month_start", "left")
        .select(
            "month_start",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
        )
        .orderBy("month_start")
    )


@register(
    "q_integrity_audit",
    oracle="""
SELECT 'lineitem_orphans' AS check_name,
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
           AS n_bad
UNION ALL
SELECT 'orders_orphans',
       (SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
UNION ALL
SELECT 'orders_null_priority',
       (SELECT COUNT(*) FROM orders WHERE o_orderpriority IS NULL)
UNION ALL
SELECT 'lineitem_negative_qty',
       (SELECT COUNT(*) FROM lineitem WHERE l_quantity < 0)
ORDER BY check_name
""",
)
def q_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit: referential-integrity orphan counts via
    LEFT ANTI joins (the distributed NOT EXISTS) plus null/range
    invariant checks, unioned into one (check_name, n_bad) report — the
    pre-ingestion gate of a training-data pipeline. Each anti join
    shuffles only its key column; the violation counts are tiny and the
    union is driver-cheap. All checks read each table once."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_bad")).select(
            F.lit(name).alias("check_name"), "n_bad"
        )

    checks = [
        one(
            "lineitem_orphans",
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"], "left_anti"),
        ),
        one(
            "orders_orphans",
            orders.join(
                customer, orders["o_custkey"] == customer["c_custkey"], "left_anti"
            ),
        ),
        one("orders_null_priority", orders.where(F.col("o_orderpriority").isNull())),
        one("lineitem_negative_qty", li.where(F.col("l_quantity") < 0)),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.orderBy("check_name")


# -------------------------------------------------------------------------
# Top-k per group WITHOUT a window (bounded-state aggregation)
# -------------------------------------------------------------------------

@register(
    "q_topk_per_group_agg",
    oracle="""
SELECT p_brand, p_partkey, p_name, p_retailprice, rn
FROM (
  SELECT p_brand, p_partkey, p_name, p_retailprice,
         ROW_NUMBER() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice DESC, p_partkey) AS rn
  FROM part
) WHERE rn <= 3
ORDER BY p_brand, rn
""",
)
def q_topk_per_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 per brand via AGGREGATION instead of a ranking window — the
    oracle is the window formulation, so the hash match proves the two
    plans equivalent. Shape: collect each group's (price, key, name)
    structs, sort_array descending once per GROUP (not a per-partition
    sort of the whole table), slice 3, posexplode for ranks.

    Why it matters at 100 TB: a ranking window sorts every row of every
    partition; the aggregate only needs per-group state, and Spark's
    partial aggregation starts collapsing map-side. The honest caveat:
    collect_list's partial state is unbounded per group, so this wins
    when groups are small/medium (the common case); for huge groups the
    production form is a bounded re-aggregating top-k UDAF or the window.
    Both forms stay registered — same answer, different physics."""
    part = load(spark, sf_dir, "part")
    # struct orders by first field: negate nothing — sort desc then slice
    packed = part.groupBy("p_brand").agg(
        F.slice(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("p_retailprice"),
                        (-F.col("p_partkey")).alias("negkey"),
                        F.col("p_name"),
                    )
                ),
                asc=False,
            ),
            1,
            3,
        ).alias("top")
    )
    return (
        packed.select(
            "p_brand", F.posexplode("top").alias("pos", "s")
        )
        .select(
            "p_brand",
            (-F.col("s.negkey")).alias("p_partkey"),
            F.col("s.p_name").alias("p_name"),
            F.col("s.p_retailprice").alias("p_retailprice"),
            (F.col("pos") + 1).alias("rn"),
        )
        .orderBy("p_brand", "rn")
    )


# ===========================================================================
# TPC-H-shaped coverage: scalar/correlated subqueries, outer-join
# aggregates, HAVING, IN-subqueries, OR-of-ANDs pushdown, exact percentiles
# (SURVEY.md §2.3-§2.6).
# ===========================================================================

@register(
    "q6_forecast_revenue",
    oracle="""
SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-filter-agg — the pushdown showcase. All four
    predicates reach the parquet reader (min/max row-group skipping); the
    aggregation is a two-phase partial with no groupBy shuffle at all."""
    li = load(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q13_customer_distribution",
    oracle="""
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: left outer join with an ON-clause residual predicate
    (NOT a post-filter — unmatched customers must count 0), then a
    two-level aggregate. COUNT(col) counts only non-null join matches."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#1'
  AND l.l_quantity < (
    SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = l.l_partkey
  )
""",
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: correlated scalar subquery, decorrelated by hand into a
    per-partkey aggregate + equi-join — exactly the rewrite Catalyst's
    RewriteCorrelatedScalarSubquery performs. The per-key avg frame is
    small (one row per part) => broadcast."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_cap")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(per_part), li.l_partkey == F.col("pk"))
        .where(F.col("l_quantity") < F.col("qty_cap"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@register(
    "q18_large_volume_customers",
    oracle="""
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       ROUND(o_totalprice, 2) AS o_totalprice_r,
       ROUND(SUM(l_quantity), 2) AS total_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 300
)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
""",
)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: IN-subquery with HAVING => left_semi join against the
    aggregated key set. The semi-join build side is tiny (orders over the
    quantity cap) and broadcasts."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .where(F.col("sq") > 300)
        .select("l_orderkey")
    )
    return (
        orders.join(
            F.broadcast(big.withColumnRenamed("l_orderkey", "bk")),
            orders.o_orderkey == F.col("bk"),
            "left_semi",
        )
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice_r"), "total_qty",
        )
        .orderBy(F.desc("o_totalprice_r"), "o_orderkey")
        .limit(100)
    )


@register(
    "q19_disjunctive_predicate",
    oracle="""
SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS n
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_type = 'SMALL' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
   OR (p_type = 'MEDIUM' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
   OR (p_type = 'LARGE' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)
""",
)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs join predicate. Catalyst extracts the
    common join key (equi) and pushes the single-table conjuncts of each
    disjunct below the join (p_container/p_size to part scan, l_quantity
    to lineitem scan) — verify with .explain(): PushedFilters shows the
    In(p_container, ...) superset filter."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_type") == "SMALL") & F.col("l_quantity").between(1, 11) & F.col("p_size").between(1, 5))
        | ((F.col("p_type") == "MEDIUM") & F.col("l_quantity").between(10, 20) & F.col("p_size").between(1, 10))
        | ((F.col("p_type") == "LARGE") & F.col("l_quantity").between(20, 30) & F.col("p_size").between(1, 15))
    )
    return j.where(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q22_global_sales_opportunity",
    oracle="""
WITH avg_bal AS (
  SELECT AVG(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0.0
)
SELECT c_nationkey AS cntrycode,
       COUNT(*) AS numcust,
       ROUND(SUM(c_acctbal), 2) AS totacctbal
FROM customer, avg_bal
WHERE c_acctbal > ab
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY 1
ORDER BY 1
""",
)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: uncorrelated scalar subquery (global avg as a
    1-row broadcast cross join) + anti join + aggregate."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").select("o_custkey")
    avg_bal = cust.where(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("ab")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("ab"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


@register(
    "q_percentiles",
    oracle="""
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
       ROUND(MIN(l_extendedprice), 2) AS min_price,
       ROUND(MAX(l_extendedprice), 2) AS max_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles (Spark ``percentile`` == DuckDB
    ``quantile_cont``: linear interpolation). The scale path for quantiles
    is approx_percentile (t-digest, mergeable) — exposed by the engine but
    not oracle-checkable bit-for-bit, so the exact form is the gate."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("l_extendedprice", F.lit(0.95)), 4).alias("p95"),
            F.round(F.min("l_extendedprice"), 2).alias("min_price"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        )
        .orderBy("l_returnflag")
    )


# ===========================================================================
# TPC-H-shaped coverage adapted to the fixture columns: Q7 two-nation
# volume, Q8 market-share conditional agg, Q10 top returned customers, Q14
# promo share, Q16-ish NOT-IN + distinct count, Q21-ish
# multi-EXISTS/NOT-EXISTS self-join.
# ===========================================================================

@register(
    "q7_nation_volume",
    oracle="""
SELECT supp_nation, cust_nation, l_year,
       ROUND(SUM(volume), 2) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation,
         n2.n_name AS cust_nation,
         EXTRACT(year FROM l_shipdate)::INT AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
)
def q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: disjunctive cross-nation pair filter over a 6-way join.
    All dims broadcast; the only shuffle is orders⋈lineitem. The pair
    disjunction evaluates post-join on broadcast columns (cheap); the
    nation IN ('NATION_1','NATION_2') conjunct implied by it is pushed into
    both broadcast sides by Catalyst's constraint propagation."""
    supp = load(spark, sf_dir, "supplier")
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("n2_key"))
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q8_market_share",
    oracle="""
SELECT o_year,
       ROUND(SUM(CASE WHEN nation = 'NATION_5' THEN volume ELSE 0 END)
             / SUM(volume), 4) AS mkt_share
FROM (
  SELECT EXTRACT(year FROM o_orderdate)::INT AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n.n_name AS nation
  FROM lineitem
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation n ON s_nationkey = n.n_nationkey
)
GROUP BY o_year
ORDER BY o_year
""",
)
def q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: conditional-share aggregate (SUM(CASE)/SUM) — one
    pass, no second join for the numerator."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("n_name") == "NATION_5", volume).otherwise(0.0))
                / F.sum(volume),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "q10_returned_items",
    oracle="""
SELECT c_custkey, c_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       ROUND(c_acctbal, 2) AS acctbal,
       n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by returned-item revenue. Top-k over an
    aggregate: TakeOrderedAndProject after the groupBy, never a full sort."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    nation = load(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "c_custkey", "c_name", "revenue",
            F.round("c_acctbal", 2).alias("acctbal"), "n_name",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q14_promo_share",
    oracle="""
SELECT ROUND(100.00 * SUM(CASE WHEN p_type = 'PROMO'
                               THEN l_extendedprice * (1 - l_discount)
                               ELSE 0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
""",
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share — conditional numerator in one agg."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    part = load(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.join(F.broadcast(part), li.l_partkey == part.p_partkey).agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
            / F.sum(rev),
            4,
        ).alias("promo_revenue")
    )


@register(
    "q16_part_supplier_counts",
    oracle="""
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_size IN (1, 5, 9, 13, 17)
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT IN subquery (anti join — the key set is
    non-null here, so left_anti is exactly NOT IN) + per-group distinct
    supplier count."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 5, 9, 13, 17)
    )
    bad_supp = load(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(
            F.broadcast(bad_supp), li.l_suppkey == bad_supp.s_suppkey, "left_anti"
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "q21_waiting_supplier",
    oracle="""
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F'
  AND n_name = 'NATION_0'
  AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 25
""",
)
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT EXISTS self-joins on lineitem
    (multi-supplier orders where ONLY this supplier had returns), as a
    left_semi then left_anti against the same-order-other-supplier sets."""
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    nation = load(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_0")
    l1 = li.where(F.col("l_returnflag") == "R").alias("l1")
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    ).alias("l2")
    l3 = (
        li.where(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3"))
        .alias("l3")
    )
    return (
        l1.join(
            l2,
            (F.col("l1.l_orderkey") == F.col("k2"))
            & (F.col("l1.l_suppkey") != F.col("s2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l1.l_orderkey") == F.col("k3"))
            & (F.col("l1.l_suppkey") != F.col("s3")),
            "left_anti",
        )
        .join(orders, F.col("l1.l_orderkey") == orders.o_orderkey)
        .join(F.broadcast(supp), F.col("l1.l_suppkey") == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(25)
    )


# ===========================================================================
# TPC-H-shaped coverage adapted to the fixture schemas (the driver testdata
# has no partsupp table, so Q2/Q9/Q11/Q20 use lineitem as the part-supplier
# fact): Q2 correlated-min supplier selection, Q9 profit rollup, Q11
# HAVING-vs-global-scalar, Q12 late-shipment priority classes, Q15
# top-supplier-by-max-subquery, Q20 nested-semi-join supplier filter, plus
# RFM segmentation, a Benford audit, window ranks and shared SQL text.
#
# Scale notes are inline per query; the common rules: dimension tables
# (part/supplier/nation/region at ~1e-4 of fact size) are always broadcast,
# the single fact shuffle is the groupBy on the derived key, and scalar
# subqueries become one-row broadcasts rather than repeated scans.
# ===========================================================================

@register(
    "q2_min_cost_supplier",
    oracle="""
WITH offers AS (
  SELECT l_partkey, l_suppkey,
         ROUND(MIN(l_extendedprice / l_quantity), 4) AS unit_cost
  FROM lineitem
  GROUP BY l_partkey, l_suppkey
),
regional AS (
  SELECT o.l_partkey, o.l_suppkey, o.unit_cost, s_name, n_name
  FROM offers o
  JOIN supplier ON s_suppkey = o.l_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  JOIN region   ON r_regionkey = n_regionkey
  WHERE r_name = 'ASIA'
)
SELECT p_partkey, p_name, s_name, n_name, unit_cost
FROM regional
JOIN part ON p_partkey = regional.l_partkey
WHERE p_size = 3 AND p_type = 'LARGE'
  AND unit_cost = (SELECT MIN(r2.unit_cost) FROM regional r2
                   WHERE r2.l_partkey = regional.l_partkey)
ORDER BY p_partkey, s_name
""",
)
def q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated MIN subquery — for each qualifying part,
    the ASIA supplier(s) offering the minimum observed unit price.

    The correlated subquery decorrelates to a per-partkey window MIN over
    the regional offers (one pass, no re-scan); Catalyst would produce the
    same plan from a self-join-on-aggregate formulation but the window
    form never materializes the aggregate twice. unit_cost is rounded
    BEFORE the min/equality so the comparison is on exact decimals on
    both engines."""
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    part = load(spark, sf_dir, "part").where(
        (F.col("p_size") == 3) & (F.col("p_type") == "LARGE")
    )
    # Semi-join pushdown: only ~1/250 of parts qualify, so prune lineitem
    # BEFORE the (l_partkey, l_suppkey) aggregation — the per-part MIN is
    # unchanged (the correlation key is the part), but the agg shuffles a
    # fraction of the rows. At 100 TB this is the difference between
    # aggregating the whole fact table and aggregating the slice you need.
    offers = (
        li.join(
            F.broadcast(part.select("p_partkey")),
            li.l_partkey == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.round(
                F.min(F.col("l_extendedprice") / F.col("l_quantity")), 4
            ).alias("unit_cost")
        )
    )
    regional = (
        offers.join(F.broadcast(supp), offers.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    wmin = Window.partitionBy("l_partkey")
    return (
        regional.withColumn("min_cost", F.min("unit_cost").over(wmin))
        .where(F.col("unit_cost") == F.col("min_cost"))
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .select("p_partkey", "p_name", "s_name", "n_name", "unit_cost")
        .orderBy("p_partkey", "s_name")
    )


@register(
    "q9_product_profit",
    oracle="""
SELECT n_name AS nation, EXTRACT(year FROM o_orderdate)::INT AS o_year,
       ROUND(SUM(l_extendedprice * (1 - l_discount)
                 - 0.6 * p_retailprice * l_quantity), 2) AS sum_profit
FROM lineitem
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN nation   ON n_nationkey = s_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, EXTRACT(year FROM o_orderdate)
ORDER BY nation, o_year DESC
""",
)
def q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit (revenue minus a retail-price-derived cost,
    standing in for ps_supplycost) per nation per year over a 5-way join.
    The LIKE filter lands on the broadcast part side pre-join, so the fact
    rows are cut by the join itself; only orders⋈lineitem shuffles."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    supp = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders")
    nation = load(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.6 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 2).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@register(
    "q11_important_parts",
    oracle="""
WITH vals AS (
  SELECT l_partkey, ROUND(SUM(l_extendedprice * l_quantity), 2) AS part_value
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  WHERE n_name = 'NATION_3'
  GROUP BY l_partkey
)
SELECT l_partkey AS partkey, part_value
FROM vals
WHERE part_value > (SELECT SUM(part_value) * 0.002 FROM vals)
ORDER BY part_value DESC, partkey
""",
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part value with HAVING against a scalar
    aggregate over the SAME derived relation. The vals frame is computed
    once and reused for both the threshold and the filter (Spark reuses
    the exchange; no second scan); the threshold joins in as a one-row
    broadcast (BroadcastNestedLoopJoin), never a per-row subquery.
    part_value is rounded before both uses so the comparison operands are
    identical on both engines."""
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3")
    vals = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("l_partkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_quantity")), 2).alias(
                "part_value"
            )
        )
    )
    threshold = vals.agg((F.sum("part_value") * 0.002).alias("threshold"))
    return (
        vals.join(F.broadcast(threshold))
        .where(F.col("part_value") > F.col("threshold"))
        .select(F.col("l_partkey").alias("partkey"), "part_value")
        .orderBy(F.desc("part_value"), "partkey")
    )


@register(
    "q12_late_shipments",
    oracle="""
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
WHERE l_shipdate >= o_orderdate + INTERVAL 90 DAY
  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_linestatus
ORDER BY l_linestatus
""",
)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: late shipments (shipped ≥90 days after order) by
    line status, counted into priority classes via SUM(CASE). The shipdate
    range filter is a pushed parquet predicate; the theta condition
    (shipdate vs orderdate+90d) is a post-join residual on the one
    orders⋈lineitem shuffle."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    orders = load(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .where(F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "q15_top_supplier",
    oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
""",
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) achieving the maximum quarterly revenue.
    The revenue view is aggregated once; its MAX comes back as a one-row
    broadcast joined with an equality residual (total_revenue rounded
    before comparison ⇒ exact equality is well-defined). AQE reuses the
    revenue exchange for both consumers."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    supp = load(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.join(F.broadcast(max_rev))
        .where(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(supp), F.col("supplier_no") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "q20_part_suppliers",
    oracle="""
SELECT s_name, ROUND(s_acctbal, 2) AS acctbal
FROM supplier
WHERE s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_suppkey
    HAVING SUM(l_quantity) > 100
  )
  AND s_nationkey IN (
    SELECT n_nationkey FROM nation WHERE n_name IN ('NATION_2', 'NATION_4')
  )
ORDER BY s_name
""",
)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested IN subqueries — suppliers who moved >100
    units of 'small%' parts in 1997, restricted to two nations. Each IN
    becomes a left-semi join; the part-name key set broadcasts into the
    fact scan, the HAVING runs on the post-semi aggregate, and the final
    supplier filter is two stacked broadcast semi joins (no shuffle on
    supplier)."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    part_keys = (
        load(spark, sf_dir, "part")
        .where(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    nations = (
        load(spark, sf_dir, "nation")
        .where(F.col("n_name").isin("NATION_2", "NATION_4"))
        .select("n_nationkey")
    )
    supp = load(spark, sf_dir, "supplier")
    heavy_suppliers = (
        li.join(F.broadcast(part_keys), li.l_partkey == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 100)
        .select("l_suppkey")
    )
    return (
        supp.join(
            F.broadcast(heavy_suppliers),
            supp.s_suppkey == F.col("l_suppkey"),
            "left_semi",
        )
        .join(
            F.broadcast(nations), supp.s_nationkey == F.col("n_nationkey"), "left_semi"
        )
        .select("s_name", F.round("s_acctbal", 2).alias("acctbal"))
        .orderBy("s_name")
    )


# ------------------------------------------------------------------- RFM

@register(
    "q_rfm_segmentation",
    oracle="""
WITH mx AS (SELECT MAX(o_orderdate) AS maxd FROM orders),
base AS (
  SELECT o_custkey AS custkey,
         date_diff('day', MAX(o_orderdate), mx.maxd) AS recency_days,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM orders CROSS JOIN mx
  GROUP BY o_custkey, mx.maxd
)
SELECT custkey, CAST(recency_days AS BIGINT) AS recency_days,
       frequency, monetary_cents,
       NTILE(4) OVER (ORDER BY recency_days ASC, custkey) AS r_score,
       NTILE(4) OVER (ORDER BY frequency DESC, custkey) AS f_score,
       NTILE(4) OVER (ORDER BY monetary_cents DESC, custkey) AS m_score
FROM base
ORDER BY custkey
""",
)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the classic lifecycle-marketing
    primitive: per customer, Recency (days since last order, vs the
    corpus max date), Frequency (order count), Monetary (lifetime spend
    in exact integer cents), each quartiled with NTILE(4). Quartile 1 is
    the best on every axis (most recent / most frequent / highest
    spend); downstream segments (champions = 111, at-risk = 4xx, ...)
    are string concatenation away.

    Determinism: recency/frequency/monetary are exact integers; NTILE
    assigns by row position, so each window's ORDER BY carries custkey
    as the tie-break — identical quartile boundaries cross-engine even
    when many customers share a metric value.

    Scale shape: one map-side-combinable aggregate per customer, then
    three global NTILE windows. Global NTILE is a single-reducer sort
    at the extreme; at 100 TB you'd replace it with percentile
    boundaries from the quantile sketch (q_quantile_sketch) and a
    broadcast range join — same output contract, no global sort."""
    orders = load(spark, sf_dir, "orders")
    mx = orders.agg(F.max("o_orderdate").alias("maxd"))
    base = (
        orders.crossJoin(F.broadcast(mx))
        .groupBy(F.col("o_custkey").alias("custkey"), "maxd")
        .agg(
            F.datediff(F.col("maxd"), F.max("o_orderdate"))
            .cast("bigint")
            .alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("monetary_cents"),
        )
    )
    return base.select(
        "custkey", "recency_days", "frequency", "monetary_cents",
        F.ntile(4)
        .over(Window.orderBy(F.asc("recency_days"), F.asc("custkey")))
        .alias("r_score"),
        F.ntile(4)
        .over(Window.orderBy(F.desc("frequency"), F.asc("custkey")))
        .alias("f_score"),
        F.ntile(4)
        .over(Window.orderBy(F.desc("monetary_cents"), F.asc("custkey")))
        .alias("m_score"),
    ).orderBy("custkey")


# ----------------------------------------------------------------- Benford

import math as _math

_BENFORD = {d: repr(_math.log10(1 + 1 / d)) for d in range(1, 10)}


@register(
    "q_benford_audit",
    oracle=f"""
WITH cents AS (
  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c FROM orders
),
digits AS (
  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS digit
  FROM cents
),
counts AS (
  SELECT digit, COUNT(*) AS n_obs,
         (SELECT COUNT(*) FROM digits) AS n
  FROM digits GROUP BY digit
),
expected(digit, p_benford) AS (
  VALUES {', '.join(f'({d}, {p})' for d, p in _BENFORD.items())}
)
SELECT e.digit, COALESCE(c.n_obs, 0) AS n_obs,
       (SELECT COUNT(*) FROM digits) AS n,
       ROUND(CAST(e.p_benford AS DOUBLE), 6) AS p_benford,
       ROUND(COALESCE(c.n_obs, 0) * 1.0
             / (SELECT COUNT(*) FROM digits) - CAST(e.p_benford AS DOUBLE), 6) AS deviation
FROM expected e LEFT JOIN counts c USING (digit)
ORDER BY e.digit
""",
)
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the forensic
    data-quality screen (fabricated or systematically clipped monetary
    data drifts off the log-uniform first-digit curve). Reports every
    digit 1-9 with its observed count, the Benford expectation
    P(d) = log10(1 + 1/d), and the share deviation. (The TPC-H-ish
    uniform price fixture deliberately does NOT follow Benford — the
    operator's job is to measure the deviation, not to assert zero.)

    Determinism: the first digit comes from string truncation of exact
    integer cents (no float log); each expected share is injected as
    the SAME Python repr literal into both plans (the PR_INIT pattern —
    a hand-typed decimal would be a DIFFERENT double); the one division
    is exact and ROUNDed identically.

    Scale shape: one scan -> 9-group count; the expected table is a
    9-row literal joined driver-side. As cheap as an audit gets."""
    orders = load(spark, sf_dir, "orders")
    cents = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c")
    )
    digits = cents.select(
        F.substring(F.col("c").cast("string"), 1, 1).cast("int").alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    n_total = digits.agg(F.count(F.lit(1)).alias("n"))
    expected = local_frame(
        spark,
        [(d, float(p)) for d, p in _BENFORD.items()],
        "digit int, p_benford double",
    )
    return (
        expected.join(counts, "digit", "left")
        .crossJoin(F.broadcast(n_total))
        .select(
            "digit",
            F.coalesce("n_obs", F.lit(0)).alias("n_obs"),
            "n",
            F.round("p_benford", 6).alias("p_benford"),
            F.round(
                F.coalesce("n_obs", F.lit(0)) * F.lit(1.0) / F.col("n")
                - F.col("p_benford"),
                6,
            ).alias("deviation"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# Distribution window functions: percent_rank / cume_dist / ntile / nth_value
# ---------------------------------------------------------------------------


@register(
    "q_window_ranks",
    oracle="""
WITH c AS (
  SELECT c_nationkey, c_custkey,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer WHERE c_nationkey < 5
)
SELECT c_nationkey, c_custkey, bal_cents,
       ROUND(percent_rank() OVER w, 6) AS pct_rank,
       ROUND(cume_dist() OVER w, 6) AS cume,
       CAST(NTILE(4) OVER w AS INT) AS quartile,
       nth_value(c_custkey, 2) OVER (
         PARTITION BY c_nationkey ORDER BY bal_cents DESC, c_custkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       ) AS runner_up_cust
FROM c
WINDOW w AS (PARTITION BY c_nationkey ORDER BY bal_cents DESC, c_custkey)
ORDER BY c_nationkey, pct_rank, c_custkey
""",
)
def q_window_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-flavored window functions over customer balances per
    nation: percent_rank, cume_dist, NTILE(4) quartiles, and
    nth_value(2) (the runner-up customer via an explicit
    whole-partition frame) — completing the window surface next to the
    frame-spec (q_window_frames) and ranking (q_topk_per_group_agg)
    gates, since these four are the ones analysts reach for in
    leaderboard and decile reports.

    Determinism: the window orders by (bal_cents, custkey) — a total
    order, so peer-dependent definitions (cume_dist counts peers,
    percent_rank uses rank) have no ambiguity; balances are integer
    cents; ratios round at 6 dp.

    Scale shape: one hash-partition shuffle on the partition key, one
    in-partition sort serving all four functions (Catalyst computes
    them in a single Window operator — verified in the plan); the
    nation filter prunes at the parquet scan."""
    c = (
        load(spark, sf_dir, "customer")
        .where(F.col("c_nationkey") < 5)
        .select(
            "c_nationkey",
            "c_custkey",
            F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
        )
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("bal_cents"), F.asc("c_custkey")
    )
    wfull = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        c.select(
            "c_nationkey",
            "c_custkey",
            "bal_cents",
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.ntile(4).over(w).cast("int").alias("quartile"),
            F.nth_value(F.col("c_custkey"), 2).over(wfull).alias(
                "runner_up_cust"
            ),
        )
        .orderBy("c_nationkey", "pct_rank", "c_custkey")
    )


# ---------------------------------------------------------------------------
# Shared-text SQL interface: ONE string, both engines
# ---------------------------------------------------------------------------

# The exact same SQL text runs on Spark (spark.sql over temp views) AND on
# DuckDB as its own oracle — the dialect-portability proof that the engine
# accepts the ANSI surface directly, not only the DataFrame API. Constraint
# on the text: the COMMON dialect subset (joins, FILTER aggregates, CASE,
# window functions, CAST/ROUND) — no engine-specific functions.
_SHARED_SQL_TEXT = """
SELECT n.n_name AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(*) FILTER (WHERE o.o_orderpriority = '1-URGENT')
            AS BIGINT) AS n_urgent,
       CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       CAST(ROW_NUMBER() OVER (
         ORDER BY SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) DESC,
                  n.n_name) AS INT) AS rk
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
ORDER BY rk
"""


@register("q_sql_shared_text", oracle=_SHARED_SQL_TEXT)
def q_sql_shared_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-surface parity, stated as executable fact: the ORACLE STRING
    ITSELF runs through ``spark.sql`` over temp views of the same
    parquet — zero translation, so any user-facing ANSI query in the
    common dialect subset (joins, FILTER aggregates, windows,
    CAST/ROUND) is accepted verbatim by this engine. The reference's
    users write SQL (PostgreSQL is its actual query engine,
    OMTZHModifier.java:134-138); this gate pins that they can keep
    doing so here.

    Determinism: integer cents, FILTER counts, and a total-order
    window — nothing engine-specific anywhere in the text.

    Scale shape: Catalyst plans the text identically to the DataFrame
    build — broadcast dims onto the orders fact, partial aggregation
    before the exchange, TakeOrdered for the ranked output (verified
    via explain; the SQL front end costs nothing at any scale)."""
    for t in ("orders", "customer", "nation"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SHARED_SQL_TEXT)
