"""Extended analytic queries — the harder TPC-H shapes (anti joins,
correlated aggregates, distributions, multi-fact joins) adapted to the
driver's schema. Same exactness discipline as relational.py
(DECIMAL accumulators, DOUBLE money outputs, deterministic
tie-breaks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_system_mapreduce_spark.operators.relational import _dec
from distributed_system_mapreduce_spark.tables import load_table


def _revenue():
    # DECIMAL accumulator (exact, associative), DOUBLE output (the
    # driver's value hash normalizes primitives, not DECIMAL).
    return F.sum(
        _dec("l_extendedprice")
        * (F.lit(1).cast("decimal(9,4)") - _dec("l_discount", 9, 4))
    ).cast("double")


_REV_SQL = ("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * "
            "(CAST(1 AS DECIMAL(9,4)) - CAST(l_discount AS DECIMAL(9,4)))) "
            "AS DOUBLE)")


# ------------------------------------------------------------------ Q7
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between nation pairs by year.
    supplier/nation broadcast; the customer->orders->lineitem chain
    carries the shuffles."""
    nation = load_table(spark, "nation", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    n1 = nation.select(F.col("n_nationkey").alias("s_nk"),
                       F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("c_nk"),
                       F.col("n_name").alias("cust_nation"))
    return (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").alias("l_year"))
        .agg(_revenue().alias("revenue"), F.count("*").alias("n_items"))
    )


Q7_SQL = f"""
SELECT supp_nation, cust_nation, l_year,
       {_REV_SQL} AS revenue, COUNT(*) AS n_items
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         EXTRACT(year FROM l_shipdate) AS l_year,
         l_extendedprice, l_discount
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE n1.n_name <> n2.n_name
)
GROUP BY supp_nation, cust_nation, l_year
"""


# ------------------------------------------------------------------ Q13
def q13_order_count_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count
    (left join so zero-order customers count)."""
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
"""


# ------------------------------------------------------------------ Q14
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share in a month. The share is
    an exact-decimal ratio cast to double at the end."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    part = load_table(spark, "part", sf_dir)
    rev = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(9,4)") - _dec("l_discount", 9, 4))
    joined = li.join(F.broadcast(part),
                     F.col("l_partkey") == F.col("p_partkey"))
    agg = joined.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", rev)
              .otherwise(F.lit(0).cast("decimal(9,4)")))
        .cast("decimal(38,6)").alias("promo_rev"),
        F.sum(rev).cast("decimal(38,6)").alias("total_rev"),
    )
    return agg.select(
        F.col("promo_rev").cast("double").alias("promo_rev"),
        F.col("total_rev").cast("double").alias("total_rev"),
        (F.col("promo_rev").cast("double") * 100.0
         / F.col("total_rev").cast("double")).alias("promo_pct"),
    )


Q14_SQL = """
SELECT CAST(promo_rev AS DOUBLE) AS promo_rev,
       CAST(total_rev AS DOUBLE) AS total_rev,
       CAST(promo_rev AS DOUBLE) * 100.0 / CAST(total_rev AS DOUBLE)
         AS promo_pct
FROM (
  SELECT
    CAST(SUM(CASE WHEN p_type = 'PROMO'
        THEN CAST(l_extendedprice AS DECIMAL(18,4))
             * (CAST(1 AS DECIMAL(9,4)) - CAST(l_discount AS DECIMAL(9,4)))
        ELSE CAST(0 AS DECIMAL(9,4)) END) AS DECIMAL(38,6)) AS promo_rev,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
        * (CAST(1 AS DECIMAL(9,4)) - CAST(l_discount AS DECIMAL(9,4))))
        AS DECIMAL(38,6)) AS total_rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
)
"""


# ------------------------------------------------------------------ Q15
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier with max quarterly revenue — the
    'equal to scalar max' subquery becomes orderBy().limit(1), which
    Catalyst plans as TakeOrderedAndProject: per-partition top-1 then
    a merge of #partitions candidates. No global single-partition
    window (rank-1 via Window.orderBy with no partitionBy would move
    the whole supplier aggregate to one task)."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    supp = load_table(spark, "supplier", sf_dir)
    rev = (
        li.groupBy("l_suppkey")
        .agg(_revenue().alias("total_revenue"))
    )
    top = rev.orderBy(F.desc("total_revenue"), F.asc("l_suppkey")).limit(1)
    return (
        top.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


Q15_SQL = f"""
SELECT s_suppkey, s_name, total_revenue
FROM (
  SELECT l_suppkey, total_revenue,
         ROW_NUMBER() OVER (ORDER BY total_revenue DESC, l_suppkey ASC)
           AS rk
  FROM (
    SELECT l_suppkey, {_REV_SQL} AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY l_suppkey
  )
)
JOIN supplier ON l_suppkey = s_suppkey
WHERE rk = 1
"""


# ------------------------------------------------------------------ Q17
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from small-quantity orders (below 50%%
    of the part's average quantity). The correlated scalar subquery
    becomes one window average over the part key — no second scan."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir).filter(
        F.col("p_brand") == "Brand#1")
    w = Window.partitionBy("l_partkey")
    joined = li.join(F.broadcast(part),
                     F.col("l_partkey") == F.col("p_partkey"))
    with_avg = joined.withColumn(
        "avg_qty",
        (F.sum(_dec("l_quantity")).over(w).cast("double")
         / F.count("*").over(w)),
    )
    return (
        with_avg.filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            F.sum(_dec("l_extendedprice")).cast("double")
            .alias("small_qty_revenue"),
            F.count("*").alias("n_items"),
        )
    )


Q17_SQL = """
SELECT
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
    AS small_qty_revenue,
  COUNT(*) AS n_items
FROM (
  SELECT l_extendedprice, l_quantity,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)))
              OVER (PARTITION BY l_partkey) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY l_partkey) AS avg_qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#1'
)
WHERE l_quantity < 0.5 * avg_qty
"""


# ------------------------------------------------------------------ Q18
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a
    threshold, with customer detail. Aggregate-then-semi-join keeps
    the big table scanned once."""
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).cast("decimal(38,6)")
             .alias("total_qty_dec"))
        .filter(F.col("total_qty_dec") > 180)
        .select("l_orderkey",
                F.col("total_qty_dec").cast("double").alias("total_qty"))
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate",
                F.col("o_totalprice").alias("o_totalprice"), "total_qty")
    )


Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
       CAST(total_qty_dec AS DOUBLE) AS total_qty
FROM (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,6))
           AS total_qty_dec
  FROM lineitem GROUP BY l_orderkey
  HAVING total_qty_dec > 180
)
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


# ------------------------------------------------------------------ Q19
def q19_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs bracket predicate across the
    lineitem x part join — the disjunction pushes into the join."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    joined = li.join(F.broadcast(part),
                     F.col("l_partkey") == F.col("p_partkey"))
    bracket = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10)
         & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 20))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 20)
           & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 30))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 30)
           & (F.col("l_quantity") >= 20) & (F.col("l_quantity") <= 40))
    )
    return joined.filter(bracket).agg(
        _revenue().alias("revenue"), F.count("*").alias("n_items"))


Q19_SQL = f"""
SELECT {_REV_SQL} AS revenue, COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size <= 10
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size <= 20
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size <= 30
       AND l_quantity BETWEEN 20 AND 40)
"""


# ------------------------------------------------------------------ Q22
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no RECENT
    orders — scalar aggregate broadcast + left-anti join. (Every
    customer in the synthetic data has some order, so the reference
    query's 'no orders ever' form would be vacuously empty.)"""
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(_dec("c_acctbal")).cast("double") / F.count("*"))
        .alias("avg_bal"))
    rich = cust.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("avg_bal"))
    idle = rich.join(orders, rich.c_custkey == orders.o_custkey,
                     "left_anti")
    return idle.groupBy(
        (F.col("c_custkey") % 10).alias("cohort")
    ).agg(
        F.count("*").alias("n_custs"),
        F.sum(_dec("c_acctbal")).cast("double").alias("total_bal"),
    )


Q22_SQL = """
SELECT c_custkey % 10 AS cohort, COUNT(*) AS n_custs,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
         AS total_bal
FROM customer
WHERE c_acctbal > (
    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
           / COUNT(*)
    FROM customer WHERE c_acctbal > 0
  )
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY c_custkey % 10
"""


QUERIES = {
    "q7_nation_volume": q7_nation_volume,
    "q13_order_count_dist": q13_order_count_dist,
    "q14_promo_revenue": q14_promo_revenue,
    "q15_top_supplier": q15_top_supplier,
    "q17_small_qty_revenue": q17_small_qty_revenue,
    "q18_large_orders": q18_large_orders,
    "q19_bracket_revenue": q19_bracket_revenue,
    "q22_idle_customers": q22_idle_customers,
}

ORACLES = {
    "q7_nation_volume": Q7_SQL,
    "q13_order_count_dist": Q13_SQL,
    "q14_promo_revenue": Q14_SQL,
    "q15_top_supplier": Q15_SQL,
    "q17_small_qty_revenue": Q17_SQL,
    "q18_large_orders": Q18_SQL,
    "q19_bracket_revenue": Q19_SQL,
    "q22_idle_customers": Q22_SQL,
}
