"""TPC-H-shaped analytics over lineitem / orders / customer / supplier /
part / nation / region — the declarative queries a user of the
reference would express as multi-round maple/juice chains (filter-map
rounds + key-shuffle reduce rounds, cf. its two-round vote pipeline).
Here each is ONE Catalyst plan: scans with pushed filters and pruned
columns, broadcast hash joins for the dimension tables, partial
aggregation before every shuffle.

- q1..q22: the TPC-H shapes adapted to the driver's reduced schema (no
  partsupp, no commit/receipt dates — each query keeps the canonical
  operator SHAPE and swaps a missing column for an available one):
  anti joins, correlated aggregates, scalar-subquery thresholds,
  nested semi-join chains, multi-fact joins, per-group argmax.
- order/customer reporting: priority counts, top customers, cohort
  LTV, repeat cohorts, RFM, decile migration, revenue concentration
  and Gini, seasonal index, month-over-month growth, priority mix
  shift, backlog, lead time, order-total and FK integrity audits.
- lineitem/part/supplier analytics: price quantiles, basket pairs and
  association rules, join-size estimate, join-key and supplier volume
  skew, skyline, weighted median, discount elasticity, returns mix.

Exactness: monetary/quantity doubles are cast to DECIMAL before SUM,
so aggregation is exact and associative — the same result regardless
of partitioning and bit-identical to the DuckDB oracle (the driver
value-hashes results; float sums would differ in low bits across
engines). Final outputs are cast back to DOUBLE once, on the
full-scale DECIMAL; counts are BIGINT; every output double is one
fixed-order expression written as the same text in both engines;
every top-k breaks ties down to a unique key.

Scale shape (100 TB): part/supplier/nation/region are broadcast at
every join; the lineitem->orders chain carries the only big shuffles;
distinct-pair reductions aggregate BEFORE joining dimensions, so the
shuffle carries key pairs, not full rows. Calendar and priority grids
are bounded, windows partition over them, totals ride broadcast 1-row
joins, and global prefix quantities use the bucket-stitch discipline
instead of a global window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_system_mapreduce_spark.lineage import cut
from distributed_system_mapreduce_spark.tables import load_table


def _dec(col, prec: int = 18, scale: int = 4):
    return F.col(col).cast(f"decimal({prec},{scale})")


# ------------------------------------------------------------------ Q1
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-aggregate over lineitem.

    At 100 TB this is the map-side-combine showcase: 8 aggregates
    computed partially per partition, one 6-row shuffle. Only the 7
    referenced columns are read (ReadSchema pruning).
    """
    li = load_table(spark, "lineitem", sf_dir)
    price = _dec("l_extendedprice")
    disc = _dec("l_discount", 9, 4)
    tax = _dec("l_tax", 9, 4)
    qty = _dec("l_quantity")
    disc_price = price * (F.lit(1).cast("decimal(9,4)") - disc)
    charge = disc_price * (F.lit(1).cast("decimal(9,4)") + tax)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(qty).cast("decimal(38,6)").cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(price).cast("decimal(38,6)").cast("double") / F.count("*")).alias("avg_price"),
            (F.sum(disc).cast("decimal(38,6)").cast("double") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_qty,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_base_price,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
      * (CAST(1 AS DECIMAL(9,4)) - CAST(l_discount AS DECIMAL(9,4)))) AS DECIMAL(38,6)) AS DOUBLE)
      AS sum_disc_price,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
      * (CAST(1 AS DECIMAL(9,4)) - CAST(l_discount AS DECIMAL(9,4)))
      * (CAST(1 AS DECIMAL(9,4)) + CAST(l_tax AS DECIMAL(9,4)))) AS DECIMAL(38,6)) AS DOUBLE)
      AS sum_charge,
  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(CAST(SUM(CAST(l_discount AS DECIMAL(9,4))) AS DECIMAL(38,6)) AS DOUBLE) / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# ------------------------------------------------------------------ Q3
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> join -> topk.

    customer(BUILDING) is small after the filter -> broadcast into
    orders, then one shuffle join with lineitem on l_orderkey. Top-10
    with a full deterministic tie-break (revenue, date, key).
    """
    cust = load_table(spark, "customer", sf_dir).filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    revenue = F.sum(
        _dec("l_extendedprice")
        * (F.lit(1).cast("decimal(9,4)") - _dec("l_discount", 9, 4))
    ).cast("double")
    return (
        li.join(
            orders.join(F.broadcast(cust),
                        orders.o_custkey == cust.c_custkey),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(revenue.alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, o_orderdate,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
      * (CAST(1 AS DECIMAL(9,4)) - CAST(l_discount AS DECIMAL(9,4)))) AS DOUBLE)
      AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
LIMIT 10
"""


# ------------------------------------------------------------------ Q5
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join, dims broadcast.

    region->nation prune first (broadcast), the customer/orders/
    lineitem chain shuffles on its keys, supplier broadcasts. Catalyst
    + AQE pick broadcast sides; the explicit hints pin the dims.
    """
    region = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, "nation", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, "lineitem", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    revenue = F.sum(
        _dec("l_extendedprice")
        * (F.lit(1).cast("decimal(9,4)") - _dec("l_discount", 9, 4))
    ).cast("double")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust, (F.col("o_custkey") == F.col("c_custkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(revenue.alias("revenue"))
    )


Q5_SQL = """
SELECT n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
      * (CAST(1 AS DECIMAL(9,4)) - CAST(l_discount AS DECIMAL(9,4)))) AS DOUBLE)
      AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


# ------------------------------------------------------------------ Q6
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the pushdown showcase — every predicate reaches
    the parquet scan (PushedFilters), two columns read, one scalar out."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount", 9, 4))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


Q6_SQL = """
SELECT
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
      * CAST(l_discount AS DECIMAL(9,4))) AS DOUBLE) AS revenue,
  COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


# ------------------------------------------------------------------ Q10
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-lineitem revenue per customer, top 20."""
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, "nation", sf_dir)
    revenue = F.sum(
        _dec("l_extendedprice")
        * (F.lit(1).cast("decimal(9,4)") - _dec("l_discount", 9, 4))
    ).cast("double")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(revenue.alias("revenue"),
             F.sum(_dec("c_acctbal")).cast("double").alias("acctbal"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
      * (CAST(1 AS DECIMAL(9,4)) - CAST(l_discount AS DECIMAL(9,4)))) AS DOUBLE)
      AS revenue,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS acctbal
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# ------------------------------------------------------ order priority (Q4)
def order_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS as a left-semi join (no row duplication,
    no distinct needed — the Spark-native way to express the
    reference's 'join then dedup' reduce round)."""
    orders = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    big_items = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_quantity") > 45
    )
    return (
        orders.join(big_items,
                    orders.o_orderkey == big_items.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


ORDER_PRIORITY_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
GROUP BY o_orderpriority
"""


# ------------------------------------------------------------ top customers
def top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-rank: top-3 customers by order revenue within each nation.

    One shuffle for the groupBy, one for the window partition; nation
    broadcast. rank() over a (revenue, custkey) tie-broken ordering.
    """
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    totals = (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "c_custkey", "c_name")
        .agg(F.sum(_dec("o_totalprice")).cast("double").alias("total_spend"),
             F.count("*").alias("n_orders"))
    )
    w = Window.partitionBy("n_name").orderBy(
        F.desc("total_spend"), F.asc("c_custkey")
    )
    return (
        totals.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("n_name", "c_custkey", "c_name", "total_spend", "n_orders", "rk")
    )


TOP_CUSTOMERS_SQL = """
SELECT n_name, c_custkey, c_name, total_spend, n_orders, rk
FROM (
  SELECT n_name, c_custkey, c_name, total_spend, n_orders,
         ROW_NUMBER() OVER (PARTITION BY n_name
                            ORDER BY total_spend DESC, c_custkey ASC) AS rk
  FROM (
    SELECT n_name, c_custkey, c_name,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             AS total_spend,
           COUNT(*) AS n_orders
    FROM orders, customer, nation
    WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey
    GROUP BY n_name, c_custkey, c_name
  )
)
WHERE rk <= 3
"""


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


# ------------------------------------------------------------------ Q2
def q2_best_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each qualifying part, the best supplier in
    a region — min-supplycost becomes max-acctbal (no partsupp table;
    lineitem's distinct (part, supplier) pairs are the supply
    relation). Per-part argmax via a partitioned window, then a
    deterministic top-100."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir)

    p = part.filter((F.col("p_size").between(10, 20))
                    & (F.col("p_type") == "LARGE"))
    s_eur = (
        supp.join(F.broadcast(nation),
                  F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    # broadcast-filter lineitem BEFORE the pair dedup: Catalyst won't
    # push a join below an aggregate, and a .distinct() first would
    # shuffle every (part, supplier) pair ever shipped instead of the
    # small filtered slice — the difference between a full-corpus and
    # a post-selectivity exchange at 100 TB. The carried p_*/s_* cols
    # are functionally dependent on the dedup keys, so dropDuplicates
    # on the key pair is deterministic.
    j = (
        li.select("l_partkey", "l_suppkey")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s_eur), F.col("l_suppkey") == F.col("s_suppkey"))
        .dropDuplicates(["l_partkey", "l_suppkey"])
    )
    w = Window.partitionBy("p_partkey").orderBy(
        F.desc("s_acctbal"), F.asc("s_suppkey"))
    return (
        j.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("p_partkey", "p_name", "p_brand",
                "s_suppkey", "s_name", "s_acctbal", "n_name")
        .orderBy(F.desc("s_acctbal"), F.asc("p_partkey"))
        .limit(100)
    )


Q2_SQL = """
SELECT p_partkey, p_name, p_brand, s_suppkey, s_name, s_acctbal, n_name
FROM (
  SELECT p_partkey, p_name, p_brand, s_suppkey, s_name, s_acctbal,
         n_name,
         ROW_NUMBER() OVER (PARTITION BY p_partkey
                            ORDER BY s_acctbal DESC, s_suppkey ASC) AS rk
  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE p_size BETWEEN 10 AND 20 AND p_type = 'LARGE'
    AND r_name = 'EUROPE'
)
WHERE rk = 1
ORDER BY s_acctbal DESC, p_partkey ASC
LIMIT 100
"""


# ------------------------------------------------------------------ Q8
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_1 suppliers' share of STANDARD-part
    order volume bought by ASIA customers, by order year. Conditional
    decimal sums; the share ratio goes to double only at the end."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir)

    n_cust = (
        nation.join(F.broadcast(region.filter(F.col("r_name") == "ASIA")),
                    F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    n_supp = nation.select(F.col("n_nationkey").alias("sn_key"),
                           F.col("n_name").alias("supp_nation"))
    rev = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(9,4)") - _dec("l_discount", 9, 4))
    j = (
        li.join(F.broadcast(part.filter(F.col("p_type") == "STANDARD")),
                F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_key"))
    )
    agg = (
        j.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_1", rev)
                  .otherwise(F.lit(0).cast("decimal(9,4)")))
            .cast("decimal(38,6)").alias("nation_rev"),
            F.sum(rev).cast("decimal(38,6)").alias("total_rev"),
        )
    )
    return agg.select(
        "o_year",
        F.col("nation_rev").cast("double").alias("nation_rev"),
        F.col("total_rev").cast("double").alias("total_rev"),
        (F.col("nation_rev").cast("double")
         / F.col("total_rev").cast("double")).alias("mkt_share"),
    )


Q8_SQL = """
SELECT o_year,
       CAST(nation_rev AS DOUBLE) AS nation_rev,
       CAST(total_rev AS DOUBLE) AS total_rev,
       CAST(nation_rev AS DOUBLE) / CAST(total_rev AS DOUBLE)
         AS mkt_share
FROM (
  SELECT EXTRACT(year FROM o_orderdate) AS o_year,
    CAST(SUM(CASE WHEN supp_nation = 'NATION_1'
        THEN CAST(l_extendedprice AS DECIMAL(18,4))
             * (CAST(1 AS DECIMAL(9,4)) - CAST(l_discount AS DECIMAL(9,4)))
        ELSE CAST(0 AS DECIMAL(9,4)) END) AS DECIMAL(38,6)) AS nation_rev,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
        * (CAST(1 AS DECIMAL(9,4)) - CAST(l_discount AS DECIMAL(9,4))))
        AS DECIMAL(38,6)) AS total_rev
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation nc ON c_nationkey = nc.n_nationkey
  JOIN region ON nc.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ns ON s_nationkey = ns.n_nationkey,
  LATERAL (SELECT ns.n_name AS supp_nation)
  WHERE p_type = 'STANDARD' AND r_name = 'ASIA'
  GROUP BY o_year
)
"""


# ------------------------------------------------------------------ Q9
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year for
    parts matching a name pattern. Without ps_supplycost the profit
    term is revenue only — the join/rollup shape is unchanged."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    return (
        li.join(F.broadcast(part.filter(F.col("p_name").contains("widget"))),
                F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").alias("o_year"))
        .agg(_revenue().alias("sum_profit"),
             F.count("*").alias("n_items"))
    )


Q9_SQL = f"""
SELECT nation, o_year, {_REV_SQL} AS sum_profit, COUNT(*) AS n_items
FROM (
  SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
         l_extendedprice, l_discount
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  WHERE p_name LIKE '%widget%'
)
GROUP BY nation, o_year
"""


# ------------------------------------------------------------------ Q11
def q11_part_value_concentration(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    """TPC-H Q11 shape: per-part shipped value, kept only where it
    exceeds 1.2x the mean part value (scalar subquery -> broadcast
    cross join). Scale-invariant threshold — a fixed share-of-total
    cutoff empties out as part count grows. The compare is pure
    DECIMAL/integer arithmetic (value * n * 10 > total * 12), never
    double, so both engines agree at the boundary."""
    li = load_table(spark, "lineitem", sf_dir)
    pv = (
        li.groupBy("l_partkey")
        .agg(F.sum(_dec("l_extendedprice") * _dec("l_quantity", 18, 4))
             .cast("decimal(38,6)").alias("part_value"))
    )
    tot = pv.agg(F.sum("part_value").cast("decimal(38,6)").alias("tot"),
                 F.count("*").alias("n_parts"))
    return (
        pv.join(F.broadcast(tot))
        .filter(F.col("part_value") * F.col("n_parts") * F.lit(10)
                > F.col("tot") * F.lit(12))
        .select("l_partkey",
                F.col("part_value").cast("double").alias("part_value"))
    )


Q11_SQL = """
WITH pv AS (
  SELECT l_partkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                  * CAST(l_quantity AS DECIMAL(18,4)))
              AS DECIMAL(38,6)) AS part_value
  FROM lineitem
  GROUP BY l_partkey
)
SELECT l_partkey, CAST(part_value AS DOUBLE) AS part_value
FROM pv
WHERE part_value * (SELECT COUNT(*) FROM pv) * 10 >
      (SELECT CAST(SUM(part_value) AS DECIMAL(38,6)) FROM pv) * 12
"""


# ------------------------------------------------------------------ Q12
def q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional priority counts per category —
    shipmode becomes a ship-delay bucket (days from order to ship:
    <30 fast, <90 medium, else slow) since the schema has no
    l_shipmode/commitdate/receiptdate."""
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    delay = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    bucket = (
        F.when(delay < 30, "fast")
        .when(delay < 90, "medium")
        .otherwise("slow")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(bucket.alias("delay_bucket"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


Q12_SQL = """
SELECT delay_bucket,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM (
  SELECT o_orderpriority,
         CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                             CAST(l_shipdate AS DATE)) < 30 THEN 'fast'
              WHEN date_diff('day', CAST(o_orderdate AS DATE),
                             CAST(l_shipdate AS DATE)) < 90 THEN 'medium'
              ELSE 'slow' END AS delay_bucket
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
GROUP BY delay_bucket
"""


# ------------------------------------------------------------------ Q16
def q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct suppliers per (brand, type, size)
    with exclusions — brand exclusion as a pushed filter, 'complaint'
    suppliers (low acctbal stands in for the comment scan) removed by
    an anti join before counting."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)

    p = part.filter(
        (F.col("p_brand") != "Brand#3")
        & (F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
    )
    excl = supp.filter(F.col("s_acctbal") < 1000).select("s_suppkey")
    # filters (broadcast join + anti join) run BEFORE the pair dedup —
    # see q2_best_supplier: a leading .distinct() would shuffle the
    # full unfiltered pair set. p_* carried cols are FDs of l_partkey.
    return (
        li.select("l_partkey", "l_suppkey")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(excl), F.col("l_suppkey") == F.col("s_suppkey"),
              "left_anti")
        .dropDuplicates(["l_partkey", "l_suppkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#3'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND l_suppkey NOT IN
      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
GROUP BY p_brand, p_type, p_size
"""


# ------------------------------------------------------------------ Q20
def q20_heavy_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested semi-join chain — suppliers in a
    nation who shipped > 45 units of any 'bolt' part during 1996.
    The quantity rollup happens BEFORE any dim join (the shuffle
    carries (partkey, suppkey, qty), never full lineitem rows)."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)

    qty = (
        li.filter((F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
                  & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(_dec("l_quantity")).cast("decimal(38,6)")
             .alias("total_qty"))
    )
    heavy = (
        qty.join(F.broadcast(
            part.filter(F.col("p_name").contains("bolt"))
            .select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"))
        .filter(F.col("total_qty") > 45)
        .select("l_suppkey").distinct()
    )
    return (
        supp.join(heavy, F.col("s_suppkey") == F.col("l_suppkey"),
                  "left_semi")
        .join(F.broadcast(nation.filter(F.col("n_name") == "NATION_3")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal")
    )


Q20_SQL = """
SELECT s_suppkey, s_name, s_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_3'
  AND s_suppkey IN (
    SELECT l_suppkey
    FROM (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)))
                  AS DECIMAL(38,6)) AS total_qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l_partkey, l_suppkey
    )
    WHERE total_qty > 45
      AND l_partkey IN
          (SELECT p_partkey FROM part WHERE p_name LIKE '%bolt%')
  )
"""


# ------------------------------------------------------------------ Q21
def q21_sole_supplier_returns(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """TPC-H Q21 shape: the EXISTS / NOT EXISTS pair over sibling
    lineitems becomes a per-order group test — finished orders with
    more than one line, exactly ONE distinct supplier, and at least
    one returned line credit that supplier with a wait. Top-20
    suppliers by waits, fully tie-broken."""
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)

    g = (
        li.join(orders.filter(F.col("o_orderstatus") == "F")
                .select("o_orderkey"),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.count("*").alias("n_lines"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .alias("n_returned"),
            F.min("l_suppkey").alias("the_supp"),
        )
    )
    waits = (
        g.filter((F.col("n_supp") == 1) & (F.col("n_lines") > 1)
                 & (F.col("n_returned") > 0))
        .groupBy(F.col("the_supp").alias("s_suppkey_w"))
        .agg(F.count("*").alias("numwait"))
    )
    return (
        waits.join(F.broadcast(supp),
                   F.col("s_suppkey_w") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.desc("numwait"), F.asc("s_suppkey"))
        .limit(20)
    )


Q21_SQL = """
SELECT s_suppkey, s_name, numwait
FROM (
  SELECT the_supp AS s_suppkey_w, COUNT(*) AS numwait
  FROM (
    SELECT l_orderkey,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(*) AS n_lines,
           SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
             AS n_returned,
           MIN(l_suppkey) AS the_supp
    FROM lineitem
    JOIN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F') o
      ON l_orderkey = o_orderkey
    GROUP BY l_orderkey
  )
  WHERE n_supp = 1 AND n_lines > 1 AND n_returned > 0
  GROUP BY the_supp
)
JOIN supplier ON s_suppkey_w = s_suppkey
ORDER BY numwait DESC, s_suppkey ASC
LIMIT 20
"""


# ------------------------------------------------- distribution stats
def price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quartiles + p99 of extended price. Exact
    percentile sorts each group in one reducer — right for bounded
    group counts like this; at unbounded cardinality switch to
    approx_percentile (t-digest, mergeable map-side). Interpolation
    arithmetic matches DuckDB's quantile_cont bit-for-bit."""
    li = load_table(spark, "lineitem", sf_dir)
    qs = [0.25, 0.5, 0.75, 0.99]
    arr = ", ".join(str(q) for q in qs)
    # one array-percentile aggregate = one sort per group, not four
    return (
        li.groupBy("l_returnflag")
        .agg(F.expr(f"percentile(l_extendedprice, array({arr}))")
             .alias("qs"))
        .select("l_returnflag", *[
            F.col("qs")[i].alias(f"p{int(q * 100)}")
            for i, q in enumerate(qs)
        ])
    )


PRICE_QUANTILES_SQL = """
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.25) AS p25,
       quantile_cont(l_extendedprice, 0.50) AS p50,
       quantile_cont(l_extendedprice, 0.75) AS p75,
       quantile_cont(l_extendedprice, 0.99) AS p99
FROM lineitem
GROUP BY l_returnflag
"""


# ------------------------------------------------- cohort & funnel
def customer_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV matrix: customers grouped by first-order month,
    revenue tracked by month offset from the cohort month. Two
    aggregations: per-customer first order (partial-agg shuffle on
    custkey), then the cohort x offset rollup. Month arithmetic is
    pure integers (y*12+m), no date_trunc portability traps."""
    orders = load_table(spark, "orders", sf_dir)
    first = (
        orders.groupBy("o_custkey")
        .agg(F.min("o_orderdate").alias("first_dt"))
    )
    j = orders.join(first, "o_custkey")
    ym = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    fym = F.year("first_dt") * 12 + F.month("first_dt")
    return (
        j.groupBy(
            (F.year("first_dt") * 100 + F.month("first_dt"))
            .alias("cohort_month"),
            (ym - fym).alias("month_offset"),
        )
        .agg(
            F.sum(_dec("o_totalprice")).cast("double")
            .alias("cohort_revenue"),
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
    )


CUSTOMER_COHORT_LTV_SQL = """
SELECT (EXTRACT(year FROM first_dt) * 100 + EXTRACT(month FROM first_dt))
         AS cohort_month,
       ((EXTRACT(year FROM o_orderdate) * 12
         + EXTRACT(month FROM o_orderdate))
        - (EXTRACT(year FROM first_dt) * 12
           + EXTRACT(month FROM first_dt))) AS month_offset,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
         AS cohort_revenue,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_customers
FROM orders
JOIN (SELECT o_custkey AS ck, MIN(o_orderdate) AS first_dt
      FROM orders GROUP BY o_custkey) f
  ON o_custkey = f.ck
GROUP BY cohort_month, month_offset
"""


def basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the 20 part pairs most often
    ordered together (support = number of orders containing both).

    Scale shape: the self-join is keyed on l_orderkey, so the pair
    fan-out per order is (lines choose 2) — bounded by the 7-line
    TPC-H order cap, i.e. LINEAR in orders, never corpus x corpus.
    One equi-join shuffle + one partial-agg shuffle + TakeOrdered
    top-k with a full tie-break."""
    from distributed_system_mapreduce_spark.functions.graphs import (
        copair_counts,
    )

    li = load_table(spark, "lineitem", sf_dir)
    return (
        copair_counts(li)
        .select(F.col("u").alias("part_a"),
                F.col("v").alias("part_b"),
                F.col("w").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(20)
    )


BASKET_PAIRS_SQL = """
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       COUNT(*) AS n_orders
FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
ORDER BY n_orders DESC, part_a ASC, part_b ASC
LIMIT 20
"""


# orders columns profiled; min/max compare as strings (identical
# byte-wise semantics in both engines) so one schema fits every type
_PROFILE_COLS = (
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority",
)


def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of the orders table: per column, null
    count, exact distinct count, and lexicographic min/max — the
    "dataset card" / ingest-sanity scan every pipeline runs first.

    Shape: one narrow scan PER COLUMN, unioned. On columnar storage
    this reads exactly the same bytes as a single wide pass (each scan
    prunes to its one column — verified: each union branch's parquet
    ReadSchema is a single field), each branch's single distinct is a
    plain two-phase partial agg, and the multi-distinct Expand plan
    (which replicates every row #cols+1 times through the aggregate)
    never appears — measured 3x faster at sf0.1. The branches are
    independent jobs Spark runs from one action. At extreme widths
    swap the exact distincts for approx_count_distinct to cut the
    per-branch shuffle to a constant sketch.
    """
    from functools import reduce

    o = load_table(spark, "orders", sf_dir)
    parts = []
    for c in _PROFILE_COLS:
        s = F.col(c).cast("string")
        parts.append(
            o.select(F.col(c)).agg(
                F.lit(c).alias("col_name"),
                F.count(F.lit(1)).alias("n_rows"),
                (F.count(F.lit(1)) - F.count(s)).alias("n_nulls"),
                F.countDistinct(c).alias("n_distinct"),
                F.min(s).alias("min_value"),
                F.max(s).alias("max_value"),
            )
        )
    return reduce(lambda x, y: x.unionByName(y), parts)


_PROFILE_ROWS_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name, _n AS n_rows, {c}_nulls AS n_nulls,
       {c}_dist AS n_distinct, {c}_min AS min_value, {c}_max AS max_value
       FROM one"""
    for c in _PROFILE_COLS
)

PROFILE_ORDERS_SQL = f"""
WITH one AS (
  SELECT COUNT(*) AS _n,
         {", ".join(
    f"COUNT(*) - COUNT(CAST({c} AS VARCHAR)) AS {c}_nulls, "
    f"COUNT(DISTINCT {c}) AS {c}_dist, "
    f"MIN(CAST({c} AS VARCHAR)) AS {c}_min, "
    f"MAX(CAST({c} AS VARCHAR)) AS {c}_max"
    for c in _PROFILE_COLS)}
  FROM orders
)
{_PROFILE_ROWS_SQL}
"""


def orders_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog timeline: per day, orders opened, orders
    fulfilled (last line shipped), and the running count of still-open
    orders — the interval-to-timeline shape behind every WIP/queue
    dashboard.

    The running sum is EXACT and global yet never computed in a
    global window (single-partition sort = non-viable at scale): daily
    deltas aggregate first (calendar-bounded rows), then per-YEAR
    totals — O(#years) scalars — stitch year-partitioned cumsum
    windows into the global prefix sum, the same distributed
    prefix-sum discipline as range_partition_hist.
    """
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    opens = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.count("*").alias("n_opened"))
    fulf = (
        li.groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("day"))
        .groupBy("day").agg(F.count("*").alias("n_fulfilled"))
    )
    days = (
        opens.join(fulf, "day", "full_outer")
        .select(
            "day",
            F.coalesce("n_opened", F.lit(0)).alias("n_opened"),
            F.coalesce("n_fulfilled", F.lit(0)).alias("n_fulfilled"),
        )
        .withColumn("yr", F.year("day"))
        .withColumn("delta", F.col("n_opened") - F.col("n_fulfilled"))
    )
    ytot = {
        r["yr"]: r["t"]
        for r in days.groupBy("yr").agg(
            F.sum("delta").alias("t")).collect()
    }
    offs, run = [], 0
    for yr in sorted(ytot):
        offs.append((yr, run))
        run += ytot[yr]
    off_df = spark.createDataFrame(offs or [(0, 0)], "yr int, off long")
    w = (
        Window.partitionBy("yr").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        days.join(F.broadcast(off_df), "yr")
        .select(
            "day", "n_opened", "n_fulfilled",
            (F.sum("delta").over(w) + F.col("off")).alias("backlog"),
        )
    )


ORDERS_BACKLOG_SQL = """
WITH opens AS (
  SELECT o_orderdate AS day, COUNT(*) AS n_opened FROM orders GROUP BY 1
),
fulf AS (
  SELECT day, COUNT(*) AS n_fulfilled
  FROM (SELECT l_orderkey, MAX(l_shipdate) AS day
        FROM lineitem GROUP BY 1)
  GROUP BY day
),
days AS (
  SELECT COALESCE(o.day, f.day) AS day,
         COALESCE(n_opened, 0) AS n_opened,
         COALESCE(n_fulfilled, 0) AS n_fulfilled
  FROM opens o FULL JOIN fulf f ON o.day = f.day
)
SELECT day, n_opened, n_fulfilled,
       CAST(SUM(n_opened - n_fulfilled)
              OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS backlog
FROM days
"""


def supplier_lead_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier fulfillment latency: days between order date and
    each line's ship date — supply-chain SLA profiling.

    One fact-fact equi-join shuffle on orderkey (AQE handles skew),
    integer day arithmetic, one partial-agg shuffle per supplier; the
    mean is a single division of exact ints.
    """
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderdate")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_suppkey",
        F.datediff("l_shipdate", "o_orderdate").alias("lead_days"))
    n = F.count("*")
    return j.groupBy("l_suppkey").agg(
        n.alias("n_lines"),
        F.min("lead_days").alias("min_lead"),
        F.max("lead_days").alias("max_lead"),
        F.sum("lead_days").cast("long").alias("sum_lead"),
        (F.sum("lead_days").cast("double") / n.cast("double"))
        .alias("avg_lead"),
    )


SUPPLIER_LEAD_TIME_SQL = """
SELECT l_suppkey,
       COUNT(*) AS n_lines,
       MIN(lead_days) AS min_lead,
       MAX(lead_days) AS max_lead,
       CAST(SUM(lead_days) AS BIGINT) AS sum_lead,
       CAST(SUM(lead_days) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS avg_lead
FROM (
  SELECT l_suppkey,
         date_diff('day', o_orderdate, l_shipdate) AS lead_days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
GROUP BY l_suppkey
"""


def orders_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month order volume and revenue growth — the trend
    dashboard: per calendar month, order count, revenue, and the
    relative change vs the previous month (NULL for the first).

    Revenue goes through a DECIMAL(18,2) accumulator (o_totalprice is
    a 2-decimal money double; summation-order-independent), DOUBLE at
    output. The previous-month lookup is a broadcast self-join on
    month_key - 1 over the ALREADY-AGGREGATED month table (bounded by
    the calendar) — no global window anywhere.
    """
    o = load_table(spark, "orders", sf_dir)
    m = (
        o.groupBy(F.year("o_orderdate").alias("yr"),
                  F.month("o_orderdate").alias("mon"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").alias("revenue"),
        )
        .withColumn("mkey", F.col("yr") * 12 + F.col("mon"))
    )
    prev = m.select(
        (F.col("mkey") + 1).alias("mkey"),
        F.col("revenue").alias("prev_revenue"),
    )
    return (
        m.join(F.broadcast(prev), "mkey", "left")
        .select(
            "yr", "mon", "n_orders", "revenue", "prev_revenue",
            ((F.col("revenue") - F.col("prev_revenue"))
             / F.col("prev_revenue")).alias("mom_growth"),
        )
    )


ORDERS_MOM_GROWTH_SQL = """
WITH m AS (
  SELECT EXTRACT(year FROM o_orderdate) AS yr,
         EXTRACT(month FROM o_orderdate) AS mon,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS revenue,
         EXTRACT(year FROM o_orderdate) * 12
           + EXTRACT(month FROM o_orderdate) AS mkey
  FROM orders GROUP BY 1, 2
)
SELECT a.yr, a.mon, a.n_orders, a.revenue,
       b.revenue AS prev_revenue,
       (a.revenue - b.revenue) / b.revenue AS mom_growth
FROM m a LEFT JOIN m b ON a.mkey = b.mkey + 1
"""


def customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency (days since last order, vs
    the corpus max date), frequency (order count), monetary (total
    spend), each scored into exact quartiles — the classic
    customer-value census behind retention/marketing splits.

    Shape: one partial-agg shuffle to the per-customer table
    (customer-dim scale, localCheckpointed — the quartile aggregate
    and the scorer both reference it, and each replayed the orders
    scan otherwise; r7 scan audit: 4 orders scans, now 2 — the
    date-endcap max and the per-customer agg), then ONE
    array-percentile aggregate per metric over that table (1-row
    result, broadcast back) and a branchless
    1 + (x>t1) + (x>t2) + (x>t3) scorer — no window anywhere, no
    per-row sort. Percentile interpolation matches DuckDB's
    quantile_cont bit-for-bit (same guarantee price_quantiles relies
    on); monetary goes through the DECIMAL accumulator, DOUBLE at
    output.
    """
    o = load_table(spark, "orders", sf_dir)
    mx = F.broadcast(o.agg(F.max("o_orderdate").alias("mxd")))
    per_cust = (
        o.groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("f_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").alias("m_spend"),
        )
        .crossJoin(mx)
        .select(
            "c_custkey",
            F.datediff(F.to_date("mxd"), F.to_date("last_order"))
            .alias("r_days"),
            "f_orders", "m_spend",
        )
        .transform(cut)
    )
    qs = F.broadcast(per_cust.agg(
        F.expr("percentile(r_days, array(0.25, 0.5, 0.75))").alias("rq"),
        F.expr("percentile(f_orders, array(0.25, 0.5, 0.75))").alias("fq"),
        F.expr("percentile(m_spend, array(0.25, 0.5, 0.75))").alias("mq"),
    ))

    def score(col, q):
        return (
            F.lit(1)
            + (F.col(col) > F.element_at(F.col(q), 1)).cast("int")
            + (F.col(col) > F.element_at(F.col(q), 2)).cast("int")
            + (F.col(col) > F.element_at(F.col(q), 3)).cast("int")
        )

    return (
        per_cust.crossJoin(qs)
        .select(
            "c_custkey", "r_days", "f_orders", "m_spend",
            score("r_days", "rq").alias("r_score"),
            score("f_orders", "fq").alias("f_score"),
            score("m_spend", "mq").alias("m_score"),
        )
    )


CUSTOMER_RFM_SQL = """
WITH mx AS (SELECT MAX(o_orderdate) AS mxd FROM orders),
per_cust AS (
  SELECT o_custkey AS c_custkey,
         date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                   CAST((SELECT mxd FROM mx) AS DATE)) AS r_days,
         COUNT(*) AS f_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS m_spend
  FROM orders GROUP BY o_custkey
),
qs AS (
  SELECT quantile_cont(r_days, 0.25) AS r1, quantile_cont(r_days, 0.5) AS r2,
         quantile_cont(r_days, 0.75) AS r3,
         quantile_cont(f_orders, 0.25) AS f1,
         quantile_cont(f_orders, 0.5) AS f2,
         quantile_cont(f_orders, 0.75) AS f3,
         quantile_cont(m_spend, 0.25) AS m1, quantile_cont(m_spend, 0.5) AS m2,
         quantile_cont(m_spend, 0.75) AS m3
  FROM per_cust
)
SELECT c_custkey, r_days, f_orders, m_spend,
       1 + CAST(r_days > r1 AS INT) + CAST(r_days > r2 AS INT)
         + CAST(r_days > r3 AS INT) AS r_score,
       1 + CAST(f_orders > f1 AS INT) + CAST(f_orders > f2 AS INT)
         + CAST(f_orders > f3 AS INT) AS f_score,
       1 + CAST(m_spend > m1 AS INT) + CAST(m_spend > m2 AS INT)
         + CAST(m_spend > m3 AS INT) AS m_score
FROM per_cust CROSS JOIN qs
"""


def revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / revenue-concentration curve: customers bucketed into
    exact spend deciles, each decile's customer count, revenue, and
    share of total — "do the top 10% drive 60% of revenue".

    Shape: per-customer rollup (one partial-agg shuffle), ONE
    array-percentile aggregate for the 9 decile cutoffs (1-row,
    broadcast back), branchless decile scorer, then a second bounded
    partial agg over 10 groups. No global sort/window — the global
    ranking problem is reduced to threshold comparisons. Revenue
    stays in the DECIMAL accumulator through BOTH aggregations;
    share is one double division against the broadcast grand total.
    """
    o = load_table(spark, "orders", sf_dir)
    per_cust = (
        o.groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
             .cast("decimal(18,2)").alias("spend_dec"))
        .withColumn("spend", F.col("spend_dec").cast("double"))
    )
    cuts = ", ".join(str(i / 10) for i in range(1, 10))
    qs = F.broadcast(per_cust.agg(
        F.expr(f"percentile(spend, array({cuts}))").alias("qq"),
        F.sum("spend_dec").cast("decimal(38,6)").alias("total_dec"),
    ))
    decile = sum(
        ((F.col("spend") > F.element_at(F.col("qq"), i)).cast("int")
         for i in range(1, 10)),
        F.lit(1),
    )
    return (
        per_cust.crossJoin(qs)
        .select("spend_dec", "total_dec", decile.alias("decile"))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("spend_dec").cast("decimal(38,6)").cast("double")
            .alias("revenue"),
            (F.sum("spend_dec").cast("decimal(38,6)").cast("double")
             / F.first("total_dec").cast("double")).alias("rev_share"),
        )
    )


REVENUE_CONCENTRATION_SQL = f"""
WITH per_cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              AS DECIMAL(18,2)) AS spend_dec,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              AS DECIMAL(18,2)) AS DOUBLE) AS spend
  FROM orders GROUP BY o_custkey
),
qs AS (
  SELECT [{", ".join(f"quantile_cont(spend, {i / 10})"
                     for i in range(1, 10))}] AS qq,
         CAST(SUM(spend_dec) AS DECIMAL(38,6)) AS total_dec
  FROM per_cust
)
SELECT 1 {" ".join(f"+ CAST(spend > qq[{i}] AS INT)"
                   for i in range(1, 10))} AS decile,
       COUNT(*) AS n_customers,
       CAST(CAST(SUM(spend_dec) AS DECIMAL(38,6)) AS DOUBLE) AS revenue,
       CAST(CAST(SUM(spend_dec) AS DECIMAL(38,6)) AS DOUBLE)
         / CAST(ANY_VALUE(total_dec) AS DOUBLE) AS rev_share
FROM per_cust CROSS JOIN qs
GROUP BY 1
"""


def fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema: for each
    foreign-key edge (lineitem->orders, lineitem->part,
    lineitem->supplier, orders->customer, customer->nation), the child
    row count and how many child rows have NO parent — the ingest
    gate that catches broken joins before queries silently drop rows.

    Shape: ONE pass per child table, not one per edge — lineitem's
    three FK edges resolve in a single scan via left joins with
    null-marker counting (dims broadcast; the fact-fact edge shuffles
    on its key with AQE), so the 100 TB fact table is read once where
    the per-edge anti-join shape read it six times (r7 scan audit).
    The 1-row wide aggregates are localCheckpointed before fanning
    into the long-form report — each of the three lineitem rows
    references the same aggregate, and without the barrier Catalyst
    replays the scan under each reference.
    """
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    p = load_table(spark, "part", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)

    def parent_keys(parent, pk, ck, bcast):
        keys = parent.select(F.col(pk).alias(ck)).distinct() \
            .withColumn(f"{ck}_hit", F.lit(1))
        return F.broadcast(keys) if bcast else keys

    def orphan_sum(ck):
        return F.sum(
            F.when(F.col(f"{ck}_hit").isNull(), 1).otherwise(0)
        ).cast("long")

    li_row = (
        li.select("l_orderkey", "l_partkey", "l_suppkey")
        .join(parent_keys(o, "o_orderkey", "l_orderkey", False),
              "l_orderkey", "left")
        .join(parent_keys(p, "p_partkey", "l_partkey", True),
              "l_partkey", "left")
        .join(parent_keys(s, "s_suppkey", "l_suppkey", True),
              "l_suppkey", "left")
        .agg(
            F.count("*").alias("n_child"),
            orphan_sum("l_orderkey").alias("orph_orders"),
            orphan_sum("l_partkey").alias("orph_part"),
            orphan_sum("l_suppkey").alias("orph_supplier"),
        )
        .transform(cut)
    )
    o_row = (
        o.select("o_custkey")
        .join(parent_keys(c, "c_custkey", "o_custkey", True),
              "o_custkey", "left")
        .agg(F.count("*").alias("n_child"),
             orphan_sum("o_custkey").alias("n_orphans"))
    )
    c_row = (
        c.select("c_nationkey")
        .join(parent_keys(n, "n_nationkey", "c_nationkey", True),
              "c_nationkey", "left")
        .agg(F.count("*").alias("n_child"),
             orphan_sum("c_nationkey").alias("n_orphans"))
    )

    def li_edge(name, col):
        return li_row.select(
            F.lit(name).alias("fk_edge"), "n_child",
            F.col(col).alias("n_orphans"))

    return (
        li_edge("lineitem->orders", "orph_orders")
        .unionByName(li_edge("lineitem->part", "orph_part"))
        .unionByName(li_edge("lineitem->supplier", "orph_supplier"))
        .unionByName(o_row.select(
            F.lit("orders->customer").alias("fk_edge"),
            "n_child", "n_orphans"))
        .unionByName(c_row.select(
            F.lit("customer->nation").alias("fk_edge"),
            "n_child", "n_orphans"))
    )


FK_INTEGRITY_SQL = """
SELECT 'lineitem->orders' AS fk_edge,
       (SELECT COUNT(*) FROM lineitem) AS n_child,
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
UNION ALL
SELECT 'lineitem->part',
       (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM part p
                          WHERE p.p_partkey = l.l_partkey))
UNION ALL
SELECT 'lineitem->supplier',
       (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM supplier s
                          WHERE s.s_suppkey = l.l_suppkey))
UNION ALL
SELECT 'orders->customer',
       (SELECT COUNT(*) FROM orders),
       (SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey))
UNION ALL
SELECT 'customer->nation',
       (SELECT COUNT(*) FROM customer),
       (SELECT COUNT(*) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM nation n
                          WHERE n.n_nationkey = c.c_nationkey))
"""


# ------------------------------------------------ join size estimation
# The cost-based-optimizer primitive: |A join B on k| =
# SUM over matching keys of cnt_A(k) * cnt_B(k) — computed from two
# per-key count tables, never by executing the join. This is how a
# planner (or a capacity review) sizes a 100 TB fact-fact join before
# committing a shuffle to it; the count tables are each one partial-agg
# shuffle, and their join is broadcast-sized for dimension edges.
_JOIN_EDGES = [
    ("orders-lineitem", "orders", "o_orderkey", "lineitem", "l_orderkey"),
    ("customer-orders", "customer", "c_custkey", "orders", "o_custkey"),
    ("part-lineitem", "part", "p_partkey", "lineitem", "l_partkey"),
    ("supplier-lineitem", "supplier", "s_suppkey", "lineitem",
     "l_suppkey"),
]


def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size audit of the star schema's FK edges: for each edge,
    the exact join output cardinality and the max per-key fanout,
    derived from per-key count tables WITHOUT executing the join —
    the arithmetic behind every CBO row estimate and skew alarm
    (max_fanout is the number AQE's skew-join threshold watches).

    Shape: lineitem carries THREE of the four edges' child keys, so
    its per-key count tables come out of ONE scan — each row explodes
    into int-tagged (edge, key) pairs and one shuffle counts all
    three (the join_key_skew idiom; the per-edge-loop shape scanned
    lineitem three times, r7 scan audit). Per edge: a key-count
    equi-join (broadcast for dimension sides under AQE) folded to a
    1-row summary; the bounded edge summaries union. Products of
    per-key counts are BIGINT end-to-end."""
    li_edges = [(i, e) for i, e in enumerate(_JOIN_EDGES)
                if e[3] == "lineitem"]
    li = load_table(spark, "lineitem", sf_dir)
    li_counts = (
        li.select(F.explode(F.array(*[
            F.struct(F.lit(i).cast("int").alias("eid"),
                     F.col(rk).cast("long").alias("k"))
            for i, (_, _, _, _, rk) in li_edges
        ])).alias("e")).select("e.*")
        .groupBy("eid", "k").agg(F.count(F.lit(1)).alias("cb"))
        # three edge branches read this; without the barrier each
        # replays the explode + shuffle (and the scan with it)
        .transform(cut)
    )
    out = None
    for i, (edge, lt, lk, rt, rk) in enumerate(_JOIN_EDGES):
        left = load_table(spark, lt, sf_dir).select(
            F.col(lk).alias("k"))
        lc = left.groupBy("k").agg(F.count("*").alias("ca"))
        if rt == "lineitem":
            rc = li_counts.filter(F.col("eid") == i).select("k", "cb")
        else:
            rc = load_table(spark, rt, sf_dir).select(
                F.col(rk).alias("k")
            ).groupBy("k").agg(F.count("*").alias("cb"))
        j = lc.join(rc, "k")
        row = j.agg(
            F.count("*").cast("long").alias("matching_keys"),
            F.sum(F.col("ca") * F.col("cb")).cast("long")
            .alias("join_rows"),
            F.max(F.col("ca") * F.col("cb")).cast("long")
            .alias("max_key_fanout"),
        ).select(
            F.lit(edge).alias("edge"),
            "matching_keys", "join_rows", "max_key_fanout",
        )
        out = row if out is None else out.unionByName(row)
    return out


JOIN_SIZE_ESTIMATE_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{edge}' AS edge,
       CAST(COUNT(*) AS BIGINT) AS matching_keys,
       CAST(SUM(ca * cb) AS BIGINT) AS join_rows,
       CAST(MAX(ca * cb) AS BIGINT) AS max_key_fanout
FROM (SELECT {lk} AS k, CAST(COUNT(*) AS BIGINT) AS ca
      FROM {lt} GROUP BY {lk}) l
JOIN (SELECT {rk} AS k, CAST(COUNT(*) AS BIGINT) AS cb
      FROM {rt} GROUP BY {rk}) r USING (k)"""
    for edge, lt, lk, rt, rk in _JOIN_EDGES
)


# -------------------------------------------------------- skyline_parts
def skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) of the part catalog: parts for which
    no other part is both cheaper-or-equal AND larger-or-equal with
    at least one strict — the classic multi-objective shortlist
    (minimize p_retailprice, maximize p_size).

    Shape: never the quadratic NOT-EXISTS dominance join. Collapse to
    the per-price level (price -> max size, one partial-agg shuffle),
    then compute the STRICT prefix max over increasing price with the
    stitch discipline: running max inside floor(price) buckets +
    broadcast exclusive per-bucket prefix — no global window even
    though the frontier test is a global order statistic. A part is
    on the frontier iff it carries its price level's max size and
    beats every strictly-cheaper level's max.
    """
    part = load_table(spark, "part", sf_dir)
    lvl = part.groupBy(F.col("p_retailprice").alias("pr")).agg(
        F.max("p_size").alias("ms"))
    lvl = lvl.withColumn("bkt", F.floor("pr"))
    # within-bucket running max over strictly-preceding price levels
    wrun = (
        Window.partitionBy("bkt").orderBy("pr")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # bounded bucket table -> exclusive prefix max computed from
    # O(#buckets) driver state (the orders_backlog stitch), broadcast
    btot = {
        r["bkt"]: r["bmax"]
        for r in lvl.groupBy("bkt").agg(
            F.max("ms").alias("bmax")).collect()
    }
    offs, run = [], None
    for b in sorted(btot):
        offs.append((b, run))
        run = btot[b] if run is None else max(run, btot[b])
    boff = spark.createDataFrame(
        offs or [(0, None)], "bkt bigint, prevb int")
    lv2 = (
        lvl.withColumn("prevrun", F.max("ms").over(wrun))
        .join(F.broadcast(boff), "bkt")
        .select(
            "pr", "ms",
            F.greatest(
                F.coalesce("prevrun", F.lit(-1)),
                F.coalesce("prevb", F.lit(-1)),
            ).alias("prevmax"),
        )
    )
    return (
        part.join(F.broadcast(lv2),
                  part["p_retailprice"] == lv2["pr"])
        .filter((F.col("p_size") == F.col("ms"))
                & (F.col("p_size") > F.col("prevmax")))
        .select("p_partkey", "p_name", "p_retailprice", "p_size")
    )


SKYLINE_PARTS_SQL = """
WITH lvl AS (
  SELECT p_retailprice AS pr, MAX(p_size) AS ms
  FROM part GROUP BY p_retailprice
),
pm AS (
  SELECT pr, ms,
         COALESCE(MAX(ms) OVER (ORDER BY pr
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), -1) AS prevmax
  FROM lvl
)
SELECT p.p_partkey, p.p_name, p.p_retailprice, p.p_size
FROM part p JOIN pm ON p.p_retailprice = pm.pr
WHERE p.p_size = pm.ms AND p.p_size > pm.prevmax
"""


# ----------------------------------------------- customer_repeat_cohort
def customer_repeat_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order-month cohort census over orders: cohort size,
    repeat-buyer count and rate, mean orders per customer — the
    retention table every growth dashboard leads with.

    Shape: one partial-agg shuffle on o_custkey reduces orders to a
    per-customer (cohort, n_orders) row; the cohort census is a
    bounded aggregate (months). Integer counts; the two ratios are
    single fixed-order double divisions at output."""
    orders = load_table(spark, "orders", sf_dir).select(
        "o_custkey", "o_orderdate")
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.date_trunc("month", F.min("o_orderdate")).cast("date")
            .alias("cohort"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
    )
    return (
        per_cust.groupBy("cohort")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum((F.col("n_orders") >= 2).cast("long"))
            .cast("long").alias("n_repeat"),
            F.sum("n_orders").cast("long").alias("total_orders"),
        )
        .select(
            "cohort", "n_customers", "n_repeat", "total_orders",
            (F.col("n_repeat").cast("double")
             / F.col("n_customers").cast("double")).alias("repeat_rate"),
            (F.col("total_orders").cast("double")
             / F.col("n_customers").cast("double"))
            .alias("orders_per_customer"),
        )
    )


CUSTOMER_REPEAT_COHORT_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS cohort,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY o_custkey
)
SELECT cohort,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_repeat,
       CAST(SUM(n_orders) AS BIGINT) AS total_orders,
       CAST(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS repeat_rate,
       CAST(SUM(n_orders) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS orders_per_customer
FROM per_cust GROUP BY cohort
"""


# ------------------------------------------------------ nation_share_yoy
def nation_share_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per customer-nation revenue share of each order year, with the
    year-over-year share delta — the market-mix trend report (q7/q8's
    reporting sibling, but over the whole horizon in one pass).

    Shape: orders shuffle-joins customer on custkey (both fact-sized
    at scale), nation dim broadcast; one partial-agg shuffle to the
    BOUNDED (nation, year) table — localCheckpointed, because the
    year totals, the share projection, and the year-1 lag all
    reference it and would each replay the fact join otherwise (r7
    scan audit: 4 orders+customer scans; now 1); year totals and the
    lag are broadcast self-joins on that bounded table — no window.
    Money sums ride DECIMAL accumulators and cast to DOUBLE once at
    output (q6 discipline); shares and deltas are fixed-order double
    expressions of those casts."""
    orders = load_table(spark, "orders", sf_dir).select(
        "o_custkey", "o_orderdate", "o_totalprice")
    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_nationkey")
    nation = load_table(spark, "nation", sf_dir).select(
        "n_nationkey", "n_name")
    ny = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").alias("yr"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(38,2)"))
             .alias("rev"))
        .transform(cut)
    )
    ytot = ny.groupBy("yr").agg(F.sum("rev").alias("yrev"))
    cur = (
        ny.join(F.broadcast(ytot), "yr")
        .select(
            "nation", "yr",
            F.col("rev").cast("double").alias("revenue"),
            (F.col("rev").cast("double") / F.col("yrev").cast("double"))
            .alias("share"),
        )
    )
    prev = cur.select(
        "nation", (F.col("yr") + 1).alias("yr"),
        F.col("share").alias("share_prev"))
    return (
        cur.join(F.broadcast(prev), ["nation", "yr"], "left")
        .select(
            "nation", "yr", "revenue", "share", "share_prev",
            (F.col("share") - F.col("share_prev")).alias("yoy_pp"),
        )
    )


NATION_SHARE_YOY_SQL = """
WITH ny AS (
  SELECT n.n_name AS nation, year(o.o_orderdate) AS yr,
         SUM(CAST(o.o_totalprice AS DECIMAL(38,2))) AS rev
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name, year(o.o_orderdate)
),
ytot AS (SELECT yr, SUM(rev) AS yrev FROM ny GROUP BY yr),
cur AS (
  SELECT nation, ny.yr, CAST(rev AS DOUBLE) AS revenue,
         CAST(rev AS DOUBLE) / CAST(yrev AS DOUBLE) AS share
  FROM ny JOIN ytot ON ny.yr = ytot.yr
)
SELECT a.nation, a.yr, a.revenue, a.share,
       b.share AS share_prev, a.share - b.share AS yoy_pp
FROM cur a LEFT JOIN cur b
  ON a.nation = b.nation AND a.yr = b.yr + 1
"""


# ---------------------------------------------------- top_returned_parts
RETURN_TOPK = 20


def top_returned_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by RETURNED revenue (l_returnflag = 'R') with
    return-line counts — the product-quality leaderboard q10 runs at
    customer grain, here at part grain. Global top-k is
    TakeOrderedAndProject over the per-part aggregate (one
    partial-agg shuffle, filter pushed to the scan; never a global
    sort); ranking compares the EXACT decimal revenue (ties to
    partkey) and the output casts to DOUBLE once."""
    li = load_table(spark, "lineitem", sf_dir)
    agg = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_return_lines"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)")
                  * (F.lit(1).cast("decimal(9,4)")
                     - F.col("l_discount").cast("decimal(9,4)")))
            .alias("rev"),
        )
    )
    return (
        agg.orderBy(F.desc("rev"), F.asc("l_partkey"))
        .limit(RETURN_TOPK)
        .select(
            "l_partkey", "n_return_lines",
            F.col("rev").cast("double").alias("returned_revenue"),
        )
    )


TOP_RETURNED_PARTS_SQL = f"""
SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_return_lines,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                * (CAST(1 AS DECIMAL(9,4))
                   - CAST(l_discount AS DECIMAL(9,4)))) AS DOUBLE)
         AS returned_revenue
FROM lineitem
WHERE l_returnflag = 'R'
GROUP BY l_partkey
ORDER BY SUM(CAST(l_extendedprice AS DECIMAL(18,4))
             * (CAST(1 AS DECIMAL(9,4))
                - CAST(l_discount AS DECIMAL(9,4)))) DESC,
         l_partkey ASC
LIMIT {RETURN_TOPK}
"""


# ----------------------------------------------------- returns_mix_shift
def returns_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Category-mix drift on the fact table: per ship year, the
    total-variation distance between this year's and the previous
    year's (returnflag, linestatus) distribution — the relational
    twin of events_drift's first-vs-second-half monitor, reported as
    a year-over-year series.

    Exactness: TVD accumulates 0.5·Σ|c_cur·N_prev − c_prev·N_cur| in
    exact DECIMAL integer arithmetic with ONE double division per
    year (the events_drift discipline). Shape: one partial-agg
    shuffle to the bounded (year, flag, status) table —
    localCheckpointed, since the lag self-join references it twice
    and the year totals a third time, each replaying the lineitem
    scan otherwise (r7 scan audit: 4 scans, now 1); the lag
    alignment is a broadcast self-join on that bounded table. A
    category absent in one year still contributes — the full outer
    join keeps both sides' categories with zero fills."""
    li = load_table(spark, "lineitem", sf_dir)
    yc = (
        li.groupBy(
            F.year("l_shipdate").alias("yr"),
            "l_returnflag", "l_linestatus",
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(cut)
    )
    cur = yc.select("yr", "l_returnflag", "l_linestatus",
                    F.col("c").alias("c_cur"))
    prv = yc.select((F.col("yr") + 1).alias("yr"), "l_returnflag",
                    "l_linestatus", F.col("c").alias("c_prev"))
    both = (
        cur.join(F.broadcast(prv),
                 ["yr", "l_returnflag", "l_linestatus"], "full")
        .fillna({"c_cur": 0, "c_prev": 0})
    )
    tot = both.groupBy("yr").agg(
        F.sum("c_cur").cast("long").alias("n_cur"),
        F.sum("c_prev").cast("long").alias("n_prev"))
    return (
        both.join(F.broadcast(tot), "yr")
        .filter((F.col("n_cur") > 0) & (F.col("n_prev") > 0))
        .groupBy("yr")
        .agg(
            F.min("n_cur").alias("n_lines"),
            F.min("n_prev").alias("n_lines_prev"),
            (F.sum(F.abs(
                F.col("c_cur").cast("decimal(38,0)") * F.col("n_prev")
                - F.col("c_prev").cast("decimal(38,0)") * F.col("n_cur")
            )).cast("double")
             / (F.lit(2.0) * F.min("n_cur").cast("double")
                * F.min("n_prev").cast("double"))).alias("tvd"),
        )
    )


RETURNS_MIX_SHIFT_SQL = """
WITH yc AS (
  SELECT year(l_shipdate) AS yr, l_returnflag, l_linestatus,
         COUNT(*) AS c
  FROM lineitem GROUP BY 1, 2, 3
),
mixed AS (
  SELECT COALESCE(cur.yr, prv.yr) AS yr,
         COALESCE(cur.c, 0) AS c_cur,
         COALESCE(prv.c, 0) AS c_prev
  FROM yc cur
  FULL JOIN (SELECT yr + 1 AS yr, l_returnflag, l_linestatus, c
             FROM yc) prv
    ON cur.yr = prv.yr AND cur.l_returnflag = prv.l_returnflag
       AND cur.l_linestatus = prv.l_linestatus
),
tot AS (
  SELECT yr, CAST(SUM(c_cur) AS BIGINT) AS n_cur,
         CAST(SUM(c_prev) AS BIGINT) AS n_prev
  FROM mixed GROUP BY yr
)
SELECT b.yr, MIN(n_cur) AS n_lines, MIN(n_prev) AS n_lines_prev,
       CAST(SUM(abs(CAST(c_cur AS DECIMAL(38,0)) * n_prev
                    - CAST(c_prev AS DECIMAL(38,0)) * n_cur))
            AS DOUBLE)
         / (2.0 * CAST(MIN(n_cur) AS DOUBLE)
            * CAST(MIN(n_prev) AS DOUBLE)) AS tvd
FROM mixed b JOIN tot ON b.yr = tot.yr
WHERE n_cur > 0 AND n_prev > 0
GROUP BY b.yr
"""


# ------------------------------------------------ discount_qty_elasticity
ELASTICITY_MIN_N = 5


def discount_qty_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part OLS slope of quantity on discount: does a deeper
    discount actually move more units of this part? Parts with at
    least ELASTICITY_MIN_N order lines and non-degenerate discount
    variation get a slope (units per discount point) — the pricing
    elasticity screen.

    Exactness: discounts live on a 1/100 grid and quantities on an
    integer grid — both are scaled to exact BIGINTs (floor(v*100 +
    0.5), the cross-engine half-up), the five OLS moments are exact
    integer sums, and the slope is ONE fixed-order double expression
    (the events_autocorr discipline). Shape: a single partial-agg
    shuffle on l_partkey; output scales with the key like
    cdc_apply."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_partkey",
        F.expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)")
        .alias("x"),
        F.expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").alias("y"),
    )
    m = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return (
        m.filter((F.col("n") >= ELASTICITY_MIN_N) & (den > 0))
        .select(
            "l_partkey", "n",
            # x is in discount points (1/100): slope per point * 100
            # = units per unit discount; keep points for readability
            (num.cast("double") / den.cast("double"))
            .alias("units_per_discount_point"),
        )
    )


DISCOUNT_QTY_ELASTICITY_SQL = f"""
WITH li AS (
  SELECT l_partkey,
         CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS x,
         CAST(floor(l_quantity + 0.5) AS BIGINT) AS y
  FROM lineitem
),
m AS (
  SELECT l_partkey,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM li GROUP BY l_partkey
)
SELECT l_partkey, n,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / CAST(n * sxx - sx * sx AS DOUBLE)
         AS units_per_discount_point
FROM m
WHERE n >= {ELASTICITY_MIN_N} AND n * sxx - sx * sx > 0
"""


# -------------------------------------------------------- join_key_skew
_SKEW_KEYS = ("l_partkey", "l_suppkey", "l_orderkey")


def join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew census over the fact table: for each candidate
    join key, the key cardinality, heaviest-key count, exact p99 of
    the per-key count distribution, and the row share held by keys
    at-or-above that p99 — the diagnostic that decides whether a join
    needs salting (functions/skew.py) before it ships.

    Shape: ONE column-pruned scan for all keys — each row explodes
    into (key_col, key_val) pairs so the three per-key count tables
    come out of a single shuffle (same shuffled bytes as three
    per-key jobs, a third of the fact-table reads — r7 scan audit
    measured 6 scans in the per-key-loop shape, this is 1). The
    bounded count table is localCheckpointed (its two consumers — the
    exact-percentile stats and the heavy-rows sum — would each replay
    the scan otherwise); per-key p99 is a grouped exact percentile
    (interpolation parity with quantile_cont; swap approx_percentile
    when the KEY cardinality itself is unbounded) broadcast back onto
    the count table. Counts exact; the share is one double
    division."""
    li = load_table(spark, "lineitem", sf_dir)
    # int tag in the shuffle (a third the tag bytes of the column
    # name); mapped back to the name on the bounded post-agg rows
    pairs = li.select(F.explode(F.array(*[
        F.struct(F.lit(i).cast("int").alias("kid"),
                 F.col(k).cast("long").alias("key_val"))
        for i, k in enumerate(_SKEW_KEYS)
    ])).alias("e")).select("e.*")
    counts = (
        pairs.groupBy("kid", "key_val")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # both consumers below sit on the IDENTICAL (kid, key_val)
    # exchange, so AQE plans the second as a ReusedExchange — no
    # barrier needed (the fk_integrity-style checkpoint measured
    # slower here: materializing the 170k-row count table costs more
    # than the reused shuffle read)
    stats = F.broadcast(counts.groupBy("kid").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_rows"),
        F.max("cnt").cast("long").alias("max_cnt"),
        F.expr("percentile(cnt, 0.99)").alias("p99_cnt"),
    ))
    name = F.array(*[F.lit(k) for k in _SKEW_KEYS])
    return (
        counts.join(stats, "kid")
        .groupBy("kid", "n_keys", "n_rows", "max_cnt", "p99_cnt")
        .agg(F.sum(F.when(F.col("cnt") >= F.col("p99_cnt"),
                          F.col("cnt")).otherwise(0))
             .cast("long").alias("heavy_rows"))
        .select(
            F.element_at(name, F.col("kid") + 1).alias("key_col"),
            "n_keys", "n_rows", "max_cnt", "p99_cnt",
            (F.col("heavy_rows").cast("double")
             / F.col("n_rows").cast("double")).alias("heavy_share"),
        )
    )


def _skew_block_sql(k: str) -> str:
    return f"""
  SELECT '{k}' AS key_col, n_keys, n_rows, max_cnt, p99_cnt,
         CAST(heavy_rows AS DOUBLE) / CAST(n_rows AS DOUBLE)
           AS heavy_share
  FROM (
    SELECT MIN(n_keys) AS n_keys, MIN(n_rows) AS n_rows,
           MIN(max_cnt) AS max_cnt, MIN(p99_cnt) AS p99_cnt,
           CAST(SUM(CASE WHEN cnt >= p99_cnt THEN cnt ELSE 0 END)
                AS BIGINT) AS heavy_rows
    FROM (SELECT {k} AS key, COUNT(*) AS cnt
          FROM lineitem GROUP BY {k}) c
    CROSS JOIN (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(cnt) AS BIGINT) AS n_rows,
             CAST(MAX(cnt) AS BIGINT) AS max_cnt,
             quantile_cont(cnt, 0.99) AS p99_cnt
      FROM (SELECT {k} AS key, COUNT(*) AS cnt
            FROM lineitem GROUP BY {k}) s
    ) st
  )
"""


JOIN_KEY_SKEW_SQL = " UNION ALL ".join(
    _skew_block_sql(k) for k in _SKEW_KEYS)


# --------------------------------------------------------- revenue_gini
def revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of per-customer order revenue — the
    whole Lorenz-curve inequality summary, not just a top-k share
    (revenue_concentration reports that point estimate).

    Gini needs every customer's GLOBAL revenue rank — the classic
    "requires a total order" trap. Never a single-partition window:
    ranks come from the partitioned prefix-sum stitch
    (range_partition_hist discipline) — repartitionByRange on
    (revenue, custkey), per-partition counts to O(#partitions)
    driver state, broadcast offsets + within-partition row_number.
    Arithmetic: revenue in exact integer cents, the rank-weighted
    sum Σ(2i-n-1)·x_i in exact BIGINTs (fits under 2^53 through
    sf0.1; widen to DECIMAL(38,0) + the DIV/% split beyond), ONE
    double division at output."""
    from pyspark.sql import Window

    orders = load_table(spark, "orders", sf_dir)
    rev = (
        orders.groupBy("o_custkey")
        .agg((F.sum(F.col("o_totalprice").cast("decimal(38,2)"))
              * 100).cast("long").alias("cents"))
    )
    kr = (
        rev.repartitionByRange(32, "cents", "o_custkey")
        .withColumn("pid", F.spark_partition_id())
        .transform(cut)
    )
    ptots = {
        r["pid"]: r["n"]
        for r in kr.groupBy("pid").agg(
            F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, run = [], 0
    for pid in sorted(ptots):
        offsets.append((pid, run))
        run += ptots[pid]
    off_df = spark.createDataFrame(offsets or [(0, 0)],
                                   "pid int, off long")
    w = Window.partitionBy("pid").orderBy("cents", "o_custkey")
    ranked = (
        kr.withColumn("i_in", F.row_number().over(w))
        .join(F.broadcast(off_df), "pid")
        .select("cents", (F.col("i_in") + F.col("off")).alias("i"))
    )
    n = F.lit(run).cast("long")
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.sum((2 * F.col("i") - n - 1) * F.col("cents"))
        .cast("long").alias("num"),
    )
    return agg.select(
        "n_customers",
        (F.col("total_cents").cast("double") / F.lit(100.0))
        .alias("total_revenue"),
        (F.col("num").cast("double")
         / (F.col("n_customers").cast("double")
            * F.col("total_cents").cast("double"))).alias("gini"),
    )


REVENUE_GINI_SQL = """
WITH rev AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) * 100
              AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT cents,
         ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i,
         COUNT(*) OVER () AS n
  FROM rev
)
SELECT CAST(MIN(n) AS BIGINT) AS n_customers,
       CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE) / 100.0
         AS total_revenue,
       CAST(CAST(SUM((2 * i - n - 1) * cents) AS BIGINT)
            AS DOUBLE)
         / (CAST(MIN(n) AS DOUBLE)
            * CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE)) AS gini
FROM ranked
"""


MIN_SUPPORT = 2


# ------------------------------------------------------------ assoc_rules
def assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over co-ordered parts: for every pair with
    support >= MIN_SUPPORT, the support count, P(b|a), P(a|b), and
    lift — the full rule statistics a recommender shortlist needs
    beyond basket_pairs' raw co-occurrence top-k.

    Shape: the per-order sorted part-SET table (order_part_sets) is
    the shared input of every branch — localCheckpointed, because the
    basket total, the per-item counts, and the pair expansion all
    reference it. collect_set dedups, so the old distinct() +
    countDistinct pre-pass (a full extra corpus shuffle before the
    order grouping, r10 plan audit) is gone: ONE groupBy(l_orderkey)
    shuffle builds the statistic; basket total = its row count,
    per-item basket counts = explode + partial-agg count, pairs =
    the bounded in-array expansion (fan-out lines-per-order choose 2,
    linear in orders). All counts exact; confidences and lift are
    fixed-order double divisions."""
    from distributed_system_mapreduce_spark.functions.graphs import (
        explode_pairs,
        order_part_sets,
    )

    li = load_table(spark, "lineitem", sf_dir)
    sets = order_part_sets(li).transform(cut)
    n_baskets = F.broadcast(
        sets.agg(F.count(F.lit(1)).cast("long").alias("nb")))
    item = sets.select(F.explode("a").alias("l_partkey")).groupBy(
        "l_partkey").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    pairs = (
        explode_pairs(sets)
        .groupBy("u", "v").agg(F.count(F.lit(1)).alias("w"))
        .select(F.col("u").alias("part_a"),
                F.col("v").alias("part_b"),
                F.col("w").cast("long").alias("support"))
        .filter(F.col("support") >= MIN_SUPPORT)
    )
    ia = item.select(F.col("l_partkey").alias("part_a"),
                     F.col("cnt").alias("cnt_a"))
    ib = item.select(F.col("l_partkey").alias("part_b"),
                     F.col("cnt").alias("cnt_b"))
    return (
        pairs.join(ia, "part_a").join(ib, "part_b")
        .crossJoin(n_baskets)
        .select(
            "part_a", "part_b", "support", "cnt_a", "cnt_b",
            (F.col("support").cast("double")
             / F.col("cnt_a").cast("double")).alias("conf_a_to_b"),
            (F.col("support").cast("double")
             / F.col("cnt_b").cast("double")).alias("conf_b_to_a"),
            ((F.col("support").cast("double")
              * F.col("nb").cast("double"))
             / (F.col("cnt_a").cast("double")
                * F.col("cnt_b").cast("double"))).alias("lift"),
        )
    )


ASSOC_RULES_SQL = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
nb AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS nb FROM li),
item AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM li GROUP BY l_partkey
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(COUNT(*) AS BIGINT) AS support
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {MIN_SUPPORT}
)
SELECT part_a, part_b, support,
       ia.cnt AS cnt_a, ib.cnt AS cnt_b,
       CAST(support AS DOUBLE) / CAST(ia.cnt AS DOUBLE)
         AS conf_a_to_b,
       CAST(support AS DOUBLE) / CAST(ib.cnt AS DOUBLE)
         AS conf_b_to_a,
       (CAST(support AS DOUBLE) * CAST(nb AS DOUBLE))
         / (CAST(ia.cnt AS DOUBLE) * CAST(ib.cnt AS DOUBLE)) AS lift
FROM pairs
JOIN item ia ON pairs.part_a = ia.l_partkey
JOIN item ib ON pairs.part_b = ib.l_partkey
CROSS JOIN nb
"""


# ------------------------------------------------- customer_decile_migration
_SPLIT_DATE = "1995-06-01"


def customer_decile_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer revenue-decile migration matrix: rank every customer
    into spend deciles before and after {_SPLIT_DATE}, then count the
    (decile_before, decile_after) transitions for customers active in
    both halves — the churn-vs-upsell movement picture behind
    customer_rfm's static snapshot.

    Decile boundaries are the exact interpolating percentile over the
    per-customer revenue (integer ten-thousandths, so the input set
    is exact); a customer's decile = how many boundaries their
    revenue strictly exceeds — value-based, deterministic under ties,
    and NO global rank window (the boundary array is a broadcast
    1-row aggregate; assignment is a narrow filter-count over a
    9-element array). ONE fact join + ONE partial-agg shuffle to the
    per-(customer, half) revenue table (localCheckpointed — 3 ints
    per active customer-half); both halves' boundary percentiles and
    decile assignments are toy re-reads of it. The per-half shape
    scanned lineitem and orders four times each (r7 scan audit)."""
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderdate")
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey",
        (F.col("l_extendedprice").cast("decimal(18,2)")
         * (F.lit(1).cast("decimal(18,2)")
            - F.col("l_discount").cast("decimal(18,2)")))
        .alias("rev"))
    cutoff = F.to_date(F.lit(_SPLIT_DATE))
    per = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey",
                 (F.col("o_orderdate") >= cutoff).alias("after"))
        .agg((F.sum("rev") * 10000).cast("decimal(38,0)")
             .cast("long").alias("v"))
        .transform(cut)
    )

    def half(after, tag):
        per_cust = per.filter(F.col("after") == after)
        bounds = F.broadcast(per_cust.agg(F.expr(
            "percentile(v, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))"
        ).alias("bs")))
        return per_cust.crossJoin(bounds).select(
            F.col("o_custkey").alias("custkey"),
            F.expr("CAST(size(filter(bs, b -> v > b)) AS BIGINT)")
            .alias(tag),
        )

    a = half(False, "decile_before")
    b = half(True, "decile_after")
    return (
        a.join(b, "custkey")
        .groupBy("decile_before", "decile_after")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    )


CUSTOMER_DECILE_MIGRATION_SQL = f"""
WITH j AS (
  SELECT o_custkey, o_orderdate,
         CAST(l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(18,2))
              - CAST(l_discount AS DECIMAL(18,2))) AS rev
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
pa AS (
  SELECT o_custkey,
         CAST(CAST(SUM(rev) AS DECIMAL(38,4)) * 10000 AS BIGINT) AS v
  FROM j WHERE o_orderdate < DATE '{_SPLIT_DATE}' GROUP BY o_custkey
),
pb AS (
  SELECT o_custkey,
         CAST(CAST(SUM(rev) AS DECIMAL(38,4)) * 10000 AS BIGINT) AS v
  FROM j WHERE o_orderdate >= DATE '{_SPLIT_DATE}' GROUP BY o_custkey
),
ba AS (SELECT quantile_cont(v,
         [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs FROM pa),
bb AS (SELECT quantile_cont(v,
         [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs FROM pb),
da AS (SELECT o_custkey AS custkey,
              CAST(len(list_filter(ba.bs, b -> v > b)) AS BIGINT)
                AS decile_before
       FROM pa CROSS JOIN ba),
db AS (SELECT o_custkey AS custkey,
              CAST(len(list_filter(bb.bs, b -> v > b)) AS BIGINT)
                AS decile_after
       FROM pb CROSS JOIN bb)
SELECT decile_before, decile_after,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM da JOIN db USING (custkey)
GROUP BY decile_before, decile_after
"""


# ----------------------------------------------------------- order_total_audit
AUDIT_TOL = "0.01"  # money tolerance, exact decimal literal


def order_total_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table financial consistency audit: does each order's
    stored o_totalprice equal the recomputed charge
    Σ extprice·(1-disc)·(1+tax) over its lineitems? Per order status:
    order count, orders with NO lineitems at all, orders off by more
    than a cent, and the worst absolute discrepancy — the
    reconciliation pass a warehouse runs before trusting a
    denormalized column (fk_integrity checks the keys; this checks
    the VALUES).

    Exactness: the charge accumulates 6-decimal products of exact
    2-decimal DECIMALs; the discrepancy stays DECIMAL through abs/max
    and casts to double only at output (magnitudes far below 2^53).
    Shape: one fact-fact equi-join shuffle on orderkey (AQE skew
    handling), partial-agg to per-order, bounded status rollup."""
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("stored"))
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey",
        (F.col("l_extendedprice").cast("decimal(18,2)")
         * (F.lit(1).cast("decimal(18,2)")
            - F.col("l_discount").cast("decimal(18,2)"))
         * (F.lit(1).cast("decimal(18,2)")
            + F.col("l_tax").cast("decimal(18,2)"))).alias("charge"))
    # r10 (guide §2.3, aggregate before you shuffle): fold lineitem
    # to per-order (n_lines, charge sum) BEFORE the join — the
    # partial agg map-side-combines ~4 lines/order into one row, so
    # the exchange carries order-count rows instead of line-count
    # rows, and the join consumes the agg's hash partitioning (one
    # exchange on each side instead of a full fact-fact line-level
    # shuffle + re-agg). Identical arithmetic: charge is never NULL,
    # so count(*) == count(charge), and an order with no lineitems
    # surfaces as a join miss -> n_lines 0 / adiff NULL exactly as
    # the old left-join + count produced.
    per_li = (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).cast("long").alias("nl"),
             F.sum("charge").cast("decimal(38,6)").alias("computed"))
    )
    per = (
        o.join(per_li, F.col("o_orderkey") == F.col("l_orderkey"),
               "left")
        .select(
            "o_orderstatus",
            F.coalesce(F.col("nl"), F.lit(0).cast("long"))
            .alias("n_lines"),
            F.when(F.col("nl").isNotNull(),
                   F.abs(F.col("stored").cast("decimal(38,6)")
                         - F.col("computed"))).alias("adiff"),
        )
    )
    return (
        per.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum((F.col("n_lines") == 0).cast("long")).cast("long")
            .alias("n_no_lines"),
            F.sum((F.col("adiff") > F.expr(
                f"CAST({AUDIT_TOL} AS DECIMAL(38,6))")).cast("long"))
            .cast("long").alias("n_mismatch"),
            F.max("adiff").cast("double").alias("max_abs_diff"),
        )
    )


ORDER_TOTAL_AUDIT_SQL = f"""
WITH per AS (
  SELECT o.o_orderstatus,
         COUNT(l.l_orderkey) AS n_lines,
         CASE WHEN COUNT(l.l_orderkey) > 0 THEN
           abs(CAST(CAST(o.o_totalprice AS DECIMAL(18,2))
                    AS DECIMAL(38,6))
               - CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (CAST(1 AS DECIMAL(18,2))
                             - CAST(l_discount AS DECIMAL(18,2)))
                          * (CAST(1 AS DECIMAL(18,2))
                             + CAST(l_tax AS DECIMAL(18,2))))
                      AS DECIMAL(38,6)))
         END AS adiff
  FROM orders o LEFT JOIN lineitem l ON l_orderkey = o_orderkey
  GROUP BY o.o_orderkey, o.o_orderstatus, o.o_totalprice
)
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN n_lines = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_no_lines,
       CAST(SUM(CASE WHEN adiff > CAST({AUDIT_TOL} AS DECIMAL(38,6))
                THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
       CAST(MAX(adiff) AS DOUBLE) AS max_abs_diff
FROM per
GROUP BY o_orderstatus
"""


# ------------------------------------------------------- weighted_median_price
_WM_BUCKET = 1 << 20  # price-cent bucket width for the prefix stitch


def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact QUANTITY-WEIGHTED median unit price per return flag —
    'half the shipped volume moved at or below this price', which the
    unweighted price_quantiles cannot say and approx_percentile
    cannot weight at all.

    Exact and global with no global window: prices quantize to
    integer cents and aggregate to the (flag, price) value grid;
    cumulative weight = a (flag, price-bucket)-partitioned window
    PLUS a triangular broadcast prefix over the bounded bucket grid
    (the events_concurrency stitch); the answer is the MIN price
    whose cumulative weight reaches the lower-median threshold
    (W+1) DIV 2 — pure integer compares, deterministic under ties.
    One double division (cents -> dollars) at output.

    ONE lineitem scan: the (flag, price) value grid is the
    sufficient statistic (localCheckpointed) — bucket sums, the
    triangular prefix, the in-bucket window, and the per-flag weight
    totals are all re-aggregates of it (the four-branch shape
    re-scanned lineitem four times, r7 scan audit)."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_returnflag",
        F.expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100"
               " AS BIGINT)").alias("pc"),
        F.col("l_quantity").cast("long").alias("w"))
    grid = (
        li.groupBy("l_returnflag", "pc")
        .agg(F.sum("w").cast("long").alias("sw"))
        .withColumn("b", F.expr(f"pc DIV {_WM_BUCKET}"))
        .transform(cut)
    )
    bsum = grid.groupBy("l_returnflag", "b").agg(
        F.sum("sw").cast("long").alias("bw"))
    pre = (
        bsum.alias("x")
        .join(F.broadcast(bsum.alias("y")),
              (F.col("x.l_returnflag") == F.col("y.l_returnflag"))
              & (F.col("y.b") < F.col("x.b")), "left")
        .groupBy(F.col("x.l_returnflag").alias("l_returnflag"),
                 F.col("x.b").alias("b"))
        .agg(F.coalesce(F.sum("y.bw"), F.lit(0)).cast("long")
             .alias("pre"))
    )
    wcum = Window.partitionBy("l_returnflag", "b").orderBy("pc") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tot = F.broadcast(
        grid.groupBy("l_returnflag")
        .agg(F.sum("sw").cast("long").alias("wtot")))
    cum = (
        grid.withColumn("inb", F.sum("sw").over(wcum))
        .join(F.broadcast(pre), ["l_returnflag", "b"])
        .join(tot, "l_returnflag")
        .select("l_returnflag", "pc", "wtot",
                (F.col("pre") + F.col("inb")).alias("cum"))
    )
    return (
        cum.filter(F.col("cum") >= F.expr("(wtot + 1) DIV 2"))
        .groupBy("l_returnflag")
        .agg(F.min("wtot").alias("total_weight"),
             (F.min("pc").cast("double") / F.lit(100.0))
             .alias("weighted_median_price"))
    )


WEIGHTED_MEDIAN_PRICE_SQL = """
WITH rows_ AS (
  SELECT l_returnflag,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS pc,
         CAST(l_quantity AS BIGINT) AS w
  FROM lineitem
),
grid AS (
  SELECT l_returnflag, pc, CAST(SUM(w) AS BIGINT) AS sw
  FROM rows_ GROUP BY l_returnflag, pc
),
cum AS (
  SELECT l_returnflag, pc,
         CAST(SUM(sw) OVER (PARTITION BY l_returnflag ORDER BY pc
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM grid
),
tot AS (
  SELECT l_returnflag, CAST(SUM(w) AS BIGINT) AS wtot
  FROM rows_ GROUP BY l_returnflag
)
SELECT c.l_returnflag, MIN(wtot) AS total_weight,
       CAST(MIN(pc) AS DOUBLE) / 100.0 AS weighted_median_price
FROM cum c JOIN tot USING (l_returnflag)
WHERE cum >= (wtot + 1) // 2
GROUP BY c.l_returnflag
"""


# ---------------------------------------------------- orders_seasonal_index
def orders_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal index per calendar month: (avg revenue of that month
    across years) / (avg revenue across all year-months). Index > 1 =
    seasonally strong month. Monthly revenue is DECIMAL-exact; the
    index is a ratio of two fixed-order doubles."""
    orders = load_table(spark, "orders", sf_dir)
    monthly = orders.groupBy(
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
          .alias("rev"))
    per_month = monthly.groupBy("m").agg(
        F.count("*").cast("long").alias("n_years"),
        F.sum("rev").alias("tot"),
    )
    grand = monthly.groupBy().agg(
        F.count("*").cast("long").alias("ng"),
        F.sum("rev").alias("gt"),
    )
    return (
        per_month.crossJoin(F.broadcast(grand))
        .selectExpr(
            "CAST(m AS BIGINT) AS month", "n_years",
            "CAST(tot AS DOUBLE) AS month_revenue",
            "(CAST(tot AS DOUBLE) / n_years)"
            " / (CAST(gt AS DOUBLE) / ng) AS seasonal_index",
        )
    )


ORDERS_SEASONAL_INDEX_SQL = """
WITH monthly AS (
  SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
         SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
  FROM orders GROUP BY 1, 2
),
per_month AS (
  SELECT m, CAST(COUNT(*) AS BIGINT) AS n_years, SUM(rev) AS tot
  FROM monthly GROUP BY m
),
grand AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS ng, SUM(rev) AS gt FROM monthly
)
SELECT CAST(m AS BIGINT) AS month, n_years,
       CAST(tot AS DOUBLE) AS month_revenue,
       (CAST(tot AS DOUBLE) / n_years)
         / (CAST(gt AS DOUBLE) / ng) AS seasonal_index
FROM per_month CROSS JOIN grand
"""


# ---------------------------------------------------- supplier_volume_skew
SUPPLIER_TOPK = 10


def supplier_volume_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 suppliers by lineitem row volume with their corpus
    share and ratio to the mean supplier load — the named hot-key
    census (join_key_skew reports the percentile envelope; this
    names the offenders). One partial agg onto the supplier grid,
    top-k via TakeOrderedAndProject, the supplier dim broadcast onto
    10 rows, totals broadcast."""
    li = load_table(spark, "lineitem", sf_dir)
    sup = load_table(spark, "supplier", sf_dir)
    per = li.groupBy("l_suppkey").agg(
        F.count("*").cast("long").alias("n_rows"))
    tot = per.groupBy().agg(
        F.sum("n_rows").cast("long").alias("nt"),
        F.count("*").cast("long").alias("n_suppliers"),
    )
    return (
        per.orderBy(F.desc("n_rows"), F.asc("l_suppkey"))
        .limit(SUPPLIER_TOPK)
        .join(F.broadcast(sup.select(
            F.col("s_suppkey").alias("l_suppkey"),
            F.col("s_name").alias("supplier"))), "l_suppkey")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "l_suppkey AS suppkey", "supplier", "n_rows", "n_suppliers",
            "CAST(n_rows AS DOUBLE) / nt AS share",
            "CAST(n_rows AS DOUBLE) / (CAST(nt AS DOUBLE)"
            " / n_suppliers) AS ratio_to_mean",
        )
    )


SUPPLIER_VOLUME_SKEW_SQL = f"""
WITH per AS (
  SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM lineitem GROUP BY l_suppkey
),
tot AS (
  SELECT CAST(SUM(n_rows) AS BIGINT) AS nt,
         CAST(COUNT(*) AS BIGINT) AS n_suppliers
  FROM per
),
top AS (
  SELECT l_suppkey, n_rows FROM per
  ORDER BY n_rows DESC, l_suppkey ASC LIMIT {SUPPLIER_TOPK}
)
SELECT l_suppkey AS suppkey, s_name AS supplier, n_rows, n_suppliers,
       CAST(n_rows AS DOUBLE) / nt AS share,
       CAST(n_rows AS DOUBLE) / (CAST(nt AS DOUBLE) / n_suppliers)
         AS ratio_to_mean
FROM top JOIN supplier ON l_suppkey = s_suppkey CROSS JOIN tot
"""


# ----------------------------------------------------- priority_share_shift
def priority_share_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per order priority: the month with the largest absolute
    month-over-month change in that priority's share of order intake
    — the mix-shift detector. Shares are ratios of exact integer
    counts; deltas compare CONSECUTIVE OBSERVED months (a month with
    zero orders for a priority simply isn't a row — identical
    construction in both engines). Windows partition by priority
    over the bounded month grid."""
    orders = load_table(spark, "orders", sf_dir)
    cell = orders.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("long").alias("mi"),
        F.col("o_orderpriority").alias("mode"),
    ).agg(F.count("*").cast("long").alias("c"))
    mtot = cell.groupBy("mi").agg(F.sum("c").cast("long").alias("mt"))
    share = (
        cell.join(F.broadcast(mtot), "mi")
        .select("mode", "mi",
                (F.col("c").cast("double") / F.col("mt"))
                .alias("share"))
    )
    w = Window.partitionBy("mode").orderBy("mi")
    delta = (
        share.withColumn("prev_share", F.lag("share").over(w))
        .withColumn("prev_mi", F.lag("mi").over(w))
        .filter(F.col("prev_share").isNotNull())
        .withColumn("d", F.col("share") - F.col("prev_share"))
        .withColumn("ad", F.abs(F.col("share") - F.col("prev_share")))
    )
    rk = Window.partitionBy("mode").orderBy(F.desc("ad"), F.asc("mi"))
    return (
        delta.withColumn("rn", F.row_number().over(rk))
        .filter(F.col("rn") == 1)
        .selectExpr("mode AS priority", "mi AS month_idx",
                    "prev_mi AS prev_idx",
                    "share", "prev_share", "d AS share_delta")
    )


PRIORITY_SHARE_SHIFT_SQL = """
WITH cell AS (
  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
           AS mi,
         o_orderpriority AS mode, CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY 1, 2
),
mtot AS (SELECT mi, CAST(SUM(c) AS BIGINT) AS mt FROM cell GROUP BY mi),
share AS (
  SELECT mode, mi, CAST(c AS DOUBLE) / mt AS share
  FROM cell JOIN mtot USING (mi)
),
delta AS (
  SELECT mode, mi, share,
         LAG(share) OVER (PARTITION BY mode ORDER BY mi) AS prev_share,
         LAG(mi) OVER (PARTITION BY mode ORDER BY mi) AS prev_mi
  FROM share
)
SELECT mode AS priority, mi AS month_idx, prev_mi AS prev_idx, share,
       prev_share, share - prev_share AS share_delta
FROM (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY mode
           ORDER BY abs(share - prev_share) DESC, mi ASC) AS rn
  FROM delta WHERE prev_share IS NOT NULL
)
WHERE rn = 1
"""


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_local_supplier": q5_local_supplier,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q10_returned_items": q10_returned_items,
    "order_priority_count": order_priority_count,
    "top_customers": top_customers,
    "q7_nation_volume": q7_nation_volume,
    "q13_order_count_dist": q13_order_count_dist,
    "q14_promo_revenue": q14_promo_revenue,
    "q15_top_supplier": q15_top_supplier,
    "q17_small_qty_revenue": q17_small_qty_revenue,
    "q18_large_orders": q18_large_orders,
    "q19_bracket_revenue": q19_bracket_revenue,
    "q22_idle_customers": q22_idle_customers,
    "q2_best_supplier": q2_best_supplier,
    "q8_market_share": q8_market_share,
    "q9_product_profit": q9_product_profit,
    "q11_part_value_concentration": q11_part_value_concentration,
    "q12_late_shipments": q12_late_shipments,
    "q16_supplier_counts": q16_supplier_counts,
    "q20_heavy_shippers": q20_heavy_shippers,
    "q21_sole_supplier_returns": q21_sole_supplier_returns,
    "price_quantiles": price_quantiles,
    "customer_cohort_ltv": customer_cohort_ltv,
    "basket_pairs": basket_pairs,
    "profile_orders": profile_orders,
    "orders_backlog": orders_backlog,
    "supplier_lead_time": supplier_lead_time,
    "orders_mom_growth": orders_mom_growth,
    "customer_rfm": customer_rfm,
    "revenue_concentration": revenue_concentration,
    "fk_integrity": fk_integrity,
    "join_size_estimate": join_size_estimate,
    "skyline_parts": skyline_parts,
    "customer_repeat_cohort": customer_repeat_cohort,
    "nation_share_yoy": nation_share_yoy,
    "top_returned_parts": top_returned_parts,
    "returns_mix_shift": returns_mix_shift,
    "discount_qty_elasticity": discount_qty_elasticity,
    "join_key_skew": join_key_skew,
    "revenue_gini": revenue_gini,
    "assoc_rules": assoc_rules,
    "customer_decile_migration": customer_decile_migration,
    "order_total_audit": order_total_audit,
    "weighted_median_price": weighted_median_price,
    "orders_seasonal_index": orders_seasonal_index,
    "supplier_volume_skew": supplier_volume_skew,
    "priority_share_shift": priority_share_shift,
}

ORACLES = {
    "q1_pricing_summary": Q1_SQL,
    "q3_shipping_priority": Q3_SQL,
    "q5_local_supplier": Q5_SQL,
    "q6_forecast_revenue": Q6_SQL,
    "q10_returned_items": Q10_SQL,
    "order_priority_count": ORDER_PRIORITY_SQL,
    "top_customers": TOP_CUSTOMERS_SQL,
    "q7_nation_volume": Q7_SQL,
    "q13_order_count_dist": Q13_SQL,
    "q14_promo_revenue": Q14_SQL,
    "q15_top_supplier": Q15_SQL,
    "q17_small_qty_revenue": Q17_SQL,
    "q18_large_orders": Q18_SQL,
    "q19_bracket_revenue": Q19_SQL,
    "q22_idle_customers": Q22_SQL,
    "q2_best_supplier": Q2_SQL,
    "q8_market_share": Q8_SQL,
    "q9_product_profit": Q9_SQL,
    "q11_part_value_concentration": Q11_SQL,
    "q12_late_shipments": Q12_SQL,
    "q16_supplier_counts": Q16_SQL,
    "q20_heavy_shippers": Q20_SQL,
    "q21_sole_supplier_returns": Q21_SQL,
    "price_quantiles": PRICE_QUANTILES_SQL,
    "customer_cohort_ltv": CUSTOMER_COHORT_LTV_SQL,
    "basket_pairs": BASKET_PAIRS_SQL,
    "profile_orders": PROFILE_ORDERS_SQL,
    "orders_backlog": ORDERS_BACKLOG_SQL,
    "supplier_lead_time": SUPPLIER_LEAD_TIME_SQL,
    "orders_mom_growth": ORDERS_MOM_GROWTH_SQL,
    "customer_rfm": CUSTOMER_RFM_SQL,
    "revenue_concentration": REVENUE_CONCENTRATION_SQL,
    "fk_integrity": FK_INTEGRITY_SQL,
    "join_size_estimate": JOIN_SIZE_ESTIMATE_SQL,
    "skyline_parts": SKYLINE_PARTS_SQL,
    "customer_repeat_cohort": CUSTOMER_REPEAT_COHORT_SQL,
    "nation_share_yoy": NATION_SHARE_YOY_SQL,
    "top_returned_parts": TOP_RETURNED_PARTS_SQL,
    "returns_mix_shift": RETURNS_MIX_SHIFT_SQL,
    "discount_qty_elasticity": DISCOUNT_QTY_ELASTICITY_SQL,
    "join_key_skew": JOIN_KEY_SKEW_SQL,
    "revenue_gini": REVENUE_GINI_SQL,
    "assoc_rules": ASSOC_RULES_SQL,
    "customer_decile_migration": CUSTOMER_DECILE_MIGRATION_SQL,
    "order_total_audit": ORDER_TOTAL_AUDIT_SQL,
    "weighted_median_price": WEIGHTED_MEDIAN_PRICE_SQL,
    "orders_seasonal_index": ORDERS_SEASONAL_INDEX_SQL,
    "supplier_volume_skew": SUPPLIER_VOLUME_SKEW_SQL,
    "priority_share_shift": PRIORITY_SHARE_SHIFT_SQL,
}
