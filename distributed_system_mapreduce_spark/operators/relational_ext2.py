"""Second wave of TPC-H-shaped analytics, adapted to the driver's
reduced schema (no partsupp, no commit/receipt dates — each query
keeps the canonical operator SHAPE and swaps the missing column for
an available one).

Shapes covered here: per-group argmax over a 5-way join (Q2),
market-share conditional ratio over a 7-way join (Q8), multi-dim
profit rollup (Q9), scalar-subquery threshold filter (Q11),
conditional bucket counts (Q12), anti-join + distinct count (Q16),
nested semi-join chain (Q20), sole-supplier EXISTS/NOT-EXISTS
grouping (Q21).

Same exactness discipline as relational.py: DECIMAL accumulators,
DOUBLE money outputs (the driver's value hash normalizes primitive
types only), deterministic tie-breaks down to a unique key on every
top-k.

Scale posture: part/supplier/nation/region are broadcast at every
join (dims); the lineitem->orders chain carries the only big
shuffles; distinct-pair reductions (q2/q16/q20) aggregate BEFORE
joining dims so the shuffle carries (partkey, suppkey) pairs, not
full rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_system_mapreduce_spark.operators.relational import _dec
from distributed_system_mapreduce_spark.operators.relational_ext import (
    _REV_SQL,
    _revenue,
)
from distributed_system_mapreduce_spark.tables import load_table


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


def events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(event_type, day): per-type-per-day counts, per-type
    subtotals, grand total, labeled by grouping level — the
    multi-granularity aggregate a reporting pipeline materializes in
    one pass (Catalyst expands the grouping sets; still one shuffle
    with map-side partials)."""
    ev = load_table(spark, "events", sf_dir)
    day = F.to_date("ts").alias("day")
    return (
        ev.select("event_type", day,
                  F.col("value").cast("decimal(18,6)").alias("v"))
        .rollup("event_type", "day")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("v").cast("double").alias("sum_value"),
            F.grouping_id().cast("long").alias("gid"),
        )
    )


EVENTS_ROLLUP_SQL = """
SELECT event_type, day, COUNT(*) AS n_events,
       CAST(CAST(SUM(v) AS DECIMAL(38,6)) AS DOUBLE) AS sum_value,
       GROUPING(event_type, day) AS gid
FROM (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(value AS DECIMAL(18,6)) AS v
  FROM events
)
GROUP BY ROLLUP(event_type, day)
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


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: signup -> first view after signup -> first
    purchase after that view, counted per user in ONE pass (per-user
    conditional min-timestamps, then a global conditional count — no
    self-joins, no step-N x step-M row blowup)."""
    ev = load_table(spark, "events", sf_dir)
    step = lambda t: F.min(  # noqa: E731
        F.when(F.col("event_type") == t, F.col("ts")))
    per_user = ev.groupBy("user_id").agg(
        step("signup").alias("t_signup"),
        step("view").alias("t_view"),
        step("purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.count("t_signup").alias("n_signed_up"),
        F.sum(F.when(F.col("t_view") > F.col("t_signup"), 1)
              .otherwise(0)).alias("n_viewed_after_signup"),
        F.sum(F.when((F.col("t_view") > F.col("t_signup"))
                     & (F.col("t_purchase") > F.col("t_view")), 1)
              .otherwise(0)).alias("n_full_funnel"),
    )


EVENTS_FUNNEL_SQL = """
SELECT COUNT(*) AS n_users,
       COUNT(t_signup) AS n_signed_up,
       CAST(SUM(CASE WHEN t_view > t_signup THEN 1 ELSE 0 END)
            AS BIGINT) AS n_viewed_after_signup,
       CAST(SUM(CASE WHEN t_view > t_signup AND t_purchase > t_view
                THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
FROM (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events
  GROUP BY user_id
)
"""


QUERIES = {
    "q2_best_supplier": q2_best_supplier,
    "q8_market_share": q8_market_share,
    "q9_product_profit": q9_product_profit,
    "q11_part_value_concentration": q11_part_value_concentration,
    "q12_late_shipments": q12_late_shipments,
    "q16_supplier_counts": q16_supplier_counts,
    "q20_heavy_shippers": q20_heavy_shippers,
    "q21_sole_supplier_returns": q21_sole_supplier_returns,
    "price_quantiles": price_quantiles,
    "events_rollup": events_rollup,
    "customer_cohort_ltv": customer_cohort_ltv,
    "events_funnel": events_funnel,
}

ORACLES = {
    "price_quantiles": PRICE_QUANTILES_SQL,
    "events_rollup": EVENTS_ROLLUP_SQL,
    "customer_cohort_ltv": CUSTOMER_COHORT_LTV_SQL,
    "events_funnel": EVENTS_FUNNEL_SQL,
    "q2_best_supplier": Q2_SQL,
    "q8_market_share": Q8_SQL,
    "q9_product_profit": Q9_SQL,
    "q11_part_value_concentration": Q11_SQL,
    "q12_late_shipments": Q12_SQL,
    "q16_supplier_counts": Q16_SQL,
    "q20_heavy_shippers": Q20_SQL,
    "q21_sole_supplier_returns": Q21_SQL,
}
