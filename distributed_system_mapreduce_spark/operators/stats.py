"""Statistical estimators, tests and privacy audits — the measurement
layer a data pipeline runs before committing to a release or a mix:

- experiment and model statistics: k-fold assignment, OLS and
  Theil-Sen trends, chi-square independence, bootstrap CIs, seasonal
  strength, Mann-Whitney U, Wilson score intervals, the A/B
  two-proportion z-test.
- privacy audits over (event_type, day) release cells: k-anonymity,
  l-diversity and t-closeness (the sensitive attribute is
  `functions/detmath.VALUE_BUCKET`).
- Benford's-law first-digit screen of order totals.

Exactness: every cross-row sum is over BIGINTs or DECIMALs (exact,
order-independent); doubles appear only in per-row fixed-order
expressions or sorted bounded folds, written as the same text for
Spark and DuckDB; medians come from explicit sorted-array picks, never
an engine median(); sqrt is IEEE correctly rounded, so z-scores and
intervals hash-match; Benford's expected shares are Python-generated
literal doubles baked identically into both engines' SQL; hash splits
use the portable nibble-decoded md5 integer.

Scale shape (100 TB): everything aggregates to bounded grids first
(release cells x value buckets, calendar months, the <=50-value
quantity grid, priority x digit) before any pairwise join; totals
ride broadcast 1-row joins. Driver state zero.

Semantics follow the cited literature (Mann & Whitney 1947; Theil
1950 / Sen 1968; Wilson 1927; Sweeney 2002; Machanavajjhala et al.
2007; Li et al. 2007).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_system_mapreduce_spark.functions import text as X
from distributed_system_mapreduce_spark.functions.detmath import (
    DAY_US,
    VALUE_BUCKET,
)
from distributed_system_mapreduce_spark.lineage import cut
from distributed_system_mapreduce_spark.operators.curation import _hex16_expr
from distributed_system_mapreduce_spark.tables import load_table


# ------------------------------------------------- k-anonymity census
# Quasi-identifier = (event_type, day): the release-granularity cell.
# A cell with < K distinct users is re-identifiable; the census says
# how much suppression a K-anonymous release would need.
K_ANON = 5


def k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type: how many (type, day) release cells exist, how
    many fall below the K-anonymity threshold, and what share of
    user-day observations sits in those risky cells — the governance
    query run before handing an events extract to a third party.

    Shape: one countDistinct per cell (two-phase exact distinct on the
    (type, day) key — the natural release granularity), then a
    partial-agg rollup onto the bounded type key. Linear, two
    shuffles, no window."""
    ev = load_table(spark, "events", sf_dir)
    cells = (
        ev.select("event_type", F.to_date("ts").alias("day"), "user_id")
        .groupBy("event_type", "day")
        .agg(F.countDistinct("user_id").cast("long").alias("cell_users"))
    )
    small = F.col("cell_users") < K_ANON
    agg = cells.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_cells"),
        F.sum(small.cast("long")).cast("long").alias("n_small_cells"),
        F.sum(F.when(small, F.col("cell_users")).otherwise(0))
        .cast("long").alias("users_at_risk"),
        F.sum("cell_users").cast("long").alias("user_cells"),
    )
    return agg.select(
        "event_type", "n_cells", "n_small_cells", "users_at_risk",
        "user_cells",
        (F.col("users_at_risk").cast("double")
         / F.col("user_cells").cast("double")).alias("risk_share"),
    )


K_ANONYMITY_SQL = f"""
SELECT event_type, n_cells, n_small_cells, users_at_risk, user_cells,
       CAST(users_at_risk AS DOUBLE) / CAST(user_cells AS DOUBLE)
         AS risk_share
FROM (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_cells,
         CAST(SUM(CASE WHEN cell_users < {K_ANON} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_small_cells,
         CAST(SUM(CASE WHEN cell_users < {K_ANON} THEN cell_users
                       ELSE 0 END) AS BIGINT) AS users_at_risk,
         CAST(SUM(cell_users) AS BIGINT) AS user_cells
  FROM (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS cell_users
    FROM events
    GROUP BY event_type, CAST(ts AS DATE)
  )
  GROUP BY event_type
)
"""


# ---------------------------------------------------------- l_diversity
L_DIV = 2


def l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit over the (event_type, day) release cells
    k_anonymity already scores: a cell whose members all share the
    same SENSITIVE attribute (here the coarse value bucket) leaks
    even when it is k-anonymous. Per type: min l across cells, cells
    below L_DIV, and the share of observations in those cells.

    Shape: two partial-agg shuffles — distinct sensitive buckets per
    cell (two-phase distinct on the cell key), then the bounded
    per-type rollup. Exact integers; one double division."""
    ev = load_table(spark, "events", sf_dir)
    cells = (
        ev.select(
            "event_type", F.to_date("ts").alias("day"),
            F.expr(VALUE_BUCKET).alias("sens"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.countDistinct("sens").cast("long").alias("l"),
            F.count(F.lit(1)).cast("long").alias("n_obs"),
        )
    )
    weak = F.col("l") < L_DIV
    return (
        cells.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.min("l").alias("min_l"),
            F.sum(weak.cast("long")).cast("long").alias("n_weak_cells"),
            F.sum(F.when(weak, F.col("n_obs")).otherwise(0))
            .cast("long").alias("obs_at_risk"),
            F.sum("n_obs").cast("long").alias("n_obs"),
        )
        .select(
            "event_type", "n_cells", "min_l", "n_weak_cells",
            "obs_at_risk", "n_obs",
            (F.col("obs_at_risk").cast("double")
             / F.col("n_obs").cast("double")).alias("risk_share"),
        )
    )


L_DIVERSITY_SQL = f"""
WITH cells AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(COUNT(DISTINCT {VALUE_BUCKET}) AS BIGINT) AS l,
         CAST(COUNT(*) AS BIGINT) AS n_obs
  FROM events
  GROUP BY event_type, CAST(ts AS DATE)
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       MIN(l) AS min_l,
       CAST(SUM(CASE WHEN l < {L_DIV} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_weak_cells,
       CAST(SUM(CASE WHEN l < {L_DIV} THEN n_obs ELSE 0 END) AS BIGINT)
         AS obs_at_risk,
       CAST(SUM(n_obs) AS BIGINT) AS n_obs,
       CAST(SUM(CASE WHEN l < {L_DIV} THEN n_obs ELSE 0 END) AS DOUBLE)
         / CAST(SUM(n_obs) AS DOUBLE) AS risk_share
FROM cells GROUP BY event_type
"""


# ---------------------------------------------------------- ab_test_zstat
def ab_test_zstat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test for a deterministic hash-split A/B
    experiment: users whose md5 leads below '8' are arm A, the rest
    arm B; the outcome is conversion (any purchase event). Reports
    the four exact counts, both rates, and the pooled z statistic —
    the experiment readout, reproducible because the assignment is a
    pure hash of the user id (the train_val_split wall discipline,
    salted 'ab:' so it is independent of every other hash decision).

    Shape: one per-user partial agg, then a 1-row census; the z is
    ONE fixed-order double expression over exact integers (IEEE
    sqrt)."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "event_type")
    per_user = (
        ev.groupBy("user_id")
        .agg(F.max((F.col("event_type") == "purchase").cast("long"))
             .alias("converted"))
        .select(
            (F.substring(F.md5(F.concat(F.lit("ab:"),
                                        F.col("user_id").cast("string"))),
                         1, 1) < "8").alias("arm_a"),
            "converted",
        )
    )
    na = F.sum(F.col("arm_a").cast("long"))
    xa = F.sum(F.when(F.col("arm_a"), F.col("converted")).otherwise(0))
    nb = F.sum((~F.col("arm_a")).cast("long"))
    xb = F.sum(F.when(~F.col("arm_a"), F.col("converted")).otherwise(0))
    agg = per_user.agg(
        na.cast("long").alias("n_a"), xa.cast("long").alias("x_a"),
        nb.cast("long").alias("n_b"), xb.cast("long").alias("x_b"))
    pa = F.col("x_a").cast("double") / F.col("n_a").cast("double")
    pb = F.col("x_b").cast("double") / F.col("n_b").cast("double")
    pool = ((F.col("x_a") + F.col("x_b")).cast("double")
            / (F.col("n_a") + F.col("n_b")).cast("double"))
    se = F.sqrt(pool * (F.lit(1.0) - pool)
                * (F.lit(1.0) / F.col("n_a").cast("double")
                   + F.lit(1.0) / F.col("n_b").cast("double")))
    return agg.select(
        "n_a", "x_a", "n_b", "x_b",
        pa.alias("rate_a"), pb.alias("rate_b"),
        F.when((F.col("n_a") > 0) & (F.col("n_b") > 0) & (se > 0),
               (pa - pb) / se).alias("z"),
    )


AB_TEST_ZSTAT_SQL = """
WITH per_user AS (
  SELECT substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 1) < '8'
           AS arm_a,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted
  FROM events GROUP BY user_id
),
agg AS (
  SELECT
    CAST(SUM(CASE WHEN arm_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(SUM(CASE WHEN arm_a THEN converted ELSE 0 END) AS BIGINT)
      AS x_a,
    CAST(SUM(CASE WHEN arm_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
    CAST(SUM(CASE WHEN arm_a THEN 0 ELSE converted END) AS BIGINT)
      AS x_b
  FROM per_user
)
SELECT n_a, x_a, n_b, x_b,
       CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
       CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
       CASE WHEN n_a > 0 AND n_b > 0 AND
                 sqrt((CAST(x_a + x_b AS DOUBLE)
                       / CAST(n_a + n_b AS DOUBLE))
                      * (1.0 - CAST(x_a + x_b AS DOUBLE)
                               / CAST(n_a + n_b AS DOUBLE))
                      * (1.0 / CAST(n_a AS DOUBLE)
                         + 1.0 / CAST(n_b AS DOUBLE))) > 0
       THEN (CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
             - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
            / sqrt((CAST(x_a + x_b AS DOUBLE)
                    / CAST(n_a + n_b AS DOUBLE))
                   * (1.0 - CAST(x_a + x_b AS DOUBLE)
                            / CAST(n_a + n_b AS DOUBLE))
                   * (1.0 / CAST(n_a AS DOUBLE)
                      + 1.0 / CAST(n_b AS DOUBLE)))
       END AS z
FROM agg
"""


N_FOLDS = 5


# ------------------------------------------------------------ kfold_assign
def kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validation assignment + per (source, fold)
    accounting: fold(doc) = hash16('fold:' || doc_id) % K — a pure
    function of doc_id (stable across runs/engines/partitioning, the
    train_val_split wall property), salted so it is independent of
    both the split wall and the mix-rebalance keep decision. Narrow
    map + one partial-agg shuffle to the bounded (source, fold)
    grid; balance is auditable from the output (each fold ~1/K of
    each source's docs AND tokens)."""
    docs = load_table(spark, "documents", sf_dir)
    fold = (
        F.expr(_hex16_expr("'fold:' || CAST(doc_id AS STRING)"))
        .cast("long") % N_FOLDS
    )
    return (
        docs.select("source", fold.alias("fold"),
                    X.n_tokens().cast("long").alias("n_toks"))
        .groupBy("source", "fold")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
             F.sum("n_toks").cast("long").alias("total_tokens"))
    )


KFOLD_ASSIGN_SQL = f"""
SELECT source, fold, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS total_tokens
FROM (
  SELECT source,
         CAST({_hex16_expr("'fold:' || CAST(doc_id AS VARCHAR)")}
              AS BIGINT) % {N_FOLDS} AS fold,
         {X.N_TOKENS_SQL} AS n_toks
  FROM documents
)
GROUP BY source, fold
"""


# -------------------------------------------------------- revenue_trend_ols
def revenue_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation OLS fit of monthly revenue vs month index — slope
    (dollars/month) and intercept, the 'is this market actually
    growing' readout that events_holt_forecast (smoothing) and
    discount_qty_elasticity (grouped means) do not answer.

    Exactness for a regression: revenue is accumulated as exact
    integer ten-thousandths (extprice and discount each carry 2
    decimals, so the per-row product has exactly 4), every OLS moment
    (n, Sx, Sxx, Sy, Sxy) is an exact BIGINT, and the normal-equation
    numerator/denominator are exact BIGINT combinations; at gate SFs
    all stay under 2^53, so the final cast-to-double + divide is the
    identical IEEE sequence on both engines. Shape: two partial-agg
    shuffles (lineitem->month grid, grid->nation) with the customer/
    nation dims broadcast; the month grid is bounded (~84 rows per
    nation)."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey",
        (F.col("l_extendedprice").cast("decimal(18,2)")
         * (F.lit(1).cast("decimal(18,2)")
            - F.col("l_discount").cast("decimal(18,2)")))
        .alias("rev"))
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderdate")
    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_nationkey")
    nation = load_table(spark, "nation", sf_dir).select(
        "n_nationkey", "n_name")
    x = ((F.year("o_orderdate") - F.lit(1992)) * 12
         + F.month("o_orderdate") - F.lit(1)).cast("long")
    monthly = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", x.alias("x"))
        .agg((F.sum("rev") * 10000).cast("decimal(38,0)").cast("long")
             .alias("y"))
    )
    m = (
        monthly.groupBy("n_name")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.sum("x").cast("long").alias("sx"),
             F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
             F.sum("y").cast("long").alias("sy"),
             F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"))
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    slope = num.cast("double") / den.cast("double") / F.lit(10000.0)
    return m.filter(den > 0).select(
        F.col("n_name").alias("nation"),
        F.col("n").alias("n_months"),
        slope.alias("slope"),
        ((F.col("sy").cast("double") / F.lit(10000.0)
          - slope * F.col("sx").cast("double"))
         / F.col("n").cast("double")).alias("intercept"),
    )


REVENUE_TREND_OLS_SQL = """
WITH monthly AS (
  SELECT n_name,
         (year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1 AS x,
         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                       * (CAST(1 AS DECIMAL(18,2))
                          - CAST(l_discount AS DECIMAL(18,2))))
                   AS DECIMAL(38,4)) * 10000 AS BIGINT) AS y
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  GROUP BY n_name, x
),
m AS (
  SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM monthly GROUP BY n_name
)
SELECT n_name AS nation, n AS n_months,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / CAST(n * sxx - sx * sx AS DOUBLE) / 10000.0 AS slope,
       (CAST(sy AS DOUBLE) / 10000.0
        - (CAST(n * sxy - sx * sy AS DOUBLE)
           / CAST(n * sxx - sx * sx AS DOUBLE) / 10000.0)
          * CAST(sx AS DOUBLE))
         / CAST(n AS DOUBLE) AS intercept
FROM m
WHERE n * sxx - sx * sx > 0
"""


# --------------------------------------------------------- events_chi2_dow
def events_chi2_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test of event type vs day-of-week:
    per-type contribution to the chi2 statistic over the bounded
    (type x 7) contingency grid, with the shared degrees of freedom —
    'does activity mix shift by weekday' as an exact test statistic
    rather than an eyeballed heatmap (events_hour_heatmap's
    inferential sibling; ab_test_zstat's multi-category one).

    dow is epoch-day % 7 (pure integer, identical cross-engine — no
    locale-dependent weekday functions). Observed counts, row and
    column totals are exact BIGINTs; each cell's expected value r*c/N
    and contribution (o-e)^2/e are per-cell fixed-order double
    expressions; the per-type sum folds its <= 7 cells in dow order
    (user_survival_km discipline). One partial-agg shuffle to the
    grid — localCheckpointed: row/column/grand totals and the cell
    join all reference it, and each replayed the events scan
    otherwise (r7 scan audit: 4 scans, now 1); totals ride broadcast
    joins."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_type",
        (F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) DIV {DAY_US}") % 7)
        .alias("dow"))
    grid = (
        ev.groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
        .transform(cut)
    )
    rows = grid.groupBy("event_type").agg(
        F.sum("o").cast("long").alias("r"))
    cols = F.broadcast(grid.groupBy("dow").agg(
        F.sum("o").cast("long").alias("c")))
    tot = F.broadcast(grid.agg(
        F.sum("o").cast("long").alias("n_total"),
        F.countDistinct("event_type").cast("long").alias("n_types")))
    e = (F.col("r") * F.col("c")).cast("double") / F.col("n_total")
    contrib = (F.col("o").cast("double") - e) * (
        F.col("o").cast("double") - e) / e
    cells = (
        grid.join(rows, "event_type").join(cols, "dow").crossJoin(tot)
        .select("event_type", "dow", "r", "n_types",
                contrib.alias("contrib"))
    )
    return (
        cells.groupBy("event_type")
        .agg(
            F.min("r").alias("n_events"),
            F.expr(
                "aggregate(transform(array_sort(collect_list("
                "struct(dow, contrib))), e -> e.contrib), "
                "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
            ).alias("chi2_contrib"),
            ((F.min("n_types") - 1) * 6).alias("dof"),
        )
    )


EVENTS_CHI2_DOW_SQL = f"""
WITH ev AS (
  SELECT event_type,
         (CAST(epoch_us(ts) AS BIGINT) // {DAY_US}) % 7 AS dow
  FROM events
),
grid AS (
  SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS o
  FROM ev GROUP BY event_type, dow
),
r AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r
      FROM grid GROUP BY event_type),
c AS (SELECT dow, CAST(SUM(o) AS BIGINT) AS c FROM grid GROUP BY dow),
tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n_total,
               CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
        FROM grid),
cells AS (
  SELECT g.event_type, g.dow, r.r, tot.n_types,
         (CAST(g.o AS DOUBLE) - CAST(r.r * c.c AS DOUBLE) / n_total)
         * (CAST(g.o AS DOUBLE) - CAST(r.r * c.c AS DOUBLE) / n_total)
         / (CAST(r.r * c.c AS DOUBLE) / n_total) AS contrib
  FROM grid g JOIN r USING (event_type) JOIN c USING (dow)
  CROSS JOIN tot
)
SELECT event_type, MIN(r) AS n_events,
       list_reduce(
         list_prepend(CAST(0.0 AS DOUBLE), list(contrib ORDER BY dow)),
         (acc, x) -> acc + x) AS chi2_contrib,
       (MIN(n_types) - 1) * 6 AS dof
FROM cells
GROUP BY event_type
"""


# --------------------------------------------------------------- bootstrap_ci
N_BOOT = 32
# Poisson(1) inverse-CDF thresholds on the 16-bit hash grid:
# floor(65536 * P(X <= k)) for k = 0..4; >= the last -> weight 5.
_POIS_T = (24109, 48218, 60273, 64291, 65296)


def bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for each event type's
    mean daily value-sum — the at-scale bootstrap (each unit gets an
    independent Poisson(1) resample weight, so resampling is one
    narrow map instead of a shuffle per resample; the production A/B
    measurement idiom) made fully deterministic: weights come from
    the salted 16-bit md5 grid through a fixed Poisson(1)
    inverse-CDF table, so both engines draw the SAME 32 resamples.

    Exactness: daily sums are integer micro-units; per-resample
    weighted sums are exact BIGINTs (weights <= 5); each resample
    mean is one fixed-order double division; the 2.5%/97.5% band is
    the exact interpolating percentile over the 32 means. Shape: one
    partial-agg shuffle to the (type, day) grid, a bounded x32
    explode ON the grid (never on raw events), a second partial agg
    to (type, resample), then a 32-element percentile per type."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_type",
        F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) DIV {DAY_US}")
        .alias("day"),
        F.col("value").cast("decimal(18,6)").alias("v"))
    daily = (
        ev.groupBy("event_type", "day")
        .agg((F.sum("v") * 1000000).cast("decimal(38,0)").cast("long")
             .alias("x"))
    )
    w_case = (
        "CASE "
        + " ".join(
            f"WHEN h < {t} THEN {k}" for k, t in enumerate(_POIS_T))
        + " ELSE 5 END"
    )
    boot = (
        daily.select(
            "event_type", "day", "x",
            F.explode(F.expr(
                f"sequence(0, {N_BOOT - 1})")).alias("b"))
        .withColumn("h", F.expr(_hex16_expr(
            "'bs:' || CAST(b AS STRING) || ':' || CAST(day AS STRING)"))
            .cast("long"))
        .select("event_type", "b", "x",
                F.expr(w_case).cast("long").alias("w"))
        .groupBy("event_type", "b")
        .agg(F.sum(F.col("w") * F.col("x")).cast("long").alias("swx"),
             F.sum("w").cast("long").alias("sw"))
        .filter(F.col("sw") > 0)
        .select("event_type",
                (F.col("swx").cast("double") / F.col("sw").cast("double")
                 / F.lit(1e6)).alias("m"))
    )
    full = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        (F.sum("x").cast("double") / F.count(F.lit(1)).cast("double")
         / F.lit(1e6)).alias("mean_daily"))
    ci = boot.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_resamples"),
        F.expr("percentile(m, array(0.025, 0.975))").alias("qs"))
    return (
        full.join(ci, "event_type")
        .select("event_type", "n_days", "mean_daily",
                F.col("qs")[0].alias("ci_lo"),
                F.col("qs")[1].alias("ci_hi"),
                "n_resamples")
    )


_W_CASE_SQL = ("CASE "
               + " ".join(f"WHEN h < {t} THEN {k}"
                          for k, t in enumerate(_POIS_T))
               + " ELSE 5 END")

BOOTSTRAP_CI_SQL = f"""
WITH daily AS (
  SELECT event_type,
         CAST(epoch_us(ts) AS BIGINT) // {DAY_US} AS day,
         CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6))
              * 1000000 AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
boot AS (
  SELECT event_type, b,
         CAST(SUM(w * x) AS BIGINT) AS swx,
         CAST(SUM(w) AS BIGINT) AS sw
  FROM (
    SELECT event_type, b, x, {_W_CASE_SQL} AS w
    FROM (
      SELECT event_type, day, x, b,
             CAST({_hex16_expr(
                 "'bs:' || CAST(b AS VARCHAR) || ':' || CAST(day AS VARCHAR)")}
                  AS BIGINT) AS h
      FROM daily, unnest(range(0, {N_BOOT})) AS t(b)
    )
  )
  GROUP BY event_type, b
),
means AS (
  SELECT event_type,
         CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE) / 1e6 AS m
  FROM boot WHERE sw > 0
),
fl AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e6
           AS mean_daily
  FROM daily GROUP BY event_type
),
ci AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_resamples,
         quantile_cont(m, [0.025, 0.975]) AS qs
  FROM means GROUP BY event_type
)
SELECT f.event_type, f.n_days, f.mean_daily,
       qs[1] AS ci_lo, qs[2] AS ci_hi, n_resamples
FROM fl f JOIN ci USING (event_type)
"""


# ---------------------------------------------------------- seasonal_strength
def seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality strength per event type: eta² = the share of
    daily-volume variance explained by day-of-week (SS_between /
    SS_total) — one number that says whether a weekly-seasonal model
    (events_dow_profile, events_holt_forecast) is worth fitting at
    all. eta² near 0: no weekly rhythm; near 1: volume is pure
    calendar.

    Determinism: every moment (daily counts, per-dow sums/counts,
    corpus sums of squares) is an exact BIGINT < 2^53, so the casts
    are exact; eta² assembles as ONE fixed-order double expression
    whose only iteration is a dow-ordered 7-element fold (the
    user_survival_km discipline). Shape: two bounded partial-agg
    shuffles (day grid, dow grid)."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_type",
        F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) DIV {DAY_US}")
        .alias("day"))
    daily = (
        ev.groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .withColumn("dow", F.col("day") % 7)
    )
    per = (
        daily.groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).cast("long").alias("dw"),
             F.sum("c").cast("long").alias("sw"))
    )
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("d"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("q"))
    ssb_part = (
        "aggregate(transform(array_sort(collect_list(struct(dow, dw, sw)))"
        ", e -> CAST(e.sw AS DOUBLE) * CAST(e.sw AS DOUBLE)"
        " / CAST(e.dw AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    return (
        per.groupBy("event_type")
        .agg(F.expr(ssb_part).alias("sb"))
        .join(tot, "event_type")
        .select(
            "event_type", F.col("d").alias("n_days"),
            ((F.col("d").cast("double") * F.col("sb")
              - F.col("s").cast("double") * F.col("s").cast("double"))
             / (F.col("d").cast("double") * F.col("q").cast("double")
                - F.col("s").cast("double") * F.col("s").cast("double")))
            .alias("eta2"),
        )
    )


SEASONAL_STRENGTH_SQL = f"""
WITH daily AS (
  SELECT event_type,
         CAST(epoch_us(ts) AS BIGINT) // {DAY_US} AS day,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
withdow AS (SELECT event_type, day % 7 AS dow, c FROM daily),
per AS (
  SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS dw,
         CAST(SUM(c) AS BIGINT) AS sw
  FROM withdow GROUP BY event_type, dow
),
tot AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS d,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS BIGINT) AS q
  FROM withdow GROUP BY event_type
),
sb AS (
  SELECT event_type,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
                  / CAST(dw AS DOUBLE) ORDER BY dow)),
           (acc, x) -> acc + x) AS sb
  FROM per GROUP BY event_type
)
SELECT t.event_type, d AS n_days,
       (CAST(d AS DOUBLE) * sb
        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
         / (CAST(d AS DOUBLE) * CAST(q AS DOUBLE)
            - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) AS eta2
FROM tot t JOIN sb USING (event_type)
"""


# --------------------------------------------------------- mannwhitney_qty
# Group X = returned lineitems (l_returnflag = 'R'), group Y = the
# rest. 2U and the tie term are exact BIGINT folds over the <=50-row
# distinct-quantity grid; the final z / effect-size expressions are
# the same double text in both engines (shared list below).
_MW_SIGMA = (
    "sqrt((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0)"
    " * (CAST(n1 + n2 + 1 AS DOUBLE)"
    " - CAST(tie_sum AS DOUBLE)"
    " / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE))))"
)
_MW_EXPRS = [
    "CAST(two_u AS DOUBLE) / 2.0 AS u_stat",
    "CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0 AS mu_u",
    f"{_MW_SIGMA} AS sigma_u",
    "(CAST(two_u AS DOUBLE) / 2.0"
    " - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)"
    f" / {_MW_SIGMA} AS z_score",
    "1.0 - CAST(two_u AS DOUBLE)"
    " / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS rank_biserial",
]


def mannwhitney_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U on l_quantity, returned ('R') vs kept rows.

    U_X = sum_v nx(v) * (#Y below v + ny(v)/2) over the distinct
    quantity grid; computed as 2U (pure integer) to avoid the /2
    until the end. sigma uses the standard tie correction
    sigma^2 = n1 n2/12 * (N+1 - sum(t^3-t)/(N(N-1))); no continuity
    correction (documented — the oracle applies the identical rule).
    Plan: one partial agg lineitem -> <=50-row grid, a cumulative
    window over that bounded grid, one 1-row fold. Integer bounds:
    the 2U/tie folds accumulate in DECIMAL(38,0); the per-grid-row
    t^3 product stays BIGINT-exact up to ~2e6 rows per distinct
    quantity — beyond that, pre-scale t by a fixed divisor (the
    correction term is a ratio, so a common scale cancels).
    """
    li = load_table(spark, "lineitem", sf_dir)
    grid = (
        li.select(
            F.col("l_quantity").cast("long").alias("qty"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            .cast("long").alias("is_x"),
        )
        .groupBy("qty")
        .agg(
            F.sum("is_x").alias("nx"),
            F.sum(F.lit(1) - F.col("is_x")).alias("ny"),
        )
    )
    w = Window.orderBy("qty").rowsBetween(Window.unboundedPreceding, -1)
    grid = grid.withColumn(
        "ny_below", F.coalesce(F.sum("ny").over(w), F.lit(0).cast("long"))
    )
    folded = grid.agg(
        F.sum("nx").alias("n1"),
        F.sum("ny").alias("n2"),
        # DECIMAL(38,0) folds: exact and associative like BIGINT, but
        # 2U <= n1*n2 and sum(t^3) clear int64 at ~1e12 rows
        F.sum((F.col("nx") * (F.lit(2) * F.col("ny_below") + F.col("ny")))
              .cast("decimal(38,0)")).alias("two_u"),
        F.sum(
            ((F.col("nx") + F.col("ny")) * (F.col("nx") + F.col("ny"))
             * (F.col("nx") + F.col("ny")) - (F.col("nx") + F.col("ny")))
            .cast("decimal(38,0)")
        ).alias("tie_sum"),
    )
    return folded.selectExpr("n1", "n2", *_MW_EXPRS)


_MW_JOINED = ",\n  ".join(_MW_EXPRS)

MANNWHITNEY_QTY_SQL = f"""
WITH grid AS (
  SELECT CAST(l_quantity AS BIGINT) AS qty,
         SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS nx,
         SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS ny
  FROM lineitem GROUP BY 1
),
cum AS (
  SELECT qty, nx, ny,
         COALESCE(SUM(ny) OVER (ORDER BY qty
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         AS ny_below
  FROM grid
),
folded AS (
  SELECT CAST(SUM(nx) AS BIGINT) AS n1,
         CAST(SUM(ny) AS BIGINT) AS n2,
         CAST(SUM(nx * (2 * ny_below + ny)) AS DECIMAL(38,0)) AS two_u,
         CAST(SUM((nx + ny) * (nx + ny) * (nx + ny) - (nx + ny))
              AS DECIMAL(38,0)) AS tie_sum
  FROM cum
)
SELECT n1, n2,
  {_MW_JOINED}
FROM folded
"""


# --------------------------------------------------------- theil_sen_trend
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust slope of monthly order revenue.

    Monthly revenue is a DECIMAL-exact rollup (the q1 discipline);
    months get the index year*12 + month-1. Every (m1 < m2) pair
    contributes slope (rev2-rev1)/(m2-m1); the estimate is the exact
    sorted-array median of those slopes (even count -> mean of the
    two middles, the identical rule written out in both engines).
    Shape: one partial agg onto the bounded calendar grid, a
    months^2/2 pair join of that grid with itself (constant size,
    independent of row volume), one bounded collect+fold.
    """
    orders = load_table(spark, "orders", sf_dir)
    monthly = (
        orders.groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
            .cast("long").alias("m")
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
             .cast("double").alias("rev"))
    )
    a = monthly.alias("a")
    b = monthly.alias("b")
    pairs = a.join(b, F.col("a.m") < F.col("b.m")).select(
        ((F.col("b.rev") - F.col("a.rev"))
         / (F.col("b.m") - F.col("a.m")).cast("double")).alias("slope")
    )
    return pairs.agg(
        F.count("*").alias("n_pairs"),
        F.expr("sort_array(collect_list(slope))").alias("s"),
    ).selectExpr(
        "n_pairs",
        # floor() before the INT cast: Spark truncates float->int,
        # DuckDB rounds — floor makes the median indices engine-proof
        "(element_at(s, CAST(floor((n_pairs + 1) / 2.0) AS INT)) "
        " + element_at(s, CAST(floor((n_pairs + 2) / 2.0) AS INT))) / 2.0 "
        "AS sen_slope",
        "element_at(s, 1) AS min_slope",
        "element_at(s, CAST(n_pairs AS INT)) AS max_slope",
    )


THEIL_SEN_TREND_SQL = """
WITH monthly AS (
  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
           AS m,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
  FROM orders GROUP BY 1
),
pairs AS (
  SELECT (b.rev - a.rev) / CAST(b.m - a.m AS DOUBLE) AS slope
  FROM monthly a JOIN monthly b ON a.m < b.m
),
folded AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         list_sort(list(slope)) AS s
  FROM pairs
)
SELECT n_pairs,
       (s[CAST(floor((n_pairs + 1) / 2.0) AS INT)]
        + s[CAST(floor((n_pairs + 2) / 2.0) AS INT)]) / 2.0 AS sen_slope,
       s[1] AS min_slope,
       s[CAST(n_pairs AS INT)] AS max_slope
FROM folded
"""


# --------------------------------------------------------- wilson_ci_rates
WILSON_Z = "1.96"  # 95% two-sided, literal in both engines
HIGH_VALUE = "100.0"

_W_CENTER = f"(p_hat + {WILSON_Z} * {WILSON_Z} / (2.0 * n_d)) / denom"
_W_HALF = (
    f"({WILSON_Z} / denom)"
    f" * sqrt(p_hat * (1.0 - p_hat) / n_d"
    f" + {WILSON_Z} * {WILSON_Z} / (4.0 * n_d * n_d))"
)
_WILSON_EXPRS = [
    f"{_W_CENTER} AS center",
    f"{_W_CENTER} - {_W_HALF} AS wilson_lo",
    f"{_W_CENTER} + {_W_HALF} AS wilson_hi",
]
_WILSON_JOINED = ",\n  ".join(_WILSON_EXPRS)


def wilson_ci_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type rate of high-value events (value > HIGH_VALUE)
    with the Wilson 95% score interval. One partial agg; the interval
    is a fixed-order double expression over two exact BIGINT counts,
    so it hash-matches (sqrt is correctly rounded). Wilson 1927."""
    ev = load_table(spark, "events", sf_dir)
    counts = ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(F.col("value") > float(HIGH_VALUE), 1).otherwise(0))
        .cast("long").alias("n_high"),
    )
    inter = counts.selectExpr(
        "event_type", "n_events", "n_high",
        "CAST(n_high AS DOUBLE) / CAST(n_events AS DOUBLE) AS p_hat",
        "CAST(n_events AS DOUBLE) AS n_d",
        f"1.0 + {WILSON_Z} * {WILSON_Z} / CAST(n_events AS DOUBLE) AS denom",
    )
    return inter.selectExpr(
        "event_type", "n_events", "n_high", "p_hat AS rate",
        *_WILSON_EXPRS,
    )


WILSON_CI_RATES_SQL = f"""
WITH counts AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN value > {HIGH_VALUE} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_high
  FROM events GROUP BY event_type
),
inter AS (
  SELECT event_type, n_events, n_high,
         CAST(n_high AS DOUBLE) / CAST(n_events AS DOUBLE) AS p_hat,
         CAST(n_events AS DOUBLE) AS n_d,
         1.0 + {WILSON_Z} * {WILSON_Z} / CAST(n_events AS DOUBLE) AS denom
  FROM counts
)
SELECT event_type, n_events, n_high, p_hat AS rate,
  {_WILSON_JOINED}
FROM inter
"""


T_CLOSE = 0.35  # cells whose TVD to the global distribution exceeds
# this leak attribute skew even when k-anonymous and l-diverse


# ----------------------------------------------------------- t_closeness
def t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit over the (event_type, day) release cells the
    k_anonymity / l_diversity queries already score: TVD(cell, global)
    = 0.5 * sum_s |c_s / n_cell - g_s / n_type| over the sensitive
    value buckets s. Per type: worst cell TVD, cells above T_CLOSE,
    and the share of observations in those cells.

    Shape: ONE events scan and ONE wide shuffle — the partial agg to
    (type, day, sens) counts (r7: the previous shape scanned events
    4x, once per margin, then zero-filled a cell x bucket grid; at
    100 TB the margins are free, the scans are not). The zero-fill
    grid is unnecessary: a bucket ABSENT from a cell contributes
    g/N to the TVD sum, and those absent contributions total
    1 - sum_present(g/N), so TVD = 0.5 * (1 + sum_present(|c/n - g/N|
    - g/N)) over only the buckets the cell actually has. All three
    margins become window sums over the bounded cell table (calendar
    x value-range/50 rows, never the raw events). The per-cell fold
    runs over the SORTED bounded term list (a plain SUM of doubles
    would be order-dependent in the last ulp), like every other
    double-sum oracle in this repo."""
    ev = load_table(spark, "events", sf_dir)
    obs = ev.select(
        "event_type", F.to_date("ts").alias("day"),
        F.expr(VALUE_BUCKET).alias("sens"),
    )
    cell_s = obs.groupBy("event_type", "day", "sens").agg(
        F.count("*").alias("c"))
    enr = cell_s.select(
        "event_type", "day", "c",
        F.expr("sum(c) OVER (PARTITION BY event_type, day)")
        .alias("n_cell"),
        F.expr("sum(c) OVER (PARTITION BY event_type, sens)")
        .alias("g"),
        F.expr("sum(c) OVER (PARTITION BY event_type)").alias("n_type"),
    ).withColumn(
        "term",
        F.expr("abs(CAST(c AS DOUBLE) / n_cell "
               "- CAST(g AS DOUBLE) / n_type) "
               "- CAST(g AS DOUBLE) / n_type"),
    )
    tvd = enr.groupBy("event_type", "day").agg(
        F.first("n_cell").alias("n_obs"),
        ((F.expr("aggregate(sort_array(collect_list(term)), "
                 "CAST(0 AS DOUBLE), (acc, t) -> acc + t)") + F.lit(1.0))
         * 0.5).alias("tvd"),
    )
    weak = F.col("tvd") > T_CLOSE
    return (
        tvd.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_cells"),
            F.max("tvd").alias("max_tvd"),
            F.sum(weak.cast("long")).cast("long").alias("n_weak_cells"),
            F.sum(F.when(weak, F.col("n_obs")).otherwise(0))
            .cast("long").alias("obs_at_risk"),
            F.sum("n_obs").cast("long").alias("n_obs"),
        )
        .select(
            "event_type", "n_cells", "max_tvd", "n_weak_cells",
            "obs_at_risk", "n_obs",
            (F.col("obs_at_risk").cast("double")
             / F.col("n_obs").cast("double")).alias("risk_share"),
        )
    )


T_CLOSENESS_SQL = f"""
WITH obs AS (
  SELECT event_type, CAST(ts AS DATE) AS day, {VALUE_BUCKET} AS sens
  FROM events
),
cell_s AS (SELECT event_type, day, sens, COUNT(*) AS c
           FROM obs GROUP BY event_type, day, sens),
enr AS (
  SELECT event_type, day, c,
         SUM(c) OVER (PARTITION BY event_type, day) AS n_cell,
         SUM(c) OVER (PARTITION BY event_type, sens) AS g,
         SUM(c) OVER (PARTITION BY event_type) AS n_type
  FROM cell_s
),
terms AS (
  SELECT event_type, day, n_cell,
         abs(CAST(c AS DOUBLE) / n_cell
             - CAST(g AS DOUBLE) / n_type)
           - CAST(g AS DOUBLE) / n_type AS term
  FROM enr
),
tvd AS (
  SELECT event_type, day, ANY_VALUE(n_cell) AS n_obs,
         (list_reduce(list_sort(list(term)), (acc, t) -> acc + t)
          + 1.0) * 0.5 AS tvd
  FROM terms GROUP BY event_type, day
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       MAX(tvd) AS max_tvd,
       CAST(SUM(CASE WHEN tvd > {T_CLOSE} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_weak_cells,
       CAST(SUM(CASE WHEN tvd > {T_CLOSE} THEN n_obs ELSE 0 END)
            AS BIGINT) AS obs_at_risk,
       CAST(SUM(n_obs) AS BIGINT) AS n_obs,
       CAST(SUM(CASE WHEN tvd > {T_CLOSE} THEN n_obs ELSE 0 END)
            AS DOUBLE) / CAST(SUM(n_obs) AS DOUBLE) AS risk_share
FROM tvd GROUP BY event_type
"""


# ---------------------------------------------------------- benford_audit
# Expected first-digit shares log10(1 + 1/d): Python-generated ONCE and
# baked as identical literals into both engines' expressions — no
# runtime transcendentals, so no cross-engine drift is possible.
_BENFORD_P = {d: repr(math.log10(1.0 + 1.0 / d)) for d in range(1, 10)}
_P_CASE = ("CASE " + " ".join(
    # CAST: both engines parse a bare decimal literal as DECIMAL, and
    # DECIMAL*BIGINT rounds differently per engine — force DOUBLE so
    # every downstream op is plain IEEE arithmetic
    f"WHEN digit = {d} THEN CAST({p} AS DOUBLE)"
    for d, p in _BENFORD_P.items()
) + " END")
# First digit of the INTEGER part: floor first (DuckDB CAST rounds
# half-even, Spark truncates — floor makes both exact), then take the
# leading character of the decimal rendering of an exact BIGINT.
_LEAD_DIGIT = ("CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) "
          "AS STRING), 1, 1) AS INT)")
_LEAD_DIGIT_SQL = ("CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) "
              "AS VARCHAR), 1, 1) AS INT)")


def benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law screen on order totals per priority class: for
    each (o_orderpriority, leading digit) — observed count, observed
    share, the Benford expectation, and the chi-square contribution
    (n - N p)^2 / (N p). Fabricated or clamped totals light up as a
    fat chi2 on digits 1/9. Totals span ~3 decades here, the regime
    where Benford applies.

    Shape: one partial agg onto the bounded (priority, digit) grid,
    per-priority totals via a second bounded agg broadcast back. The
    expectations are literal constants; every double is one
    fixed-order expression over exact integers."""
    orders = load_table(spark, "orders", sf_dir)
    census = (orders.select(
        "o_orderpriority", F.expr(_LEAD_DIGIT).alias("digit"))
        .groupBy("o_orderpriority", "digit")
        .agg(F.count("*").alias("n_obs")))
    tot = census.groupBy("o_orderpriority").agg(
        F.sum("n_obs").alias("n_tot"))
    return (
        census.join(F.broadcast(tot), "o_orderpriority")
        .withColumn("benford_p", F.expr(_P_CASE))
        .select(
            "o_orderpriority", "digit",
            F.col("n_obs").cast("long").alias("n_obs"),
            (F.col("n_obs").cast("double") / F.col("n_tot"))
            .alias("share"),
            "benford_p",
            F.expr("CAST(n_obs - n_tot * benford_p AS DOUBLE) "
                   "* (n_obs - n_tot * benford_p) "
                   "/ (n_tot * benford_p)").alias("chi2_term"),
        )
    )


BENFORD_AUDIT_SQL = f"""
WITH census AS (
  SELECT o_orderpriority, {_LEAD_DIGIT_SQL} AS digit, COUNT(*) AS n_obs
  FROM orders GROUP BY o_orderpriority, {_LEAD_DIGIT_SQL}
),
tot AS (SELECT o_orderpriority, SUM(n_obs) AS n_tot
        FROM census GROUP BY o_orderpriority)
SELECT census.o_orderpriority, digit,
       CAST(n_obs AS BIGINT) AS n_obs,
       CAST(n_obs AS DOUBLE) / n_tot AS share,
       {_P_CASE} AS benford_p,
       CAST(n_obs - n_tot * ({_P_CASE}) AS DOUBLE)
         * (n_obs - n_tot * ({_P_CASE}))
         / (n_tot * ({_P_CASE})) AS chi2_term
FROM census JOIN tot ON census.o_orderpriority = tot.o_orderpriority
"""


QUERIES = {
    "k_anonymity": k_anonymity,
    "l_diversity": l_diversity,
    "ab_test_zstat": ab_test_zstat,
    "kfold_assign": kfold_assign,
    "revenue_trend_ols": revenue_trend_ols,
    "events_chi2_dow": events_chi2_dow,
    "bootstrap_ci": bootstrap_ci,
    "seasonal_strength": seasonal_strength,
    "mannwhitney_qty": mannwhitney_qty,
    "theil_sen_trend": theil_sen_trend,
    "wilson_ci_rates": wilson_ci_rates,
    "t_closeness": t_closeness,
    "benford_audit": benford_audit,
}

ORACLES = {
    "k_anonymity": K_ANONYMITY_SQL,
    "l_diversity": L_DIVERSITY_SQL,
    "ab_test_zstat": AB_TEST_ZSTAT_SQL,
    "kfold_assign": KFOLD_ASSIGN_SQL,
    "revenue_trend_ols": REVENUE_TREND_OLS_SQL,
    "events_chi2_dow": EVENTS_CHI2_DOW_SQL,
    "bootstrap_ci": BOOTSTRAP_CI_SQL,
    "seasonal_strength": SEASONAL_STRENGTH_SQL,
    "mannwhitney_qty": MANNWHITNEY_QTY_SQL,
    "theil_sen_trend": THEIL_SEN_TREND_SQL,
    "wilson_ci_rates": WILSON_CI_RATES_SQL,
    "t_closeness": T_CLOSENESS_SQL,
    "benford_audit": BENFORD_AUDIT_SQL,
}
