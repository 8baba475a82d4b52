"""Analytics over the `events` stream table (user_id, ts, event_type,
value, props): rollups and cubes, sessionization, funnels, retention
and growth accounting, sliding/hopping windows, Markov paths and
transition entropy, time-series diagnostics (autocorrelation, EWMA,
Holt forecast, CUSUM and changepoint, quantile bands, day-of-week
profiles), robust statistics (winsorized stats, MAD and z-score
outliers), CDC apply, rate limiting and bot rules, late-arrival and
lifecycle audits. Several are the batch twins of Structured Streaming
jobs in streaming/jobs.py, which import their constants and oracle
SQL so the two can never drift apart.

Reference tie-in: each is the shape of a 1-2 round maple/juice chain
in the reference's model (per-key shuffle + reduce, its
maple_juice.go per-key reduce granularity); here each is one
Catalyst plan with partial aggregation.

Exactness: counts and time bucketing are integer arithmetic end to
end (epoch microseconds, `DAY_US` day buckets); values roll up through
DECIMAL accumulators; doubles appear only as fixed-order expressions
over exact integers, replicated verbatim in the DuckDB oracle (e.g.
a rolling median is (a+b)/2 of two sorted elements on BOTH engines —
never the engine's own median(), whose interpolation may differ in
float op order); entropy terms use `functions/detmath.ln_det` and fold
over sorted bounded lists. `ts` is TIMESTAMP_NTZ; read it through
`tables.load_table`, which pins the session time zone to UTC.

Scale shape (100 TB): everything partial-aggregates onto bounded
(type, day) / (user, day) grids before any join; windows partition by
user or event type, never globally; joins against totals broadcast a
bounded aggregate; self-joins happen only over bounded aggregates.
Driver state zero.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_system_mapreduce_spark.functions.detmath import (
    DAY_US,
    fold_expr,
    fold_sql,
    ln_det,
)
from distributed_system_mapreduce_spark.lineage import cut
from distributed_system_mapreduce_spark.operators.tpch import _dec
from distributed_system_mapreduce_spark.tables import load_table


# ------------------------------------------------------------ events family
def events_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling daily rollup — the batch twin of the streaming windowed
    aggregation in streaming/jobs.py."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(
            F.to_date(F.col("ts")).alias("day"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(_dec("value", 18, 6)).cast("double").alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


EVENTS_DAILY_SQL = """
SELECT CAST(ts AS DATE) AS day, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY CAST(ts AS DATE), event_type
"""


def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: per event type, z-score each day's
    event count against that type's daily distribution — the pipeline
    health-check that catches an ingest gap or a bot spike.

    Determinism: the moments are EXACT integer aggregates (sum of
    counts, sum of squared counts), so mean/variance come out of pure
    int arithmetic and the only float ops are the final fixed-order
    divisions and a correctly-rounded sqrt — bit-identical in both
    engines, no DECIMAL needed. Two partial-agg shuffles (day rollup,
    type moments) + one broadcast join back; at extreme per-day counts
    (~>3e9) the squared sum needs a DECIMAL accumulator instead of
    BIGINT."""
    ev = load_table(spark, "events", sf_dir)
    daily = (
        ev.groupBy(F.to_date(F.col("ts")).alias("day"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    stats = daily.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum("n").alias("s"),
        F.sum(F.col("n") * F.col("n")).alias("ss"),
    )
    j = daily.join(F.broadcast(stats), "event_type")
    mean = F.col("s").cast("double") / F.col("n_days").cast("double")
    var_num = (F.col("n_days") * F.col("ss")
               - F.col("s") * F.col("s")).cast("double")
    var_den = (F.col("n_days") * (F.col("n_days") - F.lit(1))).cast("double")
    # Degenerate guard: one observed day (var denominator 0) or zero
    # variance would divide by zero — ANSI sessions THROW on that, and
    # CASE branches evaluate lazily on both engines, so the division
    # must live inside the guarded branch.
    ok = (F.col("n_days") > 1) & (var_num > 0)
    z = F.when(
        ok,
        (F.col("n").cast("double") - mean) / F.sqrt(var_num / var_den),
    )
    return j.select(
        "day", "event_type", F.col("n").alias("n_events"),
        z.alias("z"),
        F.when(ok & (F.abs(z) >= 2.0), 1).otherwise(0)
        .cast("long").alias("is_anomaly"),
    )


EVENTS_ANOMALY_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, COUNT(*) AS n_days, SUM(n) AS s, SUM(n * n) AS ss
  FROM daily GROUP BY event_type
)
SELECT day, event_type, n AS n_events,
       CASE WHEN n_days > 1 AND n_days * ss - s * s > 0 THEN
         (CAST(n AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE))
           / sqrt(CAST(n_days * ss - s * s AS DOUBLE)
                  / CAST(n_days * (n_days - 1) AS DOUBLE))
       END AS z,
       CAST(CASE WHEN n_days > 1 AND n_days * ss - s * s > 0 AND abs(
           (CAST(n AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE))
             / sqrt(CAST(n_days * ss - s * s AS DOUBLE)
                    / CAST(n_days * (n_days - 1) AS DOUBLE))) >= 2.0
         THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
FROM daily JOIN stats USING (event_type)
"""


def events_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running revenue: ordered window cumulative sum.

    DECIMAL accumulator so the running values are exact (associative)
    — a float running sum would diverge between engines and between
    partitionings of our own job.
    """
    ev = load_table(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.sum(_dec("value", 18, 6)).over(w).cast("double").alias("running_value"),
    )


EVENTS_RUNNING_SQL = """
SELECT user_id, event_id,
  CAST(SUM(CAST(value AS DECIMAL(18,6)))
       OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
    AS running_value
FROM events
"""


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min): lag + cumulative session ids,
    then per-user session stats. The batch twin of the stateful
    streaming sessionizer."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Cast via TIMESTAMP: the parquet ts may arrive as TIMESTAMP_NTZ
    # (no direct NTZ->long cast exists); session tz is UTC so the
    # epoch seconds match DuckDB's epoch().
    ts_s = F.col("ts").cast("timestamp").cast("long")
    gap = ts_s - F.lag(ts_s).over(w)
    with_flag = ev.select(
        "user_id", "ts", "event_id",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0).alias("new_sess"),
    )
    with_sess = with_flag.withColumn(
        "sess_id",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        with_sess.groupBy("user_id")
        .agg(
            F.max("sess_id").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


EVENTS_SESSIONIZE_SQL = """
SELECT user_id, CAST(MAX(sess_id) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM (
  SELECT user_id,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sess_id
  FROM (
    SELECT user_id, ts, event_id,
           CASE WHEN prev_ts IS NULL
                     OR epoch(ts) - epoch(prev_ts) > 1800
                THEN 1 ELSE 0 END AS new_sess
    FROM (
      SELECT user_id, ts, event_id,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_ts
      FROM events
    )
  )
)
GROUP BY user_id
"""


def events_sessionize_incremental(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Incremental sessionization with boundary stitching — the batch
    twin of the stateful streaming sessionizer's state handoff, and
    the daily-ingest posture at 100 TB: yesterday's run leaves a
    COMPACT per-user state row (session count, event count, last
    event time); today's run windows ONLY today's partition and
    stitches the boundary by seeding each user's first lag with the
    state's last_ts — a session spanning midnight is not double
    counted, a >30-min overnight gap still opens a new one.

    The full-history rescan this avoids is the point: the window
    below runs over the delta partition only, the state side is one
    row per user. Exactness: n_sessions is the count of session
    STARTS, and a start is decided by the gap to the immediately
    preceding event — every gap inside standing or inside delta is
    seen by the respective run, and the single cross-boundary gap is
    seen via the seeded lag, so the sum is bit-identical to a full
    sessionize — which is the oracle (EVENTS_SESSIONIZE_SQL
    verbatim). The cutoff is a fixed date inside the corpus range;
    on a real pipeline it is "yesterday"."""
    ev = load_table(spark, "events", sf_dir)
    boundary = F.lit("2024-01-24 00:00:00").cast("timestamp")
    is_standing = F.col("ts").cast("timestamp") < boundary
    ts_s = F.col("ts").cast("timestamp").cast("long")

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = ts_s - F.lag(ts_s).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    state = (
        ev.where(is_standing)
        .select("user_id", "ts", "event_id", new_sess.alias("new_sess"),
                ts_s.alias("ts_s"))
        .groupBy("user_id")
        .agg(F.sum("new_sess").cast("long").alias("n_sessions"),
             F.count("*").alias("n_events"),
             F.max("ts_s").alias("last_ts"))
    )

    delta = ev.where(~is_standing).join(
        state.select("user_id", "last_ts"), "user_id", "left")
    # seed the first lag with the state's last event time: the one
    # cross-boundary gap the split would otherwise lose
    prev = F.coalesce(F.lag(ts_s).over(w), F.col("last_ts"))
    d_new = F.when(prev.isNull() | (ts_s - prev > 1800), 1).otherwise(0)
    d_agg = (
        delta.select("user_id", d_new.alias("new_sess"))
        .groupBy("user_id")
        .agg(F.sum("new_sess").cast("long").alias("d_sessions"),
             F.count("*").alias("d_events"))
    )
    return (
        state.join(d_agg, "user_id", "full")
        .select(
            "user_id",
            (F.coalesce("n_sessions", F.lit(0))
             + F.coalesce("d_sessions", F.lit(0)))
            .cast("long").alias("n_sessions"),
            (F.coalesce("n_events", F.lit(0))
             + F.coalesce("d_events", F.lit(0)))
            .cast("long").alias("n_events"),
        )
    )


def distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct per group; at 100 TB swap COUNT(DISTINCT) for
    approx_count_distinct (HLL) — kept exact here for the oracle."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
    )


DISTINCT_USERS_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
FROM events
GROUP BY event_type
"""


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type into columns of daily counts."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(F.to_date(F.col("ts")).alias("day"))
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, _EVENT_TYPES)
    )


EVENTS_PIVOT_SQL = """
SELECT CAST(ts AS DATE) AS day,
  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
  COUNT(*) FILTER (WHERE event_type = 'error') AS error,
  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
  COUNT(*) FILTER (WHERE event_type = 'view') AS view
FROM events
GROUP BY CAST(ts AS DATE)
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


# Monday anchor for week bucketing: integer day arithmetic against a
# fixed Monday epoch gives identical weeks in both engines without
# relying on date_trunc('week') locale/mode agreement.
_MONDAY_EPOCH = datetime.date(1970, 1, 5)


def events_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: parse the ``props`` JSON column and
    aggregate the numeric ``$.k`` field per event type.

    Scale: get_json_object is a JVM codegen expression (no Python in
    the loop), evaluated during the scan's narrow projection; the agg
    is a single partial-agg shuffle on event_type. The distinct count
    is exact (Expand + two-phase agg); swap for approx_count_distinct
    at extreme cardinalities. Reference analogue: a maple exe that
    greps a field out of each line, then a juice count per key
    (the reference's maple_juice/maple_juice.go:241 exe contract).
    """
    ev = load_table(spark, "events", sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    n_with_k = F.count("k")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            n_with_k.alias("n_with_k"),
            F.countDistinct("k").alias("n_k_distinct"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            # single division of exact ints -> deterministic double;
            # guarded: ANSI sessions throw on 0/0
            F.when(
                n_with_k > 0,
                F.sum("k").cast("double") / n_with_k.cast("double"),
            ).alias("avg_k"),
        )
    )


EVENTS_PROPS_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(k) AS n_with_k,
       COUNT(DISTINCT k) AS n_k_distinct,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       MIN(k) AS min_k,
       MAX(k) AS max_k,
       CASE WHEN COUNT(k) > 0 THEN
         CAST(SUM(k) AS DOUBLE) / CAST(COUNT(k) AS DOUBLE)
       END AS avg_k
FROM (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
GROUP BY event_type
"""


def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users grouped by first-seen
    week, counted in each subsequent week they return.

    Plan: ONE shuffle on user_id builds the per-user week set
    (collect_set is bounded by the number of distinct weeks in the
    corpus — a calendar-bounded constant, not data-scaled), the cohort
    week is array_min of that set (no second pass / no join back), and
    the final (cohort, offset) rollup is a partial-agg shuffle over at
    most weeks² groups. count(*) is exact distinct users because each
    user contributes each week at most once by construction.
    """
    ev = load_table(spark, "events", sf_dir)
    wk = F.floor(
        F.datediff(F.to_date(F.col("ts")), F.lit(_MONDAY_EPOCH)) / 7
    ).cast("int")
    per_user = (
        ev.select("user_id", wk.alias("wk"))
        .groupBy("user_id")
        .agg(F.collect_set("wk").alias("wks"))
    )
    exploded = per_user.select(
        F.array_min("wks").alias("cohort_wk"),
        F.explode("wks").alias("wk"),
    )
    return (
        exploded.groupBy("cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("week_offset"))
        .agg(F.count("*").alias("n_users"))
        .select(
            F.date_add(F.lit(_MONDAY_EPOCH), F.col("cohort_wk") * 7)
            .alias("cohort_week"),
            "week_offset",
            "n_users",
        )
    )


EVENTS_RETENTION_SQL = """
WITH wku AS (
  SELECT DISTINCT user_id,
         CAST(floor(date_diff('day', DATE '1970-01-05', CAST(ts AS DATE))
                    / 7) AS INT) AS wk
  FROM events
),
labeled AS (
  SELECT user_id, wk, MIN(wk) OVER (PARTITION BY user_id) AS cohort_wk
  FROM wku
)
SELECT DATE '1970-01-05' + cohort_wk * 7 AS cohort_week,
       wk - cohort_wk AS week_offset,
       COUNT(*) AS n_users
FROM labeled
GROUP BY 1, 2
"""


def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window rollup: 24h windows sliding every 6h, per event
    type — the overlapping-window twin of events_daily_rollup (each
    event lands in exactly size/slide = 4 windows).

    Spark's native window() generator handles the fan-out JVM-side
    (epoch-aligned starts, same origin as DuckDB's time_bucket); the
    agg is one partial-agg shuffle. The streaming twin is
    streaming/jobs.windowed_counts with the same window spec.
    """
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(
            F.window("ts", "1 day", "6 hours").alias("w"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "n_events",
            "n_users",
            "sum_value",
        )
    )


EVENTS_SLIDING_SQL = """
SELECT time_bucket(INTERVAL 6 hours, ts) - r.k * INTERVAL 6 hours
         AS win_start,
       event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events CROSS JOIN range(0, 4) AS r(k)
GROUP BY 1, 2
"""


def events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence mining: the 20 most common event-type trigrams across
    per-user ordered event streams (the "what do users do next"
    path-analysis query).

    Plan: lead() windows partitioned by user_id (never global), one
    partial-agg shuffle over at most |types|³ groups, global top-20 as
    TakeOrderedAndProject with a full deterministic tie-break.
    """
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = ev.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).where(F.col("t2").isNotNull() & F.col("t3").isNotNull())
    return (
        paths.groupBy("t1", "t2", "t3")
        .agg(F.count("*").alias("n_paths"))
        .orderBy(F.desc("n_paths"), "t1", "t2", "t3")
        .limit(20)
    )


EVENTS_PATH_TRIGRAMS_SQL = """
SELECT t1, t2, t3, COUNT(*) AS n_paths
FROM (
  SELECT event_type AS t1,
         LEAD(event_type, 1) OVER w AS t2,
         LEAD(event_type, 2) OVER w AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
WHERE t2 IS NOT NULL AND t3 IS NOT NULL
GROUP BY t1, t2, t3
ORDER BY n_paths DESC, t1 ASC, t2 ASC, t3 ASC
LIMIT 20
"""


def events_skew_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type rollup through the SALTED two-phase aggregation path
    (functions/skew.py) — the hot-key posture for when one key owns a
    double-digit share of a 100 TB table and a single reducer would
    choke. Salting is value-neutral for associative aggregates, so
    the oracle is the plain GROUP BY: identical output is exactly the
    property that makes the salted plan safe to swap in at scale.

    Exactness: value goes through a DECIMAL accumulator BEFORE the
    two-phase sum (decimal addition is associative; a double sum
    would be partitioning-dependent), final output cast to DOUBLE.
    """
    from distributed_system_mapreduce_spark.functions.skew import salted_agg

    ev = load_table(spark, "events", sf_dir).withColumn(
        "v", F.col("value").cast("decimal(18,6)"))
    out = salted_agg(
        ev, "event_type",
        {"n_events": ("count", "*"), "sum_value": ("sum", "v")},
    )
    return out.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_value").cast("double").alias("sum_value"),
    )


EVENTS_SKEW_ROLLUP_SQL = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type
"""


def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU per day — the stickiness ratio every
    growth dashboard wants, which needs a ROLLING DISTINCT (windowed
    count-distincts don't merge).

    The scale trick: reduce to distinct (user, day) pairs first (one
    shuffle, corpus -> bounded), then explode each pair onto the 7
    days it covers and count distinct per target day — the fan-out is
    x7 on the ALREADY-distinct pairs, not on raw events. Ratio is a
    single exact-int division. Days with no 7-day history still
    report (their window is just shorter)."""
    ev = load_table(spark, "events", sf_dir)
    pairs = ev.select(
        F.to_date("ts").alias("day"), "user_id").distinct()
    dau = pairs.groupBy("day").agg(
        F.countDistinct("user_id").alias("dau"))
    covering = pairs.select(
        F.explode(F.expr(
            "sequence(day, date_add(day, 6))")).alias("day"),
        "user_id",
    )
    wau = covering.groupBy("day").agg(
        F.countDistinct("user_id").alias("wau"))
    return (
        dau.join(wau, "day")
        .select(
            "day", "dau", "wau",
            (F.col("dau").cast("double") / F.col("wau").cast("double"))
            .alias("stickiness"),
        )
    )


EVENTS_DAU_WAU_SQL = """
WITH pairs AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
),
dau AS (
  SELECT day, COUNT(DISTINCT user_id) AS dau FROM pairs GROUP BY day
),
wau AS (
  SELECT day + CAST(k AS INTEGER) AS day, COUNT(DISTINCT user_id) AS wau
  FROM pairs CROSS JOIN range(0, 7) AS r(k)
  GROUP BY 1
)
SELECT day, dau, wau,
       CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS stickiness
FROM dau JOIN wau USING (day)
"""


def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transitions: for each ordered pair of event
    types, how often does a user's next event follow the previous, and
    with what probability (row-normalized per source type).

    Plan: lead() window partitioned by user_id (never global), one
    partial-agg shuffle over at most |types|^2 groups; the normalizing
    total is a window over the already-aggregated (tiny, bounded)
    matrix, not the raw stream. Probability is ONE division of exact
    ints -> deterministic double.
    """
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("t_from"),
        F.lead("event_type", 1).over(w).alias("t_to"),
    ).where(F.col("t_to").isNotNull())
    counts = pairs.groupBy("t_from", "t_to").agg(
        F.count("*").alias("n_trans"))
    wtot = Window.partitionBy("t_from")
    return counts.select(
        "t_from", "t_to", "n_trans",
        (F.col("n_trans").cast("double")
         / F.sum("n_trans").over(wtot).cast("double")).alias("p"),
    )


EVENTS_TRANSITION_SQL = """
WITH pairs AS (
  SELECT event_type AS t_from,
         LEAD(event_type, 1) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS t_to
  FROM events
),
c AS (
  SELECT t_from, t_to, COUNT(*) AS n_trans
  FROM pairs WHERE t_to IS NOT NULL
  GROUP BY t_from, t_to
)
SELECT t_from, t_to, n_trans,
       CAST(n_trans AS DOUBLE)
         / CAST(SUM(n_trans) OVER (PARTITION BY t_from) AS DOUBLE) AS p
FROM c
"""


def events_inter_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap statistics per event type: for each event,
    the time since the same user's previous event (any type), rolled
    up by the type of the LATER event — the "how long until a user
    does X" latency profile.

    Gaps are exact integer MICROSECONDS (unix_micros / epoch_us agree
    bit-for-bit); min/max/sum stay integral, the mean is one final
    division to double. lag() window partitioned by user_id.
    """
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # the reader yields TIMESTAMP_NTZ; the session is UTC-pinned
    # (tables.load_table), so the NTZ -> TZ cast is wall-clock
    # identity and unix_micros matches DuckDB's epoch_us exactly
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gaps = ev.select(
        "event_type",
        (us - F.lag(us, 1).over(w)).alias("gap_us"),
    ).where(F.col("gap_us").isNotNull())
    n = F.count("*")
    return gaps.groupBy("event_type").agg(
        n.alias("n_gaps"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
        F.sum("gap_us").cast("long").alias("sum_gap_us"),
        (F.sum("gap_us").cast("double")
         / (n * F.lit(1000000)).cast("double")).alias("avg_gap_s"),
    )


EVENTS_INTER_ARRIVAL_SQL = """
WITH gaps AS (
  SELECT event_type,
         epoch_us(ts) - LAG(epoch_us(ts), 1) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
)
SELECT event_type,
       COUNT(*) AS n_gaps,
       MIN(gap_us) AS min_gap_us,
       MAX(gap_us) AS max_gap_us,
       CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us,
       CAST(SUM(gap_us) AS DOUBLE)
         / CAST(COUNT(*) * 1000000 AS DOUBLE) AS avg_gap_s
FROM gaps
WHERE gap_us IS NOT NULL
GROUP BY event_type
"""


def events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC bars per event type: open/high/low/close of `value`
    plus count and volume — the time-series candle rollup.

    Open/close are picked by row_number windows partitioned by
    (day, type) with a full (ts, event_id) tie-break — deterministic
    in both engines, unlike first()/arg_min on a timestamp alone when
    timestamps tie. min/max/count are plain partial aggs; volume goes
    through a DECIMAL accumulator, DOUBLE at output.
    """
    ev = load_table(spark, "events", sf_dir).select(
        F.to_date("ts").alias("day"), "event_type", "ts", "event_id",
        "value")
    wo = Window.partitionBy("day", "event_type").orderBy(
        "ts", "event_id")
    wc = Window.partitionBy("day", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id"))
    marked = ev.select(
        "day", "event_type", "value",
        F.row_number().over(wo).alias("rn_o"),
        F.row_number().over(wc).alias("rn_c"),
    )
    return marked.groupBy("day", "event_type").agg(
        F.max(F.when(F.col("rn_o") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_c") == 1, F.col("value"))).alias("close"),
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double").alias("volume"),
    )


EVENTS_OHLC_SQL = """
WITH marked AS (
  SELECT CAST(ts AS DATE) AS day, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY CAST(ts AS DATE), event_type
                            ORDER BY ts, event_id) AS rn_o,
         ROW_NUMBER() OVER (PARTITION BY CAST(ts AS DATE), event_type
                            ORDER BY ts DESC, event_id DESC) AS rn_c
  FROM events
)
SELECT day, event_type,
       MAX(CASE WHEN rn_o = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rn_c = 1 THEN value END) AS close,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS volume
FROM marked
GROUP BY day, event_type
"""


def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill a sparse measure: the JSON ``$.k`` prop is only
    present on some events; carry the user's last observed value
    forward onto every event (sensor/state gap-fill). Output is
    per-event, summarized per (type, has-fill) for a bounded result:
    the full-width filled stream is the intermediate.

    last(ignorenulls) over a user-partitioned running frame — the
    canonical carry-forward; never a global window.
    """
    ev = load_table(spark, "events", sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    w = (
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = ev.select(
        "event_type",
        k.alias("k"),
        F.last(k, ignorenulls=True).over(w).alias("k_filled"),
    )
    return filled.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count("k").alias("n_observed"),
        F.count("k_filled").alias("n_filled"),
        F.sum("k_filled").cast("long").alias("sum_filled"),
    )


EVENTS_GAP_FILL_SQL = """
WITH filled AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
         LAST_VALUE(CAST(json_extract_string(props, '$.k') AS BIGINT)
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS k_filled
  FROM events
)
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(k) AS n_observed,
       COUNT(k_filled) AS n_filled,
       CAST(SUM(k_filled) AS BIGINT) AS sum_filled
FROM filled
GROUP BY event_type
"""


def events_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the
    gaps-and-islands pattern: distinct (user, day) pairs, island id =
    day minus row_number (constant within a consecutive run), then
    per-island lengths rolled up per user.

    Every window is user-partitioned; the distinct reduces the stream
    to at most users x days rows before any window sort. Output is
    exact integers only.
    """
    ev = load_table(spark, "events", sf_dir)
    pairs = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    islands = pairs.select(
        "user_id", "day",
        F.date_sub("day", F.row_number().over(w)).alias("island"),
    )
    per_island = islands.groupBy("user_id", "island").agg(
        F.count("*").alias("streak"))
    return per_island.groupBy("user_id").agg(
        F.sum("streak").cast("long").alias("n_active_days"),
        F.count("*").alias("n_streaks"),
        F.max("streak").alias("max_streak"),
    )


EVENTS_STREAKS_SQL = """
WITH pairs AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
islands AS (
  SELECT user_id, day,
         day - CAST(ROW_NUMBER() OVER
           (PARTITION BY user_id ORDER BY day) AS INTEGER) AS island
  FROM pairs
),
per_island AS (
  SELECT user_id, island, COUNT(*) AS streak
  FROM islands GROUP BY user_id, island
)
SELECT user_id,
       CAST(SUM(streak) AS BIGINT) AS n_active_days,
       COUNT(*) AS n_streaks,
       MAX(streak) AS max_streak
FROM per_island
GROUP BY user_id
"""


_ROLL_N = 10  # rolling frame length (rows), per user


def events_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median of `value` over each user's last
    {n} events (rows frame, ordered by ts/event_id) — the robust
    smoother behind rate-limit/anomaly baselines where the mean is
    skew-fragile.

    Shape: one user-partitioned window (never global) with a BOUNDED
    rows frame — state per row is {n} doubles, independent of corpus
    size. The median is computed from the sorted frame array with an
    explicit (a+b)/2 midpoint so the float expression is identical on
    both engines (engine-native median()/quantile interpolation is
    a + 0.5*(b-a) in some engines — not bit-identical).
    """.format(n=_ROLL_N)
    ev = load_table(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-(_ROLL_N - 1), Window.currentRow)
    )
    fr = ev.select(
        "event_id", "user_id", "event_type", "value",
        F.array_sort(F.collect_list("value").over(w)).alias("s"),
    )
    return fr.select(
        "event_id", "user_id", "event_type", "value",
        F.expr(
            "CASE WHEN size(s) % 2 = 1 "
            "THEN element_at(s, CAST((size(s)+1) DIV 2 AS INT)) "
            "ELSE (element_at(s, CAST(size(s) DIV 2 AS INT)) "
            "      + element_at(s, CAST(size(s) DIV 2 + 1 AS INT))) / 2 END"
        ).alias("roll_med"),
    )


EVENTS_ROLLING_MEDIAN_SQL = f"""
WITH fr AS (
  SELECT event_id, user_id, event_type, value,
         list_sort(list(value) OVER
           (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN {_ROLL_N - 1} PRECEDING AND CURRENT ROW)) AS s
  FROM events
)
SELECT event_id, user_id, event_type, value,
       CASE WHEN len(s) % 2 = 1 THEN s[(len(s)+1) // 2]
            ELSE (s[len(s) // 2] + s[len(s) // 2 + 1]) / 2 END AS roll_med
FROM fr
"""


def events_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour activity heatmap: event count and distinct
    users per (dow, hour) cell — the capacity-planning / anomaly
    baseline census. Bounded output (168 cells), one partial-agg
    shuffle; dow normalized to DuckDB's 0=Sunday convention."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.select((F.dayofweek("ts") - 1).alias("dow"),
                  F.hour("ts").alias("hour"), "user_id")
        .groupBy("dow", "hour")
        .agg(F.count("*").alias("n_events"),
             F.countDistinct("user_id").alias("n_users"))
    )


EVENTS_HOUR_HEATMAP_SQL = """
SELECT EXTRACT(dow FROM ts) AS dow, EXTRACT(hour FROM ts) AS hour,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
"""


def events_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key JOIN posture: enrich the event stream with a per-user
    profile dim through the manual salted join (fact side salted,
    dim replicated across salts) — the fallback when AQE skew
    splitting isn't available and the dim is too big to broadcast.
    Values must be IDENTICAL to the plain equi-join (the oracle runs
    the unsalted join): salting only changes row routing.

    Output is the bounded per-type rollup; integer aggregates only.
    """
    from distributed_system_mapreduce_spark.functions.skew import (
        salted_join,
    )

    ev = load_table(spark, "events", sf_dir)
    dim = ev.groupBy("user_id").agg(
        F.count("*").alias("n_user_events"))
    j = salted_join(ev.select("user_id", "event_type"), dim,
                    "user_id", n_salts=8)
    return j.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("n_user_events").cast("long").alias("sum_peer_events"),
    )


EVENTS_SKEW_JOIN_SQL = """
WITH dim AS (
  SELECT user_id, COUNT(*) AS n_user_events FROM events GROUP BY user_id
)
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(n_user_events) AS BIGINT) AS sum_peer_events
FROM events JOIN dim USING (user_id)
GROUP BY event_type
"""


_EWMA_ALPHA_NUM, _EWMA_ALPHA_DEN = 3, 10  # alpha = 0.3, exact rational


def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of `value` over each
    user's last {n} events — the time-series smoother where recent
    points dominate. Computed as an explicit left fold over the
    sorted bounded frame (oldest -> newest):
    acc = acc + alpha * (x - acc), alpha = {a}/{d} evaluated as
    double division once — the SAME float op sequence on both engines
    (a recursive-CTE EWMA or engine-native ewm would not be
    replicable bit-for-bit).

    Same scale posture as events_rolling_median: user-partitioned
    window, {n}-row frame, state independent of history length.
    """.format(n=_ROLL_N, a=_EWMA_ALPHA_NUM, d=_EWMA_ALPHA_DEN)
    ev = load_table(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-(_ROLL_N - 1), Window.currentRow)
    )
    alpha = f"(CAST({_EWMA_ALPHA_NUM} AS DOUBLE) / {_EWMA_ALPHA_DEN})"
    fr = ev.select(
        "event_id", "user_id", "event_type", "value",
        F.collect_list("value").over(w).alias("s"),
    )
    return fr.select(
        "event_id", "user_id", "event_type", "value",
        F.expr(
            "aggregate(slice(s, 2, size(s) - 1), "
            "CAST(element_at(s, 1) AS DOUBLE), "
            f"(acc, x) -> acc + {alpha} * (CAST(x AS DOUBLE) - acc))"
        ).alias("ewma"),
    )


EVENTS_EWMA_SQL = f"""
WITH fr AS (
  SELECT event_id, user_id, event_type, value,
         list(value) OVER
           (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN {_ROLL_N - 1} PRECEDING AND CURRENT ROW) AS s
  FROM events
)
SELECT event_id, user_id, event_type, value,
       list_reduce(list_transform(s, x -> CAST(x AS DOUBLE)),
         (acc, x) -> acc + (CAST({_EWMA_ALPHA_NUM} AS DOUBLE)
                            / {_EWMA_ALPHA_DEN}) * (x - acc)) AS ewma
FROM fr
"""


# ---------------------------------------------------- user growth curve
def user_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acquisition curve: per day, how many users were seen for the
    FIRST time, and the cumulative user base through that day.

    Shape: min(first day) per user (one user_id shuffle), daily counts
    (bounded calendar), then the cumulative sum via a triangular
    broadcast self-join over the tiny aggregated calendar — the same
    no-global-window pattern as vocab_growth (a window over all days
    would serialize onto one task; the calendar table is O(days), so
    the triangular join is O(days^2) rows on broadcast data)."""
    from distributed_system_mapreduce_spark.functions.rollups import (
        triangular_cumsum,
    )

    ev = load_table(spark, "events", sf_dir)
    first = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day"))
    daily = first.groupBy("first_day").agg(
        F.count("*").cast("long").alias("new_users"))
    return triangular_cumsum(daily, "first_day", "new_users", "cum_users")


USER_GROWTH_SQL = """
WITH first AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
  FROM events GROUP BY user_id
),
daily AS (
  SELECT first_day, CAST(COUNT(*) AS BIGINT) AS new_users
  FROM first GROUP BY first_day
)
SELECT a.first_day, a.new_users,
       CAST(SUM(b.new_users) AS BIGINT) AS cum_users
FROM daily a JOIN daily b ON b.first_day <= a.first_day
GROUP BY a.first_day, a.new_users
"""


# ------------------------------------------------ interval concurrency
CONC_WINDOW_S = 900  # each event holds a resource for 15 minutes


def events_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per event type: each event opens a 15-minute
    interval [ts, ts+900s); report the maximum number of
    simultaneously open intervals and the earliest instant the peak
    is reached — the interval-overlap / capacity-planning sweep
    (max concurrent sessions, peak connection count).

    Shape: decompose every interval into a +1 start and a -1 end
    delta, then take an EXACT running sum without any global window —
    per-(type, day) cumsum windows stitched with an exclusive
    per-day prefix computed by a window over the calendar-BOUNDED
    (type, day) totals table (the orders_backlog discipline). The
    delta ordering (t, d, event_id) is total, so every per-row
    running value — and therefore the argmax row — is deterministic
    in both engines; ends sort before coincident starts, making
    boundary-touching intervals non-overlapping.
    """
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir).select(
        "event_type", "ts", "event_id")
    end_ts = F.expr(f"ts + INTERVAL {CONC_WINDOW_S} SECONDS")
    deltas = (
        ev.select("event_type", F.col("ts").alias("t"),
                  F.lit(1).alias("d"), "event_id")
        .unionByName(
            ev.select("event_type", end_ts.alias("t"),
                      F.lit(-1).alias("d"), "event_id"))
        .withColumn("day", F.to_date("t"))
    )
    wday = (
        Window.partitionBy("event_type", "day")
        .orderBy("t", "d", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    day_tot = deltas.groupBy("event_type", "day").agg(
        F.sum("d").alias("dtot"))
    woff = (
        Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = day_tot.select(
        "event_type", "day",
        F.coalesce(F.sum("dtot").over(woff), F.lit(0)).alias("off"))
    cur = (
        deltas.withColumn("run", F.sum("d").over(wday))
        .join(F.broadcast(offs), ["event_type", "day"])
        .select("event_type", "t",
                (F.col("run") + F.col("off")).alias("cur"))
        # three consumers (mx, the argmax filter, and offs' shared
        # deltas parent) — cut lineage so the union + cumsum window
        # evaluates once, not per consumer
        .transform(cut)
    )
    mx = cur.groupBy("event_type").agg(
        F.max("cur").alias("max_concurrent"))
    return (
        cur.join(F.broadcast(mx), "event_type")
        .filter(F.col("cur") == F.col("max_concurrent"))
        .groupBy("event_type")
        .agg(F.max("cur").cast("bigint").alias("max_concurrent"),
             F.min("t").alias("peak_ts"))
    )


EVENTS_CONCURRENCY_SQL = f"""
WITH deltas AS (
  SELECT event_type, ts AS t, 1 AS d, event_id FROM events
  UNION ALL
  SELECT event_type, ts + INTERVAL {CONC_WINDOW_S} SECOND, -1, event_id
  FROM events
),
cur AS (
  SELECT event_type, t,
         SUM(d) OVER (PARTITION BY event_type
                      ORDER BY t, d, event_id
                      ROWS UNBOUNDED PRECEDING) AS cur
  FROM deltas
),
mx AS (
  SELECT event_type, MAX(cur) AS m FROM cur GROUP BY event_type
)
SELECT c.event_type, CAST(MAX(c.cur) AS BIGINT) AS max_concurrent,
       MIN(c.t) AS peak_ts
FROM cur c JOIN mx ON c.event_type = mx.event_type AND c.cur = mx.m
GROUP BY c.event_type
"""


# ------------------------------------------------------------ cdc_apply
def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the events stream as a change log over per-user state:
    every non-error event UPSERTS the user's current value, an
    'error' event DELETES the state (tombstone). Emit the surviving
    current snapshot: one row per live user with the winning value,
    plus op accounting — the SCD-1 / CDC-materialization every
    warehouse runs on its replication feed.

    Shape: last-writer-wins is ONE max_by-style aggregate —
    max(struct(ts, event_id, op, value)) per user, partial-aggregated
    map-side, one shuffle of per-user 1-row states, no window over
    the log. The total (ts, event_id) order makes the winner
    engine-deterministic. FileStore.merge is the storage twin
    (rewrites only dirty buckets); this is the query-plan twin.
    """
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "ts", "event_id",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U")).alias("op"),
        "value",
    )
    top = F.max(F.struct("ts", "event_id", "op", "value"))
    state = (
        ev.groupBy("user_id")
        .agg(
            top.alias("w"),
            F.count(F.lit(1)).alias("n_ops"),
            F.sum((F.col("op") == F.lit("D")).cast("long"))
            .cast("bigint").alias("n_deletes"),
        )
    )
    return (
        state.filter(F.col("w.op") == "U")
        .select(
            "user_id",
            F.col("w.value").alias("current_value"),
            F.col("w.ts").alias("last_ts"),
            "n_ops", "n_deletes",
        )
    )


CDC_APPLY_SQL = """
WITH log AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         value
  FROM events
),
ranked AS (
  SELECT user_id, ts, event_id, op, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM log
),
acct AS (
  SELECT user_id, COUNT(*) AS n_ops,
         CAST(SUM(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_deletes
  FROM log GROUP BY user_id
)
SELECT r.user_id, r.value AS current_value, r.ts AS last_ts,
       a.n_ops, a.n_deletes
FROM ranked r JOIN acct a ON r.user_id = a.user_id
WHERE r.rn = 1 AND r.op = 'U'
"""


# ----------------------------------------------------- winsorized_stats
_TAILS = (0.05, 0.95)


def winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type stats for the events value stream: exact
    p05/p95 cutoffs, the trimmed mean over the interior values, and
    tail counts — the outlier-robust location estimate a metrics
    pipeline reports instead of the raw mean.

    Shape: one exact array-percentile aggregate per type (bounded
    group count; the t-digest swap is the unbounded-cardinality
    path), cutoffs BROADCAST back onto an un-shuffled scan, interior
    sum through a DECIMAL accumulator (double summation order is
    engine-nondeterministic), one double division at output.
    Interpolation arithmetic matches DuckDB quantile_cont
    bit-for-bit (the price_quantiles precedent).
    """
    ev = load_table(spark, "events", sf_dir).select("event_type", "value")
    cuts = (
        ev.groupBy("event_type")
        .agg(F.expr(
            f"percentile(value, array({_TAILS[0]}, {_TAILS[1]}))"
        ).alias("qs"))
        .select("event_type", F.col("qs")[0].alias("lo"),
                F.col("qs")[1].alias("hi"))
    )
    tagged = ev.join(F.broadcast(cuts), "event_type")
    mid = F.col("value").between(F.col("lo"), F.col("hi"))
    n_mid = F.sum(mid.cast("long"))
    return (
        tagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("lo").alias("p05"),
            F.min("hi").alias("p95"),
            F.sum(F.when(F.col("value") < F.col("lo"), 1)
                  .otherwise(0)).cast("bigint").alias("n_low"),
            F.sum(F.when(F.col("value") > F.col("hi"), 1)
                  .otherwise(0)).cast("bigint").alias("n_high"),
            (F.sum(F.when(mid, _dec("value", 18, 6))
                   .otherwise(F.lit(None))).cast("double")
             / n_mid.cast("double")).alias("trimmed_mean"),
        )
    )


WINSORIZED_STATS_SQL = f"""
WITH cuts AS (
  SELECT event_type,
         quantile_cont(value, {_TAILS[0]}) AS lo,
         quantile_cont(value, {_TAILS[1]}) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_type, COUNT(*) AS n,
       MIN(lo) AS p05, MIN(hi) AS p95,
       CAST(SUM(CASE WHEN e.value < lo THEN 1 ELSE 0 END) AS BIGINT)
         AS n_low,
       CAST(SUM(CASE WHEN e.value > hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_high,
       CAST(SUM(CASE WHEN e.value BETWEEN lo AND hi
                THEN CAST(e.value AS DECIMAL(18,6)) END) AS DOUBLE)
         / CAST(SUM(CASE WHEN e.value BETWEEN lo AND hi
                    THEN 1 ELSE 0 END) AS DOUBLE) AS trimmed_mean
FROM events e JOIN cuts c ON e.event_type = c.event_type
GROUP BY e.event_type
"""


# ---------------------------------------------------------- events_twap
def events_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of each user's value signal: the events
    form a step function (a value holds until the next event); report
    the exact integral / span — the TWAP / sensor-mean that a plain
    AVG gets wrong whenever sampling is irregular.

    Exactness discipline: the integral is Σ value_i · Δt_i with Δt in
    integer microseconds and value on a 1e-6 integer grid
    (floor(v·1e6 + 0.5) — the cross-engine round-half-up; Spark
    round() and DuckDB round() only agree for positives, the grid
    idiom is embedding_quantize's), accumulated in DECIMAL(38,0) so
    summation order cannot move the result; ONE double division at
    output. Δt comes from a lead window partitioned by user — state
    per task is one row, and no global window exists.
    """
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "ts", "event_id", "value")
    # ts is TIMESTAMP_NTZ; session tz is pinned UTC so the cast is a
    # no-op reinterpretation matching DuckDB epoch_us
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    stepped = (
        ev.select(
            "user_id", us.alias("t"),
            F.expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)")
            .alias("v6"),
            F.lead(us, 1).over(w).alias("t_next"),
        )
        .filter(F.col("t_next").isNotNull())
        .select(
            "user_id", "v6",
            (F.col("t_next") - F.col("t")).alias("dt"),
        )
    )
    num = F.sum(F.col("v6").cast("decimal(20,0)")
                * F.col("dt").cast("decimal(18,0)"))
    den = F.sum("dt")
    agg = stepped.groupBy("user_id").agg(
        (F.count(F.lit(1)) + 1).cast("bigint").alias("n_events"),
        den.cast("bigint").alias("span_us"),
        num.alias("num"),
    )
    # the integral exceeds 2^53, where DECIMAL->DOUBLE rounding is
    # implementation-defined (observed 1-ulp cross-engine drift):
    # split exactly into quotient + remainder first — q, r, den all
    # fit a double exactly, so the float expression is deterministic
    q = F.expr("CAST(num DIV span_us AS BIGINT)")
    r = F.expr("CAST(num % span_us AS BIGINT)")
    return agg.select(
        "user_id", "n_events", "span_us",
        ((q.cast("double")
          + r.cast("double") / F.col("span_us").cast("double"))
         / F.lit(1000000.0)).alias("twap"),
    )


EVENTS_TWAP_SQL = """
WITH stepped AS (
  SELECT user_id,
         CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v6,
         epoch_us(LEAD(ts, 1) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id))
           - epoch_us(ts) AS dt
  FROM events
)
, agg AS (
  SELECT user_id,
         CAST(COUNT(*) + 1 AS BIGINT) AS n_events,
         CAST(SUM(dt) AS BIGINT) AS span_us,
         SUM(CAST(v6 AS DECIMAL(20,0)) * CAST(dt AS DECIMAL(18,0)))
           AS num
  FROM stepped
  WHERE dt IS NOT NULL
  GROUP BY user_id
)
SELECT user_id, n_events, span_us,
       -- HUGEINT //: true integer floor division (DECIMAL // goes
       -- through DOUBLE and the BIGINT cast would round, not floor)
       (CAST(CAST(CAST(num AS HUGEINT) // span_us AS BIGINT) AS DOUBLE)
        + CAST(CAST(CAST(num AS HUGEINT) % span_us AS BIGINT)
               AS DOUBLE)
          / CAST(span_us AS DOUBLE)) / 1000000.0 AS twap
FROM agg
"""


# --------------------------------------------------------- events_drift
DRIFT_BUCKETS = 10
DRIFT_LO, DRIFT_HI = 0.0, 500.0
_DRIFT_BUCKET = (
    f"CASE WHEN value < {DRIFT_LO} THEN 0 "
    f"WHEN value >= {DRIFT_HI} THEN {DRIFT_BUCKETS} + 1 "
    f"ELSE CAST(floor((value - {DRIFT_LO}) * {DRIFT_BUCKETS} "
    f"/ ({DRIFT_HI} - {DRIFT_LO})) AS INT) + 1 END")


def events_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: per event type, the total-variation
    distance between the value distribution of the FIRST and SECOND
    half of the observed time range — the data-drift alarm every
    production feature pipeline runs before trusting a window of
    data. TVD = max over events of |P_first(A) - P_second(A)| =
    0.5 * Σ_buckets |p_i - q_i|.

    Exactness: TVD is computed WITHOUT per-bucket float sums —
    0.5·Σ|c1_i·N2 - c2_i·N1| / (N1·N2) keeps the entire accumulation
    in exact integer (DECIMAL) arithmetic; the single double division
    happens once per type at output. Shape: one scan bucketed by
    width_bucket into a bounded (type, half, bucket) rollup —
    localCheckpointed, because the per-type totals and the TVD fold
    both reference it and would each replay the events scan (r7 scan
    audit: 4 scans, now 2 — the min/max endcap and the rollup); the
    split point is the observed midpoint timestamp, broadcast from a
    2-value aggregate.
    """
    ev = load_table(spark, "events", sf_dir).select(
        "event_type", "ts", "value")
    lohi = F.broadcast(ev.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")))
    b = (
        ev.crossJoin(lohi)
        .select(
            "event_type",
            # first half: ts strictly before the midpoint epoch-us
            (F.unix_micros(F.col("ts").cast("timestamp"))
             < (F.unix_micros(F.col("lo").cast("timestamp"))
                + F.unix_micros(F.col("hi").cast("timestamp"))) / 2
             ).alias("first_half"),
            # hand-rolled width_bucket (DuckDB lacks the function):
            # same double ops on both engines, so bucket ids agree
            F.expr(_DRIFT_BUCKET).alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.sum(F.col("first_half").cast("long")).alias("c1"),
            F.sum((~F.col("first_half")).cast("long")).alias("c2"),
        )
        .transform(cut)
    )
    tot = b.groupBy("event_type").agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"))
    return (
        b.join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("n1").alias("n_first"),
            F.min("n2").alias("n_second"),
            (F.sum(F.abs(
                F.col("c1").cast("decimal(38,0)") * F.col("n2")
                - F.col("c2").cast("decimal(38,0)") * F.col("n1")
            )).cast("double")
             / (F.lit(2.0) * F.min("n1").cast("double")
                * F.min("n2").cast("double"))).alias("tvd"),
        )
    )


EVENTS_DRIFT_SQL = f"""
WITH lohi AS (
  SELECT epoch_us(MIN(ts)) AS lo, epoch_us(MAX(ts)) AS hi FROM events
),
b AS (
  SELECT event_type,
         {_DRIFT_BUCKET} AS bucket,
         SUM(CASE WHEN epoch_us(ts) < (lo + hi) / 2
                  THEN 1 ELSE 0 END) AS c1,
         SUM(CASE WHEN epoch_us(ts) < (lo + hi) / 2
                  THEN 0 ELSE 1 END) AS c2
  FROM events CROSS JOIN lohi
  GROUP BY event_type, bucket
),
tot AS (
  SELECT event_type, CAST(SUM(c1) AS BIGINT) AS n1,
         CAST(SUM(c2) AS BIGINT) AS n2
  FROM b GROUP BY event_type
)
SELECT b.event_type, MIN(n1) AS n_first, MIN(n2) AS n_second,
       CAST(SUM(abs(CAST(c1 AS DECIMAL(38,0)) * n2
                    - CAST(c2 AS DECIMAL(38,0)) * n1)) AS DOUBLE)
         / (2.0 * CAST(MIN(n1) AS DOUBLE) * CAST(MIN(n2) AS DOUBLE))
         AS tvd
FROM b JOIN tot ON b.event_type = tot.event_type
GROUP BY b.event_type
"""


# ------------------------------------------------------ events_autocorr
def events_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each event type's daily count series:
    Pearson r over (count(day), count(day+1)) pairs for consecutive
    observed days — the "is yesterday predictive of today" signal
    that gates naive-persistence forecasting.

    Shape: one partial-agg shuffle reduces the stream to the BOUNDED
    (type, day) table (days grow with wall time, not data volume);
    the lag pairing is a broadcast self-join on day+1; the moment
    sums per type are a bounded final aggregate. Cross-engine
    exactness: all five moment sums are exact BIGINT integer sums
    (daily counts are integers), the correlation is formed from them
    in ONE fixed-order double expression — num / (sqrt(d1) *
    sqrt(d2)) with IEEE-exact sqrt — so the value hashes identically.
    The BIGINT moments stay well under 2^53 up to ~1e6 events/day/
    type-year; beyond that widen the accumulators to DECIMAL(38,0)
    and split via the DIV/%% idiom (events_twap)."""
    ev = load_table(spark, "events", sf_dir)
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(
        F.broadcast(b),
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.date_add(F.col("a.day"), 1) == F.col("b.day")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.c").alias("x"), F.col("b.c").alias("y"),
    )
    m = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    d1 = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    d2 = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return m.select(
        "event_type",
        F.col("n").alias("n_pairs"),
        F.when(
            (d1 > 0) & (d2 > 0),
            num.cast("double")
            / (F.sqrt(d1.cast("double")) * F.sqrt(d2.cast("double"))),
        ).alias("acf1"),
    )


EVENTS_AUTOCORR_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
pairs AS (
  SELECT a.event_type, a.c AS x, b.c AS y
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day + 1 = b.day
),
m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM pairs GROUP BY event_type
)
SELECT event_type, n AS n_pairs,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
            THEN CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
       END AS acf1
FROM m
"""


# ------------------------------------------------------- funnel_latency
def funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: for each user, time from the
    FIRST 'view' to the first 'purchase' at-or-after it; reported per
    conversion month as count + min/p50/p90/max latency in seconds —
    the funnel-health dashboard row.

    Shape: two partial-agg shuffles on user_id (first view, then
    first qualifying purchase — both map-side-combined mins), then a
    bounded per-month aggregate. Exactness: latencies are integer
    microseconds; the exact percentile's interpolation matches DuckDB
    quantile_cont bit-for-bit (price_quantiles precedent); groups are
    bounded (months), so the per-group exact-percentile sort is safe —
    at unbounded group cardinality swap approx_percentile."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "event_type", "ts")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    fv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min(us).alias("t_view"))
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", us.alias("t_p"))
        .join(fv, "user_id")
        .filter(F.col("t_p") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("t_p").alias("t_purchase"),
             F.min("t_view").alias("t_view"))
    )
    lat = fp.select(
        F.date_trunc("month", F.timestamp_micros(F.col("t_purchase")))
        .cast("date").alias("month"),
        (F.col("t_purchase") - F.col("t_view")).alias("lat_us"),
    )
    return (
        lat.groupBy("month")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_converted"),
            F.min("lat_us").alias("min_us"),
            F.expr("percentile(lat_us, array(0.5, 0.9))").alias("qs"),
            F.max("lat_us").alias("max_us"),
        )
        .select(
            "month", "n_converted", "min_us",
            F.col("qs")[0].alias("p50_us"),
            F.col("qs")[1].alias("p90_us"),
            "max_us",
        )
    )


FUNNEL_LATENCY_SQL = """
WITH fv AS (
  SELECT user_id, MIN(epoch_us(ts)) AS t_view
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
fp AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t_purchase,
         MIN(fv.t_view) AS t_view
  FROM events e JOIN fv ON e.user_id = fv.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= fv.t_view
  GROUP BY e.user_id
),
lat AS (
  SELECT CAST(date_trunc('month', make_timestamp(t_purchase)) AS DATE)
           AS month,
         t_purchase - t_view AS lat_us
  FROM fp
)
SELECT month, CAST(COUNT(*) AS BIGINT) AS n_converted,
       MIN(lat_us) AS min_us,
       quantile_cont(lat_us, 0.5) AS p50_us,
       quantile_cont(lat_us, 0.9) AS p90_us,
       MAX(lat_us) AS max_us
FROM lat GROUP BY month
"""


# ---------------------------------------------------- user_behavior_gini
def user_behavior_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-diversity census: per user, the Gini impurity of
    their event-type mix, 1 - Σ p_i² — the log-free concentration
    index (entropy's rational twin, so it cross-engine hashes
    exactly) that segments single-action bots from diverse users.

    Shape: two partial-agg shuffles — (user, type) counts, then
    per-user moments; output is one row per user (scales with the
    key, like cdc_apply). Exactness: Σc² and N² are exact BIGINTs;
    the impurity is ONE fixed-order double expression."""
    ev = load_table(spark, "events", sf_dir)
    ut = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c"))
    return (
        ut.groupBy("user_id")
        .agg(
            F.sum("c").cast("long").alias("n_events"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
        )
        .select(
            "user_id", "n_events", "n_types",
            (F.lit(1.0)
             - F.col("ss").cast("double")
             / (F.col("n_events").cast("double")
                * F.col("n_events").cast("double"))).alias("gini"),
        )
    )


USER_BEHAVIOR_GINI_SQL = """
WITH ut AS (
  SELECT user_id, event_type, COUNT(*) AS c
  FROM events GROUP BY user_id, event_type
)
SELECT user_id,
       CAST(SUM(c) AS BIGINT) AS n_events,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       1.0 - CAST(SUM(c * c) AS DOUBLE)
             / (CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE))
         AS gini
FROM ut GROUP BY user_id
"""


# ----------------------------------------------------------- user_churn
def user_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn census over the observed horizon: split the time range
    at its midpoint; a user is churned if active only in the first
    half, new if only in the second, retained if both. One summary
    row with counts and the churn rate.

    Shape: the midpoint comes from a broadcast 2-value aggregate
    (events_drift pattern); per-user flags are one partial-agg
    shuffle (two boolean max's); the census is a single bounded
    aggregate. Integer counts; one double division at output."""
    ev = load_table(spark, "events", sf_dir).select("user_id", "ts")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    lohi = F.broadcast(ev.agg(
        F.min(us).alias("lo"), F.max(us).alias("hi")))
    flags = (
        ev.crossJoin(lohi)
        .select(
            "user_id",
            (us < (F.col("lo") + F.col("hi")) / 2).alias("in_first"),
        )
        .groupBy("user_id")
        .agg(F.max(F.col("in_first")).alias("first_half"),
             F.max(~F.col("in_first")).alias("second_half"))
    )
    n_first = F.sum(F.col("first_half").cast("long"))
    churned = F.sum((F.col("first_half")
                     & ~F.col("second_half")).cast("long"))
    return flags.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        n_first.cast("long").alias("n_first_half"),
        F.sum(F.col("second_half").cast("long")).cast("long")
        .alias("n_second_half"),
        churned.cast("long").alias("n_churned"),
        F.sum((~F.col("first_half") & F.col("second_half"))
              .cast("long")).cast("long").alias("n_new"),
        F.sum((F.col("first_half") & F.col("second_half"))
              .cast("long")).cast("long").alias("n_retained"),
        (churned.cast("double") / n_first.cast("double"))
        .alias("churn_rate"),
    )


USER_CHURN_SQL = """
WITH lohi AS (
  SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi FROM events
),
flags AS (
  SELECT user_id,
         MAX(CASE WHEN epoch_us(ts) < (lo + hi) / 2
                  THEN 1 ELSE 0 END) = 1 AS first_half,
         MAX(CASE WHEN epoch_us(ts) < (lo + hi) / 2
                  THEN 0 ELSE 1 END) = 1 AS second_half
  FROM events CROSS JOIN lohi
  GROUP BY user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(CASE WHEN first_half THEN 1 ELSE 0 END) AS BIGINT)
         AS n_first_half,
       CAST(SUM(CASE WHEN second_half THEN 1 ELSE 0 END) AS BIGINT)
         AS n_second_half,
       CAST(SUM(CASE WHEN first_half AND NOT second_half
                THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
       CAST(SUM(CASE WHEN NOT first_half AND second_half
                THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       CAST(SUM(CASE WHEN first_half AND second_half
                THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
       CAST(SUM(CASE WHEN first_half AND NOT second_half
                THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(SUM(CASE WHEN first_half THEN 1 ELSE 0 END) AS DOUBLE)
         AS churn_rate
FROM flags
"""


# ---------------------------------------------------- events_dow_profile
def events_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality per event type: the peak weekday, its
    share, and the total-variation distance from a uniform weekly
    profile — the calendar-effect screen run before comparing
    windows that start on different weekdays.

    Exactness: dow is pure integer arithmetic ((epoch_days + 4) % 7,
    engine-independent — built-in dayofweek origins differ across
    engines); the TVD accumulates Σ|7·c − N| in exact integers,
    adding N for each ABSENT weekday (a missing row still
    contributes |0·7 − N|), with one double division at output. Peak
    selection is a min(struct) total order (count desc, dow asc).
    Shape: one partial-agg shuffle to the bounded (type, dow) table,
    then a bounded per-type fold."""
    ev = load_table(spark, "events", sf_dir)
    dow = ((F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
            + 4) % 7).alias("dow")
    d = (
        ev.select("event_type", dow)
        .groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = d.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_dows"))
    return (
        d.join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("n").alias("n_events"),
            F.min(F.struct((-F.col("c")).alias("nc"),
                           F.col("dow").alias("d"))).alias("pk"),
            ((F.sum(F.abs(F.lit(7) * F.col("c") - F.col("n")))
              + (F.lit(7) - F.min("n_dows")) * F.min("n"))
             .cast("double")
             / (F.lit(14.0) * F.min("n").cast("double")))
            .alias("uniform_tvd"),
        )
        .select(
            "event_type", "n_events",
            F.col("pk.d").alias("peak_dow"),
            ((-F.col("pk.nc")).cast("double")
             / F.col("n_events").cast("double")).alias("peak_share"),
            "uniform_tvd",
        )
    )


EVENTS_DOW_PROFILE_SQL = """
WITH d AS (
  SELECT event_type,
         (CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) + 4) % 7
           AS dow,
         COUNT(*) AS c
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT event_type, CAST(SUM(c) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS n_dows
  FROM d GROUP BY event_type
),
pk AS (
  SELECT event_type, dow, c,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY c DESC, dow ASC) AS rn
  FROM d
)
SELECT t.event_type, t.n AS n_events,
       pk.dow AS peak_dow,
       CAST(pk.c AS DOUBLE) / CAST(t.n AS DOUBLE) AS peak_share,
       CAST((SELECT SUM(abs(7 * d.c - t.n)) FROM d
             WHERE d.event_type = t.event_type)
            + (7 - t.n_dows) * t.n AS DOUBLE)
         / (14.0 * CAST(t.n AS DOUBLE)) AS uniform_tvd
FROM tot t JOIN pk ON pk.event_type = t.event_type AND pk.rn = 1
"""


SESSION_GAP_MIN = 30


# ------------------------------------------------------- session_lengths
def session_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How big are sessions? Events sessionize per user on a
    30-minute inactivity gap (the events_sessionize rule); this
    reports the GLOBAL histogram of events-per-session — the
    engagement-depth distribution product analytics tracks.

    Shape: the gap flags and session ids are per-user windows
    (bounded partitions, single exchange), the histogram is one
    partial-agg shuffle on the bounded length key. All integers."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us, 1).over(w)
    newsess = (gap.isNull()
               | (gap > SESSION_GAP_MIN * 60 * 1_000_000)).cast("long")
    sess = (
        ev.withColumn("new_s", newsess)
        .withColumn(
            "sess_id",
            F.sum("new_s").over(
                w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "sess_id")
        .agg(F.count(F.lit(1)).alias("length"))
    )
    return (
        sess.groupBy("length")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
        .select(F.col("length").cast("long").alias("length"),
                "n_sessions")
    )


SESSION_LENGTHS_SQL = f"""
WITH flagged AS (
  SELECT user_id,
         CASE WHEN epoch_us(ts) - epoch_us(LAG(ts, 1) OVER (
                PARTITION BY user_id ORDER BY ts, event_id))
              > {SESSION_GAP_MIN} * 60 * 1000000
              OR LAG(ts, 1) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) IS NULL
         THEN 1 ELSE 0 END AS new_s,
         ts, event_id
  FROM events
),
sess AS (
  SELECT user_id,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM flagged
),
lens AS (
  SELECT user_id, sess_id, COUNT(*) AS length
  FROM sess GROUP BY user_id, sess_id
)
SELECT CAST(length AS BIGINT) AS length,
       CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM lens GROUP BY length
"""


# ------------------------------------------------------ user_survival_km


def user_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-first-error: each user
    enters at their first event, 'fails' at their first error at or
    after it, and is right-censored at the end of observation
    otherwise; S(t) = Π_{s<=t} (1 - d_s/n_s) over failure days — the
    retention/reliability estimator that handles censoring correctly
    where a naive failure-rate curve does not.

    Exactness for an estimator that is a PRODUCT of ratios: factor
    (n_s - d_s)/n_s is one exact-integer division; S(t) folds the
    factors in day order with a strict left fold from 1.0 — Spark
    aggregate() and DuckDB list_reduce produce the identical IEEE
    sequence, so the curve value-hashes cross-engine (the
    functions/vectors discipline applied to time instead of dims).
    Shape: one per-user partial-agg shuffle; everything after lives
    on the BOUNDED day grid (triangular broadcast joins — the
    split_ks_check discipline; never a global window over users).
    The day grid is localCheckpointed: every downstream branch
    (at-risk, steps, the final fold) references it, and without the
    barrier Catalyst replays the per-user subtree — and its events
    scan — under each reference (r7 scan audit measured 12 scans in
    the static plan; it is 2 with the barrier: the endcap max and
    the per-user agg). n_users is derived from the grid itself
    (every user lands on exactly one day row, so sum(d + c) counts
    users exactly) instead of re-aggregating per_user."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"))
    endcap = F.broadcast(ev.agg(F.max("us").alias("end_us")))
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.min("us").alias("start_us"),
            F.min(F.when(F.col("event_type") == "error",
                         F.col("us"))).alias("err_us"),
        )
        .crossJoin(endcap)
        .select(
            F.expr(
                f"CASE WHEN err_us IS NOT NULL THEN "
                f"(err_us - start_us) DIV {DAY_US} END").alias("ed"),
            F.expr(f"(end_us - start_us) DIV {DAY_US}").alias("cd"),
        )
    )
    days = (
        per_user.select(
            F.coalesce("ed", "cd").alias("t"),
            F.col("ed").isNotNull().cast("long").alias("is_event"),
        )
        .groupBy("t")
        .agg(
            F.sum("is_event").cast("long").alias("d"),
            F.sum(1 - F.col("is_event")).cast("long").alias("c"),
        )
        .transform(cut)
    )
    n_total = F.broadcast(days.agg(
        F.sum(F.col("d") + F.col("c")).cast("long").alias("n_users")))
    b = F.broadcast(days.select(F.col("t").alias("s"),
                                F.col("d").alias("ds"),
                                F.col("c").alias("cs")))
    # at-risk at t: everyone not failed/censored strictly before t
    atrisk = (
        days.join(b, F.col("s") < F.col("t"), "left")
        .groupBy("t", "d", "c")
        .agg(F.coalesce(F.sum(F.col("ds") + F.col("cs")), F.lit(0))
             .cast("long").alias("gone"))
        .crossJoin(n_total)
        .select(
            "t", "d", "c",
            (F.col("n_users") - F.col("gone")).alias("n_risk"),
        )
    )
    steps = F.broadcast(
        atrisk.filter(F.col("d") > 0).select(
            F.col("t").alias("s"),
            ((F.col("n_risk") - F.col("d")).cast("double")
             / F.col("n_risk").cast("double")).alias("factor"),
        )
    )
    return (
        atrisk.filter(F.col("d") > 0)
        .join(steps, F.col("s") <= F.col("t"))
        .groupBy("t", "d", "c", "n_risk")
        .agg(F.expr(
            "aggregate(transform(array_sort(collect_list("
            "struct(s, factor))), e -> e.factor), "
            "CAST(1.0 AS DOUBLE), (acc, x) -> acc * x)"
        ).alias("survival"))
        .select(
            F.col("t").alias("day"),
            F.col("n_risk").alias("n_at_risk"),
            F.col("d").alias("n_events"),
            F.col("c").alias("n_censored"),
            "survival",
        )
    )


USER_SURVIVAL_KM_SQL = f"""
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
),
endcap AS (SELECT MAX(us) AS end_us FROM ev),
per_user AS (
  SELECT CASE WHEN err_us IS NOT NULL THEN
           CAST(CAST(err_us - start_us AS HUGEINT) // {DAY_US}
                AS BIGINT) END AS ed,
         CAST(CAST(end_us - start_us AS HUGEINT) // {DAY_US}
              AS BIGINT) AS cd
  FROM (
    SELECT user_id, MIN(us) AS start_us,
           MIN(CASE WHEN event_type = 'error' THEN us END) AS err_us
    FROM ev GROUP BY user_id
  ) CROSS JOIN endcap
),
days AS (
  SELECT COALESCE(ed, cd) AS t,
         CAST(SUM(CASE WHEN ed IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS d,
         CAST(SUM(CASE WHEN ed IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS c
  FROM per_user GROUP BY COALESCE(ed, cd)
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM per_user),
atrisk AS (
  SELECT t, d, c,
         CAST(n_users
           - COALESCE(SUM(d + c) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT)
           AS n_risk
  FROM days CROSS JOIN tot
),
steps AS (
  SELECT t AS s,
         CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS factor
  FROM atrisk WHERE d > 0
)
SELECT a.t AS day, a.n_risk AS n_at_risk, a.d AS n_events,
       a.c AS n_censored,
       list_reduce(
         list_prepend(CAST(1.0 AS DOUBLE),
                      list(st.factor ORDER BY st.s)),
         (acc, x) -> acc * x) AS survival
FROM atrisk a JOIN steps st ON st.s <= a.t
WHERE a.d > 0
GROUP BY a.t, a.n_risk, a.d, a.c
"""


# --------------------------------------------------------- events_cusum
def events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM on daily event volume per type: S_0 = 0,
    S_t = max(0, S_{t-1} + (x_t - mean)), reporting the peak
    statistic and the day it peaks (ties to the earliest day) — the
    classic sequential change detector for "volume drifted upward
    somewhere in this window".

    Exactness: x_t and the global mean are exact integers/rationals —
    the recurrence runs on values scaled by n_days (S'_t = max(0,
    S'_{t-1} + n·x_t - total)) so every term is an exact BIGINT and
    NO floating point enters the fold at all; the peak is integer
    max, divided back to events/day once at output. The fold is a
    strict left fold over the day-sorted array (the user_survival_km
    discipline); state per type is one bounded array. Shape: one
    partial-agg shuffle to the bounded (type, day) grid, one bounded
    per-type fold."""
    ev = load_table(spark, "events", sf_dir)
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    tot = daily.groupBy("event_type").agg(
        F.sum("x").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_days"))
    # scaled recurrence in exact integers: acc = (S'_{t-1}, best, argday)
    fold = (
        "aggregate(array_sort(arr), "
        "named_struct('s', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT),"
        " 'at', CAST(NULL AS DATE)), "
        "(acc, e) -> named_struct("
        "  's', greatest(CAST(0 AS BIGINT), acc.s + e.term),"
        "  'best', CASE WHEN greatest(CAST(0 AS BIGINT),"
        "       acc.s + e.term) > acc.best"
        "       THEN greatest(CAST(0 AS BIGINT), acc.s + e.term)"
        "       ELSE acc.best END,"
        "  'at', CASE WHEN greatest(CAST(0 AS BIGINT),"
        "       acc.s + e.term) > acc.best"
        "       THEN e.day ELSE acc.at END))"
    )
    return (
        daily.join(F.broadcast(tot), "event_type")
        .select(
            "event_type", "n_days", "day",
            (F.col("n_days") * F.col("x") - F.col("total"))
            .cast("long").alias("term"),
        )
        .groupBy("event_type", "n_days")
        .agg(F.expr("collect_list(struct(day, term))").alias("arr"))
        .select("event_type", "n_days", F.expr(fold).alias("r"))
        .select(
            "event_type", "n_days",
            F.col("r.best").alias("peak_scaled"),
            (F.col("r.best").cast("double")
             / F.col("n_days").cast("double")).alias("peak_cusum"),
            F.col("r.at").alias("peak_day"),
        )
    )


EVENTS_CUSUM_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT event_type, CAST(SUM(x) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS n_days
  FROM daily GROUP BY event_type
),
terms AS (
  SELECT d.event_type, tot.n_days, d.day,
         CAST(tot.n_days * d.x - tot.total AS BIGINT) AS term
  FROM daily d JOIN tot ON d.event_type = tot.event_type
),
folded AS (
  -- DuckDB lambda-struct quirk: fields of the result struct are
  -- computed IN ORDER and later fields see the accumulator already
  -- updated (sequential mutation), unlike Spark's snapshot
  -- semantics. Order the fields so each reads only not-yet-updated
  -- accumulator fields: 'at' (reads s, best, at), then 'best'
  -- (reads s, best), then 's' (reads s) — correct under BOTH
  -- semantics.
  SELECT event_type, MIN(n_days) AS n_days,
         list_reduce(
           list_prepend(
             {'at': CAST(NULL AS DATE), 'best': CAST(0 AS BIGINT),
              's': CAST(0 AS BIGINT)},
             list({'at': day, 'best': CAST(0 AS BIGINT), 's': term}
                  ORDER BY day)),
           (acc, e) -> {
             'at': CASE WHEN greatest(CAST(0 AS BIGINT), acc.s + e.s)
                        > acc.best
                   THEN e.at ELSE acc.at END,
             'best': CASE WHEN greatest(CAST(0 AS BIGINT), acc.s + e.s)
                          > acc.best
                     THEN greatest(CAST(0 AS BIGINT), acc.s + e.s)
                     ELSE acc.best END,
             's': greatest(CAST(0 AS BIGINT), acc.s + e.s)}) AS r
  FROM terms
  GROUP BY event_type
)
SELECT event_type, n_days,
       r.best AS peak_scaled,
       CAST(r.best AS DOUBLE) / CAST(n_days AS DOUBLE) AS peak_cusum,
       r.at AS peak_day
FROM folded
"""


# exactly-representable binary fractions: the literals parse to the
# identical double on both engines
ALPHA = 0.5
BETA = 0.25


def events_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear exponential smoothing per event type: level and
    trend fold over the day-ordered daily counts (l_1 = x_1, b_1 = 0;
    then l_t = α·x_t + (1-α)(l+b), b_t = β(l_t - l) + (1-β)b), with
    the one-step-ahead squared backtest error accumulated in the same
    pass; outputs the fitted state, the next-day forecast, and RMSE.

    Determinism for an inherently sequential smoother: the fold runs
    over the bounded day-sorted array (user_survival_km discipline) —
    same strict left fold, same IEEE double sequence on both engines.
    Every accumulator field recomputes what it needs from the OLD
    state inline (no field reads another field updated in the same
    step), which makes the lambda correct under BOTH Spark's
    snapshot semantics and DuckDB's sequential field mutation (the
    events_cusum gotcha). Shape: one partial-agg shuffle to the
    bounded (type, day) grid, one bounded per-type fold."""
    ev = load_table(spark, "events", sf_dir)
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("double").alias("x"))
    )
    a, b1 = ALPHA, 1.0 - ALPHA
    b, b2 = BETA, 1.0 - BETA
    # new level from old state, written out once and inlined wherever
    # the new value is needed
    newl = f"({a} * e.x + {b1} * (acc.l + acc.b))"
    fold = (
        "aggregate(array_sort(arr), "
        "named_struct("
        "  'n', CAST(0 AS BIGINT), 'l', CAST(0 AS DOUBLE),"
        "  'b', CAST(0 AS DOUBLE), 'sse', CAST(0 AS DOUBLE)), "
        # result fields MUST mirror the zero's field order (Spark
        # unifies the accumulator type positionally); expressions read
        # the snapshot acc, so order carries no semantics here
        "(acc, e) -> named_struct("
        "  'n', acc.n + 1,"
        f" 'l', CASE WHEN acc.n = 0 THEN e.x ELSE {newl} END,"
        f" 'b', CASE WHEN acc.n = 0 THEN CAST(0 AS DOUBLE)"
        f"      ELSE {b} * ({newl} - acc.l) + {b2} * acc.b END,"
        "  'sse', CASE WHEN acc.n = 0 THEN CAST(0 AS DOUBLE)"
        "        ELSE acc.sse + (e.x - (acc.l + acc.b))"
        "              * (e.x - (acc.l + acc.b)) END))"
    )
    return (
        daily.groupBy("event_type")
        .agg(F.expr("collect_list(struct(day, x))").alias("arr"))
        .select("event_type", F.expr(fold).alias("r"))
        .select(
            "event_type",
            F.col("r.n").alias("n_days"),
            F.col("r.l").alias("level"),
            F.col("r.b").alias("trend"),
            (F.col("r.l") + F.col("r.b")).alias("forecast_next"),
            F.when(
                F.col("r.n") > 1,
                F.sqrt(F.col("r.sse")
                       / (F.col("r.n") - 1).cast("double")),
            ).alias("backtest_rmse"),
        )
    )


# A DuckDB list_reduce struct fold CANNOT express Holt: level needs
# the OLD trend and trend needs the OLD level, but DuckDB mutates the
# accumulator field-by-field (the events_cusum gotcha), so whichever
# field updates first poisons the other. The oracle recurses over the
# day index instead — a recursive CTE step sees a clean snapshot of
# the previous state, matching Spark's aggregate() semantics exactly.
EVENTS_HOLT_FORECAST_SQL = f"""
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS DOUBLE) AS x
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, x,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY day) AS i
  FROM daily
),
holt(event_type, i, l, b, sse) AS (
  SELECT event_type, i, x, CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)
  FROM idx WHERE i = 1
  UNION ALL
  SELECT h.event_type, d.i,
         {ALPHA} * d.x + {1.0 - ALPHA} * (h.l + h.b),
         {BETA} * (({ALPHA} * d.x + {1.0 - ALPHA} * (h.l + h.b))
                   - h.l) + {1.0 - BETA} * h.b,
         h.sse + (d.x - (h.l + h.b)) * (d.x - (h.l + h.b))
  FROM holt h JOIN idx d
    ON d.event_type = h.event_type AND d.i = h.i + 1
),
final AS (
  SELECT event_type, i, l, b, sse,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY i DESC) AS rn
  FROM holt
)
SELECT event_type, CAST(i AS BIGINT) AS n_days, l AS level,
       b AS trend, l + b AS forecast_next,
       CASE WHEN i > 1 THEN sqrt(sse / CAST(i - 1 AS DOUBLE)) END
         AS backtest_rmse
FROM final WHERE rn = 1
"""


# ------------------------------------------------- events_daily_quantiles
def events_daily_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90 daily value bands per event type — the
    percentile ribbon a metrics dashboard draws. One array-percentile
    aggregate per (type, day) group (bounded group count — type x
    calendar; the interpolation matches DuckDB quantile_cont
    bit-for-bit, the price_quantiles precedent); swap
    approx_percentile if the group key were unbounded."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.expr("percentile(value, array(0.5, 0.9))").alias("qs"),
        )
        .select(
            "event_type", "day", "n",
            F.col("qs")[0].alias("p50"),
            F.col("qs")[1].alias("p90"),
        )
    )


EVENTS_DAILY_QUANTILES_SQL = """
SELECT event_type, CAST(ts AS DATE) AS day,
       CAST(COUNT(*) AS BIGINT) AS n,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.9) AS p90
FROM events
GROUP BY event_type, CAST(ts AS DATE)
"""


# ------------------------------------------------------- user_traj_topk
TRAJ_PANEL_MOD = 50     # query panel: user_id % 50 == 0 ...
TRAJ_PANEL_CAP = 32     # ... and user_id < 50 * 32 (bounded, like ANN)
TRAJ_TOPK = 5


def user_traj_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k behavioral-trajectory similarity (the distributed top-k
    trajectory search problem, REPOSE ICDE'21 / top-k similarity
    sessions EDBT'20, on event paths): each query-panel user's
    arrival-ordered event-type sequence becomes a distinct
    path-trigram set; candidate users must SHARE at least one trigram
    (equi-join on trigram — the pruning tries' role); exact Jaccard
    over the two trigram sets ranks the top 5 with a deterministic
    tie-break.

    Shape: one events shuffle to per-user ordered sequences
    (sort_array over (us, event_id) — exact arrival order, no window)
    — localCheckpointed: the panel filter, the candidate explode, and
    both verify sides all reference it, and each replayed the events
    scan + sequence shuffle otherwise (r7 scan audit: 4 scans, now
    1); trigram explode only for the candidate join, set algebra
    (array_intersect sizes) for the exact verify — candidates->verify,
    never user x user. The panel is a constant 32 users, so the plan
    is linear in users at any scale."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("us"),
        "event_id", "event_type")
    seq = (
        ev.groupBy("user_id")
        .agg(F.expr(
            "transform(sort_array(collect_list(struct(us, event_id, "
            "event_type))), s -> s.event_type)").alias("types"))
        .filter(F.size("types") >= 3)
        .select(
            "user_id",
            F.expr(
                "array_distinct(transform(sequence(1, size(types) - 2), "
                "i -> concat(element_at(types, i), '>', "
                "element_at(types, i+1), '>', "
                "element_at(types, i+2))))").alias("trig"),
        )
        .transform(cut)
    )
    qpanel = seq.filter(
        (F.col("user_id") % TRAJ_PANEL_MOD == 0)
        & (F.col("user_id") < TRAJ_PANEL_MOD * TRAJ_PANEL_CAP))
    qx = qpanel.select(F.col("user_id").alias("qu"),
                       F.explode("trig").alias("t"))
    cx = seq.select(F.col("user_id").alias("cu"),
                    F.explode("trig").alias("t"))
    cand = (
        qx.join(cx, "t")
        .filter(F.col("qu") != F.col("cu"))
        .select("qu", "cu").distinct()
    )
    a = qpanel.select(F.col("user_id").alias("qu"),
                      F.col("trig").alias("ta"))
    b = seq.select(F.col("user_id").alias("cu"),
                   F.col("trig").alias("tb"))
    pairs = (
        cand.join(a, "qu").join(b, "cu")
        .select(
            "qu", "cu",
            F.size(F.array_intersect("ta", "tb")).cast("long")
            .alias("inter"),
            (F.size("ta") + F.size("tb")
             - F.size(F.array_intersect("ta", "tb"))).cast("long")
            .alias("uni"),
        )
        .withColumn("jaccard", F.col("inter").cast("double")
                    / F.col("uni").cast("double"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qu").orderBy(
        F.desc("jaccard"), F.asc("cu"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TRAJ_TOPK)
        .select(F.col("qu").alias("query_user"),
                F.col("cu").alias("neighbor_user"),
                "inter", "uni", "jaccard", "rank")
    )


USER_TRAJ_TOPK_SQL = f"""
WITH seq0 AS (
  SELECT user_id,
         list_transform(list_sort(list({{'us': CAST(epoch_us(ts) AS
           BIGINT), 'event_id': event_id, 'event_type': event_type}})),
           s -> s.event_type) AS types
  FROM events GROUP BY user_id
),
seq AS (
  SELECT user_id,
         list_distinct(list_transform(range(1, len(types) - 1),
           i -> types[i] || '>' || types[i+1] || '>' || types[i+2]))
           AS trig
  FROM seq0 WHERE len(types) >= 3
),
qpanel AS (
  SELECT * FROM seq
  WHERE user_id % {TRAJ_PANEL_MOD} = 0
    AND user_id < {TRAJ_PANEL_MOD} * {TRAJ_PANEL_CAP}
),
cand AS (
  SELECT DISTINCT q.user_id AS qu, c.user_id AS cu
  FROM (SELECT user_id, unnest(trig) AS t FROM qpanel) q
  JOIN (SELECT user_id, unnest(trig) AS t FROM seq) c USING (t)
  WHERE q.user_id <> c.user_id
),
pairs AS (
  SELECT qu, cu,
         CAST(len(list_intersect(a.trig, b.trig)) AS BIGINT) AS inter,
         CAST(len(a.trig) + len(b.trig)
              - len(list_intersect(a.trig, b.trig)) AS BIGINT) AS uni
  FROM cand
  JOIN qpanel a ON cand.qu = a.user_id
  JOIN seq b ON cand.cu = b.user_id
)
SELECT query_user, neighbor_user, inter, uni, jaccard, rank FROM (
  SELECT qu AS query_user, cu AS neighbor_user, inter, uni,
         CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) AS jaccard,
         ROW_NUMBER() OVER (PARTITION BY qu
           ORDER BY CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) DESC,
                    cu ASC) AS rank
  FROM pairs
)
WHERE rank <= {TRAJ_TOPK}
"""


# ----------------------------------------------------- events_grouping_sets
def events_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((type), (month), ()) — the ad-hoc
    granularity list that is neither ROLLUP (events_rollup) nor CUBE
    (events_cube): per-type totals, per-month totals, and the grand
    total in ONE pass, skipping the (type, month) cells a dashboard
    does not want to pay for. Still one shuffle with map-side
    partials over the expanded sets; grouping_id disambiguates."""
    ev = load_table(spark, "events", sf_dir)
    ev.createOrReplaceTempView("__ev_gs")
    return spark.sql("""
        SELECT event_type,
               CAST(date_trunc('month', ts) AS DATE) AS month,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                 AS sum_value,
               CAST(grouping_id() AS BIGINT) AS gid
        FROM __ev_gs
        GROUP BY GROUPING SETS ((event_type),
                                (CAST(date_trunc('month', ts) AS DATE)),
                                ())
    """)


EVENTS_GROUPING_SETS_SQL = """
SELECT event_type,
       CAST(date_trunc('month', ts) AS DATE) AS month,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6))
            AS DOUBLE) AS sum_value,
       GROUPING(event_type,
                CAST(date_trunc('month', ts) AS DATE)) AS gid
FROM events
GROUP BY GROUPING SETS ((event_type),
                        (CAST(date_trunc('month', ts) AS DATE)),
                        ())
"""


DECAY_WEEK_CAP = 60  # 1<<w stays in BIGINT; older mass rounds to 2^-60


def decayed_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed popularity per event type — the
    freshness-weighted score feeds ranking/trending far better than a
    raw count (a type with all its volume last week beats one with
    the same volume a year ago). Half-life = one week: an event w
    full weeks before the corpus max day weighs 2^-w.

    Exact cross-engine despite being an exponential sum: weights are
    DYADIC (2^-w via integer shift, never pow/exp — libm rounding
    differs per engine), per-(type, week) counts are exact BIGINTs,
    each term n*2^-w is an exact double product (n < 2^53), and the
    ~60-bucket series is summed with a strict left fold in week order
    so both engines execute the identical IEEE sequence (the
    user_survival_km discipline). Shape: one partial-agg shuffle to
    the bounded (type, week) grid; the corpus max-day is a broadcast
    1-row aggregate; the fold runs on <= 60 elements per type."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_type",
        F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) DIV {DAY_US}")
        .alias("day"))
    maxd = F.broadcast(ev.agg(F.max("day").alias("maxd")))
    weekly = (
        ev.crossJoin(maxd)
        .select("event_type",
                F.expr(f"LEAST((maxd - day) DIV 7, {DECAY_WEEK_CAP})")
                .alias("w"))
        .groupBy("event_type", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return (
        weekly.groupBy("event_type")
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.expr(
                "aggregate(transform(array_sort(collect_list("
                "struct(w, n))), "
                "e -> CAST(e.n AS DOUBLE)"
                " / CAST(shiftleft(CAST(1 AS BIGINT), CAST(e.w AS INT))"
                "        AS DOUBLE)), "
                "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
            ).alias("decayed_score"),
        )
        .select(
            "event_type", "n_events", "decayed_score",
            (F.col("decayed_score")
             / F.col("n_events").cast("double")).alias("freshness"),
        )
    )


DECAYED_POPULARITY_SQL = f"""
WITH ev AS (
  SELECT event_type,
         CAST(epoch_us(ts) AS BIGINT) // {DAY_US} AS day
  FROM events
),
maxd AS (SELECT MAX(day) AS maxd FROM ev),
weekly AS (
  SELECT event_type,
         LEAST((maxd - day) // 7, {DECAY_WEEK_CAP}) AS w,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM ev CROSS JOIN maxd
  GROUP BY 1, 2
),
scored AS (
  SELECT event_type,
         CAST(SUM(n) AS BIGINT) AS n_events,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list(CAST(n AS DOUBLE)
                  / CAST(CAST(1 AS BIGINT) << CAST(w AS INT) AS DOUBLE)
                  ORDER BY w)),
           (acc, x) -> acc + x) AS decayed_score
  FROM weekly GROUP BY event_type
)
SELECT event_type, n_events, decayed_score,
       decayed_score / CAST(n_events AS DOUBLE) AS freshness
FROM scored
"""


# ----------------------------------------------------------- events cube
def events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(event_type, dow): all four grouping combinations in one
    pass (per-type-per-weekday, per-type, per-weekday, grand total) —
    the full cross-granularity reporting matrix; ROLLUP's twin
    (events_rollup) covers the hierarchical case. One shuffle with
    map-side partials over the expanded grouping sets."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.select(
            "event_type",
            F.dayofweek("ts").cast("long").alias("dow"),
            F.col("value").cast("decimal(18,6)").alias("v"),
        )
        .cube("event_type", "dow")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("v").cast("double").alias("sum_value"),
            F.grouping_id().cast("long").alias("gid"),
        )
    )


# DuckDB dayofweek(=isodow?) parity: Spark dayofweek() is 1=Sunday..7;
# DuckDB dayofweek() is 0=Sunday..6 — shift by one.
EVENTS_CUBE_SQL = """
SELECT event_type, dow, COUNT(*) AS n_events,
       CAST(SUM(v) AS DOUBLE) AS sum_value,
       GROUPING(event_type, dow) AS gid
FROM (
  SELECT event_type, dayofweek(ts) + 1 AS dow,
         CAST(value AS DECIMAL(18,6)) AS v
  FROM events
)
GROUP BY CUBE(event_type, dow)
"""


# --------------------------------------------------- user_markov_entropy
def user_markov_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user first-order Markov entropy rate over the event-type
    path: H = sum_{a,b} (n_ab / N) * ln(n_a / n_ab) — the conditional
    entropy of the next event given the current one, under the user's
    own empirical transition matrix. Bots that replay one loop score
    ~0; exploratory humans score near ln(|types|). The per-user
    complement of the global events_transition_matrix.

    Shape: lead() window partitioned by user (never global), one
    partial agg to the per-user transition cells (bounded |types|^2),
    n_a via a window over that TINY aggregated table, one more
    per-user fold. ln(n_a / n_ab) is ln_det of an exact integer
    rational; the fold is sorted."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        "user_id",
        F.col("event_type").alias("t_from"),
        F.lead("event_type", 1).over(w).alias("t_to"),
    ).where(F.col("t_to").isNotNull())
    cells = pairs.groupBy("user_id", "t_from", "t_to").agg(
        F.count("*").alias("n_ab"))
    wa = Window.partitionBy("user_id", "t_from")
    term = (f"CAST(n_ab AS DOUBLE) * "
            f"({ln_det('CAST(n_a AS DOUBLE) / n_ab')})")
    return (
        cells.withColumn("n_a", F.sum("n_ab").over(wa))
        .groupBy("user_id")
        .agg(
            F.sum("n_ab").cast("long").alias("n_transitions"),
            F.count("*").cast("long").alias("n_cells"),
            F.expr(fold_expr(term)).alias("s"),
        )
        .select(
            "user_id", "n_transitions", "n_cells",
            (F.col("s") / F.col("n_transitions").cast("double"))
            .alias("entropy_rate"),
        )
    )


_MK_TERM_SQL = (f"CAST(n_ab AS DOUBLE) * "
                f"({ln_det('CAST(n_a AS DOUBLE) / n_ab')})")

USER_MARKOV_ENTROPY_SQL = f"""
WITH pairs AS (
  SELECT user_id, event_type AS t_from,
         LEAD(event_type, 1) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS t_to
  FROM events
),
cells AS (
  SELECT user_id, t_from, t_to, COUNT(*) AS n_ab
  FROM pairs WHERE t_to IS NOT NULL
  GROUP BY user_id, t_from, t_to
),
withna AS (
  SELECT user_id, n_ab,
         SUM(n_ab) OVER (PARTITION BY user_id, t_from) AS n_a
  FROM cells
)
SELECT user_id,
       CAST(SUM(n_ab) AS BIGINT) AS n_transitions,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       {fold_sql(f'({_MK_TERM_SQL})')}
         / CAST(SUM(n_ab) AS DOUBLE) AS entropy_rate
FROM withna
GROUP BY user_id
"""


MAD_K = 3.0  # flag |value - median| > MAD_K * 1.4826 * MAD


# ------------------------------------------------------ events_mad_outliers
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier census per event type: median, MAD (median
    absolute deviation), and how many events sit beyond
    MAD_K * 1.4826 * MAD of the median (1.4826 scales MAD to sigma
    under normality, so the threshold reads like a 3-sigma rule that
    outliers cannot corrupt).

    Exactness: both medians use the exact interpolating percentile
    (Spark percentile == DuckDB quantile_cont bit-for-bit, the
    price_quantiles precedent); |value - median| and the threshold
    compare are per-row fixed-order double ops; the flag count is an
    exact BIGINT. Shape: two aggregation passes over events (median,
    then deviation median + count) with the per-type medians riding a
    broadcast join — bounded type cardinality keeps the exact
    per-group sort safe; unbounded groups would switch to
    approx_percentile."""
    ev = load_table(spark, "events", sf_dir).select("event_type", "value")
    med = F.broadcast(
        ev.groupBy("event_type")
        .agg(F.expr("percentile(value, 0.5)").alias("median")))
    dev = ev.join(med, "event_type").select(
        "event_type", "median",
        F.abs(F.col("value") - F.col("median")).alias("adev"))
    mads = F.broadcast(
        dev.groupBy("event_type")
        .agg(F.expr("percentile(adev, 0.5)").alias("mad")))
    return (
        dev.join(mads, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("median").alias("median"),
            F.min("mad").alias("mad"),
            F.sum(
                (F.col("adev")
                 > F.lit(MAD_K) * F.lit(1.4826) * F.col("mad"))
                .cast("long")).cast("long").alias("n_outliers"),
        )
    )


EVENTS_MAD_OUTLIERS_SQL = f"""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS median
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, m.median, abs(e.value - m.median) AS adev
  FROM events e JOIN med m USING (event_type)
),
mads AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY event_type
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(median) AS median, MIN(mad) AS mad,
       CAST(SUM(CASE WHEN adev > {MAD_K} * 1.4826 * mad
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev JOIN mads USING (event_type)
GROUP BY event_type
"""


# --------------------------------------------------------- audience_overlap
def audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event types: for every type
    pair (a < b), how many distinct users did BOTH, each type's
    audience size, and the Jaccard overlap — the cross-sell /
    cannibalization readout.

    Shape: ONE shuffle to per-user sorted type sets
    (localCheckpointed — the pair expansion and the audience-size
    rollup both reference it and each replayed the events scan
    otherwise; r7 scan audit: 3 scans, now 1), then pairs expand
    IN-ARRAY (bounded by the handful of types a user can have — the
    graphs.py co-purchase idiom, never a distinct x distinct
    self-join whose hot types would explode); per-type audience
    sizes come off the same set table and ride a broadcast join.
    Jaccard is one fixed-order double division over exact BIGINTs."""
    ev = load_table(spark, "events", sf_dir)
    sets = (
        ev.groupBy("user_id")
        .agg(F.sort_array(F.collect_set("event_type")).alias("types"))
        .transform(cut)
    )
    pairs = (
        sets.select(F.explode(F.expr(
            "flatten(transform(types, (a, i) -> "
            "transform(slice(types, i + 2, size(types)), "
            "b -> struct(a AS ta, b AS tb))))")).alias("p"))
        .groupBy(F.col("p.ta").alias("type_a"),
                 F.col("p.tb").alias("type_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    aud = F.broadcast(
        sets.select(F.explode("types").alias("t"))
        .groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("n")))
    return (
        pairs
        .join(aud.select(F.col("t").alias("type_a"),
                         F.col("n").alias("n_a")), "type_a")
        .join(aud.select(F.col("t").alias("type_b"),
                         F.col("n").alias("n_b")), "type_b")
        .select(
            "type_a", "type_b", "n_a", "n_b", "n_both",
            (F.col("n_both").cast("double")
             / (F.col("n_a") + F.col("n_b") - F.col("n_both"))
             .cast("double")).alias("jaccard"),
        )
    )


AUDIENCE_OVERLAP_SQL = """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
aud AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM ut GROUP BY event_type),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, aa.n AS n_a, ab.n AS n_b, n_both,
       CAST(n_both AS DOUBLE)
         / CAST(aa.n + ab.n - n_both AS DOUBLE) AS jaccard
FROM pairs
JOIN aud aa ON aa.event_type = type_a
JOIN aud ab ON ab.event_type = type_b
"""


THROTTLE_GAP_S = 60
_NEG_SENTINEL = -(1 << 62)


# ------------------------------------------------------------ events_throttle
def events_throttle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rate-limit ledger: replay each user's event stream in
    (ts, event_id) order keeping an event only if it lands >=
    THROTTLE_GAP_S after the last KEPT one — the ingest-throttling /
    notification-dedup primitive whose keep decision depends on prior
    keep decisions, so no window function expresses it.

    Shape: ONE shuffle to per-user sorted arrays (bounded by a user's
    own activity), then a strict left fold with a (n_kept, last_kept)
    struct accumulator — linear, JVM-side, no Python. Exactness: pure
    integer micro-timestamps. The DuckDB twin is the same fold via
    list_reduce; the accumulator fields are ordered (n, last) so the
    n-expression reads only the not-yet-updated last field, correct
    under BOTH Spark's snapshot semantics and DuckDB's
    sequential-mutation semantics (the CUSUM fold rule)."""
    gap_us = THROTTLE_GAP_S * 1_000_000
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "event_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("us"))
    return (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
             F.expr(
                 "aggregate("
                 "  array_sort(collect_list(struct(us, event_id))),"
                 f" struct(CAST(0 AS BIGINT) AS n,"
                 f"        CAST({_NEG_SENTINEL} AS BIGINT) AS last),"
                 "  (acc, x) -> struct("
                 f"   acc.n + (CASE WHEN x.us - acc.last >= {gap_us}"
                 "            THEN 1 ELSE 0 END) AS n,"
                 f"   CASE WHEN x.us - acc.last >= {gap_us}"
                 "        THEN x.us ELSE acc.last END AS last)"
                 " ).n").cast("long").alias("n_kept"))
    )


# The oracle replays the fold as a RECURSIVE CTE walking each user's
# (rn)-numbered event sequence — NOT list_reduce. The original
# list_reduce-over-grouped-lists formulation is WRONG in DuckDB
# 1.0.0 at scale: with many groups in one hash aggregate, a long
# list's fold returns a different (under-counted) result than the
# identical list folded alone — minimal repro: sf0.1 user 567's
# 73-element list folds to 72 with `WHERE user_id = 567`, 60 inside
# the full GROUP BY; deterministic, threads=1 identical, and a
# literal-list reduce of the same values is correct. Caught by the
# full-registry sf0.1 gate (sf0.01's shorter lists never tripped
# it). The recursive walk matches the pure-Python reference fold at
# all three SFs, user for user.
EVENTS_THROTTLE_SQL = f"""
WITH RECURSIVE ev AS (
  SELECT user_id, us,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY us, event_id)
           AS rn
  FROM (SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS us
        FROM events)
),
walk(user_id, rn, n, last) AS (
  SELECT user_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         CAST({_NEG_SENTINEL} AS BIGINT)
  FROM (SELECT DISTINCT user_id FROM ev)
  UNION ALL
  SELECT e.user_id, w.rn + 1,
         w.n + (CASE WHEN e.us - w.last >= {THROTTLE_GAP_S * 1_000_000}
                THEN 1 ELSE 0 END),
         CASE WHEN e.us - w.last >= {THROTTLE_GAP_S * 1_000_000}
              THEN e.us ELSE w.last END
  FROM walk w JOIN ev e ON e.user_id = w.user_id AND e.rn = w.rn + 1
)
SELECT w.user_id, c.n_events, CAST(w.n AS BIGINT) AS n_kept
FROM walk w
JOIN (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             MAX(rn) AS max_rn FROM ev GROUP BY user_id) c
  ON c.user_id = w.user_id AND w.rn = c.max_rn
"""


# --------------------------------------------------------- late_arrival_census
_LATE_N_BUCKETS = 4096  # fixed arrival-order bucket COUNT (not width)


def late_arrival_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness census per event type: treating event_id as
    the arrival sequence, how many events arrive with an event time
    OLDER than something already seen, and how late the worst one is
    — THE diagnostic that sizes a streaming watermark (a 2-day
    watermark is a guess; this measures the actual lateness tail on
    the same feed the streaming jobs consume).

    The running 'max ts seen so far' is exact and global per type yet
    never a low-cardinality global window: arrival ids bucket into a
    FIXED 4096-bucket grid (width = max_id/4096 from a 1-row agg, so
    the grid never grows with the id domain), the in-bucket exclusive
    running max is a (type, bucket)-partitioned window, and the
    cross-bucket exclusive prefix-max is itself a window over the
    O(types x 4096) bucket aggregate — fully distributed; the only
    driver state is the single max_id scalar. Bucketing is internal:
    any width yields the same answer (the oracle has no buckets).
    Lateness stays in integer microseconds; one DIV to whole seconds
    at output."""
    ev0 = load_table(spark, "events", sf_dir).select(
        "event_type", "event_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("us"))
    max_id = ev0.agg(F.max("event_id")).collect()[0][0] or 0
    width = max(1, (int(max_id) + _LATE_N_BUCKETS) // _LATE_N_BUCKETS)
    ev = ev0.withColumn("b", F.expr(f"event_id DIV {width}"))
    wb = (
        Window.partitionBy("event_type").orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off_df = (
        ev.groupBy("event_type", "b").agg(F.max("us").alias("m"))
        .select("event_type", "b", F.max("m").over(wb).alias("pre"))
    )
    w = (
        Window.partitionBy("event_type", "b").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    late = (
        ev.withColumn("inb", F.max("us").over(w))
        .join(F.broadcast(off_df), ["event_type", "b"])
        .select(
            "event_type", "us",
            F.greatest(
                F.coalesce("inb", F.lit(-(1 << 62))),
                F.coalesce("pre", F.lit(-(1 << 62)))).alias("seen"),
        )
        .select(
            "event_type",
            F.when(F.col("us") < F.col("seen"),
                   F.col("seen") - F.col("us"))
            .otherwise(F.lit(0)).alias("late_us"),
        )
    )
    return (
        late.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum((F.col("late_us") > 0).cast("long")).cast("long")
            .alias("n_late"),
            F.expr("MAX(late_us) DIV 1000000").cast("long")
            .alias("max_late_s"),
        )
        .select(
            "event_type", "n_events", "n_late", "max_late_s",
            (F.col("n_late").cast("double")
             / F.col("n_events").cast("double")).alias("late_share"),
        )
    )


LATE_ARRIVAL_CENSUS_SQL = """
WITH ev AS (
  SELECT event_type, event_id,
         CAST(epoch_us(ts) AS BIGINT) AS us
  FROM events
),
seen AS (
  SELECT event_type, us,
         MAX(us) OVER (PARTITION BY event_type ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS seen
  FROM ev
),
late AS (
  SELECT event_type,
         CASE WHEN seen IS NOT NULL AND us < seen THEN seen - us
              ELSE 0 END AS late_us
  FROM seen
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_late,
       CAST(MAX(late_us) // 1000000 AS BIGINT) AS max_late_s,
       CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS late_share
FROM late
GROUP BY event_type
"""


# ------------------------------------------------------ lifecycle_conformance
def lifecycle_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process-conformance census: every user funnel is SUPPOSED to
    run signup -> ... -> purchase; classify each user by whether
    their event history conforms — purchasers with no signup at all,
    purchasers whose first purchase precedes their first signup,
    conformant purchasers, and non-purchasers — plus how many
    individual purchase events fired before the user's first signup.
    The process-mining health check that catches broken
    instrumentation (purchases attributed to pre-account sessions).

    Shape: one partial-agg shuffle to per-user first-times, then the
    per-user table joins events BY THE SAME user_id key (co-
    partitioned, no extra exchange pattern at scale) for the
    event-level violation count. Pure integer microsecond compares;
    exact counts only."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("us"))
    per = (
        ev.groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "signup", F.col("us")))
            .alias("first_signup"),
            F.min(F.when(F.col("event_type") == "purchase", F.col("us")))
            .alias("first_purchase"),
        )
        # the violation-count join and the final census both read
        # this; each replayed the events scan otherwise (r7 audit)
        .transform(cut)
    )
    cls = (
        F.when(F.col("first_purchase").isNull(), "non_purchaser")
        .when(F.col("first_signup").isNull(), "no_signup_purchaser")
        .when(F.col("first_purchase") < F.col("first_signup"),
              "purchase_before_signup")
        .otherwise("conformant_purchaser")
    )
    early = (
        ev.filter(F.col("event_type") == "purchase")
        .join(per.select("user_id", "first_signup"), "user_id")
        .select(
            "user_id",
            (F.col("first_signup").isNull()
             | (F.col("us") < F.col("first_signup")))
            .cast("long").alias("early"),
        )
        .groupBy("user_id")
        .agg(F.sum("early").cast("long").alias("n_early"))
    )
    return (
        per.join(early, "user_id", "left")
        .select(cls.alias("conformance"),
                F.coalesce("n_early", F.lit(0)).alias("n_early"))
        .groupBy("conformance")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"),
             F.sum("n_early").cast("long").alias("n_early_purchases"))
    )


LIFECYCLE_CONFORMANCE_SQL = """
WITH ev AS (
  SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS us
  FROM events
),
per AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN us END)
           AS first_signup,
         MIN(CASE WHEN event_type = 'purchase' THEN us END)
           AS first_purchase
  FROM ev GROUP BY user_id
),
early AS (
  SELECT e.user_id,
         CAST(SUM(CASE WHEN p.first_signup IS NULL
                         OR e.us < p.first_signup
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_early
  FROM ev e JOIN per p USING (user_id)
  WHERE e.event_type = 'purchase'
  GROUP BY e.user_id
)
SELECT CASE WHEN first_purchase IS NULL THEN 'non_purchaser'
            WHEN first_signup IS NULL THEN 'no_signup_purchaser'
            WHEN first_purchase < first_signup
              THEN 'purchase_before_signup'
            ELSE 'conformant_purchaser' END AS conformance,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(COALESCE(n_early, 0)) AS BIGINT) AS n_early_purchases
FROM per LEFT JOIN early USING (user_id)
GROUP BY 1
"""


# ------------------------------------------------------------ bot_rule_census
BOT_VOLUME_N = 50    # rule 1: raw volume
BOT_MONO_N = 10      # rule 2: single-type accounts at this volume
BOT_METRO_N = 10     # rule 3: metronome needs this many gaps
# rule 3 fires when cv^2 of inter-event gaps <= 1/10, tested as the
# exact integer cross-multiplication 10*(n*Σd² - (Σd)²) <= (Σd)²
BOT_CV2_NUM, BOT_CV2_DEN = 1, 10


def bot_rule_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral bot-detection rule census: per rule, how many users
    trip it — raw volume (R1), single-event-type accounts (R2), and
    metronome regularity (R3: inter-event gap cv² below 1/10 — humans
    are bursty, schedulers are not) — the behavioral sibling of
    gopher_rules' content gates.

    Exactness where variance meets floats: the cv² threshold is
    tested as an integer cross-multiplication over DECIMAL(38,0)
    gap moments (gaps are microsecond BIGINTs; their squares need
    the wide accumulator), so the rule decision never touches a
    double. Shape: one user-partitioned lag window for gaps, one
    partial-agg shuffle per user, bounded rule rollup."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("us"),
        "event_id")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gaps = ev.select(
        "user_id", "event_type", "us",
        (F.col("us") - F.lag("us").over(w)).alias("d"))
    per = (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.countDistinct("event_type").cast("long").alias("n_types"),
            F.count("d").cast("long").alias("nd"),
            F.sum("d").cast("decimal(38,0)").alias("sd"),
            F.sum(F.col("d").cast("decimal(38,0)")
                  * F.col("d").cast("decimal(38,0)")).alias("sdd"),
        )
    )
    r1 = (F.col("n") >= BOT_VOLUME_N).cast("long")
    r2 = ((F.col("n_types") == 1) & (F.col("n") >= BOT_MONO_N)) \
        .cast("long")
    r3 = (
        (F.col("nd") >= BOT_METRO_N)
        & (F.col("sd") > 0)
        & (F.lit(BOT_CV2_DEN)
           * (F.col("nd") * F.col("sdd") - F.col("sd") * F.col("sd"))
           <= F.lit(BOT_CV2_NUM) * F.col("sd") * F.col("sd"))
    ).cast("long")
    flags = per.select(
        r1.alias("volume"), r2.alias("single_type"),
        F.coalesce(r3, F.lit(0)).alias("metronome"))
    return (
        flags.select(F.explode(F.expr(
            "array(struct('volume' AS rule, volume AS hit), "
            "struct('single_type' AS rule, single_type AS hit), "
            "struct('metronome' AS rule, metronome AS hit))")).alias("e"))
        .groupBy(F.col("e.rule").alias("rule"))
        .agg(F.sum("e.hit").cast("long").alias("n_users"))
    )


BOT_RULE_CENSUS_SQL = f"""
WITH ev AS (
  SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS us,
         event_id
  FROM events
),
gaps AS (
  SELECT user_id, event_type,
         us - lag(us) OVER (PARTITION BY user_id
                            ORDER BY us, event_id) AS d
  FROM ev
),
per AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
         CAST(COUNT(d) AS BIGINT) AS nd,
         CAST(SUM(d) AS HUGEINT) AS sd,
         CAST(SUM(CAST(d AS HUGEINT) * d) AS HUGEINT) AS sdd
  FROM gaps GROUP BY user_id
),
flags AS (
  SELECT CASE WHEN n >= {BOT_VOLUME_N} THEN 1 ELSE 0 END AS volume,
         CASE WHEN n_types = 1 AND n >= {BOT_MONO_N}
              THEN 1 ELSE 0 END AS single_type,
         CASE WHEN nd >= {BOT_METRO_N} AND sd > 0
                   AND {BOT_CV2_DEN} * (nd * sdd - sd * sd)
                       <= {BOT_CV2_NUM} * sd * sd
              THEN 1 ELSE 0 END AS metronome
  FROM per
)
SELECT rule, CAST(SUM(hit) AS BIGINT) AS n_users
FROM (
  SELECT 'volume' AS rule, volume AS hit FROM flags
  UNION ALL SELECT 'single_type', single_type FROM flags
  UNION ALL SELECT 'metronome', metronome FROM flags
)
GROUP BY rule
"""


# ----------------------------------------------------- events_changepoint
def events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single best changepoint per event type over the daily-count
    series: the split day t maximizing the between-segment SSE
    reduction gain(t) = S_l^2/n_l + S_r^2/n_r - S^2/n (days 1..t in
    the left segment) — the first step of binary segmentation, and
    the answer to "WHEN did this metric shift" after events_cusum
    says "it shifted".

    Shape: one partial agg to the calendar-bounded (type, day) daily
    counts; prefix sums via a window PARTITIONED BY TYPE over that
    bounded day grid (never the raw stream); totals broadcast back;
    the argmax is one min(struct) partial agg with day tie-break.
    Gains are exact-integer rationals evaluated in one fixed
    expression — no mean subtraction, no transcendentals."""
    ev = load_table(spark, "events", sf_dir)
    daily = (ev.select("event_type", F.to_date("ts").alias("day"))
             .groupBy("event_type", "day").agg(F.count("*").alias("y")))
    w = (Window.partitionBy("event_type").orderBy("day")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    pre = daily.select(
        "event_type", "day",
        F.sum("y").over(w).alias("sl"),
        F.count("*").over(w).alias("nl"),
    )
    tot = daily.groupBy("event_type").agg(
        F.sum("y").alias("s"), F.count("*").alias("n"))
    gain = (
        pre.join(F.broadcast(tot), "event_type")
        .where(F.col("nl") < F.col("n"))  # a split needs a right side
        .withColumn(
            "gain",
            F.expr("CAST(sl AS DOUBLE) * sl / nl "
                   "+ CAST(s - sl AS DOUBLE) * (s - sl) / (n - nl) "
                   "- CAST(s AS DOUBLE) * s / n"),
        )
    )
    return (
        gain.groupBy("event_type")
        .agg(F.min(F.struct(
            (-F.col("gain")).alias("ng"),
            F.col("day").alias("d"),
            F.col("sl").alias("psl"), F.col("nl").alias("pnl"),
            F.col("s").alias("ps"), F.col("n").alias("pn"),
        )).alias("t"))
        .select(
            "event_type",
            F.col("t.d").alias("split_day"),
            (-F.col("t.ng")).alias("gain"),
            (F.col("t.psl").cast("double") / F.col("t.pnl"))
            .alias("mean_before"),
            ((F.col("t.ps") - F.col("t.psl")).cast("double")
             / (F.col("t.pn") - F.col("t.pnl"))).alias("mean_after"),
        )
    )


EVENTS_CHANGEPOINT_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS y
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
pre AS (
  SELECT event_type, day,
         SUM(y) OVER (PARTITION BY event_type ORDER BY day
                      ROWS UNBOUNDED PRECEDING) AS sl,
         COUNT(*) OVER (PARTITION BY event_type ORDER BY day
                        ROWS UNBOUNDED PRECEDING) AS nl
  FROM daily
),
tot AS (SELECT event_type, SUM(y) AS s, COUNT(*) AS n
        FROM daily GROUP BY event_type),
gain AS (
  SELECT pre.event_type, day, sl, nl, s, n,
         CAST(sl AS DOUBLE) * sl / nl
           + CAST(s - sl AS DOUBLE) * (s - sl) / (n - nl)
           - CAST(s AS DOUBLE) * s / n AS gain
  FROM pre JOIN tot ON pre.event_type = tot.event_type
  WHERE nl < n
),
best AS (
  SELECT event_type, day, gain, sl, nl, s, n,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY gain DESC, day ASC) AS rn
  FROM gain
)
SELECT event_type, day AS split_day, gain,
       CAST(sl AS DOUBLE) / nl AS mean_before,
       CAST(s - sl AS DOUBLE) / (n - nl) AS mean_after
FROM best WHERE rn = 1
"""


QUERIES = {
    "events_daily_rollup": events_daily_rollup,
    "events_running_total": events_running_total,
    "events_sessionize": events_sessionize,
    "events_sessionize_incremental": events_sessionize_incremental,
    "distinct_users_by_type": distinct_users_by_type,
    "events_pivot": events_pivot,
    "events_anomaly": events_anomaly,
    "events_rollup": events_rollup,
    "events_funnel": events_funnel,
    "events_props_stats": events_props_stats,
    "events_retention": events_retention,
    "events_sliding_window": events_sliding_window,
    "events_path_trigrams": events_path_trigrams,
    "events_skew_rollup": events_skew_rollup,
    "events_dau_wau": events_dau_wau,
    "events_transition_matrix": events_transition_matrix,
    "events_inter_arrival": events_inter_arrival,
    "events_ohlc": events_ohlc,
    "events_gap_fill": events_gap_fill,
    "events_streaks": events_streaks,
    "events_rolling_median": events_rolling_median,
    "events_hour_heatmap": events_hour_heatmap,
    "events_skew_join": events_skew_join,
    "events_ewma": events_ewma,
    "user_growth": user_growth,
    "events_concurrency": events_concurrency,
    "events_drift": events_drift,
    "cdc_apply": cdc_apply,
    "winsorized_stats": winsorized_stats,
    "events_twap": events_twap,
    "events_autocorr": events_autocorr,
    "funnel_latency": funnel_latency,
    "user_behavior_gini": user_behavior_gini,
    "user_churn": user_churn,
    "events_dow_profile": events_dow_profile,
    "session_lengths": session_lengths,
    "user_survival_km": user_survival_km,
    "events_cusum": events_cusum,
    "events_holt_forecast": events_holt_forecast,
    "events_daily_quantiles": events_daily_quantiles,
    "user_traj_topk": user_traj_topk,
    "events_grouping_sets": events_grouping_sets,
    "decayed_popularity": decayed_popularity,
    "events_cube": events_cube,
    "user_markov_entropy": user_markov_entropy,
    "events_mad_outliers": events_mad_outliers,
    "audience_overlap": audience_overlap,
    "events_throttle": events_throttle,
    "late_arrival_census": late_arrival_census,
    "lifecycle_conformance": lifecycle_conformance,
    "bot_rule_census": bot_rule_census,
    "events_changepoint": events_changepoint,
}

ORACLES = {
    "events_daily_rollup": EVENTS_DAILY_SQL,
    "events_running_total": EVENTS_RUNNING_SQL,
    "events_sessionize": EVENTS_SESSIONIZE_SQL,
    "events_sessionize_incremental": EVENTS_SESSIONIZE_SQL,
    "distinct_users_by_type": DISTINCT_USERS_SQL,
    "events_pivot": EVENTS_PIVOT_SQL,
    "events_anomaly": EVENTS_ANOMALY_SQL,
    "events_rollup": EVENTS_ROLLUP_SQL,
    "events_funnel": EVENTS_FUNNEL_SQL,
    "events_props_stats": EVENTS_PROPS_SQL,
    "events_retention": EVENTS_RETENTION_SQL,
    "events_sliding_window": EVENTS_SLIDING_SQL,
    "events_path_trigrams": EVENTS_PATH_TRIGRAMS_SQL,
    "events_skew_rollup": EVENTS_SKEW_ROLLUP_SQL,
    "events_dau_wau": EVENTS_DAU_WAU_SQL,
    "events_transition_matrix": EVENTS_TRANSITION_SQL,
    "events_inter_arrival": EVENTS_INTER_ARRIVAL_SQL,
    "events_ohlc": EVENTS_OHLC_SQL,
    "events_gap_fill": EVENTS_GAP_FILL_SQL,
    "events_streaks": EVENTS_STREAKS_SQL,
    "events_rolling_median": EVENTS_ROLLING_MEDIAN_SQL,
    "events_hour_heatmap": EVENTS_HOUR_HEATMAP_SQL,
    "events_skew_join": EVENTS_SKEW_JOIN_SQL,
    "events_ewma": EVENTS_EWMA_SQL,
    "user_growth": USER_GROWTH_SQL,
    "events_concurrency": EVENTS_CONCURRENCY_SQL,
    "events_drift": EVENTS_DRIFT_SQL,
    "cdc_apply": CDC_APPLY_SQL,
    "winsorized_stats": WINSORIZED_STATS_SQL,
    "events_twap": EVENTS_TWAP_SQL,
    "events_autocorr": EVENTS_AUTOCORR_SQL,
    "funnel_latency": FUNNEL_LATENCY_SQL,
    "user_behavior_gini": USER_BEHAVIOR_GINI_SQL,
    "user_churn": USER_CHURN_SQL,
    "events_dow_profile": EVENTS_DOW_PROFILE_SQL,
    "session_lengths": SESSION_LENGTHS_SQL,
    "user_survival_km": USER_SURVIVAL_KM_SQL,
    "events_cusum": EVENTS_CUSUM_SQL,
    "events_holt_forecast": EVENTS_HOLT_FORECAST_SQL,
    "events_daily_quantiles": EVENTS_DAILY_QUANTILES_SQL,
    "user_traj_topk": USER_TRAJ_TOPK_SQL,
    "events_grouping_sets": EVENTS_GROUPING_SETS_SQL,
    "decayed_popularity": DECAYED_POPULARITY_SQL,
    "events_cube": EVENTS_CUBE_SQL,
    "user_markov_entropy": USER_MARKOV_ENTROPY_SQL,
    "events_mad_outliers": EVENTS_MAD_OUTLIERS_SQL,
    "audience_overlap": AUDIENCE_OVERLAP_SQL,
    "events_throttle": EVENTS_THROTTLE_SQL,
    "late_arrival_census": LATE_ARRIVAL_CENSUS_SQL,
    "lifecycle_conformance": LIFECYCLE_CONFORMANCE_SQL,
    "bot_rule_census": BOT_RULE_CENSUS_SQL,
    "events_changepoint": EVENTS_CHANGEPOINT_SQL,
}
