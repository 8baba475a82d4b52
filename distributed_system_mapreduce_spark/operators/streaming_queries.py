"""Oracle-backed queries that run STRUCTURED STREAMING jobs to
completion and certify their output against a plain-SQL oracle.

Each query builds the REAL file-source stream over the events parquet,
runs one streaming job of streaming/jobs.py with Trigger.AvailableNow
(process everything, then stop — the batch-equivalent execution mode),
drains it into a memory sink (or, for the sink jobs, a scratch
FileStore) and returns the drained result. A hash match against the
oracle proves the streaming operator computes exactly the batch
answer on the same data — the strongest cross-engine evidence a
streaming job can get.

Windowed aggregations drain in COMPLETE mode so the watermark
withholds nothing (the tail windows of a finite file feed would
otherwise stay open in append mode); row-emitting shapes (dedup,
stream-stream joins) drain in APPEND mode — they emit on
arrival/match, so availableNow yields the full result; the stateful
folds (sessionize, throttle) drain in UPDATE mode and keep each
user's final row. The watermark still bounds state exactly as in
production. Each drain gets a fresh memory-sink name so repeated
gate/bench invocations in one session never collide.

The memory sink is the GATE harness only (finalized window counts —
calendar-bounded rows — on the driver); the production drain for
these jobs is stream_to_filestore / rollup_delta_sink
(streaming/jobs.py), which lands micro-batches in the lake without
driver-side result state.
"""

from __future__ import annotations

import glob
import itertools
import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_system_mapreduce_spark.operators.events import (
    EVENTS_SESSIONIZE_SQL as STREAM_SESSIONIZE_SQL,
    EVENTS_THROTTLE_SQL as STREAM_THROTTLE_SQL,
)
from distributed_system_mapreduce_spark.operators.filestore_queries import (
    scratch_root,
)
from distributed_system_mapreduce_spark.sources.filestore import FileStore
from distributed_system_mapreduce_spark.streaming.jobs import (
    LOOKBACK_H,
    WATERMARK,
    cdc_stream_to_filestore,
    dedup_stream,
    enrich_with_customers,
    read_events_stream,
    run_stream_to_memory,
    sessionize_stream,
    snapshot_sink_stream,
    throttle_stream,
    topk_per_window,
    view_purchase_join_stream,
    view_purchase_left_join_stream,
    windowed_counts,
    windowed_user_counts,
)
from distributed_system_mapreduce_spark.tables import load_table

_DRAIN_SEQ = itertools.count()

# Input bytes of drained feed per state partition. Stateful operators
# instantiate one state store per shuffle partition per state sub-store
# (a stream-stream join keeps four), each a pure fixed cost on a
# bounded drain — so the partition count must track the DRAINED INPUT
# VOLUME, not the core count (guide §2.2 "fewer, larger partitions";
# a constant tuned to local[32] would under-parallelize a cluster, a
# core-count default over-instantiates stores on a gate corpus).
_STATE_TARGET_BYTES = 256 << 10


def _state_partitions(spark: SparkSession, sf_dir: str) -> int:
    """Shuffle-partition count for the bounded availableNow drains:
    ceil(source bytes / _STATE_TARGET_BYTES), capped at the session's
    defaultParallelism. On the gate corpora this derives a small count
    (sf0.1 events = 2 MB -> 8); on a 100 TB feed the byte term exceeds
    any cluster's core count, so the cap restores cluster-sized
    parallelism."""
    nbytes = sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(sf_dir, "events.parquet*"))
    )
    if not nbytes:  # unknown source layout: keep the session default
        return spark.sparkContext.defaultParallelism
    return max(1, min(spark.sparkContext.defaultParallelism,
                      math.ceil(nbytes / _STATE_TARGET_BYTES)))


def _drain(spark: SparkSession, sf_dir: str, df: DataFrame, prefix: str,
           mode: str) -> DataFrame:
    """Drain `df` with availableNow into a fresh memory table in output
    `mode` and return the table. The state partition count comes from
    _state_partitions: a bounded drain's fixed cost is state-store
    instantiation (a stream-stream join keeps 4 stores x partitions),
    not data."""
    name = f"{prefix}_{next(_DRAIN_SEQ)}"
    run_stream_to_memory(df, name, output_mode=mode,
                         state_partitions=_state_partitions(spark, sf_dir))
    return spark.table(name)


def _final_update(t: DataFrame, *cols: str) -> DataFrame:
    """Each user's final row of an update-mode drain of per-user
    counters: the counters only grow, so the row with the largest
    `cols` (compared in order) IS the final state."""
    w = Window.partitionBy("user_id").orderBy(*map(F.desc, cols))
    return (
        t.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", *(F.col(c).cast("long").alias(c) for c in cols))
    )


def _scratch_store(spark: SparkSession, sf_dir: str,
                   kind: str) -> tuple[FileStore, str]:
    """A wiped per-process scratch FileStore and checkpoint dir for one
    sink query: a stale checkpoint would mark the batches committed
    and skip the sink entirely. The root is per-PID so a gate run
    overlapping a bench child at the same SF never interleaves
    wipe/write/read; dead siblings are reclaimed by scratch_root."""
    sf = os.path.basename(sf_dir.rstrip("/")) or "sf"
    root = os.path.join(scratch_root(), kind, sf)
    shutil.rmtree(root, ignore_errors=True)
    return FileStore(spark, os.path.join(root, "store")), \
        os.path.join(root, "ckpt")


# ---------------------------------------------- stream_windowed_rollup
def stream_windowed_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily tumbling-window rollup (windowed_counts — the
    streaming twin of events_daily_rollup) run as a real stream and
    certified by oracle: file-source stream -> watermarked window agg
    -> availableNow drain -> memory table. State is bounded by
    watermark horizon x event_type cardinality regardless of stream
    length; at 100 TB/day the same plan runs on a kafka source with
    the identical window/watermark semantics."""
    ev = read_events_stream(spark, sf_dir)
    return _drain(spark, sf_dir, windowed_counts(ev), "sq_rollup",
                  "complete").select(
        F.to_date("day").alias("day"),
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_value").cast("double").alias("sum_value"),
    )


STREAM_WINDOWED_ROLLUP_SQL = """
SELECT CAST(ts AS DATE) AS day, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY CAST(ts AS DATE), event_type
"""


# ---------------------------------------------- stream_topk_users_daily
_TOPK = 5


def stream_topk_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed top-k as a stream: the per-(day, user) activity
    counts finalize in the streaming agg (windowed_user_counts);
    ranking runs on the DRAINED finalized rows (topk_per_window, full
    deterministic tie-break) — the two-stage shape streaming top-k
    requires, because rank() over a still-open window would be
    retracted. Oracle recomputes the same top-5 from the batch
    table."""
    ev = read_events_stream(spark, sf_dir)
    ranked = topk_per_window(_drain(spark, sf_dir, windowed_user_counts(ev),
                                    "sq_topk", "complete"), _TOPK)
    return ranked.select(
        F.to_date("day").alias("day"),
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
    )


STREAM_TOPK_USERS_DAILY_SQL = f"""
SELECT CAST(day AS DATE) AS day, user_id, n_events FROM (
  SELECT day, user_id, n_events,
         ROW_NUMBER() OVER (PARTITION BY day
                            ORDER BY n_events DESC, user_id ASC) AS rk
  FROM (
    SELECT CAST(ts AS DATE) AS day, user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1, 2
  )
)
WHERE rk <= {_TOPK}
"""


# ---------------------------------------------- stream_enriched_rollup
def stream_enriched_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment certified by oracle: the event stream
    joined per micro-batch against the BROADCAST customer dimension
    (no stream-side state), filtered to purchases, rolled into
    watermarked daily windows per market segment
    (enrich_with_customers), drained with availableNow. The oracle
    recomputes the join+rollup as plain SQL — a hash match proves the
    stream-static join semantics equal the batch join on the same
    feed."""
    ev = read_events_stream(spark, sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    return _drain(spark, sf_dir, enrich_with_customers(ev, cust),
                  "sq_enrich", "complete").select(
        F.to_date("day").alias("day"),
        F.col("c_mktsegment").alias("segment"),
        F.col("n_purchases").cast("long").alias("n_purchases"),
        F.col("sum_value").cast("double").alias("sum_value"),
    )


STREAM_ENRICHED_ROLLUP_SQL = """
SELECT CAST(ts AS DATE) AS day, c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
WHERE event_type = 'purchase'
GROUP BY CAST(ts AS DATE), c_mktsegment
"""


# ------------------------------------------------ stream_dedup_census
def stream_dedup_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked exact dedup certified by oracle on a feed with REAL
    duplicates: the events source is read TWICE (two independent
    file-source streams, unioned — every event arrives exactly two
    times, the at-least-once delivery shape), repaired to exactly-once
    by dedup_stream (dropDuplicatesWithinWatermark on event_id — state
    is one key per watermark horizon, not per stream length), drained
    with availableNow in append mode (dedup emits on first arrival;
    nothing is withheld), then rolled up per event type on the DRAINED
    rows. The oracle computes the same rollup over the SINGLE-copy
    batch table, so a hash match proves the dedup dropped every
    duplicate and nothing else.

    Scale: the doubled feed is the test harness only — in production
    the duplicates come from the source's retry semantics; state and
    plan are identical."""
    doubled = read_events_stream(spark, sf_dir).unionByName(
        read_events_stream(spark, sf_dir))
    return (
        _drain(spark, sf_dir, dedup_stream(doubled), "sq_dedup", "append")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double").alias("sum_value"),
        )
    )


STREAM_DEDUP_CENSUS_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type
"""


# ------------------------------------------------- stream_funnel_join
def stream_funnel_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join certified by oracle AT THE
    ROW LEVEL: view_purchase_join_stream matches each purchase to the
    same user's preceding views within the lookback window (time-bounded
    state on BOTH buffers), availableNow drains every emitted pair, and
    the full pair set — ids and raw event timestamps — must hash-match
    the batch SQL join with the identical range predicate. This is the
    strongest certification a stream-stream join can get: not a rolled-
    up summary but exact pair-set equality with the batch engine.

    Scale: state is (watermark + lookback) x per-user event volume —
    independent of stream length; the batch twin (purchase_attribution,
    operators/asof.py) bucketizes the same predicate for Catalyst."""
    pairs = view_purchase_join_stream(read_events_stream(spark, sf_dir))
    return _drain(spark, sf_dir, pairs, "sq_funnel", "append").select(
        F.col("view_id").cast("long").alias("view_id"),
        F.col("user_id").cast("long").alias("user_id"),
        "view_ts",
        F.col("purchase_id").cast("long").alias("purchase_id"),
        "purchase_ts",
    )


STREAM_FUNNEL_JOIN_SQL = f"""
SELECT v.event_id AS view_id, v.user_id, v.ts AS view_ts,
       p.event_id AS purchase_id, p.ts AS purchase_ts
FROM events v JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL {LOOKBACK_H} HOURS
"""


# --------------------------------------------- stream_abandoned_views
_ABANDON_MARGIN = "1 hour"


def stream_abandoned_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join certified on the
    PROVABLY-CLOSED region: view_purchase_left_join_stream emits
    matched (view, purchase) pairs on arrival and NULL-matched
    ABANDONED views only once the watermark proves no qualifying
    purchase can still arrive. On a finite feed the tail views'
    verdicts are correctly still OPEN (withheld, never guessed), so
    the certifiable region is every view older than the final joint
    watermark minus the lookback: both engines filter to
    view_ts <= least(max view ts, max purchase ts) - watermark -
    lookback - a 1h safety margin (so the equality cannot hinge on
    Spark's exact >=-vs-> expiry boundary), and the full row set —
    matches AND abandonments with raw timestamps — must hash-match
    the batch left join. The cutoff rides a broadcast 1-row
    crossJoin, not driver state.

    This is the abandoned-views verdict stream (the streaming twin of
    the batch anti-join in operators/asof.py): state on both buffers
    is bounded by watermark + lookback, an abandonment once emitted
    is never contradicted, and at 100 TB/day the same plan runs on a
    kafka source unchanged."""
    pairs = view_purchase_left_join_stream(
        read_events_stream(spark, sf_dir))
    drained = _drain(spark, sf_dir, pairs, "sq_abandon", "append")

    ev_b = load_table(spark, "events", sf_dir)
    cut = ev_b.agg(
        (F.least(
            F.max(F.when(F.col("event_type") == "view",
                         F.col("ts").cast("timestamp"))),
            F.max(F.when(F.col("event_type") == "purchase",
                         F.col("ts").cast("timestamp"))))
         - F.expr(f"INTERVAL {WATERMARK}")
         - F.expr(f"INTERVAL {LOOKBACK_H} HOURS")
         - F.expr(f"INTERVAL {_ABANDON_MARGIN}")).alias("cut"))
    return (
        drained
        .crossJoin(F.broadcast(cut))
        .filter(F.col("view_ts") <= F.col("cut"))
        .select(
            F.col("view_id").cast("long").alias("view_id"),
            F.col("user_id").cast("long").alias("user_id"),
            "view_ts",
            F.col("purchase_id").cast("long").alias("purchase_id"),
            "purchase_ts",
        )
    )


STREAM_ABANDONED_VIEWS_SQL = f"""
WITH cut AS (
  SELECT least(
           max(CASE WHEN event_type = 'view' THEN ts END),
           max(CASE WHEN event_type = 'purchase' THEN ts END))
         - INTERVAL {WATERMARK} - INTERVAL {LOOKBACK_H} HOURS
         - INTERVAL {_ABANDON_MARGIN} AS cut
  FROM events
)
SELECT v.event_id AS view_id, v.user_id, v.ts AS view_ts,
       p.event_id AS purchase_id, p.ts AS purchase_ts
FROM (SELECT * FROM events WHERE event_type = 'view') v
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL {LOOKBACK_H} HOURS
CROSS JOIN cut
WHERE v.ts <= cut.cut
"""


# -------------------------------------------- stream_cdc_materialize
def stream_cdc_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full streaming-CDC loop certified by oracle: the event
    stream is consumed as a change log (non-error event = UPSERT of
    the user's value, 'error' = DELETE tombstone) through the REAL
    exactly-once sink — cdc_stream_to_filestore folds each
    micro-batch into a keyed FileStore table via merge() under an
    availableNow checkpoint — and the FINAL materialized table is
    read back and must hash-match the batch change-log SQL (the
    query-plan twin cdc_apply, operators/events.py, minus
    its op accounting). A match proves stream ingestion + per-batch
    last-writer-wins + bucket-pruned merge + tombstone deletes land
    on exactly the warehouse snapshot the batch engine computes.

    The scratch store (table + checkpoint) is wiped per call
    (_scratch_store). Multi-batch ordering parity is separately pinned
    by tests/test_streaming.py's weekly-fold test; at 100 TB/day the
    same sink runs on a kafka feed with per-key ordered offsets."""
    fs, ckpt = _scratch_store(spark, sf_dir, "cdc")
    empty = spark.createDataFrame(
        [], "user_id long, current_value double, last_ts timestamp")
    fs.write_keyed(empty, "user_state", "user_id", n_buckets=8)
    cdc_stream_to_filestore(read_events_stream(spark, sf_dir), fs,
                            "user_state", ckpt)
    return fs.read("user_state").select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("current_value").cast("double").alias("current_value"),
        "last_ts",
    )


STREAM_CDC_MATERIALIZE_SQL = """
WITH ranked AS (
  SELECT user_id, ts, value,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, CAST(value AS DOUBLE) AS current_value, ts AS last_ts
FROM ranked
WHERE rn = 1 AND op = 'U'
"""


# ------------------------------------------- stream_snapshot_append
def stream_snapshot_append(spark: SparkSession, sf_dir: str
                           ) -> DataFrame:
    """The VERSIONED snapshot sink certified exactly-once under the
    worst replay case: the event stream lands through
    snapshot_sink_stream (every micro-batch commits as an
    append_snapshot tagged with its batch id — one immutable,
    time-travelable version per batch), then the CHECKPOINT IS
    DELETED and the whole feed re-runs: every batch re-delivers, and
    the version ledger's tags must detect and skip each one BEFORE
    any data is written. The final latest version is rolled up per
    event type and must hash-match the SINGLE-copy batch SQL — a
    duplicated version would double every count. Completes the
    exactly-once trio: dedup_census (watermarked row dedup),
    cdc_materialize (keyed merge sink), this (versioned append sink
    + idempotence ledger).

    Scale: the ledger check is O(versions) driver-side metadata per
    batch; data files are written once, replays cost zero writes."""
    fs, ckpt = _scratch_store(spark, sf_dir, "snapsink")
    name = "ev_snap"
    snapshot_sink_stream(read_events_stream(spark, sf_dir), fs, name, ckpt)
    n_before = len(fs.versions(name))
    # crash-replay worst case: lose the checkpoint, re-run the feed
    shutil.rmtree(ckpt, ignore_errors=True)
    snapshot_sink_stream(read_events_stream(spark, sf_dir), fs, name, ckpt)
    if len(fs.versions(name)) != n_before:  # ledger failed to skip
        raise RuntimeError(
            f"replay wrote {len(fs.versions(name)) - n_before} "
            "duplicate version(s) past the tag ledger")
    return (
        fs.read_snapshot(name)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double").alias("sum_value"),
        )
    )


STREAM_SNAPSHOT_APPEND_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type
"""


# ------------------------------------------------ stream_sessionize
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful operator (applyInPandasWithState gap-based
    sessionizer, streaming/jobs.py _sessionize_fn) promoted into the
    oracle gate: drain the update-mode stream on the finite feed, keep
    each user's LAST update (the running counters only grow, so the
    max-n_events row IS the final state), and hash-match against the
    batch lag+cumulative-window twin's SQL (events_sessionize's
    oracle, unchanged) — proving the stateful kernel reproduces the
    declarative semantics exactly, per user, per counter.

    Scale: state is 3 longs per ACTIVE user key; the per-user window
    below runs over the drained update table (bounded by #triggers x
    #users locally; in production the sink would be a keyed upsert and
    the window disappears)."""
    ev = read_events_stream(spark, sf_dir)
    return _final_update(
        _drain(spark, sf_dir, sessionize_stream(ev), "sq_sess", "update"),
        "n_sessions", "n_events")


# ------------------------------------------------ stream_throttle
def stream_throttle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stateful RATE-LIMIT kernel (applyInPandasWithState,
    streaming/jobs._throttle_fn) promoted into the oracle gate, the
    stream_sessionize pattern: drain the update-mode stream on the
    finite feed, keep each user's LAST update (counters only grow),
    and hash-match the batch events_throttle's oracle — the
    recursive-CTE fold replay — proving the stateful keep-ledger
    reproduces the sequential keep semantics exactly, per user.

    ASSUMPTION (in-order feed): the stateful fold cannot retract — an
    event arriving in a later micro-batch with ts earlier than the
    state's last-kept timestamp would be folded in arrival order.
    Hash-parity with the batch oracle therefore relies on the finite
    replay source delivering batches in (ts, event_id) order, which
    read_events_stream guarantees for this feed (the same implicit
    contract the sessionizer above documents).

    Scale: state is 3 longs per active user; output is one update row
    per (user, trigger)."""
    ev = read_events_stream(spark, sf_dir)
    return _final_update(
        _drain(spark, sf_dir, throttle_stream(ev), "sq_thr", "update"),
        "n_events", "n_kept")


QUERIES = {
    "stream_sessionize": stream_sessionize,
    "stream_throttle": stream_throttle,
    "stream_windowed_rollup": stream_windowed_rollup,
    "stream_topk_users_daily": stream_topk_users_daily,
    "stream_enriched_rollup": stream_enriched_rollup,
    "stream_dedup_census": stream_dedup_census,
    "stream_funnel_join": stream_funnel_join,
    "stream_abandoned_views": stream_abandoned_views,
    "stream_cdc_materialize": stream_cdc_materialize,
    "stream_snapshot_append": stream_snapshot_append,
}

ORACLES = {
    "stream_sessionize": STREAM_SESSIONIZE_SQL,
    "stream_throttle": STREAM_THROTTLE_SQL,
    "stream_windowed_rollup": STREAM_WINDOWED_ROLLUP_SQL,
    "stream_topk_users_daily": STREAM_TOPK_USERS_DAILY_SQL,
    "stream_enriched_rollup": STREAM_ENRICHED_ROLLUP_SQL,
    "stream_dedup_census": STREAM_DEDUP_CENSUS_SQL,
    "stream_funnel_join": STREAM_FUNNEL_JOIN_SQL,
    "stream_abandoned_views": STREAM_ABANDONED_VIEWS_SQL,
    "stream_cdc_materialize": STREAM_CDC_MATERIALIZE_SQL,
    "stream_snapshot_append": STREAM_SNAPSHOT_APPEND_SQL,
}
