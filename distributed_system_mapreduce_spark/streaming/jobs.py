"""Structured Streaming jobs over the events stream.

The reference has no streaming story (its closest notion is juice's
incremental append to the dest file, CreatAppendSdfsReduceFile,
file_system.go:1035); a modern pipeline needs one, so these are the
Spark-native streaming twins of the batch queries in operators/ (the
job-by-job list and each job's batch twin are in SURVEY.md §E). Every
watermarked job shares one event-time horizon, WATERMARK, and the
view→purchase joins one lookback, LOOKBACK_H.

Tests run them with trigger(availableNow=True) over the static parquet
so results are comparable to the batch twins; in production the same
code reads kafka/files continuously — that's the point of Structured
Streaming's unified model.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)
from distributed_system_mapreduce_spark.lineage import cut, cut_deep

# late-data horizon of every watermarked job, and how far back a
# purchase looks for the same user's views
WATERMARK = "2 days"
LOOKBACK_H = 24

EVENT_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("ts", TimestampNTZType()),  # parquet timestamp[us], no tz
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
    StructField("props", StringType()),
])


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (glob). In
    production swap for kafka — everything downstream is unchanged.

    ts lands as TIMESTAMP_NTZ (the parquet column is timestamp[us]
    with isAdjustedToUTC=false); cast to session-tz TIMESTAMP (UTC)
    so watermarks/windows line up with the batch twins."""
    # Defensive tz pin (same as tables.load_table): the caller may be
    # the round driver's own session, built without session.py. The
    # NTZ->timestamp cast below and every window/to_date boundary
    # downstream assume UTC; a session in another zone would shift
    # day windows off the DuckDB oracle's naive-UTC semantics.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw = (
        spark.readStream.schema(EVENT_SCHEMA)
        # file source requires a directory; select just the events file
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def _windowed(events: DataFrame, keys: list[str], *aggs,
              window: str = "1 day", slide: str | None = None
              ) -> DataFrame:
    """Watermarked event-time window aggregate: one row per (window
    start as `day`, *keys) with `aggs`. State is bounded by the
    watermark horizon x key cardinality (x window/slide overlap for
    hopping windows), independent of stream length."""
    agg = (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", window, slide or window).alias("w"), *keys)
        .agg(*aggs)
    )
    return agg.select(F.col("w.start").alias("day"), *agg.columns[1:])


def windowed_counts(events: DataFrame, window: str = "1 day",
                    slide: str | None = None) -> DataFrame:
    """Tumbling (or, with ``slide``, hopping) window per-type counts
    with a late-data watermark — the streaming twin of
    events_daily_rollup / events_sliding_window."""
    return _windowed(events, ["event_type"],
                     F.count("*").alias("n_events"),
                     F.sum(F.col("value").cast("decimal(18,6)"))
                     .cast("decimal(38,6)").alias("sum_value"),
                     window=window, slide=slide)


def windowed_user_counts(events: DataFrame) -> DataFrame:
    """Per-day per-user activity counts — the streaming half of a
    windowed TOP-K: the unbounded stream is reduced to finalized
    (day, user) rows by the watermark; ranking happens downstream
    on those finalized rows (topk_per_window), because rank() over a
    still-open window would be retracted."""
    return _windowed(events, ["user_id"], F.count("*").alias("n_events"))


def topk_per_window(finalized: DataFrame, k: int = 5) -> DataFrame:
    """Rank finalized (day, user) counts to the top-k users per day.
    Run inside foreachBatch (append mode emits each window exactly
    once, so a window's rows land in one micro-batch together) or on
    the drained availableNow output. Deterministic full tie-break."""
    from pyspark.sql import Window as W

    w = W.partitionBy("day").orderBy(
        F.desc("n_events"), F.asc("user_id"))
    return (
        finalized.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .drop("rk")
    )


_SESSION_OUT = StructType([
    StructField("user_id", LongType()),
    StructField("n_sessions", LongType()),
    StructField("n_events", LongType()),
    StructField("last_ts", TimestampType()),
])

_SESSION_STATE = StructType([
    StructField("n_sessions", LongType()),
    StructField("n_events", LongType()),
    StructField("last_epoch_us", LongType()),
])

SESSION_GAP_S = 1800


def _sorted_group(pdfs: Iterator[pd.DataFrame], by) -> list[int]:
    """One key's micro-batch event times in µs, sorted by `by`. A key's
    rows can span several Arrow chunks (~10k rows each); sorting chunks
    independently would feed a stateful fold out-of-order rows, so the
    whole group is concatenated (its in-batch volume bounds memory) and
    sorted once."""
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if not chunks:
        return []
    # pandas Timestamp ns -> us
    return [int(ts.value // 1000)
            for ts in pd.concat(chunks).sort_values(by)["ts"]]


def _sessionize_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Custom stateful operator: per-user gap-based session counting.
    State = (n_sessions, n_events, last_event_time)."""
    if state.exists:
        n_sessions, n_events, last_us = state.get
    else:
        n_sessions, n_events, last_us = 0, 0, None
    for us in _sorted_group(pdfs, "ts"):
        if last_us is None or us - last_us > SESSION_GAP_S * 1_000_000:
            n_sessions += 1
        last_us = us
        n_events += 1
    state.update((n_sessions, n_events, last_us))
    yield pd.DataFrame({
        "user_id": [key[0]],
        "n_sessions": [n_sessions],
        "n_events": [n_events],
        "last_ts": [pd.Timestamp(last_us, unit="us")],
    })


def sessionize_stream(events: DataFrame) -> DataFrame:
    """applyInPandasWithState sessionizer — the streaming twin of
    events_sessionize (same gap rule)."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_fn,
            outputStructType=_SESSION_OUT,
            stateStructType=_SESSION_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_CLOSED_OUT = StructType([
    StructField("user_id", LongType()),
    StructField("session_start", TimestampType()),
    StructField("session_end", TimestampType()),
    StructField("n_events", LongType()),
])

_CLOSED_STATE = StructType([
    StructField("start_us", LongType()),
    StructField("last_us", LongType()),
    StructField("n", LongType()),
])


def _sessionize_closed_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Emit CLOSED sessions: a session closes when a later event
    opens the next one, or when the event-time TIMEOUT fires (the
    watermark passed last_event + gap with no new activity) — the
    timer is what lets a continuous run both bound its state and
    flush tail sessions without waiting for the user to come back."""
    gap_us = SESSION_GAP_S * 1_000_000
    out = {"user_id": [], "start_us": [], "end_us": [], "n": []}

    def close(start_us, end_us, n):
        out["user_id"].append(key[0])
        out["start_us"].append(start_us)
        out["end_us"].append(end_us)
        out["n"].append(n)

    if state.hasTimedOut:
        if state.exists:
            s, e, n = state.get
            close(s, e, n)
        state.remove()
    else:
        cur = state.get if state.exists else None
        for us in _sorted_group(pdfs, "ts"):
            if cur is None:
                cur = (us, us, 1)
            elif us - cur[1] > gap_us:
                close(*cur)
                cur = (us, us, 1)
            else:
                cur = (cur[0], us, cur[2] + 1)
        if cur is not None:
            state.update(cur)
            # event-time timer: fire when the watermark passes the
            # open session's gap horizon (ms granularity)
            state.setTimeoutTimestamp(cur[1] // 1000 + SESSION_GAP_S * 1000)
    if out["user_id"]:
        yield pd.DataFrame({
            "user_id": out["user_id"],
            "session_start": pd.to_datetime(out["start_us"], unit="us"),
            "session_end": pd.to_datetime(out["end_us"], unit="us"),
            "n_events": out["n"],
        })


def sessionize_closed_stream(events: DataFrame) -> DataFrame:
    """Closed-session emitter: applyInPandasWithState with an
    EVENT-TIME TIMEOUT. Unlike sessionize_stream (running per-user
    counters, NoTimeout, state = #users forever), this one's state is
    only the OPEN sessions inside the watermark+gap horizon — the
    bounded-state posture for an unbounded-user 100 TB/day stream —
    and each closed session is emitted exactly once, either when the
    next session opens or when its timeout fires."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_closed_fn,
            outputStructType=_CLOSED_OUT,
            stateStructType=_CLOSED_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


_FIRST_SEEN_OUT = StructType([
    StructField("user_id", LongType()),
    StructField("first_ts", TimestampType()),
])
_FIRST_SEEN_STATE = StructType([
    StructField("seen", LongType()),
])


def _first_seen_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        for _ in pdfs:  # drain; this user already emitted
            pass
        return
    first_us = None
    for pdf in pdfs:
        ts = pdf["ts"].dropna()  # null event times never define a
        if len(ts):              # first touch (batch twin skips them)
            us = int(ts.min().value // 1000)
            first_us = us if first_us is None else min(first_us, us)
    if first_us is None:
        return  # nothing usable yet; leave the user unseen
    state.update((1,))
    yield pd.DataFrame({
        "user_id": [key[0]],
        "first_ts": pd.to_datetime([first_us], unit="us"),
    })


def first_seen_stream(events: DataFrame) -> DataFrame:
    """New-user detection: emit exactly one (user_id, first_ts) row
    the first micro-batch each user appears in — the streaming feed
    behind acquisition dashboards (batch twin: user_growth's
    first-day aggregation) and behind any first-touch trigger
    (welcome flows, cohort assignment).

    State is one flag per seen user — the same deliberate
    state-per-key posture as sessionize_stream's running counters,
    and the canonical cost of EXACT forever-dedup on an unbounded
    key space: for a 100 TB/day stream either accept the
    user-cardinality state (RocksDB state store), or relax to
    within-horizon semantics via dropDuplicatesWithinWatermark /
    a bloom-filter pre-gate. first_ts is the min event time within
    the user's FIRST micro-batch: if later batches carry yet-earlier
    late events, first-observed wins (exact agreement with the batch
    twin when per-user arrival respects event-time order, as in the
    time-ordered file feeds the tests use)."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _first_seen_fn,
            outputStructType=_FIRST_SEEN_OUT,
            stateStructType=_FIRST_SEEN_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def session_window_counts(events: DataFrame) -> DataFrame:
    """Per-user session aggregation via Spark's NATIVE session_window
    (gap-merged event-time windows) — the built-in counterpart of the
    custom applyInPandasWithState sessionizer above. One row per
    (user, session) with its bounds and event count; state expires
    with the watermark. Prefer this when per-session rows are the
    product; the custom operator when you need cross-session running
    state (lifetime counters)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def props_windowed_stats(events: DataFrame) -> DataFrame:
    """Semi-structured streaming: parse the props JSON column
    (get_json_object — JVM codegen, no Python in the stream) and roll
    up the numeric $.k field per (day, type) — the streaming twin of
    the batch events_props_stats aggregate."""
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return _windowed(events.withColumn("k", k), ["event_type"],
                     F.count("*").alias("n_events"),
                     F.count("k").alias("n_with_k"),
                     F.sum("k").cast("long").alias("sum_k"))


def dedup_stream(events: DataFrame) -> DataFrame:
    """Streaming exact dedup on event_id — the at-least-once ->
    exactly-once repair stage every ingest pipeline needs.

    Uses dropDuplicatesWithinWatermark: plain dropDuplicates only
    evicts state when the event-time column is part of the dedup key,
    so keying on event_id alone would grow state without bound in a
    continuous run. The WithinWatermark variant expires each key once
    the watermark passes its event time — state is one key per event
    inside the horizon, independent of stream length."""
    return (events.withWatermark("ts", WATERMARK)
            .dropDuplicatesWithinWatermark(["event_id"]))


def enrich_with_customers(events: DataFrame,
                          customers: DataFrame) -> DataFrame:
    """Stream-static join: enrich the event stream with the customer
    dimension (static side broadcast per micro-batch — no stream-side
    state), then windowed per-segment purchase rollup."""
    enriched = events.join(
        F.broadcast(customers.select(
            F.col("c_custkey").alias("user_id"), "c_mktsegment")),
        "user_id")
    return _windowed(enriched.filter(F.col("event_type") == "purchase"),
                     ["c_mktsegment"],
                     F.count("*").alias("n_purchases"),
                     F.sum(F.col("value").cast("decimal(18,6)"))
                     .cast("decimal(38,6)").alias("sum_value"))


def _run_foreach_batch(df: DataFrame, sink, checkpoint_dir: str) -> Any:
    """Drain a stream through a foreachBatch sink with availableNow +
    checkpoint (the shared exactly-once runner: the checkpoint skips
    committed batches, the sink must be replay-idempotent)."""
    q = (
        df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _write_batch(df: DataFrame, fs, name: str, batch_id: int) -> None:
    """Overwrite micro-batch `batch_id`'s OWN partition directory
    (batch_id=N) of dataset `name`: a replay of an uncommitted batch
    replaces its earlier partial output instead of appending a
    duplicate, which with the checkpoint makes a foreachBatch sink
    exactly-once. Readers see a dataset partitioned by batch_id."""
    df.write.mode("overwrite").parquet(
        f"{fs._path(name)}/batch_id={batch_id}")


def _partition_sink(fs, name: str, fn):
    """foreachBatch sink writing fn(micro-batch) via _write_batch."""
    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _write_batch(fn(batch_df), fs, name, batch_id)

    return sink


def stream_to_filestore(df: DataFrame, fs, name: str,
                        checkpoint_dir: str) -> Any:
    """Persist a stream into a FileStore dataset via foreachBatch.
    This is the streaming write-side of the reference's juice
    append-to-dest (CreatAppendSdfsReduceFile), with recovery
    semantics the reference's append never had.

    Exactly-once needs BOTH halves: the checkpoint skips batches whose
    commit is recorded, and the sink must be idempotent for batches
    that wrote but crashed before the commit landed (foreachBatch is
    otherwise at-least-once). So each micro-batch overwrites its OWN
    partition directory (_write_batch)."""
    return _run_foreach_batch(df, _partition_sink(fs, name, lambda b: b),
                              checkpoint_dir)


def rollup_stream_to_filestore(events: DataFrame, fs, name: str,
                               checkpoint_dir: str) -> Any:
    """Continuous-aggregate ("hypertable rollup") maintenance from a
    stream: each micro-batch reduces to its additive per-(day, type)
    delta — count + DECIMAL sum, state proportional to the DELTA, not
    the history — written under its OWN batch_id partition. That is
    the same idempotent-overwrite + checkpoint pairing
    stream_to_filestore proves exactly-once: a replayed uncommitted
    batch replaces its earlier partial delta instead of double-adding.

    The rollup is therefore a delta LOG, not a mutable table:
    read_rollup() folds the log at read time (cost bounded by
    #batches since the last compaction); compact_rollup() collapses
    the log to a single partition — at scale, the nightly compaction
    job, while per-batch work stays proportional to the delta."""
    return _run_foreach_batch(events, rollup_delta_sink(fs, name),
                              checkpoint_dir)


def anomaly_baseline(ev_batch: DataFrame) -> DataFrame:
    """Per-type daily-volume moments from HISTORICAL batch data —
    the static side of the online anomaly scorer. Exact integer
    moments (count, sum, sum-of-squares), same math as the batch
    events_anomaly query."""
    daily = (
        ev_batch.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    return daily.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum("n").alias("s"),
        F.sum(F.col("n") * F.col("n")).alias("ss"),
    )


def anomaly_stream(events: DataFrame, baseline: DataFrame) -> DataFrame:
    """Online volume-anomaly scoring: finalized daily per-type counts
    from the stream, z-scored against the broadcast historical
    baseline — the streaming half of events_anomaly (same guarded
    integer-moment math, so scores agree exactly with the batch twin
    when the baseline covers the same history).

    State: watermark horizon x type cardinality (the windowed count);
    the baseline is a bounded static table riding in as a broadcast
    stream-static join — no per-event Python, no unbounded state."""
    daily = _windowed(events, ["event_type"], F.count("*").alias("n")) \
        .withColumn("day", F.to_date("day"))
    j = daily.join(F.broadcast(baseline), "event_type")
    mean = F.col("s").cast("double") / F.col("n_days").cast("double")
    var_num = (F.col("n_days") * F.col("ss")
               - F.col("s") * F.col("s")).cast("double")
    var_den = (F.col("n_days") * (F.col("n_days") - F.lit(1))).cast("double")
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


def build_dedup_index(docs: DataFrame, fs, name: str) -> None:
    """Materialize the standing corpus's LSH band table — the index a
    streaming ingest probes. At 100 TB this is the once-per-corpus
    signature pass (the same shape as dedup_minhash's signature
    stage); incremental growth happens batch-wise in
    ingest_dedup_stream."""
    from distributed_system_mapreduce_spark.operators.dedup import (
        bands_from_docs,
    )

    # live under batch_id=-1 so the layout matches the partitions the
    # stream appends (mixed flat-files + partition dirs would break
    # Spark's partition discovery)
    _write_batch(bands_from_docs(docs), fs, name, -1)


def ingest_dedup_stream(docs: DataFrame, fs, index_name: str,
                        out_name: str, checkpoint_dir: str) -> Any:
    """Streaming ingest dedup — the continuous-crawl posture: each
    micro-batch of incoming (doc_id, text) documents is shingled,
    minhashed, and banded (cost proportional to the BATCH), probes the
    standing index by (band, sig) equi-join, and emits one verdict row
    per doc: candidate-match count against the index, best (lowest)
    match id, and an in-batch flag (a lower-id near-dup arrived in the
    same batch). ALL incoming docs' bands are then appended to the
    index under the batch's own partition, so later batches dedup
    against earlier ones.

    Exactly-once: verdicts AND index growth are per-batch partition
    overwrites (idempotent under replay) paired with the checkpoint —
    the same mechanism stream_to_filestore proves under a crash. The
    probe reads only index partitions with batch_id < the current
    batch (standing corpus = -1): a replayed batch must NOT see the
    partition its own failed attempt wrote, or every doc would
    self-match. The probe join cost scales with the delta, never
    corpus x corpus (the dedup_incremental argument)."""
    from distributed_system_mapreduce_spark.operators.dedup import (
        bands_from_docs,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # pinned mode="local": this barrier lives INSIDE a micro-batch,
        # where Structured Streaming's batch retry (replay from the
        # source checkpoint) is already the recovery layer — persist
        # posture would leak one never-unpersisted cache entry per
        # batch on a long-running stream for recoverability the engine
        # provides anyway. The session switch governs BATCH operators;
        # per-batch sinks cut locally by design.
        nb = cut(bands_from_docs(batch_df), mode="local")
        idx = (
            fs.read(index_name)
            .where(F.col("batch_id") < batch_id)
            .alias("i")
        )
        hits = (
            nb.alias("n").join(idx, ["band", "sig"])
            .select(F.col("n.doc_id").alias("doc_id"),
                    F.col("i.doc_id").alias("match_id"))
            .distinct()
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_matches"),
                 F.min("match_id").alias("best_match"))
        )
        intra = (
            nb.alias("a").join(nb.alias("b"),
                               (F.col("a.band") == F.col("b.band"))
                               & (F.col("a.sig") == F.col("b.sig"))
                               & (F.col("a.doc_id") > F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_id")).distinct()
            .withColumn("in_batch_dup", F.lit(True))
        )
        verdicts = (
            batch_df.select("doc_id")
            .join(hits, "doc_id", "left")
            .join(intra, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
                "best_match",
                F.coalesce("in_batch_dup", F.lit(False))
                .alias("in_batch_dup"),
            )
        )
        _write_batch(verdicts, fs, out_name, batch_id)
        _write_batch(nb, fs, index_name, batch_id)

    return _run_foreach_batch(docs, sink, checkpoint_dir)


def rollup_delta_sink(fs, name: str):
    """The per-batch reducer behind rollup_stream_to_filestore:
    aggregate the micro-batch to its additive delta and overwrite the
    batch's own partition (idempotent under replay)."""
    return _partition_sink(fs, name, lambda batch_df: (
        batch_df.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum(F.col("value").cast("decimal(18,6)"))
             .cast("decimal(18,6)").alias("sum_value"))
    ))


def read_rollup(fs, name: str) -> DataFrame:
    """Fold the rollup delta log into current totals (additive
    combine; exactness preserved by the decimal accumulators)."""
    return (
        fs.read(name)
        .groupBy("day", "event_type")
        .agg(F.sum("n_events").cast("long").alias("n_events"),
             F.sum("sum_value").cast("decimal(18,6)").alias("sum_value"))
    )


def compact_rollup(fs, name: str) -> None:
    """Collapse the delta log to a single materialized partition
    (batch_id=-1). Readers before/after see identical totals; the
    next stream attach must use a fresh checkpoint (batch ids restart
    at 0, and -1 never collides with them)."""
    # materialize before the overwrite clobbers the source dir — and
    # TRUNCATE lineage in every posture (cut_deep: persist routes to
    # reliable): a persist-posture recompute after block loss would
    # re-read the very directory the overwrite below is replacing
    compacted = read_rollup(fs, name).withColumn(
        "batch_id", F.lit(-1)).transform(cut_deep)
    # the overwrite must replace the WHOLE dataset (all old delta
    # partitions) — under dynamic partition overwrite only batch_id=-1
    # would be replaced and totals would double, so this write pins
    # static mode itself (per write: the session conf stays untouched)
    (
        compacted.write.format("parquet").mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("batch_id").save(fs._path(name))
    )


def run_stream_to_memory(df: DataFrame, name: str,
                         output_mode: str = "complete",
                         state_partitions: int | None = None) -> Any:
    """Drain the stream into an in-memory table with availableNow
    (process-everything-then-stop) and return the finished query.

    state_partitions: stateful operators materialize one state store
    per shuffle partition per state sub-store (a stream-stream join
    keeps FOUR per partition), and the count is pinned at the first
    checkpoint — so a 32-partition drain of a bounded gate corpus
    pays 128 state-store instantiations of pure fixed cost. Callers
    draining bounded corpora can pass a smaller count; the session
    value is restored after the drain (the stream captured it at
    start). Purely physical — the result set is identical (the
    oracle hash-gate proves it) — and a production run at 100 TB
    simply omits it to keep the cluster-sized default."""
    spark = df.sparkSession
    prev = None
    if state_partitions is not None:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(state_partitions))
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    return q


def _view_purchase_join(events: DataFrame, how: str) -> DataFrame:
    """The watermarked view→purchase stream-stream join: each view
    against the same user's purchases at most LOOKBACK_H hours after
    it, as (view_id, user_id, view_ts, purchase_id, purchase_ts). The
    time bound plus both watermarks give BOTH join buffers a provable
    expiry horizon (state ∝ WATERMARK + LOOKBACK_H)."""
    views = (
        events.filter(F.col("event_type") == "view")
        .select(F.col("event_id").alias("view_id"), "user_id",
                F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", WATERMARK)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user_id"),
                F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", WATERMARK)
    )
    return (
        views.join(
            purchases,
            F.expr(
                f"user_id = p_user_id AND "
                f"purchase_ts >= view_ts AND "
                f"purchase_ts <= view_ts + INTERVAL {LOOKBACK_H} HOURS"
            ),
            how)
        .select("view_id", "user_id", "view_ts",
                "purchase_id", "purchase_ts")
    )


def view_purchase_join_stream(events: DataFrame) -> DataFrame:
    """Watermarked stream-stream inner join: each purchase matched to
    the same user's preceding views within LOOKBACK_H hours — the
    streaming twin of the batch purchase_attribution funnel
    (operators/asof.py, which bucketizes the same range predicate
    into an equi-join for the batch planner).

    Both sides carry event-time watermarks and the join condition
    bounds their time distance, so Spark derives a state-expiry
    horizon for BOTH buffers — without the time bound, stream-stream
    join state grows forever. At 100 TB/day this is the canonical
    funnel-join shape: state is (watermark + lookback) x per-user
    event volume, independent of stream length."""
    return _view_purchase_join(events, "inner")


def view_purchase_left_join_stream(events: DataFrame) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join: every view emits —
    matched views as (view, purchase) pairs the moment the purchase
    arrives, ABANDONED views as null-matched rows once the watermark
    PROVES no qualifying purchase can still arrive — the streaming
    twin of the batch abandoned_views anti join (operators/asof.py).

    The outer side is what makes this a distinct capability from the
    inner funnel join: Spark holds a view in state only until
    view_ts + lookback falls behind the purchase-side watermark, then
    emits it exactly once with a NULL purchase. Both buffers keep the
    provable expiry horizon (state ∝ watermark + lookback, not stream
    length); a purchase later than its own watermark is dropped, so
    an abandonment verdict, once emitted, is never contradicted."""
    return _view_purchase_join(events, "leftOuter")


_KMV_OUT = ("source string, n_kept long, kth_hash long, "
            "est_distinct double")
_KMV_STATE = "hs array<string>"


def _kmv_fn(key, pdfs, state):
    """Per-source bottom-K merge: state holds at most K '(h13hex)|s'
    strings (lexicographic order on the fixed-width hex prefix IS
    numeric order on h, with the shingle as tie-break — the batch
    operator's (h, s) order); each micro-batch's distinct shingles
    hash with the SAME md5-prefix construction and the union re-takes
    the K smallest. Emits the sketch estimate after every batch
    (update-style output in an append query: one row per source per
    batch it appears in)."""
    import hashlib
    import re

    import pandas as pd

    from distributed_system_mapreduce_spark.operators.probabilistic import (
        KMV_K,
        _POW52,
    )

    cur = set(state.get[0]) if state.exists else set()
    ws = re.compile(r"[ \t\n\r\f\v]+")
    for pdf in pdfs:
        for text in pdf["text"]:
            toks = [t for t in ws.split(text or "") if t]
            for i in range(len(toks) - 1):
                s = f"{toks[i]} {toks[i + 1]}"
                h = hashlib.md5(s.encode()).hexdigest()[:13]
                cur.add(f"{h}|{s}")
    kept = sorted(cur)[:KMV_K]
    state.update((kept,))
    if not kept:
        return
    kth = int(kept[-1].split("|", 1)[0], 16)
    n = len(kept)
    est = float(n) if n < KMV_K else (KMV_K - 1) / (kth / _POW52)
    yield pd.DataFrame({
        "source": [key[0]], "n_kept": [n], "kth_hash": [kth],
        "est_distinct": [est],
    })


def kmv_distinct_stream(docs: DataFrame) -> DataFrame:
    """Streaming KMV cardinality: the bottom-K sketch as STREAMING
    STATE — each source's K smallest shingle hashes persist across
    micro-batches (bounded: K strings per source, the mergeable-
    summary property that makes sketches the right streaming state),
    and every batch emits the refreshed estimate. After draining a
    corpus the final per-source row equals the batch kmv_distinct
    sketch EXACTLY (same hash set, same kth hash, same estimate) —
    not just approximately; proven in tests/test_streaming.py."""
    return (
        docs.groupBy("source")
        .applyInPandasWithState(
            _kmv_fn,
            outputStructType=_KMV_OUT,
            stateStructType=_KMV_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def daily_distinct_users_stream(events: DataFrame) -> DataFrame:
    """EXACT streaming count-distinct via chained aggregations: the
    first stateful aggregation holds one state row per (day, type,
    user) — the dedup layer — and the second counts the deduped rows
    per (day, type), finalized when the watermark closes the day.
    This is the canonical shape for exact windowed COUNT DISTINCT in
    Structured Streaming (distinct counts don't merge, so a single
    agg can't do it; approx_count_distinct trades this state for a
    sketch — the approx_distinct_users_by_type tradeoff, made
    streaming). Watermark propagates through window_time() so both
    state stores expire."""
    ev = events.withWatermark("ts", WATERMARK)
    per_user = (
        ev.groupBy(
            F.window("ts", "1 day").alias("w"),
            "event_type", "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        per_user.groupBy(
            F.window(F.window_time("w"), "1 day").alias("w2"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .select(F.col("w2.start").alias("day"), "event_type", "n_users")
    )


def snapshot_sink_stream(df: DataFrame, fs, name: str,
                         checkpoint_dir: str) -> Any:
    """Stream into the VERSIONED store: every micro-batch commits as
    an append_snapshot tagged with its batch id, so each batch is one
    immutable, time-travelable version and a crash-replayed batch is
    detected by its tag and skipped BEFORE any data is written —
    exactly-once at the version level, on top of the checkpoint's
    at-least-once replay. Readers time-travel the ingest history
    (read_snapshot(v)) or follow the latest version, and vacuum
    expires it; this is the streaming half of the snapshot store the
    same way rollup_stream_to_filestore is for the keyed store."""
    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        tag = f"batch-{batch_id}"
        if tag in fs.snapshot_tags(name):
            return
        fs.append_snapshot(batch_df, name, tag=tag)

    return _run_foreach_batch(df, _sink, checkpoint_dir)


def attribution_counts_stream(events: DataFrame) -> DataFrame:
    """CHAINED stateful operators: a watermarked stream-stream join
    (purchase matched to the same user's preceding views, the
    view_purchase_join_stream shape) followed by a windowed
    AGGREGATION over the join output — per purchase, the number of
    attributed views, finalized when the purchase-day window closes.
    The streaming twin of batch purchase_attribution's count stage
    (operators/asof.py), and the shape that needs Spark's
    multiple-stateful-operator support: the join's watermark
    propagates to the downstream window so BOTH state stores get a
    provable expiry horizon (join buffers ∝ watermark + lookback,
    window state ∝ watermark; neither grows with stream length).

    Append mode: a (day, purchase) row emits exactly once, after the
    watermark proves its day complete — late views inside the
    watermark are still counted; beyond it they are dropped by the
    join, so an emitted count is never contradicted."""
    return (
        _view_purchase_join(events, "inner").groupBy(
            F.window("purchase_ts", "1 day").alias("w"),
            "purchase_id",
        )
        .agg(F.count(F.lit(1)).alias("n_views"))
        .select(F.col("w.start").alias("day"), "purchase_id", "n_views")
    )


def cdc_stream_to_filestore(events: DataFrame, fs, name: str,
                            checkpoint_dir: str) -> Any:
    """Streaming CDC materialization: treat the event stream as an
    ordered change log (non-error event = UPSERT of the user's
    value, 'error' = DELETE tombstone) and fold each micro-batch into
    a write_keyed FileStore snapshot with merge() — the end-to-end
    "replication feed -> always-current table" loop whose batch twin
    is operators/events.cdc_apply and whose storage half is
    the keyed-bucket incremental rewrite (only buckets holding
    changed users are touched, per-batch work ∝ the delta).

    Ordering contract: like any CDC consumer, the feed must be
    per-key ordered across batches (Debezium/kafka per-key offsets;
    here time-ordered files). WITHIN a batch, last-writer-wins is
    resolved exactly via one max(struct(ts, event_id)) per user
    before merging. Replaying a batch re-applies the same winners —
    merge is idempotent for identical inputs — which is what the
    checkpoint needs from the sink."""
    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        top = F.max(F.struct("ts", "event_id", "op", "value"))
        changes = (
            batch_df.select(
                "user_id", F.col("ts").cast("timestamp").alias("ts"),
                "event_id",
                F.when(F.col("event_type") == "error", F.lit("D"))
                .otherwise(F.lit("U")).alias("op"),
                "value",
            )
            .groupBy("user_id").agg(top.alias("w"))
            .select(
                "user_id",
                F.col("w.value").alias("current_value"),
                F.col("w.ts").alias("last_ts"),
                (F.col("w.op") == "D").alias("is_delete"),
            )
        )
        fs.merge(changes, name, key="user_id", delete_col="is_delete")

    return _run_foreach_batch(events, sink, checkpoint_dir)


# ------------------------------------------------------- throttle_stream
# parity pin: the gap is the BATCH twin's constant
# (operators/events.THROTTLE_GAP_S), imported so the oracle
# SQL and this stateful fold can never drift apart — the r9 review
# caught a local `THROTTLE_GAP_S = 60` rebinding that would have let
# a batch-side constant change break the stream_throttle hash gate
# with no local edit here
from distributed_system_mapreduce_spark.operators.events import (  # noqa: E402,E501
    THROTTLE_GAP_S,
)

_THROTTLE_OUT = StructType([
    StructField("user_id", LongType()),
    StructField("n_events", LongType()),
    StructField("n_kept", LongType()),
])

_THROTTLE_STATE = StructType([
    StructField("last_kept_us", LongType()),
    StructField("n_kept", LongType()),
    StructField("n_events", LongType()),
])


def _throttle_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Keep an event iff it lands >= gap after the last KEPT event —
    the keep decision depends on prior keeps, so the state is exactly
    one (last_kept_us, counters) triple per user: O(users) state, no
    event retention (contrast the sessionizer, which must hold the
    open session). Chunks are concatenated and sorted ONCE by
    (ts, event_id) before the fold, so a user whose batch spans
    multiple Arrow chunks still replays in event order (the
    sessionizer-chunking rule)."""
    gap_us = THROTTLE_GAP_S * 1_000_000
    last, n_kept, n_events = (
        state.get if state.exists else (None, 0, 0))
    times = _sorted_group(pdfs, ["ts", "event_id"])
    for us in times:
        n_events += 1
        if last is None or us - last >= gap_us:
            last = us
            n_kept += 1
    if times:
        state.update((last, n_kept, n_events))
    yield pd.DataFrame({
        "user_id": [key[0]],
        "n_events": [n_events],
        "n_kept": [n_kept],
    })


def throttle_stream(events: DataFrame) -> DataFrame:
    """Streaming per-user rate-limit ledger — the stateful twin of
    the batch events_throttle fold (operators/events.py):
    same gap rule, same (ts, event_id) replay order, but the state a
    continuous run carries is one timestamp + two counters per user."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _throttle_fn,
            outputStructType=_THROTTLE_OUT,
            stateStructType=_THROTTLE_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------- lateness_stream
_LATENESS_OUT = StructType([
    StructField("event_type", StringType()),
    StructField("n_events", LongType()),
    StructField("n_late", LongType()),
    StructField("max_late_s", LongType()),
])

_LATENESS_STATE = StructType([
    StructField("max_us", LongType()),
    StructField("n_events", LongType()),
    StructField("n_late", LongType()),
    StructField("max_late_us", LongType()),
])


def _lateness_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Track each type's high-water event time and count arrivals
    behind it — O(1) state per type (one timestamp + three
    counters). Chunks concat + sort by event_id so replay order
    matches the batch census' arrival order exactly."""
    max_us, n_events, n_late, max_late = (
        state.get if state.exists else (None, 0, 0, 0))
    times = _sorted_group(pdfs, "event_id")
    for us in times:
        n_events += 1
        if max_us is not None and us < max_us:
            n_late += 1
            max_late = max(max_late, max_us - us)
        max_us = us if max_us is None else max(max_us, us)
    if times:
        state.update((max_us, n_events, n_late, max_late))
    yield pd.DataFrame({
        "event_type": [key[0]],
        "n_events": [n_events],
        "n_late": [n_late],
        "max_late_s": [max_late // 1_000_000],
    })


def lateness_stream(events: DataFrame) -> DataFrame:
    """Streaming out-of-orderness monitor — the live twin of the
    batch late_arrival_census (operators/events.py): the
    same arrival-order lateness counts, maintained continuously so a
    pipeline can ALARM on watermark-violating feeds instead of
    discovering them in a nightly batch audit."""
    return (
        events.groupBy("event_type")
        .applyInPandasWithState(
            _lateness_fn,
            outputStructType=_LATENESS_OUT,
            stateStructType=_LATENESS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def lm_quality_stream(docs: DataFrame, model: DataFrame, fs,
                      out_name: str, checkpoint_dir: str,
                      max_entropy: float | None = None) -> Any:
    """Streaming ingest QUALITY GATE: each micro-batch of incoming
    (doc_id, text) documents is scored with the char-bigram LM
    cross-entropy against a FROZEN corpus model (the batch
    doc_lm_typicality model, broadcast as the static side) —
    the continuous-crawl posture for CCNet-style perplexity
    filtering: the model comes from the standing corpus, the stream
    pays only per-batch explode+agg cost, and scores agree EXACTLY
    with the batch twin because the math is identical
    (operators/curation.lm_score).

    Verdicts land as per-batch partition overwrites (idempotent under
    replay) with the shared exactly-once runner. Pass max_entropy to
    add a keep/drop verdict column; None emits scores only."""
    from distributed_system_mapreduce_spark.operators.curation import (
        lm_score,
    )

    mdl = model.transform(cut)

    def score(batch_df: DataFrame) -> DataFrame:
        scored = lm_score(batch_df, mdl)
        if max_entropy is None:
            return scored
        return scored.withColumn(
            "keep", F.col("cross_entropy") <= F.lit(max_entropy))

    return _run_foreach_batch(docs, _partition_sink(fs, out_name, score),
                              checkpoint_dir)


# ------------------------------------------------ drift_monitor_stream
def drift_monitor_stream(docs: DataFrame, model: DataFrame, fs,
                         out_name: str, checkpoint_dir: str) -> Any:
    """Streaming DISTRIBUTION-DRIFT monitor: each micro-batch of
    incoming (doc_id, text) documents is reduced to its hashed-
    vocabulary bucket distribution and scored with the Jensen-Shannon
    divergence against a FROZEN corpus distribution (a
    curation.token_bucket_counts frame, checkpointed as the static
    side) — the continuous-crawl answer to "is today's feed still the
    distribution we trained the filters on?". A JS step-change is the
    upstream-source-broke alarm that per-doc quality gates
    (lm_quality_stream) miss, because every individual document can
    look fine while the MIX shifts.

    Per batch ONE summary row (batch p_tokens, frozen q_tokens, js)
    lands as an idempotent per-batch partition overwrite — the same
    exactly-once pairing stream_to_filestore proves under crash.
    Stream scores agree exactly with the batch twin
    (curation.js_between) because the math is shared."""
    from distributed_system_mapreduce_spark.operators.curation import (
        js_between,
        token_bucket_counts,
    )

    mdl = model.transform(cut)
    sink = _partition_sink(
        fs, out_name, lambda b: js_between(token_bucket_counts(b), mdl))
    return _run_foreach_batch(docs, sink, checkpoint_dir)


# ------------------------------------------- compression_gate_stream
def compression_gate_stream(docs: DataFrame, fs, out_name: str,
                            checkpoint_dir: str,
                            lo: float | None = None,
                            hi: float | None = None) -> Any:
    """Streaming DEFLATE quality gate: each micro-batch of incoming
    (doc_id, source, text) documents gets the zlib compression-ratio
    score (operators/curation.compression_scores — the SAME Arrow
    kernel the batch query runs, so stream scores agree byte-for-byte
    with the batch twin). Pass lo/hi to add the keep verdict
    lo <= ratio <= hi: below lo = template/boilerplate
    self-similarity, above hi = token soup that doesn't compress —
    both ends of the Gopher-style band filter. Verdicts land as
    idempotent per-batch partition overwrites (the exactly-once
    pairing stream_to_filestore proves under crash)."""
    from distributed_system_mapreduce_spark.operators.curation import (
        compression_scores,
    )

    def score(batch_df: DataFrame) -> DataFrame:
        scored = compression_scores(batch_df)
        if lo is None and hi is None:
            return scored
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col("ratio") >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col("ratio") <= F.lit(hi))
        return scored.withColumn("keep", cond)

    return _run_foreach_batch(docs, _partition_sink(fs, out_name, score),
                              checkpoint_dir)
