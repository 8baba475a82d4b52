"""Structured Streaming jobs drained with availableNow and compared
to their batch twins from operators/events.py."""

from distributed_system_mapreduce_spark.operators.events import (
    events_daily_rollup,
    events_sessionize,
)
from distributed_system_mapreduce_spark.streaming import (
    dedup_stream,
    enrich_with_customers,
    props_windowed_stats,
    read_events_stream,
    run_stream_to_memory,
    sessionize_stream,
    topk_per_window,
    windowed_counts,
    windowed_user_counts,
)
from tests.conftest import SF_DIR


def test_windowed_topk_matches_batch_rank(spark):
    """Streaming (window, user) counts drained with availableNow,
    ranked to per-day top-5, must equal the same rank computed from
    the batch table — including the deterministic tie-break."""
    from pyspark.sql import functions as F

    from distributed_system_mapreduce_spark.tables import load_table

    stream = read_events_stream(spark, SF_DIR)
    # complete mode so trailing windows (not yet past the watermark
    # when the availableNow drain ends) are present for comparison;
    # production uses append + foreachBatch on finalized rows
    q = run_stream_to_memory(windowed_user_counts(stream), "topk_stream")
    try:
        got = sorted(
            (r["day"], r["user_id"], r["n_events"])
            for r in topk_per_window(spark.table("topk_stream")).collect()
        )
        batch = (
            load_table(spark, "events", SF_DIR)
            .groupBy(F.window(F.col("ts").cast("timestamp"), "1 day")
                     .alias("w"), "user_id")
            .agg(F.count("*").alias("n_events"))
            .select(F.col("w.start").alias("day"), "user_id", "n_events")
        )
        want = sorted(
            (r["day"], r["user_id"], r["n_events"])
            for r in topk_per_window(batch).collect()
        )
        assert got == want and len(got) > 0
    finally:
        q.stop()


def test_windowed_counts_match_batch_rollup(spark):
    stream = read_events_stream(spark, SF_DIR)
    assert stream.isStreaming
    q = run_stream_to_memory(windowed_counts(stream), "wc_stream")
    try:
        got = {
            (r["day"].date(), r["event_type"]): (r["n_events"],
                                                 float(r["sum_value"]))
            for r in spark.table("wc_stream").collect()
        }
        want = {
            (r["day"], r["event_type"]): (r["n_events"],
                                          float(r["sum_value"]))
            for r in events_daily_rollup(spark, SF_DIR).collect()
        }
        assert got == want
    finally:
        q.stop()


def test_hopping_windowed_counts_match_batch_sliding(spark):
    """windowed_counts(slide=...) must agree with the batch
    events_sliding_window on (win_start, type) -> n_events."""
    from distributed_system_mapreduce_spark.operators.events import (
        events_sliding_window,
    )

    stream = read_events_stream(spark, SF_DIR)
    q = run_stream_to_memory(
        windowed_counts(stream, window="1 day", slide="6 hours"),
        "wc_hop_stream")
    try:
        got = {
            (r["day"], r["event_type"]): r["n_events"]
            for r in spark.table("wc_hop_stream").collect()
        }
        want = {
            (r["win_start"], r["event_type"]): r["n_events"]
            for r in events_sliding_window(spark, SF_DIR).collect()
        }
        assert got == want
    finally:
        q.stop()


def test_props_stream_matches_batch_json_rollup(spark):
    """Streaming JSON extraction must agree with the same expressions
    evaluated in batch over the static table."""
    from pyspark.sql import functions as F

    from distributed_system_mapreduce_spark.tables import load_table

    stream = read_events_stream(spark, SF_DIR)
    q = run_stream_to_memory(props_windowed_stats(stream), "props_stream")
    try:
        got = {
            (r["day"], r["event_type"]): (r["n_events"], r["n_with_k"],
                                          r["sum_k"])
            for r in spark.table("props_stream").collect()
        }
        ev = load_table(spark, "events", SF_DIR)
        k = F.get_json_object(F.col("props"), "$.k").cast("long")
        want = {
            (r["day"], r["event_type"]): (r["n_events"], r["n_with_k"],
                                          r["sum_k"])
            for r in (
                ev.withColumn("k", k)
                .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
                .agg(F.count("*").alias("n_events"),
                     F.count("k").alias("n_with_k"),
                     F.sum("k").cast("long").alias("sum_k"))
                .select(F.col("w.start").alias("day"), "event_type",
                        "n_events", "n_with_k", "sum_k")
            ).collect()
        }
        assert got == want
    finally:
        q.stop()


def test_dedup_stream_matches_distinct_event_ids(spark):
    from distributed_system_mapreduce_spark.tables import load_table

    stream = read_events_stream(spark, SF_DIR)
    q = run_stream_to_memory(
        dedup_stream(stream), "dedup_stream", output_mode="append")
    try:
        got = spark.table("dedup_stream").count()
        want = (load_table(spark, "events", SF_DIR)
                .select("event_id").distinct().count())
        assert got == want
    finally:
        q.stop()


def test_enrich_with_customers_matches_batch_join(spark):
    from pyspark.sql import functions as F

    from distributed_system_mapreduce_spark.tables import load_table

    cust = load_table(spark, "customer", SF_DIR)
    stream = read_events_stream(spark, SF_DIR)
    q = run_stream_to_memory(
        enrich_with_customers(stream, cust), "enriched_stream")
    try:
        got = {
            (r["day"].date(), r["c_mktsegment"]):
                (r["n_purchases"], float(r["sum_value"]))
            for r in spark.table("enriched_stream").collect()
        }
        ev = load_table(spark, "events", SF_DIR)
        want = {
            (r["day"].date(), r["c_mktsegment"]):
                (r["n_purchases"], float(r["sum_value"]))
            for r in (
                ev.filter(F.col("event_type") == "purchase")
                .join(cust.select(F.col("c_custkey").alias("user_id"),
                                  "c_mktsegment"), "user_id")
                .groupBy(F.date_trunc("day", "ts").alias("day"),
                         "c_mktsegment")
                .agg(F.count("*").alias("n_purchases"),
                     F.sum(F.col("value").cast("decimal(18,6)"))
                     .cast("decimal(38,6)").alias("sum_value"))
            ).collect()
        }
        assert got == want
    finally:
        q.stop()


def test_stateful_sessionizer_matches_batch(spark):
    stream = read_events_stream(spark, SF_DIR)
    q = run_stream_to_memory(
        sessionize_stream(stream), "sess_stream", output_mode="update")
    try:
        got = {
            r["user_id"]: (r["n_sessions"], r["n_events"])
            for r in spark.table("sess_stream").collect()
        }
        want = {
            r["user_id"]: (r["n_sessions"], r["n_events"])
            for r in events_sessionize(spark, SF_DIR).collect()
        }
        assert got == want
    finally:
        q.stop()


def test_stream_to_filestore_sink(spark, tmp_path):
    """foreachBatch sink: the deduped stream lands in a FileStore
    dataset; row count matches distinct event ids."""
    from distributed_system_mapreduce_spark.sources.filestore import (
        FileStore,
    )
    from distributed_system_mapreduce_spark.streaming import (
        stream_to_filestore,
    )
    from distributed_system_mapreduce_spark.tables import load_table

    fs = FileStore(spark, str(tmp_path / "store"))
    stream = dedup_stream(read_events_stream(spark, SF_DIR))
    stream_to_filestore(stream, fs, "events_clean",
                        str(tmp_path / "ckpt"))
    got = fs.read("events_clean").count()
    want = (load_table(spark, "events", SF_DIR)
            .select("event_id").distinct().count())
    assert got == want
    assert "events_clean" in fs.store()


def test_stream_stream_join_matches_batch_self_join(spark):
    """Watermarked view->purchase stream-stream join == the same range
    self-join computed in batch (exact pair-set equality; availableNow
    drains everything, the 2-day watermark admits all pairs)."""
    from pyspark.sql import functions as F

    from distributed_system_mapreduce_spark.streaming.jobs import (
        view_purchase_join_stream,
    )
    from distributed_system_mapreduce_spark.tables import load_table

    stream = read_events_stream(spark, SF_DIR)
    q = run_stream_to_memory(
        view_purchase_join_stream(stream), "vpj_stream",
        output_mode="append")
    try:
        got = {
            (r["view_id"], r["purchase_id"])
            for r in spark.table("vpj_stream").collect()
        }
        ev = load_table(spark, "events", SF_DIR)
        v = (ev.filter(F.col("event_type") == "view")
             .select(F.col("event_id").alias("view_id"), "user_id",
                     F.col("ts").alias("view_ts")))
        p = (ev.filter(F.col("event_type") == "purchase")
             .select(F.col("event_id").alias("purchase_id"),
                     F.col("user_id").alias("p_user_id"),
                     F.col("ts").alias("purchase_ts")))
        want = {
            (r["view_id"], r["purchase_id"])
            for r in v.join(
                p,
                F.expr("user_id = p_user_id AND "
                       "purchase_ts >= view_ts AND "
                       "purchase_ts <= view_ts + INTERVAL 24 HOURS")
            ).collect()
        }
        assert got == want and len(got) > 0
    finally:
        q.stop()


def test_stream_restart_exactly_once(spark, tmp_path):
    """Kill the foreachBatch sink mid-stream (after it wrote but
    before the batch committed), restart from the same checkpoint, and
    prove exactly-once: the uncommitted batch's replay overwrites its
    own partial output, committed batches are not reprocessed, and the
    final dataset equals the input with no duplicates."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from distributed_system_mapreduce_spark.sources.filestore import (
        FileStore,
    )
    from distributed_system_mapreduce_spark.tables import load_table

    ev = load_table(spark, "events", SF_DIR).select(
        "event_id", "user_id", "event_type", "value")
    ev.repartition(3).write.mode("overwrite").parquet(
        str(tmp_path / "in"))
    fs = FileStore(spark, str(tmp_path / "store"))
    ckpt = str(tmp_path / "ckpt")

    import os

    def make_sink(crash_on_batch):
        def sink(batch_df, batch_id):
            # same idempotent layout as stream_to_filestore
            batch_df.write.mode("overwrite").parquet(
                os.path.join(fs._path("out"), f"batch_id={batch_id}"))
            if batch_id == crash_on_batch:
                raise RuntimeError("injected sink crash")
        return sink

    def start(sink):
        stream = (spark.readStream.schema(ev.schema)
                  .option("maxFilesPerTrigger", "1")
                  .parquet(str(tmp_path / "in")))
        return (stream.writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start())

    # run 1: batch 0 commits; batch 1 writes its partition, then dies
    q1 = start(make_sink(crash_on_batch=1))
    with pytest.raises(StreamingQueryException, match="injected"):
        q1.awaitTermination()

    # run 2: resumes from the checkpoint — batch 0 skipped, batch 1
    # replayed over its own partition, remaining batches processed
    q2 = start(make_sink(crash_on_batch=None))
    q2.awaitTermination()

    out = fs.read("out")
    assert out.count() == ev.count()
    assert (out.select("event_id").distinct().count()
            == ev.select("event_id").distinct().count())


def test_session_window_matches_custom_sessionizer(spark):
    """Native session_window must agree with BOTH sessionization
    paths: per-user session counts equal the applyInPandasWithState
    stream and the batch lag/gap twin (same 30-min gap)."""
    from distributed_system_mapreduce_spark.streaming import (
        session_window_counts,
    )

    stream = read_events_stream(spark, SF_DIR)
    q = run_stream_to_memory(
        session_window_counts(stream), "sw_stream")
    try:
        rows = spark.table("sw_stream").collect()
        got = {}
        for r in rows:
            got[r["user_id"]] = got.get(r["user_id"], 0) + 1
        want = {
            r["user_id"]: r["n_sessions"]
            for r in events_sessionize(spark, SF_DIR).collect()
        }
        assert got == want
        # per-session event counts also sum to each user's total
        per_user_events = {}
        for r in rows:
            per_user_events[r["user_id"]] = (
                per_user_events.get(r["user_id"], 0) + r["n_events"])
        want_events = {
            r["user_id"]: r["n_events"]
            for r in events_sessionize(spark, SF_DIR).collect()
        }
        assert per_user_events == want_events
    finally:
        q.stop()


def test_closed_sessions_with_event_time_timeout(spark, tmp_path):
    """sessionize_closed_stream must emit every closed session exactly
    once: sessions followed by later activity close inline; idle tail
    sessions close when their EVENT-TIME TIMEOUT fires as the
    watermark advances across micro-batches. Input is split into
    time-ordered weekly files (maxFilesPerTrigger=1) so the watermark
    actually moves between batches."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from distributed_system_mapreduce_spark.streaming.jobs import (
        EVENT_SCHEMA,
        SESSION_GAP_S,
        sessionize_closed_stream,
    )
    from distributed_system_mapreduce_spark.tables import load_table

    ev = load_table(spark, "events", SF_DIR)
    # weekly time-sliced files, written oldest-first so the file
    # source replays them in event-time order
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    src = tmp_path / "stream_in"
    src.mkdir()
    cur, idx = pd.Timestamp(lo).floor("D"), 0
    while cur <= pd.Timestamp(hi):
        nxt = cur + pd.Timedelta(days=7)
        part = ev.where(
            (F.col("ts") >= F.lit(cur.to_pydatetime()))
            & (F.col("ts") < F.lit(nxt.to_pydatetime())))
        pdf = part.toPandas()
        if len(pdf):
            # pyarrow must write timestamp[us] no-tz to match the
            # reader's TIMESTAMP_NTZ expectation
            pdf.to_parquet(src / f"wk{idx:03d}.parquet",
                           coerce_timestamps="us",
                           allow_truncated_timestamps=True)
        cur, idx = nxt, idx + 1
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    q = run_stream_to_memory(
        sessionize_closed_stream(stream), "closed_sessions",
        output_mode="append")
    try:
        got = [
            (r["user_id"], pd.Timestamp(r["session_start"]).value // 1000,
             pd.Timestamp(r["session_end"]).value // 1000, r["n_events"])
            for r in spark.table("closed_sessions").collect()
        ]
        # batch truth: per-user gap sessions
        w = Window.partitionBy("user_id").orderBy("ts")
        us = F.unix_micros(F.col("ts").cast("timestamp"))
        gap_new = (
            (us - F.lag(us, 1).over(w)) > SESSION_GAP_S * 1_000_000
        ).cast("long")
        sess = (
            ev.select("user_id", us.alias("us"),
                      F.coalesce(gap_new, F.lit(1)).alias("new_s"))
            .withColumn("sid", F.sum("new_s").over(
                Window.partitionBy("user_id").orderBy("us")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
            .groupBy("user_id", "sid")
            .agg(F.min("us").alias("s"), F.max("us").alias("e"),
                 F.count("*").alias("n"))
        )
        truth = {(r["user_id"], r["s"], r["e"], r["n"])
                 for r in sess.collect()}
        last_per_user = {
            (r["user_id"], r["s"], r["e"], r["n"])
            for r in sess.withColumn(
                "rk", F.row_number().over(
                    Window.partitionBy("user_id").orderBy(F.desc("e"))))
            .where("rk = 1").collect()
        }
        got_set = set(got)
        assert len(got) == len(got_set)  # exactly-once
        assert got_set <= truth  # every emission is a real session
        # all non-final sessions MUST have been emitted (closed by the
        # next session's arrival, batching-independent)
        assert truth - last_per_user <= got_set
        # and the event-time timeout must have fired for at least some
        # idle tail sessions (weekly batches push the watermark far
        # past most users' last activity)
        assert got_set & last_per_user, "no timeout-closed sessions"
    finally:
        q.stop()


def test_ingest_dedup_stream(spark, tmp_path):
    """Streaming ingest dedup: incoming docs probe the standing LSH
    index batch by batch; index-flagged docs form a superset of the
    corpus-only truth (the index grows as batches land), every verdict
    is backed by a real band collision, and every incoming doc gets
    exactly one verdict."""
    from pyspark.sql import functions as F

    from distributed_system_mapreduce_spark.operators.dedup import (
        bands_from_docs,
    )
    from distributed_system_mapreduce_spark.sources.filestore import (
        FileStore,
    )
    from distributed_system_mapreduce_spark.streaming import (
        build_dedup_index,
        ingest_dedup_stream,
    )
    from distributed_system_mapreduce_spark.tables import load_table

    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    incoming = docs.where(F.col("doc_id") % 10 == 0)
    incoming.repartition(3).write.mode("overwrite").parquet(
        str(tmp_path / "in"))
    fs = FileStore(spark, str(tmp_path / "store"))
    build_dedup_index(corpus, fs, "idx")

    def stream():
        return (spark.readStream.schema(incoming.schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(str(tmp_path / "in")))

    # run 1 crashes AFTER batch 1's sink wrote verdicts AND appended
    # its bands to the index — the replay must probe only batch_id <
    # current (else every doc would self-match its own failed write)
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    crashed = {"n": 0}

    # the sink is internal to ingest_dedup_stream; inject the crash by
    # wrapping the shared foreachBatch runner for the first run
    import distributed_system_mapreduce_spark.streaming.jobs as J

    orig_runner = J._run_foreach_batch

    def crash_runner(df, sink, ckpt):
        def wrapped(batch_df, batch_id):
            sink(batch_df, batch_id)
            if batch_id == 1 and crashed["n"] == 0:
                crashed["n"] = 1
                raise RuntimeError("injected sink crash")
        return orig_runner(df, wrapped, ckpt)

    J._run_foreach_batch = crash_runner
    try:
        with _pytest.raises(StreamingQueryException, match="injected"):
            ingest_dedup_stream(stream(), fs, "idx", "verdicts",
                                str(tmp_path / "ckpt"))
    finally:
        J._run_foreach_batch = orig_runner

    # run 2: resume from the checkpoint — batch 1 replays over its own
    # verdict and index partitions
    ingest_dedup_stream(stream(), fs, "idx", "verdicts",
                        str(tmp_path / "ckpt"))

    out = fs.read("verdicts")
    # the replay must not have produced self-matches
    assert out.where(F.col("best_match") == F.col("doc_id")).count() == 0
    n_in = incoming.count()
    assert out.count() == n_in
    assert out.select("doc_id").distinct().count() == n_in

    # corpus-only truth: every doc colliding with the STANDING index
    # must be flagged (the stream may flag more — the index grew)
    nb, ib = bands_from_docs(incoming).alias("n"), \
        bands_from_docs(corpus).alias("i")
    truth = {
        r["doc_id"]
        for r in nb.join(ib, ["band", "sig"])
        .select(F.col("n.doc_id").alias("doc_id")).distinct().collect()
    }
    flagged = {r["doc_id"] for r in
               out.where(F.col("n_matches") > 0).collect()}
    assert truth <= flagged

    # every reported match is a real collision in corpus + incoming
    allb = bands_from_docs(docs).alias("i")
    real = {
        (r["a"], r["b"])
        for r in nb.join(allb, ["band", "sig"])
        .select(F.col("n.doc_id").alias("a"),
                F.col("i.doc_id").alias("b")).distinct().collect()
    }
    for r in out.where(F.col("best_match").isNotNull()).collect():
        assert (r["doc_id"], r["best_match"]) in real


def test_anomaly_stream_matches_batch(spark):
    """Online anomaly scoring must agree EXACTLY with the batch
    events_anomaly twin when the broadcast baseline covers the same
    history (identical integer-moment math on both paths)."""
    from distributed_system_mapreduce_spark.registry import QUERIES
    from distributed_system_mapreduce_spark.streaming import (
        anomaly_baseline,
        anomaly_stream,
        read_events_stream,
        run_stream_to_memory,
    )
    from distributed_system_mapreduce_spark.tables import load_table

    ev = load_table(spark, "events", SF_DIR)
    base = anomaly_baseline(ev)
    scored = anomaly_stream(read_events_stream(spark, SF_DIR), base)
    run_stream_to_memory(scored, "anomaly_out", output_mode="append")

    got = {
        (r["day"], r["event_type"]): (r["n_events"], r["z"],
                                      r["is_anomaly"])
        for r in spark.table("anomaly_out").collect()
    }
    # append mode only emits windows the watermark has passed: the
    # trailing days stay buffered (they'd emit on the next batch in a
    # live run), so compare the finalized horizon
    import datetime

    batch = QUERIES["events_anomaly"](spark, SF_DIR).collect()
    cutoff = max(r["day"] for r in batch) - datetime.timedelta(days=3)
    want = {
        (r["day"], r["event_type"]): (r["n_events"], r["z"],
                                      r["is_anomaly"])
        for r in batch if r["day"] <= cutoff
    }
    got = {k: v for k, v in got.items() if k[0] <= cutoff}
    assert got == want and len(got) > 0


def test_first_seen_stream_emits_each_user_once_with_true_first_touch(
        spark, tmp_path):
    """first_seen_stream must emit exactly one row per user carrying
    the user's true first event time when micro-batches replay in
    event-time order (weekly files, maxFilesPerTrigger=1) — the
    streaming twin of user_growth's first-day aggregation."""
    import pandas as pd
    from pyspark.sql import functions as F

    from distributed_system_mapreduce_spark.streaming.jobs import (
        EVENT_SCHEMA,
        first_seen_stream,
    )
    from distributed_system_mapreduce_spark.tables import load_table

    ev = load_table(spark, "events", SF_DIR)
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    src = tmp_path / "stream_in"
    src.mkdir()
    cur, idx = pd.Timestamp(lo).floor("D"), 0
    while cur <= pd.Timestamp(hi):
        nxt = cur + pd.Timedelta(days=7)
        pdf = ev.where(
            (F.col("ts") >= F.lit(cur.to_pydatetime()))
            & (F.col("ts") < F.lit(nxt.to_pydatetime()))).toPandas()
        if len(pdf):
            pdf.to_parquet(src / f"wk{idx:03d}.parquet",
                           coerce_timestamps="us",
                           allow_truncated_timestamps=True)
        cur, idx = nxt, idx + 1
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    q = run_stream_to_memory(first_seen_stream(stream), "first_seen",
                             output_mode="append")
    try:
        rows = spark.table("first_seen").collect()
        got = {r["user_id"]: pd.Timestamp(r["first_ts"]).value // 1000
               for r in rows}
        assert len(rows) == len(got)  # exactly one emission per user
        truth = {
            r["user_id"]: r["m"]
            for r in ev.groupBy("user_id").agg(
                F.min(F.unix_micros(F.col("ts").cast("timestamp")))
                .alias("m")).collect()
        }
        assert got == truth
    finally:
        q.stop()


def test_left_outer_join_emits_abandoned_views(spark, tmp_path):
    """view_purchase_left_join_stream: matched pairs equal the batch
    range join; null-matched (abandoned) rows are emitted exactly
    once, only for truly abandoned views, and COMPLETELY for every
    view old enough that the final watermark provably closed it.
    Weekly time-sliced files (maxFilesPerTrigger=1) advance the
    watermark between micro-batches so outer state actually evicts."""
    import pandas as pd
    from pyspark.sql import functions as F

    from distributed_system_mapreduce_spark.streaming.jobs import (
        EVENT_SCHEMA,
        view_purchase_left_join_stream,
    )
    from distributed_system_mapreduce_spark.tables import load_table

    ev = load_table(spark, "events", SF_DIR)
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    src = tmp_path / "stream_in"
    src.mkdir()
    cur, idx = pd.Timestamp(lo).floor("D"), 0
    file_maxes = []
    while cur <= pd.Timestamp(hi):
        nxt = cur + pd.Timedelta(days=7)
        pdf = ev.where(
            (F.col("ts") >= F.lit(cur.to_pydatetime()))
            & (F.col("ts") < F.lit(nxt.to_pydatetime()))).toPandas()
        if len(pdf):
            pdf.to_parquet(src / f"wk{idx:03d}.parquet",
                           coerce_timestamps="us",
                           allow_truncated_timestamps=True)
            file_maxes.append(pdf["ts"].max())
        cur, idx = nxt, idx + 1
    assert len(file_maxes) >= 3
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    q = run_stream_to_memory(
        view_purchase_left_join_stream(stream), "vplj_stream",
        output_mode="append")
    try:
        rows = spark.table("vplj_stream").collect()
        got_pairs = {(r["view_id"], r["purchase_id"])
                     for r in rows if r["purchase_id"] is not None}
        got_abandoned = [r["view_id"] for r in rows
                         if r["purchase_id"] is None]

        v = (ev.filter(F.col("event_type") == "view")
             .select(F.col("event_id").alias("view_id"), "user_id",
                     F.col("ts").alias("view_ts")))
        p = (ev.filter(F.col("event_type") == "purchase")
             .select(F.col("event_id").alias("purchase_id"),
                     F.col("user_id").alias("p_user_id"),
                     F.col("ts").alias("purchase_ts")))
        matched = v.join(
            p,
            F.expr("user_id = p_user_id AND "
                   "purchase_ts >= view_ts AND "
                   "purchase_ts <= view_ts + INTERVAL 24 HOURS"))
        want_pairs = {(r["view_id"], r["purchase_id"])
                      for r in matched.collect()}
        assert got_pairs == want_pairs and got_pairs

        want_abandoned = {
            r["view_id"]
            for r in v.join(matched.select("view_id").distinct(),
                            "view_id", "left_anti").collect()
        }
        # exactly-once, and never a false abandonment verdict
        assert len(got_abandoned) == len(set(got_abandoned))
        assert set(got_abandoned) <= want_abandoned
        # completeness on the provably-closed horizon: the watermark
        # reached at least (second-to-last file's max ts - 2 days);
        # every abandoned view whose 24h lookback closed before that
        # (minus 1h slack) must have been emitted
        horizon = (pd.Timestamp(file_maxes[-2])
                   - pd.Timedelta(days=2) - pd.Timedelta(hours=24)
                   - pd.Timedelta(hours=1)).to_pydatetime()
        want_closed = {
            r["view_id"]
            for r in v.filter(F.col("view_ts") < F.lit(horizon))
            .join(matched.select("view_id").distinct(),
                  "view_id", "left_anti").collect()
        }
        assert want_closed, "horizon left no closed views to check"
        assert want_closed <= set(got_abandoned)
    finally:
        q.stop()


def test_cdc_stream_materializes_current_snapshot(spark, tmp_path):
    """cdc_stream_to_filestore folded over time-ordered weekly
    micro-batches leaves the keyed FileStore holding EXACTLY the
    batch cdc_apply snapshot (same users, values, last_ts): upserts
    land, tombstoned users are absent, and per-batch work went
    through merge()'s bucket-pruned rewrite."""
    import pandas as pd
    from pyspark.sql import functions as F

    from distributed_system_mapreduce_spark.operators.events import (
        cdc_apply,
    )
    from distributed_system_mapreduce_spark.sources.filestore import (
        FileStore,
    )
    from distributed_system_mapreduce_spark.streaming.jobs import (
        EVENT_SCHEMA,
        cdc_stream_to_filestore,
    )
    from distributed_system_mapreduce_spark.tables import load_table

    ev = load_table(spark, "events", SF_DIR)
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    src = tmp_path / "stream_in"
    src.mkdir()
    cur, idx = pd.Timestamp(lo).floor("D"), 0
    while cur <= pd.Timestamp(hi):
        nxt = cur + pd.Timedelta(days=7)
        pdf = ev.where(
            (F.col("ts") >= F.lit(cur.to_pydatetime()))
            & (F.col("ts") < F.lit(nxt.to_pydatetime()))).toPandas()
        if len(pdf):
            pdf.to_parquet(src / f"wk{idx:03d}.parquet",
                           coerce_timestamps="us",
                           allow_truncated_timestamps=True)
        cur, idx = nxt, idx + 1

    fs = FileStore(spark, str(tmp_path / "store"))
    empty = spark.createDataFrame(
        [], "user_id long, current_value double, last_ts timestamp")
    fs.write_keyed(empty, "user_state", "user_id", n_buckets=8)

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    cdc_stream_to_filestore(stream, fs, "user_state",
                            str(tmp_path / "ckpt"))

    got = {
        r["user_id"]: (r["current_value"], r["last_ts"])
        for r in fs.read("user_state")
        .select("user_id", "current_value", "last_ts").collect()
    }
    want = {
        r["user_id"]: (r["current_value"], r["last_ts"])
        for r in cdc_apply(spark, SF_DIR)
        .select("user_id", "current_value", "last_ts").collect()
    }
    assert got == want and got


def test_attribution_counts_stream_chained_stateful(spark):
    """Stream-stream join FOLLOWED BY windowed aggregation (two
    stateful operators chained): per purchase, attributed-view counts
    per day. Append mode only emits windows the final watermark
    (max ts - 2 days) has proven complete, so the check is two-sided:
    every emitted row must equal the batch twin, and every batch row
    whose day closed before the final watermark MUST have emitted."""
    import datetime

    from pyspark.sql import functions as F

    from distributed_system_mapreduce_spark.streaming import (
        attribution_counts_stream,
        read_events_stream,
    )
    from distributed_system_mapreduce_spark.tables import load_table

    stream = read_events_stream(spark, SF_DIR)
    q = run_stream_to_memory(
        attribution_counts_stream(stream), "attr_stream",
        output_mode="append")
    try:
        got = {
            (r["day"], r["purchase_id"]): r["n_views"]
            for r in spark.table("attr_stream").collect()
        }
        ev = load_table(spark, "events", SF_DIR)
        v = (ev.filter(F.col("event_type") == "view")
             .select("user_id", F.col("ts").alias("view_ts")))
        p = (ev.filter(F.col("event_type") == "purchase")
             .select(F.col("event_id").alias("purchase_id"),
                     F.col("user_id").alias("p_user_id"),
                     F.col("ts").alias("purchase_ts")))
        want = {
            (r["day"], r["purchase_id"]): r["n_views"]
            for r in (
                v.join(p, F.expr(
                    "user_id = p_user_id AND "
                    "purchase_ts >= view_ts AND "
                    "purchase_ts <= view_ts + INTERVAL 24 HOURS"))
                .groupBy(
                    F.date_trunc("day", "purchase_ts").alias("day"),
                    "purchase_id")
                .agg(F.count(F.lit(1)).alias("n_views"))
            ).collect()
        }
        assert got.items() <= want.items()
        final_wm = (
            ev.agg(F.max("ts")).collect()[0][0]
            - datetime.timedelta(days=2)
        )
        finalized = {
            k: n for k, n in want.items()
            if k[0] + datetime.timedelta(days=1) < final_wm
        }
        assert len(finalized) > 0
        assert finalized.items() <= got.items()
    finally:
        q.stop()


def test_snapshot_sink_stream_versions_are_exactly_once(spark, tmp_path):
    """Each micro-batch commits as one tagged snapshot version;
    draining the same source again over the same checkpoint adds
    nothing; a replayed committed batch is skipped by its tag; a
    crash-before-publish replay (orphan data dir already on disk)
    commits exactly one new version and the orphan stays invisible."""
    import pandas as pd

    from distributed_system_mapreduce_spark.sources.filestore import (
        FileStore,
    )
    from distributed_system_mapreduce_spark.streaming.jobs import (
        snapshot_sink_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        pd.DataFrame({"k": list(range(i * 10, i * 10 + 5))}).to_parquet(
            src / f"f{i}.parquet")
    fs = FileStore(spark, str(tmp_path / "store"))
    stream = (
        spark.readStream.schema("k long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    ckpt = str(tmp_path / "ckpt")
    snapshot_sink_stream(stream, fs, "ingest", ckpt)
    vs = fs.versions("ingest")
    assert len(vs) == 3
    got = sorted(r["k"] for r in fs.read_snapshot("ingest").collect())
    assert len(got) == 15
    # earlier versions are strict prefixes of the ingest history
    assert len(fs.read_snapshot("ingest", vs[0]).collect()) == 5
    # re-drain over the same checkpoint: nothing new
    stream2 = (
        spark.readStream.schema("k long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    snapshot_sink_stream(stream2, fs, "ingest", ckpt)
    assert fs.versions("ingest") == vs
    # the committed batches are all tagged (the sink's replay guard)
    bdf = spark.range(0, 5).withColumnRenamed("id", "k")
    assert {"batch-0", "batch-1", "batch-2"} <= fs.snapshot_tags("ingest")
    before = fs.versions("ingest")
    # crash-before-publish replay: orphan dir exists, tag absent ->
    # exactly one new version; orphan rows never appear
    fs._write_data_dir(spark.range(900, 950).withColumnRenamed(
        "id", "k"), "ingest", 77)
    fs.append_snapshot(bdf, "ingest", tag="batch-99")
    assert len(fs.versions("ingest")) == len(before) + 1
    got2 = sorted(r["k"] for r in fs.read_snapshot("ingest").collect())
    assert len(got2) == 20 and 900 not in got2


def test_kmv_stream_state_equals_batch_sketch(spark, tmp_path):
    """The streaming bottom-K state, drained over the whole corpus in
    3 micro-batches, must equal the batch kmv_distinct sketch EXACTLY
    per source — same kept count, same kth hash, same estimate (the
    mergeable-summary property, not an approximation). The final row
    per source is selected by monotonicity: n_kept only grows, and
    once saturated the kth hash only shrinks."""
    from pyspark.sql import functions as F

    from distributed_system_mapreduce_spark.operators.probabilistic import (
        kmv_distinct,
    )
    from distributed_system_mapreduce_spark.streaming.jobs import (
        kmv_distinct_stream,
    )
    from distributed_system_mapreduce_spark.tables import load_table

    docs = load_table(spark, "documents", SF_DIR).select(
        "doc_id", "text", "source")
    docs.repartition(3).write.mode("overwrite").parquet(
        str(tmp_path / "din"))
    stream = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "din"))
    )
    q = run_stream_to_memory(
        kmv_distinct_stream(stream), "kmv_stream",
        output_mode="append")
    try:
        rows = spark.table("kmv_stream").collect()
        final = {}
        for r in rows:
            cur = final.get(r["source"])
            if (cur is None or r["n_kept"] > cur["n_kept"]
                    or (r["n_kept"] == cur["n_kept"]
                        and r["kth_hash"] < cur["kth_hash"])):
                final[r["source"]] = r
        want = {r["source"]: r for r in kmv_distinct(
            spark, SF_DIR).collect()}
        assert set(final) == set(want)
        for src, w in want.items():
            g = final[src]
            assert g["n_kept"] == w["n_kept"], src
            assert g["kth_hash"] == w["kth_hash"], src
            assert g["est_distinct"] == w["est_distinct"], src
    finally:
        q.stop()


def test_daily_distinct_users_stream_chained_aggs(spark):
    """Chained stateful aggregations (dedup layer, then count layer)
    give EXACT daily distinct users in append mode: emitted closed
    days must match the batch countDistinct, and every day the final
    watermark closed must have emitted."""
    import datetime

    from pyspark.sql import functions as F

    from distributed_system_mapreduce_spark.streaming.jobs import (
        daily_distinct_users_stream,
    )
    from distributed_system_mapreduce_spark.tables import load_table

    stream = read_events_stream(spark, SF_DIR)
    q = run_stream_to_memory(
        daily_distinct_users_stream(stream), "ddu_stream",
        output_mode="append")
    try:
        got = {
            (r["day"], r["event_type"]): r["n_users"]
            for r in spark.table("ddu_stream").collect()
        }
        ev = load_table(spark, "events", SF_DIR)
        want = {
            (r["day"], r["event_type"]): r["n_users"]
            for r in (
                ev.groupBy(
                    F.window(F.col("ts").cast("timestamp"), "1 day")
                    .alias("w"), "event_type")
                .agg(F.countDistinct("user_id").cast("long")
                     .alias("n_users"))
                .select(F.col("w.start").alias("day"), "event_type",
                        "n_users")
            ).collect()
        }
        assert got.items() <= want.items()
        final_wm = (ev.agg(F.max("ts")).collect()[0][0]
                    - datetime.timedelta(days=2))
        finalized = {
            k: v for k, v in want.items()
            if k[0] + datetime.timedelta(days=1) < final_wm
        }
        assert len(finalized) > 0
        assert finalized.items() <= got.items()
    finally:
        q.stop()


def test_throttle_stream_matches_batch_fold(spark):
    """Streaming per-user rate limiter (applyInPandasWithState, one
    timestamp + two counters of state per user) drained with
    availableNow must reproduce the batch events_throttle fold
    exactly — update mode emits per-batch rows, so take each user's
    LAST emission."""
    from pyspark.sql import functions as F

    from distributed_system_mapreduce_spark.registry import QUERIES
    from distributed_system_mapreduce_spark.streaming import (
        throttle_stream,
    )

    stream = read_events_stream(spark, SF_DIR)
    q = run_stream_to_memory(
        throttle_stream(stream), "throttle_stream", output_mode="update")
    try:
        got = {
            r["user_id"]: (r["n_events"], r["n_kept"])
            for r in (
                spark.table("throttle_stream")
                .groupBy("user_id")
                .agg(F.max("n_events").alias("n_events"),
                     F.max("n_kept").alias("n_kept"))
                .collect()
            )
        }
        want = {
            r["user_id"]: (r["n_events"], r["n_kept"])
            for r in QUERIES["events_throttle"](spark, SF_DIR).collect()
        }
        assert got == want and len(got) > 0
    finally:
        q.stop()


def test_lateness_stream_matches_batch_census(spark):
    """Streaming lateness monitor drained with availableNow must equal
    the batch late_arrival_census on every column (same event_id
    arrival order)."""
    from pyspark.sql import functions as F

    from distributed_system_mapreduce_spark.registry import QUERIES
    from distributed_system_mapreduce_spark.streaming import (
        lateness_stream,
    )

    stream = read_events_stream(spark, SF_DIR)
    q = run_stream_to_memory(
        lateness_stream(stream), "lateness_stream", output_mode="update")
    try:
        got = {
            r["event_type"]: (r["n_events"], r["n_late"], r["max_late_s"])
            for r in (
                spark.table("lateness_stream")
                .groupBy("event_type")
                .agg(F.max("n_events").alias("n_events"),
                     F.max("n_late").alias("n_late"),
                     F.max("max_late_s").alias("max_late_s"))
                .collect()
            )
        }
        want = {
            r["event_type"]: (r["n_events"], r["n_late"], r["max_late_s"])
            for r in QUERIES["late_arrival_census"](spark, SF_DIR).collect()
        }
        assert got == want and len(got) > 0
    finally:
        q.stop()


def test_lm_quality_stream_matches_batch_twin(spark, tmp_path):
    """Streaming ingest quality gate: micro-batched docs scored
    against the FROZEN corpus char-bigram model must reproduce the
    batch lm_score EXACTLY (same deterministic-ln math), every doc
    gets exactly one verdict, and the keep flag honors the entropy
    cutoff."""
    from pyspark.sql import functions as F

    from distributed_system_mapreduce_spark.operators.curation import (
        lm_model,
        lm_score,
    )
    from distributed_system_mapreduce_spark.sources.filestore import (
        FileStore,
    )
    from distributed_system_mapreduce_spark.streaming import (
        lm_quality_stream,
    )
    from distributed_system_mapreduce_spark.tables import load_table

    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    incoming = docs.where(F.col("doc_id") % 10 == 0)
    incoming.repartition(3).write.mode("overwrite").parquet(
        str(tmp_path / "in"))
    model = lm_model(corpus)
    fs = FileStore(spark, str(tmp_path / "store"))

    stream = (spark.readStream.schema(incoming.schema)
              .option("maxFilesPerTrigger", "1")
              .parquet(str(tmp_path / "in")))
    cutoff = 4.5
    lm_quality_stream(stream, model, fs, "verdicts",
                      str(tmp_path / "ckpt"), max_entropy=cutoff)

    got = {r["doc_id"]: r for r in fs.read("verdicts").collect()}
    want = {r["doc_id"]: r
            for r in lm_score(incoming, model).collect()}
    assert set(got) == set(want)          # one verdict per doc
    for did, w in want.items():
        g = got[did]
        assert g["n_bigrams"] == w["n_bigrams"], did
        assert g["cross_entropy"] == w["cross_entropy"], did  # EXACT
        assert g["keep"] == (w["cross_entropy"] <= cutoff), did


def test_lm_quality_stream_exactly_once_across_crash(spark, tmp_path):
    """A crash after a batch's verdict write but before its commit
    must not duplicate or corrupt verdicts on replay: the per-batch
    partition overwrite + checkpoint pairing gives one verdict per
    doc, bitwise identical to an uncrashed run."""
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException
    from pyspark.sql import functions as F

    import distributed_system_mapreduce_spark.streaming.jobs as J
    from distributed_system_mapreduce_spark.operators.curation import (
        lm_model,
        lm_score,
    )
    from distributed_system_mapreduce_spark.sources.filestore import (
        FileStore,
    )
    from distributed_system_mapreduce_spark.streaming import (
        lm_quality_stream,
    )
    from distributed_system_mapreduce_spark.tables import load_table

    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    incoming = docs.where(F.col("doc_id") % 10 == 0)
    incoming.repartition(3).write.mode("overwrite").parquet(
        str(tmp_path / "in"))
    model = lm_model(corpus)
    fs = FileStore(spark, str(tmp_path / "store"))

    def stream():
        return (spark.readStream.schema(incoming.schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(str(tmp_path / "in")))

    orig_runner = J._run_foreach_batch
    crashed = {"n": 0}

    def crash_runner(df, sink, ckpt):
        def wrapped(batch_df, batch_id):
            sink(batch_df, batch_id)  # verdicts land...
            if batch_id == 1 and crashed["n"] == 0:
                crashed["n"] = 1      # ...then the commit is lost
                raise RuntimeError("injected sink crash")
        return orig_runner(df, wrapped, ckpt)

    J._run_foreach_batch = crash_runner
    try:
        with _pytest.raises(StreamingQueryException, match="injected"):
            lm_quality_stream(stream(), model, fs, "verdicts",
                              str(tmp_path / "ckpt"), max_entropy=4.5)
    finally:
        J._run_foreach_batch = orig_runner

    lm_quality_stream(stream(), model, fs, "verdicts",
                      str(tmp_path / "ckpt"), max_entropy=4.5)

    out = {r["doc_id"]: r for r in fs.read("verdicts").collect()}
    want = {r["doc_id"]: r for r in lm_score(incoming, model).collect()}
    assert set(out) == set(want)  # one verdict per doc, none doubled
    for did, w in want.items():
        assert out[did]["cross_entropy"] == w["cross_entropy"], did


def test_drift_monitor_stream_matches_batch_twin(spark, tmp_path):
    """Streaming distribution-drift monitor: each micro-batch's JS
    divergence against the frozen corpus bucket distribution must
    equal the batch js_between EXACTLY (shared deterministic-ln +
    sorted-fold math), one summary row per batch."""
    from pyspark.sql import functions as F

    from distributed_system_mapreduce_spark.operators.curation import (
        js_between,
        token_bucket_counts,
    )
    from distributed_system_mapreduce_spark.sources.filestore import (
        FileStore,
    )
    from distributed_system_mapreduce_spark.streaming import (
        drift_monitor_stream,
    )
    from distributed_system_mapreduce_spark.tables import load_table

    docs = load_table(spark, "documents", SF_DIR).select(
        "doc_id", "text")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    incoming = docs.where(F.col("doc_id") % 10 == 0)
    incoming.repartition(3).write.mode("overwrite").parquet(
        str(tmp_path / "in"))
    model = token_bucket_counts(corpus)
    fs = FileStore(spark, str(tmp_path / "store"))

    stream = (spark.readStream.schema(incoming.schema)
              .option("maxFilesPerTrigger", "1")
              .parquet(str(tmp_path / "in")))
    drift_monitor_stream(stream, model, fs, "drift",
                         str(tmp_path / "ckpt"))

    rows = fs.read("drift").collect()
    assert len(rows) == 3                      # one row per batch
    # frozen side identical in every batch row
    assert len({r["q_tokens"] for r in rows}) == 1
    # whole-feed sanity: batch sizes sum to the incoming token count
    batch_total = sum(r["p_tokens"] for r in rows)
    twin_all = js_between(token_bucket_counts(incoming), model).collect()[0]
    assert batch_total == twin_all["p_tokens"]
    # EXACT per-batch agreement: recompute each batch's twin from the
    # same file split the stream consumed
    import glob

    files = sorted(glob.glob(str(tmp_path / "in" / "part-*")))
    assert len(files) == 3
    twin_js = set()
    for f in files:
        b = spark.read.parquet(f)
        twin_js.add(
            js_between(token_bucket_counts(b), model)
            .collect()[0]["js_divergence"])
    assert twin_js == {r["js_divergence"] for r in rows}


def test_compression_gate_stream_matches_batch_twin(spark, tmp_path):
    """Streaming DEFLATE gate: micro-batched docs scored with the
    shared zlib Arrow kernel must reproduce the batch
    compression_scores byte-for-byte (same z_bytes), one verdict per
    doc, keep honoring the [lo, hi] band."""
    from distributed_system_mapreduce_spark.operators.curation import (
        compression_scores,
    )
    from distributed_system_mapreduce_spark.sources.filestore import (
        FileStore,
    )
    from distributed_system_mapreduce_spark.streaming import (
        compression_gate_stream,
    )
    from distributed_system_mapreduce_spark.tables import load_table

    docs = load_table(spark, "documents", SF_DIR).select(
        "doc_id", "source", "text")
    docs.repartition(3).write.mode("overwrite").parquet(
        str(tmp_path / "in"))
    fs = FileStore(spark, str(tmp_path / "store"))
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", "1")
              .parquet(str(tmp_path / "in")))
    # band chosen FROM the batch twin so the gate provably fires both
    # ways: hi at the second-largest DISTINCT ratio guarantees >=1
    # keep (everything at or below hi) and >=1 reject (the max),
    # regardless of ties — a median hi fails if over half the corpus
    # ties at the median (ADVICE r5)
    want = {r["doc_id"]: r for r in compression_scores(docs).collect()}
    distinct = sorted({w["ratio"] for w in want.values()})
    assert len(distinct) > 1, \
        "degenerate corpus: all compression ratios identical"
    lo, hi = 0.0, distinct[-2]
    compression_gate_stream(stream, fs, "verdicts",
                            str(tmp_path / "ckpt"), lo=lo, hi=hi)

    got = {r["doc_id"]: r for r in fs.read("verdicts").collect()}
    assert set(got) == set(want)          # one verdict per doc
    assert any(not r["keep"] for r in got.values())
    assert any(r["keep"] for r in got.values())
    for did, w in want.items():
        g = got[did]
        assert g["z_bytes"] == w["z_bytes"], did   # byte-exact
        assert g["n_bytes"] == w["n_bytes"], did
        assert g["keep"] == (lo <= w["ratio"] <= hi), did


def test_drain_state_partitions_restores_conf_and_result(spark):
    """run_stream_to_memory(state_partitions=...) is a PHYSICAL knob:
    it must restore the session's shuffle-partition count after the
    drain (a leaked override would resize every later batch shuffle),
    and the drained result must be identical to the default-partition
    drain (r10: the stream-stream joins pass 8 to skip ~128
    state-store instantiations of fixed cost)."""
    from distributed_system_mapreduce_spark.streaming import (
        read_events_stream,
        run_stream_to_memory,
        view_purchase_join_stream,
    )
    from tests.conftest import SF_DIR

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    pairs = view_purchase_join_stream(read_events_stream(spark, SF_DIR))
    run_stream_to_memory(pairs, "drain_sp_test_a", output_mode="append",
                         state_partitions=4)
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    pairs2 = view_purchase_join_stream(read_events_stream(spark, SF_DIR))
    run_stream_to_memory(pairs2, "drain_sp_test_b", output_mode="append")
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    a = {tuple(r) for r in spark.table("drain_sp_test_a").collect()}
    b = {tuple(r) for r in spark.table("drain_sp_test_b").collect()}
    assert a == b and a
