"""Per-layer metrics of a traced run.

Three sources, joined on the operation spans: the spans themselves
(calls into each module's public functions), Spark's status tracker
(jobs, stages and tasks per job group), and Spark's event log (task
metrics per stage). A layer the workload's own operations never call
is exercised by a probe on a small seeded input, so every metric has a
measured value on every workload: the MapleJuice phases always come
from direct calls (``_maple_juice_probe``), and a workload without a
feed gets two ingest rounds on a small probe feed.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import trace
from perfbench.trace import median

SCAN_TABLES = ("documents", "events")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed_op(tracer, name: str, fn):
    with tracer.operation(f"probe.{name}") as span:
        t = time.perf_counter()
        out = fn()
        span["elapsed"] = time.perf_counter() - t
        span["built"] = span["start"]
    return span, out


def _tables_probe(spark, tracer, scans: list[tuple[str, str]]) -> dict:
    from distributed_system_mapreduce_spark.tables import load_table

    total_s, tasks = 0.0, 0
    for name, d in scans:
        span, _ = _timed_op(tracer, f"scan.{name}",
                            lambda: _noop(load_table(spark, name, d)))
        total_s += span["elapsed"]
        tasks += tracer.job_counts([str(span["id"])])["tasks"]
    return {"tables.scan_s": total_s, "tables.scan_tasks": tasks}


def _maple_juice_probe(spark, tracer, data: str) -> tuple[dict, dict]:
    """Each MapleJuice phase materialised on its own: the map output is
    cached first, so the juice timings hold no map work."""
    from pyspark import StorageLevel

    from distributed_system_mapreduce_spark.engine.maple_juice import (
        MapleJuice,
    )
    from distributed_system_mapreduce_spark.operators import (
        engine_queries as eq,
    )
    from distributed_system_mapreduce_spark.registry import QUERIES
    from distributed_system_mapreduce_spark.tables import load_table, spread

    corpus, exe = os.path.join(data, "corpus"), os.path.join(data, "exe")
    mj = MapleJuice(spark)
    out, spans = {}, {}

    def phase(name, fn):
        spans[name], res = _timed_op(tracer, name, fn)
        out[f"maple_juice.{name}_s"] = spans[name]["elapsed"]
        return res

    docs = spread(load_table(spark, "documents", corpus).select("text"))
    n_in = docs.count()
    kv = mj.maple(docs, eq._wc_maple_combining).persist(
        StorageLevel.MEMORY_AND_DISK)
    n_kv = phase("maple", kv.count)
    schema = "word string, cnt long"
    phase("juice_hash", lambda: _noop(mj.juice(kv, eq._wc_juice,
                                               output_schema=schema)))
    phase("juice_range", lambda: _noop(mj.juice(
        kv, eq._wc_juice, partition="range", output_schema=schema)))
    exe_docs = spread(load_table(spark, "documents", exe).select("text"))
    kv_exe = mj.maple_exe(exe_docs, eq._WC_MAPLE_EXE).persist(
        StorageLevel.MEMORY_AND_DISK)
    phase("maple_exe", kv_exe.count)
    phase("juice_exe", lambda: _noop(mj.juice_exe(kv_exe, eq._WC_JUICE_EXE)))
    procs = exe_docs.rdd.getNumPartitions() + kv_exe.select(
        "key").distinct().count()
    times: dict[str, list[float]] = {"mr_wordcount": [], "wordcount": []}
    for q in times:
        span, _ = _timed_op(tracer, q,
                            lambda q=q: QUERIES[q](spark, corpus).toArrow())
        times[q].append(span["elapsed"])
    kv.unpersist()
    kv_exe.unpersist()
    mj.unpersist_cached()
    jobs = {k: tracer.job_counts([str(spans[k]["id"])])["jobs"]
            for k in ("juice_hash", "juice_range")}
    bases = {"maple_juice.kv_rows_per_input_row": (n_kv, n_in),
             "maple_juice.overhead_vs_declarative": (
                 median(times["mr_wordcount"]), median(times["wordcount"]))}
    out.update({
        "maple_juice.kv_rows_per_input_row": n_kv / max(1, n_in),
        "maple_juice.exe_procs": procs,
        "maple_juice.range_extra_jobs": jobs["juice_range"]
        - jobs["juice_hash"],
        "maple_juice.overhead_vs_declarative":
            median(times["mr_wordcount"]) / median(times["wordcount"]),
    })
    return out, spans, bases


def _du(root: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def _ingest_recs(spark, tracer, wl, recs, data: str, work: str):
    """The ingest operations the store metrics come from: the workload's
    own, or two rounds on the probe feed."""
    from perfbench.child import run_op
    from perfbench.workloads import Ingest

    if isinstance(wl, Ingest):
        return wl, recs
    probe = Ingest(spark, data, os.path.join(work, "probe"))
    probe.setup()
    out = []
    for r in range(len(probe.batches)):
        for op in probe.round(r):
            op.name = f"probe.{op.name}"
            out.append(run_op(spark, op, tracer))
            out[-1]["round"] = r
            out[-1].pop("out", None)
    return probe, out


def collect(spark, tracer, wl, a, recs, sampler, setup, rounds) -> dict:
    from perfbench.workloads import Ingest

    metrics: dict[str, float] = {}
    scans = [(t, os.path.join(a.data, "corpus")) for t in SCAN_TABLES
             if os.path.exists(os.path.join(a.data, "corpus", f"{t}.parquet"))]
    if not any(t == "events" for t, _ in scans):
        scans.append(("events", os.path.join(a.data, "feed", "b000")))
    metrics.update(_tables_probe(spark, tracer, scans))
    mj_metrics, mj_spans, bases = _maple_juice_probe(spark, tracer, a.data)
    metrics.update(mj_metrics)
    ing, ing_recs = _ingest_recs(spark, tracer, wl, recs, a.data, a.work)
    everything = recs if ing is wl else recs + ing_recs
    drains = [r for r in ing_recs if r.get("run_id")]
    tracer.wait_streams([r["run_id"] for r in drains])
    for r in everything:
        if "span" in r:
            groups = [str(r["span"])] + ([r["run_id"]] if r.get("run_id")
                                         else [])
            r.update(tracer.job_counts(groups))
    files, size = _du(ing.fs.root)
    bases.update({
        "filestore.bytes_per_user_byte": (size, ing.delivered_bytes),
        "filestore.commit_conflicts_per_commit": (
            tracer.publish["conflict"], tracer.publish["ok"])})
    metrics.update({
        "filestore.bytes_per_user_byte": size / max(1, ing.delivered_bytes),
        "filestore.files": files,
        "filestore.versions": len(ing.fs.versions("snap")),
        "filestore.commit_conflicts_per_commit":
            tracer.publish["conflict"] / max(1, tracer.publish["ok"]),
    })

    spark.stop()
    sampler.stop.set()
    sampler.join(timeout=5)
    log = trace.read_event_log(a.event_log)
    spans = {s["id"]: s for s in tracer.spans}
    for r in everything:
        if "span" in r:
            r.update(trace.op_stage_metrics(spans[r["span"]], log))
            r["driver_gap_s"] = r["latency"] - r["stage_union_s"]
    metrics["maple_juice.shuffle_bytes"] = trace.op_stage_metrics(
        mj_spans["juice_hash"], log)["shuffle_write_bytes"]

    # per-operation metrics describe the warm rounds, as wall_s does
    main = [r for r in recs if "span" in r and r["round"] > 0]

    def per_op(key, agg=median):
        return agg([r[key] for r in main if key in r]) if main else 0.0

    def mean(xs):
        xs = list(xs)
        return statistics.fmean(xs) if xs else 0.0

    metrics.update({
        "session.get_spark_s": setup["get_spark_s"],
        "session.worker_warm_s": setup["worker_warm_s"],
        "session.peak_rss_mb": sampler.peak / 2**20,
        "query.build_s": per_op("build_s"),
        "query.exec_s": per_op("exec_s"),
        "query.plan_ms": per_op("plan_ms"),
        "query.driver_gap_s": per_op("driver_gap_s"),
        "query.executor_run_s": per_op("run_s"),
        "query.executor_cpu_s": per_op("cpu_s"),
        # JVM GC time over the warm rounds, per operation
        "query.gc_s": (tracer.gc_marks[-1] - tracer.gc_marks[1])
        / max(1, len(main)),
        "lineage.eager_jobs": per_op("eager_jobs", mean),
        "lineage.persisted_rdds_after": per_op("persisted_after", mean),
        "trace.wall_s": median(rounds[1:]),
    })
    for key in ("jobs", "stages", "tasks", "shuffle_write_bytes",
                "shuffle_read_bytes", "spill_bytes", "python_stages"):
        metrics[f"query.{key}"] = per_op(key, mean)

    # streaming: progress reports of each drain's run
    by_run: dict[str, list[dict]] = {}
    for p in tracer.progress:
        by_run.setdefault(p.get("runId"), []).append(p)
    progress = [p for r in drains for p in by_run.get(r["run_id"], [])]
    for name, key in trace.PROGRESS_MS.items():
        metrics[f"streaming.{name}"] = median(
            p.get("durationMs", {}).get(key) for p in progress)
    delivered = sum(_batch_rows(ing, r["round"]) for r in drains)
    bases["streaming.source_rows_read_per_row"] = (
        sum(p.get("numInputRows", 0) for p in progress), delivered)
    metrics.update({
        "streaming.drain_s": median(r["latency"] for r in drains),
        "streaming.batches_per_drain": mean(
            sum(1 for p in by_run.get(r["run_id"], [])
                if p.get("numInputRows", 0) > 0) for r in drains),
        "streaming.state_rows_total": mean(
            sum(s.get("numRowsTotal", 0) for s in
                (by_run.get(r["run_id"]) or [{}])[-1].get(
                    "stateOperators", [])) for r in drains),
        "streaming.source_rows_read_per_row": sum(
            p.get("numInputRows", 0) for p in progress) / max(1, delivered),
    })
    durations: dict[str, list[float]] = {}
    for s in tracer.spans:
        durations.setdefault(s["name"], []).append(s["end"] - s["start"])
    for metric, call in (("merge_s", "merge"),
                         ("append_snapshot_s", "append_snapshot"),
                         ("read_snapshot_s", "read_snapshot"),
                         ("snapshot_diff_s", "snapshot_diff"),
                         ("compact_snapshot_s", "compact_snapshot"),
                         ("vacuum_s", "vacuum_snapshots")):
        metrics[f"filestore.{metric}"] = median(
            durations.get(f"FileStore.{call}", []))
    return {"layers": metrics, "ratio_bases": bases, "probe_ops": ing_recs if ing is not wl else [],
            "self_time_s": trace.self_times(tracer.spans),
            "spans": tracer.spans, "ingest_is_probe": not isinstance(
                wl, Ingest)}


def _batch_rows(ing, r: int) -> int:
    import pyarrow.parquet as pq

    return pq.read_metadata(ing.batches[r]).num_rows
