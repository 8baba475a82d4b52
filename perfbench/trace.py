"""The traced run: spans around layer calls, Spark job groups, a
streaming listener, and the Spark event log joined back to the spans.

Spans are recorded from the benchmark's side only: ``Tracer.instrument``
wraps the public functions of the engine's modules at run time, so the
program itself is unchanged. Everything is kept in memory and written
out once at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import statistics
import sys
import threading
import time

PACKAGE = "distributed_system_mapreduce_spark"

# (module, attribute or Class.method, layer); each is a public entry
# point of that layer. FileStore._publish is the snapshot commit point,
# wrapped only to count compare-and-swap conflicts.
LAYER_CALLS = [
    ("tables", "load_table", "tables"),
    ("tables", "spread", "tables"),
    ("lineage", "cut", "lineage"),
    ("lineage", "cut_lazy", "lineage"),
    ("lineage", "cut_deep", "lineage"),
    ("engine.maple_juice", "MapleJuice.maple", "maple_juice"),
    ("engine.maple_juice", "MapleJuice.juice", "maple_juice"),
    ("engine.maple_juice", "MapleJuice.maple_exe", "maple_juice"),
    ("engine.maple_juice", "MapleJuice.juice_exe", "maple_juice"),
    ("streaming.jobs", "read_events_stream", "streaming"),
    ("streaming.jobs", "cdc_stream_to_filestore", "streaming"),
    ("streaming.jobs", "snapshot_sink_stream", "streaming"),
    ("streaming.jobs", "run_stream_to_memory", "streaming"),
    ("sources.filestore", "FileStore.write_keyed", "filestore"),
    ("sources.filestore", "FileStore.merge", "filestore"),
    ("sources.filestore", "FileStore.read", "filestore"),
    ("sources.filestore", "FileStore.append_snapshot", "filestore"),
    ("sources.filestore", "FileStore.read_snapshot", "filestore"),
    ("sources.filestore", "FileStore.snapshot_diff", "filestore"),
    ("sources.filestore", "FileStore.compact_snapshot", "filestore"),
    ("sources.filestore", "FileStore.vacuum_snapshots", "filestore"),
    ("sources.filestore", "FileStore.versions", "filestore"),
    ("sources.filestore", "FileStore._publish", "filestore"),
]

PROGRESS_MS = {"trigger_ms": "triggerExecution", "add_batch_ms": "addBatch",
               "wal_commit_ms": "walCommit",
               "commit_offsets_ms": "commitOffsets",
               "latest_offset_ms": "latestOffset",
               "query_planning_ms": "queryPlanning"}

PYTHON_SCOPES = ("Pandas", "Python", "Arrow")


def median(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0


class Tracer:
    """In-memory spans. A span is (id, name, layer, start, end, parent,
    op); ``op`` is the id of the operation span it belongs to."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.progress: list[dict] = []
        self.terminated: set[str] = set()
        self.publish = {"ok": 0, "conflict": 0}
        self.gc_marks: list[float] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.op: int | None = None

    # ------------------------------------------------------------ spans
    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        sid = next(self._ids)
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self.op
        rec = {"id": sid, "name": name, "layer": layer, "parent": parent,
               "op": self.op, "start": time.time(), "end": None}
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)

    @contextlib.contextmanager
    def operation(self, name: str):
        """An operation span whose id is also the Spark job group of
        every job the calling thread submits inside it."""
        sc = self.spark.sparkContext
        with self.span(name, "op") as rec:
            self.op = rec["id"]
            rec["op"] = rec["id"]
            sc.setJobGroup(str(rec["id"]), name, False)
            try:
                yield rec
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                self.op = None

    # ------------------------------------------------------ instrumenting
    def instrument(self) -> None:
        import importlib

        for mod_name, attr, layer in LAYER_CALLS:
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                setattr(cls, meth, self._wrap(getattr(cls, meth),
                                              f"{cls_name}.{meth}", layer))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, attr, layer)
            # modules bind these with `from ... import name`: rebind the
            # name wherever it refers to the original function
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith(PACKAGE):
                    for k, v in list(vars(m).items()):
                        if v is orig:
                            setattr(m, k, wrapped)
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                with tracer._lock:
                    tracer.progress.append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with tracer._lock:
                    tracer.terminated.add(str(event.runId))

        self.spark.streams.addListener(_Listener())

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name, layer):
                if name != "FileStore._publish":
                    return fn(*args, **kwargs)
                try:
                    out = fn(*args, **kwargs)
                except FileExistsError:
                    tracer.publish["conflict"] += 1
                    raise
                tracer.publish["ok"] += 1
                return out

        return wrapper

    def wait_streams(self, run_ids: list[str], timeout: float = 5.0) -> None:
        """Listener events arrive asynchronously; wait for every drain's
        termination event so its progress reports are all in."""
        end = time.time() + timeout
        while time.time() < end and not set(run_ids) <= self.terminated:
            time.sleep(0.05)

    def mark_gc(self) -> None:
        """Record the JVM's cumulative GC time, in seconds. In local mode
        the driver JVM is also the executor, so this covers both."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        self.gc_marks.append(sum(
            b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
            / 1e3)

    # ----------------------------------------------------- status tracker
    def job_counts(self, groups: list[str]) -> dict[str, int]:
        st = self.spark.sparkContext.statusTracker()
        jobs = stages = tasks = 0
        for g in groups:
            for jid in st.getJobIdsForGroup(g):
                jobs += 1
                info = st.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    stages += 1
                    si = st.getStageInfo(sid)
                    tasks += si.numTasks if si else 0
        return {"jobs": jobs, "stages": stages, "tasks": tasks}


# ------------------------------------------------------------ event log
def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and per-stage task totals from Spark's JSON event
    log (uncompressed, one event per line)."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind.endswith("JobStart"):
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit": ev["Submission Time"] / 1000.0,
                        "stages": ev.get("Stage IDs", [])}
                elif kind.endswith("StageCompleted"):
                    si = ev["Stage Info"]
                    scopes = " ".join(str(r.get("Scope", "")) + str(
                        r.get("Name", "")) for r in si.get("RDD Info", []))
                    st = stages.setdefault(si["Stage ID"], _new_stage())
                    st.update(
                        submit=si.get("Submission Time", 0) / 1000.0,
                        complete=si.get("Completion Time", 0) / 1000.0,
                        python=any(s in scopes for s in PYTHON_SCOPES))
                elif kind.endswith("TaskEnd"):
                    m = ev.get("Task Metrics") or {}
                    st = stages.setdefault(ev["Stage ID"], _new_stage())
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    st["shuffle_write_bytes"] += sw.get(
                        "Shuffle Bytes Written", 0)
                    st["shuffle_read_bytes"] += sr.get(
                        "Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    st["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                    st["spill_bytes"] += m.get(
                        "Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
    return {"jobs": jobs, "stages": stages}


def _new_stage() -> dict:
    return {"submit": 0.0, "complete": 0.0, "python": False, "run_s": 0.0,
            "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0, "fetch_wait_s": 0.0, "spill_bytes": 0}


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per layer: span time minus the part covered by its child spans."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        own = (s["end"] - s["start"]) - covered(
            [(max(a, s["start"]), min(b, s["end"]))
             for a, b in kids.get(s["id"], []) if b > s["start"]])
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return out


def op_stage_metrics(op: dict, log: dict) -> dict:
    """Event-log totals of one operation: its jobs are those in its job
    group or submitted inside its interval (operations run one at a
    time, so the interval is exact for streaming jobs, whose group is
    the stream's run id)."""
    jobs = [j for j in log["jobs"].values()
            if j["group"] == str(op["id"])
            or op["start"] <= j["submit"] <= op["end"]]
    sids = {s for j in jobs for s in j["stages"] if s in log["stages"]}
    st = [log["stages"][s] for s in sids]
    out = {k: sum(s[k] for s in st) for k in (
        "run_s", "cpu_s", "gc_s", "shuffle_write_bytes",
        "shuffle_read_bytes", "fetch_wait_s", "spill_bytes")}
    out["python_stages"] = sum(1 for s in st if s["python"])
    out["stage_union_s"] = covered(
        [(s["submit"], s["complete"]) for s in st if s["complete"]])
    out["eager_jobs"] = sum(
        1 for j in jobs if op["start"] <= j["submit"] <= op["built"])
    return out
