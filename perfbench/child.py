"""One measured process: set up a fresh Spark session, run a workload
closed-loop for a fixed time, then check every output.

Started by ``run.py`` with the repository root on ``PYTHONPATH``; writes
one JSON result file. ``--setup-only`` stops after set-up, so the parent
can take several set-up samples per run.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import threading
import time


def _drop_persisted(spark) -> None:
    """Release leftover caches between operations (outside the timed
    region), so no operation is billed for an earlier one's blocks."""
    spark.catalog.clearCache()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        it.next()._2().unpersist(True)


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _plan_ms(df) -> float:
    """Analysis + optimization + planning time of a DataFrame's query."""
    jdf = getattr(df, "_jdf", None)
    if jdf is None:
        return 0.0
    it = jdf.queryExecution().tracker().phases().iterator()
    total = 0.0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total


def run_op(spark, op, tracer=None) -> dict:
    rec = {"name": op.name, "kind": op.kind, "error": None}
    ctx = tracer.operation(op.name) if tracer else contextlib.nullcontext()
    t0 = time.perf_counter()
    try:
        with ctx as span:
            built = op.build()
            t1 = time.perf_counter()
            out = op.execute(built)
            t2 = time.perf_counter()
        rec.update(latency=t2 - t0, build_s=t1 - t0, exec_s=t2 - t1)
        rec["out"] = out
        if tracer:
            span["built"] = span["start"] + (t1 - t0)
            rec["span"] = span["id"]
            rec["run_id"] = str(built.runId) if hasattr(built, "runId") \
                else None
            rec["plan_ms"] = _plan_ms(built)
            rec["persisted_after"] = _persisted(spark)
    except Exception as exc:  # a failed operation is counted, not fatal
        rec.update(latency=time.perf_counter() - t0,
                   error=f"{type(exc).__name__}: {exc}"[:300])
    _drop_persisted(spark)
    return rec


def check_ops(ops: list, recs: list[dict]) -> None:
    from perfbench import check

    for op, rec in zip(ops, recs):
        if rec["error"] is None and op.expect is not None:
            try:
                rec["error"] = check.mismatch(op.project(rec["out"]),
                                              op.expect())
            except Exception as exc:  # a malformed output is a wrong one
                rec["error"] = f"check: {type(exc).__name__}: {exc}"[:300]
        rec.pop("out", None)


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self.stop = threading.Event()

    def _tree_rss(self) -> int:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                kids.setdefault(ppid, []).append(int(d))
        todo, total = [os.getpid()], 0
        page = os.sysconf("SC_PAGE_SIZE")
        while todo:
            pid = todo.pop()
            todo += kids.get(pid, [])
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self):
        while not self.stop.wait(0.5):
            self.peak = max(self.peak, self._tree_rss())


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--t0", type=float, required=True,
                    help="epoch time at which the parent started us")
    ap.add_argument("--out", required=True)
    ap.add_argument("--setup-only", action="store_true")
    ap.add_argument("--event-log", default=None,
                    help="traced run: the Spark event log directory")
    a = ap.parse_args()

    from distributed_system_mapreduce_spark.session import get_spark

    from perfbench.workloads import WORKLOADS

    t_import = time.time()
    spark = get_spark("perfbench")
    t_spark = time.time()
    nproc = spark.sparkContext.defaultParallelism
    spark.range(4 * nproc).repartition(nproc).mapInPandas(
        lambda it: it, "id long").write.format("noop").mode(
        "overwrite").save()
    t_warm = time.time()
    wl = WORKLOADS[a.workload](spark, a.data, a.work)
    wl.setup()
    setup = {"setup_s": time.time() - a.t0, "import_s": t_import - a.t0,
             "get_spark_s": t_spark - t_import,
             "worker_warm_s": t_warm - t_spark}
    if a.setup_only:
        _finish(a.out, {"setup": setup})

    tracer = sampler = None
    if a.event_log:
        from perfbench.trace import Tracer

        tracer = Tracer(spark)
        tracer.instrument()
        sampler = RssSampler()
        sampler.start()

    ops, recs, rounds = [], [], []
    begin = time.perf_counter()
    r = 0
    # the first round runs cold; the warm metrics need the workload's
    # MIN_ROUNDS - 1 rounds after it even when --seconds has passed
    while r < wl.MIN_ROUNDS or time.perf_counter() - begin < a.seconds:
        batch = wl.round(r)
        if batch is None:
            break
        if tracer:
            tracer.mark_gc()
        t = time.perf_counter()
        for op in batch:
            ops.append(op)
            recs.append(run_op(spark, op, tracer))
            recs[-1]["round"] = r
        rounds.append(time.perf_counter() - t)
        r += 1
    measured = time.perf_counter() - begin
    if tracer:
        tracer.mark_gc()

    check_ops(ops, recs)
    finals = wl.final_checks()
    result = {"setup": setup, "ops": recs, "rounds": rounds,
              "measured_s": measured,
              "final_checks": [{"name": n, "error": e} for n, e in finals]}
    if tracer:
        from perfbench import layers

        result.update(layers.collect(spark, tracer, wl, a, recs, sampler,
                                     setup, rounds))
    _finish(a.out, result)


def _finish(out: str, result: dict) -> None:
    """Write the result and exit at once: the parent stops the JVM and
    the Python workers with the process group, which is faster than a
    graceful shutdown and leaves nothing the run needs."""
    with open(out, "w") as fh:
        json.dump(result, fh)
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(0)


if __name__ == "__main__":
    sys.exit(main())
