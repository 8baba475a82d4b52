"""The repository benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload mapreduce --seed 1 --seconds 12 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed (cached in ``.bench_data``), takes ``SETUP_SAMPLES`` set-up samples
in fresh processes, runs the workload closed-loop for ``--seconds`` in
the last of them, checks every output, and prints one JSON object as the
last line of standard output. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` runs traced and reports the per-layer metrics.
The full record of every run goes to ``.bench_out``.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zlib

ROOT = os.getcwd()
PACKAGE = "distributed_system_mapreduce_spark"
SETUP_SAMPLES = 2
DEADLINE_S = 170.0
TAIL_BEYOND = 10


def canary(nproc: int) -> dict[str, float]:
    """Host speed, recorded with every run and not gated: seconds to
    zlib-compress a fixed 4 MiB buffer on one thread, and on ``nproc``
    threads at once (zlib releases the GIL)."""
    x, out = 123456789, bytearray()
    while len(out) < (4 << 20):
        x = (x * 6364136223846793005 + 1442695040888963407) & (2**64 - 1)
        out += x.to_bytes(8, "little")
    buf = bytes(out)
    t = time.perf_counter()
    zlib.compress(buf, 6)
    one = time.perf_counter() - t
    t = time.perf_counter()
    with concurrent.futures.ThreadPoolExecutor(max_workers=nproc) as ex:
        list(ex.map(lambda _: zlib.compress(buf, 6), range(nproc)))
    return {"canary_1t_s": one, f"canary_{nproc}t_s": time.perf_counter() - t}


def tail(latencies: list[float]) -> dict:
    """The highest percentile with at least TAIL_BEYOND samples above
    it; with fewer samples than that, the maximum."""
    xs = sorted(latencies)
    i = len(xs) - 1 - (TAIL_BEYOND if len(xs) > TAIL_BEYOND else 0)
    return {"value": xs[i], "percentile": 100.0 * (i + 1) / len(xs),
            "samples": len(xs), "beyond": len(xs) - i - 1}


def _kill_group(pgid: int) -> None:
    """Stop whatever the child left behind (its JVM, Python workers)
    and wait until the whole process group is gone."""
    with_signal = signal.SIGTERM
    for _ in range(200):
        try:
            os.killpg(pgid, with_signal)
        except ProcessLookupError:
            return
        time.sleep(0.05)
        with_signal = signal.SIGKILL
    raise RuntimeError(f"process group {pgid} did not exit")


def run_child(args: list[str], env: dict, deadline: float, out: str) -> dict:
    with open(out + ".log", "w") as log:
        t0 = time.time()
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.child", *args,
             "--t0", repr(t0), "--out", out],
            env=env, cwd=os.path.dirname(out), start_new_session=True,
            stdout=subprocess.DEVNULL, stderr=log)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            _kill_group(proc.pid)
            proc.wait()
    if rc != 0:
        with open(out + ".log") as fh:
            log = fh.read()[-3000:]
        raise RuntimeError(f"benchmark child exited with {rc}:\n{log}")
    with open(out) as fh:
        return json.load(fh)


def spark_conf(run_dir: str, traced: bool) -> str:
    """A benchmark-owned SPARK_CONF_DIR: keeps Spark's scratch files in
    the run directory and, for a traced run, turns on the event log."""
    conf_dir = os.path.join(run_dir, "conf")
    os.makedirs(os.path.join(run_dir, "jtmp"))
    os.makedirs(conf_dir)
    lines = [f"spark.local.dir {run_dir}/local",
             "spark.driver.extraJavaOptions -XX:-UsePerfData "
             f"-Djava.io.tmpdir={run_dir}/jtmp",
             f"spark.sql.warehouse.dir {run_dir}/warehouse"]
    if traced:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        lines += ["spark.eventLog.enabled true",
                  f"spark.eventLog.dir file://{run_dir}/eventlog",
                  "spark.eventLog.compress false",
                  "spark.eventLog.rolling.enabled false"]
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return conf_dir


def end_to_end(res: dict, setups: list[float]) -> tuple[dict, dict]:
    """The first round runs cold and is reported as cold_s; the other
    metrics describe the warm rounds after it. A round is the
    workload's fixed operation sequence, so wall_s is its median."""
    warm = [r for r in res["ops"] if r["round"] > 0]
    lat = [r["latency"] for r in warm]
    by_kind = {k: [r["latency"] for r in warm if r["kind"] == k]
               for k in ("write", "read")}
    return {"setup_s": statistics.median(setups),
            "cold_s": res["rounds"][0],
            "wall_s": statistics.median(res["rounds"][1:]),
            "op_p50_s": statistics.median(lat),
            "write_p50_s": statistics.median(by_kind["write"]),
            "read_p50_s": statistics.median(by_kind["read"])}, tail(lat)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("mapreduce", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test uses a tiny one)")
    a = ap.parse_args()
    start = time.time()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: run from the repository root ({PACKAGE}/ not found "
              f"in {ROOT})", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import gen
    from perfbench.metrics import END_TO_END, PER_LAYER

    nproc = len(os.sched_getaffinity(0))
    host = canary(nproc)
    data = gen.generate(ROOT, a.workload, a.seed, a.scale, nproc)
    tag = f"{a.workload}-x{a.scale:g}-s{a.seed}-t{a.trace}"
    run_dir = os.path.join(ROOT, ".bench_tmp", f"{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env = dict(os.environ,
               PYTHONPATH=os.pathsep.join(
                   [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
               SPARK_GRAFT_CPUS=str(nproc),
               SPARK_CONF_DIR=spark_conf(run_dir, bool(a.trace)),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
               TMPDIR=os.path.join(run_dir, "tmp"))
    os.makedirs(env["TMPDIR"])
    deadline = start + DEADLINE_S
    common = ["--workload", a.workload, "--data", data,
              "--seconds", str(a.seconds)]
    try:
        setups = []
        for i in range(SETUP_SAMPLES):
            work = os.path.join(run_dir, f"w{i}")
            os.makedirs(work)
            last = i == SETUP_SAMPLES - 1
            extra = (["--setup-only"] if not last else
                     ["--event-log", os.path.join(run_dir, "eventlog")]
                     if a.trace else [])
            res = run_child(common + ["--work", work, *extra], env, deadline,
                            os.path.join(work, "result.json"))
            setups.append(res["setup"]["setup_s"])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    errors = [f"{r['name']}: {r['error']}" for r in res["ops"] + res[
        "final_checks"] if r["error"]]
    attempted = len(res["ops"]) + len(res["final_checks"])
    e2e, t = end_to_end(res, setups)
    res.update(setups=setups, host=host, tail=t, end_to_end=e2e)
    if a.trace:
        metrics = dict(res["layers"], error_rate=len(errors) / attempted)
    else:
        metrics = e2e
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_out", f"{tag}.json"), "w") as fh:
        json.dump(res, fh, indent=1)
    for e in errors:
        print(f"wrong: {e}")
    plain = os.path.join(ROOT, ".bench_out", f"{tag[:-1]}0.json")
    if a.trace and os.path.exists(plain):
        with open(plain) as fh:
            base = json.load(fh)["end_to_end"]["wall_s"]
        print(f"tracing overhead: traced wall_s {e2e['wall_s']:.4f} / "
              f"untraced wall_s {base:.4f} (same seed) = "
              f"{e2e['wall_s'] / base:.3f}")
    print(f"host: {json.dumps(host)}")
    print(f"operation tail: {t['value']:.4f} s, p{t['percentile']:.1f} of "
          f"{t['samples']} operations ({t['beyond']} beyond it)")
    units = PER_LAYER if a.trace else END_TO_END
    print(json.dumps({
        "correct": not errors, "attempted": attempted, "failed": len(errors),
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
