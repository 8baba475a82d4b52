"""The benchmark's own smoke test.

    python3 perfbench/smoke.py

Run from the repository root. Checks that BENCHMARK.json matches the
metrics the benchmark reports; that the correctness checks fire on a
deliberately corrupted result; that each workload, run at a tiny scale
untraced and traced, prints every named metric with its unit and a
correct result; and that the benchmark refuses to run without the
program next to it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pyarrow as pa

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from perfbench import check, gen  # noqa: E402
from perfbench.metrics import (  # noqa: E402
    END_TO_END,
    HIGHER_IS_BETTER,
    PER_LAYER,
)

TINY = "0.05"


def fail(msg: str) -> None:
    raise SystemExit(f"FAIL: {msg}")


def check_benchmark_json() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        doc = json.load(fh)
    e2e = {m["name"]: m for m in doc["end_to_end"]}
    if set(e2e) != set(END_TO_END):
        fail(f"end_to_end names {sorted(e2e)} != {sorted(END_TO_END)}")
    layers = {m["name"]: m for m in doc["per_layer"]}
    if set(layers) != set(PER_LAYER):
        fail(f"per_layer names differ: {set(layers) ^ set(PER_LAYER)}")
    for name, m in list(e2e.items()) + list(layers.items()):
        unit = END_TO_END.get(name) or PER_LAYER[name]
        better = "higher" if name in HIGHER_IS_BETTER else "lower"
        if (m["unit"], m["better"]) != (unit, better):
            fail(f"{name}: {m['unit']}/{m['better']} != {unit}/{better}")
    if e2e["setup_s"]["bound"] < max(m["bound"] for m in e2e.values()):
        fail("setup_s must have the largest bound")
    print("ok  BENCHMARK.json matches the reported metrics")


def check_corruption_is_caught() -> None:
    from distributed_system_mapreduce_spark.registry import ORACLES

    data = gen.generate(ROOT, "mapreduce", 0, float(TINY))
    want = check.oracle(ORACLES["mr_wordcount"],
                        os.path.join(data, "corpus"))
    shuffled = want.take(list(range(want.num_rows))[::-1])
    if check.mismatch(shuffled, want) is not None:
        fail("row order must not matter")
    cnt = want.column("cnt").to_pylist()
    cnt[0] += 1
    corrupted = want.set_column(want.schema.get_field_index("cnt"), "cnt",
                                pa.array(cnt, pa.int64()))
    if check.mismatch(corrupted, want) is None:
        fail("a changed count was not caught")
    if check.mismatch(want.slice(1), want) is None:
        fail("a missing row was not caught")

    data = gen.generate(ROOT, "ingest", 0, float(TINY))
    feed = sorted(os.path.join(data, "feed", d, "events.parquet")
                  for d in os.listdir(os.path.join(data, "feed")))
    state = check.lww_state(feed)
    vals = state.column("current_value").to_pylist()
    vals[-1] += 0.01
    stale = state.set_column(
        state.schema.get_field_index("current_value"), "current_value",
        pa.array(vals, pa.float64()))
    if check.mismatch(stale, state) is None:
        fail("a stale keyed-table value was not caught")
    if check.mismatch(check.lww_state(feed[:-1]), state) is None:
        fail("a keyed table missing the last batch was not caught")
    print("ok  corrupted results are caught")


def run(workload: str, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "0", "--seconds", "1", "--trace", str(trace),
         "--scale", TINY],
        cwd=cwd, capture_output=True, text=True, timeout=300)


def check_runs() -> None:
    for workload in ("mapreduce", "ingest"):
        for trace, names in ((0, END_TO_END), (1, PER_LAYER)):
            p = run(workload, trace)
            if p.returncode != 0:
                fail(f"{workload} trace={trace} exited {p.returncode}:\n"
                     f"{p.stderr[-2000:]}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                fail(f"result keys {sorted(res)}")
            if not res["correct"] or res["failed"]:
                fail(f"{workload} trace={trace}: wrong results\n{p.stdout}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != names:
                fail(f"{workload} trace={trace}: metrics/units differ: "
                     f"{set(got.items()) ^ set(names.items())}")
            print(f"ok  {workload} trace={trace}: {res['attempted']} "
                  "operations, every metric printed with its unit")


def check_refuses_without_program() -> None:
    scratch = os.path.join(ROOT, ".bench_tmp")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(os.path.join(ROOT, "perfbench"),
                        os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = run("mapreduce", 0, cwd=d)
        if p.returncode == 0 or p.stdout.strip():
            fail("ran without the program")
    print("ok  refuses to run without the program")


if __name__ == "__main__":
    check_benchmark_json()
    check_corruption_is_caught()
    check_refuses_without_program()
    check_runs()
    print("smoke test passed")
