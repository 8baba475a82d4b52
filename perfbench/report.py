"""Per-layer report from the records the benchmark leaves in .bench_out.

    python3 perfbench/report.py [workload ...]

For each workload: the end-to-end metrics of its untraced runs; the
per-layer metrics of its traced runs, per operation; each layer's self
time (span time minus the time its child spans cover); and the tracing
overhead, traced wall_s against untraced wall_s. Every ratio is printed
with its base.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

OP_COLUMNS = ("latency", "build_s", "exec_s", "plan_ms", "jobs", "stages",
              "tasks", "eager_jobs", "driver_gap_s", "run_s", "cpu_s",
              "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
              "fetch_wait_s", "spill_bytes", "python_stages",
              "persisted_after")


def _load(workload: str) -> tuple[list[dict], list[dict]]:
    runs = {0: [], 1: []}
    for path in sorted(glob.glob(os.path.join(
            ".bench_out", f"{workload}-x1-s*-t[01].json"))):
        with open(path) as fh:
            runs[int(path[-6])].append(json.load(fh))
    return runs[0], runs[1]


def _ops_table(recs: list[dict]) -> None:
    by_name: dict[str, list[dict]] = {}
    for r in recs:
        by_name.setdefault(r["name"], []).append(r)
    print("    " + "operation".ljust(28) + " n  " + "  ".join(
        c[:10].rjust(10) for c in OP_COLUMNS))
    for name, rs in by_name.items():
        cells = []
        for c in OP_COLUMNS:
            xs = [r[c] for r in rs if r.get(c) is not None]
            cells.append(f"{statistics.median(xs):10.4g}" if xs else
                         " " * 9 + "-")
        print(f"    {name[:28]:28s}{len(rs):2d}  " + "  ".join(cells))


def report(workload: str) -> None:
    plain, traced = _load(workload)
    print(f"== {workload}: {len(plain)} untraced, {len(traced)} traced runs")
    if plain:
        for k in plain[0]["end_to_end"]:
            xs = [r["end_to_end"][k] for r in plain]
            print(f"  {k:14s} median {statistics.median(xs):.4f}  "
                  f"runs {', '.join(f'{x:.3f}' for x in xs)}")
        t = plain[-1]["tail"]
        print(f"  op tail: p{t['percentile']:.1f} of {t['samples']} "
              f"operations, {t['beyond']} beyond it (last run)")
    for run in traced[-1:]:
        print("  per-layer metrics (last traced run; per-operation values "
              "are medians, counts are means over operations):")
        for k, v in run["layers"].items():
            base = run["ratio_bases"].get(k)
            print(f"    {k:40s} {v:.6g}" + (
                f"  = {base[0]:.6g} / {base[1]:.6g}" if base else ""))
        print("  per operation (medians over its executions):")
        _ops_table(run["ops"] + run.get("probe_ops", []))
        print("  self time per layer, s:")
        for layer, s in sorted(run["self_time_s"].items()):
            print(f"    {layer:14s} {s:.3f}")
    if plain and traced:
        base = statistics.median(r["end_to_end"]["wall_s"] for r in plain)
        tw = statistics.median(r["layers"]["trace.wall_s"] for r in traced)
        print(f"  tracing overhead: traced wall_s {tw:.3f} / untraced "
              f"wall_s {base:.3f} = {tw / base:.3f}")


if __name__ == "__main__":
    for w in sys.argv[1:] or ("mapreduce", "ingest"):
        report(w)
