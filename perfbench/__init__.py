"""The repository benchmark (see BENCHMARK.json).

``run.py`` is the command: it generates a workload's inputs from a seed
(``gen.py``), runs the workload closed-loop in a fresh process
(``child.py``, ``workloads.py``), checks every output (``check.py``) and
prints one JSON result line. ``--trace 1`` adds spans, job groups, the
Spark event log and a streaming listener (``trace.py``) and reports the
per-layer metrics (``layers.py``). ``metrics.py`` names every metric,
``report.py`` prints the per-layer report from the records of past runs,
and ``smoke.py`` is the benchmark's own smoke test.
"""
