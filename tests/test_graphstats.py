"""Semantic tests for the graph-quality metrics
(operators/graph.py): recompute both statistics in pure Python
from the collected edge/label tables and pin the analytic bounds."""

import math
from collections import defaultdict


def test_modularity_matches_pure_python(spark):
    from distributed_system_mapreduce_spark.operators.graph \
        import lpa_labels
    from distributed_system_mapreduce_spark.registry import QUERIES
    from tests.conftest import SF_DIR

    edges_df, labels_df = lpa_labels(spark, SF_DIR)
    edges = [(r["src"], r["dst"]) for r in edges_df.collect()]
    lab = {r["node"]: r["label"] for r in labels_df.collect()}
    m2 = len(edges)
    deg: dict[int, int] = defaultdict(int)
    for s, _ in edges:
        deg[s] += 1
    intra = sum(1 for s, d in edges if lab[s] == lab[d])
    dc: dict[int, int] = defaultdict(int)
    for n, d in deg.items():
        dc[lab[n]] += d
    want = intra / m2 - sum(v * v for v in dc.values()) / (m2 * m2)
    row = QUERIES["graph_modularity"](spark, SF_DIR).collect()[0]
    assert row["n_edges"] == m2 // 2
    assert row["intra_edges"] == intra // 2
    assert row["n_communities"] == len(set(lab.values()))
    assert math.isclose(row["modularity"], want, rel_tol=1e-12)
    # analytic range for any partition of any graph
    assert -0.5 <= row["modularity"] <= 1.0
    # LPA after 3 rounds should beat the trivial all-singletons
    # partition's Q on a graph with any clustering at all
    assert row["modularity"] > 0.0


def test_assortativity_matches_pure_python(spark):
    from distributed_system_mapreduce_spark.functions.graphs import (
        strong_edges,
    )
    from distributed_system_mapreduce_spark.operators.graph \
        import LPA_SUPPORT
    from distributed_system_mapreduce_spark.registry import QUERIES
    from distributed_system_mapreduce_spark.tables import load_table
    from tests.conftest import SF_DIR

    li = load_table(spark, "lineitem", SF_DIR)
    edges = [(r["src"], r["dst"])
             for r in strong_edges(li, LPA_SUPPORT).collect()]
    deg: dict[int, int] = defaultdict(int)
    for s, _ in edges:
        deg[s] += 1
    du = [deg[s] for s, _ in edges]
    dv = [deg[d] for _, d in edges]
    m2 = len(edges)
    sx, sxx = sum(du), sum(x * x for x in du)
    sxy = sum(x * y for x, y in zip(du, dv))
    want = (m2 * sxy - sx * sx) / (m2 * sxx - sx * sx)
    row = QUERIES["graph_assortativity"](spark, SF_DIR).collect()[0]
    assert row["n_edges"] == m2 // 2
    assert math.isclose(row["assortativity"], want, rel_tol=1e-12)
    assert -1.0 - 1e-12 <= row["assortativity"] <= 1.0 + 1e-12
