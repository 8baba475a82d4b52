"""The shared min-label connected-components engine vs an independent
union-find ground truth on seeded random graphs — the engine now backs
both text (dedup_components) and embedding (embedding_components)
clustering, so its correctness deserves its own harness beyond the
two recursive-CTE oracles."""

import random

from distributed_system_mapreduce_spark import lineage
from distributed_system_mapreduce_spark.operators.dedup import (
    min_label_components,
    two_phase_components,
)


def _union_find_labels(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    # path-compress to the component minimum
    return {n: find(n) for n in parent}


def test_min_label_components_matches_union_find(spark):
    rng = random.Random(42)
    for trial in range(3):
        n = rng.randint(8, 24)
        edges = sorted({
            tuple(sorted(rng.sample(range(n * 10), 2)))
            for _ in range(rng.randint(4, 20))
        })
        pairs = spark.createDataFrame(
            [(int(a), int(b)) for a, b in edges], "doc_a long, doc_b long")
        want = _union_find_labels(edges)
        # BOTH paths: the adaptive driver union-find (default) and the
        # forced distributed min-label loop must agree with truth
        got_fast = {
            r["doc_id"]: r["component"]
            for r in min_label_components(pairs).collect()
        }
        got_loop = {
            r["doc_id"]: r["component"]
            for r in min_label_components(
                pairs, small_graph_edges=0).collect()
        }
        assert got_fast == want, (trial, edges)
        assert got_loop == want, (trial, edges)


def test_two_phase_components_matches_union_find(spark):
    """Alternating large-star/small-star vs union-find truth — include
    a path graph (worst case for min-label, the star engine's reason
    to exist) alongside seeded random graphs."""
    rng = random.Random(7)
    cases = [[(i, i + 1) for i in range(12)]]  # 13-node path
    for _ in range(3):
        n = rng.randint(8, 24)
        cases.append(sorted({
            tuple(sorted(rng.sample(range(n * 10), 2)))
            for _ in range(rng.randint(4, 20))
        }))
    for trial, edges in enumerate(cases):
        pairs = spark.createDataFrame(
            [(int(a), int(b)) for a, b in edges], "doc_a long, doc_b long")
        want = _union_find_labels(edges)
        # force the distributed star loop AND take the adaptive
        # driver path — both must agree with truth
        got_loop = {
            r["doc_id"]: r["component"]
            for r in two_phase_components(
                pairs, small_graph_edges=0).collect()
        }
        got_fast = {
            r["doc_id"]: r["component"]
            for r in two_phase_components(pairs).collect()
        }
        assert got_loop == want, (trial, edges)
        assert got_fast == want, (trial, edges)


def test_min_label_components_persist_posture(spark):
    """The persist session posture (lineage.CONF_KEY) must produce the
    local posture's labels on both the small-graph path and the
    distributed loop."""
    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 1)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")

    def labels(**kw):
        return {r["doc_id"]: r["component"]
                for r in min_label_components(pairs, **kw).collect()}

    plain = labels()
    spark.conf.set(lineage.CONF_KEY, "persist")
    try:
        cached = labels()
        looped = labels(small_graph_edges=0)
    finally:
        spark.conf.set(lineage.CONF_KEY, "local")
        spark.catalog.clearCache()
    assert plain == looped
    assert plain == cached
    assert plain[3] == 1 and plain[22] == 1 and plain[11] == 10
