"""Invariant tests for the rows-only clustering/sketch queries (their
oracle-less behavior is bounded against exact twins here)."""

from pyspark.sql import functions as F

from distributed_system_mapreduce_spark.operators import clustering
from distributed_system_mapreduce_spark.registry import QUERIES
from tests.conftest import SF_DIR


def test_kmeans_assigns_every_vector_once(spark):
    out = QUERIES["kmeans_embed"](spark, SF_DIR)
    rows = out.collect()
    from distributed_system_mapreduce_spark.tables import load_table
    n = load_table(spark, "embeddings", SF_DIR).count()
    assert len(rows) == n
    assert len({r["vec_id"] for r in rows}) == n
    assert all(0 <= r["cluster"] < clustering.K_CLUSTERS for r in rows)
    assert all(r["dist2"] >= 0.0 for r in rows)
    # cluster_size is consistent with the actual assignment
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], []).append(r)
    for cid, members in by_cluster.items():
        assert all(m["cluster_size"] == len(members) for m in members)


def test_kmeans_improves_on_init(spark):
    """Lloyd's never increases inertia: final assignment cost must be
    <= the cost of assigning to the untrained seed codebook."""
    from distributed_system_mapreduce_spark.tables import load_table

    vecs = load_table(spark, "embeddings", SF_DIR).select(
        "vec_id", "embedding")
    init_cost = clustering._assign(
        vecs, clustering.seed_rows(vecs)).agg(
        F.sum("dist2")).collect()[0][0]
    final_cost = QUERIES["kmeans_embed"](spark, SF_DIR).agg(
        F.sum("dist2")).collect()[0][0]
    assert final_cost <= init_cost + 1e-9


def test_approx_quantiles_close_to_exact(spark):
    approx = {r["l_returnflag"]: r for r in
              QUERIES["approx_price_quantiles"](spark, SF_DIR).collect()}
    exact = {r["l_returnflag"]: r for r in
             QUERIES["price_quantiles"](spark, SF_DIR).collect()}
    assert set(approx) == set(exact)
    for flag, e in exact.items():
        a = approx[flag]
        for p in ("p25", "p50", "p75", "p99"):
            # approx_percentile returns an actual data point; allow 2%
            # relative error at accuracy=10000 on sf0.001
            assert abs(a[p] - e[p]) <= 0.02 * max(abs(e[p]), 1.0), (
                flag, p, a[p], e[p])
