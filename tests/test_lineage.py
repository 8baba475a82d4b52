"""Lineage-cut posture switch (lineage.py).

The engine's materialization barriers all route through lineage.cut,
which picks localCheckpoint (test posture, lineage truncated) or
persist(MEMORY_AND_DISK)+count (cluster posture, lineage preserved so
executor loss degrades to recompute) from one session-level switch.
These tests prove (a) the switch actually flips the mechanism and
(b) results are bit-identical under both postures for the iterative
query families the barrier matters most for — pagerank, survival
analysis, connected components (both engines, text and embedding
graphs) and k-means.
"""

import pytest

from distributed_system_mapreduce_spark import lineage
from distributed_system_mapreduce_spark.operators.clustering import (
    kmeans_embed,
)
from distributed_system_mapreduce_spark.operators.dedup import (
    dedup_components,
    dedup_components_star,
)
from distributed_system_mapreduce_spark.operators.graph import (
    pagerank_parts,
)
from distributed_system_mapreduce_spark.operators.events import (
    user_survival_km,
)
from distributed_system_mapreduce_spark.operators.similarity import (
    embedding_components,
)

from conftest import SF_DIR, normalize


@pytest.fixture
def persist_posture(spark):
    spark.conf.set(lineage.CONF_KEY, "persist")
    yield
    spark.conf.set(lineage.CONF_KEY, "local")
    spark.catalog.clearCache()


def _run(q, spark):
    df = q(spark, SF_DIR)
    return normalize(df.columns, df.collect())


def test_posture_default_is_local(spark):
    df = spark.range(4)
    assert lineage.posture(df) == "local"
    cut_df = lineage.cut(df)
    # localCheckpoint truncates lineage: the analyzed plan is a bare
    # LogicalRDD scan, no Range operator left.
    assert "Range" not in cut_df._jdf.queryExecution().analyzed().toString()
    assert cut_df.count() == 4


def test_posture_persist_keeps_lineage(spark, persist_posture):
    df = spark.range(4)
    assert lineage.posture(df) == "persist"
    cut_df = lineage.cut(df)
    assert cut_df.storageLevel.useDisk  # MEMORY_AND_DISK
    # lineage preserved: the original Range is still in the plan.
    assert "Range" in cut_df._jdf.queryExecution().analyzed().toString()
    assert cut_df.count() == 4
    cut_df.unpersist()


def test_posture_rejects_garbage(spark):
    spark.conf.set(lineage.CONF_KEY, "bogus")
    try:
        with pytest.raises(ValueError):
            lineage.posture(spark.range(1))
    finally:
        spark.conf.set(lineage.CONF_KEY, "local")


def test_explicit_mode_overrides_session(spark):
    # an explicit mode= (the foreachBatch sinks' pin) must win over
    # the session posture
    cut_df = lineage.cut(spark.range(3), mode="persist")
    assert cut_df.storageLevel.useDisk
    cut_df.unpersist()


@pytest.mark.parametrize("mode", ["persist", "reliable"])
@pytest.mark.parametrize("query", [pagerank_parts, user_survival_km,
                                   dedup_components, dedup_components_star,
                                   embedding_components, kmeans_embed])
def test_cluster_postures_match_local_mode(spark, query, mode):
    local = _run(query, spark)
    spark.conf.set(lineage.CONF_KEY, mode)
    try:
        got = _run(query, spark)
    finally:
        spark.conf.set(lineage.CONF_KEY, "local")
        spark.catalog.clearCache()
    assert got == local
    assert len(local) > 0


def test_reliable_mode_truncates_lineage_into_checkpoint(spark):
    """reliable = DataFrame.checkpoint(): lineage truncated (constant
    plan size for deep loops) AND blocks in the session checkpoint
    dir (survivable storage on a cluster)."""
    spark.conf.set(lineage.CONF_KEY, "reliable")
    try:
        cut_df = lineage.cut(spark.range(5).selectExpr("id", "id+1 AS y"))
        plan = cut_df._jdf.queryExecution().analyzed().toString()
        assert "Range" not in plan  # lineage gone
        assert cut_df.count() == 5
        ckpt = spark.sparkContext._jsc.sc().getCheckpointDir()
        assert not ckpt.isEmpty()
    finally:
        spark.conf.set(lineage.CONF_KEY, "local")


def test_cut_deep_truncates_lineage_in_every_posture(spark):
    """cut_deep is the barrier for (a) per-round loops and (b) any
    materialization whose next step OVERWRITES the plan's own source
    (merge, compact_rollup — ADVICE r8 high). It must truncate
    lineage under all three postures: persist would otherwise keep a
    plan that re-reads the clobbered directory on block loss."""
    for mode in ("local", "persist", "reliable"):
        spark.conf.set(lineage.CONF_KEY, mode)
        try:
            out = lineage.cut_deep(
                spark.range(6).selectExpr("id", "id * 2 AS y"))
            plan = out._jdf.queryExecution().analyzed().toString()
            assert "Range" not in plan, (mode, plan)
            assert out.count() == 6
        finally:
            spark.conf.set(lineage.CONF_KEY, "local")
            spark.catalog.clearCache()


def test_merge_self_overwrite_safe_under_persist(
        spark, tmp_path, persist_posture):
    """merge() rewrites its own source directory; under the persist
    posture its barrier must have routed to a TRUNCATING cut, so no
    persisted RDD with live lineage into the dataset path survives
    the call (a leftover one would recompute from the clobbered dir
    on block loss). Result correctness is asserted too."""
    from distributed_system_mapreduce_spark.sources.filestore import (
        FileStore,
    )

    fs = FileStore(spark, str(tmp_path / "store"))
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(50)], "id long, v string")
    fs.write_keyed(base, "kv", "id", n_buckets=4)
    changes = spark.createDataFrame(
        [(3, "v3-new", False), (99, "v99", False), (7, None, True)],
        "id long, v string, is_delete boolean")
    jsc = spark.sparkContext._jsc.sc()
    n_persisted_before = jsc.getPersistentRDDs().size()
    fs.merge(changes, "kv", "id", delete_col="is_delete")
    assert jsc.getPersistentRDDs().size() == n_persisted_before
    got = {r["id"]: r["v"] for r in fs.read("kv").collect()}
    want = {i: f"v{i}" for i in range(50) if i != 7}
    want[3], want[99] = "v3-new", "v99"
    assert got == want


def test_compact_rollup_self_overwrite_safe_under_persist(
        spark, tmp_path, persist_posture):
    """compact_rollup() overwrites the whole delta log it just read —
    same hazard, same truncating-barrier requirement."""
    from distributed_system_mapreduce_spark.sources.filestore import (
        FileStore,
    )
    from distributed_system_mapreduce_spark.streaming import (
        compact_rollup,
        read_rollup,
    )

    fs = FileStore(spark, str(tmp_path / "store"))
    p = tmp_path / "store" / "roll"
    for b, rows in enumerate([[("2024-01-01", "view", 3, 1.5)],
                              [("2024-01-01", "view", 2, 0.5),
                               ("2024-01-02", "buy", 1, 9.0)]]):
        spark.createDataFrame(
            rows, "day string, event_type string, n_events long, "
                  "sum_value double"
        ).write.mode("overwrite").parquet(str(p / f"batch_id={b}"))
    before = {(r["day"], r["event_type"]): (r["n_events"], r["sum_value"])
              for r in read_rollup(fs, "roll").collect()}
    jsc = spark.sparkContext._jsc.sc()
    n_persisted_before = jsc.getPersistentRDDs().size()
    compact_rollup(fs, "roll")
    assert jsc.getPersistentRDDs().size() == n_persisted_before
    after = {(r["day"], r["event_type"]): (r["n_events"], r["sum_value"])
             for r in read_rollup(fs, "roll").collect()}
    assert after == before


def test_cut_lazy_defers_materialization(spark):
    """cut_lazy (the eager=False chain form used by join_size_estimate)
    must not trigger a job at cut time in either posture, yet still
    act as a barrier once consumed."""
    df = spark.range(10).selectExpr("id", "id * id AS sq")
    lazy_local = lineage.cut_lazy(df)
    assert lazy_local.count() == 10
    spark.conf.set(lineage.CONF_KEY, "persist")
    try:
        lazy_persist = lineage.cut_lazy(df)
        assert lazy_persist.storageLevel.useDisk
        assert lazy_persist.count() == 10
        lazy_persist.unpersist()
    finally:
        spark.conf.set(lineage.CONF_KEY, "local")
