"""The two incremental-maintenance operators (r9): their oracle gate
proves bit-parity with the full recompute; these tests prove the
DECOMPOSITION is non-degenerate at the test SF — the delta actually
crosses the boundary, merges actually happen — so the parity isn't
vacuous, plus the delta-boundedness claims hold structurally."""

from pyspark.sql import functions as F

from distributed_system_mapreduce_spark.operators.dedup import (
    dedup_components_incremental,
    dedup_ngram_jaccard,
)
from distributed_system_mapreduce_spark.operators.events import (
    events_sessionize,
    events_sessionize_incremental,
)
from distributed_system_mapreduce_spark.tables import load_table
from tests.conftest import SF_DIR, normalize


def test_cc_incremental_split_is_nondegenerate(spark):
    """Both edge classes must be populated, and at least one probe
    edge must touch a standing doc — otherwise the contraction path
    (the whole point of the operator) never runs."""
    pairs = dedup_ngram_jaccard(spark, SF_DIR).select("doc_a", "doc_b")
    d_a, d_b = F.col("doc_a") % 10 == 0, F.col("doc_b") % 10 == 0
    n_ss = pairs.where(~d_a & ~d_b).count()
    n_cross = pairs.where(d_a != d_b).count()
    assert n_ss > 0, "no standing-standing edges at this SF"
    assert n_cross > 0, "no delta-standing probe edges at this SF"


def test_cc_incremental_labels_are_canonical_and_total(spark):
    """Output covers exactly the docs with >= 1 edge, one row each;
    every label is a member of its own component (min-id canonical
    form, same contract as dedup_components)."""
    labels = dedup_components_incremental(spark, SF_DIR)
    rows = labels.collect()
    docs = {r["doc_id"] for r in rows}
    assert len(rows) == len(docs)  # one label per doc
    pairs = dedup_ngram_jaccard(spark, SF_DIR).select("doc_a", "doc_b")
    in_graph = {r[0] for r in pairs.collect()} | {
        r[1] for r in pairs.collect()}
    assert docs == in_graph
    lbl = {r["doc_id"]: r["component"] for r in rows}
    for d, c in lbl.items():
        assert c <= d
        assert lbl.get(c) == c, (d, c)  # the root labels itself


def test_sessionize_incremental_boundary_is_exercised(spark):
    """At the test SF there must exist users active on BOTH sides of
    the cutoff (the stitch path) — and among them both outcomes:
    a continued session (gap <= 30 min across the boundary) would be
    rare at this density, but a NEW session across the boundary must
    exist; assert the cross-boundary users exist and the incremental
    result still matches the full one on exactly that cohort."""
    ev = load_table(spark, "events", SF_DIR)
    boundary = F.lit("2024-01-24 00:00:00").cast("timestamp")
    side = (F.col("ts").cast("timestamp") < boundary).cast("int")
    both = (
        ev.groupBy("user_id")
        .agg(F.countDistinct(side).alias("n_sides"))
        .where(F.col("n_sides") == 2)
    )
    cross_users = [r["user_id"] for r in both.collect()]
    assert cross_users, "no user spans the cutoff at this SF"
    full = events_sessionize(spark, SF_DIR).where(
        F.col("user_id").isin(cross_users))
    inc = events_sessionize_incremental(spark, SF_DIR).where(
        F.col("user_id").isin(cross_users))
    assert normalize(inc.columns, inc.collect()) == \
        normalize(full.columns, full.collect())


def test_sessionize_incremental_state_side_is_compact(spark):
    """Delta-boundedness, structurally: the plan's only window over
    the standing partition feeds a per-user AGGREGATE (the state
    table); the output never re-windows standing events together
    with delta events (no window spans the union). Proxy assertion:
    the physical plan contains exactly two window nodes (one per
    partition side)."""
    import re

    plan = events_sessionize_incremental(
        spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    # exact node name only: \bWindow\b does not match WindowGroupLimit
    # (ADVICE r9 — a bare substring count was brittle across nodes
    # and Spark-version naming)
    n_window = len(re.findall(r"\bWindow\b", plan))
    assert n_window == 2, (n_window, plan)
