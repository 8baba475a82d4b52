"""Semantic tests for the estimator-QA / compression ops
(dedup_estimator_pr in operators/dedup.py, compression_ratio in
operators/curation.py). compression_ratio has no SQL oracle (a
DEFLATE encoder isn't SQL-expressible) — its contract is pinned here:
determinism across runs, bounds, and the discriminative property the
signal exists for (repetitive text compresses harder than diverse
text)."""

import math
import zlib


def test_estimator_pr_identities(spark):
    from distributed_system_mapreduce_spark.registry import QUERIES
    from tests.conftest import SF_DIR

    rows = sorted(
        QUERIES["dedup_estimator_pr"](spark, SF_DIR).collect(),
        key=lambda r: r["tau"])
    assert rows
    for r in rows:
        assert r["n_both"] <= min(r["n_est_pos"], r["n_exact_pos"])
        if r["n_est_pos"]:
            assert math.isclose(r["est_precision"],
                                r["n_both"] / r["n_est_pos"],
                                rel_tol=1e-12)
        else:
            assert r["est_precision"] is None
        if r["n_exact_pos"]:
            assert math.isclose(r["est_recall"],
                                r["n_both"] / r["n_exact_pos"],
                                rel_tol=1e-12)
        else:
            assert r["est_recall"] is None
    # positives are non-increasing in tau on both sides
    for col in ("n_est_pos", "n_exact_pos", "n_both"):
        seq = [r[col] for r in rows]
        assert seq == sorted(seq, reverse=True), col
    # cross-op identity: est positives at tau=k/16 match the sweep
    sweep = {r["tau"]: r["n_pairs_kept"] for r in QUERIES[
        "dedup_threshold_sweep"](spark, SF_DIR).collect()}
    for r in rows:
        if r["tau"] in sweep:
            assert r["n_est_pos"] == sweep[r["tau"]], r["tau"]


def test_compression_ratio_deterministic_and_bounded(spark):
    from distributed_system_mapreduce_spark.operators.curation import (
        ZLIB_LEVEL,
    )
    from distributed_system_mapreduce_spark.registry import QUERIES
    from tests.conftest import SF_DIR

    rows = {r["doc_id"]: r for r in QUERIES[
        "compression_ratio"](spark, SF_DIR).collect()}
    assert rows
    for r in rows.values():
        assert r["n_bytes"] > 0
        assert 0.0 < r["ratio"] < 1.2  # tiny docs can expand slightly
        assert r["z_bytes"] == round(r["ratio"] * r["n_bytes"])
    # deterministic: a second run hashes identically
    again = {r["doc_id"]: r["z_bytes"] for r in QUERIES[
        "compression_ratio"](spark, SF_DIR).collect()}
    assert again == {k: v["z_bytes"] for k, v in rows.items()}
    # exact parity with a driver-side zlib on a sample of docs
    from distributed_system_mapreduce_spark.tables import load_table

    sample = load_table(spark, "documents", SF_DIR) \
        .filter("doc_id % 97 = 0").select("doc_id", "text").collect()
    assert sample
    for s in sample:
        want = len(zlib.compress(s["text"].encode("utf-8"), ZLIB_LEVEL))
        assert rows[s["doc_id"]]["z_bytes"] == want


def test_compression_ratio_discriminates_repetition(spark):
    """The reason the signal exists: a highly repetitive document
    must compress materially harder than the corpus median."""
    import statistics

    from distributed_system_mapreduce_spark.operators.curation import (
        ZLIB_LEVEL,
    )
    from distributed_system_mapreduce_spark.registry import QUERIES
    from tests.conftest import SF_DIR

    ratios = [r["ratio"] for r in QUERIES[
        "compression_ratio"](spark, SF_DIR).collect()]
    med = statistics.median(ratios)
    rep = b"the same line again and again " * 100
    rep_ratio = len(zlib.compress(rep, ZLIB_LEVEL)) / len(rep)
    assert rep_ratio < med * 0.5, (rep_ratio, med)
