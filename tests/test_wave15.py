"""Semantic invariants for the dedup-tuning / boilerplate
operators (operators/dedup.py): monotonicity and cross-operator
identities the oracle equality can't distinguish from a
self-consistent bug."""

import math


def test_threshold_sweep_monotone_and_consistent(spark):
    from distributed_system_mapreduce_spark.operators.dedup import (
        N_HASHES,
    )
    from distributed_system_mapreduce_spark.registry import QUERIES
    from tests.conftest import SF_DIR

    rows = sorted(
        QUERIES["dedup_threshold_sweep"](spark, SF_DIR).collect(),
        key=lambda r: r["tau"])
    assert rows
    # one shared candidate-set size, equal to dedup_minhash's output
    n_cand = {r["n_cand"] for r in rows}
    assert len(n_cand) == 1
    assert n_cand.pop() == QUERIES["dedup_minhash"](
        spark, SF_DIR).count()
    # kept counts are non-increasing in tau; shares consistent; the
    # mean estimate among kept pairs is at least the threshold
    kept = [r["n_pairs_kept"] for r in rows]
    assert kept == sorted(kept, reverse=True)
    for r in rows:
        assert 0 <= r["n_pairs_kept"] <= r["n_cand"]
        assert math.isclose(r["kept_share"],
                            r["n_pairs_kept"] / r["n_cand"],
                            rel_tol=1e-12)
        if r["n_pairs_kept"] > 0:
            assert r["mean_est_kept"] >= r["tau"] - 1e-12
            assert r["mean_est_kept"] <= 1.0 + 1e-12
        else:
            assert r["mean_est_kept"] is None
    # every LSH candidate shares >= 1 band -> agreement >= 1/16 of
    # the signature on at least the banded rows is NOT guaranteed,
    # but tau = 2/16 must keep at least the pairs tau = 12/16 keeps
    assert rows[0]["n_pairs_kept"] >= rows[-1]["n_pairs_kept"]


def test_doc_prefix_dup_census_bounds(spark):
    from distributed_system_mapreduce_spark.registry import QUERIES
    from tests.conftest import SF_DIR

    rows = QUERIES["doc_prefix_dup"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_dup_prefix_docs"] <= r["n_docs"]
        assert r["n_dup_prefixes"] <= r["n_dup_prefix_docs"]
        assert math.isclose(r["dup_prefix_rate"],
                            r["n_dup_prefix_docs"] / r["n_docs"],
                            rel_tol=1e-12)
    # globally, every duplicated prefix group holds >= 2 docs
    total_docs = sum(r["n_dup_prefix_docs"] for r in rows)
    # distinct prefixes counted per source may double-count a group
    # spanning sources, so the global bound uses the per-source sum
    total_fps = sum(r["n_dup_prefixes"] for r in rows)
    assert total_docs >= total_fps  # each group contributes >= 1 doc
