"""Semantic invariants for the curation-budgeting ops
(operators/curation.py)."""

import math


def test_pareto_frontier_monotone_and_anchored(spark):
    from distributed_system_mapreduce_spark.registry import QUERIES
    from tests.conftest import SF_DIR

    rows = sorted(
        QUERIES["quality_pareto_frontier"](spark, SF_DIR).collect(),
        key=lambda r: r["tau"])
    assert rows
    docs = [r["n_docs_kept"] for r in rows]
    toks = [r["n_tokens_kept"] for r in rows]
    assert docs == sorted(docs, reverse=True)
    assert toks == sorted(toks, reverse=True)
    for r in rows:
        assert 0.0 <= r["doc_share"] <= 1.0
        assert 0.0 <= r["token_share"] <= 1.0
    # cross-op anchor: the tau=0.6 row equals quality_filter's count
    at60 = next(r for r in rows if math.isclose(r["tau"], 0.6))
    assert at60["n_docs_kept"] == QUERIES["quality_filter"](
        spark, SF_DIR).count()


def test_sampling_weights_sum_to_one_and_boost_minorities(spark):
    from distributed_system_mapreduce_spark.registry import QUERIES
    from tests.conftest import SF_DIR

    rows = QUERIES["source_sampling_weights"](spark, SF_DIR).collect()
    assert rows
    assert math.isclose(sum(r["weight"] for r in rows), 1.0,
                        rel_tol=1e-9)
    assert math.isclose(sum(r["natural_share"] for r in rows), 1.0,
                        rel_tol=1e-9)
    for r in rows:
        assert math.isclose(
            r["boost"], r["weight"] / r["natural_share"], rel_tol=1e-9)
    # temperature < 1 up-samples the smallest source and down-samples
    # the largest (strictly, unless all sources are equal-sized)
    by_tok = sorted(rows, key=lambda r: r["n_tokens"])
    if by_tok[0]["n_tokens"] != by_tok[-1]["n_tokens"]:
        assert by_tok[0]["boost"] > 1.0
        assert by_tok[-1]["boost"] < 1.0
    # weights order matches token order (monotone transform)
    ws = [r["weight"] for r in by_tok]
    assert ws == sorted(ws)


def test_rank_tau_matches_pure_python_kendall(spark):
    """rank_tau_eval (wave 19) equals a literal pure-Python Kendall
    tau-a over the two collected rank heads, and sits in [-1, 1]."""
    import itertools
    import math

    from distributed_system_mapreduce_spark.operators.retrieval import (
        bm25_ranked,
        tfidf_ranked,
    )
    from distributed_system_mapreduce_spark.registry import QUERIES
    from tests.conftest import SF_DIR

    bm = {r["doc_id"]: r["rank_bm25"]
          for r in bm25_ranked(spark, SF_DIR).collect()}
    ti = {r["doc_id"]: r["rank_tfidf"]
          for r in tfidf_ranked(spark, SF_DIR).collect()}
    common = sorted(set(bm) & set(ti))
    conc = disc = 0
    for a, b in itertools.combinations(common, 2):
        s = (bm[a] - bm[b]) * (ti[a] - ti[b])
        conc += s > 0
        disc += s < 0
    row = QUERIES["rank_tau_eval"](spark, SF_DIR).collect()[0]
    assert row["n_common"] == len(common)
    assert row["concordant"] == conc
    assert row["discordant"] == disc
    assert row["n_pairs"] == conc + disc  # tie-free rankings
    want = (conc - disc) / row["n_pairs"]
    assert math.isclose(row["kendall_tau"], want, rel_tol=1e-12)
    assert -1.0 <= row["kendall_tau"] <= 1.0
