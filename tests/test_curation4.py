"""Curation, embedding and governance invariants beyond the oracle
gate: the chunking closed form is proven against a direct simulation
(hypothesis), the int8 census is held to the analytic error bound, and
the governance census to its accounting identities."""

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from distributed_system_mapreduce_spark.operators.curation import (
    CHUNK_STRIDE,
    CHUNK_WINDOW,
)
from distributed_system_mapreduce_spark.registry import QUERIES
from tests.conftest import SF_DIR


def _simulate_chunks(n: int) -> tuple[int, int]:
    """Direct sliding-window simulation: spans [i*S, min(i*S+W, n))
    until a span reaches n. Returns (n_chunks, emitted_tokens)."""
    starts = [0]
    while starts[-1] + CHUNK_WINDOW < n:
        starts.append(starts[-1] + CHUNK_STRIDE)
    return len(starts), sum(min(s + CHUNK_WINDOW, n) - s for s in starts)


@settings(max_examples=300, deadline=None)
@given(st.integers(min_value=0, max_value=100_000))
def test_chunk_closed_form_matches_simulation(n):
    sim_chunks, sim_emitted = _simulate_chunks(n)
    if n <= CHUNK_WINDOW:
        chunks = 1
    else:
        chunks = 1 + math.ceil((n - CHUNK_WINDOW) / CHUNK_STRIDE)
    assert chunks == sim_chunks
    # the per-doc emitted-mass identity chunk_overlap aggregates on
    assert sim_emitted == n + (chunks - 1) * (CHUNK_WINDOW - CHUNK_STRIDE)


def test_quantize_error_within_analytic_bound(spark):
    """Symmetric int8 round-half-up: per-element error <= 0.5 quantum
    = scale / 254, so each label's worst observed error must respect
    the bound computed from that label's max scale."""
    from pyspark.sql import functions as F

    from distributed_system_mapreduce_spark.operators.similarity import (
        _ABSMAX_EXPR,
    )
    from distributed_system_mapreduce_spark.tables import load_table

    rows = {r["label"]: r for r in
            QUERIES["embedding_quantize"](spark, SF_DIR).collect()}
    assert rows
    scales = {
        r["label"]: r["mx"]
        for r in load_table(spark, "embeddings", SF_DIR)
        .select("label", F.expr(_ABSMAX_EXPR).alias("s"))
        .groupBy("label").agg(F.max("s").alias("mx")).collect()
    }
    for label, r in rows.items():
        bound = scales[label] / 254.0 * (1 + 1e-9)
        assert 0.0 <= r["worst_abs_err"] <= bound, (label, r, bound)
        assert 0.0 <= r["mean_abs_err"] <= r["worst_abs_err"] + 1e-9


def test_k_anonymity_accounting(spark):
    for r in QUERIES["k_anonymity"](spark, SF_DIR).collect():
        assert r["n_small_cells"] <= r["n_cells"]
        assert r["users_at_risk"] <= r["user_cells"]
        assert 0.0 <= r["risk_share"] <= 1.0


def test_user_growth_is_monotone(spark):
    rows = sorted(QUERIES["user_growth"](spark, SF_DIR).collect(),
                  key=lambda r: r["first_day"])
    total = 0
    for r in rows:
        total += r["new_users"]
        assert r["cum_users"] == total
