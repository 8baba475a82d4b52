"""Semantic invariants for the index-health / text / calendar
operators (lsh_bucket_balance in operators/dedup.py, charset_census and
bigram_entropy_rate in operators/curation.py, the calendar/mix queries
in operators/tpch.py).
The oracle gate proves each op equals its DuckDB twin; these pin the
MATH the twins share — cross-operator identities and distribution
bounds a refactor could silently break while staying self-consistent."""

import math


def test_lsh_collision_mass_equals_candidate_join_rows(spark):
    """sum over buckets of c*(c-1)/2 IS the LSH candidate join's row
    count: the per-band collision_pairs must sum to the total
    shared-band count across all candidate pairs (dedup_minhash's
    n_shared_bands sums the same join rows grouped the other way)."""
    from distributed_system_mapreduce_spark.registry import QUERIES
    from tests.conftest import SF_DIR

    bal = QUERIES["lsh_bucket_balance"](spark, SF_DIR).collect()
    assert bal
    mass = sum(r["collision_pairs"] for r in bal)
    pairs = QUERIES["dedup_minhash"](spark, SF_DIR).collect()
    assert mass == sum(r["n_shared_bands"] for r in pairs)
    for r in bal:
        assert r["max_bucket"] >= 1
        assert r["n_docs"] >= r["n_buckets"]
        assert math.isclose(r["mean_bucket"],
                            r["n_docs"] / r["n_buckets"], rel_tol=1e-12)


def test_charset_census_partitions_every_character(spark):
    from distributed_system_mapreduce_spark.registry import QUERIES
    from tests.conftest import SF_DIR

    rows = QUERIES["charset_census"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert (r["n_alpha"] + r["n_digit"] + r["n_space"]
                + r["n_other"]) == r["n_chars"]
        for c in ("alpha_rate", "digit_rate", "space_rate"):
            assert 0.0 <= r[c] <= 1.0, (r["lang"], c)


def test_bigram_entropy_rate_bounds(spark):
    """Conditional entropy over a B-bucket hashed vocab lies in
    [0, ln B]; every source with >= 2 tokens appears."""
    from distributed_system_mapreduce_spark.operators.curation import (
        B_ENT,
    )
    from distributed_system_mapreduce_spark.registry import QUERIES
    from tests.conftest import SF_DIR

    rows = QUERIES["bigram_entropy_rate"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["n_cells"] <= B_ENT * B_ENT
        assert -1e-9 <= r["entropy_rate"] <= math.log(B_ENT) + 1e-9, r


def test_seasonal_index_weighted_mean_is_one(spark):
    """By construction the n_years-weighted mean of the seasonal
    index over the 12 months is exactly 1."""
    from distributed_system_mapreduce_spark.registry import QUERIES
    from tests.conftest import SF_DIR

    rows = QUERIES["orders_seasonal_index"](spark, SF_DIR).collect()
    assert len(rows) == 12
    ng = sum(r["n_years"] for r in rows)
    wmean = sum(r["n_years"] * r["seasonal_index"] for r in rows) / ng
    assert math.isclose(wmean, 1.0, rel_tol=1e-9)
    assert all(r["seasonal_index"] > 0 for r in rows)


def test_supplier_skew_share_identity(spark):
    from distributed_system_mapreduce_spark.registry import QUERIES
    from tests.conftest import SF_DIR

    rows = QUERIES["supplier_volume_skew"](spark, SF_DIR).collect()
    assert 0 < len(rows) <= 10
    assert sum(r["share"] for r in rows) <= 1.0 + 1e-9
    for r in rows:
        assert math.isclose(r["ratio_to_mean"],
                            r["share"] * r["n_suppliers"], rel_tol=1e-9)
    # descending by volume with the deterministic tie-break
    vols = [r["n_rows"] for r in rows]
    assert vols == sorted(vols, reverse=True)


def test_priority_shift_one_row_per_priority(spark):
    from distributed_system_mapreduce_spark.registry import QUERIES
    from tests.conftest import SF_DIR

    rows = QUERIES["priority_share_shift"](spark, SF_DIR).collect()
    modes = [r["priority"] for r in rows]
    assert len(modes) == len(set(modes)) and modes
    for r in rows:
        assert r["prev_idx"] < r["month_idx"]
        assert abs(r["share_delta"]) <= 1.0
        assert math.isclose(r["share_delta"],
                            r["share"] - r["prev_share"], rel_tol=1e-12)
