"""Semantic tests for the nonparametric-stats / link-analysis
operators (operators/stats.py; hits_scores in operators/graph.py): each query is recomputed by an
independent pure-Python reference over the raw sf0.001 parquet (via
the DuckDB fixture, used only as a row reader) and compared
value-for-value. The plan-shape pins live in test_plans.py."""

import math


def _rows(oracle, sql):
    return oracle.sql(sql).fetchall()


# ----------------------------------------------------------- mannwhitney
def test_mannwhitney_matches_pure_python_ranksum(spark, oracle):
    from distributed_system_mapreduce_spark.registry import QUERIES
    from tests.conftest import SF_DIR

    data = _rows(oracle, """
        SELECT CAST(l_quantity AS BIGINT),
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
        FROM lineitem""")
    xs = sorted(q for q, is_x in data if is_x)
    ys = sorted(q for q, is_x in data if not is_x)
    n1, n2 = len(xs), len(ys)
    # textbook U via midranks over the pooled sample
    pooled = sorted((q, g) for g in (0, 1)
                    for q in (ys if g == 0 else xs))
    ranks: dict[int, float] = {}
    i = 0
    vals = [q for q, _ in pooled]
    while i < len(vals):
        j = i
        while j < len(vals) and vals[j] == vals[i]:
            j += 1
        mid = (i + 1 + j) / 2.0  # average of ranks i+1..j
        ranks[vals[i]] = mid
        i = j
    r1 = sum(ranks[q] for q in xs)
    u = r1 - n1 * (n1 + 1) / 2.0
    mu = n1 * n2 / 2.0
    from collections import Counter

    tie = sum(t ** 3 - t for t in Counter(vals).values())
    n = n1 + n2
    sigma = math.sqrt(n1 * n2 / 12.0 * ((n + 1) - tie / (n * (n - 1))))
    row = QUERIES["mannwhitney_qty"](spark, SF_DIR).collect()[0]
    assert row["n1"] == n1 and row["n2"] == n2
    assert math.isclose(row["u_stat"], u, rel_tol=1e-12)
    assert math.isclose(row["mu_u"], mu, rel_tol=1e-12)
    assert math.isclose(row["sigma_u"], sigma, rel_tol=1e-9)
    assert math.isclose(row["z_score"], (u - mu) / sigma, rel_tol=1e-9)
    assert math.isclose(row["rank_biserial"], 1.0 - 2.0 * u / (n1 * n2),
                        rel_tol=1e-9)


# ------------------------------------------------------------- theil-sen
def test_theil_sen_matches_pure_python_pairwise_median(spark, oracle):
    from distributed_system_mapreduce_spark.registry import QUERIES
    from tests.conftest import SF_DIR

    monthly = _rows(oracle, """
        SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
                    AS BIGINT) AS m,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        FROM orders GROUP BY 1 ORDER BY 1""")
    slopes = sorted(
        (r2 - r1) / float(m2 - m1)
        for i, (m1, r1) in enumerate(monthly)
        for (m2, r2) in monthly[i + 1:]
    )
    k = len(slopes)
    med = (slopes[(k + 1) // 2 - 1] + slopes[(k + 2) // 2 - 1]) / 2.0
    row = QUERIES["theil_sen_trend"](spark, SF_DIR).collect()[0]
    assert row["n_pairs"] == k
    assert math.isclose(row["sen_slope"], med, rel_tol=1e-12)
    assert math.isclose(row["min_slope"], slopes[0], rel_tol=1e-12)
    assert math.isclose(row["max_slope"], slopes[-1], rel_tol=1e-12)
    # robustness invariant: the pairwise median lies within the slope
    # envelope and is finite
    assert slopes[0] <= row["sen_slope"] <= slopes[-1]


# ---------------------------------------------------------------- wilson
def test_wilson_interval_properties_and_exact_recompute(spark):
    from distributed_system_mapreduce_spark.registry import QUERIES
    from tests.conftest import SF_DIR

    z = 1.96
    rows = QUERIES["wilson_ci_rates"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        n, k = r["n_events"], r["n_high"]
        p = k / n
        denom = 1.0 + z * z / n
        center = (p + z * z / (2.0 * n)) / denom
        half = (z / denom) * math.sqrt(p * (1.0 - p) / n
                                       + z * z / (4.0 * n * n))
        assert math.isclose(r["rate"], p, rel_tol=1e-12)
        assert math.isclose(r["center"], center, rel_tol=1e-12)
        assert math.isclose(r["wilson_lo"], center - half, rel_tol=1e-9)
        assert math.isclose(r["wilson_hi"], center + half, rel_tol=1e-9)
        # score-interval guarantees: stays inside [0,1], brackets the
        # point estimate, center shrinks toward 1/2
        assert 0.0 <= r["wilson_lo"] <= r["wilson_hi"] <= 1.0
        assert r["wilson_lo"] <= p <= r["wilson_hi"]
        assert abs(center - 0.5) <= abs(p - 0.5) + 1e-12


# ------------------------------------------------------------------ hits
def test_hits_matches_pure_python_power_iterations(spark, oracle):
    from distributed_system_mapreduce_spark.registry import QUERIES
    from tests.conftest import SF_DIR
    from distributed_system_mapreduce_spark.operators.graph import (
        HITS_TOPK,
    )

    edges = set(_rows(oracle, """
        SELECT DISTINCT o_custkey, l_partkey
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey"""))
    from collections import defaultdict

    h1: dict[int, int] = defaultdict(int)
    for c, _ in edges:
        h1[c] += 1
    a2: dict[int, int] = defaultdict(int)
    for c, p in edges:
        a2[p] += h1[c]
    h3: dict[int, int] = defaultdict(int)
    for c, p in edges:
        h3[c] += a2[p]
    a_tot, h_tot = sum(a2.values()), sum(h3.values())
    want_auth = sorted(a2.items(), key=lambda t: (-t[1], t[0]))[:HITS_TOPK]
    want_hub = sorted(h3.items(), key=lambda t: (-t[1], t[0]))[:HITS_TOPK]
    got = QUERIES["hits_scores"](spark, SF_DIR).collect()
    got_auth = [(r["node_id"], r["raw"], r["score"]) for r in got
                if r["side"] == "authority"]
    got_hub = [(r["node_id"], r["raw"], r["score"]) for r in got
               if r["side"] == "hub"]
    assert [(n, raw) for n, raw, _ in got_auth] == want_auth
    assert [(n, raw) for n, raw, _ in got_hub] == want_hub
    for n, raw, score in got_auth:
        assert math.isclose(score, raw / a_tot, rel_tol=1e-12)
    for n, raw, score in got_hub:
        assert math.isclose(score, raw / h_tot, rel_tol=1e-12)
