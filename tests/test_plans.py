"""Physical-plan audits: the 100 TB posture, enforced.

These tests pin the *plan shape*, not timing: pushdown reaching the
scan, dimension joins broadcasting, map-side partial aggregation,
no Python evaluation or cartesian products sneaking into JVM-only
paths. A regression here is a cluster incident caught at CI time.
"""

from distributed_system_mapreduce_spark.plans import (
    formatted_plan,
    global_ordered_windows,
    plan_has,
    plan_lacks,
)
from distributed_system_mapreduce_spark.registry import QUERIES
from tests.conftest import SF_DIR


def test_q6_filters_reach_parquet_scan(spark):
    df = QUERIES["q6_forecast_revenue"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "PushedFilters:" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_quantity,24.0)" in plan
    # column pruning: only the 4 referenced columns are read
    assert ("ReadSchema: struct<l_quantity:double,l_extendedprice:double,"
            "l_discount:double,l_shipdate:timestamp_ntz>") in plan


def test_q1_has_map_side_partial_aggregation(spark):
    df = QUERIES["q1_pricing_summary"](spark, SF_DIR)
    assert plan_has(df, "partial_sum")


def test_dim_joins_broadcast(spark):
    for name in ("q3_shipping_priority", "q5_local_supplier",
                 "q10_returned_items", "q14_promo_revenue"):
        df = QUERIES[name](spark, SF_DIR)
        plan = formatted_plan(df)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def test_jvm_only_paths_have_no_python_eval(spark):
    for name in ("wordcount", "q1_pricing_summary", "dedup_minhash",
                 "doc_fingerprint", "token_count", "ann_topk_lsh"):
        df = QUERIES[name](spark, SF_DIR)
        assert plan_lacks(df, "BatchEvalPython"), name


def test_engine_path_is_arrow_not_row_python(spark):
    """The MapleJuice legacy path must use Arrow-batched exchange
    (MapInPandas / FlatMapGroupsInPandas), never row-oriented
    BatchEvalPython."""
    df = QUERIES["mr_wordcount"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_semi_and_anti_joins_stay_joins(spark):
    assert plan_has(QUERIES["order_priority_count"](spark, SF_DIR),
                    "LeftSemi")
    assert plan_has(QUERIES["q22_idle_customers"](spark, SF_DIR),
                    "LeftAnti")


def test_lsh_join_is_hash_not_cartesian(spark):
    for name in ("ann_topk_lsh", "dedup_embedding", "dedup_minhash"):
        assert plan_lacks(QUERIES[name](spark, SF_DIR),
                          "CartesianProduct"), name


def test_second_wave_dim_joins_broadcast(spark):
    for name in ("q2_best_supplier", "q8_market_share",
                 "q9_product_profit", "q16_supplier_counts",
                 "q20_heavy_shippers", "q21_sole_supplier_returns"):
        df = QUERIES[name](spark, SF_DIR)
        plan = formatted_plan(df)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_q16_anti_join_and_q20_semi_join_shapes(spark):
    assert plan_has(QUERIES["q16_supplier_counts"](spark, SF_DIR),
                    "LeftAnti")
    assert plan_has(QUERIES["q20_heavy_shippers"](spark, SF_DIR),
                    "LeftSemi")


# Queries whose ONLY empty-partition ordered windows run over inputs
# already bounded to a constant row count (documented at the def site):
_BOUNDED_GLOBAL_WINDOWS = {
    # rank over the <= BM25_TOPK-row TakeOrdered heads (retrieval.py)
    # — 20 rows regardless of corpus size
    "ndcg_eval", "hybrid_rank_fusion", "retrieval_pr_eval",
    # rank-sum over the <= 50-row (group x quantile) grid (stats.py)
    "mannwhitney_qty",
    # pair_rank over the 10-row round-1 top-pair head (bpe.py) —
    # limit(10) runs before the window
    "bpe_certify",
}


def test_no_global_single_partition_windows(spark):
    """A Window with an empty partition spec AND an order spec funnels
    every row to one task — banned in every registered query plan
    unless the window's input is bounded to a constant row count
    (allowlisted above). Parses the windowspecdefinition argument
    list: partition columns come before the ASC/DESC order entries,
    so no-arg-before-the-first-order-entry == global ordered window.
    (The old literal grep for 'windowspecdefinition()' could never
    fire: an ORDERED global window prints its order spec inside the
    parens — exactly the dangerous case.)"""
    for name, fn in QUERIES.items():
        if name in _BOUNDED_GLOBAL_WINDOWS:
            continue
        bad = global_ordered_windows(formatted_plan(fn(spark, SF_DIR)))
        assert not bad, f"{name}: global ordered window(s): {bad}"


def test_global_window_audit_fires_on_canary(spark):
    """Prove the detector actually detects: a deliberately global
    running-total window over raw events must be flagged."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from distributed_system_mapreduce_spark.tables import load_table

    canary = load_table(spark, "events", SF_DIR).withColumn(
        "rt", F.sum("value").over(
            Window.orderBy("ts").rowsBetween(Window.unboundedPreceding,
                                             Window.currentRow)))
    assert global_ordered_windows(formatted_plan(canary))
    # and a properly partitioned twin must NOT be flagged
    ok = load_table(spark, "events", SF_DIR).withColumn(
        "rt", F.sum("value").over(
            Window.partitionBy("user_id").orderBy("ts")))
    assert not global_ordered_windows(formatted_plan(ok))


def test_q15_top1_is_take_ordered_not_window(spark):
    assert plan_has(QUERIES["q15_top_supplier"](spark, SF_DIR),
                    "TakeOrderedAndProject")


def test_temporal_joins_are_hash_not_nested_loop(spark):
    """The bucketized range join must plan as an equi (hash/merge)
    join — a raw inequality join degenerates to nested-loop."""
    for name in ("purchase_attribution", "events_asof_order",
                 "abandoned_views"):
        df = QUERIES[name](spark, SF_DIR)
        assert plan_lacks(df, "BroadcastNestedLoopJoin",
                          "CartesianProduct"), name

def test_curation2_broadcast_shapes(spark):
    """Contamination's benchmark vocab and the mix-rebalance cutoff
    table must ride in as broadcast hash joins (tiny sides); no
    CartesianProduct anywhere. (mix_rebalance also carries domain_mix's
    one-row grand-total broadcast cross join — that shape is fine.)"""
    for name in ("contamination_check", "mix_rebalance_sample"):
        df = QUERIES[name](spark, SF_DIR)
        assert plan_has(df, "BroadcastHashJoin"), name
        assert plan_lacks(df, "CartesianProduct"), name
    assert plan_lacks(QUERIES["contamination_check"](spark, SF_DIR),
                      "BroadcastNestedLoopJoin")


def test_repetition_aggs_have_map_side_partials(spark):
    df = QUERIES["repetition_score"](spark, SF_DIR)
    assert plan_has(df, "partial_"), "bigram agg lost map-side combine"


def test_cross_source_overlap_sketch_shapes(spark):
    """The source sketch must partial-aggregate map-side (the shuffle
    carries 16-hash rows per source, not the shingle stream), and the
    pairwise stage must be a broadcast of the sketch table — never a
    shuffled or cartesian join over shingles."""
    df = QUERIES["cross_source_overlap"](spark, SF_DIR)
    assert plan_has(df, "partial_min")
    assert plan_has(df, "BroadcastNestedLoopJoin")  # tiny sketch x sketch
    assert plan_lacks(df, "CartesianProduct")


def test_exe_maple_is_arrow_batched(spark):
    """The exe adapter rides mapInPandas (ArrowEvalPython/MapInPandas),
    never row-at-a-time BatchEvalPython."""
    df = QUERIES["mr_wordcount_exe"](spark, SF_DIR)
    assert plan_lacks(df, "BatchEvalPython")


def test_curation_pipeline_is_single_scan_no_fact_shuffle_join(spark):
    """The composed pipeline must stay one corpus scan + broadcast
    label join + one partial-agg exchange — never a fact-fact
    SortMergeJoin."""
    df = QUERIES["curation_pipeline"](spark, SF_DIR)
    assert plan_has(df, "BroadcastHashJoin")
    assert plan_lacks(df, "SortMergeJoin")
    assert plan_has(df, "partial_count")


def test_wave6_plan_shapes(spark):
    """New-wave shapes: percentile-threshold rankers must not go
    cartesian (their only nested-loop is the broadcast 1-row cutoff
    table); the salted join must be a true equi join; the bounded
    rolling windows must cost exactly ONE exchange (the user
    hash-partitioning) and no more."""
    for name in ("customer_rfm", "revenue_concentration",
                 "fk_integrity", "graph_degree_dist",
                 "orders_mom_growth", "vocab_growth"):
        assert plan_lacks(QUERIES[name](spark, SF_DIR),
                          "CartesianProduct"), name
    assert plan_lacks(QUERIES["events_skew_join"](spark, SF_DIR),
                      "BroadcastNestedLoopJoin", "CartesianProduct")
    for name in ("events_rolling_median", "events_ewma"):
        plan = formatted_plan(QUERIES[name](spark, SF_DIR))
        # count Exchange operator nodes in the tree rendering
        n = sum(1 for ln in plan.splitlines()
                if "+- Exchange" in ln or ":- Exchange" in ln)
        assert n == 1, (name, n, plan)


def test_wave9_to_11_plan_shapes(spark):
    """This round's new waves keep the posture: no cartesian products
    (the only nested loops are broadcast 1-row/bounded tables), the
    global top-k queries plan as TakeOrderedAndProject (never a
    global sort), and the shingle-heavy containment op stays free of
    Python evaluation."""
    for name in ("events_autocorr", "funnel_latency",
                 "customer_repeat_cohort", "nation_share_yoy",
                 "user_behavior_gini", "ngram_novelty",
                 "split_ks_check", "semantic_outliers",
                 "minhash_containment", "user_churn", "l_diversity",
                 "events_dow_profile"):
        assert plan_lacks(QUERIES[name](spark, SF_DIR),
                          "CartesianProduct"), name
    for name in ("top_returned_parts", "token_rank_curve"):
        plan = formatted_plan(QUERIES[name](spark, SF_DIR))
        assert "TakeOrderedAndProject" in plan, name
        assert "CartesianProduct" not in plan, name
    assert plan_lacks(QUERIES["minhash_containment"](spark, SF_DIR),
                      "BatchEvalPython")


def test_wave12_to_14_plan_shapes(spark):
    """Sampling/survivorship/contrastive/survival waves: no cartesian
    products (bounded centroid/day-grid fan-outs are broadcast
    nested loops over constant-size tables, never CartesianProduct),
    the ambiguity ranking is TakeOrderedAndProject, and the LSH
    mining path stays JVM-only."""
    for name in ("stratified_reservoir", "dedup_survivorship",
                 "tokenizer_oov_rate", "hard_negative_mining",
                 "session_lengths", "returns_mix_shift",
                 "user_survival_km", "events_cusum",
                 "discount_qty_elasticity"):
        assert plan_lacks(QUERIES[name](spark, SF_DIR),
                          "CartesianProduct"), name
    plan = formatted_plan(QUERIES["embedding_margin"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert plan_lacks(QUERIES["hard_negative_mining"](spark, SF_DIR),
                      "BatchEvalPython")


def test_wave15_to_18_plan_shapes(spark):
    """Skew census, Gini stitch, forecasting, BFS/k-core, rules, and
    the banding sweep keep the posture: no cartesian products, no
    Python eval, and the graph family's pair source is the in-array
    expansion (Generate over collect_set), not an order-key
    self-join."""
    for name in ("join_key_skew", "revenue_gini",
                 "events_holt_forecast", "events_daily_quantiles",
                 "graph_bfs_reach", "kcore_census", "assoc_rules",
                 "ab_test_zstat", "lsh_param_sweep",
                 "events_grouping_sets"):
        df = QUERIES[name](spark, SF_DIR)
        assert plan_lacks(df, "CartesianProduct"), name
        assert plan_lacks(df, "BatchEvalPython"), name
    for name in ("graph_degree_dist", "basket_pairs"):
        plan = formatted_plan(QUERIES[name](spark, SF_DIR))
        assert "Generate" in plan, name  # in-array pair explode
        # the order-key self-join is gone entirely
        assert "SortMergeJoin" not in plan, name
        assert "ShuffledHashJoin" not in plan, name


def test_wave19_plan_shapes(spark):
    """Stats/CV/decay wave: no cartesian products or Python eval
    anywhere; the OLS dimension joins broadcast; the audience pair
    source is the in-array expansion, never a distinct-by-distinct
    self-join on user_id."""
    for name in ("decayed_popularity", "kfold_assign",
                 "revenue_trend_ols", "events_chi2_dow",
                 "events_mad_outliers", "audience_overlap",
                 "events_throttle", "customer_decile_migration",
                 "embedding_dim_variance"):
        df = QUERIES[name](spark, SF_DIR)
        assert plan_lacks(df, "CartesianProduct"), name
        assert plan_lacks(df, "BatchEvalPython"), name
    assert plan_has(QUERIES["revenue_trend_ols"](spark, SF_DIR),
                    "BroadcastHashJoin")
    plan = formatted_plan(QUERIES["audience_overlap"](spark, SF_DIR))
    assert "Generate" in plan  # in-array pair explode
    assert "SortMergeJoin" not in plan


def test_wave20_plan_shapes(spark):
    """Audit/bootstrap/conformance wave: no cartesian products; all
    JVM-only (the multimodal audio op is excluded — its decode stage
    is the intentional Arrow-Python kernel); the order audit's
    fact-fact join is a shuffle join, not a broadcast of a fact."""
    for name in ("late_arrival_census", "order_total_audit",
                 "bootstrap_ci", "lifecycle_conformance",
                 "source_boilerplate"):
        df = QUERIES[name](spark, SF_DIR)
        assert plan_lacks(df, "CartesianProduct"), name
        assert plan_lacks(df, "BatchEvalPython"), name
    plan = formatted_plan(QUERIES["order_total_audit"](spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_retrieval_wave_plan_shapes(spark):
    """Retrieval stack: fusion/expansion/snippets stay JVM-only with
    no cartesian products (maxsim's only nested loop is the broadcast
    16-vector query panel — the ann_topk_brute posture); snippets
    must not explode the token stream (no Generate)."""
    for name in ("hybrid_rank_fusion", "query_expansion_prf",
                 "snippet_extract"):
        df = QUERIES[name](spark, SF_DIR)
        assert plan_lacks(df, "CartesianProduct"), name
        assert plan_lacks(df, "BatchEvalPython"), name
    assert plan_lacks(QUERIES["ann_maxsim"](spark, SF_DIR),
                      "BatchEvalPython")
    plan = formatted_plan(QUERIES["snippet_extract"](spark, SF_DIR))
    assert "Generate" not in plan
    assert "TakeOrderedAndProject" in plan


def test_wave21_plan_shapes(spark):
    """Weighted-median stitch, bot rules, sketch agreement, entity
    canonicalization: no cartesian products, no Python eval; the
    weighted median's only nested loop is the triangular broadcast
    bucket prefix; the agreement census' pair sources are banded
    equi-joins and in-array expansion."""
    for name in ("weighted_median_price", "bot_rule_census",
                 "dedup_agreement", "entity_canonicalize"):
        df = QUERIES[name](spark, SF_DIR)
        assert plan_lacks(df, "CartesianProduct"), name
        assert plan_lacks(df, "BatchEvalPython"), name


def test_selection_wave_plan_shapes(spark):
    """dsir_importance / doc_lm_typicality (round 3): fully JVM-side
    (the deterministic-ln is sqrt chains in codegen, no Python eval),
    models come back as broadcast joins, per-doc folds are partial
    aggregates — no cartesian products beyond the broadcast 1-row
    totals, no windows."""
    for name in ("dsir_importance", "doc_lm_typicality"):
        df = QUERIES[name](spark, SF_DIR)
        plan = formatted_plan(df)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastHashJoin" in plan, name
        assert "partial_" in plan, name  # map-side combine on the aggs
        assert "Window" not in plan, name


def test_q2_q16_filter_below_pair_dedup(spark):
    """Round-3 plan fix: the selective part/supplier broadcast joins
    must run BELOW the (l_partkey, l_suppkey) dedup, so the dedup
    exchange carries the filtered slice, not full lineitem. In the
    formatted plan the HashAggregate keys must appear ABOVE (after)
    the BroadcastHashJoin in execution order."""
    import re

    for name in ("q2_best_supplier", "q16_supplier_counts"):
        plan = formatted_plan(QUERIES[name](spark, SF_DIR))
        # formatted-plan node ids number leaves-first, so "consumes
        # the join output" == the dedup aggregate's node id is larger
        # than a BroadcastHashJoin's id
        join_ids = [int(m) for m in re.findall(
            r"\((\d+)\) BroadcastHashJoin", plan)]
        dedup_ids = [
            int(m.group(1))
            for m in re.finditer(r"\((\d+)\) (?:Hash|Sort|ObjectHash)Aggregate[^(]*?"
                                 r"Keys \[\d+\]: \[l_partkey", plan,
                                 re.S)
        ]
        assert join_ids and dedup_ids, (name, plan[:500])
        assert min(dedup_ids) > min(join_ids), (name, dedup_ids,
                                                join_ids)


def test_entropy_wave_plan_shapes(spark):
    """doc_token_entropy / token_js_divergence / user_markov_entropy /
    zipf_exponent (round 3): fully JVM-side (ln is sqrt chains inside
    codegen), every agg has a map-side partial, no cartesian products;
    the only windows are partitioned by user (markov) or run over the
    per-source vocab (zipf rank) — never a global single partition."""
    for name in ("doc_token_entropy", "token_js_divergence",
                 "user_markov_entropy", "zipf_exponent"):
        df = QUERIES[name](spark, SF_DIR)
        plan = formatted_plan(df)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "partial_" in plan, name
    # the JS divergence broadcasts its bounded per-source totals
    js = formatted_plan(QUERIES["token_js_divergence"](spark, SF_DIR))
    assert "BroadcastHashJoin" in js
    assert "Window" not in js
    # windowed ops: partition spec is user/source, never empty
    for name, key in (("user_markov_entropy", "user_id"),
                      ("zipf_exponent", "source")):
        plan = formatted_plan(QUERIES[name](spark, SF_DIR))
        import re
        specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        assert specs, name
        assert all(key in s for s in specs), (name, specs)


def test_wave16_plan_shapes(spark):
    """t_closeness / events_changepoint / benford_audit: bounded-grid
    aggregations with broadcast margins — no cartesian products, no
    Python eval, partial aggs everywhere; the changepoint prefix
    window partitions by event_type over the calendar grid, never
    globally."""
    import re

    for name in ("t_closeness", "events_changepoint", "benford_audit"):
        df = QUERIES[name](spark, SF_DIR)
        plan = formatted_plan(df)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "partial_" in plan, name
        assert "BroadcastHashJoin" in plan, name
    cp = formatted_plan(QUERIES["events_changepoint"](spark, SF_DIR))
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", cp)
    assert specs and all("event_type" in s for s in specs), specs


def test_sampling_retrieval_wave_plan_shapes(spark):
    """weighted_sample: narrow key expression + TakeOrderedAndProject
    — the entire corpus-scale plan is scan -> project -> top-k, no
    shuffle, no window. ndcg_eval: rank windows only over the
    bounded (<= 20 row) TakeOrdered heads, folds over constant-size
    lists, no Python eval."""
    ws = formatted_plan(QUERIES["weighted_sample"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in ws
    assert "Window" not in ws
    assert "Exchange hashpartitioning" not in ws
    nd = formatted_plan(QUERIES["ndcg_eval"](spark, SF_DIR))
    assert "BatchEvalPython" not in nd
    assert "CartesianProduct" not in nd


def test_mlstats2_plan_shapes(spark):
    """Wave-12 stats/link-analysis ops: no Python eval anywhere; the
    HITS edge build is a real equi join feeding a distinct partial
    agg, with both top-k sides TakeOrderedAndProject (never a global
    sort/window); mannwhitney's only window is the allowlisted
    <= 50-row quantity grid; theil_sen's pair join runs over the
    bounded calendar grid (months^2/2 rows — its nested loop is over
    a constant-size broadcast side, not data volume); wilson is one
    partial agg."""
    for name in ("mannwhitney_qty", "theil_sen_trend",
                 "wilson_ci_rates", "hits_scores"):
        df = QUERIES[name](spark, SF_DIR)
        assert plan_lacks(df, "BatchEvalPython"), name
        assert plan_lacks(df, "CartesianProduct"), name
    hits = formatted_plan(QUERIES["hits_scores"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in hits
    assert hits.count("HashAggregate") >= 2  # distinct + per-node aggs
    assert "partial_" in hits  # map-side combine on the degree sums
    assert not global_ordered_windows(hits)
    assert plan_has(QUERIES["wilson_ci_rates"](spark, SF_DIR),
                    "partial_count")


def test_wave13_plan_shapes(spark):
    """Corpus-QA wave: skipgram pairs come from the in-array
    transform (Generate), never a positional self-join; the top-30 is
    TakeOrderedAndProject with broadcast unigram joins; the moments
    and card are partial-agg only (no windows, no cartesian products,
    no Python eval anywhere); retrieval_pr_eval's only global window
    is the allowlisted 20-row bm25 head."""
    for name in ("retrieval_pr_eval", "skipgram_lift",
                 "source_length_moments", "dataset_card"):
        df = QUERIES[name](spark, SF_DIR)
        assert plan_lacks(df, "BatchEvalPython"), name
        assert plan_lacks(df, "CartesianProduct"), name
    # r7: the tagged pair+unigram Generate sits BEHIND the count
    # table's localCheckpoint, so the final plan reads the
    # materialized RDD — assert the Generate on the pre-checkpoint
    # fragment and the consumer shape on the final plan
    from pyspark.sql import functions as F

    from distributed_system_mapreduce_spark.functions import text as X
    from distributed_system_mapreduce_spark.operators.curation import (
        SKIPGRAM_PAIR_EXPR,
    )
    from distributed_system_mapreduce_spark.tables import load_table

    toks = load_table(spark, "documents", SF_DIR).select(
        F.expr(X.TOKENS_EXPR).alias("t"))
    frag = formatted_plan(
        toks.select(F.explode(F.expr(SKIPGRAM_PAIR_EXPR)).alias("p")))
    assert "Generate" in frag
    assert "CartesianProduct" not in frag and "Join" not in frag
    sk = formatted_plan(QUERIES["skipgram_lift"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in sk
    assert "BroadcastHashJoin" in sk
    assert "SortMergeJoin" not in sk
    assert not global_ordered_windows(sk)
    for name in ("source_length_moments", "dataset_card"):
        plan = formatted_plan(QUERIES[name](spark, SF_DIR))
        assert "partial_" in plan, name
        assert "Window" not in plan, name


def test_wave14_plan_shapes(spark):
    """Index-health + calendar wave: everything JVM-only and
    cartesian-free; the bucket census and charset census are pure
    partial aggs (no windows, no joins beyond broadcast totals); the
    supplier census is TakeOrderedAndProject; the share-shift windows
    partition by priority (never global); the entropy fold's margin
    join broadcasts the bounded per-(source, bucket) table."""
    import re

    for name in ("lsh_bucket_balance", "charset_census",
                 "bigram_entropy_rate", "orders_seasonal_index",
                 "supplier_volume_skew", "priority_share_shift"):
        df = QUERIES[name](spark, SF_DIR)
        assert plan_lacks(df, "BatchEvalPython"), name
        assert plan_lacks(df, "CartesianProduct"), name
        assert not global_ordered_windows(formatted_plan(df)), name
    for name in ("lsh_bucket_balance", "charset_census",
                 "bigram_entropy_rate"):
        plan = formatted_plan(QUERIES[name](spark, SF_DIR))
        assert "partial_" in plan, name
    assert plan_has(QUERIES["supplier_volume_skew"](spark, SF_DIR),
                    "TakeOrderedAndProject", "BroadcastHashJoin")
    ss = formatted_plan(QUERIES["priority_share_shift"](spark, SF_DIR))
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", ss)
    assert specs and all("mode" in s for s in specs), specs


def test_wave15_plan_shapes(spark):
    """Dedup-tuning wave: the sweep's candidate source is the banded
    equi-join (no cartesian products, JVM-only) folding every
    threshold in one aggregation (a single stack Generate, no
    per-threshold unions of the candidate subtree); the prefix
    census is fingerprint-join + partial aggs with no windows."""
    for name in ("dedup_threshold_sweep", "doc_prefix_dup"):
        df = QUERIES[name](spark, SF_DIR)
        plan = formatted_plan(df)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert not global_ordered_windows(plan), name
        assert "partial_" in plan, name
    assert plan_lacks(QUERIES["doc_prefix_dup"](spark, SF_DIR),
                      "Window")


def test_wave16_plan_shapes(spark):
    """Estimator-PR folds every threshold over ONE candidate-estimate
    subtree (single stack Generate, no cartesian products, JVM-only);
    compression_ratio is the intentional Arrow-Python kernel — its
    plan must be MapInPandas (never row-at-a-time BatchEvalPython)
    over a narrow projected scan."""
    pr = formatted_plan(QUERIES["dedup_estimator_pr"](spark, SF_DIR))
    assert "BatchEvalPython" not in pr
    assert "CartesianProduct" not in pr
    assert not global_ordered_windows(pr)
    cr = formatted_plan(QUERIES["compression_ratio"](spark, SF_DIR))
    assert "MapInPandas" in cr
    assert "BatchEvalPython" not in cr
    assert "Exchange hashpartitioning" not in cr  # narrow map, no shuffle


def test_wave17_plan_shapes(spark):
    """Graph-quality metrics: no Python eval, no cartesian products,
    no windows; every aggregate partial-combines map-side; the only
    nested loops are broadcast 1-row total joins."""
    for name in ("graph_modularity", "graph_assortativity"):
        df = QUERIES[name](spark, SF_DIR)
        plan = formatted_plan(df)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "Window" not in plan, name
        assert "partial_" in plan, name


def test_wave18_plan_shapes(spark):
    """Curation-budgeting wave: the frontier is ONE conditional
    aggregation over a narrow scored scan (single stack Generate, no
    joins beyond its own 1-row wide result); the weights are one
    partial agg + broadcast total. JVM-only, no windows."""
    for name in ("quality_pareto_frontier", "source_sampling_weights"):
        df = QUERIES[name](spark, SF_DIR)
        plan = formatted_plan(df)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "Window" not in plan, name
        assert "partial_" in plan, name


def test_wave20_contact_trace_plan(spark):
    """The interval-overlap join must ride the bucketized equi-join
    (hash join on (loc, bucket)), never a nested-loop/cartesian over
    raw inequality predicates; JVM-only, no windows."""
    df = QUERIES["mr_contact_trace"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan
    assert "Generate" in plan  # the bucket explode


def test_rake_and_kmv_plan_shapes(spark):
    """keyphrase_rake: doc-partitioned run-id window (never global),
    partial aggs, TakeOrdered head. kmv_set_ops: the only nested
    loop is the broadcast partner-type join over the bounded sketch
    table."""
    import re

    rk = formatted_plan(QUERIES["keyphrase_rake"](spark, SF_DIR))
    assert "BatchEvalPython" not in rk
    assert "CartesianProduct" not in rk
    assert "TakeOrderedAndProject" in rk
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", rk)
    assert specs and all("doc_id" in s for s in specs), specs
    kv = formatted_plan(QUERIES["kmv_set_ops"](spark, SF_DIR))
    assert "BatchEvalPython" not in kv
    assert "CartesianProduct" not in kv


def test_sketch_certify_plan_shapes(spark):
    """The two r6 sketch certifications keep the 100 TB shapes: the
    quantile certify is one JVM-side grouped aggregate (exact
    percentile + sketch side by side, no Python eval, no cartesian);
    the MG certify broadcasts the summary-sized sketch table onto the
    exact vocabulary rollup (never shuffling the vocab against the
    sketch) and its only Python stage is the Arrow-batched summary
    kernel."""
    df = QUERIES["approx_quantiles_certify"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_percentile" in plan or "ObjectHashAggregate" in plan

    df = QUERIES["freq_items_certify"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan     # sketch table broadcast
    assert "BatchEvalPython" not in plan   # Arrow (mapInPandas) only
