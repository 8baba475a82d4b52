"""Semantic test for the contact-tracing parity op:
recompute exposures with a literal pure-Python interval-overlap scan
over the collected visit table."""

from collections import defaultdict


def test_contact_trace_matches_pure_python(spark):
    from distributed_system_mapreduce_spark.operators.mapreduce_queries \
        import CONTACT_BASE_S, CONTACT_POS_MOD
    from distributed_system_mapreduce_spark.registry import QUERIES
    from distributed_system_mapreduce_spark.tables import load_table
    from tests.conftest import SF_DIR
    from pyspark.sql import functions as F

    ev = load_table(spark, "events", SF_DIR)
    ts_s = F.col("ts").cast("timestamp").cast("long")
    visits = ev.select(
        "user_id", F.col("event_type").alias("loc"), ts_s.alias("s"),
        (ts_s + F.lit(CONTACT_BASE_S)
         + F.floor(F.col("value")).cast("long")).alias("e")).collect()
    pos = [v for v in visits if v["user_id"] % CONTACT_POS_MOD == 0]
    exp = [v for v in visits if v["user_id"] % CONTACT_POS_MOD != 0]
    contacts = defaultdict(set)
    n_pairs = defaultdict(set)
    first = {}
    for c in exp:
        for p in pos:
            if (c["loc"] == p["loc"] and p["s"] <= c["e"]
                    and c["s"] <= p["e"]):
                u = c["user_id"]
                contacts[u].add(p["user_id"])
                n_pairs[u].add((p["user_id"], c["s"], p["s"]))
                ov = max(c["s"], p["s"])
                first[u] = min(first.get(u, ov), ov)
    got = {r["user_id"]: r for r in QUERIES["mr_contact_trace"](
        spark, SF_DIR).collect()}
    assert set(got) == set(contacts)
    for u, r in got.items():
        assert r["n_pos_contacts"] == len(contacts[u])
        assert r["n_overlap_visits"] == len(n_pairs[u])
        assert r["first_overlap_s"] == first[u]
