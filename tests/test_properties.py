"""Property-based tests (hypothesis) for engine invariants:
partitioning correctness, salted-agg equivalence, kv-format
roundtrips, and MinHash estimate sanity."""

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from distributed_system_mapreduce_spark.engine.maple_juice import (
    MapleJuice,
    wrap_line_job,
)
from distributed_system_mapreduce_spark.functions.skew import salted_agg

_slow = settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

words = st.lists(
    st.text(alphabet="abcxyz", min_size=1, max_size=4),
    min_size=0, max_size=30,
)


@_slow
@given(lines=st.lists(words, min_size=1, max_size=20))
def test_engine_wordcount_equals_python_counter(spark, lines):
    """MapleJuice(hash) == collections.Counter, for any input."""
    from collections import Counter

    texts = [" ".join(ws) for ws in lines]
    expected = Counter(t for line in texts for t in line.split())
    df = spark.createDataFrame([(t,) for t in texts], "line string")
    mj = MapleJuice(spark)
    out = mj.run(
        df,
        wrap_line_job(lambda line: [(t, "1") for t in line.split()]),
        lambda k, g: pd.DataFrame(
            {"word": [k], "cnt": [g["value"].astype("int64").sum()]}),
        output_schema="word string, cnt long",
    )
    got = {r["word"]: r["cnt"] for r in out.collect()}
    assert got == dict(expected)


@_slow
@given(lines=st.lists(words, min_size=1, max_size=12))
def test_hash_and_range_partitions_agree(spark, lines):
    texts = [" ".join(ws) for ws in lines]
    df = spark.createDataFrame([(t,) for t in texts], "line string")
    mj = MapleJuice(spark)
    job = wrap_line_job(lambda line: [(t, "1") for t in line.split()])
    red = lambda k, g: pd.DataFrame(  # noqa: E731
        {"word": [k], "cnt": [g["value"].astype("int64").sum()]})
    hash_out = {(r["word"], r["cnt"]) for r in mj.run(
        df, job, red, output_schema="word string, cnt long").collect()}
    range_out = {(r["word"], r["cnt"]) for r in mj.run(
        df, job, red, partition="range", num_juices=3,
        output_schema="word string, cnt long").collect()}
    assert hash_out == range_out


@_slow
@given(rows=st.lists(
    st.tuples(st.sampled_from(["a", "b", "c"]),
              st.integers(min_value=-1000, max_value=1000)),
    min_size=1, max_size=50,
))
def test_salted_agg_matches_plain_groupby(spark, rows):
    df = spark.createDataFrame(rows, "k string, v long")
    got = {
        (r["k"], r["n"], r["total"], r["mx"])
        for r in salted_agg(
            df, "k",
            {"n": ("count", "*"), "total": ("sum", "v"),
             "mx": ("max", "v")},
            n_salts=4,
        ).collect()
    }
    from pyspark.sql import functions as F

    want = {
        (r["k"], r["n"], r["total"], r["mx"])
        for r in df.groupBy("k").agg(
            F.count("*").alias("n"), F.sum("v").alias("total"),
            F.max("v").alias("mx")).collect()
    }
    assert got == want


def test_kv_lines_roundtrip(spark, tmp_path):
    from distributed_system_mapreduce_spark.sources.text_lines import (
        read_kv_lines,
        read_lines,
        write_lines,
    )

    data = [("alpha", "1"), ("beta", "2 3"), ("gamma", "")]
    df = spark.createDataFrame(
        [(f"{k} {v}".strip(),) for k, v in data], "line string")
    path = str(tmp_path / "kv")
    write_lines(df, path)
    kv = {(r["key"], r["value"]) for r in
          read_kv_lines(spark, path).collect()}
    assert kv == set(data)
    assert read_lines(spark, path, min_partitions=4).rdd \
        .getNumPartitions() >= 4


def test_salted_join_equals_plain_join(spark):
    """salted_join must be row-for-row identical to the plain join."""
    from distributed_system_mapreduce_spark.functions.skew import salted_join
    from distributed_system_mapreduce_spark.tables import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, "events", SF_DIR).select("event_id", "user_id")
    cust = (load_table(spark, "customer", SF_DIR)
            .selectExpr("c_custkey AS user_id", "c_mktsegment"))
    got = sorted(
        tuple(r) for r in salted_join(ev, cust, "user_id").collect())
    want = sorted(tuple(r) for r in ev.join(cust, "user_id").collect())
    assert got == want


def test_dedup_substring_detects_planted_run(spark, tmp_path):
    """Semantic check on a synthetic corpus: two docs sharing one
    12-token run are flagged with exactly the shared windows an
    8-token stride-1 scan implies (12 - 8 + 1 = 5); an unrelated doc
    reports zero."""
    from distributed_system_mapreduce_spark.operators.dedup import (
        dedup_substring,
    )

    run = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima"
    docs = [
        (1, f"intro one two three {run} outro aa bb cc", "s1", "en"),
        (2, f"different preamble {run} and a different tail here", "s1", "en"),
        (3, "totally unrelated text with enough tokens to window "
            "one two three four five six seven eight nine ten", "s2", "en"),
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, source string, lang string")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r["doc_id"]: (r["n_shared"], r["n_windows"])
           for r in dedup_substring(spark, str(tmp_path)).collect()}
    assert out[3][0] == 0
    assert out[1][0] == 5 and out[2][0] == 5  # 12-token run -> 5 windows
    assert out[1][1] > 5 and out[2][1] > 5


def test_tokenizer_cross_engine_fuzz(spark):
    """Batch fuzz of the portability contract underlying every text
    query: Spark TOKENS_EXPR and DuckDB TOKENS_SQL must tokenize
    identically. 300 seeded adversarial texts (whitespace runs, edge
    punctuation, empties) compared in ONE job per engine."""
    import random

    import duckdb

    from distributed_system_mapreduce_spark.functions import text as X

    rng = random.Random(20260813)
    pieces = ["the", "a1", "B", "x-y", "e.g", "don't", "42", "!!", "..",
              "word", "CAPS", "mIxEd", "a_b", "#tag", "(par)", "[br]"]
    ws = [" ", "  ", "\t", "\n", "\r\n", " \t ", "\f", "\v"]
    texts = ["", " ", "\t\n", "one", " lead", "trail ", "  both  "]
    for _ in range(300):
        n = rng.randint(1, 12)
        t = rng.choice(ws).join(rng.choice(pieces) for _ in range(n))
        if rng.random() < 0.3:
            t = rng.choice(ws) + t
        if rng.random() < 0.3:
            t = t + rng.choice(ws)
        texts.append(t)

    from pyspark.sql import functions as F

    sdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string")
    got = {r["i"]: r["toks"] for r in
           sdf.select("i", F.expr(X.TOKENS_EXPR).alias("toks")).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)",
                    [(i, t) for i, t in enumerate(texts)])
    want = dict(con.execute(
        f"SELECT i, {X.TOKENS_SQL} FROM t").fetchall())

    assert got == {k: list(v) for k, v in want.items()}

    # BPE-ish token counts must agree on the same adversarial set
    got_bpe = {r["i"]: r["n"] for r in sdf.select(
        "i", F.expr(f"regexp_count(text, '{X.BPE_PATTERN_EXPR}')")
        .alias("n")).collect()}
    want_bpe = dict(con.execute(
        f"SELECT i, {X.BPE_COUNT_SQL} FROM t").fetchall())
    assert got_bpe == want_bpe


def test_vector_fold_cross_engine_fuzz(spark):
    """dot / dist2 / norm / LSH bucket must be BIT-identical across
    engines (the property that makes ANN oracle-checkable). 200
    seeded random float32 vector pairs, one job per engine, repr()
    equality (exact doubles)."""
    import random
    import struct

    import duckdb

    from distributed_system_mapreduce_spark.functions import vectors as V

    rng = random.Random(42)

    def f32(x):
        # round-trip to float32 like the parquet embedding columns
        return struct.unpack("f", struct.pack("f", x))[0]

    pairs = []
    for i in range(200):
        a = [f32(rng.uniform(-2, 2)) for _ in range(V.DIM)]
        b = [f32(rng.uniform(-2, 2)) for _ in range(V.DIM)]
        pairs.append((i, a, b))

    sdf = spark.createDataFrame(
        pairs, "i long, a array<float>, b array<float>")
    from pyspark.sql import functions as F

    got = {
        r["i"]: (repr(r["dot"]), repr(r["d2"]), repr(r["nrm"]), r["bkt"])
        for r in sdf.select(
            "i",
            F.expr(V.dot_expr("a", "b")).alias("dot"),
            F.expr(V.dist2_expr("a", "b")).alias("d2"),
            F.expr(V.norm_expr("a")).alias("nrm"),
            F.expr(V.lsh_bucket_expr("a")).alias("bkt"),
        ).collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE v (i BIGINT, a FLOAT[], b FLOAT[])")
    con.executemany("INSERT INTO v VALUES (?, ?, ?)", pairs)
    want = {
        i: (repr(d), repr(d2), repr(n), bkt)
        for i, d, d2, n, bkt in con.execute(f"""
            SELECT i, {V.dot_sql('a', 'b')}, {V.dist2_sql('a', 'b')},
                   {V.norm_sql('a')}, {V.lsh_bucket_sql('a')}
            FROM v""").fetchall()
    }
    assert got == want


def test_events_anomaly_degenerate_groups_dont_throw(spark, tmp_path):
    """A type seen on one day (variance denominator 0) or with zero
    variance must yield NULL z / is_anomaly=0 — not an ANSI
    DIVIDE_BY_ZERO crash — identically on both engines."""
    import datetime

    import duckdb

    from distributed_system_mapreduce_spark.operators.events import (
        EVENTS_ANOMALY_SQL,
        events_anomaly,
    )

    base = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    eid = 0
    # 'solo': one day only; 'flat': 3 days, identical counts;
    # 'vary': 3 days, varying counts
    for day, counts in [(0, {"solo": 5, "flat": 4, "vary": 2}),
                        (1, {"flat": 4, "vary": 9}),
                        (2, {"flat": 4, "vary": 1})]:
        for typ, n in counts.items():
            for _ in range(n):
                eid += 1
                rows.append((eid, base + datetime.timedelta(days=day),
                             eid % 3, typ, 1.0, "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double, props string")
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    out = events_anomaly(spark, str(tmp_path)).collect()
    got = {(str(r["day"]), r["event_type"]): (r["z"], r["is_anomaly"])
           for r in out}
    assert all(v == (None, 0) for k, v in got.items() if k[1] in
               ("solo", "flat"))
    assert any(v[0] is not None for k, v in got.items() if k[1] == "vary")

    con = duckdb.connect()
    con.execute(f"""CREATE VIEW events AS SELECT * FROM
        read_parquet('{tmp_path}/events.parquet/*.parquet')""")
    want = {(str(r[0]), r[1]): (r[3], r[4]) for r in con.execute(
        EVENTS_ANOMALY_SQL.replace("n AS n_events", "n AS n_events")
    ).fetchall()}
    got_cmp = {k: (repr(v[0]), v[1]) for k, v in got.items()}
    want_cmp = {k: (repr(v[0]), v[1]) for k, v in want.items()}
    assert got_cmp == want_cmp


@_slow
@given(texts=st.lists(
    st.text(
        # printable ASCII + some unicode + the whitespace family the
        # tokenizer contract cares about (incl. \x0b where Java \s and
        # RE2 \s historically diverge)
        alphabet=st.sampled_from(
            list("abcXYZ019 .,!?-_\t\n\r\x0b\x0c") + ["é", "Ж", "中"]),
        min_size=0, max_size=40),
    min_size=1, max_size=12))
def test_text_normalize_cross_engine_fuzz(spark, texts):
    """text_normalize's regex pipeline must produce IDENTICAL strings
    and token counts on Spark (Java regex) and DuckDB (RE2) for
    arbitrary input — the class [^a-z0-9 ] and ' +' collapse live in
    the engines' common subset; this fuzz pins that claim."""
    import duckdb

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +", " "))
    got = {
        r["doc_id"]: (r["n"], r["c"])
        for r in df.select(
            "doc_id", norm.alias("n"),
            F.expr(
                "size(filter(split(trim(regexp_replace(regexp_replace("
                "lower(text), '[^a-z0-9 ]', ' '), ' +', ' ')), ' '), "
                "t -> t <> ''))").alias("c"),
        ).collect()
    }
    con = duckdb.connect()
    con.register("t", pd.DataFrame({
        "doc_id": range(len(texts)), "text": texts}))
    want = {
        r[0]: (r[1], r[2])
        for r in con.sql("""
            SELECT doc_id,
                   trim(regexp_replace(regexp_replace(lower(text),
                        '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS n,
                   len(list_filter(string_split(
                        trim(regexp_replace(regexp_replace(lower(text),
                             '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')),
                        ' '), x -> x <> '')) AS c
            FROM t""").fetchall()
    }
    assert got == want


@_slow
@given(
    keys=st.lists(st.integers(min_value=0, max_value=10_000),
                  min_size=1, max_size=60),
    probes=st.lists(st.integers(min_value=0, max_value=10_000),
                    min_size=1, max_size=60),
)
def test_bloom_probe_never_false_negative(spark, keys, probes):
    """For ANY key set and probe set, every true member passes the
    Bloom probe (the filter may admit extras, never drop members) —
    the property that makes Bloom pre-filtering sound as a semi-join
    optimization."""
    from pyspark.sql import functions as F

    from distributed_system_mapreduce_spark.operators.probabilistic import (
        BLOOM_HASHES,
        BLOOM_WORDS,
        _pos_expr,
    )

    kdf = spark.createDataFrame(
        [(int(k),) for k in set(keys)], "k long")
    bits = kdf.select(
        F.explode(F.array(*[
            F.expr(_pos_expr(j, "k")) for j in range(BLOOM_HASHES)
        ])).alias("pos")
    ).select(
        F.expr("CAST(pos DIV 32 AS INT)").alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))")
        .alias("mask"),
    )
    words_df = bits.groupBy("word").agg(F.bit_or("mask").alias("mask"))
    dense = (
        spark.range(BLOOM_WORDS)
        .select(F.col("id").cast("int").alias("word"))
        .join(words_df, "word", "left")
        .agg(F.array_sort(F.collect_list(F.struct(
            "word", F.coalesce("mask", F.lit(0).cast("bigint"))
            .alias("mask")))).alias("wm"))
        .select(F.expr("transform(wm, x -> x.mask)").alias("ms"))
    )
    pass_expr = " AND ".join(
        f"((element_at(ms, CAST(({p}) DIV 32 AS INT) + 1) & "
        f"shiftleft(CAST(1 AS BIGINT), CAST(({p}) % 32 AS INT))) <> 0)"
        for p in (_pos_expr(j, "k") for j in range(BLOOM_HASHES))
    )
    pdf = spark.createDataFrame(
        [(int(p),) for p in set(probes) | set(keys)], "k long")
    got = {
        r["k"]: r["pass"]
        for r in pdf.crossJoin(F.broadcast(dense))
        .withColumn("pass", F.expr(pass_expr)).collect()
    }
    for k in set(keys):
        assert got[k], f"member {k} dropped by the Bloom filter"


@_slow
@given(vals=st.lists(
    st.text(alphabet="abcdefgh", min_size=1, max_size=6),
    min_size=1, max_size=200))
def test_kmv_bottom_k_selection_is_exact(spark, vals):
    """The salted two-phase bottom-K keeps EXACTLY the K smallest
    distinct hashes (same claim the oracle's single window makes) —
    checked against Python's sorted() on any value multiset, through
    the real kmv pipeline stages."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from distributed_system_mapreduce_spark.operators.probabilistic import (
        KMV_K,
        KMV_SALTS,
        _hex_conv,
    )

    df = spark.createDataFrame(
        [(v,) for v in set(vals)], "s string").select(
        "s", F.expr(_hex_conv("md5(s)", 13)).alias("h"))
    w1 = Window.partitionBy(
        F.pmod(F.col("h"), F.lit(KMV_SALTS))).orderBy("h", "s")
    phase1 = (df.withColumn("rn", F.row_number().over(w1))
              .filter(F.col("rn") <= KMV_K).drop("rn"))
    w2 = Window.partitionBy(F.lit(1)).orderBy("h", "s")
    kept = sorted(
        r["h"]
        for r in phase1.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= KMV_K).collect()
    )
    import hashlib

    def h52(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:13], 16)

    want = sorted(h52(v) for v in set(vals))[:KMV_K]
    assert kept == want


@_slow
@given(counts=st.lists(st.integers(min_value=0, max_value=50),
                       min_size=2, max_size=25))
def test_cusum_fold_equals_python_recurrence(spark, counts):
    """The events_cusum scaled integer fold must equal the plain
    Python CUSUM recurrence on an arbitrary daily series (single
    type, synthetic days)."""
    import datetime

    from pyspark.sql import functions as F

    n = len(counts)
    total = sum(counts)
    s = best = 0
    at = None
    for i, c in enumerate(counts):
        s = max(0, s + n * c - total)
        if s > best:
            best, at = s, datetime.date(2024, 1, 1) + datetime.timedelta(
                days=i)
    rows = [("t", datetime.date(2024, 1, 1) + datetime.timedelta(days=i),
             n * c - total) for i, c in enumerate(counts)]
    df = spark.createDataFrame(
        rows, "event_type string, day date, term long")
    fold = (
        "aggregate(array_sort(arr), "
        "named_struct('s', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT),"
        " 'at', CAST(NULL AS DATE)), "
        "(acc, e) -> named_struct("
        "  's', greatest(CAST(0 AS BIGINT), acc.s + e.term),"
        "  'best', CASE WHEN greatest(CAST(0 AS BIGINT),"
        "       acc.s + e.term) > acc.best"
        "       THEN greatest(CAST(0 AS BIGINT), acc.s + e.term)"
        "       ELSE acc.best END,"
        "  'at', CASE WHEN greatest(CAST(0 AS BIGINT),"
        "       acc.s + e.term) > acc.best"
        "       THEN e.day ELSE acc.at END))"
    )
    out = (
        df.groupBy("event_type")
        .agg(F.expr("collect_list(struct(day, term))").alias("arr"))
        .select(F.expr(fold).alias("r"))
        .collect()[0]["r"]
    )
    assert out["best"] == best
    assert out["at"] == at


@_slow
@given(data=st.lists(
    st.tuples(st.integers(min_value=0, max_value=10),   # event day or None
              st.booleans()),                           # has event?
    min_size=1, max_size=30))
def test_km_matches_python_reference(spark, data):
    """user_survival_km's fold must reproduce the textbook
    Kaplan-Meier estimator computed in pure Python from the same
    per-user (event day | censor day) outcomes. Users are synthesized
    as single-event streams so the operator's day derivation is
    exercised end-to-end through a parquet round-trip."""
    import datetime

    import pandas as pd

    from distributed_system_mapreduce_spark.operators.events import (
        user_survival_km,
    )

    base = datetime.datetime(2024, 1, 1)
    horizon = 12
    rows = []
    outcomes = []
    for uid, (day, has_event) in enumerate(data):
        rows.append({"event_id": uid * 10, "ts": base,
                     "user_id": uid, "event_type": "view",
                     "value": 1.0, "props": "{}"})
        if has_event:
            rows.append({"event_id": uid * 10 + 1,
                         "ts": base + datetime.timedelta(days=day,
                                                         hours=1),
                         "user_id": uid, "event_type": "error",
                         "value": 1.0, "props": "{}"})
            outcomes.append((day, True))
        else:
            outcomes.append((None, False))
    # one sentinel user fixes the observation end for every run
    rows.append({"event_id": 999999, "ts": base + datetime.timedelta(
        days=horizon), "user_id": 999999, "event_type": "view",
        "value": 1.0, "props": "{}"})
    outcomes.append((None, False))
    import pathlib
    import tempfile

    # hypothesis reuses the function-scoped tmp_path across examples;
    # allocate a fresh dir per example instead
    sf = pathlib.Path(tempfile.mkdtemp(prefix="km_")) / "sf"
    sf.mkdir()
    pd.DataFrame(rows).to_parquet(sf / "events.parquet",
                                  coerce_timestamps="us",
                                  allow_truncated_timestamps=True)
    got = {
        r["day"]: (r["n_at_risk"], r["n_events"], r["survival"])
        for r in user_survival_km(spark, str(sf)).collect()
    }
    # pure-python KM in RELATIVE time (days since each user's entry):
    # regular users enter at day 0 (censor at `horizon`); the
    # sentinel enters at the horizon itself (censor at 0)
    pairs = [(d if ev else None, horizon)
             for d, ev in outcomes[:-1]] + [(None, 0)]
    n_total = len(pairs)
    surv = 1.0
    expected = {}
    for t in sorted({d for d, _ in pairs if d is not None}):
        d_t = sum(1 for d, _ in pairs if d == t)
        n_t = n_total \
            - sum(1 for d, _ in pairs if d is not None and d < t) \
            - sum(1 for d, c in pairs if d is None and c < t)
        surv = surv * ((n_t - d_t) / n_t)
        expected[t] = (n_t, d_t, surv)
    assert set(got) == set(expected)
    for t, (n_t, d_t, s_t) in expected.items():
        gn, gd, gs = got[t]
        assert (gn, gd) == (n_t, d_t), (t, got[t], expected[t])
        assert abs(gs - s_t) < 1e-12, (t, gs, s_t)


@_slow
@given(baskets=st.lists(
    st.lists(st.integers(min_value=1, max_value=12),
             min_size=0, max_size=6),
    min_size=1, max_size=12))
def test_copair_counts_equals_self_join_form(spark, baskets):
    """The in-array pair expansion (functions/graphs.py) must produce
    exactly the distinct-self-join pair counts for any basket
    multiset — including baskets with repeated items (set semantics)
    and singleton/empty baskets."""
    from pyspark.sql import functions as F

    from distributed_system_mapreduce_spark.functions.graphs import (
        copair_counts,
    )

    rows = [(o, p) for o, items in enumerate(baskets) for p in items]
    if not rows:
        rows = [(0, 1)]
    li = spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long")
    got = {(r["u"], r["v"]): r["w"]
           for r in copair_counts(li).collect()}
    d = li.distinct()
    a, b = d.alias("a"), d.alias("b")
    want = {
        (r["u"], r["v"]): r["w"]
        for r in (
            a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                   & (F.col("a.l_partkey") < F.col("b.l_partkey")))
            .groupBy(F.col("a.l_partkey").alias("u"),
                     F.col("b.l_partkey").alias("v"))
            .agg(F.count("*").alias("w"))
        ).collect()
    }
    assert got == want


def test_entropy_wave_semantic_invariants(spark):
    """Meaning checks beyond the oracle's exactness: entropies live in
    their information-theoretic ranges, the JS divergence respects its
    ln(2) bound, Zipf slopes are negative (frequency decreases with
    rank), and the deterministic-ln approximation error stays below
    the documented envelope on these ranges."""
    import math

    from distributed_system_mapreduce_spark.registry import QUERIES
    from tests.conftest import SF_DIR

    ent = QUERIES["doc_token_entropy"](spark, SF_DIR).collect()
    assert ent
    for r in ent:
        # 0 <= H <= ln(n_distinct) (+ ln_det envelope)
        assert r["entropy"] >= -1e-3, r
        assert r["entropy"] <= math.log(r["n_distinct"]) + 1e-3, r
        assert 0 < r["ttr"] <= 1.0, r

    js = QUERIES["token_js_divergence"](spark, SF_DIR).collect()
    assert js
    for r in js:
        assert -1e-3 <= r["js_divergence"] <= math.log(2) + 1e-3, r

    mk = QUERIES["user_markov_entropy"](spark, SF_DIR).collect()
    assert mk
    for r in mk:
        # entropy rate bounded by ln(#cells) over the user's own cells
        assert -1e-3 <= r["entropy_rate"], r
        assert r["entropy_rate"] <= math.log(max(r["n_cells"], 2)) + 1e-3, r

    zipf = QUERIES["zipf_exponent"](spark, SF_DIR).collect()
    assert zipf
    for r in zipf:
        assert r["zipf_slope"] < 0, r  # frequency falls with rank


def test_sampling_and_ndcg_semantic_invariants(spark):
    """weighted_sample must over-represent heavy docs (sample mean
    weight above the corpus mean — deterministic given the hash), and
    NDCG must be a valid normalized ranking score, non-increasing in
    stricter-is-harder fashion only if gains allow (just range-check
    each cutoff)."""
    from distributed_system_mapreduce_spark.registry import QUERIES
    from distributed_system_mapreduce_spark.tables import load_table
    from tests.conftest import SF_DIR

    sample = QUERIES["weighted_sample"](spark, SF_DIR).collect()
    assert len(sample) == 100
    mean_s = sum(r["weight"] for r in sample) / len(sample)
    docs = load_table(spark, "documents", SF_DIR).collect()
    mean_c = sum(r["n_chars"] for r in docs) / len(docs)
    assert mean_s > mean_c  # length-weighted sampling favors long docs

    nd = {r["k"]: r for r in QUERIES["ndcg_eval"](spark, SF_DIR).collect()}
    assert set(nd) == {5, 10, 20}
    for k, r in nd.items():
        assert 0.0 < r["ndcg"] <= 1.0 + 1e-9, (k, r)
        assert r["dcg"] <= r["idcg"] + 1e-9, (k, r)
