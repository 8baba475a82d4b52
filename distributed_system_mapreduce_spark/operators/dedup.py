"""Deduplication operators over `documents` — the core of an LLM
training-data pipeline, designed for the 100 TB shape:

- exact        : content-hash groupBy (linear, one shuffle)
- minhash LSH  : per-doc signature (linear) -> band-bucket join
                 (bounded buckets) -> candidate pairs. Never all-pairs.
- ngram jaccard: EXACT Jaccard verification, restricted to the LSH
                 candidate set (the textbook candidates->verify
                 pipeline; an unrestricted shingle self-join would
                 explode on hot shingles at scale).
- simhash      : 16-bit sign-sketch bucketing (linear)

Hash-family portability: h_i(s) = md5(i || ':' || s) compared as hex
strings — a valid min-wise family, and bit-identical in Spark and
DuckDB, so even MinHash signatures are oracle-checkable (most systems
give up and skip verification here).

Reference tie-in: the reference dedups only by exact SDFS filename;
these operators are the content-level generalization its wordcount/
vote jobs would need before aggregation.

Tuning and audit queries over the same machinery: dup-cluster size
stats, survivorship by quality, MinHash containment, LSH banding
sweep and bucket balance, the estimator threshold sweep and its
precision/recall against exact Jaccard, prefix and cross-language
duplicates. Their counts are exact integers and their rates single
fixed-order double expressions, so they hash-match DuckDB too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_system_mapreduce_spark.functions import text as X
from distributed_system_mapreduce_spark.lineage import cut, cut_deep
from distributed_system_mapreduce_spark.operators.text_analysis import (
    QUALITY_SCORE_SQL,
    quality_score,
)
from distributed_system_mapreduce_spark.tables import load_table, spread

N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS
JACCARD_TAU = 0.2


# ------------------------------------------------------------------ exact
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc exact-dup annotation: content hash, rank within the
    dup group (keeper = rank 1), group size."""
    docs = load_table(spark, "documents", sf_dir)
    from pyspark.sql import Window

    h = F.md5(F.col("text"))
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    wc = Window.partitionBy("content_hash")
    return (
        docs.select("doc_id", h.alias("content_hash"))
        .withColumn("dup_rank", F.row_number().over(w))
        .withColumn("group_size", F.count("*").over(wc))
        .withColumn("is_dup", (F.col("dup_rank") > 1).cast("boolean"))
    )


DEDUP_EXACT_SQL = """
SELECT doc_id, content_hash,
       ROW_NUMBER() OVER (PARTITION BY content_hash ORDER BY doc_id)
         AS dup_rank,
       COUNT(*) OVER (PARTITION BY content_hash) AS group_size,
       (ROW_NUMBER() OVER (PARTITION BY content_hash ORDER BY doc_id)) > 1
         AS is_dup
FROM (SELECT doc_id, md5(text) AS content_hash FROM documents)
"""


# ------------------------------------------------------- minhash helpers
def shingles_from_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, s) exploded distinct word-bigram shingles from any
    (doc_id, text) DataFrame — the df-level entry point (streaming
    micro-batches use it too).

    The explode MUST stay inline over the array expression with the
    tokens column materialized by the child projection — splitting
    this into a 'build array column, then explode it' project chain
    re-evaluates the token split per array element after projection
    collapse (measured 15x slower). Generate acts as the barrier that
    keeps `toks` computed once per doc."""
    toks = docs.select("doc_id", X.tokens().alias("toks"))
    return toks.select(
        "doc_id",
        F.explode(F.array_distinct(F.expr(X.shingles_from("toks"))))
        .alias("s"),
    )


def _shingle_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shingles_from_docs(
        spread(load_table(spark, "documents", sf_dir)))


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh: array<string>) distinct shingles as one array per
    doc, for the exact-Jaccard verify stage: array_intersect over two
    per-pair arrays beats a shingle-level equi-join. Built by
    re-grouping the fast exploded form (one shuffle, bounded by
    corpus size) — see _shingle_df for why not a narrow array
    projection."""
    return (
        _shingle_df(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.collect_list("s").alias("sh"))
    )


_SHINGLE_SQL = f"""
  SELECT DISTINCT doc_id, unnest({X.SHINGLES_SQL}) AS s FROM documents
"""


def _signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures: mh_i = min over shingles of md5(i ':' s).

    Shape: explode shingles -> groupBy(doc_id) with 16 min aggregates.
    Everything (md5 included) runs inside WholeStageCodegen, and
    Catalyst's partial aggregation takes the mins map-side — the
    shuffle carries ~one 16-hash row per doc per input partition, NOT
    the exploded shingle stream, so this scales linearly at 100 TB.
    (A narrow array_min(transform(...)) formulation avoids the shuffle
    entirely but runs interpreted, measured ~4x slower end-to-end.)
    Docs with no shingles (< 2 tokens) drop out via explode."""
    return signatures_from_docs(None, shingles=_shingle_df(spark, sf_dir))


def signatures_from_docs(docs: DataFrame | None,
                         shingles: DataFrame | None = None) -> DataFrame:
    """MinHash signatures from any (doc_id, text) DataFrame (or a
    pre-built shingle table) — df-level twin of _signatures."""
    sh = shingles if shingles is not None else shingles_from_docs(docs)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("s")))).alias(f"mh{i}")
        for i in range(N_HASHES)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


_SIG_COLS_SQL = ",\n         ".join(
    f"MIN(md5('{i}:' || s)) AS mh{i}" for i in range(N_HASHES)
)
_SIG_SQL = f"""
  SELECT doc_id,
         {_SIG_COLS_SQL}
  FROM ({_SHINGLE_SQL})
  GROUP BY doc_id
"""


def _bands_from(sig: DataFrame) -> DataFrame:
    """(doc_id, band, sig): band signature = md5 of its minhashes,
    derived from an existing signature DataFrame."""
    entries = []
    for b in range(N_BANDS):
        cols = [F.col(f"mh{b * ROWS_PER_BAND + r}")
                for r in range(ROWS_PER_BAND)]
        entries.append(F.struct(F.lit(b).alias("band"),
                                F.md5(F.concat(*cols)).alias("sig")))
    return sig.select(
        "doc_id", F.explode(F.array(*entries)).alias("e")
    ).select("doc_id", "e.band", "e.sig")


def _bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bands_from(_signatures(spark, sf_dir))


def bands_from_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, band, sig) LSH band table from any (doc_id, text)
    DataFrame — what a standing dedup index stores, and what a
    streaming ingest batch computes to probe it."""
    return _bands_from(signatures_from_docs(docs))


def _band_concat_sql(b: int) -> str:
    return " || ".join(f"mh{b * ROWS_PER_BAND + r}"
                       for r in range(ROWS_PER_BAND))


_BANDS_SQL = f"""
  SELECT doc_id, band, sig FROM (
    SELECT doc_id, unnest([{", ".join(
        f"{{'band': {b}, 'sig': md5({_band_concat_sql(b)})}}"
        for b in range(N_BANDS))}]) AS e
    FROM ({_SIG_SQL})
  ), LATERAL (SELECT e['band'] AS band, e['sig'] AS sig)
"""


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs: docs sharing >= 1 of 4 bands (4 hashes per
    band -> collision prob ~ j^4 per band). Output pair + #shared
    bands via a self-join on (band, sig) whose buckets only contain
    near-identical docs.

    The band table (4 short rows per doc — tiny next to the corpus)
    is materialized with localCheckpoint so the self-join's two sides
    share one signature computation instead of re-hashing every
    shingle twice; this is the signature store a production dedup
    pipeline would persist anyway."""
    bands = _bands(spark, sf_dir).transform(cut)
    return _candidates_from(bands)


def _candidates_from(bands: DataFrame) -> DataFrame:
    """LSH self-join over a (materialized) band table -> candidate
    pairs with shared-band counts."""
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.sig") == F.col("b.sig"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_shared_bands"))
    )


DEDUP_MINHASH_SQL = f"""
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       COUNT(*) AS n_shared_bands
FROM ({_BANDS_SQL}) a
JOIN ({_BANDS_SQL}) b
  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
"""


# ------------------------------------------- exact jaccard on candidates
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-bigram Jaccard over the LSH candidate pairs,
    thresholded at {tau}. candidates->verify keeps the exact
    computation linear in candidate count, not quadratic in corpus
    size; the intersection is array_intersect over the two per-doc
    shingle arrays (two hash joins on doc_id + a narrow map), not a
    shingle-level equi-join — no shuffle of raw shingle
    text.""".format(tau=JACCARD_TAU)
    # ONE tokenize+explode+groupBy(doc_id) pass produces BOTH the 16
    # minhash columns (for the LSH candidate stage) and the per-doc
    # shingle array (for the exact verify stage) — a naive composition
    # of dedup_minhash + _doc_shingles re-shingles the corpus twice
    # (measured ~1.8s -> ~1.2s at sf0.1, and every downstream consumer
    # — components, apply, curation_pipeline — inherits the saving).
    sh = _shingle_df(spark, sf_dir)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("s")))).alias(f"mh{i}")
        for i in range(N_HASHES)
    ] + [F.collect_list("s").alias("sh")]
    store = sh.groupBy("doc_id").agg(*aggs)
    store = cut(store)
    cand = _candidates_from(_bands_from(store)).select("doc_a", "doc_b")
    ds = store.select("doc_id", "sh")
    return _exact_jaccard(cand, ds)


def _exact_jaccard(cand: DataFrame, ds: DataFrame) -> DataFrame:
    """Thresholded exact bigram Jaccard over a candidate-pair DF,
    given the per-doc shingle-array table (see dedup_ngram_jaccard)."""
    pairs = (
        cand.join(ds.alias("da"), F.col("doc_a") == F.col("da.doc_id"))
        .join(ds.alias("db"), F.col("doc_b") == F.col("db.doc_id"))
        .select(
            "doc_a", "doc_b",
            F.size(F.array_intersect(F.col("da.sh"), F.col("db.sh")))
            .cast("long").alias("inter"),
            F.size("da.sh").cast("long").alias("na"),
            F.size("db.sh").cast("long").alias("nb"),
        )
    )
    return (
        pairs.select(
            "doc_a", "doc_b", "inter",
            (F.col("na") + F.col("nb") - F.col("inter")).alias("uni"),
            (
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter"))
                .cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_TAU)
    )


DEDUP_NGRAM_JACCARD_SQL = f"""
WITH cand AS (
  SELECT doc_a, doc_b FROM ({DEDUP_MINHASH_SQL})
),
sh AS ({_SHINGLE_SQL}),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT doc_a, doc_b, COUNT(*) AS inter
  FROM cand
  JOIN sh sa ON sa.doc_id = doc_a
  JOIN sh sb ON sb.doc_id = doc_b AND sa.s = sb.s
  GROUP BY doc_a, doc_b
)
SELECT doc_a, doc_b, inter,
       ca.n + cb.n - inter AS uni,
       CAST(inter AS DOUBLE) / CAST(ca.n + cb.n - inter AS DOUBLE)
         AS jaccard
FROM inter
JOIN cnt ca ON ca.doc_id = doc_a
JOIN cnt cb ON cb.doc_id = doc_b
WHERE CAST(inter AS DOUBLE) / CAST(ca.n + cb.n - inter AS DOUBLE)
      >= {JACCARD_TAU}
"""


# ---------------------------------------------------------------- simhash
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash: bit j is the sign of sum over distinct tokens of
    (+1 if hex digit j of md5(token) >= '8' else -1). Docs bucketed by
    sketch; bucket size annotates dup candidates.

    Narrow formulation: md5 once per distinct token via transform,
    then 16 JVM `aggregate` folds over the hash array — the sketch is
    a pure map stage; the only shuffle is the (doc_id, simhash)
    bucket-size window. Integer addition is commutative, so the fold
    order change vs an explode/groupBy is value-identical."""
    docs = spread(load_table(spark, "documents", sf_dir))
    hashed = docs.select(
        "doc_id",
        F.expr(
            f"transform(array_distinct({X.TOKENS_EXPR}), t -> md5(t))"
        ).alias("hs"),
    ).filter(F.size("hs") > 0)
    bit_sums = [
        F.expr(
            f"aggregate(hs, 0, (acc, h) -> acc + "
            f"CASE WHEN substring(h, {j + 1}, 1) >= '8' "
            f"THEN 1 ELSE -1 END)"
        ).alias(f"s{j}")
        for j in range(16)
    ]
    sums = hashed.select("doc_id", *bit_sums)
    sketch = F.concat(*[
        F.when(F.col(f"s{j}") > 0, "1").otherwise("0") for j in range(16)
    ])
    from pyspark.sql import Window

    wc = Window.partitionBy("simhash")
    return (
        sums.select("doc_id", sketch.alias("simhash"))
        .withColumn("bucket_size", F.count("*").over(wc))
    )


_SIMHASH_SUMS_SQL = ",\n         ".join(
    f"SUM(CASE WHEN substr(md5(t), {j + 1}, 1) >= '8' "
    f"THEN 1 ELSE -1 END) AS s{j}"
    for j in range(16)
)
_SIMHASH_BITS_SQL = " || ".join(
    f"CASE WHEN s{j} > 0 THEN '1' ELSE '0' END" for j in range(16)
)

DEDUP_SIMHASH_SQL = f"""
SELECT doc_id, simhash,
       COUNT(*) OVER (PARTITION BY simhash) AS bucket_size
FROM (
  SELECT doc_id, {_SIMHASH_BITS_SQL} AS simhash
  FROM (
    SELECT doc_id,
         {_SIMHASH_SUMS_SQL}
    FROM (SELECT DISTINCT doc_id, unnest({X.TOKENS_SQL}) AS t
          FROM documents)
    GROUP BY doc_id
  )
)
"""


def dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-vs-truth validation: for every LSH candidate pair,
    the Jaccard ESTIMATE from signature agreement (matching minhashes
    / 16 — the unbiased MinHash estimator) alongside the EXACT bigram
    Jaccard. The estimator error is what sizes N_HASHES on a real
    corpus; at 100 TB you monitor this on a sample instead of
    computing exact Jaccard everywhere.

    The signature table is computed ONCE (localCheckpoint — the
    persisted signature store) and reused three ways: band-bucket
    candidate generation, estimator lookup for both pair sides, and
    nothing else recomputes shingles except the exact-verify arrays.
    A naive composition of dedup_minhash + dedup_ngram_jaccard +
    _signatures re-hashed the corpus ~3x (measured 10.5s -> ~3s at
    sf0.1)."""
    sig = _signatures(spark, sf_dir).transform(cut)
    cand = (
        _candidates_from(_bands_from(sig))
        .select("doc_a", "doc_b")
        .transform(cut)
    )
    a_cols = [F.col(f"sa.mh{i}") for i in range(N_HASHES)]
    b_cols = [F.col(f"sb.mh{i}") for i in range(N_HASHES)]
    matches = sum(
        (ac == bc).cast("long") for ac, bc in zip(a_cols, b_cols))
    exact = _exact_jaccard(cand, _doc_shingles(spark, sf_dir)).select(
        "doc_a", "doc_b", "jaccard")
    est = (
        cand.join(sig.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sig.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a", "doc_b",
            matches.alias("n_matching"),
            (matches.cast("double") / N_HASHES).alias("jaccard_est"),
        )
    )
    return est.join(exact, ["doc_a", "doc_b"], "left")


_MATCH_SQL = " + ".join(
    f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END"
    for i in range(N_HASHES)
)

DEDUP_MINHASH_ESTIMATE_SQL = f"""
WITH cand AS (SELECT doc_a, doc_b FROM ({DEDUP_MINHASH_SQL})),
sig AS ({_SIG_SQL}),
exact AS (SELECT doc_a, doc_b, jaccard
          FROM ({DEDUP_NGRAM_JACCARD_SQL}))
SELECT c.doc_a, c.doc_b,
       ({_MATCH_SQL}) AS n_matching,
       CAST(({_MATCH_SQL}) AS DOUBLE) / {N_HASHES} AS jaccard_est,
       exact.jaccard
FROM cand c
JOIN sig sa ON c.doc_a = sa.doc_id
JOIN sig sb ON c.doc_b = sb.doc_id
LEFT JOIN exact ON c.doc_a = exact.doc_a AND c.doc_b = exact.doc_b
"""


# ----------------------------------------- connected dup components
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate clustering: connected components over the
    verified near-dup pair graph (dedup_ngram_jaccard edges), each
    doc labeled with its component representative (min doc_id) —
    the keep-one-per-cluster step after pairwise dedup.

    Iterative min-label propagation (Pregel-lite): each round every
    node takes the min label among itself and its neighbors; rounds
    until fixpoint (<= graph diameter, ~log n for dup clusters). Each
    round is one join + one partial-aggregating groupBy behind a
    lineage cut — the standard driver-looped iterative shape at
    scale. The convergence test collects a single count per round.

    The DuckDB oracle is an independent formulation: recursive-CTE
    transitive closure + min over the reach set (fine on the small
    verified-pair graph; the Spark path is the one that scales).

    Every barrier in the chain follows the session posture
    (``spark.graft.lineageCut``, see lineage.py). Superseded label
    rounds and the edge table are unpersisted as the loop moves on:
    a no-op on checkpoints, a released cache under ``persist``."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    return min_label_components(pairs)


# Below this many EDGES the whole pair graph is driver-trivial and
# the iterative loop is pure job-scheduling overhead (each round is
# 3-4 jobs; a 60-edge graph at sf0.1 spent ~3s scheduling). The same
# adaptive spirit as AQE's runtime broadcast decision: measure, then
# pick the plan. The distributed loop remains the >threshold path.
SMALL_GRAPH_EDGES = 100_000
# round cap of the alternating-star loop (O(log^2 n) rounds needed)
STAR_MAX_ROUNDS = 50


def _driver_components(spark: SparkSession, mat: DataFrame) -> DataFrame:
    """Driver union-find over a materialized (src, dst) edge list —
    the shared adaptive small-graph path of both CC engines. Output
    contract matches the distributed loops exactly: (doc_id,
    component = min node id in the component)."""
    rows = mat.collect()
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in rows:
        u, v = r[0], r[1]
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    comp: dict = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    out = [(n, min(ns)) for ns in comp.values() for n in ns]
    schema = mat.select(
        F.col(mat.columns[0]).alias("doc_id"),
        F.col(mat.columns[0]).alias("component")).schema
    return spark.createDataFrame(out, schema)


def min_label_components(pairs: DataFrame,
                         small_graph_edges: int = SMALL_GRAPH_EDGES,
                         ) -> DataFrame:
    """Connected components over an undirected pair list (first two
    columns = the edge endpoints) via iterative min-label propagation
    — the shared engine behind dedup_components (text near-dup graph)
    and embedding_components (semantic near-dup graph). Returns
    (doc_id, component). See dedup_components for the round/lineage
    discipline.

    Adaptive small-graph path: the near-dup pair graph is usually
    tiny relative to the corpus (it only holds candidate-verified
    duplicates); when the materialized edge list is under
    `small_graph_edges`, labels come from a driver-side union-find
    over the collected edges — identical output (min-id component
    labels), none of the per-round scheduling overhead. Pass 0 to
    force the distributed loop (the tests for the loop do)."""
    a, b = pairs.columns[:2]
    fwd = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    if small_graph_edges:
        mat = cut(fwd)
        if mat.count() <= small_graph_edges:
            return _driver_components(pairs.sparkSession, mat)
        fwd = mat  # reuse the materialization in the loop below
    edges = cut(fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ))
    labels = cut(
        edges.select(F.col("src").alias("doc_id")).distinct()
        .withColumn("component", F.col("doc_id"))
    )
    while True:
        nbr = (
            edges.join(labels, edges["src"] == labels["doc_id"])
            .select(F.col("dst").alias("doc_id"), "component")
        )
        new_labels = cut_deep(  # per-round: persist would nest plans
            labels.unionByName(nbr)
            .groupBy("doc_id")
            .agg(F.min("component").alias("component"))
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    return labels


def two_phase_components(pairs: DataFrame,
                         small_graph_edges: int = SMALL_GRAPH_EDGES,
                         ) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond")
    — the canonical MAPREDUCE formulation of CC, and the scale
    alternative to min-label propagation: rounds are O(log^2 n) on
    ANY graph (min-label needs diameter rounds, bad on path-shaped
    components), and each round's shuffle is bounded by the current
    edge set, which only shrinks toward the star forest.

      large-star(u): hook every neighbor v > u onto
                     m = min(neighbors(u) + [u])
      small-star(u): orient edges big->small, hook every small
                     neighbor (and u itself) onto the min

    At fixpoint the edge set is a star forest pointing each node at
    its component minimum; labels read straight off the edges. Rounds
    are lineage-cut exactly like min_label_components; convergence
    is an exact set comparison (two counts per round) on the shrinking
    edge set, not a checksum.

    Reference tie-in: the reference's iterative jobs re-run maple/
    juice over SDFS intermediates (maple_juice.go job loop); this is
    that loop expressed as Catalyst stages with lineage cuts.
    """
    a, b = pairs.columns[:2]
    edges = cut(
        pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"),
                F.least("u", "v").alias("v"))
        .distinct()
    )
    # adaptive small-graph path (same rule and engine as
    # min_label_components; pass 0 to force the star loop — the
    # algorithm tests do)
    if small_graph_edges and edges.count() <= small_graph_edges:
        return _driver_components(pairs.sparkSession, edges)
    nodes = cut(
        edges.select(F.col("u").alias("doc_id"))
        .union(edges.select("v")).distinct()
    )

    def _bidir(e: DataFrame) -> DataFrame:
        return e.union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v")))

    for _ in range(STAR_MAX_ROUNDS):
        # -- large-star: per node u, min over self + ALL neighbors;
        #    strictly-larger neighbors hook onto it
        d = _bidir(edges)
        mins = (
            d.groupBy("u").agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        ls = (
            d.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # -- small-star: orient big->small, everything hooks the min
        d2 = ls.select(F.greatest("u", "v").alias("u"),
                       F.least("u", "v").alias("v"))
        mins2 = d2.groupBy("u").agg(F.min("v").alias("m"))
        ss = cut_deep(  # per-round: persist would nest plans
            d2.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        changed = (ss.count() != edges.count()
                   or ss.subtract(edges).count() > 0)
        edges.unpersist()
        edges = ss
        if not changed:
            break
    else:  # pragma: no cover - O(log^2 n) bound makes this unreachable
        raise RuntimeError("two_phase_components did not converge")
    return (
        nodes.join(edges, nodes["doc_id"] == edges["u"], "left")
        .select("doc_id",
                F.coalesce(F.col("v"), F.col("doc_id")).alias("component"))
    )


def dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_components computed by the alternating-star CC engine —
    same verified near-dup edge set, same (doc_id, component=min id)
    contract, same recursive-CTE oracle, independently derived by a
    second distributed algorithm. Running both is the cross-engine
    check a 100 TB dedup job wants before deleting data."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    return two_phase_components(pairs)


DEDUP_COMPONENTS_SQL = f"""
WITH RECURSIVE e AS (
  SELECT doc_a AS src, doc_b AS dst FROM ({DEDUP_NGRAM_JACCARD_SQL})
  UNION
  SELECT doc_b, doc_a FROM ({DEDUP_NGRAM_JACCARD_SQL})
),
reach(a, b) AS (
  SELECT src, src FROM e
  UNION
  SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src
)
SELECT a AS doc_id, MIN(b) AS component
FROM reach
GROUP BY a
"""


def dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The emit-the-kept-corpus stage that the annotate/cluster steps
    feed: a document survives near-dup dedup iff it is in no dup
    cluster, or it is its cluster's representative (min doc_id =
    its component label from dedup_components). Output is the kept
    set with its cluster label and a was-clustered flag.

    Scale shape: the corpus side stays un-shuffled — the component
    labels cover only docs that appear in the verified dup graph
    (tiny vs corpus), so they broadcast onto a left join and the
    keep-filter is narrow. This is the write-side pass that would
    stream 100 TB through while dropping the duplicates."""
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", "lang")
    labels = dedup_components(spark, sf_dir)
    return (
        docs.join(F.broadcast(labels), "doc_id", "left")
        .filter(F.col("component").isNull()
                | (F.col("component") == F.col("doc_id")))
        .select(
            "doc_id", "source", "lang",
            F.coalesce("component", F.col("doc_id")).alias("component"),
            F.col("component").isNotNull().cast("long")
            .alias("was_clustered"),
        )
    )


DEDUP_APPLY_SQL = f"""
WITH comp AS ({DEDUP_COMPONENTS_SQL})
SELECT d.doc_id, d.source, d.lang,
       COALESCE(c.component, d.doc_id) AS component,
       CAST(CASE WHEN c.component IS NOT NULL THEN 1 ELSE 0 END
            AS BIGINT) AS was_clustered
FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
WHERE c.component IS NULL OR c.component = d.doc_id
"""


# ------------------------------------------- exact-substring windows
SUBSTR_W = 8  # window length in tokens, stride 1


def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication annotation: for every doc, how many
    of its {w}-token windows (stride 1, rolling fingerprint = md5 of
    the window text) also appear in ANOTHER doc — the
    train-set-memorization signal behind substring-level dedup
    (boilerplate headers, licence blocks, copypasta), which
    shingle-level near-dup misses when only a passage repeats.

    Deliberately an ANNOTATION, not a pair list: hot windows
    (boilerplate shared by thousands of docs) would explode a pairwise
    join quadratically; per-window doc counts + a per-doc rollup stay
    linear in corpus size. Shape: explode windows (distinct per doc)
    -> groupBy(window) count -> co-partitioned join back -> groupBy
    (doc) — three window-keyed exchanges, all partial-aggregated,
    no pairs.""".format(w=SUBSTR_W)
    docs = spread(load_table(spark, "documents", sf_dir))
    toks = docs.select("doc_id", X.tokens().alias("toks"))
    win_expr = (
        f"transform(sequence(1, size(toks) - {SUBSTR_W} + 1), "
        f"i -> md5(concat_ws(' ', slice(toks, i, {SUBSTR_W}))))"
    )
    # materialize: both the hot-window aggregate and the join-back
    # consume this subtree — without the checkpoint the full
    # tokenize+window+md5 corpus pass runs twice
    wins = (
        toks.filter(F.size("toks") >= SUBSTR_W)
        .select("doc_id",
                F.explode(F.array_distinct(F.expr(win_expr))).alias("wh"))
        .transform(cut)
    )
    hot = wins.groupBy("wh").agg(F.count("*").alias("n_docs"))
    agg = (
        wins.join(hot, "wh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum((F.col("n_docs") > 1).cast("long")).alias("n_shared"),
        )
    )
    return agg.select(
        "doc_id", "n_windows", "n_shared",
        (F.col("n_shared").cast("double")
         / F.col("n_windows").cast("double")).alias("shared_frac"),
    )


DEDUP_SUBSTRING_SQL = f"""
WITH wins AS (
  SELECT DISTINCT doc_id,
         md5(array_to_string(list_slice(toks, i, i + {SUBSTR_W} - 1), ' '))
           AS wh
  FROM (
    SELECT doc_id, toks,
           unnest(range(1, len(toks) - {SUBSTR_W} + 2)) AS i
    FROM (SELECT doc_id, {X.TOKENS_SQL} AS toks FROM documents)
    WHERE len(toks) >= {SUBSTR_W}
  )
),
hot AS (SELECT wh, COUNT(*) AS n_docs FROM wins GROUP BY wh)
SELECT doc_id, n_windows, n_shared,
       CAST(n_shared AS DOUBLE) / CAST(n_windows AS DOUBLE)
         AS shared_frac
FROM (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_windows,
         CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_shared
  FROM wins JOIN hot USING (wh)
  GROUP BY doc_id
)
"""


# ------------------------------------------- cross-source overlap
def cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair shingle-overlap matrix, MinHash-estimated — the
    dataset-card / cross-source-contamination measure (how much of
    source A's content re-appears in source B, e.g. a crawl that
    swallowed a curated corpus).

    Scale shape: ONE map-side-combined groupBy(source) over the
    exploded shingle stream builds a 16-slot min-sketch per source
    (the same explode the per-doc dedup uses, keyed by source — the
    shuffle carries one 16-hash row per source per partition). The
    pairwise stage then runs on #sources rows — broadcast-size by
    construction, independent of corpus size. Estimate = fraction of
    slots agreeing (resolution 1/16)."""
    docs = spread(load_table(spark, "documents", sf_dir))
    toks = docs.select("source", X.tokens().alias("toks"))
    sh = toks.select(
        "source",
        F.explode(F.array_distinct(F.expr(X.shingles_from("toks"))))
        .alias("s"),
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("s")))).alias(f"mh{i}")
        for i in range(N_HASHES)
    ]
    sk = sh.groupBy("source").agg(*aggs)
    a, b = sk.alias("a"), sk.alias("b")
    agree = None
    for i in range(N_HASHES):
        term = (F.col(f"a.mh{i}") == F.col(f"b.mh{i}")).cast("long")
        agree = term if agree is None else agree + term
    return (
        a.join(F.broadcast(b), F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            agree.alias("n_agree"),
            (agree.cast("double") / N_HASHES).alias("jaccard_est"),
        )
    )


_SRC_SKETCH_SQL = f"""
  SELECT source,
         {", ".join(f"MIN(md5('{i}:' || s)) AS mh{i}"
                    for i in range(N_HASHES))}
  FROM (SELECT DISTINCT source, unnest({X.SHINGLES_SQL}) AS s
        FROM documents)
  GROUP BY source
"""

_AGREE_SQL = " + ".join(
    f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)"
    for i in range(N_HASHES)
)

CROSS_SOURCE_OVERLAP_SQL = f"""
SELECT a.source AS source_a, b.source AS source_b,
       CAST({_AGREE_SQL} AS BIGINT) AS n_agree,
       CAST({_AGREE_SQL} AS DOUBLE) / {N_HASHES} AS jaccard_est
FROM ({_SRC_SKETCH_SQL}) a
JOIN ({_SRC_SKETCH_SQL}) b ON a.source < b.source
"""


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: match an INCOMING batch of documents against
    the standing corpus's LSH index without re-pairing the corpus with
    itself — the daily-ingest posture at 100 TB, where the corpus
    signatures are computed once and persisted (FileStore.write_keyed
    on band buckets) and each day's delta only probes them.

    Here the batch is simulated as doc_id % 10 == 0 (the "new" docs);
    both sides derive from ONE localCheckpointed band table, standing
    in for the persisted index (the checkpoint is the
    materialization). The probe is the same (band, sig) equi-join as
    dedup_minhash but new x corpus instead of corpus x corpus — its
    cost scales with the DELTA, not the corpus. Output: per new doc,
    how many corpus near-dup candidates it hits and the best (lowest
    doc_id) match.
    """
    bands = _bands(spark, sf_dir).transform(cut)
    newb = bands.where(F.col("doc_id") % 10 == 0).alias("n")
    idxb = bands.where(F.col("doc_id") % 10 != 0).alias("i")
    cand = (
        newb.join(idxb, ["band", "sig"])
        .select(F.col("n.doc_id").alias("doc_id"),
                F.col("i.doc_id").alias("match_id"))
        .distinct()
    )
    return cand.groupBy("doc_id").agg(
        F.count("*").alias("n_matches"),
        F.min("match_id").alias("best_match"),
    )


DEDUP_INCREMENTAL_SQL = f"""
WITH bands AS ({_BANDS_SQL}),
cand AS (
  SELECT DISTINCT n.doc_id AS doc_id, i.doc_id AS match_id
  FROM bands n JOIN bands i ON n.band = i.band AND n.sig = i.sig
  WHERE n.doc_id % 10 = 0 AND i.doc_id % 10 <> 0
)
SELECT doc_id, COUNT(*) AS n_matches, MIN(match_id) AS best_match
FROM cand
GROUP BY doc_id
"""


def dedup_components_incremental(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Incremental LABEL maintenance: dedup_incremental answers
    "which corpus docs does today's delta collide with"; this op
    completes the daily-ingest loop by producing the UPDATED
    component labels without re-running connected components over
    the whole corpus graph (the reference's re-run-the-job answer,
    run_server.go:348, made delta-bounded the Spark way).

    Algebra (exact, not approximate): split the verified near-dup
    edge set into standing-standing edges and probe edges (any
    endpoint in the delta, here doc_id % 10 == 0 like
    dedup_incremental). Standing labels are CC over the standing
    edges — at 100 TB these are YESTERDAY'S persisted output
    (FileStore.write_keyed), recomputed here only because the gate
    query is self-contained. Each probe edge then CONTRACTS its
    standing endpoints to their component root (one join against the
    label table), and CC runs only on the contracted probe graph —
    bounded by the delta's candidate pairs, not the corpus. Because
    every standing root is already the MIN doc_id of its component,
    the contracted CC's min-label is exactly the merged component's
    true min, so the final labels are bit-identical to a full
    recompute — which is the oracle (DEDUP_COMPONENTS_SQL verbatim).
    """
    pairs = dedup_ngram_jaccard(spark, sf_dir).select(
        "doc_a", "doc_b").transform(cut)

    def in_delta(c: str):
        return F.col(c) % 10 == 0

    standing_edges = pairs.where(~in_delta("doc_a") & ~in_delta("doc_b"))
    probe_edges = pairs.where(in_delta("doc_a") | in_delta("doc_b"))
    standing = min_label_components(standing_edges).transform(cut)

    la = standing.select(F.col("doc_id").alias("doc_a"),
                         F.col("component").alias("root_a"))
    lb = standing.select(F.col("doc_id").alias("doc_b"),
                         F.col("component").alias("root_b"))
    contracted = (
        probe_edges
        .join(F.broadcast(la), "doc_a", "left")
        .join(F.broadcast(lb), "doc_b", "left")
        .select(F.coalesce("root_a", F.col("doc_a")).alias("src"),
                F.coalesce("root_b", F.col("doc_b")).alias("dst"))
    )
    merged = min_label_components(contracted).transform(cut)
    # standing docs: root -> merged label if the root was touched
    remap = merged.select(F.col("doc_id").alias("component"),
                          F.col("component").alias("new_component"))
    out_standing = (
        standing.join(F.broadcast(remap), "component", "left")
        .select("doc_id",
                F.coalesce("new_component", F.col("component"))
                .alias("component"))
    )
    # everything else in the contracted graph carries its OWN id:
    # delta docs, and standing docs whose every edge is a probe edge
    # (they never entered the standing CC, so contraction left them
    # uncontracted). Standing ROOTS are the one overlap with
    # out_standing — exclude them by anti-joining the root set.
    roots = standing.select(F.col("component").alias("doc_id")).distinct()
    out_new = merged.join(F.broadcast(roots), "doc_id", "left_anti")
    return out_standing.unionByName(out_new)


# ------------------------------------------------------- dedup_agreement
def dedup_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-family agreement census: which near-dup candidate pairs
    does MinHash-LSH banding surface vs SimHash bucketing, and how
    much do they overlap — the QA table that tunes which sketch (or
    both) a production dedup run should trust, since the two families
    have different blind spots (LSH misses low-Jaccard rewrites;
    SimHash misses length-skewed containment).

    Shape: LSH pairs come straight from the banded candidate join;
    SimHash pairs expand IN-ARRAY per bucket (bounded by bucket size,
    the graphs.py idiom — never an unbounded bucket self-join); the
    verdict is a tagged UNION of the two pair sets + one partial agg
    by pair (full-outer-join semantics without the join — the inputs
    inherit broadcast hints that a full-outer join would ignore with
    a warning, and one shuffle beats two), rolled up to one row per
    agreement class. Exact counts only."""
    lsh = dedup_minhash(spark, sf_dir).select("doc_a", "doc_b").distinct()
    sim = (
        dedup_simhash(spark, sf_dir)
        .groupBy("simhash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .select(F.explode(F.expr(
            "flatten(transform(ds, (a, i) -> "
            "transform(slice(ds, i + 2, size(ds)), "
            "b -> struct(a AS doc_a, b AS doc_b))))")).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"),
                F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )
    tagged = (
        lsh.select("doc_a", "doc_b", F.lit(1).alias("in_lsh"),
                   F.lit(0).alias("in_sim"))
        .unionByName(sim.select(
            "doc_a", "doc_b", F.lit(0).alias("in_lsh"),
            F.lit(1).alias("in_sim")))
        .groupBy("doc_a", "doc_b")
        .agg(F.max("in_lsh").alias("in_lsh"),
             F.max("in_sim").alias("in_sim"))
    )
    cls = (
        F.when((F.col("in_lsh") == 1) & (F.col("in_sim") == 1), "both")
        .when(F.col("in_lsh") == 1, "lsh_only")
        .otherwise("simhash_only")
    )
    return (
        tagged.select(cls.alias("agreement"))
        .groupBy("agreement")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


DEDUP_AGREEMENT_SQL = f"""
WITH lsh AS (
  SELECT DISTINCT doc_a, doc_b FROM ({DEDUP_MINHASH_SQL})
),
sk AS (SELECT doc_id, simhash FROM ({DEDUP_SIMHASH_SQL})),
sim AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sk a JOIN sk b
    ON a.simhash = b.simhash AND a.doc_id < b.doc_id
)
SELECT CASE WHEN l.doc_a IS NOT NULL AND s.doc_a IS NOT NULL
              THEN 'both'
            WHEN l.doc_a IS NOT NULL THEN 'lsh_only'
            ELSE 'simhash_only' END AS agreement,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM lsh l FULL JOIN sim s
  ON l.doc_a = s.doc_a AND l.doc_b = s.doc_b
GROUP BY 1
"""


# ------------------------------------------- dup-cluster distribution
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size distribution of the verified near-dup clusters: per size
    bucket, how many clusters, how many documents they hold, and how
    many dedup would remove (all but one representative per cluster)
    — the report that turns dedup_components' labels into the "X% of
    the corpus is duplicated, mostly in pairs" dataset-card line.

    Shape: downstream of the iterative CC labeling (see
    dedup_components for the round discipline); the label table is
    tiny vs the corpus, so the two groupBys here are partial-agg
    shuffles on small data ending in a bounded 4-row output. Every
    cluster has >= 2 members by construction (labels cover only docs
    with at least one verified dup edge)."""
    labels = dedup_components(spark, sf_dir)
    sizes = labels.groupBy("component").agg(
        F.count("*").cast("long").alias("sz"))
    bucket = (
        F.when(F.col("sz") <= 2, F.lit("2"))
        .when(F.col("sz") <= 5, F.lit("3-5"))
        .when(F.col("sz") <= 10, F.lit("6-10"))
        .otherwise(F.lit("11+"))
    )
    return (
        sizes.select(bucket.alias("size_bucket"), "sz")
        .groupBy("size_bucket")
        .agg(
            F.count("*").cast("long").alias("n_clusters"),
            F.sum("sz").cast("long").alias("n_docs"),
            (F.sum("sz") - F.count("*")).cast("long").alias("n_removable"),
        )
    )


def _dedup_cluster_stats_sql() -> str:
    return f"""
WITH comp AS ({DEDUP_COMPONENTS_SQL}),
sizes AS (
  SELECT component, CAST(COUNT(*) AS BIGINT) AS sz
  FROM comp GROUP BY component
)
SELECT CASE WHEN sz <= 2 THEN '2' WHEN sz <= 5 THEN '3-5'
            WHEN sz <= 10 THEN '6-10' ELSE '11+' END AS size_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(sz) AS BIGINT) AS n_docs,
       CAST(SUM(sz) - COUNT(*) AS BIGINT) AS n_removable
FROM sizes
GROUP BY 1
"""


CONTAIN_TAU = 0.5


# -------------------------------------------------- minhash_containment
def minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-scored near-dup pairs: for every LSH candidate
    pair, |A∩B|/|A| and |A∩B|/|B| over distinct word-bigram shingle
    sets, kept when either direction >= CONTAIN_TAU. High containment
    with modest Jaccard is the quote/embedding/boilerplate-inclusion
    signature symmetric dedup misses.

    Shape: pairwise work only inside LSH buckets (never all-pairs,
    same posture as dedup_ngram_jaccard); the intersection is an
    array_intersect over two per-doc shingle arrays joined onto the
    candidate list — no shingle-level equi-join explosion. ONE
    tokenize+explode+groupBy pass produces both the minhash columns
    and the shingle arrays (the dedup_ngram_jaccard shared store —
    composing dedup_minhash + _doc_shingles re-shingles the corpus
    twice). Integer set sizes; fixed-order double divisions."""
    sh = _shingle_df(spark, sf_dir)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("s")))).alias(f"mh{i}")
        for i in range(N_HASHES)
    ] + [F.collect_list("s").alias("sh")]
    store = sh.groupBy("doc_id").agg(*aggs).transform(cut)
    cand = _candidates_from(_bands_from(store)).select("doc_a", "doc_b")
    ds = store.select("doc_id", "sh")
    pairs = (
        cand.join(ds.alias("da"), F.col("doc_a") == F.col("da.doc_id"))
        .join(ds.alias("db"), F.col("doc_b") == F.col("db.doc_id"))
        .select(
            "doc_a", "doc_b",
            F.size(F.array_intersect(F.col("da.sh"), F.col("db.sh")))
            .cast("long").alias("inter"),
            F.size("da.sh").cast("long").alias("na"),
            F.size("db.sh").cast("long").alias("nb"),
        )
    )
    cont_a = F.col("inter").cast("double") / F.col("na").cast("double")
    cont_b = F.col("inter").cast("double") / F.col("nb").cast("double")
    return (
        pairs.select(
            "doc_a", "doc_b", "inter", "na", "nb",
            cont_a.alias("cont_a"), cont_b.alias("cont_b"),
        )
        .filter(F.greatest(F.col("cont_a"), F.col("cont_b"))
                >= CONTAIN_TAU)
    )


MINHASH_CONTAINMENT_SQL = f"""
WITH cand AS (
  SELECT doc_a, doc_b FROM ({DEDUP_MINHASH_SQL})
),
sh AS ({_SHINGLE_SQL}),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT doc_a, doc_b, COUNT(*) AS inter
  FROM cand
  JOIN sh sa ON sa.doc_id = doc_a
  JOIN sh sb ON sb.doc_id = doc_b AND sa.s = sb.s
  GROUP BY doc_a, doc_b
)
SELECT doc_a, doc_b, inter, ca.n AS na, cb.n AS nb,
       CAST(inter AS DOUBLE) / CAST(ca.n AS DOUBLE) AS cont_a,
       CAST(inter AS DOUBLE) / CAST(cb.n AS DOUBLE) AS cont_b
FROM inter
JOIN cnt ca ON ca.doc_id = doc_a
JOIN cnt cb ON cb.doc_id = doc_b
WHERE greatest(CAST(inter AS DOUBLE) / CAST(ca.n AS DOUBLE),
               CAST(inter AS DOUBLE) / CAST(cb.n AS DOUBLE))
      >= {CONTAIN_TAU}
"""


# --------------------------------------------------- dedup_survivorship
def dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document election per near-dup cluster: the member
    with the HIGHEST quality score wins (ties to the smallest
    doc_id) — the survivorship policy real pipelines use instead of
    keep-min-id, so the kept corpus is the best copy of every
    cluster, not the first-crawled one.

    Shape: the component labels (tiny vs corpus — only docs in the
    verified dup graph) join the per-doc quality scores, then ONE
    min(struct) argmax per cluster — partial-aggregated, no window
    over members. Election compares the fixed-order double quality;
    the struct total order makes the winner engine-deterministic."""
    comp = dedup_components(spark, sf_dir)
    q = quality_score(spark, sf_dir).select("doc_id", "quality")
    m = comp.join(q, "doc_id")
    return (
        m.groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min(F.struct((-F.col("quality")).alias("nq"),
                           F.col("doc_id").alias("d"))).alias("t"),
        )
        .select(
            "component", "n_members",
            F.col("t.d").alias("canonical_id"),
            (-F.col("t.nq")).alias("best_quality"),
        )
    )


DEDUP_SURVIVORSHIP_SQL = f"""
WITH comp AS ({DEDUP_COMPONENTS_SQL}),
q AS (SELECT doc_id, quality FROM ({QUALITY_SCORE_SQL})),
m AS (
  SELECT comp.component, comp.doc_id, q.quality
  FROM comp JOIN q ON comp.doc_id = q.doc_id
),
ranked AS (
  SELECT component, doc_id, quality,
         ROW_NUMBER() OVER (PARTITION BY component
                            ORDER BY quality DESC, doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY component) AS n_members
  FROM m
)
SELECT component, CAST(n_members AS BIGINT) AS n_members,
       doc_id AS canonical_id, quality AS best_quality
FROM ranked WHERE rn = 1
"""


# (bands, rows_per_band) with bands * rows == N_HASHES
SWEEP_CONFIGS = ((2, 8), (4, 4), (8, 2))


def _sqrt_chain(nb: int, rpb: int) -> str:
    """(1/nb)^(1/rpb) as nested sqrt (rpb is a power of two): sqrt is
    IEEE correctly-rounded on both engines, libm pow() is not — a
    pow() here was a 1-ulp cross-engine hash risk."""
    e = f"(1.0 / {nb})"
    r = rpb
    while r > 1:
        e = f"sqrt({e})"
        r //= 2
    return e


def lsh_param_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each banding of the SAME 16 minhashes: how many distinct
    candidate pairs does the LSH stage emit, how many docs land in at
    least one collision, and what similarity threshold does the
    s-curve place there ((1/b)^(1/r))? The corpus-measured candidate
    budget each config implies.

    Shape: the signature table computes ONCE (localCheckpoint — the
    shared signature store) and every config derives its band table
    from those columns (md5 concat per band — a narrow projection);
    each config costs one (band, sig) equi-join self-join (the
    dedup_minhash bucket discipline — pairwise work only inside
    buckets) + a distinct-pair count. Threshold is a fixed pow()
    expression on exact integers, identical in both engines."""
    sig = _signatures(spark, sf_dir).transform(cut)
    outs = []
    for nb, rpb in SWEEP_CONFIGS:
        entries = []
        for b in range(nb):
            cols = [F.col(f"mh{b * rpb + r}") for r in range(rpb)]
            entries.append(F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat(*cols)).alias("s")))
        bands = sig.select(
            "doc_id", F.explode(F.array(*entries)).alias("e")
        ).select("doc_id", "e.band", "e.s")
        a, c = bands.alias("a"), bands.alias("b")
        cand = (
            a.join(c, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.s") == F.col("b.s"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("da"),
                    F.col("b.doc_id").alias("db"))
            .distinct()
        )
        outs.append(cand.agg(
            F.lit(nb).cast("long").alias("bands"),
            F.lit(rpb).cast("long").alias("rows_per_band"),
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.countDistinct(F.col("da")).cast("long")
            .alias("n_left_docs"),
            F.expr(_sqrt_chain(nb, rpb)).alias("s_curve_threshold"),
        ))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _sweep_block_sql(nb: int, rpb: int) -> str:
    bands = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({concat}) AS s FROM sig"
        .format(b=b, concat=" || ".join(
            f"mh{b * rpb + r}" for r in range(rpb)))
        for b in range(nb)
    )
    return f"""
  SELECT CAST({nb} AS BIGINT) AS bands,
         CAST({rpb} AS BIGINT) AS rows_per_band,
         CAST(COUNT(*) AS BIGINT) AS n_candidates,
         CAST(COUNT(DISTINCT da) AS BIGINT) AS n_left_docs,
         {_sqrt_chain(nb, rpb)} AS s_curve_threshold
  FROM (
    SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
    FROM ({bands}) a
    JOIN ({bands}) b
      ON a.band = b.band AND a.s = b.s AND a.doc_id < b.doc_id
  )
"""


LSH_PARAM_SWEEP_SQL = "WITH sig AS ({sig}) {blocks}".format(
    sig=_SIG_SQL,
    blocks=" UNION ALL ".join(
        _sweep_block_sql(nb, rpb) for nb, rpb in SWEEP_CONFIGS),
)

assert all(nb * rpb == N_HASHES for nb, rpb in SWEEP_CONFIGS)


# ------------------------------------------------------ lsh_bucket_balance
def lsh_bucket_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band health census of the MinHash-LSH band table: bucket
    count, docs indexed, the largest bucket, and the exact collision
    pair mass sum over buckets of c*(c-1)/2 — the LSH candidate
    join's row count per band, i.e. the quantity the banding
    parameters exist to bound. mean_bucket is the load-balance
    indicator (max_bucket >> mean_bucket = a hot shingle pattern)."""
    bands = _bands(spark, sf_dir)
    buckets = bands.groupBy("band", "sig").agg(
        F.count("*").alias("c"))
    return (
        buckets.groupBy("band")
        .agg(
            F.count("*").cast("long").alias("n_buckets"),
            F.sum("c").cast("long").alias("n_docs"),
            F.max("c").cast("long").alias("max_bucket"),
            F.sum(F.expr("c * (c - 1) DIV 2")).cast("long")
            .alias("collision_pairs"),
        )
        .selectExpr(
            "CAST(band AS BIGINT) AS band", "n_buckets", "n_docs",
            "max_bucket", "collision_pairs",
            "CAST(n_docs AS DOUBLE) / n_buckets AS mean_bucket",
        )
    )


LSH_BUCKET_BALANCE_SQL = f"""
WITH buckets AS (
  SELECT band, sig, COUNT(*) AS c
  FROM ({_BANDS_SQL})
  GROUP BY band, sig
)
SELECT CAST(band AS BIGINT) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(c) AS BIGINT) AS n_docs,
       CAST(MAX(c) AS BIGINT) AS max_bucket,
       CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS collision_pairs,
       CAST(SUM(c) AS DOUBLE) / COUNT(*) AS mean_bucket
FROM buckets
GROUP BY band
"""


# ------------------------------------------------- dedup_threshold_sweep
SWEEP_TAUS = (2, 4, 6, 8, 10, 12)  # in SIXTEENTHS of N_HASHES: the
# estimator's resolution is 1/16, so thresholds are exact match
# counts — tau = k/16 keeps the comparison pure-integer in both
# engines (est >= k/16  <=>  n_matching >= k)


def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each threshold k/N_HASHES: the number of LSH candidate
    pairs whose MinHash agreement reaches it, its share of the
    candidate set, and the mean estimate among the kept pairs (an
    exact integer ratio: sum of matching counts / (N_HASHES * kept)).
    One signature store (localCheckpoint), one banded candidate
    join, ONE conditional aggregation folding every threshold."""
    sig = _signatures(spark, sf_dir).transform(cut)
    cand = _candidates_from(_bands_from(sig)).select("doc_a", "doc_b")
    matches = None
    for i in range(N_HASHES):
        m = (F.col(f"sa.mh{i}") == F.col(f"sb.mh{i}")).cast("long")
        matches = m if matches is None else matches + m
    est = (
        cand.join(sig.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sig.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select(matches.alias("nm"))
    )
    wide = est.groupBy().agg(
        F.count("*").cast("long").alias("n_cand"),
        *[F.sum(F.when(F.col("nm") >= k, 1).otherwise(0))
          .cast("long").alias(f"kept{k}") for k in SWEEP_TAUS],
        *[F.sum(F.when(F.col("nm") >= k, F.col("nm")).otherwise(0))
          .cast("long").alias(f"mass{k}") for k in SWEEP_TAUS],
    )
    stack_args = ", ".join(
        f"CAST({k} AS BIGINT), kept{k}, mass{k}" for k in SWEEP_TAUS)
    return (
        wide.select(
            "n_cand",
            F.expr(f"stack({len(SWEEP_TAUS)}, {stack_args})"
                   " AS (k, kept, mass)"))
        .selectExpr(
            f"CAST(k AS DOUBLE) / {N_HASHES} AS tau",
            "n_cand", "kept AS n_pairs_kept",
            # n_cand = 0 guard: Spark (ANSI off) would NULL, DuckDB
            # would inf/NaN — spell the NULL identically in both
            "CASE WHEN n_cand = 0 THEN CAST(NULL AS DOUBLE) "
            "ELSE CAST(kept AS DOUBLE) / n_cand END AS kept_share",
            "CASE WHEN kept = 0 THEN CAST(NULL AS DOUBLE) ELSE "
            f"CAST(mass AS DOUBLE) / ({N_HASHES} * CAST(kept AS DOUBLE))"
            " END AS mean_est_kept",
        )
    )


_NM_SQL = " + ".join(
    f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END"
    for i in range(N_HASHES)
)
_SWEEP_KEPT = ",\n  ".join(
    f"SUM(CASE WHEN nm >= {k} THEN 1 ELSE 0 END) AS kept{k},\n"
    f"  SUM(CASE WHEN nm >= {k} THEN nm ELSE 0 END) AS mass{k}"
    for k in SWEEP_TAUS
)
_SWEEP_CUTS = " UNION ALL ".join(
    f"SELECT CAST({k} AS BIGINT) AS k, CAST(kept{k} AS BIGINT) AS kept,"
    f" CAST(mass{k} AS BIGINT) AS mass, n_cand FROM wide"
    for k in SWEEP_TAUS
)

DEDUP_THRESHOLD_SWEEP_SQL = f"""
WITH cand AS (SELECT doc_a, doc_b FROM ({DEDUP_MINHASH_SQL})),
sig AS ({_SIG_SQL}),
est AS (
  SELECT ({_NM_SQL}) AS nm
  FROM cand c
  JOIN sig sa ON c.doc_a = sa.doc_id
  JOIN sig sb ON c.doc_b = sb.doc_id
),
wide AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cand,
  {_SWEEP_KEPT}
  FROM est
)
SELECT CAST(k AS DOUBLE) / {N_HASHES} AS tau,
       n_cand, kept AS n_pairs_kept,
       CASE WHEN n_cand = 0 THEN CAST(NULL AS DOUBLE)
       ELSE CAST(kept AS DOUBLE) / n_cand END AS kept_share,
       CASE WHEN kept = 0 THEN CAST(NULL AS DOUBLE) ELSE
       CAST(mass AS DOUBLE) / ({N_HASHES} * CAST(kept AS DOUBLE))
       END AS mean_est_kept
FROM ({_SWEEP_CUTS})
"""


# ---------------------------------------------------------- doc_prefix_dup
PREFIX_TOKENS = 16
PREFIX_MIN_TOKENS = 4


def doc_prefix_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicated-prefix census: fingerprint = md5 of the
    first PREFIX_TOKENS whitespace tokens (docs under
    PREFIX_MIN_TOKENS tokens are skipped — short prefixes collide
    meaninglessly); a doc is boilerplate-headed if another doc shares
    its fingerprint. Output: docs measured, docs in duplicated-prefix
    groups, distinct duplicated prefixes, and the rate."""
    docs = spread(load_table(spark, "documents", sf_dir))
    fp = (
        docs.select("doc_id", "source",
                    F.expr(X.TOKENS_EXPR).alias("t"))
        .filter(F.expr(f"size(t) >= {PREFIX_MIN_TOKENS}"))
        .select(
            "doc_id", "source",
            F.expr(f"md5(concat_ws(' ', slice(t, 1, {PREFIX_TOKENS})))")
            .alias("fp"),
        )
    )
    groups = fp.groupBy("fp").agg(F.count("*").alias("c"))
    return (
        fp.join(groups, "fp")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("c") >= 2, 1).otherwise(0)).cast("long")
            .alias("n_dup_prefix_docs"),
            F.expr("COUNT(DISTINCT CASE WHEN c >= 2 THEN fp END)")
            .cast("long").alias("n_dup_prefixes"),
        )
        .selectExpr(
            "source", "n_docs", "n_dup_prefix_docs", "n_dup_prefixes",
            "CAST(n_dup_prefix_docs AS DOUBLE) / n_docs"
            " AS dup_prefix_rate",
        )
    )


DOC_PREFIX_DUP_SQL = f"""
WITH fp AS (
  SELECT doc_id, source,
         md5(array_to_string(t[1:{PREFIX_TOKENS}], ' ')) AS fp
  FROM (SELECT doc_id, source, {X.TOKENS_SQL} AS t FROM documents)
  WHERE len(t) >= {PREFIX_MIN_TOKENS}
),
groups AS (SELECT fp, COUNT(*) AS c FROM fp GROUP BY fp)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_prefix_docs,
       CAST(COUNT(DISTINCT CASE WHEN c >= 2 THEN fp.fp END) AS BIGINT)
         AS n_dup_prefixes,
       CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS dup_prefix_rate
FROM fp JOIN groups USING (fp)
GROUP BY source
"""


# --------------------------------------------------------- dedup_cross_lang
def dedup_cross_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Census of verified near-dup pairs whose documents carry
    DIFFERENT language labels — the machine-translation /
    language-mislabel detector (a high cross-lang dup rate means the
    lang-ID stage is wrong or the crawl holds templated translations;
    either way per-language mix statistics are lying). Pairs come
    from dedup_ngram_jaccard's verified output; the census keys on
    the (least, greatest) normalized language pair; jaccard extremes
    are order-independent min/max (never a float SUM across pairs)."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select(
        "doc_a", "doc_b", "jaccard")
    langs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang")
    x = (
        pairs.join(langs.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("lang", "lang_a"), "doc_a")
        .join(langs.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("lang", "lang_b"), "doc_b")
        .where(F.col("lang_a") != F.col("lang_b"))
    )
    return (
        x.groupBy(
            F.least("lang_a", "lang_b").alias("lang_lo"),
            F.greatest("lang_a", "lang_b").alias("lang_hi"),
        )
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.min("jaccard").alias("min_jaccard"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


def _cross_lang_sql() -> str:
    return f"""
WITH pairs AS (
  SELECT doc_a, doc_b, jaccard FROM ({DEDUP_NGRAM_JACCARD_SQL})
),
x AS (
  SELECT la.lang AS lang_a, lb.lang AS lang_b, jaccard
  FROM pairs
  JOIN documents la ON pairs.doc_a = la.doc_id
  JOIN documents lb ON pairs.doc_b = lb.doc_id
  WHERE la.lang <> lb.lang
)
SELECT least(lang_a, lang_b) AS lang_lo,
       greatest(lang_a, lang_b) AS lang_hi,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       MIN(jaccard) AS min_jaccard,
       MAX(jaccard) AS max_jaccard
FROM x
GROUP BY 1, 2
"""


PR_TAUS = (4, 6, 8, 10, 12)  # sixteenths: 0.25 .. 0.75


def dedup_estimator_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per threshold tau = k/N_HASHES over the LSH candidate pairs:
    how many pairs the estimator flags (est >= tau), how many the
    exact Jaccard flags, their overlap, and the resulting
    precision/recall (NULL when the denominator is empty — the same
    CASE in both engines). est >= k/16 is evaluated as the pure
    integer n_matching >= k."""
    est = dedup_minhash_estimate(spark, sf_dir).select(
        "n_matching", "jaccard")
    aggs = []
    for k in PR_TAUS:
        tau = k / N_HASHES
        e = F.col("n_matching") >= k
        x = F.col("jaccard").isNotNull() & (F.col("jaccard") >= tau)
        aggs += [
            F.sum(e.cast("long")).cast("long").alias(f"e{k}"),
            F.sum(x.cast("long")).cast("long").alias(f"x{k}"),
            F.sum((e & x).cast("long")).cast("long").alias(f"b{k}"),
        ]
    wide = est.groupBy().agg(*aggs)
    stack_args = ", ".join(
        f"CAST({k} AS BIGINT), e{k}, x{k}, b{k}" for k in PR_TAUS)
    return (
        wide.select(F.expr(
            f"stack({len(PR_TAUS)}, {stack_args})"
            " AS (k, n_est_pos, n_exact_pos, n_both)"))
        .selectExpr(
            f"CAST(k AS DOUBLE) / {N_HASHES} AS tau",
            "n_est_pos", "n_exact_pos", "n_both",
            "CASE WHEN n_est_pos = 0 THEN CAST(NULL AS DOUBLE) ELSE "
            "CAST(n_both AS DOUBLE) / n_est_pos END AS est_precision",
            "CASE WHEN n_exact_pos = 0 THEN CAST(NULL AS DOUBLE) ELSE "
            "CAST(n_both AS DOUBLE) / n_exact_pos END AS est_recall",
        )
    )


def _pr_cells_sql() -> str:
    cells = []
    for k in PR_TAUS:
        tau = f"{k} / CAST({N_HASHES} AS DOUBLE)"
        e = f"n_matching >= {k}"
        x = f"(jaccard IS NOT NULL AND jaccard >= {tau})"
        cells.append(
            f"SUM(CASE WHEN {e} THEN 1 ELSE 0 END) AS e{k},\n"
            f"  SUM(CASE WHEN {x} THEN 1 ELSE 0 END) AS x{k},\n"
            f"  SUM(CASE WHEN {e} AND {x} THEN 1 ELSE 0 END) AS b{k}")
    return ",\n  ".join(cells)


_PR_CUTS = " UNION ALL ".join(
    f"SELECT CAST({k} AS BIGINT) AS k, CAST(e{k} AS BIGINT) AS"
    f" n_est_pos, CAST(x{k} AS BIGINT) AS n_exact_pos,"
    f" CAST(b{k} AS BIGINT) AS n_both FROM wide"
    for k in PR_TAUS
)

DEDUP_ESTIMATOR_PR_SQL = f"""
WITH est AS (
  SELECT n_matching, jaccard FROM ({DEDUP_MINHASH_ESTIMATE_SQL})
),
wide AS (
  SELECT
  {_pr_cells_sql()}
  FROM est
)
SELECT CAST(k AS DOUBLE) / {N_HASHES} AS tau,
       n_est_pos, n_exact_pos, n_both,
       CASE WHEN n_est_pos = 0 THEN CAST(NULL AS DOUBLE) ELSE
       CAST(n_both AS DOUBLE) / n_est_pos END AS est_precision,
       CASE WHEN n_exact_pos = 0 THEN CAST(NULL AS DOUBLE) ELSE
       CAST(n_both AS DOUBLE) / n_exact_pos END AS est_recall
FROM ({_PR_CUTS})
"""


QUERIES = {
    "dedup_incremental": dedup_incremental,
    "dedup_components_incremental": dedup_components_incremental,
    "dedup_exact": dedup_exact,
    "dedup_minhash": dedup_minhash,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_simhash": dedup_simhash,
    "dedup_minhash_estimate": dedup_minhash_estimate,
    "dedup_components": dedup_components,
    "dedup_components_star": dedup_components_star,
    "dedup_agreement": dedup_agreement,
    "dedup_apply": dedup_apply,
    "cross_source_overlap": cross_source_overlap,
    "dedup_substring": dedup_substring,
    "dedup_cluster_stats": dedup_cluster_stats,
    "minhash_containment": minhash_containment,
    "dedup_survivorship": dedup_survivorship,
    "lsh_param_sweep": lsh_param_sweep,
    "lsh_bucket_balance": lsh_bucket_balance,
    "dedup_threshold_sweep": dedup_threshold_sweep,
    "doc_prefix_dup": doc_prefix_dup,
    "dedup_cross_lang": dedup_cross_lang,
    "dedup_estimator_pr": dedup_estimator_pr,
}

ORACLES = {
    "dedup_incremental": DEDUP_INCREMENTAL_SQL,
    # the incremental path must be BIT-IDENTICAL to a full recompute
    "dedup_components_incremental": DEDUP_COMPONENTS_SQL,
    "dedup_substring": DEDUP_SUBSTRING_SQL,
    "dedup_minhash_estimate": DEDUP_MINHASH_ESTIMATE_SQL,
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_minhash": DEDUP_MINHASH_SQL,
    "dedup_ngram_jaccard": DEDUP_NGRAM_JACCARD_SQL,
    "dedup_simhash": DEDUP_SIMHASH_SQL,
    "dedup_components": DEDUP_COMPONENTS_SQL,
    "dedup_components_star": DEDUP_COMPONENTS_SQL,
    "dedup_agreement": DEDUP_AGREEMENT_SQL,
    "dedup_apply": DEDUP_APPLY_SQL,
    "cross_source_overlap": CROSS_SOURCE_OVERLAP_SQL,
    "dedup_cluster_stats": _dedup_cluster_stats_sql(),
    "minhash_containment": MINHASH_CONTAINMENT_SQL,
    "dedup_survivorship": DEDUP_SURVIVORSHIP_SQL,
    "lsh_param_sweep": LSH_PARAM_SWEEP_SQL,
    "lsh_bucket_balance": LSH_BUCKET_BALANCE_SQL,
    "dedup_threshold_sweep": DEDUP_THRESHOLD_SWEEP_SQL,
    "doc_prefix_dup": DOC_PREFIX_DUP_SQL,
    "dedup_cross_lang": _cross_lang_sql(),
    "dedup_estimator_pr": DEDUP_ESTIMATOR_PR_SQL,
}
