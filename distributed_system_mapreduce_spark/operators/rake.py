"""RAKE keyphrase extraction (Rose et al. 2010, "Automatic Keyword
Extraction from Individual Documents"), corpus-scale:

candidate phrases are maximal stopword-free token runs; each word
scores deg(w)/freq(w) where freq counts occurrences inside candidates
and deg additionally credits co-occurrence (the length of every
candidate the occurrence sits in); a phrase scores the sum of its
member word scores. The corpus's top phrases are its keyphrase
vocabulary — the unsupervised "what is this corpus about" readout
used before topic labeling or facet design.

Exactness: phrase segmentation is pure integer positional logic
(1-based token positions in BOTH engines — Spark element_at vs
DuckDB's native 1-based list index, because Spark's [] is 0-based);
word scores are single divisions of exact integers; phrase scores
fold over the SORTED bounded member-score list; the final head is a
deterministic top-k with a full tie-break.

Scale shape (100 TB): positions explode is narrow; the run-id prefix
count is a window PARTITIONED BY doc (bounded by doc length, never
global); phrase and word stats are map-side-combined partial aggs;
the word-score table joins back by word (vocab-sized, Heaps-
sublinear); the head is TakeOrderedAndProject. Driver state zero.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_system_mapreduce_spark.functions import text as X
from distributed_system_mapreduce_spark.functions.detmath import (
    fold_expr,
    fold_sql,
)
from distributed_system_mapreduce_spark.tables import load_table, spread
from distributed_system_mapreduce_spark.lineage import cut

RAKE_TOPK = 20
_STOP_IN = ", ".join(f"'{w}'" for w in X.STOPWORDS)


def keyphrase_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-RAKE_TOPK corpus keyphrases: (phrase, n_occurrences,
    n_words, rake_score). See module docstring for the algorithm and
    determinism contract."""
    docs = spread(load_table(spark, "documents", sf_dir))
    toks = docs.select("doc_id", X.tokens().alias("toks"))
    pos = toks.select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(1, size(toks)), "
            "i -> struct(i AS pos, element_at(toks, i) AS tok))"
        )).alias("u"),
    ).select("doc_id", F.col("u.pos").alias("pos"),
             F.col("u.tok").alias("tok"))
    pos = pos.withColumn(
        "is_stop", F.expr(f"tok IN ({_STOP_IN})"))
    w = (Window.partitionBy("doc_id").orderBy("pos")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    runs = (pos.withColumn(
        "run_id", F.sum(F.col("is_stop").cast("int")).over(w))
        .where(~F.col("is_stop")))
    phrases = (
        runs.groupBy("doc_id", "run_id")
        .agg(
            F.expr("concat_ws(' ', transform(sort_array("
                   "collect_list(struct(pos, tok))), s -> s.tok))")
            .alias("phrase"),
            F.count("*").alias("plen"),
        )
    )
    # word stats over candidate occurrences: freq = occurrences,
    # deg = sum of the hosting candidate's length (self-inclusive)
    words = (
        phrases.select("plen",
                       F.explode(F.split("phrase", " ")).alias("wrd"))
        .groupBy("wrd")
        .agg(F.count("*").alias("freq"), F.sum("plen").alias("deg"))
        .withColumn("wscore",
                    F.col("deg").cast("double") / F.col("freq"))
    )
    agg_phrases = phrases.groupBy("phrase").agg(
        F.count("*").alias("n_occurrences"),
        F.first("plen").alias("n_words"),
    )
    scored = (
        agg_phrases.select(
            "phrase", "n_occurrences", "n_words",
            F.explode(F.split("phrase", " ")).alias("wrd"))
        .join(words.select("wrd", "wscore"), "wrd")
        .groupBy("phrase")
        .agg(
            F.first("n_occurrences").cast("long").alias("n_occurrences"),
            F.first("n_words").cast("long").alias("n_words"),
            F.expr(fold_expr("wscore")).alias("rake_score"),
        )
    )
    return (scored
            .orderBy(F.desc("rake_score"), F.desc("n_occurrences"),
                     F.asc("phrase"))
            .limit(RAKE_TOPK))


KEYPHRASE_RAKE_SQL = f"""
WITH pos AS (
  SELECT doc_id, u.pos AS pos, u.tok AS tok,
         u.tok IN ({_STOP_IN}) AS is_stop
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks) + 1),
                  i -> struct_pack(pos := i, tok := toks[i]))) AS u
    FROM (SELECT doc_id, {X.TOKENS_SQL} AS toks FROM documents)
  )
),
runs AS (
  SELECT doc_id, pos, tok,
         SUM(CASE WHEN is_stop THEN 1 ELSE 0 END) OVER
           (PARTITION BY doc_id ORDER BY pos
            ROWS UNBOUNDED PRECEDING) AS run_id
  FROM pos QUALIFY NOT is_stop
),
phrases AS (
  SELECT doc_id, run_id,
         string_agg(tok, ' ' ORDER BY pos) AS phrase,
         COUNT(*) AS plen
  FROM runs GROUP BY doc_id, run_id
),
words AS (
  SELECT wrd, COUNT(*) AS freq, SUM(plen) AS deg,
         CAST(SUM(plen) AS DOUBLE) / COUNT(*) AS wscore
  FROM (SELECT plen, unnest(string_split(phrase, ' ')) AS wrd
        FROM phrases)
  GROUP BY wrd
),
agg_phrases AS (
  SELECT phrase, COUNT(*) AS n_occurrences,
         ANY_VALUE(plen) AS n_words
  FROM phrases GROUP BY phrase
),
scored AS (
  SELECT p.phrase,
         CAST(ANY_VALUE(p.n_occurrences) AS BIGINT) AS n_occurrences,
         CAST(ANY_VALUE(p.n_words) AS BIGINT) AS n_words,
         {fold_sql("w.wscore")} AS rake_score
  FROM (SELECT phrase, n_occurrences, n_words,
               unnest(string_split(phrase, ' ')) AS wrd
        FROM agg_phrases) p
  JOIN words w ON p.wrd = w.wrd
  GROUP BY p.phrase
)
SELECT phrase, n_occurrences, n_words, rake_score
FROM scored
ORDER BY rake_score DESC, n_occurrences DESC, phrase ASC
LIMIT {RAKE_TOPK}
"""

QUERIES = {"keyphrase_rake": keyphrase_rake}
ORACLES = {"keyphrase_rake": KEYPHRASE_RAKE_SQL}


# ------------------------------------------------- clustering_coeff
# (placed with RAKE for module economy; graph family, reuses the
# strong co-purchase graph of triangle_count / graph.py)
def clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node LOCAL clustering coefficient over the strong
    co-purchase part graph (triangle_count's edge rule): cc(n) =
    2 * T_n / (d_n * (d_n - 1)) — how tightly each part's co-purchase
    neighborhood closes into cliques. The node-resolved refinement of
    triangle_count's global census; parts with high degree but near-
    zero cc are hub/bridge SKUs, high-cc parts live in bundles.

    Shape: same canonical u < v edge table (one checkpoint feeds the
    wedge join, the closure probe, and the degree count); each
    closed triangle (u < v < w) credits its three corners via a
    3-way union + partial-agg count; cc is one exact integer
    rational per node. Wedge fan-out and the degree-orientation
    upgrade note are as in triangle_count (graph.py).
    """
    from distributed_system_mapreduce_spark.functions.graphs import (
        strong_undirected,
    )
    from distributed_system_mapreduce_spark.operators.graph import (
        _TRI_SUPPORT,
    )

    li = load_table(spark, "lineitem", sf_dir)
    edges = (strong_undirected(li, _TRI_SUPPORT)
             .select("u", "v").transform(cut))
    ab, bc, ac = edges.alias("ab"), edges.alias("bc"), edges.alias("ac")
    tris = (
        ab.join(bc, F.col("ab.v") == F.col("bc.u"))
        .join(ac, (F.col("ab.u") == F.col("ac.u"))
              & (F.col("bc.v") == F.col("ac.v")))
        .select(F.col("ab.u").alias("a"), F.col("ab.v").alias("b"),
                F.col("bc.v").alias("c"))
    )
    tri_nodes = (
        tris.select(F.col("a").alias("n"))
        .unionAll(tris.select(F.col("b").alias("n")))
        .unionAll(tris.select(F.col("c").alias("n")))
        .groupBy("n").agg(F.count("*").alias("t"))
    )
    deg = (
        edges.select(F.col("u").alias("n"))
        .unionAll(edges.select(F.col("v").alias("n")))
        .groupBy("n").agg(F.count("*").alias("d"))
    )
    return (
        deg.join(tri_nodes, "n", "left")
        .select(
            F.col("n").alias("part"),
            F.col("d").cast("long").alias("degree"),
            F.coalesce("t", F.lit(0)).cast("long").alias("n_triangles"),
            F.when(
                F.col("d") >= 2,
                2.0 * F.coalesce("t", F.lit(0)).cast("double")
                / (F.col("d").cast("double") * (F.col("d") - 1)),
            ).otherwise(F.lit(0.0)).alias("clustering_coeff"),
        )
    )


def _cc_sql() -> str:
    from distributed_system_mapreduce_spark.operators.graph import (
        _TRI_SUPPORT,
    )
    return f"""
WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM lp a JOIN lp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_TRI_SUPPORT}
),
tris AS (
  SELECT ab.u AS a, ab.v AS b, bc.v AS c
  FROM edges ab
  JOIN edges bc ON ab.v = bc.u
  JOIN edges ac ON ab.u = ac.u AND bc.v = ac.v
),
tri_nodes AS (
  SELECT n, COUNT(*) AS t FROM (
    SELECT a AS n FROM tris
    UNION ALL SELECT b FROM tris
    UNION ALL SELECT c FROM tris
  ) GROUP BY n
),
deg AS (
  SELECT n, COUNT(*) AS d FROM (
    SELECT u AS n FROM edges UNION ALL SELECT v FROM edges
  ) GROUP BY n
)
SELECT deg.n AS part,
       CAST(d AS BIGINT) AS degree,
       CAST(coalesce(t, 0) AS BIGINT) AS n_triangles,
       CASE WHEN d >= 2
            THEN 2.0 * CAST(coalesce(t, 0) AS DOUBLE)
                 / (CAST(d AS DOUBLE) * (d - 1))
            ELSE 0.0 END AS clustering_coeff
FROM deg LEFT JOIN tri_nodes ON deg.n = tri_nodes.n
"""


QUERIES["clustering_coeff"] = clustering_coeff
ORACLES["clustering_coeff"] = _cc_sql()
