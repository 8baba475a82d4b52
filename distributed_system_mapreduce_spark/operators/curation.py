"""Corpus-curation queries over `documents` — the LLM training-data
pipeline stages between per-doc feature extraction (text_analysis.py)
and training:

- splitting and sampling: train/val/test hash walls, stratified
  reservoirs, weighted (Efraimidis-Spirakis) sampling, shard
  assignment, temperature-scaled source weights.
- quality and filtering: per-group quality top-k, adaptive and Gopher
  rules, repetition, compression ratio, text integrity, charset
  census, PII scrubbing, the quality Pareto frontier.
- mixture and budgets: domain mix and rebalance sampling, token
  budgets, sequence packing and chunk overlap, source HHI, dataset
  card, source length moments, boilerplate.
- corpus statistics: n-grams, bigram/skip-gram lift, vocabulary
  growth, token rank curve, Zipf exponent, OOV rate, tokenizer
  fertility, entropy and JS divergence, DSIR importance, LM
  typicality, n-gram novelty, contamination, language confusion.

Exactness: counts and frequencies are exact integers; every double is
a per-row expression over integers in one fixed order (+ - * / only —
IEEE-deterministic in both engines); logarithms go through
`functions/detmath.ln_det` (correctly-rounded ops only); sums of
double terms fold over numerically sorted bounded lists
(`functions/detmath.fold_expr`/`fold_sql`) or a 1e-9 BIGINT grid;
hashes are md5 hex, bit-identical in Spark and DuckDB, and hashed
feature buckets use `functions/detmath.md5_bucket_expr`/`_sql`.

Projection-collapse discipline: token transforms are only evaluated
as the generator of an explode over a materialized tokens column;
inlining them into a plain Project re-runs the tokenizer per element
(see functions/text.py).

Scale shape (100 TB): tokenize/explode is narrow and linear; models
and censuses are partial-agg shuffles onto bounded grids (hash
buckets, languages, sources) broadcast back; every collect_list is
over a bounded group; top-k is TakeOrderedAndProject. No global
windows, driver state zero.

Reference tie-in: the (term, count) family generalizes the reference's
wordcount maple/juice pair; deterministic hash sampling generalizes its
splitKey partition-by-key job.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_system_mapreduce_spark.functions import text as X
from distributed_system_mapreduce_spark.functions.detmath import (
    fold_expr,
    fold_sql,
    ln_det,
    md5_bucket_expr,
    md5_bucket_sql,
)
from distributed_system_mapreduce_spark.functions.text import (
    BPE_COUNT_SQL,
    N_TOKENS_SQL,
    TOKENS_SQL,
    bpe_count,
    n_tokens,
    shingles_from,
    tokens,
)
from distributed_system_mapreduce_spark.lineage import cut
from distributed_system_mapreduce_spark.operators.dedup import _SHINGLE_SQL
from distributed_system_mapreduce_spark.operators.text_analysis import (
    QUALITY_SCORE_SQL,
    quality_score,
)
from distributed_system_mapreduce_spark.tables import load_table, spread


_VOCAB_BUCKET = 50  # docs per growth-curve bucket


def vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth curve over word-BIGRAM units:
    scanning documents in doc_id order, how many NEW distinct bigrams
    does each bucket of {b} docs contribute, and what is the
    cumulative vocabulary size — the tokenizer-sizing /
    merge-candidate-space diagnostic (unigrams saturate instantly on a
    bounded vocab; the bigram space is where growth lives).

    Shape: per-doc array_distinct before the explode (caps the shuffle
    at distinct-bigrams-per-doc), one partial-agg shuffle to
    min(doc_id) per bigram, one to bucket counts. The cumulative sum
    is NOT a global window: buckets are O(#docs/{b}) aggregate rows,
    so a broadcast triangular self-join (b2 <= b) computes the prefix
    sum with bounded fan-out — same discipline as orders_backlog's
    stitched cumsum.
    """.format(b=_VOCAB_BUCKET)
    docs = spread(load_table(spark, "documents", sf_dir))
    toks = docs.select("doc_id", X.tokens().alias("toks"))
    grams = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.expr(X.shingles_from("toks")))).alias("tok"),
    )
    first = grams.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    nb = (
        first.select(F.expr(f"first_doc DIV {_VOCAB_BUCKET}").alias("bucket"))
        .groupBy("bucket").agg(F.count("*").alias("n_new_tokens"))
    )
    from distributed_system_mapreduce_spark.functions.rollups import (
        triangular_cumsum,
    )

    return triangular_cumsum(nb, "bucket", "n_new_tokens", "vocab_size")


VOCAB_GROWTH_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct({X.SHINGLES_SQL})) AS tok
  FROM documents
),
first AS (SELECT tok, MIN(doc_id) AS first_doc FROM toks GROUP BY tok),
nb AS (
  SELECT first_doc // {_VOCAB_BUCKET} AS bucket,
         COUNT(*) AS n_new_tokens
  FROM first GROUP BY 1
)
SELECT a.bucket, a.n_new_tokens,
       CAST(SUM(b.n_new_tokens) AS BIGINT) AS vocab_size
FROM nb a JOIN nb b ON b.bucket <= a.bucket
GROUP BY a.bucket, a.n_new_tokens
"""


def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic text canonicalization emit: lowercase, map
    non-alphanumerics to spaces, collapse space runs, trim — the
    cleanup pass that precedes tokenizer training, plus a changed flag
    and the post-normalization token count.

    Narrow per-row expressions only (no shuffle at all — the plan is
    scan -> project); the regex classes are chosen from the Java/RE2
    common subset (see functions/text.py on the \\v divergence) so
    Spark and DuckDB replace identically.
    """
    docs = spread(load_table(spark, "documents", sf_dir))
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +", " "))
    staged = docs.select("doc_id", "text", norm.alias("norm_text"))
    return staged.select(
        "doc_id",
        "norm_text",
        F.expr("size(filter(split(norm_text, ' '), t -> t <> ''))")
        .alias("n_tokens_norm"),
        (F.col("norm_text") != F.col("text")).cast("long").alias("changed"),
    )


TEXT_NORMALIZE_SQL = """
WITH n AS (
  SELECT doc_id, text,
         trim(regexp_replace(regexp_replace(lower(text),
              '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text
  FROM documents
)
SELECT doc_id, norm_text,
       len(list_filter(string_split(norm_text, ' '), t -> t <> ''))
         AS n_tokens_norm,
       CAST(norm_text <> text AS BIGINT) AS changed
FROM n
"""


# ----------------------------------------------------- train/val split
def train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test assignment + per
    (source, split) accounting. split(doc) is a pure function of
    doc_id (first md5 hex byte: < 0xcc train ~80%, < 0xe6 val ~10%,
    else test) so the assignment is stable across runs, engines, and
    re-partitioning — the property a 100 TB pipeline needs so that
    re-processing never migrates a document across the wall. Narrow
    map + one partial-agg shuffle."""
    docs = load_table(spark, "documents", sf_dir)
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(bucket < "cc", "train")
        .when(bucket < "e6", "val")
        .otherwise("test")
    )
    return (
        docs.select("source", split.alias("split"),
                    X.n_tokens().cast("long").alias("n_toks"))
        .groupBy("source", "split")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_toks").alias("total_tokens"))
    )


TRAIN_VAL_SPLIT_SQL = f"""
SELECT source, split, COUNT(*) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS total_tokens
FROM (
  SELECT source,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
                THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                THEN 'val'
              ELSE 'test' END AS split,
         {X.N_TOKENS_SQL} AS n_toks
  FROM documents
)
GROUP BY source, split
"""


# ------------------------------------------- per-group quality top-k
QUALITY_TOPK = 3


def quality_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-3 documents per (source, lang) stratum by quality score —
    the 'keep the best per bucket' curation pass. The window
    partitions by the stratum key (bounded groups), quality is the
    fixed-order per-row double from quality_score, tie-break down to
    doc_id."""
    from distributed_system_mapreduce_spark.operators.text_analysis import (
        quality_score,
    )

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", "lang")
    scored = quality_score(spark, sf_dir).select("doc_id", "quality")
    w = Window.partitionBy("source", "lang").orderBy(
        F.desc("quality"), F.asc("doc_id"))
    return (
        docs.join(scored, "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= QUALITY_TOPK)
        .select("source", "lang", "doc_id", "quality", "rk")
    )


def _quality_topk_sql() -> str:
    from distributed_system_mapreduce_spark.operators.text_analysis import (
        QUALITY_SCORE_SQL,
    )

    return f"""
SELECT source, lang, doc_id, quality, rk FROM (
  SELECT d.source, d.lang, q.doc_id, q.quality,
         ROW_NUMBER() OVER (PARTITION BY d.source, d.lang
                            ORDER BY q.quality DESC, q.doc_id ASC) AS rk
  FROM ({QUALITY_SCORE_SQL}) q
  JOIN documents d ON d.doc_id = q.doc_id
)
WHERE rk <= {QUALITY_TOPK}
"""


# ------------------------------------------------------------ pii scrub
# The synthetic corpus contains no natural PII, so the query first
# derives an AUGMENTED text column (every 5th doc gains a
# deterministic synthetic email + phone) identically on both engines,
# then redacts. The augmentation is the test fixture; the redaction
# expressions are the product.
_EMAIL_PAT = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_PAT = r"\d{3}-\d{3}-\d{4}"
# Spark SQL string literals interpret backslashes; DuckDB's don't.
_EMAIL_PAT_EXPR = _EMAIL_PAT.replace("\\", "\\\\")
_PHONE_PAT_EXPR = _PHONE_PAT.replace("\\", "\\\\")


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: count + scrub emails and phone numbers.
    Pure narrow map (regexp_count / regexp_replace run inside
    codegen); output carries md5(scrubbed) rather than the scrubbed
    text so the oracle compares content without hauling full documents
    through the hash gate. Patterns are RE2-safe (no lookaround) so
    Java regex and DuckDB RE2 agree."""
    docs = load_table(spark, "documents", sf_dir)
    aug = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com call 555-123-4567"),
        ),
    ).otherwise(F.col("text"))
    scrubbed = F.expr(
        f"regexp_replace(regexp_replace(aug, '{_EMAIL_PAT_EXPR}', "
        f"'<EMAIL>'), '{_PHONE_PAT_EXPR}', '<PHONE>')"
    )
    return (
        docs.select("doc_id", aug.alias("aug"))
        .select(
            "doc_id",
            F.expr(f"regexp_count(aug, '{_EMAIL_PAT_EXPR}')")
            .cast("long").alias("n_emails"),
            F.expr(f"regexp_count(aug, '{_PHONE_PAT_EXPR}')")
            .cast("long").alias("n_phones"),
            F.md5(scrubbed).alias("scrub_hash"),
            F.length(scrubbed).cast("long").alias("scrub_len"),
        )
    )


PII_SCRUB_SQL = f"""
SELECT doc_id,
       len(regexp_extract_all(aug, '{_EMAIL_PAT}')) AS n_emails,
       len(regexp_extract_all(aug, '{_PHONE_PAT}')) AS n_phones,
       md5(regexp_replace(regexp_replace(aug, '{_EMAIL_PAT}',
           '<EMAIL>', 'g'), '{_PHONE_PAT}', '<PHONE>', 'g'))
         AS scrub_hash,
       length(regexp_replace(regexp_replace(aug, '{_EMAIL_PAT}',
           '<EMAIL>', 'g'), '{_PHONE_PAT}', '<PHONE>', 'g'))
         AS scrub_len
FROM (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com call 555-123-4567'
              ELSE text END AS aug
  FROM documents
)
"""


# ------------------------------------------------- curation pipeline
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END training-data pipeline as ONE composed plan:
    quality gate -> transitive near-dup removal -> deterministic
    train/val/test walls -> per (source, split) token ledger. This is
    the query a user actually ships after evaluating the individual
    stages.

    Scale shape: a SINGLE corpus scan computes the quality features,
    the split hash, and the token count; the dup-cluster labels
    (dedup_components — tiny: only docs in dup clusters) ride in as a
    broadcast left join, so the only corpus-wide exchange is the final
    partial-agg groupBy. No fact-fact shuffle anywhere.

    Quality features mirror text_analysis.quality_score (kept inline
    so the scan stays single-pass instead of re-joining a second
    derived scan on doc_id)."""
    from distributed_system_mapreduce_spark.operators.dedup import (
        dedup_components,
    )
    from distributed_system_mapreduce_spark.operators.text_analysis import (
        QUALITY_TAU,
    )

    docs = load_table(spark, "documents", sf_dir)
    labels = dedup_components(spark, sf_dir)
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(bucket < "cc", "train")
        .when(bucket < "e6", "val")
        .otherwise("test")
    )
    feats = docs.select(
        "doc_id", "source", split.alias("split"),
        X.n_tokens().cast("long").alias("n_toks"),
        X.stopword_count().cast("long").alias("n_stop"),
        F.length("text").cast("long").alias("n_len"),
        F.expr(r"length(regexp_replace(text, '[^A-Za-z]', ''))")
        .cast("long").alias("n_alpha"),
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    quality = (
        F.least(dbl("n_toks") / F.lit(100.0), F.lit(1.0)) * 0.5
        + (dbl("n_stop") / dbl("n_toks")) * 0.25
        + (dbl("n_alpha") / dbl("n_len")) * 0.25
    )
    kept = (
        feats.join(F.broadcast(labels), "doc_id", "left")
        .filter(F.col("component").isNull()
                | (F.col("component") == F.col("doc_id")))
        .filter(quality >= QUALITY_TAU)
    )
    return (
        kept.groupBy("source", "split")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_toks").alias("total_tokens"))
    )


def _curation_pipeline_sql() -> str:
    from distributed_system_mapreduce_spark.operators.dedup import (
        DEDUP_COMPONENTS_SQL,
    )
    from distributed_system_mapreduce_spark.operators.text_analysis import (
        QUALITY_SCORE_SQL,
        QUALITY_TAU,
    )

    return f"""
WITH comp AS ({DEDUP_COMPONENTS_SQL}),
q AS ({QUALITY_SCORE_SQL})
SELECT d.source,
       CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) < 'cc'
              THEN 'train'
            WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) < 'e6'
              THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(q.n_toks) AS BIGINT) AS total_tokens
FROM documents d
JOIN q ON d.doc_id = q.doc_id
LEFT JOIN comp c ON d.doc_id = c.doc_id
WHERE (c.component IS NULL OR c.component = d.doc_id)
  AND q.quality >= {QUALITY_TAU}
GROUP BY 1, 2
"""


# ----------------------------------------------------- repetition score
def repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals (the Gopher/MassiveText filter
    family): duplicate-token fraction, duplicate-bigram fraction, and
    top-bigram concentration.

    Scale shape: token/distinct counts are narrow per-row expressions;
    the bigram histogram is explode -> groupBy(doc_id, bigram) with
    map-side combine, re-aggregated by doc_id — both shuffles are
    keyed by doc_id (the table's natural key), so at 100 TB this is
    one pass over text with combine-sized exchanges."""
    docs = spread(load_table(spark, "documents", sf_dir))
    toks = docs.select("doc_id", X.tokens().alias("toks"))
    stats = toks.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_toks"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_dtoks"),
    )
    big = (
        toks.select(
            "doc_id",
            F.explode(F.expr(X.shingles_from("toks"))).alias("s"))
        .groupBy("doc_id", "s")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.count("*").alias("n_dbigrams"),
            F.max("c").alias("top_bigram"),
        )
    )
    out = (
        stats.join(big, "doc_id", "left")
        .select(
            "doc_id", "n_toks", "n_dtoks",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("n_dbigrams", F.lit(0)).alias("n_dbigrams"),
            F.coalesce("top_bigram", F.lit(0)).alias("top_bigram"),
        )
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    return out.select(
        "doc_id", "n_toks", "n_dtoks", "n_bigrams", "top_bigram",
        F.when(F.col("n_toks") > 0,
               (dbl("n_toks") - dbl("n_dtoks")) / dbl("n_toks"))
        .otherwise(F.lit(0.0)).alias("dup_token_frac"),
        F.when(F.col("n_bigrams") > 0,
               (dbl("n_bigrams") - dbl("n_dbigrams")) / dbl("n_bigrams"))
        .otherwise(F.lit(0.0)).alias("dup_bigram_frac"),
        F.when(F.col("n_bigrams") > 0,
               dbl("top_bigram") / dbl("n_bigrams"))
        .otherwise(F.lit(0.0)).alias("top_bigram_frac"),
    )


REPETITION_SCORE_SQL = f"""
WITH toks AS (SELECT doc_id, {X.TOKENS_SQL} AS toks FROM documents),
stats AS (
  SELECT doc_id, len(toks) AS n_toks,
         len(list_distinct(toks)) AS n_dtoks
  FROM toks
),
big AS (
  SELECT doc_id, SUM(c) AS n_bigrams, COUNT(*) AS n_dbigrams,
         MAX(c) AS top_bigram
  FROM (
    SELECT doc_id, s, COUNT(*) AS c
    FROM (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i + 1])) AS s
      FROM toks
    )
    GROUP BY doc_id, s
  )
  GROUP BY doc_id
)
SELECT doc_id, n_toks, n_dtoks, n_bigrams, top_bigram,
       CASE WHEN n_toks > 0 THEN
         (CAST(n_toks AS DOUBLE) - CAST(n_dtoks AS DOUBLE))
           / CAST(n_toks AS DOUBLE)
       ELSE 0.0 END AS dup_token_frac,
       CASE WHEN n_bigrams > 0 THEN
         (CAST(n_bigrams AS DOUBLE) - CAST(n_dbigrams AS DOUBLE))
           / CAST(n_bigrams AS DOUBLE)
       ELSE 0.0 END AS dup_bigram_frac,
       CASE WHEN n_bigrams > 0 THEN
         CAST(top_bigram AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
       ELSE 0.0 END AS top_bigram_frac
FROM (
  SELECT t.doc_id, t.n_toks, t.n_dtoks,
         CAST(COALESCE(g.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         COALESCE(g.n_dbigrams, 0) AS n_dbigrams,
         COALESCE(g.top_bigram, 0) AS top_bigram
  FROM stats t LEFT JOIN big g ON t.doc_id = g.doc_id
)
"""


# ------------------------------------------------------- corpus n-grams
TOP_NGRAMS = 50


def ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-50 word bigrams: occurrence count + document
    frequency. One explode + one partial-aggregating shuffle on the
    bigram key (count-distinct over doc_id expands to a two-phase
    agg); global top-k is TakeOrderedAndProject, never a global
    window."""
    docs = spread(load_table(spark, "documents", sf_dir))
    toks = docs.select("doc_id", X.tokens().alias("toks"))
    sh = toks.select(
        "doc_id",
        F.explode(F.expr(X.shingles_from("toks"))).alias("bigram"))
    return (
        sh.groupBy("bigram")
        .agg(F.count("*").alias("n_occ"),
             F.countDistinct("doc_id").alias("n_docs"))
        .orderBy(F.desc("n_occ"), F.asc("bigram"))
        .limit(TOP_NGRAMS)
    )


NGRAM_COUNTS_SQL = f"""
SELECT bigram, COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS n_docs
FROM (SELECT doc_id, unnest({X.SHINGLES_SQL}) AS bigram FROM documents)
GROUP BY bigram
ORDER BY n_occ DESC, bigram ASC
LIMIT {TOP_NGRAMS}
"""


# ------------------------------------------------- contamination check
# Held-out "benchmark" = every 97th doc (deterministic, ~1%). The
# product shape is the eval-set n-gram overlap scan.
CONTAM_MOD = 97
CONTAM_TAU = 0.5


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every non-benchmark document: how many of its distinct
    bigrams appear anywhere in the benchmark set, and the resulting
    contamination fraction / flag.

    Scale shape: the benchmark shingle vocabulary is tiny relative to
    the corpus (~1% of docs, distinct-ed) — broadcast it; the corpus
    side is one explode_outer (keeps shingle-less docs) -> broadcast
    left join -> one re-aggregation keyed by doc_id. No shuffle
    touches the full corpus's raw shingles."""
    docs = spread(load_table(spark, "documents", sf_dir))
    toks = docs.select(
        "doc_id",
        (F.col("doc_id") % CONTAM_MOD == 0).alias("is_bench"),
        X.tokens().alias("toks"),
    )
    ex = toks.select(
        "doc_id", "is_bench",
        F.explode_outer(
            F.array_distinct(F.expr(X.shingles_from("toks")))).alias("s"),
    )
    bench_sh = (
        ex.filter("is_bench").filter(F.col("s").isNotNull())
        .select("s").distinct()
        .withColumn("hit", F.lit(1))
    )
    out = (
        ex.filter(~F.col("is_bench"))
        .join(F.broadcast(bench_sh), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count("s").alias("n_shingles"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_shared"),
        )
    )
    frac = F.when(
        F.col("n_shingles") > 0,
        F.col("n_shared").cast("double")
        / F.col("n_shingles").cast("double"),
    ).otherwise(F.lit(0.0))
    return out.select(
        "doc_id", "n_shingles", "n_shared",
        frac.alias("contam_frac"),
        (frac >= CONTAM_TAU).cast("long").alias("contaminated"),
    )


CONTAMINATION_CHECK_SQL = f"""
WITH dsh AS (
  SELECT doc_id, doc_id % {CONTAM_MOD} = 0 AS is_bench,
         list_distinct({X.SHINGLES_SQL}) AS dsh
  FROM documents
),
bench_sh AS (
  SELECT DISTINCT unnest(dsh) AS s FROM dsh WHERE is_bench
),
shared AS (
  SELECT doc_id, COUNT(*) AS n_shared
  FROM (SELECT doc_id, unnest(dsh) AS s FROM dsh WHERE NOT is_bench)
  JOIN bench_sh USING (s)
  GROUP BY doc_id
),
base AS (
  SELECT d.doc_id, len(d.dsh) AS n_shingles,
         COALESCE(s.n_shared, 0) AS n_shared
  FROM dsh d LEFT JOIN shared s ON d.doc_id = s.doc_id
  WHERE NOT d.is_bench
)
SELECT doc_id, n_shingles, n_shared,
       CASE WHEN n_shingles > 0 THEN
         CAST(n_shared AS DOUBLE) / CAST(n_shingles AS DOUBLE)
       ELSE 0.0 END AS contam_frac,
       CAST(CASE WHEN n_shingles > 0 AND
         CAST(n_shared AS DOUBLE) / CAST(n_shingles AS DOUBLE)
           >= {CONTAM_TAU}
         THEN 1 ELSE 0 END AS BIGINT) AS contaminated
FROM base
"""


# ----------------------------------------------------------- domain mix
def domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixture accounting: per-source doc/token totals, token
    share, and the resampling weight that would equalize token mass
    across sources (target = uniform 1/n_sources). weight > 1 means
    upsample, < 1 downsample — the DoReMi-style mixture input.

    Scale shape: one partial-agg shuffle on source; the grand-total /
    source-count row is a broadcast cross join. Shares and weights are
    fixed-order int->double divisions."""
    docs = load_table(spark, "documents", sf_dir)
    per_src = (
        docs.select("source", X.n_tokens().cast("long").alias("n_toks"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_toks").alias("total_tokens"))
    )
    grand = per_src.agg(
        F.count("*").alias("n_sources"),
        F.sum("total_tokens").alias("grand_tokens"),
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        per_src.crossJoin(F.broadcast(grand))
        .select(
            "source", "n_docs", "total_tokens",
            (dbl("total_tokens") / dbl("grand_tokens"))
            .alias("token_share"),
            (dbl("grand_tokens")
             / (F.col("n_sources") * F.col("total_tokens"))
             .cast("double")).alias("weight"),
        )
    )


DOMAIN_MIX_SQL = f"""
WITH per_src AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(n_toks) AS BIGINT) AS total_tokens
  FROM (SELECT source, {X.N_TOKENS_SQL} AS n_toks FROM documents)
  GROUP BY source
),
grand AS (
  SELECT COUNT(*) AS n_sources, SUM(total_tokens) AS grand_tokens
  FROM per_src
)
SELECT source, n_docs, total_tokens,
       CAST(total_tokens AS DOUBLE) / CAST(grand_tokens AS DOUBLE)
         AS token_share,
       CAST(grand_tokens AS DOUBLE)
         / CAST(n_sources * total_tokens AS DOUBLE) AS weight
FROM per_src CROSS JOIN grand
"""


# ------------------------------------------------- mix rebalance sample
# md5 first 4 hex chars -> 16-bit integer, identically in both engines
# (no conv() in DuckDB, so nibble-decode via instr over the hex
# alphabet — pure integer arithmetic). The md5 input is salted with
# 'mix:' so the keep decision is independent of the un-salted
# md5(doc_id) that drives train_val_split (curation.py) — otherwise a
# source downsampled below weight 0.5 would keep only docs whose hash
# falls entirely inside the 'train' bucket, emptying val/test for it.
def _hex16_expr(md5_input: str) -> str:
    h = f"md5({md5_input})"
    parts = [
        f"(instr('0123456789abcdef', substring({h}, {i + 1}, 1)) - 1)"
        f" * {16 ** (3 - i)}"
        for i in range(4)
    ]
    return " + ".join(parts)


def mix_rebalance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample over-represented sources to the uniform token mix:
    keep a document iff hash16(doc_id) < floor(min(1, weight) *
    65536), with weight from domain_mix. The keep decision is a pure
    function of (doc_id, per-source weight) — stable across runs,
    engines, and partitioning, so a 100 TB re-run never flips a
    document's fate. Per-source cutoffs ride in on a broadcast join;
    the filter itself is narrow."""
    docs = load_table(spark, "documents", sf_dir)
    # bounded per-source cutoffs; materialize once so the broadcast
    # below never replays domain_mix's corpus aggregates (r7 audit)
    cuts = domain_mix(spark, sf_dir).select(
        "source",
        F.floor(F.least(F.lit(1.0), F.col("weight")) * 65536)
        .cast("long").alias("cutoff"),
    ).transform(cut)
    h16 = F.expr(_hex16_expr("'mix:' || CAST(doc_id AS STRING)")).cast("long")
    return (
        docs.select("doc_id", "source", h16.alias("h16"))
        .join(F.broadcast(cuts), "source")
        .filter(F.col("h16") < F.col("cutoff"))
        .select("doc_id", "source", "h16", "cutoff")
    )


MIX_REBALANCE_SAMPLE_SQL = f"""
WITH mix AS ({DOMAIN_MIX_SQL}),
cuts AS (
  SELECT source,
         CAST(floor(least(1.0, weight) * 65536) AS BIGINT) AS cutoff
  FROM mix
)
SELECT doc_id, source, h16, cutoff
FROM (
  SELECT doc_id, source,
         CAST({_hex16_expr("'mix:' || CAST(doc_id AS VARCHAR)")} AS BIGINT) AS h16
  FROM documents
)
JOIN cuts USING (source)
WHERE h16 < cutoff
"""


# -------------------------------------------------------- packing stats
PACK_CTX = 64      # context length (tokens) for the packing ledger
PACK_BUCKET = 8    # histogram bucket width (tokens)
PACK_LAST = 15     # top bucket index (>= 120 tokens pools here)


def packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing ledger: doc-length histogram (8-token buckets,
    clamped) with, per bucket, the pad and truncation token mass if
    each doc occupied one PACK_CTX-token sequence. This is the
    accounting that sizes a context-length budget before tokenizing
    100 TB. Narrow per-row features + one partial-agg shuffle on the
    bucket key. Integer-only aggregates."""
    docs = load_table(spark, "documents", sf_dir)
    rows = docs.select(
        (F.least(F.expr(f"size({X.TOKENS_EXPR}) div {PACK_BUCKET}"),
                 F.lit(PACK_LAST)).cast("long") * PACK_BUCKET)
        .alias("bucket_lo"),
        X.n_tokens().cast("long").alias("n_toks"),
    )
    return (
        rows.groupBy("bucket_lo")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("sum_tokens"),
            F.sum(F.lit(PACK_CTX) - F.least(F.col("n_toks"),
                                            F.lit(PACK_CTX)))
            .alias("pad_tokens"),
            F.sum(F.greatest(F.col("n_toks") - F.lit(PACK_CTX),
                             F.lit(0))).alias("truncated_tokens"),
        )
    )


PACKING_STATS_SQL = f"""
SELECT bucket_lo, COUNT(*) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS sum_tokens,
       CAST(SUM({PACK_CTX} - least(n_toks, {PACK_CTX})) AS BIGINT)
         AS pad_tokens,
       CAST(SUM(greatest(n_toks - {PACK_CTX}, 0)) AS BIGINT)
         AS truncated_tokens
FROM (
  SELECT least(n_toks // {PACK_BUCKET}, {PACK_LAST}) * {PACK_BUCKET}
           AS bucket_lo,
         n_toks
  FROM (SELECT {X.N_TOKENS_SQL} AS n_toks FROM documents)
)
GROUP BY bucket_lo
"""


# ------------------------------------------- per-source adaptive gate
def quality_adaptive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source ADAPTIVE quality gate report: each source keeps its
    docs scoring at or above its OWN median quality — the per-domain
    threshold trick real curation uses instead of one global tau
    (a global cut empties clean-but-terse domains and keeps the best
    of a spammy one).

    Plan: per-row quality (narrow), joined to (doc_id, source) ONCE
    and localCheckpointed — the per-source median and the gating
    counts both reference the scored table, and each replayed the
    quality-feature regexes over the corpus otherwise (r7 scan
    audit: 4 scans, now 1); per-source exact percentile (one partial
    shuffle over bounded groups — switch to approx_percentile if
    sources are unbounded), thresholds broadcast back, conditional
    counts in one more partial agg. Median interpolation matches
    DuckDB quantile_cont bit-for-bit (same guarantee price_quantiles
    relies on)."""
    from distributed_system_mapreduce_spark.operators.text_analysis import (
        quality_score,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    scored = quality_score(spark, sf_dir).select("doc_id", "quality")
    sq = docs.join(scored, "doc_id").transform(cut)
    thr = sq.groupBy("source").agg(
        F.expr("percentile(quality, 0.5)").alias("thr"))
    return (
        sq.join(F.broadcast(thr), "source")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("quality") >= F.col("thr"), 1)
                  .otherwise(0)).cast("long").alias("n_kept"),
            F.first("thr").alias("thr"),
        )
    )


def _quality_adaptive_sql() -> str:
    from distributed_system_mapreduce_spark.operators.text_analysis import (
        QUALITY_SCORE_SQL,
    )

    return f"""
WITH sq AS (
  SELECT d.source, q.quality
  FROM ({QUALITY_SCORE_SQL}) q JOIN documents d USING (doc_id)
),
thr AS (
  SELECT source, quantile_cont(quality, 0.5) AS thr
  FROM sq GROUP BY source
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN quality >= thr THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       ANY_VALUE(thr) AS thr
FROM sq JOIN thr USING (source)
GROUP BY source
"""


# ------------------------------------------------ token-budget sampling
def token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic token-budget downsample: each source keeps docs
    in md5-walk order until HALF its token mass is spent — the 'fit
    the mixture into a training budget' selection, reproducible across
    runs and engines (same salt-hash-order contract as
    train_val_split / mix_rebalance_sample).

    Plan: per-doc token counts (narrow), per-source budgets = one
    partial-agg shuffle broadcast back, running prefix sum via a
    window PARTITIONED BY source (never global). A pathologically hot
    source turns that window into a straggler at 100 TB — then shard
    it with the two-level prefix-sum pattern (per-shard cumsum +
    O(#shards) offsets, as range_partition_hist does globally)."""
    docs = load_table(spark, "documents", sf_dir)
    base = docs.select(
        "doc_id", "source",
        X.n_tokens().cast("long").alias("n_toks"),
        F.md5(F.concat(F.lit("budget:"),
                       F.col("doc_id").cast("string"))).alias("h"),
    )
    budgets = base.groupBy("source").agg(
        F.expr("CAST(sum(n_toks) AS LONG) div 2").alias("budget"))
    from pyspark.sql import Window

    w = (
        Window.partitionBy("source").orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = base.withColumn("cum_toks", F.sum("n_toks").over(w))
    return (
        cum.join(F.broadcast(budgets), "source")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("cum_toks") <= F.col("budget"), 1)
                  .otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(F.col("cum_toks") <= F.col("budget"),
                         F.col("n_toks")).otherwise(0))
            .cast("long").alias("tokens_kept"),
            F.first("budget").alias("budget"),
        )
    )


TOKEN_BUDGET_SQL = f"""
WITH base AS (
  SELECT doc_id, source, {X.N_TOKENS_SQL} AS n_toks,
         md5('budget:' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
budgets AS (
  SELECT source, CAST(SUM(n_toks) AS BIGINT) // 2 AS budget
  FROM base GROUP BY source
),
cum AS (
  SELECT doc_id, source, n_toks,
         SUM(n_toks) OVER (PARTITION BY source ORDER BY h, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum_toks
  FROM base
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN cum_toks <= budget THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(CASE WHEN cum_toks <= budget THEN n_toks ELSE 0 END)
            AS BIGINT) AS tokens_kept,
       ANY_VALUE(budget) AS budget
FROM cum JOIN budgets USING (source)
GROUP BY source
"""


# Context-window budget (tokens per packed sequence) and the shard
# fan-out. Packing is inherently sequential *within* a stream, so the
# corpus is split into source x shard streams (shard = doc_id mod 64)
# and packed per stream — 64 shards/source of parallelism here; on a
# real cluster set the shard count ~ executor cores so each stream's
# window sort fits one task. Chunks never span shards by construction.
PACK_BUDGET = 2048
PACK_SHARDS = 64


def pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing audit: concatenate each
    (source, shard) stream of documents in doc_id order, cut it into
    PACK_BUDGET-token context windows, and report per source how many
    windows the corpus fills and how many documents straddle a window
    boundary (the docs a loss mask would truncate).

    This is the greedy "pack by concatenation" recipe most pretraining
    pipelines use (GPT-style): no bin-packing search, just cumulative
    offsets — which is exactly what makes it expressible as ONE window
    + two partial aggs instead of a driver loop. Windows are
    partitioned (source, shard) — never global; the per-source rollup
    sums shard-level chunk counts (chunks don't cross shards).
    """
    docs = load_table(spark, "documents", sf_dir)
    d = docs.select(
        "source",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        "doc_id",
        n_tokens().alias("n_tok"),
    )
    w = (
        Window.partitionBy("source", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cumd = d.select(
        "source", "shard", "n_tok",
        F.sum("n_tok").over(w).alias("cum"),
    )
    marked = cumd.select(
        "source", "shard", "n_tok",
        (
            (F.col("n_tok") > 0)
            & (F.expr(f"(cum - 1) div {PACK_BUDGET}")
               > F.expr(f"(cum - n_tok) div {PACK_BUDGET}"))
        ).cast("long").alias("straddles"),
    )
    per_shard = marked.groupBy("source", "shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("shard_tokens"),
        F.sum("straddles").cast("long").alias("n_straddlers"),
    )
    return per_shard.groupBy("source").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("shard_tokens").cast("long").alias("total_tokens"),
        F.sum(
            F.expr(f"(shard_tokens + {PACK_BUDGET - 1}) div {PACK_BUDGET}")
        ).cast("long").alias("n_chunks"),
        F.sum("n_straddlers").cast("long").alias("n_straddlers"),
    )


PACK_CHUNKS_SQL = f"""
WITH d AS (
  SELECT source, doc_id % {PACK_SHARDS} AS shard, doc_id,
         {N_TOKENS_SQL} AS n_tok
  FROM documents
),
marked AS (
  SELECT source, shard, n_tok,
         SUM(n_tok) OVER (PARTITION BY source, shard ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum,
         CASE WHEN n_tok > 0 AND
              (SUM(n_tok) OVER (PARTITION BY source, shard ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - 1)
                // {PACK_BUDGET}
              > (SUM(n_tok) OVER (PARTITION BY source, shard ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) - n_tok)
                // {PACK_BUDGET}
         THEN 1 ELSE 0 END AS straddles
  FROM d
),
per_shard AS (
  SELECT source, shard, COUNT(*) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS shard_tokens,
         CAST(SUM(straddles) AS BIGINT) AS n_straddlers
  FROM marked GROUP BY source, shard
)
SELECT source,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(shard_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM((shard_tokens + {PACK_BUDGET - 1}) // {PACK_BUDGET})
            AS BIGINT) AS n_chunks,
       CAST(SUM(n_straddlers) AS BIGINT) AS n_straddlers
FROM per_shard
GROUP BY source
"""


def bigram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: the 30 most frequent word bigrams with
    their LIFT — p(xy) / (p(x) p(y)) — the log-free cousin of PMI
    ("how much more often do these words co-occur than chance").

    Lift instead of PMI on purpose: PMI needs ln(), and libm ln is
    not bit-portable across engines; lift is a ratio of exact integer
    counts, computed as ONE fixed-order double expression, so it
    hashes identically. Plan: ONE corpus scan — each doc explodes its
    unigrams and bigrams through a single Generate (tokenize once,
    kind-tagged terms), one partial-agg shuffle, and the bounded
    vocabulary-scale count table is localCheckpointed before its five
    consumers (totals, top-30, u1, u2) — the per-branch shape
    re-tokenized the corpus five times (r7 scan audit). Top-30
    bigrams picked FIRST (TakeOrderedAndProject, full tie-break) and
    only those 30 rows are broadcast-joined to the unigram table and
    the 1-row totals — the lift arithmetic is O(30), never
    corpus-sized.
    """
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(tokens().alias("toks"))
    counted = (
        toks.select(F.explode(F.expr(
            "concat("
            "transform(toks, w -> struct('u' AS kind, w AS term)), "
            f"transform({shingles_from('toks')}, "
            "b -> struct('b' AS kind, b AS term)))"
        )).alias("e"))
        .groupBy("e.kind", "e.term")
        .agg(F.count("*").alias("c"))
        .transform(cut)
    )
    uni = counted.filter(F.col("kind") == "u").select(
        F.col("term").alias("w"), F.col("c").alias("c_w"))
    big = counted.filter(F.col("kind") == "b").select(
        F.col("term").alias("bigram"), F.col("c").alias("c_xy"))
    totals = F.broadcast(
        uni.agg(
            F.sum("c_w").cast("long").alias("n_uni"),
            F.count("*").alias("_vocab"),
        ).crossJoin(
            big.agg(F.sum("c_xy").cast("long").alias("n_bi")))
        .select("n_uni", "n_bi")
    )
    top = F.broadcast(
        big.orderBy(F.desc("c_xy"), "bigram").limit(30).select(
            "bigram", "c_xy",
            F.split("bigram", " ").getItem(0).alias("w1"),
            F.split("bigram", " ").getItem(1).alias("w2"),
        )
    )
    u1, u2 = uni.alias("u1"), uni.alias("u2")
    return (
        top.join(u1, top["w1"] == F.col("u1.w"))
        .join(u2, top["w2"] == F.col("u2.w"))
        .crossJoin(totals)
        .select(
            "bigram", "c_xy",
            F.col("u1.c_w").alias("c_x"),
            F.col("u2.c_w").alias("c_y"),
            F.expr(
                "CAST(c_xy AS DOUBLE) * CAST(n_uni AS DOUBLE)"
                " * CAST(n_uni AS DOUBLE)"
                " / (CAST(n_bi AS DOUBLE) * CAST(u1.c_w AS DOUBLE)"
                " * CAST(u2.c_w AS DOUBLE))"
            ).alias("lift"),
        )
    )


BIGRAM_LIFT_SQL = f"""
WITH toks AS (SELECT {TOKENS_SQL} AS toks FROM documents),
uni AS (
  SELECT w, COUNT(*) AS c_w
  FROM (SELECT UNNEST(toks) AS w FROM toks)
  GROUP BY w
),
big AS (
  SELECT bigram, COUNT(*) AS c_xy
  FROM (SELECT UNNEST(list_transform(range(1, len(toks)),
                      i -> toks[i] || ' ' || toks[i + 1])) AS bigram
        FROM toks)
  GROUP BY bigram
),
totals AS (
  SELECT (SELECT CAST(SUM(c_w) AS BIGINT) FROM uni) AS n_uni,
         (SELECT CAST(SUM(c_xy) AS BIGINT) FROM big) AS n_bi
),
top AS (
  SELECT bigram, c_xy,
         string_split(bigram, ' ')[1] AS w1,
         string_split(bigram, ' ')[2] AS w2
  FROM big
  ORDER BY c_xy DESC, bigram ASC
  LIMIT 30
)
SELECT bigram, c_xy, u1.c_w AS c_x, u2.c_w AS c_y,
       CAST(c_xy AS DOUBLE) * CAST(n_uni AS DOUBLE)
         * CAST(n_uni AS DOUBLE)
         / (CAST(n_bi AS DOUBLE) * CAST(u1.c_w AS DOUBLE)
            * CAST(u2.c_w AS DOUBLE)) AS lift
FROM top
JOIN uni u1 ON top.w1 = u1.w
JOIN uni u2 ON top.w2 = u2.w
CROSS JOIN totals
"""


def quality_dup_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-signal curation analytics: per quality QUARTILE, what
    fraction of documents are exact duplicates — the calibration
    question ("are low-quality docs disproportionately copies?") that
    decides whether dedup should run before or after the quality
    gate.

    Shape: TWO corpus scans — the quality features
    (localCheckpointed: the quartile cutoffs and the final join both
    reference the table, and each replayed the feature regexes
    otherwise) and the md5 pass, whose dup-group count is an
    h-partitioned window instead of a groupBy + self-join (one scan,
    one shuffle; r7 scan audit measured 4 scans in the old shape);
    quartile cutoffs are ONE array-percentile aggregate broadcast
    back (the rfm/concentration pattern — global ranking as threshold
    compares, no window); final rollup is 4 groups. The rate is one
    division of exact ints.
    """
    from pyspark.sql import Window

    from distributed_system_mapreduce_spark.operators.text_analysis import (
        quality_score,
    )

    q = quality_score(spark, sf_dir).select(
        "doc_id", "quality").transform(cut)
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.md5("text").alias("h"))
    flagged = docs.select(
        "doc_id",
        (F.count("*").over(Window.partitionBy("h")) > 1)
        .cast("int").alias("is_dup"),
    )
    cuts = F.broadcast(q.agg(
        F.expr("percentile(quality, array(0.25, 0.5, 0.75))").alias("qq")))
    quart = (
        F.lit(1)
        + (F.col("quality") > F.element_at(F.col("qq"), 1)).cast("int")
        + (F.col("quality") > F.element_at(F.col("qq"), 2)).cast("int")
        + (F.col("quality") > F.element_at(F.col("qq"), 3)).cast("int")
    )
    n = F.count("*")
    nd = F.sum("is_dup")
    return (
        q.join(flagged, "doc_id")
        .crossJoin(cuts)
        .select(quart.alias("q_quartile"), "is_dup")
        .groupBy("q_quartile")
        .agg(
            n.alias("n_docs"),
            nd.cast("long").alias("n_dup_docs"),
            (nd.cast("double") / n.cast("double")).alias("dup_rate"),
        )
    )

QUALITY_DUP_CORRELATION_SQL = f"""
WITH q AS (SELECT doc_id, quality FROM ({QUALITY_SCORE_SQL})),
d AS (SELECT doc_id, md5(text) AS h FROM documents),
grp AS (SELECT h, COUNT(*) AS c FROM d GROUP BY h),
flagged AS (
  SELECT d.doc_id, CAST(grp.c > 1 AS INT) AS is_dup
  FROM d JOIN grp ON d.h = grp.h
),
cuts AS (
  SELECT quantile_cont(quality, 0.25) AS t1,
         quantile_cont(quality, 0.5) AS t2,
         quantile_cont(quality, 0.75) AS t3
  FROM q
)
SELECT 1 + CAST(quality > t1 AS INT) + CAST(quality > t2 AS INT)
         + CAST(quality > t3 AS INT) AS q_quartile,
       COUNT(*) AS n_docs,
       CAST(SUM(is_dup) AS BIGINT) AS n_dup_docs,
       CAST(SUM(is_dup) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS dup_rate
FROM q JOIN flagged USING (doc_id) CROSS JOIN cuts
GROUP BY 1
"""


# ------------------------------------------------- tokenizer fertility
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility census per (source, lang): characters per
    token under both tokenizers, and the BPE-to-whitespace blowup —
    the dataset-card number that converts a byte budget into a token
    budget (and flags scripts the tokenizer fragments).

    Shape: one corpus scan, narrow per-doc token counting (JVM regex),
    one partial-agg shuffle on a bounded (source, lang) key space.
    Ratios are single int/int double divisions of already-aggregated
    BIGINTs — deterministic on both engines."""
    docs = load_table(spark, "documents", sf_dir)
    per = docs.select(
        "source", "lang", "n_chars",
        n_tokens().cast("long").alias("ws"),
        bpe_count().cast("long").alias("bpe"),
    )
    agg = per.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum("ws").cast("long").alias("total_ws_tokens"),
        F.sum("bpe").cast("long").alias("total_bpe_tokens"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return agg.select(
        "source", "lang", "n_docs", "total_chars",
        "total_ws_tokens", "total_bpe_tokens",
        (d("total_chars") / d("total_ws_tokens"))
        .alias("chars_per_ws_token"),
        (d("total_chars") / d("total_bpe_tokens"))
        .alias("chars_per_bpe_token"),
        (d("total_bpe_tokens") / d("total_ws_tokens")).alias("bpe_per_ws"),
    )


TOKENIZER_FERTILITY_SQL = f"""
SELECT source, lang, n_docs, total_chars, total_ws_tokens,
       total_bpe_tokens,
       CAST(total_chars AS DOUBLE) / CAST(total_ws_tokens AS DOUBLE)
         AS chars_per_ws_token,
       CAST(total_chars AS DOUBLE) / CAST(total_bpe_tokens AS DOUBLE)
         AS chars_per_bpe_token,
       CAST(total_bpe_tokens AS DOUBLE) / CAST(total_ws_tokens AS DOUBLE)
         AS bpe_per_ws
FROM (
  SELECT source, lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         CAST(SUM({N_TOKENS_SQL}) AS BIGINT) AS total_ws_tokens,
         CAST(SUM({BPE_COUNT_SQL}) AS BIGINT) AS total_bpe_tokens
  FROM documents
  GROUP BY source, lang
)
"""


# ---------------------------------------------- language-ID confusion
def lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the pipeline's language classifier
    (lang_id's marker-argmax prediction) against the gold `lang`
    label: per (true, predicted) cell count and its share of the true
    language — the eval that decides whether lang-gated curation
    steps can be trusted.

    Shape: one corpus scan (the lang_id scoring projection is narrow
    JVM work), one partial-agg shuffle onto a bounded <=25-cell
    matrix; the per-true totals come from a window over the already
    tiny cell table (partitioned by lang_true — never a global
    window), not a second corpus scan."""
    from distributed_system_mapreduce_spark.operators.text_analysis import (
        lang_id,
    )

    pred = lang_id(spark, sf_dir).select("lang_true", "lang_pred")
    cells = pred.groupBy("lang_true", "lang_pred").agg(
        F.count("*").cast("long").alias("n"))
    w = Window.partitionBy("lang_true")
    return cells.select(
        "lang_true", "lang_pred", "n",
        (F.col("n").cast("double")
         / F.sum("n").over(w).cast("double")).alias("share_of_true"),
    )


def _lang_confusion_sql() -> str:
    from distributed_system_mapreduce_spark.operators.text_analysis import (
        LANG_ID_SQL,
    )

    return f"""
WITH cells AS (
  SELECT lang_true, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
  FROM ({LANG_ID_SQL})
  GROUP BY lang_true, lang_pred
)
SELECT lang_true, lang_pred, n,
       CAST(n AS DOUBLE)
         / CAST(SUM(n) OVER (PARTITION BY lang_true) AS DOUBLE)
         AS share_of_true
FROM cells
"""


# ------------------------------------------- RAG sliding-window chunks
# Retrieval chunking: WINDOW tokens per chunk, STRIDE tokens between
# chunk starts (overlap = WINDOW - STRIDE). The training-side twin
# (pack_chunks) packs disjoint windows over a concatenated
# stream; retrieval chunks each doc independently WITH overlap, so
# boundary context is never lost to a cut.
CHUNK_WINDOW = 64
CHUNK_STRIDE = 48

# chunks(n) = 1                          if n <= W
#             1 + ceil((n - W) / S)      otherwise
# Emitted token mass has the closed form n + (chunks - 1) * (W - S):
# every chunk boundary re-emits exactly W - S overlap tokens (the
# last chunk is clipped at n, and chunk k-1 always ends at full W
# because ceil() puts any short remainder in the final chunk only).
_CHUNKS_EXPR = (
    f"CASE WHEN n <= {CHUNK_WINDOW} THEN CAST(1 AS BIGINT) "
    f"ELSE CAST(1 + (n - {CHUNK_WINDOW - CHUNK_STRIDE + 1}) "
    f"div {CHUNK_STRIDE} AS BIGINT) END"
)
_CHUNKS_SQL = (
    f"CASE WHEN n <= {CHUNK_WINDOW} THEN CAST(1 AS BIGINT) "
    f"ELSE CAST(1 + (n - {CHUNK_WINDOW - CHUNK_STRIDE + 1}) "
    f"// {CHUNK_STRIDE} AS BIGINT) END"
)


def chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window retrieval-chunking audit per source: how many
    chunks the corpus shards into, how many tokens the overlaps
    re-emit, and the resulting storage expansion — the sizing query
    run before building a RAG index over the corpus.

    Shape: one scan, closed-form integer chunk arithmetic per doc
    (no explode — the audit needs counts, not the chunks themselves),
    one partial-agg shuffle on the bounded source key. The single
    double division happens after aggregation."""
    docs = load_table(spark, "documents", sf_dir)
    per = docs.select(
        "source", n_tokens().cast("long").alias("n"),
    ).select(
        "source", "n", F.expr(_CHUNKS_EXPR).alias("chunks"),
    )
    agg = per.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("total_tokens"),
        F.sum("chunks").cast("long").alias("total_chunks"),
        F.sum((F.col("chunks") - 1)
              * (CHUNK_WINDOW - CHUNK_STRIDE))
        .cast("long").alias("overlap_tokens"),
    )
    return agg.select(
        "source", "n_docs", "total_tokens", "total_chunks",
        "overlap_tokens",
        ((F.col("total_tokens") + F.col("overlap_tokens")).cast("double")
         / F.col("total_tokens").cast("double")).alias("expansion_ratio"),
    )


CHUNK_OVERLAP_SQL = f"""
SELECT source, n_docs, total_tokens, total_chunks, overlap_tokens,
       CAST(total_tokens + overlap_tokens AS DOUBLE)
         / CAST(total_tokens AS DOUBLE) AS expansion_ratio
FROM (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n) AS BIGINT) AS total_tokens,
         CAST(SUM(chunks) AS BIGINT) AS total_chunks,
         CAST(SUM((chunks - 1) * {CHUNK_WINDOW - CHUNK_STRIDE}) AS BIGINT)
           AS overlap_tokens
  FROM (
    SELECT source, n, {_CHUNKS_SQL} AS chunks
    FROM (SELECT source, {N_TOKENS_SQL} AS n FROM documents)
  )
  GROUP BY source
)
"""


# --------------------------------------------- encoding-integrity census
# U+FFFD (the replacement character) is what a lossy transcode leaves
# behind; raw control bytes are what a binary-in-text ingest leaves
# behind. Both are standard pre-training corpus health flags.
_REPL_CHAR = chr(0xFFFD)
# control chars EXCLUDING the whitespace family the tokenizer accepts
# (\t\n\r\f\v); Spark SQL literals process backslash escapes (hence
# \\x), DuckDB's don't (RE2 sees \x.. directly) — same split as
# functions/text.py's whitespace class.
_CTRL_EXPR = r"[\\x00-\\x08\\x0E-\\x1F\\x7F]"
_CTRL_SQL = r"[\x00-\x08\x0e-\x1f\x7f]"


def text_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-integrity census per source: documents carrying
    U+FFFD replacement characters (lossy transcodes), raw control
    bytes (binary contamination), and the non-ASCII character mass —
    the mojibake health check run at ingest, before any
    language-aware step trusts the bytes.

    Shape: narrow per-doc JVM regex flags, one partial-agg shuffle on
    the bounded source key. The single share is one int/int double
    division after aggregation."""
    docs = load_table(spark, "documents", sf_dir)
    per = docs.select(
        "source",
        F.expr(f"CAST(contains(text, '{_REPL_CHAR}') AS INT)")
        .alias("has_repl"),
        F.expr(f"CAST(text RLIKE '{_CTRL_EXPR}' AS INT)")
        .alias("has_ctrl"),
        F.expr(r"length(regexp_replace(text, '[\\x00-\\x7F]', ''))")
        .cast("long").alias("non_ascii"),
        F.length("text").cast("long").alias("len"),
    )
    agg = per.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("has_repl").cast("long").alias("docs_replacement"),
        F.sum("has_ctrl").cast("long").alias("docs_control"),
        F.sum("non_ascii").cast("long").alias("non_ascii_chars"),
        F.sum("len").cast("long").alias("total_chars"),
    )
    return agg.select(
        "source", "n_docs", "docs_replacement", "docs_control",
        "non_ascii_chars", "total_chars",
        (F.col("non_ascii_chars").cast("double")
         / F.col("total_chars").cast("double")).alias("non_ascii_share"),
    )


TEXT_INTEGRITY_SQL = rf"""
SELECT source, n_docs, docs_replacement, docs_control, non_ascii_chars,
       total_chars,
       CAST(non_ascii_chars AS DOUBLE) / CAST(total_chars AS DOUBLE)
         AS non_ascii_share
FROM (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN contains(text, '{_REPL_CHAR}')
                       THEN 1 ELSE 0 END) AS BIGINT) AS docs_replacement,
         CAST(SUM(CASE WHEN regexp_matches(text, '{_CTRL_SQL}')
                       THEN 1 ELSE 0 END) AS BIGINT) AS docs_control,
         CAST(SUM(length(regexp_replace(text, '[\x00-\x7f]', '', 'g')))
              AS BIGINT) AS non_ascii_chars,
         CAST(SUM(length(text)) AS BIGINT) AS total_chars
  FROM documents
  GROUP BY source
)
"""


# ------------------------------------------------ balanced output shards
# The writer-side op: place docs into N_ASSIGN_SHARDS output files with
# near-equal token mass (a skewed shard is a straggler for every
# downstream consumer). Deterministic LPT-flavored round-robin:
# rank docs globally by size, deal rank i to shard i mod N. The
# global rank is NEVER a global window — docs bucket by floor(log2)
# size class (bounded ~40 buckets, integer-exact via binary-string
# length on both engines), rank within bucket (partitioned window),
# and bucket offsets come from a broadcast-sized exclusive prefix sum
# — the same partitioned prefix-sum stitch as orders_backlog.
N_ASSIGN_SHARDS = 8
_SHARD_SALTS = 16   # sub-partitions per size class; scale ~ cores
# floor(log2(n+1)) without floating log2 (whose rounding the two
# engines need not share): length of the binary representation - 1
_SIZE_BUCKET_EXPR = "CAST(length(bin(n + 1)) - 1 AS BIGINT)"
_SIZE_BUCKET_SQL = "CAST(length(bin(n + 1)) - 1 AS BIGINT)"


def shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced corpus sharding audit: deal every document to one of
    N_ASSIGN_SHARDS output shards by size rank (largest classes first,
    round-robin), then report each shard's doc count, token mass, and
    share — the balance check before a 100 TB write fan-out.

    Shape: one scan for token counts; ranks via windows PARTITIONED
    by (log2 size class, doc_id salt) — the salt matters at scale:
    most of a real corpus lands in a handful of size classes, so a
    class-only window would serialize each class onto one task, while
    class x {s} salts caps any window task at ~corpus/(classes*{s})
    rows (raise salts with the cluster). Sub-partition offsets are an
    exclusive prefix sum over the bounded class x salt count table
    (broadcast triangular join); final partial agg onto N_ASSIGN_SHARDS
    rows. No global or low-cardinality window anywhere. Within a
    class doc sizes differ by at most 2x, so salted dealing keeps
    the near-equal token balance of the unsalted rank.""".format(
        s=_SHARD_SALTS)
    from pyspark.sql import Window

    from distributed_system_mapreduce_spark.functions.rollups import (
        triangular_cumsum,
    )

    docs = load_table(spark, "documents", sf_dir)
    per = docs.select(
        "doc_id", n_tokens().cast("long").alias("n"),
    ).select(
        "doc_id", "n", F.expr(_SIZE_BUCKET_EXPR).alias("bucket"),
        (F.col("doc_id") % _SHARD_SALTS).alias("salt"),
    )
    # per is consumed by both the class-count table and the ranked
    # deal; without a barrier each consumer replays the scan AND the
    # tokenizer regex over the full corpus (r7 scan audit: 6 scans in
    # the static plan). The checkpoint holds 4 ints/doc — tiny next
    # to re-tokenizing 100 TB of text.
    per = per.transform(cut)
    counts = per.groupBy("bucket", "salt").agg(
        F.count("*").cast("long").alias("cnt"))
    # one integer orders the (bucket DESC, salt ASC) deal sequence, so
    # the shared <=-inclusive prefix helper applies; subtracting the
    # own count makes it exclusive (rank 1 = first doc of the slot)
    ordk = (-F.col("bucket")) * _SHARD_SALTS + F.col("salt")
    offs = (
        triangular_cumsum(
            counts.select(ordk.alias("ok"), "cnt"), "ok", "cnt", "cum")
        .select("ok", (F.col("cum") - F.col("cnt")).alias("offset"))
    )
    w = Window.partitionBy("bucket", "salt").orderBy(
        F.desc("n"), F.asc("doc_id"))
    ranked = (
        per.withColumn("rn", F.row_number().over(w))
        .withColumn("ok", ordk)
        .join(F.broadcast(offs), "ok")
        .select(
            "n",
            ((F.col("offset") + F.col("rn") - 1) % N_ASSIGN_SHARDS)
            .cast("long").alias("shard"),
        )
    )
    agg = ranked.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("total_tokens"),
    ).transform(cut)  # N_ASSIGN_SHARDS rows; grand-total + final both read it
    tot = agg.agg(F.sum("total_tokens").cast("long").alias("grand"))
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "shard", "n_docs", "total_tokens",
            (F.col("total_tokens").cast("double")
             / F.col("grand").cast("double")).alias("token_share"),
        )
    )


SHARD_ASSIGNMENT_SQL = f"""
WITH per AS (
  SELECT doc_id, n, {_SIZE_BUCKET_SQL} AS bucket,
         doc_id % {_SHARD_SALTS} AS salt
  FROM (SELECT doc_id, CAST({N_TOKENS_SQL} AS BIGINT) AS n
        FROM documents)
),
counts AS (
  SELECT bucket, salt, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM per GROUP BY bucket, salt
),
offs AS (
  SELECT bucket, salt,
         CAST(COALESCE(SUM(cnt) OVER (ORDER BY bucket DESC, salt ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS off
  FROM counts
),
ranked AS (
  SELECT p.n,
         (o.off + ROW_NUMBER() OVER (PARTITION BY p.bucket, p.salt
                                     ORDER BY p.n DESC, p.doc_id ASC)
          - 1) % {N_ASSIGN_SHARDS} AS shard
  FROM per p JOIN offs o
    ON p.bucket = o.bucket AND p.salt = o.salt
),
agg AS (
  SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n) AS BIGINT) AS total_tokens
  FROM ranked GROUP BY shard
)
SELECT CAST(shard AS BIGINT) AS shard, n_docs, total_tokens,
       CAST(total_tokens AS DOUBLE)
         / CAST((SELECT SUM(total_tokens) FROM agg) AS DOUBLE)
         AS token_share
FROM agg
"""


# ----------------------------------------------- Gopher-rule gate census
# The classic rule-based quality gate (Rae et al. 2021, "Scaling
# Language Models: ... Gopher", public): hard document filters with
# PER-RULE rejection attribution, so a corpus owner sees WHICH rule
# costs which source how much before turning the gate on. All rule
# comparisons are integer cross-multiplications — no ratio doubles
# inside the predicate, so both engines decide identically.
_GR_MIN_TOKS = 50
_GR_MAX_TOKS = 100_000
_GR_MIN_MWL = 3      # mean word length bounds (chars/token)
_GR_MAX_MWL = 10
_GR_SYMBOL_CLASS_EXPR = r"[#$%&*+=@^_~|<>]"
_GR_SYMBOL_CLASS_SQL = r"[#$%&*+=@^_~|<>]"
_GR_MIN_STOP = 2
# >= 70% of tokens must contain an alphabetic character
_GR_ALPHA_NUM, _GR_ALPHA_DEN = 7, 10


def gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style hard-rule gate census per source: for each of the
    five document rules (token-count bounds, mean-word-length bounds,
    symbol-to-token ratio, minimum stopword evidence, alphabetic-token
    share), how many docs fail it, plus the all-rules pass count and
    rate — the rule-attribution report read before enabling the gate.

    Shape: one scan; the token array is materialized ONCE per doc and
    every rule reads it (no re-tokenization per rule — the projection
    chain hazard); one partial-agg shuffle on the bounded source key.
    Rules compare integer cross-products (e.g. 10*symbols < tokens),
    never ratio doubles."""
    from distributed_system_mapreduce_spark.functions.text import (
        STOPWORDS,
        TOKENS_EXPR,
    )

    inlist = ", ".join(f"'{w}'" for w in STOPWORDS)
    docs = load_table(spark, "documents", sf_dir)
    per = docs.select(
        "source", F.expr(TOKENS_EXPR).alias("toks"), "text",
    ).select(
        "source",
        F.expr("size(toks)").cast("long").alias("n_toks"),
        F.expr("length(array_join(toks, ''))").cast("long")
        .alias("tok_chars"),
        F.expr(f"size(filter(toks, t -> t IN ({inlist})))").cast("long")
        .alias("n_stop"),
        F.expr("size(filter(toks, t -> t rlike '[A-Za-z]'))")
        .cast("long").alias("n_alpha_toks"),
        F.expr(
            f"length(regexp_replace(text, '[^{_GR_SYMBOL_CLASS_EXPR[1:-1]}]', ''))"
        ).cast("long").alias("n_symbols"),
    )
    f_len = ~F.col("n_toks").between(_GR_MIN_TOKS, _GR_MAX_TOKS)
    f_mwl = (
        (F.col("tok_chars") < _GR_MIN_MWL * F.col("n_toks"))
        | (F.col("tok_chars") > _GR_MAX_MWL * F.col("n_toks"))
    )
    f_sym = 10 * F.col("n_symbols") >= F.col("n_toks")
    f_stop = F.col("n_stop") < _GR_MIN_STOP
    f_alpha = (_GR_ALPHA_DEN * F.col("n_alpha_toks")
               < _GR_ALPHA_NUM * F.col("n_toks"))
    passed = ~(f_len | f_mwl | f_sym | f_stop | f_alpha)
    agg = per.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(f_len.cast("long")).cast("long").alias("fail_length"),
        F.sum(f_mwl.cast("long")).cast("long").alias("fail_word_len"),
        F.sum(f_sym.cast("long")).cast("long").alias("fail_symbols"),
        F.sum(f_stop.cast("long")).cast("long").alias("fail_stopwords"),
        F.sum(f_alpha.cast("long")).cast("long").alias("fail_alpha"),
        F.sum(passed.cast("long")).cast("long").alias("n_pass"),
    )
    return agg.select(
        "source", "n_docs", "fail_length", "fail_word_len",
        "fail_symbols", "fail_stopwords", "fail_alpha", "n_pass",
        (F.col("n_pass").cast("double") / F.col("n_docs").cast("double"))
        .alias("pass_rate"),
    )


def _gopher_rules_sql() -> str:
    from distributed_system_mapreduce_spark.functions.text import (
        STOPWORDS,
        TOKENS_SQL,
    )

    inlist = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
WITH per AS (
  SELECT source,
         CAST(len(toks) AS BIGINT) AS n_toks,
         CAST(length(list_aggregate(toks, 'string_agg', '')) AS BIGINT)
           AS tok_chars,
         CAST(len(list_filter(toks, t -> t IN ({inlist}))) AS BIGINT)
           AS n_stop,
         CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))
              AS BIGINT) AS n_alpha_toks,
         CAST(length(regexp_replace(text,
              '[^{_GR_SYMBOL_CLASS_SQL[1:-1]}]', '', 'g')) AS BIGINT)
           AS n_symbols
  FROM (SELECT source, {TOKENS_SQL} AS toks, text FROM documents)
),
flags AS (
  SELECT source,
         CAST(n_toks NOT BETWEEN {_GR_MIN_TOKS} AND {_GR_MAX_TOKS}
              AS INT) AS f_len,
         CAST(tok_chars < {_GR_MIN_MWL} * n_toks
              OR tok_chars > {_GR_MAX_MWL} * n_toks AS INT) AS f_mwl,
         CAST(10 * n_symbols >= n_toks AS INT) AS f_sym,
         CAST(n_stop < {_GR_MIN_STOP} AS INT) AS f_stop,
         CAST({_GR_ALPHA_DEN} * n_alpha_toks
              < {_GR_ALPHA_NUM} * n_toks AS INT) AS f_alpha
  FROM per
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(f_len) AS BIGINT) AS fail_length,
       CAST(SUM(f_mwl) AS BIGINT) AS fail_word_len,
       CAST(SUM(f_sym) AS BIGINT) AS fail_symbols,
       CAST(SUM(f_stop) AS BIGINT) AS fail_stopwords,
       CAST(SUM(f_alpha) AS BIGINT) AS fail_alpha,
       CAST(SUM(CASE WHEN f_len + f_mwl + f_sym + f_stop + f_alpha = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       CAST(SUM(CASE WHEN f_len + f_mwl + f_sym + f_stop + f_alpha = 0
                     THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS pass_rate
FROM flags
GROUP BY source
"""


# ------------------------------------------------------------ source HHI
def source_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-concentration census: per language, the Herfindahl-
    Hirschman index of source TOKEN shares (sum of squared shares),
    the dominant source, and its share — the one-number answer to
    "is this language's data effectively one crawl?" that decides
    whether domain_mix's rebalancing has anything to work with.

    Exactness: shares are never summed as floats (cross-partition
    double sums are order-nondeterministic). HHI = Σc² / T² computed
    as exact integer Σc² (DECIMAL) and token total T, split into
    quotient + remainder so every operand of the two final double
    divisions fits a double exactly (the events_twap discipline —
    at corpus scale Σc² clears 2^53 where decimal→double casts
    diverge per engine). Shape: one corpus token rollup (partial
    agg), then arithmetic on the bounded (lang, source) table.
    """
    docs = load_table(spark, "documents", sf_dir)
    per = (
        docs.select("lang", "source", n_tokens().alias("nt"))
        .groupBy("lang", "source")
        .agg(F.sum("nt").cast("decimal(38,0)").alias("c"))
    )
    top = F.max(F.struct(F.col("c"), F.col("source")))
    agg = (
        per.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sources"),
            F.sum("c").cast("bigint").alias("total_tokens"),
            F.sum(F.col("c") * F.col("c")).alias("sum_sq"),
            top.alias("t"),
        )
    )
    q = F.expr("CAST(sum_sq DIV total_tokens AS BIGINT)")
    r = F.expr("CAST(sum_sq % total_tokens AS BIGINT)")
    td = F.col("total_tokens").cast("double")
    return agg.select(
        "lang", "n_sources", "total_tokens",
        ((q.cast("double") + r.cast("double") / td) / td).alias("hhi"),
        F.col("t.source").alias("top_source"),
        (F.col("t.c").cast("double") / td).alias("top_share"),
    )


SOURCE_HHI_SQL = f"""
WITH per AS (
  SELECT lang, source, CAST(SUM({N_TOKENS_SQL}) AS DECIMAL(38,0)) AS c
  FROM documents GROUP BY lang, source
),
agg AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_sources,
         CAST(SUM(c) AS BIGINT) AS total_tokens,
         SUM(c * c) AS sum_sq,
         MAX({{'c': c, 'source': source}}) AS t
  FROM per GROUP BY lang
)
SELECT lang, n_sources, total_tokens,
       (CAST(CAST(CAST(sum_sq AS HUGEINT) // total_tokens AS BIGINT)
             AS DOUBLE)
        + CAST(CAST(CAST(sum_sq AS HUGEINT) % total_tokens AS BIGINT)
               AS DOUBLE) / CAST(total_tokens AS DOUBLE))
         / CAST(total_tokens AS DOUBLE) AS hhi,
       t['source'] AS top_source,
       CAST(t['c'] AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS top_share
FROM agg
"""


# ----------------------------------------------------- token_rank_curve
CURVE_TOPK = 50


def token_rank_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Zipf head: the CURVE_TOPK most frequent corpus tokens with
    rank, count, corpus share, and CUMULATIVE share — the curve that
    decides how much mass a stopword list or a tokenizer's top-vocab
    actually covers.

    Shape: one map-side-combined token count shuffle to the
    vocab-scale count table (localCheckpointed — the corpus total
    and both sides of the triangular head join reference it, each
    re-tokenizing the corpus otherwise; r7 scan audit: 3 scans, now
    1), global top-k as TakeOrderedAndProject (never a global sort),
    then rank + prefix sum over the BOUNDED 50-row head via the
    broadcast triangular self-join (the triangular_cumsum discipline
    — no single-partition window); the corpus total is a broadcast
    1-row aggregate. Counts are exact BIGINTs; shares are
    fixed-order double divisions."""
    docs = load_table(spark, "documents", sf_dir)
    counts = (
        docs.select(F.explode(X.tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .transform(cut)
    )
    total = F.broadcast(
        counts.agg(F.sum("cnt").cast("long").alias("total")))
    top = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(CURVE_TOPK)
    a, b = top.alias("a"), F.broadcast(top.alias("b"))
    prec = (F.col("b.cnt") > F.col("a.cnt")) | (
        (F.col("b.cnt") == F.col("a.cnt"))
        & (F.col("b.token") <= F.col("a.token")))
    ranked = (
        a.join(b, prec)
        .groupBy(F.col("a.token").alias("token"),
                 F.col("a.cnt").alias("cnt"))
        .agg(F.count(F.lit(1)).cast("long").alias("rank"),
             F.sum("b.cnt").cast("long").alias("cum_cnt"))
    )
    return (
        ranked.crossJoin(total)
        .select(
            "rank", "token", "cnt",
            (F.col("cnt").cast("double")
             / F.col("total").cast("double")).alias("share"),
            (F.col("cum_cnt").cast("double")
             / F.col("total").cast("double")).alias("cum_share"),
        )
    )


TOKEN_RANK_CURVE_SQL = f"""
WITH counts AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest({X.TOKENS_SQL}) AS token FROM documents)
  GROUP BY token
),
total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM counts),
top AS (
  SELECT token, cnt FROM counts
  ORDER BY cnt DESC, token ASC LIMIT {CURVE_TOPK}
),
ranked AS (
  SELECT a.token, a.cnt,
         CAST(COUNT(*) AS BIGINT) AS rank,
         CAST(SUM(b.cnt) AS BIGINT) AS cum_cnt
  FROM top a JOIN top b
    ON b.cnt > a.cnt OR (b.cnt = a.cnt AND b.token <= a.token)
  GROUP BY a.token, a.cnt
)
SELECT rank, token, cnt,
       CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS share,
       CAST(cum_cnt AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share
FROM ranked CROSS JOIN total
"""


# ------------------------------------------------------- ngram_novelty
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-source novelty: per source, the fraction of its distinct
    word-bigram shingles that appear in NO other source — the
    diversity-vs-redundancy signal that prices a new source into a
    training mix (a source whose n-grams all exist elsewhere adds
    volume, not coverage).

    Shape: the exploded shingle table joins the (doc_id, source) map
    on doc_id (shuffle), reduces to distinct (shingle, source) — one
    partial-agg shuffle keyed by the shingle — localCheckpointed:
    the per-shingle source cardinality and the per-source census
    both reference it, and each replayed the shingle explode + join
    + distinct otherwise (r7 scan audit: 4 scans, now 1). Then a
    bounded per-source census. All counts exact BIGINTs; one double
    division at output. Linear in corpus shingles; no pairwise
    source comparison anywhere."""
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source")
    sh = _shingle_src(spark, sf_dir, docs).transform(cut)
    per_sh = sh.groupBy("s").agg(
        F.count(F.lit(1)).alias("n_sources"))
    return (
        sh.join(per_sh, "s")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum((F.col("n_sources") == 1).cast("long"))
            .cast("long").alias("n_unique"),
        )
        .select(
            "source", "n_shingles", "n_unique",
            (F.col("n_unique").cast("double")
             / F.col("n_shingles").cast("double")).alias("novelty"),
        )
    )


def _shingle_src(spark: SparkSession, sf_dir: str,
                 docs: DataFrame) -> DataFrame:
    """Distinct (shingle, source) pairs for the whole corpus."""
    from distributed_system_mapreduce_spark.operators.dedup import (
        _shingle_df,
    )

    return (
        _shingle_df(spark, sf_dir)
        .join(docs, "doc_id")
        .select("s", "source")
        .distinct()
    )


NGRAM_NOVELTY_SQL = f"""
WITH sh AS (
  SELECT DISTINCT t.s, d.source
  FROM ({_SHINGLE_SQL}) t JOIN documents d ON t.doc_id = d.doc_id
),
per_sh AS (SELECT s, COUNT(*) AS n_sources FROM sh GROUP BY s)
SELECT sh.source,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unique,
       CAST(SUM(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS novelty
FROM sh JOIN per_sh ON sh.s = per_sh.s
GROUP BY sh.source
"""


# ------------------------------------------------------- split_ks_check
def split_ks_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-integrity audit: the Kolmogorov-Smirnov statistic between
    the doc-length (n_chars) distributions of the TRAIN bucket and
    the held-out (val+test) bucket under train_val_split's hash wall
    — a large KS means the 'random' wall correlates with content and
    the eval set is biased.

    Shape: one partial-agg shuffle to the BOUNDED distinct-length
    table with per-bucket counts — localCheckpointed: both sides of
    the triangular prefix join and the totals reference it, and each
    replayed the documents scan otherwise (r7 scan audit: 3 scans,
    now 1) — prefix sums via the broadcast triangular self-join
    (triangular_cumsum discipline — lengths are bounded, so
    O(levels²) fan-out is fine), then a 1-row argmax via
    min(struct). Exactness: the KS sup is taken over the exact
    integer |cum_t·N_h − cum_h·N_t| (ties broken to the smallest
    length), divided by N_t·N_h once at output. The BIGINT products
    stay under 2^53 up to ~9e7 docs per side; widen to DECIMAL(38,0)
    beyond (events_twap discipline)."""
    docs = load_table(spark, "documents", sf_dir)
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    lv = (
        docs.select(
            F.col("n_chars").alias("v"),
            (bucket < "cc").alias("is_train"),
        )
        .groupBy("v")
        .agg(
            F.sum(F.col("is_train").cast("long")).alias("ct"),
            F.sum((~F.col("is_train")).cast("long")).alias("ch"),
        )
        .transform(cut)
    )
    b = F.broadcast(lv.select(F.col("v").alias("bv"),
                              F.col("ct").alias("bct"),
                              F.col("ch").alias("bch")))
    cum = (
        lv.join(b, F.col("bv") <= F.col("v"))
        .groupBy("v")
        .agg(F.sum("bct").cast("long").alias("cum_t"),
             F.sum("bch").cast("long").alias("cum_h"))
    )
    tot = F.broadcast(lv.agg(
        F.sum("ct").cast("long").alias("nt"),
        F.sum("ch").cast("long").alias("nh")))
    scaled = cum.crossJoin(tot).select(
        "nt", "nh",
        F.abs(F.col("cum_t") * F.col("nh")
              - F.col("cum_h") * F.col("nt")).alias("d"),
        "v",
    )
    top = scaled.groupBy("nt", "nh").agg(
        F.min(F.struct((-F.col("d")).alias("nd"), F.col("v")))
        .alias("t"))
    return top.select(
        F.col("nt").alias("n_train"),
        F.col("nh").alias("n_holdout"),
        ((-F.col("t.nd")).cast("double")
         / (F.col("nt").cast("double") * F.col("nh").cast("double")))
        .alias("ks"),
        F.col("t.v").alias("ks_at_length"),
    )


SPLIT_KS_CHECK_SQL = """
WITH lv AS (
  SELECT n_chars AS v,
         SUM(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                  < 'cc' THEN 1 ELSE 0 END) AS ct,
         SUM(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                  < 'cc' THEN 0 ELSE 1 END) AS ch
  FROM documents GROUP BY n_chars
),
cum AS (
  SELECT a.v,
         CAST(SUM(b.ct) AS BIGINT) AS cum_t,
         CAST(SUM(b.ch) AS BIGINT) AS cum_h
  FROM lv a JOIN lv b ON b.v <= a.v
  GROUP BY a.v
),
tot AS (
  SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(ch) AS BIGINT) AS nh
  FROM lv
),
scaled AS (
  SELECT nt, nh, abs(cum_t * nh - cum_h * nt) AS d, v
  FROM cum CROSS JOIN tot
)
SELECT nt AS n_train, nh AS n_holdout,
       CAST(d AS DOUBLE)
         / (CAST(nt AS DOUBLE) * CAST(nh AS DOUBLE)) AS ks,
       v AS ks_at_length
FROM scaled
ORDER BY d DESC, v ASC LIMIT 1
"""


# ------------------------------------------------- stratified_reservoir
RESERVOIR_K = 5


def stratified_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-stratum sample: within every (source,
    lang) stratum keep the RESERVOIR_K docs with the smallest
    md5('samp:' || doc_id) — uniform in expectation, reproducible
    across runs/engines/partitionings, and independent of every
    other hash decision in the pipeline (the salt; an unsalted
    doc_id hash would correlate with train_val_split's wall — the
    mix_rebalance lesson).

    Shape: narrow hash projection + a window over the bounded
    stratum key (quality_topk_per_group posture); no global order
    anywhere."""
    docs = load_table(spark, "documents", sf_dir)
    h = F.md5(F.concat(F.lit("samp:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source", "lang").orderBy(
        F.asc("h"), F.asc("doc_id"))
    return (
        docs.select("source", "lang", "doc_id", h.alias("h"))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= RESERVOIR_K)
        .select("source", "lang", "rk", "doc_id")
    )


STRATIFIED_RESERVOIR_SQL = f"""
SELECT source, lang, rk, doc_id FROM (
  SELECT source, lang, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY source, lang
           ORDER BY md5('samp:' || CAST(doc_id AS VARCHAR)) ASC,
                    doc_id ASC) AS rk
  FROM documents
)
WHERE rk <= {RESERVOIR_K}
"""


# --------------------------------------------------- tokenizer_oov_rate
VOCAB_V = 16


def tokenizer_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage audit: fix the corpus top-VOCAB_V tokens
    as the vocabulary, then report each source's out-of-vocabulary
    token rate — the coverage check run before freezing a tokenizer
    on a new mix (a source with high OOV under the global head needs
    vocab budget or normalization).

    Shape: one map-side-combined token count shuffle; the vocabulary
    is a TakeOrdered top-V (deterministic cnt-desc/token-asc order)
    BROADCAST as a left-join flag onto the re-tokenized stream; the
    census is one bounded per-source aggregate. Exact integer
    counts; one double division."""
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select("source", F.explode(X.tokens()).alias("token"))
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(VOCAB_V)
        .select("token", F.lit(True).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.col("in_vocab").isNull().cast("long"))
            .cast("long").alias("n_oov"),
        )
        .select(
            "source", "n_tokens", "n_oov",
            (F.col("n_oov").cast("double")
             / F.col("n_tokens").cast("double")).alias("oov_rate"),
        )
    )


TOKENIZER_OOV_RATE_SQL = f"""
WITH toks AS (
  SELECT source, unnest({X.TOKENS_SQL}) AS token FROM documents
),
vocab AS (
  SELECT token FROM (
    SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token
  )
  ORDER BY cnt DESC, token ASC LIMIT {VOCAB_V}
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS oov_rate
FROM toks LEFT JOIN vocab v ON toks.token = v.token
GROUP BY source
"""


# ---------------------------------------------------- source_boilerplate
def source_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate census per source: explode each
    doc's DISTINCT word-bigram shingles (in-doc repetition is
    repetition_score's job), count how many docs carry each
    (source, shingle), and report the source's duplicate shingle
    mass 1 - distinct/total plus the single hottest shingle's share
    — the 'is this source one template stamped N times' signal that
    decides whether template-stripping must run before dedup (a
    boilerplate-heavy source floods MinHash-LSH with spurious
    candidates).

    Shape: Generate (inline shingle explode over materialized
    tokens, the shingles_from discipline) -> ONE partial-agg shuffle
    to (source, shingle) counts -> one to the source grid. All
    counts exact BIGINTs; the two shares are fixed-order double
    divisions."""
    from distributed_system_mapreduce_spark.functions import text as X
    from distributed_system_mapreduce_spark.tables import load_table, spread

    docs = spread(load_table(spark, "documents", sf_dir))
    toks = docs.select("source", X.tokens().alias("toks"))
    inc = (
        toks.select(
            "source",
            F.explode(F.array_distinct(F.expr(X.shingles_from("toks"))))
            .alias("s"))
        .groupBy("source", "s")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return (
        inc.groupBy("source")
        .agg(F.sum("c").cast("long").alias("n_incidences"),
             F.count(F.lit(1)).cast("long").alias("n_distinct"),
             F.max("c").cast("long").alias("top_docs"))
        .select(
            "source", "n_incidences", "n_distinct",
            (F.lit(1.0) - F.col("n_distinct").cast("double")
             / F.col("n_incidences").cast("double")).alias("dup_mass"),
            (F.col("top_docs").cast("double")
             / F.col("n_incidences").cast("double")).alias("top_share"),
        )
    )

SOURCE_BOILERPLATE_SQL = f"""
WITH inc AS (
  SELECT source, s, CAST(COUNT(*) AS BIGINT) AS c
  FROM (
    SELECT DISTINCT doc_id, source, unnest({X.SHINGLES_SQL}) AS s
    FROM documents
  )
  GROUP BY source, s
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_incidences,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
         AS dup_mass,
       CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_share
FROM inc
GROUP BY source
"""


# ------------------------------------------------------ dsir_importance
B_DSIR = 256  # hashed-feature buckets (the paper uses 10^4 for 8-grams;
# unigrams over this vocab need fewer; both engines hash identically)
DSIR_TARGET_LANG = "en"  # the target distribution: English documents

def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance weight: sum over hashed unigram
    buckets of c_x[b] * (ln p_target(b) - ln p_raw(b)), add-one
    smoothed. Resampling raw data with these weights shifts it toward
    the target distribution (here: the corpus's English slice) —
    the selection step between dedup and tokenization.

    ln is the deterministic nested-sqrt approximation (~5e-5 absolute
    — far below any meaningful weight difference) and the per-doc sum
    folds over numerically sorted terms, so the weights hash-match
    the DuckDB oracle bit-for-bit.

    Shape: ONE tokenize+explode pass to the per-(doc, lang, bucket)
    count table — the sufficient statistic every consumer needs; the
    background/target bucket margins and the 1-row totals are toy
    re-aggregates of it (the four-branch shape re-tokenized the
    corpus four times under genuinely different exchanges — r7 scan
    audit — so AQE reuse could never fire). localCheckpointed:
    doc x distinct-bucket rows of 4 ints, tiny next to the token
    stream it replaces."""
    docs = spread(load_table(spark, "documents", sf_dir))
    tok = docs.select(
        "doc_id", "lang", F.explode(X.tokens()).alias("tok")
    ).select("doc_id", "lang",
             F.expr(md5_bucket_expr("tok", 4, B_DSIR)).alias("b"))
    cxl = (
        tok.groupBy("doc_id", "lang", "b")
        .agg(F.count("*").alias("c"))
        .transform(cut)
    )
    is_t = F.col("lang") == DSIR_TARGET_LANG
    n_r = cxl.groupBy("b").agg(F.sum("c").alias("nr"))
    n_t = (cxl.filter(is_t)
           .groupBy("b").agg(F.sum("c").alias("nt")))
    tot = cxl.groupBy().agg(
        F.sum("c").alias("tr"),
        F.sum(F.when(is_t, F.col("c")).otherwise(0)).alias("tt"))
    model = (
        n_r.join(n_t, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            (F.expr(ln_det(f"(coalesce(nt, 0) + 1) / (tt + {B_DSIR})"))
             - F.expr(ln_det(f"(nr + 1) / (tr + {B_DSIR})")))
            .alias("delta"),
        )
    )
    cx = cxl.select("doc_id", "b", "c")
    return (
        cx.join(F.broadcast(model), "b")
        .withColumn("term", F.col("c").cast("double") * F.col("delta"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.expr("aggregate(sort_array(collect_list(term)), "
                   "CAST(0 AS DOUBLE), (acc, t) -> acc + t)")
            .alias("log_weight"),
        )
    )


_LN_PT = ln_det(f"(coalesce(nt, 0) + 1) / (tt + {B_DSIR})")
_LN_PR = ln_det(f"(nr + 1) / (tr + {B_DSIR})")

DSIR_IMPORTANCE_SQL = f"""
WITH tok AS (
  SELECT doc_id, lang, {md5_bucket_sql('tok', 4, B_DSIR)} AS b
  FROM (SELECT doc_id, lang, unnest({X.TOKENS_SQL}) AS tok
        FROM documents)
),
n_r AS (SELECT b, COUNT(*) AS nr FROM tok GROUP BY b),
n_t AS (SELECT b, COUNT(*) AS nt FROM tok
        WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY b),
tot AS (SELECT COUNT(*) AS tr,
               SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1
                        ELSE 0 END) AS tt FROM tok),
model AS (
  SELECT b, ({_LN_PT}) - ({_LN_PR}) AS delta
  FROM n_r LEFT JOIN n_t USING (b) CROSS JOIN tot
),
cx AS (SELECT doc_id, b, COUNT(*) AS c FROM tok GROUP BY doc_id, b)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       list_reduce(list_sort(list(CAST(c AS DOUBLE) * delta)),
                   (acc, t) -> acc + t) AS log_weight
FROM cx JOIN model USING (b)
GROUP BY doc_id
"""


# ---------------------------------------------------- doc_lm_typicality
def _char_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, bg) character-bigram stream; docs under 2 chars drop
    (no bigram), matching the oracle's range() producing no rows."""
    return docs.filter(F.length("text") >= 2).select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(1, length(text) - 1), "
            "i -> substring(text, i, 2))")).alias("bg"),
    )


def lm_model(docs: DataFrame) -> DataFrame:
    """The corpus char-bigram LM: (bg, nb, tot) — one bounded table
    (|charset|^2 rows), broadcastable; the static side a streaming
    ingest gate scores against."""
    bg = _char_bigrams(docs)
    model = bg.groupBy("bg").agg(F.count("*").alias("nb"))
    tot = bg.groupBy().agg(F.count("*").alias("tot"))
    return model.crossJoin(F.broadcast(tot))


def lm_score(docs: DataFrame, model: DataFrame) -> DataFrame:
    """Per-document cross-entropy under `model` (from lm_model):
    H(x) = -(1/N_x) * sum_bg c_x[bg] * ln p_model(bg). Bigrams absent
    from the model drop (inner join) — the streaming caller scores new
    docs against a FROZEN corpus model, where unseen bigrams carry no
    in-model evidence."""
    cx = _char_bigrams(docs).groupBy("doc_id", "bg").agg(
        F.count("*").alias("c"))
    return (
        cx.join(F.broadcast(model), "bg")
        .withColumn(
            "term",
            F.col("c").cast("double") * F.expr(ln_det("nb / tot")))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            (-F.expr("aggregate(sort_array(collect_list(term)), "
                     "CAST(0 AS DOUBLE), (acc, t) -> acc + t)")
             / F.sum("c").cast("double")).alias("cross_entropy"),
        )
    )


def doc_lm_typicality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under the corpus's own character-
    bigram LM. The perplexity-bucket quality signal (CCNet's KenLM
    filter with the corpus as its own LM): fluent in-distribution
    text scores low, character soup and foreign-script outliers
    score high. Streaming twin: streaming/jobs.lm_quality_stream
    scores an ingest feed against this same frozen model."""
    docs = spread(load_table(spark, "documents", sf_dir))
    return lm_score(docs, lm_model(docs))


DOC_LM_TYPICALITY_SQL = f"""
WITH bg AS (
  SELECT doc_id, unnest(list_transform(range(1, length(text)),
                        i -> substr(text, i, 2))) AS bg
  FROM documents WHERE length(text) >= 2
),
model AS (SELECT bg, COUNT(*) AS nb FROM bg GROUP BY bg),
tot AS (SELECT COUNT(*) AS tot FROM bg),
cx AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY doc_id, bg)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_bigrams,
       -list_reduce(list_sort(list(CAST(c AS DOUBLE)
                                   * ({ln_det("nb / tot")}))),
                    (acc, t) -> acc + t)
         / CAST(SUM(c) AS DOUBLE) AS cross_entropy
FROM cx JOIN model USING (bg) CROSS JOIN tot
GROUP BY doc_id
"""


# ----------------------------------------------------- lang_source_pmi
def lang_source_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-composition bias detector: pointwise mutual information
    between language and source per (lang, source) cell —
    PMI = ln( p(l,s) / (p(l) p(s)) ). Cells with strongly positive
    PMI mean a source is a language silo (scraper bias / template
    farm); near-zero everywhere means language is independent of
    source and the mix is balanced. The summary statistic behind
    "is our crawl's language coverage coming from everywhere or from
    three domains?".

    Exact-oracle discipline: counts are integers; the PMI is ONE
    per-row deterministic-ln of an exact rational — no sums of
    doubles anywhere, so no fold is needed.

    Shape: ONE scan to the bounded (lang, source) cell table
    (localCheckpointed); the language/source margins and the 1-row
    total are toy re-aggregates of it — the four-branch shape
    scanned documents four times (r7 scan audit, the t_closeness
    margins pattern)."""
    docs = load_table(spark, "documents", sf_dir)
    cell = docs.groupBy("lang", "source").agg(
        F.count("*").alias("n")).transform(cut)
    nl = cell.groupBy("lang").agg(F.sum("n").alias("n_lang"))
    ns = cell.groupBy("source").agg(F.sum("n").alias("n_src"))
    tot = cell.groupBy().agg(F.sum("n").alias("n_tot"))
    return (
        cell.join(F.broadcast(nl), "lang")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang", "source",
            F.col("n").cast("long").alias("n"),
            # CAST n to DOUBLE *before* the multiply: at 100 TB
            # n * n_tot as BIGINT*BIGINT overflows int64, where Spark
            # (ANSI off) wraps silently and DuckDB errors — the double
            # product is exact for realistic counts (< 2^53 each side
            # of the ratio) and identical cross-engine.
            F.expr(ln_det(
                "(CAST(n AS DOUBLE) * n_tot) / "
                "(CAST(n_lang AS DOUBLE) * n_src)"))
            .alias("pmi"),
        )
    )


LANG_SOURCE_PMI_SQL = f"""
WITH cell AS (SELECT lang, source, COUNT(*) AS n
              FROM documents GROUP BY lang, source),
nl AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang),
ns AS (SELECT source, COUNT(*) AS n_src FROM documents GROUP BY source),
tot AS (SELECT COUNT(*) AS n_tot FROM documents)
SELECT lang, source, CAST(n AS BIGINT) AS n,
       {ln_det("(CAST(n AS DOUBLE) * n_tot) / "
               "(CAST(n_lang AS DOUBLE) * n_src)")} AS pmi
FROM cell JOIN nl USING (lang) JOIN ns USING (source) CROSS JOIN tot
"""


# ----------------------------------------------------- doc_token_entropy
def doc_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram entropy H = ln N - (1/N) * sum_t c_t ln c_t
    (the algebraic form that needs only per-TERM logs of exact integer
    counts — no per-term division before the fold), plus the type-token
    ratio. Near-zero entropy = one token repeated (template/stuffing);
    entropy ~ ln(n_distinct) = maximally diverse.

    Shape: explode -> (doc, tok) partial-agg count -> per-doc fold over
    the doc's own bounded vocab. Docs with no tokens have no rows here
    (no distribution to measure), matching the oracle's empty groups."""
    docs = spread(load_table(spark, "documents", sf_dir))
    cx = (docs.select("doc_id", F.explode(X.tokens()).alias("tok"))
          .groupBy("doc_id", "tok").agg(F.count("*").alias("c")))
    term = f"CAST(c AS DOUBLE) * ({ln_det('c')})"
    return (
        cx.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_distinct"),
            F.expr(fold_expr(term)).alias("s"),
        )
        .select(
            "doc_id", "n_tokens", "n_distinct",
            (F.expr(ln_det("n_tokens"))
             - F.col("s") / F.col("n_tokens").cast("double"))
            .alias("entropy"),
            (F.col("n_distinct").cast("double")
             / F.col("n_tokens").cast("double")).alias("ttr"),
        )
    )


_TOKEN_ENT_TERM_SQL = f"CAST(c AS DOUBLE) * ({ln_det('c')})"

DOC_TOKEN_ENTROPY_SQL = f"""
WITH cx AS (
  SELECT doc_id, tok, COUNT(*) AS c
  FROM (SELECT doc_id, unnest({X.TOKENS_SQL}) AS tok FROM documents)
  GROUP BY doc_id, tok
),
agg AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_distinct,
         {fold_sql(_TOKEN_ENT_TERM_SQL)} AS s
  FROM cx GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_distinct,
       ({ln_det('n_tokens')}) - s / CAST(n_tokens AS DOUBLE) AS entropy,
       CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr
FROM agg
"""


# --------------------------------------------------- token_js_divergence
B_JS = 256  # hashed-vocabulary buckets (feature hashing keeps the
# per-source state BOUNDED at any corpus size; same md5-prefix bucket
# construction as dsir_importance's model, so both engines agree)
# train_val_split's hash wall (curation.py): first md5 hex byte of
# doc_id < 'cc' -> train (~80%); everything else is held out.
_IS_TRAIN_EXPR = "substring(md5(CAST(doc_id AS STRING)), 1, 2) < 'cc'"
_IS_TRAIN_SQL = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'"


def token_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Jensen-Shannon divergence (nats, in [0, ln 2])
    between the train-side and held-out-side token distributions under
    train_val_split's deterministic hash wall, over a B=256 hashed
    vocabulary. JS ~ 0 means the wall is distributionally clean for
    that source; a large JS means the 'random' split correlates with
    content and per-source eval loss is biased. The token-level
    complement of split_ks_check (which tests doc LENGTHS).

    p/m and q/m stay exact rationals of double-cast counts evaluated
    in one fixed order, logs are ln_det, and the per-source sum folds
    over the sorted 256-bucket term list — bit-identical cross-engine.
    """
    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select(
        "source",
        F.expr(_IS_TRAIN_EXPR).alias("is_train"),
        F.explode(X.tokens()).alias("tok"),
    ).select("source", "is_train",
             F.expr(md5_bucket_expr("tok", 4, B_JS)).alias("b"))
    cell = tok.groupBy("source", "b").agg(
        F.sum(F.when(F.col("is_train"), 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("is_train"), 0).otherwise(1)).alias("ch"),
    )
    tot = tok.groupBy("source").agg(
        F.sum(F.when(F.col("is_train"), 1).otherwise(0)).alias("tt"),
        F.sum(F.when(F.col("is_train"), 0).otherwise(1)).alias("th"),
    )
    # A source whose docs fall ENTIRELY on one side of the hash wall
    # gives tt or th = 0: Spark (ANSI off) would yield NULL where
    # DuckDB double division yields inf/NaN — drop those sources
    # identically in both engines (no distribution pair to compare).
    tot = tot.filter("tt > 0 AND th > 0")
    # p = ct/tt, q = ch/th; m = (p+q)/2; sources are a bounded set ->
    # totals broadcast onto the (source, bucket) grid.
    p, q = "(CAST(ct AS DOUBLE) / tt)", "(CAST(ch AS DOUBLE) / th)"
    m2 = f"({p} + {q})"  # = 2m; p/m = 2p/(p+q), q/m = 2q/(p+q)
    term = (
        f"CASE WHEN ct > 0 THEN 0.5 * {p} * ({ln_det(f'2.0 * {p} / {m2}')})"
        f" ELSE CAST(0 AS DOUBLE) END + "
        f"CASE WHEN ch > 0 THEN 0.5 * {q} * ({ln_det(f'2.0 * {q} / {m2}')})"
        f" ELSE CAST(0 AS DOUBLE) END"
    )
    return (
        cell.join(F.broadcast(tot), "source")
        .withColumn("term", F.expr(term))
        .groupBy("source")
        .agg(
            F.first("tt").cast("long").alias("train_tokens"),
            F.first("th").cast("long").alias("held_tokens"),
            F.expr(fold_expr("term")).alias("js_divergence"),
        )
    )


_P_SQL, _Q_SQL = "(CAST(ct AS DOUBLE) / tt)", "(CAST(ch AS DOUBLE) / th)"
_M2_SQL = f"({_P_SQL} + {_Q_SQL})"
_JS_TERM_SQL = (
    f"CASE WHEN ct > 0 THEN 0.5 * {_P_SQL} * "
    f"({ln_det(f'2.0 * {_P_SQL} / {_M2_SQL}')}) ELSE CAST(0 AS DOUBLE) END"
    f" + CASE WHEN ch > 0 THEN 0.5 * {_Q_SQL} * "
    f"({ln_det(f'2.0 * {_Q_SQL} / {_M2_SQL}')}) ELSE CAST(0 AS DOUBLE) END"
)

TOKEN_JS_DIVERGENCE_SQL = f"""
WITH tok AS (
  SELECT source, {_IS_TRAIN_SQL} AS is_train, {md5_bucket_sql('tok', 4, B_JS)} AS b
  FROM (SELECT doc_id, source, unnest({X.TOKENS_SQL}) AS tok
        FROM documents)
),
cell AS (
  SELECT source, b,
         SUM(CASE WHEN is_train THEN 1 ELSE 0 END) AS ct,
         SUM(CASE WHEN is_train THEN 0 ELSE 1 END) AS ch
  FROM tok GROUP BY source, b
),
tot AS (
  SELECT source,
         SUM(CASE WHEN is_train THEN 1 ELSE 0 END) AS tt,
         SUM(CASE WHEN is_train THEN 0 ELSE 1 END) AS th
  FROM tok GROUP BY source
  HAVING SUM(CASE WHEN is_train THEN 1 ELSE 0 END) > 0
     AND SUM(CASE WHEN is_train THEN 0 ELSE 1 END) > 0
)
SELECT source,
       CAST(ANY_VALUE(tt) AS BIGINT) AS train_tokens,
       CAST(ANY_VALUE(th) AS BIGINT) AS held_tokens,
       {fold_sql(f'({_JS_TERM_SQL})')} AS js_divergence
FROM cell JOIN tot USING (source)
GROUP BY source
"""


# -------------------------------------------------------- zipf_exponent
ZIPF_HEAD_K = 64  # head size for the log-log fit; ranks beyond the
# head are noise-dominated at any corpus size and don't sharpen the
# slope, so the per-source fit state is a CONSTANT 64 rows.


def zipf_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf's-law fit: OLS slope of y = ln(count) against
    x = ln(rank) over the source's ZIPF_HEAD_K most frequent tokens.
    Natural text sits near slope -1; a source whose slope is shallow
    (flat head = synthetic uniform vocab) or a cliff (one template
    token dominating) is machine-generated or boilerplate. The
    fitted-statistic upgrade of token_rank_curve's global raw head.

    slope = (K * Sxy - Sx * Sy) / (K * Sxx - Sx^2) with each S a
    sorted fold over the <= 64 head terms; x and y are ln_det of
    exact integers (rank, count) — bit-identical cross-engine. The
    rank window partitions by source over the per-source VOCAB
    (Heaps-sublinear in corpus size), never over the corpus; ties
    break on the token string so the head is deterministic."""
    docs = spread(load_table(spark, "documents", sf_dir))
    counts = (docs.select("source", F.explode(X.tokens()).alias("tok"))
              .groupBy("source", "tok").agg(F.count("*").alias("n")))
    w = Window.partitionBy("source").orderBy(
        F.col("n").desc(), F.col("tok"))
    head = (counts.withColumn("r", F.row_number().over(w))
            .where(F.col("r") <= ZIPF_HEAD_K))
    x, y = ln_det("r"), ln_det("n")
    folds = {
        "sx": fold_expr(f"({x})"),
        "sy": fold_expr(f"({y})"),
        "sxy": fold_expr(f"({x}) * ({y})"),
        "sxx": fold_expr(f"({x}) * ({x})"),
    }
    return (
        head.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_head"),
            *[F.expr(e).alias(k) for k, e in folds.items()],
        )
        .select(
            "source", "n_head",
            ((F.col("n_head") * F.col("sxy") - F.col("sx") * F.col("sy"))
             / (F.col("n_head") * F.col("sxx") - F.col("sx") * F.col("sx")))
            .alias("zipf_slope"),
        )
    )


_ZX, _ZY = ln_det("r"), ln_det("n")

ZIPF_EXPONENT_SQL = f"""
WITH counts AS (
  SELECT source, tok, COUNT(*) AS n
  FROM (SELECT source, unnest({X.TOKENS_SQL}) AS tok FROM documents)
  GROUP BY source, tok
),
head AS (
  SELECT source, n,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n DESC, tok) AS r
  FROM counts
  QUALIFY r <= {ZIPF_HEAD_K}
),
agg AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_head,
         {fold_sql(f'({_ZX})')} AS sx,
         {fold_sql(f'({_ZY})')} AS sy,
         {fold_sql(f'({_ZX}) * ({_ZY})')} AS sxy,
         {fold_sql(f'({_ZX}) * ({_ZX})')} AS sxx
  FROM head GROUP BY source
)
SELECT source, n_head,
       (n_head * sxy - sx * sy) / (n_head * sxx - sx * sx) AS zipf_slope
FROM agg
"""


# ---------------------------------------- reusable JS-divergence pieces
# (the streaming drift monitor scores each micro-batch against the
# FROZEN corpus bucket distribution with exactly this math, so stream
# and batch verdicts agree bit-for-bit)
def token_bucket_counts(docs: DataFrame) -> DataFrame:
    """Global hashed-vocabulary bucket counts (b, n) for a document
    frame — the bounded (B_JS rows) distribution summary either side
    of a JS comparison reduces to."""
    return (docs.select(F.explode(X.tokens()).alias("tok"))
            .select(F.expr(md5_bucket_expr("tok", 4, B_JS)).alias("b"))
            .groupBy("b").agg(F.count("*").alias("n")))


def js_between(p_counts: DataFrame, q_counts: DataFrame) -> DataFrame:
    """ONE-row Jensen-Shannon divergence between two bucket-count
    frames from token_bucket_counts: (p_tokens, q_tokens,
    js_divergence). Full-outer on the bounded bucket grid, totals as
    broadcast 1-row aggregates, deterministic-ln terms folded in
    sorted order — identical math to token_js_divergence's per-source
    cells, so a DuckDB twin hash-matches."""
    p = p_counts.select("b", F.col("n").alias("ct"))
    q = q_counts.select("b", F.col("n").alias("ch"))
    cell = (p.join(q, "b", "full")
            .select("b", F.coalesce("ct", F.lit(0)).alias("ct"),
                    F.coalesce("ch", F.lit(0)).alias("ch")))
    tot = cell.groupBy().agg(F.sum("ct").alias("tt"),
                             F.sum("ch").alias("th"))
    pr, qr = "(CAST(ct AS DOUBLE) / tt)", "(CAST(ch AS DOUBLE) / th)"
    m2 = f"({pr} + {qr})"
    term = (
        f"CASE WHEN ct > 0 THEN 0.5 * {pr} * "
        f"({ln_det(f'2.0 * {pr} / {m2}')}) ELSE CAST(0 AS DOUBLE) END + "
        f"CASE WHEN ch > 0 THEN 0.5 * {qr} * "
        f"({ln_det(f'2.0 * {qr} / {m2}')}) ELSE CAST(0 AS DOUBLE) END"
    )
    return (
        cell.crossJoin(F.broadcast(tot))
        .withColumn("term", F.expr(term))
        .groupBy()
        .agg(
            F.first("tt").cast("long").alias("p_tokens"),
            F.first("th").cast("long").alias("q_tokens"),
            F.expr(fold_expr("term")).alias("js_divergence"),
        )
    )


# -------------------------------------------------------- weighted_sample
WEIGHTED_SAMPLE_K = 100


def _hex32(md5_input: str) -> str:
    """First 8 md5 nibbles -> 32-bit integer; instr arithmetic is
    portable across Spark and DuckDB (same idiom as
    _hex16_expr, widened for sampling-key resolution)."""
    h = f"md5({md5_input})"
    parts = [
        # BIGINT per nibble: the top nibble times 16^7 exceeds INT32
        # and Spark's ANSI mode faults on the overflow
        f"CAST(instr('0123456789abcdef', substring({h}, {i + 1}, 1)) - 1"
        f" AS BIGINT) * {16 ** (7 - i)}"
        for i in range(8)
    ]
    return "(" + " + ".join(parts) + ")"


# u in (0, 1]: +1 lifts the (astronomically unlikely) all-zero hash
# off ln(0); the 'ws:' salt decorrelates from train_val_split's and
# mix_rebalance_sample's hash decisions.
_H32 = _hex32("'ws:' || CAST(doc_id AS STRING)")
_U01 = f"(CAST({_H32} + 1 AS DOUBLE) / 4294967296.0)"


def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis weighted sample without replacement,
    k=WEIGHTED_SAMPLE_K, weight = n_chars: every doc gets the deterministic
    key ln(u)/w (monotone in u^(1/w)); the WEIGHTED_SAMPLE_K largest keys ARE
    the weighted sample. One narrow map + one TakeOrderedAndProject —
    the same plan at 100 TB, no shuffle of the corpus, no rejection
    loop, reproducible across runs/engines/partitioning because u is
    a pure hash function of doc_id.

    Ref: Efraimidis & Spirakis 2006, "Weighted random sampling with
    a reservoir" (the A-ES one-pass scheme)."""
    docs = load_table(spark, "documents", sf_dir)
    key = F.expr(f"({ln_det(_U01)}) / CAST(n_chars AS DOUBLE)")
    return (
        docs.select(
            "doc_id", "source",
            F.col("n_chars").cast("long").alias("weight"),
            key.alias("es_key"),
        )
        .orderBy(F.desc("es_key"), F.asc("doc_id"))
        .limit(WEIGHTED_SAMPLE_K)
    )


WEIGHTED_SAMPLE_SQL = f"""
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS weight,
       ({ln_det(_U01)}) / CAST(n_chars AS DOUBLE) AS es_key
FROM documents
ORDER BY es_key DESC, doc_id ASC
LIMIT {WEIGHTED_SAMPLE_K}
"""


# ---------------------------------------------------------- skipgram_lift
SKIP_W = 4     # co-occurrence window: pairs (t[i], t[j]), i < j <= i+W
SKIP_TOPK = 30

# The in-array pair generator over the materialized `t` tokens column
# (constant w-fold fan-out, no self join). Module-level so the plan
# test exercises THIS expression, not a copy that can drift.
SKIPGRAM_PAIR_EXPR = (
    "CASE WHEN size(t) < 2 THEN "
    "CAST(array() AS array<struct<a:string,b:string>>) ELSE "
    "flatten(transform(sequence(1, size(t) - 1), "
    f"i -> transform(slice(t, i + 1, {SKIP_W}), "
    "x -> struct(element_at(t, i) AS a, x AS b)))) END"
)


def skipgram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 within-window ordered token pairs by frequency, with
    their LIFT = p(a,b) / (p(a) p(b)) over the skip-gram event space
    — collocation mining with the window w=4 co-occurrence statistic
    (word2vec's context shape) instead of bigram_lift's adjacency.

    Lift, not PMI, for the same reason as bigram_lift: it is one
    fixed-order double expression over exact integer counts (all
    products done in doubles — the lang_source_pmi overflow lesson).
    Plan: ONE corpus scan — pair generation is an in-array transform
    over the materialized tokens column (constant w-fold fan-out, no
    self join) concatenated with the NULL-tagged unigram structs so
    both count tables come out of a single Generate + one
    map-side-combined shuffle (the two-branch shape re-tokenized the
    corpus five times — r7 scan audit); the bounded count table is
    localCheckpointed before its five consumers. Top-30 FIRST
    (TakeOrderedAndProject with full tie-break), then broadcast
    unigram counts + 1-row totals onto 30 rows."""
    docs = spread(load_table(spark, "documents", sf_dir))
    toks = docs.select(F.expr(X.TOKENS_EXPR).alias("t"))
    counted = (
        toks.select(F.explode(F.expr(
            "concat(transform(t, x -> struct(x AS a, "
            f"CAST(NULL AS STRING) AS b)), {SKIPGRAM_PAIR_EXPR})"
        )).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .groupBy("a", "b").agg(F.count("*").alias("c"))
        .transform(cut)
    )
    pairs = counted.filter(F.col("b").isNotNull())
    uni = counted.filter(F.col("b").isNull()).select(
        F.col("a").alias("tok"), F.col("c").alias("cu"))
    tot = pairs.groupBy().agg(F.sum("c").cast("long").alias("np")) \
        .crossJoin(uni.groupBy().agg(
            F.sum("cu").cast("long").alias("nt")))
    top = (
        pairs.orderBy(F.desc("c"), F.asc("a"), F.asc("b"))
        .limit(SKIP_TOPK)
    )
    return (
        top.join(F.broadcast(uni.withColumnRenamed("tok", "a")
                             .withColumnRenamed("cu", "ca")), "a")
        .join(F.broadcast(uni.withColumnRenamed("tok", "b")
                          .withColumnRenamed("cu", "cb")), "b")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "a", "b", "CAST(c AS BIGINT) AS n_pair",
            "CAST(ca AS BIGINT) AS n_a", "CAST(cb AS BIGINT) AS n_b",
            "CAST(c AS DOUBLE) * nt * nt / "
            "(CAST(np AS DOUBLE) * ca * cb) AS lift",
        )
    )


SKIPGRAM_LIFT_SQL = f"""
WITH toks AS (SELECT {X.TOKENS_SQL} AS t FROM documents),
pair_rows AS (
  SELECT unnest(CASE WHEN len(t) < 2 THEN [] ELSE
    flatten(list_transform(range(1, len(t)),
      i -> list_transform(t[i + 1 : least(i + {SKIP_W}, len(t))],
           x -> {{'a': t[i], 'b': x}})))
  END) AS p
  FROM toks
),
pairs AS (
  SELECT p.a AS a, p.b AS b, COUNT(*) AS c
  FROM pair_rows GROUP BY 1, 2
),
uni AS (
  SELECT unnest(t) AS tok FROM toks
),
unic AS (SELECT tok, COUNT(*) AS cu FROM uni GROUP BY tok),
tot AS (
  SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM pairs) AS np,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM uni) AS nt
),
top AS (
  SELECT a, b, c FROM pairs ORDER BY c DESC, a ASC, b ASC
  LIMIT {SKIP_TOPK}
)
SELECT a, b, CAST(c AS BIGINT) AS n_pair,
       CAST(ua.cu AS BIGINT) AS n_a, CAST(ub.cu AS BIGINT) AS n_b,
       CAST(c AS DOUBLE) * nt * nt /
       (CAST(np AS DOUBLE) * ua.cu * ub.cu) AS lift
FROM top
JOIN unic ua ON top.a = ua.tok
JOIN unic ub ON top.b = ub.tok
CROSS JOIN tot
"""


# -------------------------------------------------- source_length_moments
def source_length_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length-distribution shape: population mean,
    variance, and skewness of n_chars from EXACT integer power sums
    (s1 BIGINT; s2, s3 DECIMAL(38,0) — n_chars^3 clears int64 at
    ~2e6-char docs). The final statistics are single fixed-order
    double expressions; skewness is NULL (identically, both engines)
    for degenerate zero-variance sources. One partial-agg shuffle."""
    docs = load_table(spark, "documents", sf_dir)
    lc = F.col("n_chars").cast("long")
    agg = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(lc.cast("decimal(38,0)")).alias("s1"),
        F.sum((lc * lc).cast("decimal(38,0)")).alias("s2"),
        F.sum((lc * lc * lc).cast("decimal(38,0)")).alias("s3"),
    )
    return agg.selectExpr(
        "source", "n",
        "CAST(s1 AS DOUBLE) / n AS mean_chars",
        "CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n)"
        " * (CAST(s1 AS DOUBLE) / n) AS var_chars",
        # skew = (m3 - 3 mean m2 + 2 mean^3) / var^1.5, all from the
        # same exact sums; var * sqrt(var) keeps sqrt correctly
        # rounded (no pow())
        "CASE WHEN CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n)"
        " * (CAST(s1 AS DOUBLE) / n) <= 0 THEN CAST(NULL AS DOUBLE)"
        " ELSE (CAST(s3 AS DOUBLE) / n"
        " - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)"
        " + 2.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)"
        " * (CAST(s1 AS DOUBLE) / n))"
        " / ((CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n)"
        " * (CAST(s1 AS DOUBLE) / n)) * sqrt(CAST(s2 AS DOUBLE) / n"
        " - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)))"
        " END AS skew_chars",
    )


SOURCE_LENGTH_MOMENTS_SQL = """
WITH agg AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(n_chars AS DECIMAL(38,0))) AS DECIMAL(38,0))
           AS s1,
         CAST(SUM(CAST(n_chars * n_chars AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS s2,
         CAST(SUM(CAST(n_chars * n_chars * n_chars AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS s3
  FROM documents GROUP BY source
)
SELECT source, n,
       CAST(s1 AS DOUBLE) / n AS mean_chars,
       CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n)
         * (CAST(s1 AS DOUBLE) / n) AS var_chars,
       CASE WHEN CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n)
         * (CAST(s1 AS DOUBLE) / n) <= 0 THEN CAST(NULL AS DOUBLE)
         ELSE (CAST(s3 AS DOUBLE) / n
         - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
         + 2.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
         * (CAST(s1 AS DOUBLE) / n))
         / ((CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n)
         * (CAST(s1 AS DOUBLE) / n)) * sqrt(CAST(s2 AS DOUBLE) / n
         - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)))
         END AS skew_chars
FROM agg
"""


# ------------------------------------------------------------ dataset_card
def dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row dataset card a corpus release ships with: document
    / source / language counts, char and whitespace-token totals, the
    exact-duplicate rate (1 - distinct md5(text) / n_docs — the
    dedup_exact statistic as a scalar), and the exact LOWER-MEDIAN
    document length.

    The median comes from a sorted fold over the bounded
    distinct-length grid (one partial-agg shuffle onto the grid, one
    bounded collect): accumulator fields are ordered {med, cum} so
    DuckDB's sequential-mutation list_reduce and Spark's snapshotting
    aggregate() compute the identical result (med reads only the
    pre-update cum). Two corpus scans total; no windows."""
    docs = spread(load_table(spark, "documents", sf_dir))
    base = docs.groupBy().agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct(F.md5("text")).cast("long")
        .alias("n_distinct_texts"),
        F.sum(F.col("n_chars").cast("long")).cast("long")
        .alias("total_chars"),
        F.sum(X.n_tokens().cast("long")).cast("long")
        .alias("total_tokens"),
    )
    grid = (
        docs.groupBy(F.col("n_chars").cast("long").alias("v"))
        .agg(F.count("*").cast("long").alias("c"))
        .groupBy()
        .agg(F.expr("sort_array(collect_list(struct(v, c)))")
             .alias("g"))
    )
    fold = (
        "aggregate(g, "
        "struct(CAST(NULL AS BIGINT) AS med, CAST(0 AS BIGINT) AS cum), "
        "(acc, s) -> struct("
        "CASE WHEN acc.med IS NOT NULL THEN acc.med "
        "WHEN acc.cum + s.c >= (n_docs + 1) DIV 2 THEN s.v END AS med, "
        "acc.cum + s.c AS cum), "
        "acc -> acc.med)"
    )
    return (
        base.crossJoin(F.broadcast(grid))
        .selectExpr(
            "n_docs", "n_sources", "n_langs", "total_chars",
            "total_tokens", "n_distinct_texts",
            "1.0 - CAST(n_distinct_texts AS DOUBLE) / n_docs"
            " AS exact_dup_rate",
            f"{fold} AS median_chars",
        )
    )


DATASET_CARD_SQL = """
WITH base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         CAST(SUM({ntok}) AS BIGINT) AS total_tokens
  FROM documents
),
grid AS (
  SELECT list_sort(list({{'v': v, 'c': c}})) AS g FROM (
    SELECT CAST(n_chars AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS c
    FROM documents GROUP BY 1
  )
)
SELECT n_docs, n_sources, n_langs, total_chars, total_tokens,
       n_distinct_texts,
       1.0 - CAST(n_distinct_texts AS DOUBLE) / n_docs
         AS exact_dup_rate,
       list_reduce(
         list_prepend({{'med': CAST(NULL AS BIGINT),
                        'cum': CAST(0 AS BIGINT)}},
                      list_transform(g, s ->
                        {{'med': s.v, 'cum': s.c}})),
         (acc, s) -> {{'med': CASE WHEN acc.med IS NOT NULL
                         THEN acc.med
                         WHEN acc.cum + s.cum >= (n_docs + 1) // 2
                         THEN s.med END,
                       'cum': acc.cum + s.cum}}).med AS median_chars
FROM base CROSS JOIN grid
""".format(ntok=X.N_TOKENS_SQL)


# --------------------------------------------------------- charset_census
# Explicit ASCII classes on BOTH sides (the functions/text.py lesson:
# Java \s and RE2 \s disagree on vertical tab).
_ALPHA = "[A-Za-z]"
_DIGIT_CLASS = "[0-9]"


def charset_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language character-class composition: exact BIGINT counts
    of alphabetic / digit / whitespace characters (other = the
    remainder) and their rates — the cheap full-corpus screen for
    encoding damage and content type drift. One narrow regexp_count
    projection + one partial-agg shuffle onto the language grid."""
    docs = spread(load_table(spark, "documents", sf_dir))
    per = docs.select(
        "lang",
        F.length("text").cast("long").alias("nc"),
        F.expr(f"regexp_count(text, '{_ALPHA}')").cast("long")
        .alias("na"),
        F.expr(f"regexp_count(text, '{_DIGIT_CLASS}')").cast("long")
        .alias("nd"),
        F.expr(f"regexp_count(text, '{X._WS_CLASS_EXPR}')").cast("long")
        .alias("ns"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("nc").cast("long").alias("n_chars"),
            F.sum("na").cast("long").alias("n_alpha"),
            F.sum("nd").cast("long").alias("n_digit"),
            F.sum("ns").cast("long").alias("n_space"),
        )
        .selectExpr(
            "lang", "n_docs", "n_chars", "n_alpha", "n_digit", "n_space",
            "n_chars - n_alpha - n_digit - n_space AS n_other",
            "CAST(n_alpha AS DOUBLE) / n_chars AS alpha_rate",
            "CAST(n_digit AS DOUBLE) / n_chars AS digit_rate",
            "CAST(n_space AS DOUBLE) / n_chars AS space_rate",
        )
    )


CHARSET_CENSUS_SQL = f"""
WITH per AS (
  SELECT lang,
         length(text) AS nc,
         len(regexp_extract_all(text, '{_ALPHA}')) AS na,
         len(regexp_extract_all(text, '{_DIGIT_CLASS}')) AS nd,
         len(regexp_extract_all(text, '{X._WS_CLASS_SQL}')) AS ns
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nc) AS BIGINT) AS n_chars,
       CAST(SUM(na) AS BIGINT) AS n_alpha,
       CAST(SUM(nd) AS BIGINT) AS n_digit,
       CAST(SUM(ns) AS BIGINT) AS n_space,
       CAST(SUM(nc) - SUM(na) - SUM(nd) - SUM(ns) AS BIGINT) AS n_other,
       CAST(SUM(na) AS DOUBLE) / SUM(nc) AS alpha_rate,
       CAST(SUM(nd) AS DOUBLE) / SUM(nc) AS digit_rate,
       CAST(SUM(ns) AS DOUBLE) / SUM(nc) AS space_rate
FROM per
GROUP BY lang
"""


# ----------------------------------------------------- bigram_entropy_rate
B_ENT = 64  # hashed-vocab buckets: the (source, B, B) grid stays
# bounded at any corpus size; same md5-nibble construction as
# token_js_divergence so both engines agree bit-for-bit


def bigram_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source first-order token entropy rate H(next | prev) =
    sum_{a,b} (c_ab / N) ln(c_a / c_ab) over a B=64 hashed
    vocabulary: boilerplate/template sources replay the same token
    transitions (H ~ 0); diverse prose approaches ln(B). The
    text-level twin of user_markov_entropy, and the signal behind
    'this source is one page stamped a million times' that
    doc-level repetition scores miss when each doc is unique but the
    source grammar is degenerate.

    Adjacent pairs come from the materialized tokens column via an
    inline transform (the Generate-barrier idiom); ln is ln_det on
    exact integer counts; the per-source fold runs over the sorted
    <= B^2 cell list."""
    docs = spread(load_table(spark, "documents", sf_dir))
    toks = docs.select("source", F.expr(X.TOKENS_EXPR).alias("t"))
    pair_expr = (
        "CASE WHEN size(t) < 2 THEN "
        "CAST(array() AS array<struct<a:string,b:string>>) ELSE "
        "transform(sequence(1, size(t) - 1), "
        "i -> struct(element_at(t, i) AS a, element_at(t, i + 1) AS b))"
        " END"
    )
    cells = (
        toks.select("source", F.explode(F.expr(pair_expr)).alias("p"))
        .select(
            "source",
            F.expr(md5_bucket_expr("p.a", 2, B_ENT)).alias("ba"),
            F.expr(md5_bucket_expr("p.b", 2, B_ENT)).alias("bb"),
        )
        .groupBy("source", "ba", "bb")
        .agg(F.count("*").alias("c_ab"))
    )
    marg = cells.groupBy("source", "ba").agg(
        F.sum("c_ab").alias("c_a"))
    term = (f"CAST(c_ab AS DOUBLE) * (({ln_det('c_a')})"
            f" - ({ln_det('c_ab')}))")
    return (
        cells.join(marg, ["source", "ba"])
        .withColumn("term", F.expr(term))
        .groupBy("source")
        .agg(
            F.sum("c_ab").cast("long").alias("n_bigrams"),
            F.count("*").cast("long").alias("n_cells"),
            F.expr(fold_expr("term")).alias("s"),
        )
        .selectExpr(
            "source", "n_bigrams", "n_cells",
            "s / CAST(n_bigrams AS DOUBLE) AS entropy_rate",
        )
    )


_BIGRAM_ENT_TERM_SQL = (f"CAST(c_ab AS DOUBLE) * (({ln_det('c_a')})"
                 f" - ({ln_det('c_ab')}))")

BIGRAM_ENTROPY_RATE_SQL = f"""
WITH toks AS (SELECT source, {X.TOKENS_SQL} AS t FROM documents),
pairs AS (
  SELECT source, unnest(CASE WHEN len(t) < 2 THEN [] ELSE
    list_transform(range(1, len(t)),
      i -> {{'a': t[i], 'b': t[i + 1]}})
  END) AS p
  FROM toks
),
cells AS (
  SELECT source, {md5_bucket_sql('p.a', 2, B_ENT)} AS ba, {md5_bucket_sql('p.b', 2, B_ENT)} AS bb,
         COUNT(*) AS c_ab
  FROM pairs GROUP BY 1, 2, 3
),
marg AS (
  SELECT source, ba, SUM(c_ab) AS c_a FROM cells GROUP BY source, ba
)
SELECT source,
       CAST(SUM(c_ab) AS BIGINT) AS n_bigrams,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       {fold_sql(f"({_BIGRAM_ENT_TERM_SQL})")}
         / CAST(SUM(c_ab) AS DOUBLE) AS entropy_rate
FROM cells JOIN marg USING (source, ba)
GROUP BY source
"""


# --------------------------------------------------------- compression_ratio
ZLIB_LEVEL = 6  # fixed level: zlib output is deterministic for a
# given (input, level, strategy), which the determinism test pins


def compression_scores(docs: DataFrame) -> DataFrame:
    """df-level DEFLATE kernel over any (doc_id, source, text) frame
    — shared by the batch compression_ratio query and the streaming
    ingest gate (streaming/jobs.compression_gate_stream), so stream
    scores agree byte-for-byte with the batch twin."""
    import zlib

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            raw = [t.encode("utf-8") for t in b["text"]]
            z = [len(zlib.compress(r, ZLIB_LEVEL)) for r in raw]
            yield pd.DataFrame({
                "doc_id": b["doc_id"].values,
                "source": b["source"].values,
                "n_bytes": [len(r) for r in raw],
                "z_bytes": z,
                "ratio": [zb / max(len(r), 1)
                          for zb, r in zip(z, raw)],
            })

    return docs.select("doc_id", "source", "text").mapInPandas(
        run,
        schema=("doc_id long, source string, n_bytes long, "
                "z_bytes long, ratio double"),
    )


def compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DEFLATE compression ratio (zlib level 6):
    compressed bytes / raw utf-8 bytes. The classic cheap quality
    signal — template/boilerplate text compresses far below fluent
    prose, and near-random token soup doesn't compress — used as a
    Gopher-style filter input alongside repetition_score (which
    catches only EXACT n-gram repeats; DEFLATE catches fuzzy
    self-similarity inside its 32 KB window).

    Rows-only by design: a DEFLATE encoder is not SQL-expressible.
    The kernel is deterministic (fixed level/strategy), so two runs
    hash identically — pinned in tests. Arrow-batched narrow map;
    embarrassingly parallel at any scale."""
    return compression_scores(
        spread(load_table(spark, "documents", sf_dir)))


def compression_ratio_certify(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """The DEFLATE kernel promoted into the ORACLE GATE (the
    freq_items_certify pattern): zlib output bytes are not
    SQL-expressible (compression_ratio stays rows-only), but three
    facts hold for EVERY document by construction and are exactly
    recomputable — the raw utf-8 byte count (DuckDB recomputes it),
    zlib's worst-case expansion bound (compressBound: stored-block
    overhead ~n/1000 + constant; checked against a generous
    n/100 + 64), and losslessness (decompress(compress(x)) == x,
    verified inside the Arrow stage). Emits per-source exact counts
    plus violation tallies guaranteed 0 — a kernel bug that truncates,
    corrupts, or blows up a payload flips a tally and the gate goes
    red.

    Shape: one Arrow-batched narrow map (the certification adds a
    decompress per row — paid here because certification needs the
    roundtrip; production runs compression_scores alone), then one
    partial-agg shuffle on source (bounded group count)."""
    import zlib

    docs = spread(load_table(spark, "documents", sf_dir)).select(
        "source", "text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            raw = [t.encode("utf-8") for t in b["text"]]
            z = [zlib.compress(r, ZLIB_LEVEL) for r in raw]
            yield pd.DataFrame({
                "source": b["source"].values,
                "n_bytes": [len(r) for r in raw],
                "bound_viol": [
                    int(len(zz) > len(r) + len(r) // 100 + 64)
                    for zz, r in zip(z, raw)],
                "rt_fail": [
                    int(zlib.decompress(zz) != r)
                    for zz, r in zip(z, raw)],
            })

    scored = docs.mapInPandas(
        run, schema=("source string, n_bytes long, "
                     "bound_viol long, rt_fail long"))
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_bytes").cast("long").alias("raw_bytes"),
        F.sum("bound_viol").cast("long").alias("bound_violations"),
        F.sum("rt_fail").cast("long").alias("roundtrip_failures"),
    )


COMPRESSION_RATIO_CERTIFY_SQL = """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS raw_bytes,
       CAST(0 AS BIGINT) AS bound_violations,
       CAST(0 AS BIGINT) AS roundtrip_failures
FROM documents
GROUP BY source
"""


# ------------------------------------------------- quality_pareto_frontier
PARETO_TAUS = (30, 40, 50, 60, 70, 80, 90)  # percent, exact literals


def quality_pareto_frontier(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """For each quality cutoff tau: surviving documents and tokens
    with their corpus shares. quality is the bit-identical composite
    from quality_score, so the >= decisions match the oracle
    row-for-row; all cutoffs fold in one conditional aggregation."""
    scored = quality_score(spark, sf_dir).select("n_toks", "quality")
    aggs = [
        F.count("*").cast("long").alias("nd"),
        F.sum("n_toks").cast("long").alias("nt"),
    ]
    for k in PARETO_TAUS:
        tau = k / 100.0
        keep = F.col("quality") >= tau
        aggs += [
            F.sum(keep.cast("long")).cast("long").alias(f"d{k}"),
            F.sum(F.when(keep, F.col("n_toks")).otherwise(0))
            .cast("long").alias(f"t{k}"),
        ]
    wide = scored.groupBy().agg(*aggs)
    stack_args = ", ".join(
        f"CAST({k} AS BIGINT), d{k}, t{k}" for k in PARETO_TAUS)
    return (
        wide.select(
            "nd", "nt",
            F.expr(f"stack({len(PARETO_TAUS)}, {stack_args})"
                   " AS (k, n_docs_kept, n_tokens_kept)"))
        .selectExpr(
            "CAST(k AS DOUBLE) / 100.0 AS tau",
            "n_docs_kept", "n_tokens_kept",
            "CAST(n_docs_kept AS DOUBLE) / nd AS doc_share",
            "CAST(n_tokens_kept AS DOUBLE) / nt AS token_share",
        )
    )


def _pareto_sql() -> str:
    cells = []
    for k in PARETO_TAUS:
        tau = f"{k} / 100.0"
        cells.append(
            f"SUM(CASE WHEN quality >= {tau} THEN 1 ELSE 0 END)"
            f" AS d{k},\n"
            f"  SUM(CASE WHEN quality >= {tau} THEN n_toks ELSE 0 END)"
            f" AS t{k}")
    wide_cols = ",\n  ".join(cells)
    cuts = " UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS k, CAST(d{k} AS BIGINT) AS"
        f" n_docs_kept, CAST(t{k} AS BIGINT) AS n_tokens_kept,"
        f" nd, nt FROM wide"
        for k in PARETO_TAUS)
    return f"""
WITH scored AS (SELECT n_toks, quality FROM ({QUALITY_SCORE_SQL})),
wide AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nd,
         CAST(SUM(n_toks) AS BIGINT) AS nt,
  {wide_cols}
  FROM scored
)
SELECT CAST(k AS DOUBLE) / 100.0 AS tau,
       n_docs_kept, n_tokens_kept,
       CAST(n_docs_kept AS DOUBLE) / nd AS doc_share,
       CAST(n_tokens_kept AS DOUBLE) / nt AS token_share
FROM ({cuts})
"""


# ------------------------------------------------- source_sampling_weights
def source_sampling_weights(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """Temperature-0.5 source mixing weights: w_s = sqrt(tokens_s) /
    Σ sqrt(tokens), with each source's natural token share and the
    boost factor the rebalance gives it (boost > 1 = the temperature
    up-samples this minority source). sqrt keeps every op correctly
    rounded; the normalizer folds the bounded per-source sqrt list
    in sorted order, identically in both engines."""
    docs = spread(load_table(spark, "documents", sf_dir))
    per = docs.groupBy("source").agg(
        F.sum(X.n_tokens().cast("long")).cast("long").alias("tok"))
    tot = per.groupBy().agg(
        F.sum("tok").cast("long").alias("tok_total"),
        F.expr(fold_expr("sqrt(CAST(tok AS DOUBLE))"))
        .alias("norm"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .selectExpr(
            "source", "tok AS n_tokens",
            "CAST(tok AS DOUBLE) / tok_total AS natural_share",
            "sqrt(CAST(tok AS DOUBLE)) / norm AS weight",
            "(sqrt(CAST(tok AS DOUBLE)) / norm)"
            " / (CAST(tok AS DOUBLE) / tok_total) AS boost",
        )
    )


SOURCE_SAMPLING_WEIGHTS_SQL = f"""
WITH per AS (
  SELECT source, CAST(SUM({X.N_TOKENS_SQL}) AS BIGINT) AS tok
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(SUM(tok) AS BIGINT) AS tok_total,
         {fold_sql("sqrt(CAST(tok AS DOUBLE))")} AS norm
  FROM per
)
SELECT source, tok AS n_tokens,
       CAST(tok AS DOUBLE) / tok_total AS natural_share,
       sqrt(CAST(tok AS DOUBLE)) / norm AS weight,
       (sqrt(CAST(tok AS DOUBLE)) / norm)
         / (CAST(tok AS DOUBLE) / tok_total) AS boost
FROM per CROSS JOIN tot
"""


QUERIES = {
    "vocab_growth": vocab_growth,
    "text_normalize": text_normalize,
    "train_val_split": train_val_split,
    "quality_topk_per_group": quality_topk_per_group,
    "pii_scrub": pii_scrub,
    "curation_pipeline": curation_pipeline,
    "repetition_score": repetition_score,
    "ngram_counts": ngram_counts,
    "contamination_check": contamination_check,
    "domain_mix": domain_mix,
    "mix_rebalance_sample": mix_rebalance_sample,
    "packing_stats": packing_stats,
    "quality_adaptive_filter": quality_adaptive_filter,
    "token_budget_sample": token_budget_sample,
    "pack_chunks": pack_chunks,
    "bigram_lift": bigram_lift,
    "quality_dup_correlation": quality_dup_correlation,
    "source_hhi": source_hhi,
    "tokenizer_fertility": tokenizer_fertility,
    "lang_confusion": lang_confusion,
    "chunk_overlap": chunk_overlap,
    "text_integrity": text_integrity,
    "gopher_rules": gopher_rules,
    "shard_assignment": shard_assignment,
    "token_rank_curve": token_rank_curve,
    "ngram_novelty": ngram_novelty,
    "split_ks_check": split_ks_check,
    "stratified_reservoir": stratified_reservoir,
    "tokenizer_oov_rate": tokenizer_oov_rate,
    "source_boilerplate": source_boilerplate,
    "dsir_importance": dsir_importance,
    "doc_lm_typicality": doc_lm_typicality,
    "lang_source_pmi": lang_source_pmi,
    "doc_token_entropy": doc_token_entropy,
    "token_js_divergence": token_js_divergence,
    "zipf_exponent": zipf_exponent,
    "weighted_sample": weighted_sample,
    "skipgram_lift": skipgram_lift,
    "source_length_moments": source_length_moments,
    "dataset_card": dataset_card,
    "charset_census": charset_census,
    "bigram_entropy_rate": bigram_entropy_rate,
    "compression_ratio": compression_ratio,
    "compression_ratio_certify": compression_ratio_certify,
    "quality_pareto_frontier": quality_pareto_frontier,
    "source_sampling_weights": source_sampling_weights,
}

ORACLES = {
    "vocab_growth": VOCAB_GROWTH_SQL,
    "text_normalize": TEXT_NORMALIZE_SQL,
    "train_val_split": TRAIN_VAL_SPLIT_SQL,
    "quality_topk_per_group": _quality_topk_sql(),
    "pii_scrub": PII_SCRUB_SQL,
    "curation_pipeline": _curation_pipeline_sql(),
    "repetition_score": REPETITION_SCORE_SQL,
    "ngram_counts": NGRAM_COUNTS_SQL,
    "contamination_check": CONTAMINATION_CHECK_SQL,
    "domain_mix": DOMAIN_MIX_SQL,
    "mix_rebalance_sample": MIX_REBALANCE_SAMPLE_SQL,
    "packing_stats": PACKING_STATS_SQL,
    "quality_adaptive_filter": _quality_adaptive_sql(),
    "token_budget_sample": TOKEN_BUDGET_SQL,
    "pack_chunks": PACK_CHUNKS_SQL,
    "bigram_lift": BIGRAM_LIFT_SQL,
    "quality_dup_correlation": QUALITY_DUP_CORRELATION_SQL,
    "source_hhi": SOURCE_HHI_SQL,
    "tokenizer_fertility": TOKENIZER_FERTILITY_SQL,
    "lang_confusion": _lang_confusion_sql(),
    "chunk_overlap": CHUNK_OVERLAP_SQL,
    "text_integrity": TEXT_INTEGRITY_SQL,
    "gopher_rules": _gopher_rules_sql(),
    "shard_assignment": SHARD_ASSIGNMENT_SQL,
    "token_rank_curve": TOKEN_RANK_CURVE_SQL,
    "ngram_novelty": NGRAM_NOVELTY_SQL,
    "split_ks_check": SPLIT_KS_CHECK_SQL,
    "stratified_reservoir": STRATIFIED_RESERVOIR_SQL,
    "tokenizer_oov_rate": TOKENIZER_OOV_RATE_SQL,
    "source_boilerplate": SOURCE_BOILERPLATE_SQL,
    "dsir_importance": DSIR_IMPORTANCE_SQL,
    "doc_lm_typicality": DOC_LM_TYPICALITY_SQL,
    "lang_source_pmi": LANG_SOURCE_PMI_SQL,
    "doc_token_entropy": DOC_TOKEN_ENTROPY_SQL,
    "token_js_divergence": TOKEN_JS_DIVERGENCE_SQL,
    "zipf_exponent": ZIPF_EXPONENT_SQL,
    "weighted_sample": WEIGHTED_SAMPLE_SQL,
    "skipgram_lift": SKIPGRAM_LIFT_SQL,
    "source_length_moments": SOURCE_LENGTH_MOMENTS_SQL,
    "dataset_card": DATASET_CARD_SQL,
    "charset_census": CHARSET_CENSUS_SQL,
    "bigram_entropy_rate": BIGRAM_ENTROPY_RATE_SQL,
    "compression_ratio_certify": COMPRESSION_RATIO_CERTIFY_SQL,
    "quality_pareto_frontier": _pareto_sql(),
    "source_sampling_weights": SOURCE_SAMPLING_WEIGHTS_SQL,
}
