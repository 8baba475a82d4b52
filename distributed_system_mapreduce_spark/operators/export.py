"""Training-batch export: the last mile of the data pipeline — turn
the curated corpus into fixed-length packed token-id sequences, the
shape a pretraining loader consumes.

Tokenizer stand-in: the portable whitespace tokenizer
(functions/text.py) with ids = first 4 hex chars of md5(token) — a
65536-"vocab" hash tokenizer whose ids are bit-identical strings in
Spark and DuckDB, which is what lets the PACKED SEQUENCES themselves
be oracle-checked (per-sequence md5 digest of the id stream). A real
BPE would slot in as a Pandas UDF at the `_ids` step; everything
downstream (offsets, packing, padding) is tokenizer-agnostic.

Packing is the same concat-and-chunk recipe as pack_chunks
(curation.py): per (source, shard = doc_id mod 64) stream, cumulative
token offsets place every token at a global position; sequence k is
positions [k*L, (k+1)*L). Chunks never span shards; shard count is
the parallelism knob.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_system_mapreduce_spark.functions.text import (
    TOKENS_SQL,
    tokens,
)
from distributed_system_mapreduce_spark.tables import load_table, spread

SEQ_LEN = 512
N_SHARDS = 64
PAD_ID = "0000"


def _positioned_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, shard, gpos, id): every token of every doc at its
    global position within its (source, shard) pack stream.

    One doc-level window (cumulative offsets over per-doc token
    counts) + one posexplode — token rows never enter a window, so
    the sort cost is per-doc-count, not per-token."""
    docs = spread(load_table(spark, "documents", sf_dir))
    d = docs.select(
        "source",
        (F.col("doc_id") % N_SHARDS).alias("shard"),
        "doc_id",
        tokens().alias("toks"),
    )
    w = (
        Window.partitionBy("source", "shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    off = d.select(
        "source", "shard", "toks",
        (F.sum(F.size("toks")).over(w) - F.size("toks")).alias("start"),
    )
    return off.select(
        "source", "shard",
        F.posexplode("toks").alias("pos", "t"),
        "start",
    ).select(
        "source", "shard",
        (F.col("start") + F.col("pos")).alias("gpos"),
        F.substring(F.md5("t"), 1, 4).alias("id"),
    )


def training_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The export itself: (source, shard, seq_idx, input_ids, n_real)
    with every input_ids array padded to exactly SEQ_LEN — write it
    out with FileStore.write (partition_by=["source"]) and the
    training loader reads parquet. collect_list is bounded by SEQ_LEN
    per group; ordering inside a sequence is restored JVM-side via
    sort_array over (pos, id) structs — never a Python loop."""
    ids = _positioned_ids(spark, sf_dir)
    grouped = (
        ids.groupBy(
            "source", "shard",
            F.expr(f"gpos div {SEQ_LEN}").alias("seq_idx"))
        .agg(
            F.expr("transform(array_sort(collect_list(struct(gpos, id))), "
                   "x -> x.id)").alias("ids_real"),
            F.count("*").alias("n_real"),
        )
    )
    return grouped.select(
        "source", "shard", "seq_idx", "n_real",
        F.expr(
            f"concat(ids_real, array_repeat('{PAD_ID}', "
            f"{SEQ_LEN} - size(ids_real)))"
        ).alias("input_ids"),
    )


def training_batches_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable face of the export: per packed sequence, its
    length accounting and the md5 digest of the ordered id stream —
    equality here means the two engines packed IDENTICAL sequences."""
    ids = _positioned_ids(spark, sf_dir)
    return (
        ids.groupBy(
            "source", "shard",
            F.expr(f"gpos div {SEQ_LEN}").alias("seq_idx"))
        .agg(
            F.count("*").alias("n_real"),
            (F.lit(SEQ_LEN) - F.count("*")).alias("n_pad"),
            F.md5(F.expr(
                "concat_ws(',', transform("
                "array_sort(collect_list(struct(gpos, id))), "
                "x -> x.id))")).alias("digest"),
        )
    )


TRAINING_BATCHES_DIGEST_SQL = f"""
WITH d AS (
  SELECT source, doc_id % {N_SHARDS} AS shard, doc_id,
         {TOKENS_SQL} AS toks
  FROM documents
),
off AS (
  SELECT source, shard, toks,
         SUM(len(toks)) OVER (PARTITION BY source, shard ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING)
           - len(toks) AS start
  FROM d
),
tok AS (
  SELECT source, shard,
         start + unnest(range(len(toks))) AS gpos,
         substring(md5(unnest(toks)), 1, 4) AS id
  FROM off
)
SELECT source, shard,
       CAST(gpos // {SEQ_LEN} AS BIGINT) AS seq_idx,
       COUNT(*) AS n_real,
       {SEQ_LEN} - COUNT(*) AS n_pad,
       md5(string_agg(id, ',' ORDER BY gpos)) AS digest
FROM tok
GROUP BY source, shard, gpos // {SEQ_LEN}
"""
# seq_idx is CAST explicitly: gpos carries a windowed SUM upstream, so
# DuckDB types it HUGEINT and the division inherits that; the driver's
# normalizer floats HUGEINT columns before hashing (r3 gate red).


QUERIES = {
    "training_batches_digest": training_batches_digest,
}

ORACLES = {
    "training_batches_digest": TRAINING_BATCHES_DIGEST_SQL,
}
