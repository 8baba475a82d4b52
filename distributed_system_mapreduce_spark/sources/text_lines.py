"""Line-oriented text sources — the reference's native input format.

Every maple job starts from a line file split into clips
(split, maple_juice.go:32). Spark's text source does the same split
by HDFS block boundaries, in parallel, without the driver-side line
counting pass. `read_lines` yields the one-column `line` DataFrame
the MapleJuice engine consumes; `write_lines` produces shareable
line files (the get/put roundtrip format).

CSV/JSON readers are provided via FileStore.read(fmt=...); this
module covers the raw-text path plus the classic whitespace
key-value format of maple outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_lines(spark: SparkSession, path: str,
               min_partitions: int | None = None) -> DataFrame:
    """Text file(s) -> DataFrame[line string]. Partitioning follows
    file splits (maxPartitionBytes), the scalable version of the
    reference's N line-clips."""
    df = spark.read.text(path)
    if min_partitions and df.rdd.getNumPartitions() < min_partitions:
        df = df.repartition(min_partitions)
    return df.withColumnRenamed("value", "line")


def write_lines(df: DataFrame, path: str) -> None:
    df.select(F.col("line").cast("string").alias("value")) \
        .write.mode("overwrite").text(path)


def read_jsonl(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Schema-enforced JSONL ingest with corrupt-record capture — the
    production posture for web-scale training-data feeds, where some
    fraction of lines is always malformed. Good rows parse into the
    declared schema; broken lines land whole in `_corrupt` instead
    of failing the job (PERMISSIVE) — filter on it to fork the
    quarantine stream. Schema enforcement also skips Spark's
    double-pass inference scan."""
    full = f"{schema}, _corrupt string"
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
    )


def read_kv_lines(spark: SparkSession, path: str) -> DataFrame:
    """Parse the reference's intermediate format: 'key value' per line
    (splitMapleResultFile, maple_juice.go:266). Everything after the
    first space is the value, matching strings.Split(line, " ")[0] as
    key semantics."""
    lines = read_lines(spark, path)
    return lines.select(
        F.regexp_extract("line", r"^(\S+)", 1).alias("key"),
        F.regexp_replace("line", r"^\S+\s?", "").alias("value"),
    )
