"""Queries routed through the generic MapleJuice engine API — proving
the legacy programmable path produces byte-identical results to the
declarative layer (same DuckDB oracle as the DataFrame twin).

mr_wordcount is the reference's flagship job pair
(mj_exe/wc_maple + mj_exe/juice_wordcount.go) written as two small
Python callables against engine/maple_juice.py.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from distributed_system_mapreduce_spark.engine.maple_juice import (
    MapleJuice,
    wrap_line_job,
)
from distributed_system_mapreduce_spark.operators.mapreduce_queries import (
    VOTE_WINNER_SQL,
    WORDCOUNT_SQL,
)
from distributed_system_mapreduce_spark.tables import load_table, spread


# ASCII whitespace class — the oracle's tokenizer (functions/text.py).
# NOT str.split(): Python splits on ALL unicode whitespace (NBSP,
# NEL, U+2028...) which the cross-engine contract excludes.
_WS_RE = re.compile(r"[ \t\n\r\f\x0b]+")

# translate-to-space + split(" ") == the regex class split, but stays
# in C string code (measured 2.3x over the compiled regex at sf0.1)
_WS_TBL = str.maketrans({c: " " for c in "\t\n\r\f\x0b"})


def _wc_maple(line: str):
    # wc_maple: emit (word, "1") per whitespace token (bufio.ScanWords)
    for tok in _WS_RE.split(line):
        if tok:
            yield tok, "1"


def _wc_maple_combining(lines: pd.Series) -> pd.DataFrame:
    """wc_maple with a map-side COMBINER — the classic MapReduce
    optimization (Hadoop's combiner; the reference could ship the
    same logic inside its maple exe). Emits (word, partial_count)
    per Arrow batch instead of (word, "1") per token, so the engine
    shuffle carries O(vocab) rows per partition rather than one row
    per token — the difference between shuffling 270k and ~31 rows
    per partition at sf0.1, and between TBs and MBs at 100 TB.
    _wc_juice sums values either way, so results are byte-identical
    (same oracle)."""
    toks: list[str] = []
    for line in lines:
        if line is not None:
            toks.extend(line.translate(_WS_TBL).split(" "))
    counts = pd.Series(toks, dtype="object").value_counts()
    if "" in counts.index:
        counts = counts.drop("")
    return pd.DataFrame({"key": counts.index.astype(str),
                         "value": counts.to_numpy().astype(str)})


def _wc_juice(key: str, grp: pd.DataFrame) -> pd.DataFrame:
    # juice_wordcount.go:24 — wcmap[key] += count
    return pd.DataFrame({"word": [key], "cnt": [grp["value"].astype("int64").sum()]})


def mr_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the CPU-heavy maple stage must not run on one core when
    # the local scan is a single row-group (no-op on a real cluster)
    docs = spread(load_table(spark, "documents", sf_dir).select("text"))
    mj = MapleJuice(spark)
    out = mj.run(
        docs,
        _wc_maple_combining,
        _wc_juice,
        output_schema="word string, cnt long",
    )
    return out


def mr_wordcount_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same job through the range-partition shuffle path
    (Shuffle(partition="range"), maple_juice.go:688). With the
    combining maple the map output that juice() persists for the
    range path (so range-boundary sampling doesn't re-run the map) is
    O(vocab x partitions) rows — trivial to cache at any scale."""
    docs = spread(load_table(spark, "documents", sf_dir).select("text"))
    mj = MapleJuice(spark)
    return mj.run(
        docs,
        _wc_maple_combining,
        _wc_juice,
        partition="range",
        output_schema="word string, cnt long",
    )


# ------------------------------------------------ two-round vote job
def _vote_maple(line: str):
    # maple_vote.go:20-39 — per ballot, per unordered pair, emit
    # key "small,big", value "1" iff the ballot prefers the smaller
    c1, c2, c3 = line.split()
    for a, b in ((c1, c2), (c2, c3), (c1, c3)):
        small, big = (a, b) if a < b else (b, a)
        yield f"{small},{big}", "1" if a == small else "0"


def _vote_juice(key: str, grp: pd.DataFrame) -> pd.DataFrame:
    # juice_vote.go — majority per pair (ties -> the larger candidate)
    ones = int((grp["value"] == "1").sum())
    zeros = len(grp) - ones
    small, big = key.split(",")
    return pd.DataFrame({"key": [key],
                         "value": [small if ones > zeros else big]})


def _vote2_maple(line: str):
    # maple_vote_two.go — re-key every pair result under one key
    yield "all", line.split()[1]


def _vote2_juice(key: str, grp: pd.DataFrame) -> pd.DataFrame:
    # juice_vote_two.go:20-27 — count wins per candidate, argmax
    # (tie-break: lexicographically smaller candidate)
    counts = grp["value"].value_counts()
    best = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
    return pd.DataFrame({"candidate": [best[0]],
                         "pair_wins": [int(best[1])]})


def mr_vote_winner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship election pipeline, both rounds through
    the engine API: ballots -> pairwise majority (round 1) -> re-key
    -> Copeland argmax (round 2). The single-key round 2 runs as one
    reduce task over 3 rows — exactly the reference's shape
    (juice_vote_two is one task too); round 1 carries the real data
    volume through a normal hash shuffle."""
    from distributed_system_mapreduce_spark.operators.mapreduce_queries import (
        _ballots,
    )
    from pyspark.sql import functions as F

    lines = _ballots(spark, sf_dir).select(
        F.concat_ws(" ", "c1", "c2", "c3").alias("line"))
    mj = MapleJuice(spark)
    r1 = mj.run(lines, wrap_line_job(_vote_maple), _vote_juice)
    r1_lines = r1.select(
        F.concat_ws(" ", "key", "value").alias("line"))
    return mj.run(
        r1_lines, wrap_line_job(_vote2_maple), _vote2_juice,
        output_schema="candidate string, pair_wins long",
    )


# ------------------------------------------------ external-exe job pair
# The reference runs ANY stdin/stdout binary (`maple wc_maple ...`,
# executeMapleExe, maple_juice.go:241). These two shell one-liners are
# that contract verbatim: maple emits `word 1` per whitespace token,
# juice sums one key's counts — the wc_maple/juice_wordcount pair as
# external processes instead of Python callables.
# the exe splits on the same explicit ASCII class as the oracle
# tokenizer, not str.split() (all-unicode whitespace)
_WC_MAPLE_EXE = (
    "python3 -c 'import sys, re; "
    'w = re.compile("[ \\\\t\\\\n\\\\r\\\\f\\\\x0b]+").split; '
    'sys.stdout.write("".join('
    't + " 1\\n" for ln in sys.stdin for t in w(ln) if t))\'')
_WC_JUICE_EXE = ("python3 -c 'import sys; "
                 'rows = [l.split(" ", 1) for l in sys.stdin if l.strip()]; '
                 "print(rows[0][0], sum(int(v) for _, v in rows))'")


def mr_wordcount_exe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wordcount with both phases as EXTERNAL executables through
    maple_exe/juice_exe — proving an unmodified legacy mj_exe binary
    runs on this engine and matches the declarative oracle."""
    from pyspark.sql import functions as F

    from distributed_system_mapreduce_spark.tables import spread

    # spread: an under-split scan would hand the WHOLE corpus to one
    # subprocess; exe throughput scales with partition count.
    docs = spread(load_table(spark, "documents", sf_dir).select("text"))
    mj = MapleJuice(spark)
    kv = mj.maple_exe(docs, _WC_MAPLE_EXE)
    out = mj.juice_exe(kv, _WC_JUICE_EXE)
    return out.select(
        F.col("key").alias("word"),
        F.col("value").cast("long").alias("cnt"),
    )


QUERIES = {
    "mr_wordcount": mr_wordcount,
    "mr_wordcount_range": mr_wordcount_range,
    "mr_vote_winner": mr_vote_winner,
    "mr_wordcount_exe": mr_wordcount_exe,
}

ORACLES = {
    "mr_wordcount": WORDCOUNT_SQL,
    "mr_wordcount_range": WORDCOUNT_SQL,
    "mr_vote_winner": VOTE_WINNER_SQL,
    "mr_wordcount_exe": WORDCOUNT_SQL,
}
