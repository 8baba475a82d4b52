"""MapleJuice engine invariants: parity with the declarative layer,
hash vs range shuffle equivalence, legacy line-job adapter."""

import pandas as pd
import pytest

from distributed_system_mapreduce_spark.engine.maple_juice import (
    MapleJuice,
    wrap_line_job,
)
from distributed_system_mapreduce_spark.operators.engine_queries import (
    mr_wordcount,
    mr_wordcount_range,
)
from distributed_system_mapreduce_spark.operators.mapreduce_queries import wordcount
from tests.conftest import SF_DIR


def _as_dict(df):
    return {r[0]: r[1] for r in df.collect()}


def test_engine_matches_dataframe_wordcount(spark):
    assert _as_dict(mr_wordcount(spark, SF_DIR)) == _as_dict(
        wordcount(spark, SF_DIR))


def test_range_shuffle_matches_hash(spark):
    assert _as_dict(mr_wordcount_range(spark, SF_DIR)) == _as_dict(
        mr_wordcount(spark, SF_DIR))


def test_wrap_line_job_adapter():
    fn = wrap_line_job(lambda line: [(t, "1") for t in line.split()])
    out = fn(pd.Series(["a b", "b c", None]))
    assert list(out["key"]) == ["a", "b", "b", "c"]
    assert set(out["value"]) == {"1"}


@pytest.mark.parametrize("reducer", ["juice", "juice_exe"])
def test_juice_rejects_bad_partition(spark, reducer):
    mj = MapleJuice(spark)
    kv = spark.createDataFrame([("a", "1")], "key string, value string")
    fn = (lambda k, g: g) if reducer == "juice" else "cat"
    with pytest.raises(ValueError):
        getattr(mj, reducer)(kv, fn, partition="random")


def test_maple_custom_column_and_tasks(spark):
    mj = MapleJuice(spark)
    df = spark.createDataFrame(
        [(1, "x y"), (2, "y z")], "id long, body string")
    kv = mj.maple(df, wrap_line_job(
        lambda line: [(t, "1") for t in line.split()]),
        num_tasks=2, input_col="body")
    counts = kv.groupBy("key").count().collect()
    assert {r["key"]: r["count"] for r in counts} == {
        "x": 1, "y": 2, "z": 1}


# ------------------------------------------------------ external exes
def test_exe_wordcount_matches_dataframe(spark):
    """Both phases as external processes (executeMapleExe parity,
    maple_juice.go:241) == the declarative wordcount."""
    from distributed_system_mapreduce_spark.operators.engine_queries import (
        mr_wordcount_exe,
    )

    assert _as_dict(mr_wordcount_exe(spark, SF_DIR)) == _as_dict(
        wordcount(spark, SF_DIR))


def test_exe_awk_maple_range_juice(spark):
    """A genuinely non-Python binary (awk) as the maple exe, plus the
    range-shuffle juice path, against the same truth."""
    from pyspark.sql import functions as F

    from distributed_system_mapreduce_spark.tables import load_table

    mj = MapleJuice(spark)
    docs = load_table(spark, "documents", SF_DIR).select("text")
    kv = mj.maple_exe(
        docs, "awk '{for (i = 1; i <= NF; i++) print $i, 1}'")
    out = mj.juice_exe(
        kv,
        "awk '{s += $2} END {print $1, s}'",
        partition="range", num_tasks=4,
    )
    got = {r["key"]: int(r["value"]) for r in out.collect()}
    assert got == _as_dict(wordcount(spark, SF_DIR))


def test_exe_two_round_vote_pipeline(spark):
    """The reference's flagship election (command_backup: maple_vote ->
    juice_vote -> maple_vote_two -> juice_vote_two) with ALL FOUR
    phases as external processes, against the engine-API result (which
    is itself oracle-checked as mr_vote_winner)."""
    from pyspark.sql import functions as F

    from distributed_system_mapreduce_spark.operators.engine_queries import (
        mr_vote_winner,
    )
    from distributed_system_mapreduce_spark.operators.mapreduce_queries import (
        _ballots,
    )

    maple1 = (
        "python3 -c 'import sys\n"
        "for ln in sys.stdin:\n"
        "    c1, c2, c3 = ln.split()\n"
        "    for a, b in ((c1, c2), (c2, c3), (c1, c3)):\n"
        "        s, g = (a, b) if a < b else (b, a)\n"
        "        print(s + \",\" + g, 1 if a == s else 0)'"
    )
    juice1 = (
        "python3 -c 'import sys\n"
        "rows = [ln.split() for ln in sys.stdin]\n"
        "ones = sum(v == \"1\" for _, v in rows)\n"
        "s, g = rows[0][0].split(\",\")\n"
        "print(rows[0][0], s if ones > len(rows) - ones else g)'"
    )
    maple2 = "awk '{print \"all\", $2}'"
    juice2 = (
        "python3 -c 'import sys, collections\n"
        "c = collections.Counter(ln.split()[1] for ln in sys.stdin)\n"
        "w = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]\n"
        "print(w[0], w[1])'"
    )

    mj = MapleJuice(spark)
    lines = _ballots(spark, SF_DIR).select(
        F.concat_ws(" ", "c1", "c2", "c3").alias("line"))
    r1 = mj.juice_exe(mj.maple_exe(lines, maple1), juice1)
    r1_lines = r1.select(F.concat_ws(" ", "key", "value").alias("line"))
    out = mj.juice_exe(mj.maple_exe(r1_lines, maple2), juice2)
    # final juice stdout lines "winner count" parse into (key, value)
    got = {(r["key"], int(r["value"])) for r in out.collect()}
    want = {
        (r["candidate"], int(r["pair_wins"]))
        for r in mr_vote_winner(spark, SF_DIR).collect()
    }
    assert got == want


def test_exe_failure_surfaces(spark):
    mj = MapleJuice(spark)
    df = spark.createDataFrame([("x",)], "line string")
    kv = mj.maple_exe(df, "false")
    with pytest.raises(Exception, match="exited with status"):
        kv.collect()
