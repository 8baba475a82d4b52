"""Run the reference's OWN prebuilt executables, unmodified, on the
Spark engine's maple_exe/juice_exe adapter — the strongest parity
claim: a user's legacy MapleJuice binaries work as-is.

The binaries are the public artifacts shipped in /root/reference
(mj_exe/*, wordcountexe); they are invoked at runtime as black boxes
(never copied into the repo, never read as source beyond the public
.go files cited in SURVEY). wordcountexe lacks the exec bit in the
read-only checkout, so the test stages a chmod'ed copy under
tmp_path.

Truth model: the adapter must reproduce the reference scheduler's
observable semantics — one maple process per clip, one juice process
PER KEY (JuiceTask, /root/reference/maple_juice/maple_juice.go:376)
— so each test also runs the same binaries through a direct
single-process-per-key subprocess harness and asserts byte-identical
key/value output. Where the binary's semantics are clean (wordcount)
we additionally assert equality with the declarative oracle-checked
query."""

import shutil
import subprocess
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from distributed_system_mapreduce_spark.engine.maple_juice import MapleJuice
from distributed_system_mapreduce_spark.operators.mapreduce_queries import (
    wordcount,
)
from distributed_system_mapreduce_spark.tables import load_table
from tests.conftest import SF_DIR

REF_MJ = "/root/reference/mj_exe"
REF_WC_MAPLE = "/root/reference/wordcountexe"


def _staged(tmp_path, src: str) -> str:
    dst = tmp_path / ("staged_" + src.rsplit("/", 1)[-1])
    shutil.copy(src, dst)
    dst.chmod(0o755)
    return str(dst)


def _run_exe(cmd: str, lines: list[str]) -> list[str]:
    out = subprocess.run(
        cmd, shell=True, input="\n".join(lines) + "\n",
        capture_output=True, text=True, check=True,
    ).stdout
    return [ln for ln in out.splitlines() if ln.strip()]


def _emulate(maple_cmd: str, juice_cmd: str,
             in_lines: list[str]) -> dict:
    """Single-node emulation of the reference scheduler: maple over
    the whole input, split output by key (first space), one juice
    process per key — JuiceTask's granularity."""
    by_key = defaultdict(list)
    for ln in _run_exe(maple_cmd, in_lines):
        k, _, v = ln.partition(" ")
        by_key[k].append(f"{k} {v}")
    out = defaultdict(list)
    for k in by_key:
        for ln in _run_exe(juice_cmd, by_key[k]):
            ok, _, ov = ln.partition(" ")
            out[ok].append(ov)
    return {k: sorted(v) for k, v in out.items()}


def _kv_dict(df) -> dict:
    out = defaultdict(list)
    for r in df.collect():
        out[r["key"]].append(r["value"])
    return {k: sorted(v) for k, v in out.items()}


def test_reference_wordcount_binaries_unmodified(spark, tmp_path):
    """wordcountexe (maple) + mj_exe/juice_wordcount (juice), the
    exact pair from the reference's command_backup, end-to-end on the
    Spark adapter == the per-key subprocess emulation == the
    declarative oracle-checked wordcount."""
    for exe in (REF_WC_MAPLE, f"{REF_MJ}/juice_wordcount"):
        # staged with the exec bit below, so only presence is needed
        if not shutil.os.path.isfile(exe):
            pytest.skip(f"{exe} not present in this checkout")
    maple_cmd = _staged(tmp_path, REF_WC_MAPLE)
    juice_cmd = _staged(tmp_path, f"{REF_MJ}/juice_wordcount")

    docs = load_table(spark, "documents", SF_DIR).select("text")
    mj = MapleJuice(spark)
    got = _kv_dict(mj.juice_exe(mj.maple_exe(docs, maple_cmd),
                                juice_cmd))

    in_lines = [r["text"] for r in docs.collect() if r["text"]]
    want = _emulate(maple_cmd, juice_cmd, in_lines)
    assert got == want and got

    # the binary splits on the same simple whitespace as the oracle
    # tokenizer on this corpus, so the declarative truth also holds
    truth = {r["word"]: [str(r["cnt"])]
             for r in wordcount(spark, SF_DIR).collect()}
    assert got == truth


def test_reference_vote_binaries_unmodified(spark, tmp_path):
    """The reference's flagship two-round election with all FOUR of
    its own binaries (maple_vote -> juice_vote -> maple_vote_two ->
    juice_vote_two). The adapter must reproduce the binaries'
    observable behavior exactly (including juice_vote's
    last-line-wins counter reset — we match the artifact, not what
    the source may have intended), verified against the per-key
    subprocess emulation at every round boundary."""
    from distributed_system_mapreduce_spark.operators.mapreduce_queries import (
        _ballots,
    )

    maple1 = f"{REF_MJ}/maple_vote"
    juice1 = f"{REF_MJ}/juice_vote"
    maple2 = f"{REF_MJ}/maple_vote_two"
    juice2 = f"{REF_MJ}/juice_vote_two"
    for exe in (maple1, juice1, maple2, juice2):
        if not shutil.os.access(exe, shutil.os.X_OK):
            pytest.skip(f"{exe} not executable in this checkout")

    lines = _ballots(spark, SF_DIR).select(
        F.concat_ws(" ", "c1", "c2", "c3").alias("line"))
    in_lines = [r["line"] for r in lines.collect()]

    mj = MapleJuice(spark)
    r1 = mj.juice_exe(mj.maple_exe(lines, maple1), juice1)
    want_r1 = _emulate(maple1, juice1, in_lines)
    assert _kv_dict(r1) == want_r1 and want_r1

    r1_lines = r1.select(F.concat_ws(" ", "key", "value").alias("line"))
    out = mj.juice_exe(mj.maple_exe(r1_lines, maple2), juice2)
    want = _emulate(
        maple2, juice2,
        [f"{k} {v}" for k, vs in want_r1.items() for v in vs])
    assert _kv_dict(out) == want and want
