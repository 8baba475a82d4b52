"""FileStore: the five SDFS commands + DataFrame read/write/append."""

import os

import pytest

from distributed_system_mapreduce_spark.sources.filestore import FileStore


@pytest.fixture()
def fs(spark, tmp_path):
    return FileStore(spark, str(tmp_path / "store"))


def test_put_get_delete_roundtrip(fs, tmp_path):
    local = tmp_path / "in.txt"
    local.write_text("hello world\n")
    fs.put(str(local), "greeting")
    assert fs.store() == ["greeting"]
    out = tmp_path / "out.txt"
    fs.get("greeting", str(out))
    assert out.read_text() == "hello world\n"
    fs.delete("greeting")
    assert fs.store() == []
    with pytest.raises(FileNotFoundError):
        fs.get("greeting", str(out))


def test_flat_namespace_enforced(fs):
    with pytest.raises(ValueError):
        fs.put("/etc/hosts", "../escape")


def test_dataframe_write_read_append(fs, spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    fs.write(df, "ds")
    assert fs.read("ds").count() == 2
    fs.append(df, "ds")
    assert fs.read("ds").count() == 4
    assert "ds" in fs.store()
    assert len(fs.ls("ds")) >= 1


def test_partitioned_write_is_split_by_key(fs, spark):
    """splitKey.go parity: one directory per key value."""
    df = spark.createDataFrame(
        [("a", 1), ("b", 2), ("a", 3)], "k string, v long")
    fs.write(df, "bykey", partition_by=["k"])
    root = os.path.join(fs.root, "bykey")
    parts = {d for d in os.listdir(root) if d.startswith("k=")}
    assert parts == {"k=a", "k=b"}
    assert fs.read("bykey").count() == 3


def test_partition_pruning_reaches_scan(fs, spark):
    """A filter on the partition column must prune at planning time
    (PartitionFilters in the scan), not post-filter all partitions —
    this is what makes split_by_key layouts pay off at 100 TB."""
    from distributed_system_mapreduce_spark.plans import formatted_plan
    from distributed_system_mapreduce_spark.tables import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, "events", SF_DIR)
    fs.write(ev, "events_by_type", partition_by=["event_type"])
    df = fs.read("events_by_type").filter("event_type = 'purchase'")
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan
    assert "isnotnull(event_type" in plan or "event_type" in plan.split(
        "PartitionFilters", 1)[1].split("\n", 1)[0]
    n_purchase = ev.filter("event_type = 'purchase'").count()
    assert df.count() == n_purchase


def test_bucketed_join_has_no_shuffle(fs, spark):
    """Two tables bucketed on the join key must join with ZERO
    exchanges — the write-once/shuffle-never layout for repeated
    co-located joins."""
    from distributed_system_mapreduce_spark.plans import formatted_plan
    from distributed_system_mapreduce_spark.tables import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, "events", SF_DIR).select(
        "event_id", "user_id", "value")
    us = (load_table(spark, "events", SF_DIR)
          .groupBy("user_id").count())
    try:
        fs.write_bucketed(ev, "ev_b", "user_id")
        fs.write_bucketed(us, "us_b", "user_id")
        # hint MERGE so the tiny test table doesn't just broadcast —
        # the point is that the sort-merge join needs NO exchange
        j = (fs.read_table("ev_b").hint("merge")
             .join(fs.read_table("us_b"), "user_id"))
        plan = formatted_plan(j)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange" not in plan, plan
        assert j.count() == ev.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS ev_b")
        spark.sql("DROP TABLE IF EXISTS us_b")


def test_read_jsonl_quarantines_corrupt_lines(spark, tmp_path):
    """Malformed JSONL lines must not fail the job: good rows parse,
    bad lines land whole in the corrupt column for quarantine."""
    from distributed_system_mapreduce_spark.sources.text_lines import (
        read_jsonl,
    )

    p = tmp_path / "feed.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "ok one"}\n'
        '{"doc_id": 2 "text": "broken json"}\n'
        '{"doc_id": 3, "text": "ok two"}\n'
    )
    df = read_jsonl(spark, str(p), "doc_id long, text string")
    rows = df.collect()
    good = {r["doc_id"]: r["text"] for r in rows if r["_corrupt"] is None}
    bad = [r["_corrupt"] for r in rows if r["_corrupt"] is not None]
    assert good == {1: "ok one", 3: "ok two"}
    assert len(bad) == 1 and "broken json" in bad[0]


def test_keyed_merge_upsert_delete(fs, spark):
    """merge() applies upserts + deletes by key and rewrites ONLY the
    hash buckets containing changed keys — untouched buckets' data
    files must remain byte-for-byte the same files (no rewrite)."""
    import pyspark.sql.functions as F

    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "id long, v string")
    fs.write_keyed(base, "kv", "id", n_buckets=8)
    before = {f: os.path.getmtime(f) for f in fs.ls("kv")}

    changes = spark.createDataFrame(
        [(3, "v3-new", False), (200, "v200", False), (7, None, True)],
        "id long, v string, is_delete boolean")
    fs.merge(changes, "kv", "id", delete_col="is_delete")

    got = {r["id"]: r["v"] for r in fs.read("kv").collect()}
    want = {i: f"v{i}" for i in range(100) if i != 7}
    want[3] = "v3-new"
    want[200] = "v200"
    assert got == want

    touched = {
        r[0] for r in changes.select(
            F.pmod(F.xxhash64("id"), F.lit(8))).collect()
    }
    after = {f: os.path.getmtime(f) for f in fs.ls("kv")}
    untouched_before = {
        f: t for f, t in before.items()
        if not any(f"_kbucket={b}" in f for b in touched)
    }
    assert untouched_before  # the delta must not have hit every bucket
    for f, t in untouched_before.items():
        assert f in after and after[f] == t, f"{f} was rewritten"


def test_merge_requires_existing_dataset(fs, spark):
    df = spark.createDataFrame([(1, "a", False)],
                               "id long, v string, is_delete boolean")
    with pytest.raises(FileNotFoundError):
        fs.merge(df, "nope", "id", delete_col="is_delete")


def _mk_grid(spark, n=4096):
    """Deterministic 2-D integer grid with both dims independently
    spread (worst case for one-dimensional clustering)."""
    import pyspark.sql.functions as F

    return spark.range(n).select(
        (F.col("id") * 37 % 256).alias("a"),
        (F.col("id") * 101 % 256).alias("b"),
        F.col("id").alias("payload"),
    )


def test_zorder_manifest_pruning_correct_and_skips(fs, spark):
    df = _mk_grid(spark)
    fs.write_zorder(df, "grid", "a", "b", n_files=16, bits=8)
    fs.manifest("grid", ["a", "b"])
    box = {"a": (32, 63), "b": (96, 127)}
    pruned = fs.read_pruned("grid", box)
    import pyspark.sql.functions as F

    want = sorted(
        r["payload"]
        for r in df.where((F.col("a").between(32, 63))
                          & (F.col("b").between(96, 127))).collect()
    )
    got = sorted(r["payload"] for r in pruned.collect())
    assert got == want and len(got) > 0
    # and it must actually skip files: the box covers 1/64 of the
    # space; z-order locality should exclude most of the 16 files
    touched = {f for f in pruned.inputFiles()}
    assert len(touched) < len(fs.ls("grid"))


def test_zorder_beats_single_sort_for_2d_boxes(fs, spark):
    """The reason to z-order: files must be selective in BOTH
    dimensions. A layout sorted only by `a` answers b-only boxes by
    reading every file; the z-ordered layout's manifest envelopes
    stay narrow in b too."""
    import pyspark.sql.functions as F

    df = _mk_grid(spark)
    fs.write_zorder(df, "gz", "a", "b", n_files=16, bits=8)
    fs.write(df.repartitionByRange(16, "a"), "ga")
    fs.manifest("gz", ["a", "b"])
    fs.manifest("ga", ["a", "b"])
    box = {"b": (0, 31)}  # constrains only b

    def survivors(name):
        man = fs.read(f"{name}__manifest")
        return man.where(
            (F.col("b_max") >= 0) & (F.col("b_min") <= 31)).count()

    assert survivors("gz") < survivors("ga")
    # correctness of the b-only pruned read on the z layout
    got = sorted(r["payload"] for r in fs.read_pruned("gz", box).collect())
    want = sorted(r["payload"]
                  for r in df.where(F.col("b") <= 31).collect())
    assert got == want


def test_csv_json_roundtrip(fs, spark):
    """The non-parquet formats the reference's line-oriented world
    maps to: csv and json datasets survive a write/read round trip
    with values intact (csv needs header+schema inference options)."""
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c,with,commas")], "id long, v string")
    fs.write(df, "t_csv", fmt="csv")
    fs.write(df, "t_json", fmt="json")
    back_csv = fs.read("t_csv", fmt="csv", header=False,
                       inferSchema=True)
    back_json = fs.read("t_json", fmt="json")
    assert sorted(tuple(r) for r in back_json.collect()) == sorted(
        (r["id"], r["v"]) for r in df.collect())
    assert back_csv.count() == 3
    # orc: the other columnar format Spark bundles natively
    fs.write(df, "t_orc", fmt="orc")
    back_orc = fs.read("t_orc", fmt="orc")
    assert sorted(tuple(r) for r in back_orc.collect()) == sorted(
        (r["id"], r["v"]) for r in df.collect())


def test_hadoop_io_path_file_scheme(spark, tmp_path):
    """A scheme'd root routes the namespace through the Hadoop
    FileSystem API (the cluster posture for hdfs:// / s3a:// roots);
    file:// exercises that exact code path locally. Full surface:
    the five SDFS verbs, DataFrame write/read, keyed merge (which
    needs the sidecar read/write through the Hadoop client too)."""
    fs = FileStore(spark, f"file://{tmp_path}/hstore")
    from distributed_system_mapreduce_spark.sources.filestore import _HadoopIO
    assert isinstance(fs._io, _HadoopIO)

    local = tmp_path / "in.txt"
    local.write_text("hadoop path\n")
    fs.put(str(local), "greeting")
    assert fs.store() == ["greeting"]
    out = tmp_path / "out.txt"
    fs.get("greeting", str(out))
    assert out.read_text() == "hadoop path\n"

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    fs.write(df, "ds")
    assert fs.read("ds").count() == 2
    assert sorted(fs.store()) == ["ds", "greeting"]
    assert len(fs.ls("ds")) >= 1

    fs.write_keyed(df, "kv", "id", n_buckets=4)
    changes = spark.createDataFrame(
        [(2, "b2", False), (3, "c", False), (1, None, True)],
        "id long, v string, is_delete boolean")
    fs.merge(changes, "kv", "id", delete_col="is_delete")
    got = {r["id"]: r["v"] for r in fs.read("kv").collect()}
    assert got == {2: "b2", 3: "c"}

    fs.delete("greeting")
    fs.delete("ds")
    fs.delete("kv")
    assert fs.store() == []
    with pytest.raises(FileNotFoundError):
        fs.read("ds")


def test_merge_drops_emptied_bucket(fs, spark):
    """Regression: dynamic partition overwrite only rewrites
    partitions present in the output, so a bucket whose every key was
    deleted used to keep its stale files. merge() must drop emptied
    bucket dirs explicitly."""
    base = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    fs.write_keyed(base, "kv2", "id", n_buckets=4)
    changes = spark.createDataFrame(
        [(1, None, True)], "id long, v string, is_delete boolean")
    fs.merge(changes, "kv2", "id", delete_col="is_delete")
    got = {r["id"]: r["v"] for r in fs.read("kv2").collect()}
    assert got == {2: "b"}


def test_merge_and_compact_rollup_leave_overwrite_mode_conf(
        fs, spark, monkeypatch):
    """merge() (dynamic partition overwrite) and compact_rollup()
    (static) pick their overwrite mode per write: the session's
    partitionOverwriteMode must read the same inside their writes as
    outside, or any other thread's write in the session would run in
    the flipped mode. Results must hold with the session set to the
    OPPOSITE mode: merge keeps untouched buckets and drops emptied
    ones, compaction replaces every delta partition."""
    from pyspark.sql.readwriter import DataFrameWriter

    from distributed_system_mapreduce_spark.streaming.jobs import (
        compact_rollup,
        read_rollup,
        rollup_delta_sink,
    )

    key = "spark.sql.sources.partitionOverwriteMode"
    seen = []
    save = DataFrameWriter.save

    def recording_save(self, *args, **kwargs):
        seen.append(spark.conf.get(key))
        return save(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "save", recording_save)
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "static")
        base = spark.createDataFrame(
            [(i, f"v{i}") for i in range(40)], "id long, v string")
        fs.write_keyed(base, "kv", "id", n_buckets=4)
        changes = spark.createDataFrame(
            [(1, None, True), (2, "v2-new", False)],
            "id long, v string, is_delete boolean")
        seen.clear()
        fs.merge(changes, "kv", "id", delete_col="is_delete")
        assert seen and set(seen) == {"static"}
        want = {i: f"v{i}" for i in range(40) if i != 1}
        want[2] = "v2-new"
        assert {r["id"]: r["v"] for r in fs.read("kv").collect()} == want
        # a bucket whose every row is deleted still disappears
        solo = spark.createDataFrame([(1, "a"), (2, "b")],
                                     "id long, v string")
        fs.write_keyed(solo, "kv2", "id", n_buckets=4)
        fs.merge(spark.createDataFrame(
            [(1, None, True)], "id long, v string, is_delete boolean"),
            "kv2", "id", delete_col="is_delete")
        assert {r["id"]: r["v"] for r in fs.read("kv2").collect()} \
            == {2: "b"}

        spark.conf.set(key, "dynamic")
        sink = rollup_delta_sink(fs, "roll")
        for batch_id, day in enumerate(("2024-01-01", "2024-01-02")):
            sink(spark.createDataFrame(
                [(f"{day} 10:00:00", "view", 1.5),
                 (f"{day} 11:00:00", "view", 2.0)],
                "ts string, event_type string, value double")
                .selectExpr("CAST(ts AS TIMESTAMP) AS ts", "event_type",
                            "value"), batch_id)
        before = sorted(map(tuple, read_rollup(fs, "roll").collect()))
        seen.clear()
        compact_rollup(fs, "roll")
        assert seen and set(seen) == {"dynamic"}
        assert sorted(map(tuple, read_rollup(fs, "roll").collect())) \
            == before
        assert {r["batch_id"] for r in
                fs.read("roll").select("batch_id").distinct().collect()} \
            == {-1}
    finally:
        spark.conf.set(key, prev)


def test_hadoop_io_dir_put_get_merges_like_local(spark, tmp_path):
    """Regression: Hadoop copyFromLocalFile nests a dir under an
    existing destination (checkDest semantics) where the local backend
    merges — both backends must present the same namespace surface
    for repeated directory put/get."""
    src = tmp_path / "d"
    (src / "sub").mkdir(parents=True)
    (src / "a.txt").write_text("a")
    (src / "sub" / "b.txt").write_text("b")

    fs = FileStore(spark, f"file://{tmp_path}/hstore2")
    fs.put(str(src), "ds")
    fs.put(str(src), "ds")  # second put must MERGE, not nest
    names = {p.split("hstore2/ds/")[1] for p in fs.ls("ds")}
    assert names == {"a.txt", "sub/b.txt"}

    out = tmp_path / "out"
    out.mkdir()
    fs.get("ds", str(out))
    fs.get("ds", str(out))  # second get must overwrite in place
    got = {
        str(p.relative_to(out)) for p in out.rglob("*") if p.is_file()
        if not p.name.startswith((".", "_"))
    }
    assert got == {"a.txt", "sub/b.txt"}


def test_compact_reduces_files_preserves_data(fs, spark):
    """Many appended small files -> compact() rewrites to the byte-
    target file count with identical rows, atomically (no staging
    dirs left behind, dataset readable throughout)."""
    from pyspark.sql import functions as F

    base = spark.range(0, 2000).select(
        F.col("id"), (F.col("id") % 7).alias("v"))
    fs.write(base.repartition(16), "feed")
    for i in range(4):
        fs.append(
            spark.range(2000 + i * 100, 2000 + (i + 1) * 100).select(
                F.col("id"), (F.col("id") % 7).alias("v"))
            .repartition(8), "feed")
    files_before = [f for f in fs.ls("feed") if f.endswith(".parquet")]
    assert len(files_before) == 16 + 4 * 8
    before = {(r["id"], r["v"]) for r in fs.read("feed").collect()}

    n_after = fs.compact("feed", target_bytes=1 << 30)  # one file fits
    files_after = [f for f in fs.ls("feed") if f.endswith(".parquet")]
    assert n_after == len(files_after) == 1
    after = {(r["id"], r["v"]) for r in fs.read("feed").collect()}
    assert after == before and len(after) == 2400
    # staged/backup dirs are gone
    assert not [n for n in fs.store() if "__compact" in n
                or "__precompact" in n]


def test_compact_refuses_keyed_dataset(fs, spark):
    """compact() must not flatten a write_keyed dataset's bucket
    layout out from under merge()."""
    import pytest
    from pyspark.sql import functions as F

    base = spark.range(0, 50).select(
        F.col("id"), (F.col("id") % 3).alias("v"))
    fs.write_keyed(base, "keyed", "id", n_buckets=4)
    with pytest.raises(ValueError, match="keyed"):
        fs.compact("keyed")


def test_compact_recovers_from_crashed_swap(fs, spark):
    """A crash between the two swap renames leaves the data under
    __precompact; the next compact() must restore and proceed."""
    from pyspark.sql import functions as F

    base = spark.range(0, 500).select(
        F.col("id"), (F.col("id") % 3).alias("v"))
    fs.write(base.repartition(8), "feed2")
    before = {(r["id"], r["v"]) for r in fs.read("feed2").collect()}
    # simulate the crash window: dataset moved aside, swap never done
    fs._io.rename(fs._path("feed2"), fs._path("feed2__precompact"))
    n = fs.compact("feed2", target_bytes=1 << 30)
    assert n == 1
    after = {(r["id"], r["v"]) for r in fs.read("feed2").collect()}
    assert after == before


def test_snapshot_time_travel_and_rollback(spark, tmp_path):
    """write_snapshot/append_snapshot commit immutable versions: old
    versions stay readable byte-for-byte after later writes, restore
    publishes a NEW version pointing at old files (no data copied),
    and an uncommitted (orphan) data dir is invisible to readers."""
    from distributed_system_mapreduce_spark.sources.filestore import (
        FileStore,
    )

    fs = FileStore(spark, str(tmp_path / "snaproot"))
    df1 = spark.range(0, 10).withColumnRenamed("id", "k")
    df2 = spark.range(10, 15).withColumnRenamed("id", "k")
    v1 = fs.write_snapshot(df1, "ds")
    v2 = fs.append_snapshot(df2, "ds")
    assert fs.versions("ds") == [1, 2] == [v1, v2]
    assert sorted(r["k"] for r in fs.read_snapshot("ds", 1).collect()) \
        == list(range(10))
    assert sorted(r["k"] for r in fs.read_snapshot("ds").collect()) \
        == list(range(15))
    # full overwrite as v3; v1/v2 still read the old data
    v3 = fs.write_snapshot(df2, "ds")
    assert sorted(r["k"] for r in fs.read_snapshot("ds").collect()) \
        == list(range(10, 15))
    assert sorted(r["k"] for r in fs.read_snapshot("ds", 2).collect()) \
        == list(range(15))
    # rollback to v2: new version, same files, history intact
    v4 = fs.restore_snapshot("ds", 2)
    assert v4 == 4 and fs.versions("ds") == [1, 2, 3, 4]
    assert sorted(r["k"] for r in fs.read_snapshot("ds").collect()) \
        == list(range(15))
    # an orphan data dir (crash before manifest publish) is invisible
    orphan = fs._write_data_dir(
        spark.range(100, 200).withColumnRenamed("id", "k"), "ds", 99)
    assert len(orphan) > 0
    assert sorted(r["k"] for r in fs.read_snapshot("ds").collect()) \
        == list(range(15))


def test_snapshot_vacuum_reclaims_unreferenced_files(spark, tmp_path):
    """vacuum keeps the newest N versions readable, deletes older
    manifests, and reclaims every data file (orphans included) that
    no kept version references."""
    from distributed_system_mapreduce_spark.sources.filestore import (
        FileStore,
    )

    fs = FileStore(spark, str(tmp_path / "vacroot"))
    fs.write_snapshot(spark.range(0, 5).withColumnRenamed("id", "k"),
                      "ds")
    fs.write_snapshot(spark.range(5, 9).withColumnRenamed("id", "k"),
                      "ds")
    fs.append_snapshot(spark.range(9, 12).withColumnRenamed("id", "k"),
                       "ds")
    fs._write_data_dir(  # orphan from a simulated pre-publish crash
        spark.range(50, 60).withColumnRenamed("id", "k"), "ds", 99)
    deleted = fs.vacuum_snapshots("ds", keep_last=2)
    # v1's files + the orphan go; v2 (shared with v3) and v3 stay
    assert deleted > 0
    assert fs.versions("ds") == [2, 3]
    assert sorted(r["k"] for r in fs.read_snapshot("ds", 2).collect()) \
        == list(range(5, 9))
    assert sorted(r["k"] for r in fs.read_snapshot("ds").collect()) \
        == list(range(5, 12))
    import pytest

    with pytest.raises(FileNotFoundError):
        fs.read_snapshot("ds", 1)
    # emptied version DIRS are reclaimed too (not just their parquet
    # files): only dirs referenced by kept manifests may remain
    import os

    droot = tmp_path / "vacroot" / "ds" / "data"
    live_dirs = {os.path.dirname(f)
                 for v in (2, 3)
                 for f in fs._read_manifest("ds", v)["files"]}
    on_disk = {str(droot / d) for d in os.listdir(droot)}
    assert on_disk == live_dirs
    with pytest.raises(ValueError):
        fs.vacuum_snapshots("ds", keep_last=0)


def test_snapshot_vacuum_survives_respelled_root(spark, tmp_path):
    """Manifests record file paths in the WRITER's backend spelling;
    vacuum must match live files by basename, not full-path prefix,
    or reopening the store under a differently-spelled root (bare
    path vs file:// URI — Hadoop Path.toString normalization) would
    see ZERO live matches and delete the live version's data."""
    from distributed_system_mapreduce_spark.sources.filestore import (
        FileStore,
    )

    root = str(tmp_path / "respellroot")
    fs = FileStore(spark, root)  # bare path -> _LocalIO spelling
    fs.write_snapshot(spark.range(0, 5).withColumnRenamed("id", "k"),
                      "ds")
    fs.write_snapshot(spark.range(5, 9).withColumnRenamed("id", "k"),
                      "ds")
    # reopen the SAME store through the Hadoop backend: every live
    # path in the manifest now spells differently than ls output
    fs2 = FileStore(spark, "file://" + root)
    deleted = fs2.vacuum_snapshots("ds", keep_last=1)
    assert deleted > 0  # v1 reclaimed
    assert fs2.versions("ds") == [2]
    # the LIVE version must still be fully readable
    assert sorted(r["k"] for r in fs2.read_snapshot("ds").collect()) \
        == list(range(5, 9))
    assert sorted(r["k"] for r in fs.read_snapshot("ds").collect()) \
        == list(range(5, 9))


def test_compact_snapshot_rewrites_small_files_with_history(spark,
                                                            tmp_path):
    """compact_snapshot folds an append-accreted file set into fewer
    files AS A NEW VERSION: rows identical, file count drops, the
    pre-compaction version stays readable (time travel), and
    vacuum afterwards reclaims the small files."""
    from distributed_system_mapreduce_spark.sources.filestore import (
        FileStore,
    )

    fs = FileStore(spark, str(tmp_path / "csroot"))
    fs.write_snapshot(
        spark.range(0, 10).repartition(4).withColumnRenamed("id", "k"),
        "ds")
    for lo in (10, 20, 30):
        fs.append_snapshot(
            spark.range(lo, lo + 10).repartition(4)
            .withColumnRenamed("id", "k"), "ds")
    before_files = len(fs._read_manifest(
        "ds", fs.versions("ds")[-1])["files"])
    assert before_files >= 16  # 4 appends x 4 files
    v = fs.compact_snapshot("ds")
    assert v == fs.versions("ds")[-1]
    after_files = len(fs._read_manifest("ds", v)["files"])
    assert after_files < before_files
    want = list(range(40))
    assert sorted(r["k"] for r in fs.read_snapshot("ds").collect()) \
        == want
    # time travel to the pre-compaction version still works
    assert sorted(r["k"] for r in
                  fs.read_snapshot("ds", v - 1).collect()) == want
    # expiring history reclaims the small files; compacted stays whole
    deleted = fs.vacuum_snapshots("ds", keep_last=1)
    assert deleted >= before_files
    assert sorted(r["k"] for r in fs.read_snapshot("ds").collect()) \
        == want


def test_snapshot_diff_reports_added_removed_changed(spark, tmp_path):
    from pyspark.sql import functions as F

    from distributed_system_mapreduce_spark.sources.filestore import (
        FileStore,
    )

    fs = FileStore(spark, str(tmp_path / "diffroot"))
    v1 = fs.write_snapshot(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, val string"),
        "ds")
    v2 = fs.write_snapshot(
        spark.createDataFrame(
            [(2, "b"), (3, "C"), (4, "d")], "k long, val string"),
        "ds")
    got = {(r["op"], r["k"])
           for r in fs.snapshot_diff("ds", v1, v2, "k").collect()}
    assert got == {("added", 4), ("removed", 1), ("changed", 3)}


def test_filestore_bucketed_join_query_plan_is_shuffle_free(spark):
    """The REGISTERED filestore_bucketed_join query (oracle-gated by
    the driver) must keep the zero-exchange property the layout
    promises: the only Exchange in the whole plan is the final
    map-side-combined aggregate's — the bucket-to-bucket sort-merge
    join itself moves nothing."""
    from distributed_system_mapreduce_spark.operators.filestore_queries import (
        filestore_bucketed_join,
    )
    from distributed_system_mapreduce_spark.plans import formatted_plan
    from tests.conftest import SF_DIR

    try:
        import re

        plan = formatted_plan(filestore_bucketed_join(spark, SF_DIR))
        assert "SortMergeJoin" in plan, plan
        # one Exchange NODE (tree line + detail block both mention it)
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS fs_demo_orders_b")
        spark.sql("DROP TABLE IF EXISTS fs_demo_cust_b")


# ---------------------- optimistic multi-writer commit (r5 verdict #4)

def test_rename_noreplace_is_a_cas_on_both_backends(spark, tmp_path):
    """The commit primitive: rename_noreplace must land when the
    destination is absent and raise FileExistsError when it exists —
    on the local fast path AND the Hadoop path (file://)."""
    for root in (str(tmp_path / "casL"), f"file://{tmp_path}/casH"):
        fs = FileStore(spark, root)
        io = fs._io
        io.write_text(fs._path("a.tmp"), "one")
        io.rename_noreplace(fs._path("a.tmp"), fs._path("a"))
        assert io.read_text(fs._path("a")) == "one"
        io.write_text(fs._path("b.tmp"), "two")
        with pytest.raises(FileExistsError):
            io.rename_noreplace(fs._path("b.tmp"), fs._path("a"))
        assert io.read_text(fs._path("a")) == "one"  # winner untouched


def test_concurrent_appends_both_writers_survive(fs, spark):
    """A streaming sink and a second ingester appending to the SAME
    snapshot dataset concurrently: every commit must survive (the
    exact lost-update the reference prevents with distributed write
    locks, file_system.go:279 — here prevented by the CAS + retry).
    Without the CAS, two writers racing the version pointer silently
    drop one manifest."""
    import threading

    per_writer, writers = 4, 2
    frames = {
        (w, i): spark.createDataFrame(
            [(w * 1000 + i, f"w{w}")], "k long, who string")
        for w in range(writers) for i in range(per_writer)
    }
    barrier = threading.Barrier(writers)
    errs: list[Exception] = []

    def work(w: int) -> None:
        try:
            barrier.wait(timeout=60)
            for i in range(per_writer):
                fs.append_snapshot(frames[(w, i)], "shared")
        except Exception as exc:  # surfaced below
            errs.append(exc)

    ts = [threading.Thread(target=work, args=(w,)) for w in range(writers)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=300)
    assert not errs, errs
    # every commit is a distinct version, none lost
    assert fs.versions("shared") == list(range(1, writers * per_writer + 1))
    # the final latest composes ALL appended rows — no writer's rows
    # were dropped by a racing manifest
    got = {(r["k"], r["who"])
           for r in fs.read_snapshot("shared").collect()}
    want = {(w * 1000 + i, f"w{w}")
            for w in range(writers) for i in range(per_writer)}
    assert got == want


def test_concurrent_full_snapshots_commit_distinct_versions(fs, spark):
    """Two overwrite-style writers racing write_snapshot: both commits
    land as distinct versions (last committer is the latest, the other
    remains time-travel readable)."""
    import threading

    a = spark.createDataFrame([(1, "a")], "k long, v string")
    b = spark.createDataFrame([(2, "b")], "k long, v string")
    barrier = threading.Barrier(2)
    out: dict[str, int] = {}
    errs: list[Exception] = []

    def work(tag: str, df) -> None:
        try:
            barrier.wait(timeout=60)
            out[tag] = fs.write_snapshot(df, "race", tag=tag)
        except Exception as exc:
            errs.append(exc)

    ts = [threading.Thread(target=work, args=("a", a)),
          threading.Thread(target=work, args=("b", b))]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=300)
    assert not errs, errs
    assert sorted(out.values()) == [1, 2]
    assert fs.versions("race") == [1, 2]
    # each version reads back as exactly its writer's frame
    for tag, v in out.items():
        rows = fs.read_snapshot("race", version=v).collect()
        assert [r["v"] for r in rows] == [tag]


def test_compact_snapshot_conflict_aborts_without_losing_rows(
        fs, spark, monkeypatch):
    """A compactor whose base version is overtaken mid-rewrite must
    NOT publish (publishing would drop the concurrent append's rows):
    it raises SnapshotConflict, the concurrent commit stays the
    readable latest, and a re-run compacts the new latest cleanly."""
    from distributed_system_mapreduce_spark.sources.filestore import (
        SnapshotConflict,
    )

    fs.write_snapshot(
        spark.createDataFrame([(1, "base")], "k long, v string"), "ds")
    late = spark.createDataFrame([(2, "late")], "k long, v string")

    real = FileStore._write_data_dir

    def racing(self, df, name, version):
        files = real(self, df, name, version)
        # a concurrent appender lands AFTER the rewrite, BEFORE the
        # publish — exactly the window the CAS must catch
        monkeypatch.setattr(FileStore, "_write_data_dir", real)
        fs.append_snapshot(late, "ds")
        return files

    monkeypatch.setattr(FileStore, "_write_data_dir", racing)
    with pytest.raises(SnapshotConflict):
        fs.compact_snapshot("ds")
    # the append survived and is the latest
    got = {r["v"] for r in fs.read_snapshot("ds").collect()}
    assert got == {"base", "late"}
    # re-run compacts the new latest; vacuum reclaims the orphan rewrite
    v = fs.compact_snapshot("ds")
    assert {r["v"] for r in fs.read_snapshot("ds", version=v).collect()} \
        == {"base", "late"}
    fs.vacuum_snapshots("ds", keep_last=1)
    assert {r["v"] for r in fs.read_snapshot("ds").collect()} \
        == {"base", "late"}


def test_crash_mid_commit_leaves_previous_version_readable(fs, spark):
    """A writer that dies AFTER staging its manifest but BEFORE the
    CAS rename: readers still see the old latest, the ledger has no
    half-version, and vacuum reclaims the orphan data files."""
    v1 = fs.write_snapshot(
        spark.createDataFrame([(1, "keep")], "k long, v string"), "ds")
    # simulate the crash: data dir + staged .tmp manifest, no rename
    orphan = fs._write_data_dir(
        spark.createDataFrame([(2, "lost")], "k long, v string"),
        "ds", v1 + 1)
    fs._io.write_text(f"{fs._vdir('ds')}/.v{v1 + 1}-dead.json.tmp",
                      '{"version": 2, "files": []}')
    assert fs.versions("ds") == [v1]           # ledger unpolluted
    got = {r["v"] for r in fs.read_snapshot("ds").collect()}
    assert got == {"keep"}                      # old latest readable
    assert fs.vacuum_snapshots("ds", keep_last=1) == len(orphan)
    # and the NEXT writer commits normally over the debris
    v2 = fs.write_snapshot(
        spark.createDataFrame([(3, "next")], "k long, v string"), "ds")
    assert v2 == v1 + 1
    assert {r["v"] for r in fs.read_snapshot("ds").collect()} == {"next"}


def test_snapshot_schema_evolution_merged_and_versioned(fs, spark):
    """Additive evolution: an append introduces a new column without
    rewriting v1's files. merge_schema=True reads the union (NULLs
    for pre-evolution files); the OLD version still reads with its
    own narrower schema — evolution never touches committed data."""
    v1 = fs.write_snapshot(
        spark.createDataFrame([(1, 10.0), (2, 20.0)],
                              "k long, val double"), "evo")
    fs.append_snapshot(
        spark.createDataFrame([(3, 30.0, "x")],
                              "k long, val double, tag string"), "evo")
    merged = fs.read_snapshot("evo", merge_schema=True)
    assert set(merged.columns) == {"k", "val", "tag"}
    rows = {r["k"]: r["tag"] for r in merged.collect()}
    assert rows == {1: None, 2: None, 3: "x"}
    old = fs.read_snapshot("evo", version=v1)
    assert set(old.columns) == {"k", "val"}
    assert old.count() == 2


def test_concurrent_appends_survive_on_hadoop_backend(spark, tmp_path):
    """The CAS commit holds on the Hadoop IO path too (file:// routes
    every namespace op through the JVM FileSystem client — the
    cluster posture): two barrier-raced appenders, all versions
    survive."""
    import threading

    fs = FileStore(spark, f"file://{tmp_path}/hcas")
    frames = [
        spark.createDataFrame([(w, f"w{w}")], "k long, who string")
        for w in range(2)
    ]
    barrier = threading.Barrier(2)
    errs: list[Exception] = []

    def work(w: int) -> None:
        try:
            barrier.wait(timeout=60)
            fs.append_snapshot(frames[w], "shared")
        except Exception as exc:
            errs.append(exc)

    ts = [threading.Thread(target=work, args=(w,)) for w in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=300)
    assert not errs, errs
    assert fs.versions("shared") == [1, 2]
    got = {(r["k"], r["who"]) for r in fs.read_snapshot("shared").collect()}
    assert got == {(0, "w0"), (1, "w1")}


def test_concurrent_merges_serialize_and_both_land(fs, spark):
    """Two mergers racing one keyed dataset (the in-place rewrite the
    CAS can't protect): the advisory write lock serializes them and
    BOTH deltas land — the SDFS write-lock behavior, not the old
    single-writer caveat."""
    import threading

    base = spark.createDataFrame(
        [(k, 0.0) for k in range(20)], "k long, v double")
    fs.write_keyed(base, "kd", "k", n_buckets=4)
    deltas = [
        spark.createDataFrame([(w, 1.0 + w)], "k long, v double")
        for w in (3, 7)
    ]
    barrier = threading.Barrier(2)
    errs: list[Exception] = []

    def work(df) -> None:
        try:
            barrier.wait(timeout=60)
            fs.merge(df, "kd", "k")
        except Exception as exc:
            errs.append(exc)

    ts = [threading.Thread(target=work, args=(d,)) for d in deltas]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=300)
    assert not errs, errs
    got = {r["k"]: r["v"] for r in fs.read("kd").collect()}
    assert got[3] == 4.0 and got[7] == 8.0      # both deltas applied
    assert len(got) == 20                        # nothing lost


def test_write_lock_timeout_and_stale_reclaim(fs, spark):
    """A live holder blocks a second writer until timeout; a crashed
    holder's lock (stale ts) is reclaimed and the writer proceeds."""
    import json
    import time

    import pytest as _pytest

    with fs.write_lock("busy"):
        with _pytest.raises(TimeoutError):
            with fs.write_lock("busy", timeout_sec=0.3):
                pass
    # crashed holder: lock file with an ancient timestamp
    fs._io.write_text(fs._lock_path("dead"), json.dumps(
        {"pid": 1, "ts": time.time() - 10_000}))
    with fs.write_lock("dead", stale_sec=600.0):
        pass  # acquired by reclaiming the stale lock


# ------------------------------------------------------------------
# Object-store posture: a backend whose rename_noreplace SILENTLY
# REPLACES (S3 without conditional put). FileStore must detect it
# (atomic_cas False) and serialize ledger commits behind the
# advisory lock; the lock itself must arbitrate by token readback.
# ------------------------------------------------------------------


def _make_noncas_fs(spark, tmp_path):
    from distributed_system_mapreduce_spark.sources.filestore import (
        _LocalIO,
    )

    class _ReplaceOnRenameIO(_LocalIO):
        """The S3 failure mode: 'rename' is copy-over — it replaces an
        existing destination without erroring, so exists()+rename is a
        TOCTOU, not a CAS."""

        atomic_cas = False

        def rename_noreplace(self, src: str, dst: str) -> None:
            os.replace(src, dst)

    fs = FileStore(spark, str(tmp_path / "s3ish"))
    fs._io = _ReplaceOnRenameIO(spark, fs.root)
    return fs


def test_snapshot_commits_survive_replace_on_rename_backend(
        spark, tmp_path):
    """Two racing snapshot appenders on a backend with NO atomic
    create-if-absent: both commits land (or one cleanly retries onto
    the next version) because _publish serializes behind the advisory
    ledger lock — no manifest is silently overwritten and no rows
    vanish."""
    import threading

    fs = _make_noncas_fs(spark, tmp_path)
    frames = [
        spark.createDataFrame([(w, f"w{w}")], "k long, who string")
        for w in range(2)
    ]
    barrier = threading.Barrier(2)
    errs: list[Exception] = []

    def work(w: int) -> None:
        try:
            barrier.wait(timeout=60)
            fs.append_snapshot(frames[w], "shared")
        except Exception as exc:
            errs.append(exc)

    ts = [threading.Thread(target=work, args=(w,)) for w in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=300)
    assert not errs, errs
    assert fs.versions("shared") == [1, 2]
    got = {(r["k"], r["who"]) for r in fs.read_snapshot("shared").collect()}
    assert got == {(0, "w0"), (1, "w1")}


def test_noncas_write_lock_mutual_exclusion(spark, tmp_path):
    """On the replace-on-rename backend the lock CAS can be silently
    overwritten, so ownership is arbitrated by token readback: racing
    acquirers never overlap inside the critical section."""
    import threading
    import time

    fs = _make_noncas_fs(spark, tmp_path)
    guard = threading.Lock()
    active: list[int] = []
    overlaps: list[int] = []
    errs: list[Exception] = []

    def work(i: int) -> None:
        try:
            with fs.write_lock("mx", timeout_sec=60.0):
                with guard:
                    if active:
                        overlaps.append(i)
                    active.append(i)
                time.sleep(0.15)
                with guard:
                    active.remove(i)
        except Exception as exc:
            errs.append(exc)

    ts = [threading.Thread(target=work, args=(i,)) for i in range(4)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=120)
    assert not errs, errs
    assert not overlaps, f"lock holders overlapped: {overlaps}"


def test_stale_reclaim_single_winner_no_fresh_lock_deleted(fs, spark):
    """N waiters racing one stale lock: reclaim moves the lock aside
    (source-arbitrated, exactly one mover wins), so a delayed waiter
    can never delete the FRESH lock the winner CAS'd — all N proceed
    strictly sequentially."""
    import json
    import threading
    import time

    fs._io.write_text(fs._lock_path("stale"), json.dumps(
        {"pid": 1, "token": "crashed", "ts": time.time() - 10_000}))
    guard = threading.Lock()
    active: list[int] = []
    overlaps: list[int] = []
    errs: list[Exception] = []

    def work(i: int) -> None:
        try:
            with fs.write_lock("stale", timeout_sec=60.0):
                with guard:
                    if active:
                        overlaps.append(i)
                    active.append(i)
                time.sleep(0.1)
                with guard:
                    active.remove(i)
        except Exception as exc:
            errs.append(exc)

    ts = [threading.Thread(target=work, args=(i,)) for i in range(4)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=120)
    assert not errs, errs
    assert not overlaps, f"reclaim raced into overlap: {overlaps}"


def test_release_after_reclaim_raises_locklost_not_delete(fs, spark):
    """A holder that stalled past stale_sec (renewal never ran — the
    crashed-or-suspended case) and got reclaimed must NOT delete the
    reclaimer's live lock on release: token verification raises
    LockLost and the new holder's lock survives."""
    import json
    import time

    from distributed_system_mapreduce_spark.sources.filestore import (
        LockLost,
    )

    # A acquires via the private API (no renewal thread), then stalls
    token_a = fs._acquire_lock("rl", timeout_sec=5.0, stale_sec=0.2)
    time.sleep(0.4)
    # B reclaims the now-stale lock
    token_b = fs._acquire_lock("rl", timeout_sec=5.0, stale_sec=0.2)
    assert token_a != token_b
    # A's release must refuse to touch B's live lock
    with pytest.raises(LockLost):
        fs._release_lock("rl", token_a, False)
    body = json.loads(fs._io.read_text(fs._lock_path("rl")))
    assert body["token"] == token_b  # B's lock untouched
    fs._release_lock("rl", token_b, False)  # B releases cleanly
    assert not fs._io.exists(fs._lock_path("rl"))


def test_lease_renewal_prevents_stale_reclaim_of_long_holder(fs, spark):
    """A holder running LONGER than stale_sec keeps the lock: the
    renewal thread refreshes ts every stale_sec/3, so a waiter sees a
    live (never stale) lock and times out instead of reclaiming —
    long merges are not silently reclaimed mid-write."""
    import threading
    import time

    t0 = time.monotonic()
    waiter_result: list[str] = []

    def waiter() -> None:
        time.sleep(0.2)  # let the holder acquire first
        try:
            with fs.write_lock("long", timeout_sec=1.5, stale_sec=1.0):
                waiter_result.append("acquired")
        except TimeoutError:
            waiter_result.append("timeout")

    w = threading.Thread(target=waiter)
    with fs.write_lock("long", stale_sec=1.0):
        w.start()
        time.sleep(2.5)  # hold well past stale_sec
    w.join(timeout=30)
    assert waiter_result == ["timeout"], waiter_result
    assert time.monotonic() - t0 >= 2.5
    # after release the dataset is lockable again immediately
    with fs.write_lock("long", timeout_sec=5.0):
        pass


def test_file_scheme_cas_is_atomic_under_race(spark, tmp_path):
    """file:// rename_noreplace rides link(2) (RawLocalFileSystem's
    rename would silently replace): 8 threads racing unique sources
    onto ONE destination — exactly one wins, content is the winner's."""
    import threading

    fs = FileStore(spark, f"file://{tmp_path}/atomic")
    io = fs._io
    n = 8
    for i in range(n):
        io.write_text(fs._path(f"src{i}.tmp"), f"writer-{i}")
    barrier = threading.Barrier(n)
    wins: list[int] = []
    errs: list[Exception] = []

    def work(i: int) -> None:
        try:
            barrier.wait(timeout=60)
            io.rename_noreplace(fs._path(f"src{i}.tmp"), fs._path("dst"))
            wins.append(i)
        except FileExistsError:
            pass
        except Exception as exc:
            errs.append(exc)

    ts = [threading.Thread(target=work, args=(i,)) for i in range(n)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=60)
    assert not errs, errs
    assert len(wins) == 1, f"CAS let {len(wins)} writers win: {wins}"
    assert io.read_text(fs._path("dst")) == f"writer-{wins[0]}"


def test_fence_blocks_overtaken_merge_publish(fs, spark):
    """The r7 advisory-lock hole: a holder whose renewal stalled past
    stale_sec used to detect the reclaim only at RELEASE — after its
    merge had already rewritten buckets over the new holder's work.
    The data-path fence (called in _merge_unlocked immediately before
    the dynamic-overwrite publish) must abort the overtaken writer
    BEFORE it touches the dataset."""
    import threading
    import time

    from distributed_system_mapreduce_spark.sources.filestore import (
        LockLost,
        _LockHandle,
    )

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    fs.write_keyed(base, "fenced", "k", n_buckets=4)

    # writer A acquires (no renewal thread — the stalled-daemon case)
    token_a = fs._acquire_lock("fenced", timeout_sec=5.0, stale_sec=0.2)
    handle_a = _LockHandle(fs, "fenced", token_a, threading.Event())
    time.sleep(0.4)  # A stalls past stale_sec
    # writer B reclaims and now legitimately holds the lock
    token_b = fs._acquire_lock("fenced", timeout_sec=5.0, stale_sec=0.2)
    assert token_a != token_b

    changes = spark.createDataFrame([(2, "CLOBBER")], "k int, v string")
    with pytest.raises(LockLost):
        fs._merge_unlocked(changes, "fenced", "k", fence=handle_a.fence)
    # the publish never happened: dataset content is untouched
    got = sorted(
        (r["k"], r["v"])
        for r in fs.read("fenced").select("k", "v").collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    # and B's lock survives for B to use
    fs._release_lock("fenced", token_b, False)


def test_fence_blocks_overtaken_compact_swap(fs, spark):
    """Same hole on the compaction path: the staged copy may complete,
    but the fence before the two-rename swap must stop an overtaken
    compactor from swapping its (now possibly stale) staging over the
    live dataset."""
    import threading
    import time

    from distributed_system_mapreduce_spark.sources.filestore import (
        LockLost,
        _LockHandle,
    )

    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    fs.write(df, "fcomp")
    before = sorted(r["id"] for r in fs.read("fcomp").collect())

    token_a = fs._acquire_lock("fcomp", timeout_sec=5.0, stale_sec=0.2)
    handle_a = _LockHandle(fs, "fcomp", token_a, threading.Event())
    time.sleep(0.4)
    token_b = fs._acquire_lock("fcomp", timeout_sec=5.0, stale_sec=0.2)

    with pytest.raises(LockLost):
        fs._compact_unlocked("fcomp", fence=handle_a.fence)
    # live dataset untouched and fully readable
    after = sorted(r["id"] for r in fs.read("fcomp").collect())
    assert after == before
    fs._release_lock("fcomp", token_b, False)
    # a later healthy compaction clears the abandoned staging and works
    n = fs.compact("fcomp", target_bytes=1 << 30)
    assert n == 1
    assert sorted(r["id"] for r in fs.read("fcomp").collect()) == before


def test_fence_passes_while_held_and_trips_lost_flag(fs, spark):
    """fence() is a no-op for a healthy holder (write_keyed/merge call
    it on every commit) and trips immediately when the renewal daemon
    has already flagged the loss."""
    import threading

    from distributed_system_mapreduce_spark.sources.filestore import (
        LockLost,
        _LockHandle,
    )

    with fs.write_lock("healthy") as lk:
        lk.fence()  # healthy: must not raise
    lost = threading.Event()
    lost.set()
    h = _LockHandle(fs, "whatever", "tok", lost)
    with pytest.raises(LockLost):
        h.fence()
