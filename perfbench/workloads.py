"""The workloads' operation sequences.

A workload is run closed-loop by one client: ``round(r)`` returns the
next fixed sequence of operations and each one runs only after the
previous one returned. An operation has a ``build`` step (the call that
plans it, or runs it when the call is eager) and an ``execute`` step
that materialises the result the user sees. ``expect`` computes the
correct result with DuckDB; it is only called after the timed region.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
from collections.abc import Callable

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import check


@dataclasses.dataclass
class Op:
    name: str
    kind: str  # "write" or "read"
    build: Callable[[], object]
    execute: Callable[[object], pa.Table | None]
    expect: Callable[[], pa.Table] | None = None
    project: Callable[[pa.Table], pa.Table] = lambda t: t


def _collect(df) -> pa.Table:
    return df.toArrow()


class MapReduce:
    """The registered MapleJuice engine jobs, one after another. As in
    the paper's ``juice ... <dest>``, each job writes its output into
    the FileStore (a write); the client then fetches it, and looks one
    word up in each word count (reads).

    ``mr_wordcount_exe`` starts one process per key and would take most
    of a round; its maple_exe/juice_exe phases are timed by the traced
    run's MapleJuice probe instead."""

    JOBS = ("mr_wordcount", "mr_wordcount_range", "mr_vote_winner")
    MIN_ROUNDS = 3
    WORD_COUNTS = ("mr_wordcount", "mr_wordcount_range")

    def __init__(self, spark, data: str, work: str):
        from distributed_system_mapreduce_spark.registry import QUERIES

        self.spark, self.work = spark, work
        self.corpus = os.path.join(data, "corpus")
        self.queries = QUERIES
        self._oracle: dict[str, pa.Table] = {}

    def setup(self) -> None:
        from distributed_system_mapreduce_spark.sources.filestore import (
            FileStore,
        )

        self.fs = FileStore(self.spark, os.path.join(self.work, "store"))

    def expected(self, job: str) -> pa.Table:
        from distributed_system_mapreduce_spark.registry import ORACLES

        if job not in self._oracle:
            self._oracle[job] = check.oracle(ORACLES[job], self.corpus)
        return self._oracle[job]

    def round(self, r: int) -> list[Op]:
        from pyspark.sql import functions as F

        # the word a client looks up in each word count: a different
        # token of the first document every round
        first = pq.read_table(self.corpus + "/documents.parquet",
                              columns=["text"]).column("text")[0].as_py()
        words = first.split()
        word = words[r % len(words)]
        ops = []
        for job in self.JOBS:
            dest = f"{job}_out"
            ops += [
                Op(job, "write",
                   lambda job=job: self.queries[job](self.spark, self.corpus),
                   lambda df, dest=dest: self.fs.write(df, dest)),
                Op(f"get_{job}", "read",
                   lambda dest=dest: self.fs.read(dest), _collect,
                   expect=lambda job=job: self.expected(job)),
            ]
            if job in self.WORD_COUNTS:
                ops.append(Op(
                    f"lookup_{job}", "read",
                    lambda dest=dest: self.fs.read(dest).where(
                        F.col("word") == word), _collect,
                    expect=lambda job=job: self.expected(job).filter(
                        pc.equal(self.expected(job).column("word"), word))))
        return ops

    def final_checks(self) -> list[tuple[str, str | None]]:
        return []


class Ingest:
    """Rounds of writes beside reads on one growing dataset.

    Round r delivers batch directory ``feed/bNNN`` (outside the timed
    region), then: from round 1 on, compacts and vacuums the snapshot
    table; drains the feed into the keyed table (CDC merge) and into
    the snapshot table (one append per micro-batch); reads one user
    from the keyed table, aggregates the latest snapshot, and diffs the
    last two snapshot versions. Maintenance runs every round so that
    every warm round is the same operation mix.
    """

    MIN_ROUNDS = 4

    def __init__(self, spark, data: str, work: str):
        self.spark, self.work = spark, work
        self.batches = sorted(
            os.path.join(data, "feed", d, "events.parquet")
            for d in os.listdir(os.path.join(data, "feed")))
        self.live = os.path.join(work, "feed")
        self.delivered_bytes = 0

    def setup(self) -> None:
        from distributed_system_mapreduce_spark.sources.filestore import (
            FileStore,
        )

        self.fs = FileStore(self.spark, os.path.join(self.work, "store"))
        self.fs.write_keyed(self.spark.createDataFrame(
            [], "user_id long, current_value double, last_ts timestamp"),
            "keyed", key="user_id")

    def _deliver(self, r: int) -> None:
        dst = os.path.join(self.live, f"b{r:03d}")
        os.makedirs(dst)
        shutil.copy(self.batches[r], os.path.join(dst, "events.parquet"))
        self.delivered_bytes += os.path.getsize(self.batches[r])

    def _drain(self, sink, name: str, checkpoint: str):
        from distributed_system_mapreduce_spark.streaming.jobs import (
            read_events_stream,
        )

        return sink(read_events_stream(self.spark, self.live + "/b*"),
                    self.fs, name, os.path.join(self.work, checkpoint))

    def round(self, r: int) -> list[Op] | None:
        from pyspark.sql import functions as F

        from distributed_system_mapreduce_spark.streaming.jobs import (
            cdc_stream_to_filestore,
            snapshot_sink_stream,
        )

        if r >= len(self.batches):
            return None
        self._deliver(r)
        done = self.batches[:r + 1]
        batch = pq.read_table(self.batches[r], columns=["user_id"])
        user = int(pc.mode(batch.column("user_id"))[0]["mode"].as_py())
        fs = self.fs
        ops = []
        if r > 0:
            ops += [
                Op("compact_snapshot", "write",
                   lambda: fs.compact_snapshot("snap"), lambda _: None),
                Op("vacuum_snapshots", "write",
                   lambda: fs.vacuum_snapshots("snap", keep_last=1),
                   lambda _: None),
            ]
        ops += [
            Op("cdc_drain", "write",
               lambda: self._drain(cdc_stream_to_filestore, "keyed", "ck_cdc"),
               lambda _: None),
            Op("snapshot_drain", "write",
               lambda: self._drain(snapshot_sink_stream, "snap", "ck_snap"),
               lambda _: None),
            Op("read_user", "read",
               lambda: fs.read("keyed").where(F.col("user_id") == user)
               .select("user_id", "current_value", "last_ts"),
               _collect, expect=lambda: check.lww_state(done, user),
               project=check.keyed_rows),
            Op("read_latest", "read",
               lambda: fs.read_snapshot("snap").groupBy("event_type")
               .agg(F.count(F.lit(1)).alias("n")),
               _collect, expect=lambda: check.type_counts(done)),
        ]
        if r > 0:
            n_new = pq.read_metadata(self.batches[r]).num_rows

            def diff():
                old, new = fs.versions("snap")[-2:]
                return fs.snapshot_diff("snap", old, new, "event_id") \
                    .groupBy("op").agg(F.count(F.lit(1)).alias("n"))

            ops.append(Op("snapshot_diff", "read", diff, _collect,
                          expect=lambda: pa.table({
                              "op": ["added"],
                              "n": pa.array([n_new], pa.int64())})))
        return ops

    def delivered(self) -> list[str]:
        return [b for i, b in enumerate(self.batches)
                if os.path.exists(os.path.join(self.live, f"b{i:03d}"))]

    def final_checks(self) -> list[tuple[str, str | None]]:
        """The whole keyed table against last-writer-wins over every
        delivered batch."""
        got = check.keyed_rows(self.fs.read("keyed").select(
            "user_id", "current_value", "last_ts").toArrow())
        return [("keyed_table", check.mismatch(
            got, check.lww_state(self.delivered())))]


WORKLOADS = {"mapreduce": MapReduce, "ingest": Ingest}
