"""FileStore — SDFS-parity dataset catalog.

The reference's SDFS (file_system/file_system.go) gives a flat
namespace with put/get/delete/ls/store plus 4-way replication,
distributed locks, and re-replication on failure. On Spark the
durability/replication concerns belong to the storage layer (HDFS
replication / S3), and consistency to the commit protocol — so this
layer keeps the *user-facing surface* (the five commands) and maps
storage to a directory of datasets in any Spark-readable format.

put/get move whole files like the reference; read()/write() expose the
same namespace as DataFrames so stored datasets are directly queryable
(the reference's maple jobs always started by `get`-ing the file —
here the scan IS the get, with predicate pushdown instead of a full
copy).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from distributed_system_mapreduce_spark.lineage import cut, cut_deep

_FORMATS = ("parquet", "orc", "csv", "json", "text")
# target file size of small-file compaction
COMPACT_BYTES = 128 << 20


class LockLost(RuntimeError):
    """An advisory write lock was reclaimed while its holder still
    believed it held it (the holder stalled past stale_sec without a
    lease renewal). Raised by the data-path fencing check before a
    critical section publishes (so an overtaken writer cannot land
    its result over the new holder's) and again at release instead
    of deleting the reclaimer's live lock: any part of the critical
    section that DID race the new holder must surface, not pass
    silently."""


class _LockHandle:
    """Fencing handle yielded by FileStore.write_lock.

    ``fence()`` re-verifies the holder token on the lock file and
    raises LockLost if this holder has been overtaken — the standard
    fencing check (Chubby/ZooKeeper sequencers; the reference's
    universal write lock, file_system.go:279, gets the same property
    from its always-connected server). Call it IMMEDIATELY before a
    critical section's publish step (staged-swap rename, dynamic
    partition overwrite, ledger rename): a holder whose renewal
    daemon stalled past stale_sec then aborts BEFORE damaging the
    new holder's data instead of discovering the loss at release,
    after the damage. The residual window is one read-to-publish
    gap, the minimum an advisory scheme without storage-side
    conditional writes can offer."""

    def __init__(self, store: "FileStore", name: str, token: str, lost):
        self._store = store
        self._name = name
        self._token = token
        self._lost = lost

    def fence(self) -> None:
        import json
        import time

        if self._lost.is_set():
            raise LockLost(
                f"write lock on {self._name!r} was reclaimed while "
                "held (renewal daemon observed a foreign token) — "
                "aborting before publish")
        lock = self._store._lock_path(self._name)
        body = None
        # the renewal daemon rewrites the lock file concurrently; an
        # unreadable/mid-write body is transient, so retry briefly
        # before declaring the lock lost (conservative: a still-
        # unreadable lock aborts the publish rather than risking a
        # race with a possible new holder)
        for _ in range(5):
            try:
                body = json.loads(self._store._io.read_text(lock))
                break
            except Exception:
                time.sleep(0.02)
        if body is None or body.get("token") != self._token:
            raise LockLost(
                f"write lock on {self._name!r} was reclaimed while "
                f"held (current holder: {body}) — aborting before "
                "publish; this writer stalled past stale_sec without "
                "a lease renewal")


class SnapshotConflict(RuntimeError):
    """A concurrent writer committed a version this operation's result
    was NOT derived from (e.g. an append landed while a compaction was
    rewriting the previous latest). Publishing anyway would silently
    drop the other writer's rows, so the operation aborts cleanly —
    the dataset is untouched, the orphan data dir is reclaimed by
    vacuum_snapshots, and the caller re-runs against the new latest."""


class _LocalIO:
    """os/shutil fast path for plain local roots."""

    # link(2) gives a true atomic create-if-absent, so the CAS commit
    # protocol holds without any external lock
    atomic_cas = True

    def __init__(self, spark: SparkSession, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def exists(self, p: str) -> bool:
        return os.path.exists(p)

    def delete(self, p: str) -> None:
        if os.path.isdir(p):
            shutil.rmtree(p)
        elif os.path.exists(p):
            os.remove(p)

    def put(self, local_path: str, dst: str) -> None:
        if os.path.isdir(local_path):
            shutil.copytree(local_path, dst, dirs_exist_ok=True)
        else:
            shutil.copy2(local_path, dst)

    def get(self, src: str, local_path: str) -> None:
        if os.path.isdir(src):
            shutil.copytree(src, local_path, dirs_exist_ok=True)
        else:
            shutil.copy2(src, local_path)

    def ls_files(self, p: str) -> list[str]:
        if os.path.isfile(p):
            return [p]
        return sorted(
            os.path.join(dp, f)
            for dp, _, fs in os.walk(p)
            for f in fs
            if not f.startswith(("_", "."))
        )

    def ls_dirs(self, p: str) -> list[str]:
        if not os.path.isdir(p):
            return []
        return sorted(
            os.path.join(p, d) for d in os.listdir(p)
            if os.path.isdir(os.path.join(p, d))
        )

    def list_names(self) -> list[str]:
        return sorted(
            n for n in os.listdir(self.root) if not n.startswith(".")
        )

    def rename(self, src: str, dst: str) -> None:
        os.rename(src, dst)

    def rename_noreplace(self, src: str, dst: str) -> None:
        # atomic create-if-absent: link(2) fails with EEXIST when dst
        # exists (POSIX), unlike rename(2) which silently replaces —
        # this is the CAS the optimistic version commit rides on
        os.link(src, dst)
        os.unlink(src)

    def move_unique(self, src: str, dst: str) -> None:
        # atomic move to a caller-unique destination, arbitrated on
        # the SOURCE: rename(2) of a vanished src raises FileNotFound,
        # so of N concurrent movers exactly one wins (the stale-lock
        # reclaim primitive — dst uniqueness is the caller's job)
        os.rename(src, dst)

    def file_sizes(self, p: str) -> list[int]:
        return [os.path.getsize(f) for f in self.ls_files(p)]

    def read_text(self, p: str) -> str:
        with open(p) as f:
            return f.read()

    def write_text(self, p: str, content: str) -> None:
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w") as f:
            f.write(content)


class _HadoopIO:
    """Hadoop FileSystem path for URI roots (hdfs://, s3a://, file://
    ...): same surface as _LocalIO, through the JVM gateway's
    `Path.getFileSystem(hadoopConf)` — the exact client Spark's own
    readers/writers use, so whatever filesystems the cluster's
    Hadoop conf can reach, the FileStore namespace can too. (The
    file:// scheme exercises this code path in local tests.)"""

    # Schemes whose namespace gives a REAL create-if-absent CAS:
    # file:// rides the local os.link path below; the HDFS family's
    # rename is a namenode metadata op that FAILS when dst exists.
    # Everything else (s3a/gs/abfs/... object stores without
    # conditional put wired through the Hadoop client) is exists()+
    # rename — NOT atomic — so atomic_cas is False and FileStore
    # serializes ledger commits behind the advisory write lock
    # instead (the reference's universal write-lock posture,
    # file_system.go:279).
    _CAS_SCHEMES = ("file", "hdfs", "viewfs", "webhdfs", "swebhdfs")

    def __init__(self, spark: SparkSession, root: str):
        self.root = root
        self._scheme = root.split("://", 1)[0].lower()
        self.atomic_cas = self._scheme in self._CAS_SCHEMES
        jvm = spark._jvm
        self._Path = jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(root).getFileSystem(
            spark._jsc.hadoopConfiguration())
        self._jvm = jvm
        self._fs.mkdirs(self._Path(root))

    @staticmethod
    def _local(p: str) -> str:
        """file:// URI -> local filesystem path (for the os.link CAS)."""
        from urllib.parse import urlparse

        return urlparse(p).path

    def exists(self, p: str) -> bool:
        return self._fs.exists(self._Path(p))

    def delete(self, p: str) -> None:
        self._fs.delete(self._Path(p), True)

    def put(self, local_path: str, dst: str) -> None:
        # Hadoop's copyFromLocalFile NESTS a dir under an existing dst
        # dir (checkDest semantics) where _LocalIO's copytree MERGES —
        # walk and copy per file so both backends present the same
        # namespace surface
        if os.path.isdir(local_path):
            for dp, _, files in os.walk(local_path):
                rel = os.path.relpath(dp, local_path)
                base = dst if rel == "." else (
                    dst + "/" + rel.replace(os.sep, "/"))
                self._fs.mkdirs(self._Path(base))
                for f in files:
                    self._fs.copyFromLocalFile(
                        False, True, self._Path(os.path.join(dp, f)),
                        self._Path(base + "/" + f))
        else:
            # delSrc=False, overwrite=True
            self._fs.copyFromLocalFile(False, True, self._Path(local_path),
                                       self._Path(dst))

    def get(self, src: str, local_path: str) -> None:
        st = self._fs.getFileStatus(self._Path(src))
        if st.isFile():
            self._fs.copyToLocalFile(False, self._Path(src),
                                     self._Path(local_path), True)
            return
        # dir: merge-copy per file (copyToLocalFile would nest under
        # an existing local dir), preserving relative layout
        src_uri = st.getPath().toString()
        os.makedirs(local_path, exist_ok=True)
        it = self._fs.listFiles(self._Path(src), True)
        while it.hasNext():
            f = it.next().getPath()
            rel = f.toString()[len(src_uri):].lstrip("/")
            dst = os.path.join(local_path, *rel.split("/"))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            self._fs.copyToLocalFile(False, f, self._Path(dst), True)

    def ls_files(self, p: str) -> list[str]:
        st = self._fs.getFileStatus(self._Path(p))
        if st.isFile():
            return [st.getPath().toString()]
        out = []
        it = self._fs.listFiles(self._Path(p), True)
        while it.hasNext():
            f = it.next().getPath()
            if not f.getName().startswith(("_", ".")):
                out.append(f.toString())
        return sorted(out)

    def ls_dirs(self, p: str) -> list[str]:
        if not self.exists(p):
            return []
        return sorted(
            s.getPath().toString()
            for s in self._fs.listStatus(self._Path(p))
            if s.isDirectory()
        )

    def list_names(self) -> list[str]:
        return sorted(
            s.getPath().getName()
            for s in self._fs.listStatus(self._Path(self.root))
            if not s.getPath().getName().startswith(".")
        )

    def rename(self, src: str, dst: str) -> None:
        if not self._fs.rename(self._Path(src), self._Path(dst)):
            raise OSError(f"rename failed: {src} -> {dst}")

    def rename_noreplace(self, src: str, dst: str) -> None:
        # file://: RawLocalFileSystem's rename is File.renameTo ->
        # POSIX rename(2), which SILENTLY REPLACES dst — an exists()
        # precheck is a TOCTOU, not a CAS. Route through link(2) on
        # the underlying local paths instead (true atomic
        # create-if-absent, same primitive as _LocalIO).
        if self._scheme == "file":
            os.link(self._local(src), self._local(dst))
            os.unlink(self._local(src))
            return
        # HDFS family: rename is a namenode metadata op that FAILS
        # (returns false) when dst exists — a real CAS; the precheck
        # is only a fast-path. Object stores without conditional put:
        # this exists()+rename is best-effort ONLY (atomic_cas is
        # False) and FileStore wraps the commit in the advisory write
        # lock — the same caveat Delta carries (LogStore
        # per-filesystem).
        if self._fs.exists(self._Path(dst)):
            raise FileExistsError(dst)
        if not self._fs.rename(self._Path(src), self._Path(dst)):
            if self._fs.exists(self._Path(dst)):
                raise FileExistsError(dst)  # lost the race post-check
            raise OSError(f"rename failed: {src} -> {dst}")

    def move_unique(self, src: str, dst: str) -> None:
        # atomic move to a caller-unique destination, arbitrated on
        # the source (see _LocalIO.move_unique)
        if self._scheme == "file":
            os.rename(self._local(src), self._local(dst))
            return
        if not self._fs.rename(self._Path(src), self._Path(dst)):
            if not self._fs.exists(self._Path(src)):
                raise FileNotFoundError(src)
            raise OSError(f"rename failed: {src} -> {dst}")

    def file_sizes(self, p: str) -> list[int]:
        # derive from ls_files so the data-file filter lives once
        return [self._fs.getFileStatus(self._Path(f)).getLen()
                for f in self.ls_files(p)]

    def read_text(self, p: str) -> str:
        stream = self._fs.open(self._Path(p))
        try:
            reader = self._jvm.java.io.BufferedReader(
                self._jvm.java.io.InputStreamReader(stream))
            lines = []
            while True:
                ln = reader.readLine()
                if ln is None:
                    break
                lines.append(ln)
            return "\n".join(lines)
        finally:
            stream.close()

    def write_text(self, p: str, content: str) -> None:
        stream = self._fs.create(self._Path(p), True)
        try:
            stream.write(bytearray(content.encode("utf-8")))
        finally:
            stream.close()


@dataclass
class FileStore:
    spark: SparkSession
    root: str
    _io: object = field(init=False, repr=False)

    def __post_init__(self):
        # a scheme'd root (hdfs://, s3a://, file://) routes every
        # namespace operation through the Hadoop FileSystem API — the
        # cluster posture; a bare path keeps the os/shutil fast path
        self._io = (_HadoopIO if "://" in self.root else _LocalIO)(
            self.spark, self.root)

    def _path(self, name: str) -> str:
        # backtick would also break the quoted DROP TABLE in delete()
        if "/" in name or "`" in name or name.startswith("."):
            raise ValueError(f"flat namespace only: {name!r}")
        return self.root.rstrip("/") + "/" + name

    # ------------------------------------------------- file-level parity
    def put(self, local_path: str, name: str) -> None:
        """`put local sdfsname` (run_server.go:273, PutFile:825)."""
        self._io.put(local_path, self._path(name))

    def get(self, name: str, local_path: str) -> None:
        """`get sdfsname local` (GetFile, file_system.go:880)."""
        src = self._path(name)
        if not self._io.exists(src):
            raise FileNotFoundError(name)
        self._io.get(src, local_path)

    def delete(self, name: str) -> None:
        """`delete sdfsname` (DeleteFile, file_system.go:782).

        Also drops any catalog table write_bucketed registered under
        this name — otherwise the session keeps a dangling table entry
        whose path no longer exists and read_table fails confusingly."""
        self._io.delete(self._path(name))
        self.spark.sql(f"DROP TABLE IF EXISTS `{name}`")

    def ls(self, name: str) -> list[str]:
        """`ls file` — reference lists replica holders
        (ListServersWithFile, file_system.go:31); here: the physical
        files backing the dataset (its partitions)."""
        p = self._path(name)
        if not self._io.exists(p):
            return []
        return self._io.ls_files(p)

    def store(self) -> list[str]:
        """`store` — all datasets in the namespace
        (ListFilesOnServer, file_system.go:43)."""
        return self._io.list_names()

    # ---------------------------------------------- DataFrame-level API
    def write(self, df: DataFrame, name: str, fmt: str = "parquet",
              mode: str = "overwrite", partition_by: list[str] | None = None,
              ) -> None:
        if fmt not in _FORMATS:
            raise ValueError(f"fmt must be one of {_FORMATS}")
        w = df.write.format(fmt).mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.save(self._path(name))

    def read(self, name: str, fmt: str = "parquet", **options) -> DataFrame:
        p = self._path(name)
        if not self._io.exists(p):
            raise FileNotFoundError(name)
        return self.spark.read.format(fmt).options(**options).load(p)

    def append(self, df: DataFrame, name: str) -> None:
        """The juice phase's append-to-dest (CreatAppendSdfsReduceFile,
        file_system.go:1035) — an append-mode parquet write."""
        self.write(df, name, mode="append")

    def compact(self, name: str, target_bytes: int = COMPACT_BYTES) -> int:
        """Small-file compaction: rewrite a plain parquet dataset into
        ceil(total_bytes / target_bytes) files and return the new file
        count. Append-heavy feeds (the juice dest pattern above, or
        any streaming sink) accrete files whose per-file open/footer
        cost eventually dominates scans — the classic small-file
        problem; the nightly compactor is how a 100 TB lake keeps its
        scan cost proportional to bytes, not file count.

        The rewrite stages into a sibling temp dataset and swaps via
        two renames: a reader never observes a HALF-WRITTEN directory
        (the staged copy is complete before the swap starts), though
        a reader racing the swap itself can see a brief
        no-such-dataset window — single-writer maintenance windows
        are assumed, like every table-compactor. A crash leaves
        either the old or the staged dataset whole, never a mix;
        stale staging from a crashed run is recovered or cleared on
        the next call. File sizing uses the real on-disk byte total
        (compression included), not row counts.

        Refuses keyed (write_keyed) datasets: their bucket dirs and
        _n_buckets sidecar ARE the layout merge() depends on — for
        those, rewrite via write_keyed, or rely on merge()'s
        bucket-local rewrites staying bucket-sized.

        Serialized behind the dataset's advisory write lock, like
        every in-place rewriter here."""
        with self.write_lock(name) as lk:
            return self._compact_unlocked(name, target_bytes,
                                          fence=lk.fence)

    def _compact_unlocked(self, name: str,
                          target_bytes: int = COMPACT_BYTES,
                          fence=None) -> int:
        import math

        p = self._path(name)
        old = self._path(f"{name}__precompact")
        tmp = self._path(f"{name}__compacting")
        # crash recovery: a previous run that died mid-swap left the
        # data under __precompact (and possibly a complete __compacting)
        if not self._io.exists(p) and self._io.exists(old):
            self._io.rename(old, p)
        if self._io.exists(tmp):
            self._io.delete(tmp)
        if self._io.exists(old):
            self._io.delete(old)
        if not self._io.exists(p):
            raise FileNotFoundError(name)
        if self._io.exists(p + "/_n_buckets"):
            raise ValueError(
                f"{name} is a keyed dataset; compact() would destroy "
                "its bucket layout — use write_keyed to re-lay it out")
        total = sum(self._io.file_sizes(p))
        n_files = max(1, math.ceil(total / target_bytes))
        (
            self.spark.read.parquet(p)
            .repartition(n_files)
            .write.format("parquet").mode("overwrite").save(tmp)
        )
        # fencing check on the data path: the staged copy is complete;
        # verify this writer still holds the lock BEFORE the swap
        # starts (an overtaken compactor must abort here, leaving the
        # live dataset untouched — the staged tmp is cleared by the
        # next run's recovery)
        if fence is not None:
            fence()
        self._io.rename(p, old)
        try:
            self._io.rename(tmp, p)
        except Exception:
            self._io.rename(old, p)  # roll back, keep data readable
            raise
        self._io.delete(old)
        return len([f for f in self._io.ls_files(p)
                    if f.endswith(".parquet")])

    def write_bucketed(self, df: DataFrame, name: str, key: str,
                       n_buckets: int = 8) -> None:
        """Bucketed + sorted-by-key layout: repeated joins/aggs on
        `key` skip their shuffle entirely (both sides pre-hashed into
        matching buckets). This is the storage-level answer to the
        reference's hash-Shuffle — paid once at write time instead of
        per job. Registered in the session catalog (bucketed reads go
        through the table, not the path)."""
        (
            df.write.format("parquet").mode("overwrite")
            .bucketBy(n_buckets, key).sortBy(key)
            .option("path", self._path(name))
            .saveAsTable(name)
        )

    def read_table(self, name: str) -> DataFrame:
        """Catalog read — required for bucketed datasets (a raw path
        read loses bucket metadata)."""
        return self.spark.table(name)

    # ----------------------------------- data skipping: z-order + manifest
    def write_zorder(self, df: DataFrame, name: str, col_a: str,
                     col_b: str, n_files: int = 32,
                     bits: int = 16) -> None:
        """Z-order (Morton-curve) layout over two integer dimensions:
        interleave the low `bits` bits of both columns and range-
        partition on the curve position, so each output file covers a
        small RECTANGLE in (a, b) space instead of a thin slice of one
        dimension. With per-file min/max stats (see manifest()), box
        predicates on EITHER OR BOTH columns then skip most files —
        the multi-dimensional clustering trick behind Delta/Iceberg
        OPTIMIZE ZORDER, built from plain Spark: a bit-twiddling
        expression + repartitionByRange + parquet.

        Values are clamped into [0, 2^bits) rank space by pmod — for
        real workloads rank-transform first (z-order needs bounded
        ints, not raw keys)."""
        from pyspark.sql import functions as F

        a = F.pmod(F.col(col_a).cast("long"), 1 << bits)
        b = F.pmod(F.col(col_b).cast("long"), 1 << bits)
        z = None
        for i in range(bits):
            ta = F.shiftleft(F.shiftright(a, i).bitwiseAND(1), 2 * i)
            tb = F.shiftleft(F.shiftright(b, i).bitwiseAND(1), 2 * i + 1)
            z = ta.bitwiseOR(tb) if z is None else z.bitwiseOR(ta).bitwiseOR(tb)
        (
            df.withColumn("_z", z)
            .repartitionByRange(n_files, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
            .write.format("parquet").mode("overwrite")
            .save(self._path(name))
        )

    def manifest(self, name: str, cols: list[str]) -> DataFrame:
        """Per-file min/max stats for `cols` — the data-skipping index
        (what a lakehouse table format keeps in its metadata layer).
        One scan computes it; persisted as `<name>__manifest` so
        read_pruned() plans from the manifest without touching data."""
        from pyspark.sql import functions as F

        df = self.read(name).withColumn("_f", F.input_file_name())
        aggs = []
        for c in cols:
            aggs += [F.min(c).alias(f"{c}_min"), F.max(c).alias(f"{c}_max")]
        m = df.groupBy("_f").agg(*aggs)
        self.write(m, f"{name}__manifest")
        return m

    def read_pruned(self, name: str, ranges: dict[str, tuple]) -> DataFrame:
        """Manifest-driven file skipping: keep only files whose
        [min, max] envelope intersects every requested range, read
        just those paths, and apply the residual filter. The manifest
        read is metadata-scale; the data scan touches the surviving
        files only — this is the explicit form of the pruning a
        lakehouse format does inside its scan planning, and the test
        asserts both equivalence with the full scan and that files
        were actually skipped."""
        from pyspark.sql import functions as F

        man = self.read(f"{name}__manifest")
        cond = F.lit(True)
        for c, (lo, hi) in ranges.items():
            cond = cond & (F.col(f"{c}_max") >= lo) & (F.col(f"{c}_min") <= hi)
        files = [r["_f"] for r in man.where(cond).select("_f").collect()]
        if not files:
            out = self.read(name).limit(0)
        else:
            out = self.spark.read.parquet(*files)
        for c, (lo, hi) in ranges.items():
            out = out.where((F.col(c) >= lo) & (F.col(c) <= hi))
        return out

    # ----------------------------------------------- advisory write lock
    # The snapshot layouts need no lock on CAS-capable backends
    # (their commit is one rename_noreplace); the KEYED layouts
    # rewrite bucket dirs in place, so two concurrent writers could
    # interleave destructively — merge()/write_keyed()/compact() take
    # the lock automatically. On non-CAS backends (atomic_cas False:
    # object stores) the snapshot ledger commit ALSO serializes
    # behind this lock (see _publish). This is the SDFS write-lock
    # parity (request_write, file_system.go:279): holder token +
    # acquire time live in the lock file, the lease is renewed while
    # held, a crashed holder's lock is reclaimed after stale_sec by
    # moving it aside (never deleting), and release is
    # token-verified.

    def _lock_path(self, name: str) -> str:
        return f"{self.root.rstrip('/')}/.locks/{name}.lock"

    def write_lock(self, name: str, timeout_sec: float = 120.0,
                   stale_sec: float = 600.0):
        """Context manager: exclusive advisory writer lock on a
        dataset. Raises TimeoutError if another live holder keeps it
        past timeout_sec.

        Holder safety: the lock body carries a unique holder token
        (pid+uuid); while held, a daemon thread REFRESHES the ts every
        stale_sec/3 so a long merge is not silently reclaimed as
        stale, and release verifies the token before deleting — a
        holder that somehow lost the lock (renewal stalled past
        stale_sec, e.g. a suspended process) raises LockLost instead
        of deleting the reclaimer's live lock.

        Yields a _LockHandle whose fence() is the DATA-PATH check:
        every in-place rewriter here (merge, write_keyed, compact,
        the non-CAS ledger publish) calls it immediately before its
        publish step, so a holder whose renewal daemon stalled past
        stale_sec aborts BEFORE overwriting the new holder's work —
        not merely at release. The residual exposure is the single
        fence-to-publish gap (plus the publish duration), the
        advisory-lock minimum without storage-side conditional
        writes."""
        import contextlib
        import threading

        @contextlib.contextmanager
        def _held():
            token = self._acquire_lock(name, timeout_sec, stale_sec)
            stop = threading.Event()
            lost = threading.Event()
            renewer = threading.Thread(
                target=self._renew_lock,
                args=(name, token, stale_sec, stop, lost),
                daemon=True)
            renewer.start()
            try:
                yield _LockHandle(self, name, token, lost)
            finally:
                stop.set()
                renewer.join(timeout=10)
                self._release_lock(name, token, lost.is_set())

        return _held()

    def _acquire_lock(self, name: str, timeout_sec: float,
                      stale_sec: float) -> str:
        """CAS-acquire the advisory lock; returns the holder token.

        On backends whose rename_noreplace is a true CAS (atomic_cas)
        a successful rename IS ownership. On object-store backends it
        can silently replace a racer, so ownership is confirmed by
        reading the lock back after a settle interval and checking the
        token — exactly one racer sees its own token survive."""
        import json
        import os as _os
        import time
        import uuid

        lock = self._lock_path(name)
        cas = getattr(self._io, "atomic_cas", True)
        token = f"{_os.getpid()}-{uuid.uuid4().hex}"
        deadline = time.monotonic() + timeout_sec
        held = None
        while True:
            if not self._io.exists(lock):
                tmp = f"{lock}.{uuid.uuid4().hex[:8]}.tmp"
                self._io.write_text(tmp, json.dumps(
                    {"pid": _os.getpid(), "token": token,
                     "ts": time.time()}))
                try:
                    self._io.rename_noreplace(tmp, lock)
                    if cas:
                        return token
                    time.sleep(0.05)  # settle: let racing writes land
                    try:
                        body = json.loads(self._io.read_text(lock))
                        if body.get("token") == token:
                            return token
                    except Exception:
                        pass  # racer mid-write: treat as lost, retry
                except FileExistsError:
                    self._io.delete(tmp)
            else:
                try:
                    held = json.loads(self._io.read_text(lock))
                except Exception:
                    held = None  # racing release/refresh: retry
                if (held is not None
                        and time.time() - held.get("ts", 0) > stale_sec):
                    self._reclaim_stale(lock)
                    continue
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"write lock on {name!r} held past {timeout_sec}s "
                    f"(holder: {held})")
            time.sleep(0.05)

    def _reclaim_stale(self, lock: str) -> None:
        """Reclaim a crashed holder's stale lock by atomically MOVING
        it aside to a unique tombstone — never by deleting it. The
        move arbitrates on the source (of N racing reclaimers exactly
        one wins; the losers' moves find it gone), so a delayed
        reclaimer can never remove a FRESH lock CAS'd after the
        winner's reclaim (the delete-based TOCTOU this replaces). A
        tombstone orphaned by a crash mid-reclaim is inert garbage
        under .locks/."""
        import uuid

        tomb = f"{lock}.rip.{uuid.uuid4().hex[:8]}"
        try:
            self._io.move_unique(lock, tomb)
        except (FileNotFoundError, OSError):
            return  # another reclaimer won (or the holder released)
        self._io.delete(tomb)

    def _renew_lock(self, name: str, token: str, stale_sec: float,
                    stop, lost) -> None:
        """Lease renewal loop (daemon thread while the lock is held):
        refresh ts every stale_sec/3 so a long-running holder never
        looks stale to waiters. Verifies the token before every
        refresh — if the lock was reclaimed anyway (this thread
        stalled past the lease), it flags `lost` and stops rather
        than resurrecting a stale claim over the new holder."""
        import json
        import os as _os
        import time

        lock = self._lock_path(name)
        while not stop.wait(stale_sec / 3):
            try:
                body = json.loads(self._io.read_text(lock))
            except Exception:
                continue  # transient unreadable (racing reader): retry
            if body.get("token") != token:
                lost.set()
                return
            self._io.write_text(lock, json.dumps(
                {"pid": _os.getpid(), "token": token,
                 "ts": time.time()}))

    def _release_lock(self, name: str, token: str,
                      known_lost: bool) -> None:
        """Token-verified release: delete the lock ONLY if the body
        still carries this holder's token. A mismatch means the lock
        was reclaimed while held (mutual exclusion may have been
        violated for the tail of this critical section) — surface
        that loudly instead of silently deleting the new holder's
        live lock."""
        import json

        lock = self._lock_path(name)
        try:
            body = json.loads(self._io.read_text(lock))
        except Exception:
            body = None
        if known_lost or body is None or body.get("token") != token:
            raise LockLost(
                f"write lock on {name!r} was reclaimed while held — "
                f"the holder exceeded stale_sec without renewal; "
                f"operations in this critical section may have raced "
                f"the reclaimer (current holder: {body})")
        self._io.delete(lock)

    # ------------------------------------------- keyed incremental merge
    _MERGE_BUCKET = "_kbucket"

    def write_keyed(self, df: DataFrame, name: str, key: str,
                    n_buckets: int = 32) -> None:
        """Lay a dataset out hash-partitioned on its key so later
        merges touch only the partitions holding changed keys. The
        reference's closest notion is re-`put`-ing a whole SDFS file
        per update (PutFile, file_system.go:825) — here an update
        rewrites 1/n_buckets of the data, not all of it. Size
        n_buckets so one bucket ~ one comfortable task (at 100 TB:
        thousands). Takes the dataset's write lock (a concurrent
        merge racing the re-layout would interleave destructively)."""
        from pyspark.sql import functions as F

        with self.write_lock(name) as lk:
            # fencing check immediately before the overwrite publishes
            # (see _LockHandle.fence): an overtaken writer aborts here
            lk.fence()
            (
                df.withColumn(
                    self._MERGE_BUCKET, F.pmod(F.xxhash64(key), n_buckets))
                .write.format("parquet").mode("overwrite")
                .partitionBy(self._MERGE_BUCKET)
                .save(self._path(name))
            )
            # sidecar: the bucket count can't be inferred from the
            # data (top buckets may be empty) and a wrong modulus on
            # merge would silently strand old row versions elsewhere
            self._io.write_text(self._path(name) + "/_n_buckets",
                                str(n_buckets))

    def merge(self, changes: DataFrame, name: str, key: str,
              delete_col: str | None = None) -> None:
        """Serialized behind the dataset's advisory write lock (see
        write_lock): the keyed layout's commit is an in-place bucket
        rewrite, not an atomic rename, so two concurrent mergers must
        take turns — with the lock, BOTH land (second reads the
        first's result), the SDFS write-lock behavior
        (file_system.go:279) rather than the old documented
        single-writer caveat."""
        with self.write_lock(name) as lk:
            self._merge_unlocked(changes, name, key, delete_col,
                                 fence=lk.fence)

    def _merge_unlocked(self, changes: DataFrame, name: str, key: str,
                        delete_col: str | None = None,
                        fence=None) -> None:
        """Upsert `changes` into a write_keyed dataset by key; rows
        with `delete_col` true are deletes. Only the hash partitions
        containing changed keys are read back (partition pruning
        against the bucket column) and rewritten (dynamic partition
        overwrite) — untouched buckets' files are not opened, moved,
        or rewritten, which is what makes a 0.1% daily delta on a
        100 TB table a 0.1%-ish job rather than a full rewrite.

        Last-writer-wins within `changes` is the caller's problem
        (pre-dedup by key); concurrent mergers are serialized by the
        advisory write lock taken in merge() above."""
        from pyspark.sql import functions as F

        p = self._path(name)
        if not self._io.exists(p):
            raise FileNotFoundError(name)
        n_buckets = int(self._io.read_text(p + "/_n_buckets").strip())
        # bootstrap detection is POSITIVE (no parquet files present):
        # write_keyed of an EMPTY frame leaves no footers to infer
        # from. A bare try/except around the read would also swallow
        # transient read failures on a POPULATED table and silently
        # rewrite touched buckets with only the change rows.
        has_data = any(
            f.endswith(".parquet") for f in self._io.ls_files(p))
        if has_data:
            base = self.spark.read.parquet(p)
        else:
            cols = [c for c in changes.columns if c != delete_col]
            base = (
                self.spark.createDataFrame([], changes.select(*cols).schema)
                .withColumn(self._MERGE_BUCKET, F.lit(0).cast("int"))
            )
        ch = changes.withColumn(
            self._MERGE_BUCKET, F.pmod(F.xxhash64(key), n_buckets))
        # bounded driver state: at most n_buckets ints
        touched = sorted(
            r[0] for r in ch.select(self._MERGE_BUCKET).distinct().collect())
        # no broadcast hint: the delta's key set may itself be large;
        # AQE picks broadcast when it is in fact small
        surviving = base.where(
            F.col(self._MERGE_BUCKET).isin(touched)
        ).join(ch.select(key).distinct(), key, "left_anti")
        upserts = (
            ch.filter(~F.col(delete_col)).drop(delete_col)
            if delete_col else ch
        )
        # materialize once: the bucket-set collect below and the write
        # would otherwise each evaluate the read+anti-join+union (2x
        # cost), and a nondeterministic `changes` source could make
        # the two evaluations disagree — deleting a bucket dir the
        # write just populated. The barrier must TRUNCATE lineage in
        # every posture (cut_deep: persist routes to reliable): the
        # write below overwrites this plan's own source directory, so
        # a persist-posture recompute after block loss would re-read
        # the dir mid-clobber and corrupt the dataset.
        out = surviving.unionByName(upserts).transform(cut_deep)
        # dynamic overwrite only rewrites partitions PRESENT in the
        # output — a touched bucket whose every row was deleted emits
        # no partition and its stale files would silently survive, so
        # collect the surviving bucket set (bounded by n_buckets) and
        # drop emptied bucket dirs explicitly
        out_buckets = {
            r[0] for r in out.select(self._MERGE_BUCKET).distinct().collect()
        }
        # fencing check on the data path: everything above is
        # read/compute (the materialized `out` lives off to the side);
        # the dynamic partition overwrite below is the publish. An
        # overtaken merger must abort HERE, before touching any bucket
        # dir the new holder may be rewriting.
        if fence is not None:
            fence()
        # per-write mode: flipping the session conf would leak dynamic
        # overwrite into any other thread's write in this session
        (
            out.write.format("parquet").mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(self._MERGE_BUCKET).save(p)
        )
        for b in touched:
            if b not in out_buckets:
                self._io.delete(f"{p}/{self._MERGE_BUCKET}={b}")

    # --------------------------------------- snapshots / time travel
    # Iceberg/Delta-style versioned datasets built on two invariants:
    # data files are IMMUTABLE once written (every snapshot writes a
    # fresh directory), and a version exists iff its manifest file
    # exists (the manifest publish, a write-then-RENAME-NOREPLACE CAS,
    # is the commit point — concurrent writers race the version
    # number, exactly one wins, losers retry or abort; see _publish).
    # A crash before publish leaves an orphan data
    # dir — invisible to readers, reclaimed by vacuum(); nothing a
    # reader can observe is ever half-written. The reference has no
    # versioning at all (re-`put` replaces an SDFS file in place,
    # PutFile file_system.go:825); this is the capability a Spark
    # lakehouse deployment would expect in its stead.

    def _vdir(self, name: str) -> str:
        return self._path(name) + "/_versions"

    def _snapshot_versions(self, name: str) -> list[int]:
        vd = self._vdir(name)
        if not self._io.exists(vd):
            return []
        out = []
        for f in self._io.ls_files(vd):
            base = f.rsplit("/", 1)[-1]
            if base.startswith("v") and base.endswith(".json"):
                out.append(int(base[1:-5]))
        return sorted(out)

    def versions(self, name: str) -> list[int]:
        """Committed snapshot versions, oldest first."""
        return self._snapshot_versions(name)

    def _read_manifest(self, name: str, version: int) -> dict:
        import json

        return json.loads(self._io.read_text(
            f"{self._vdir(name)}/v{version}.json"))

    def _publish(self, name: str, version: int, files: list[str],
                 parent: int | None, tag: str | None = None) -> None:
        """CAS commit point: write-then-RENAME-NOREPLACE, so two
        writers racing the same version number cannot both win —
        exactly one rename lands, the loser gets FileExistsError and
        retries with a recomputed version (the Delta/Iceberg
        optimistic-concurrency pattern, replacing the reference's
        hand-rolled distributed write locks, file_system.go:279).
        A crash before the rename leaves only an invisible .tmp and
        orphan data files — the previous version stays the readable
        latest, and vacuum reclaims the orphans.

        On backends whose rename_noreplace is NOT a real CAS (object
        stores without conditional put — atomic_cas False on the IO),
        the commit is serialized behind the dataset's advisory ledger
        lock instead: exists-check + rename under mutual exclusion,
        the reference's universal write-lock posture
        (file_system.go:279) applied to snapshot commits."""
        import json
        import uuid

        vd = self._vdir(name)
        body = json.dumps({"version": version, "files": files,
                           "parent": parent, "tag": tag})
        # unique tmp per attempt: two racers must not write the same
        # staging file either
        tmp = f"{vd}/.v{version}-{uuid.uuid4().hex[:8]}.json.tmp"
        self._io.write_text(tmp, body)
        dst = f"{vd}/v{version}.json"
        if getattr(self._io, "atomic_cas", True):
            try:
                self._io.rename_noreplace(tmp, dst)
            except FileExistsError:
                self._io.delete(tmp)
                raise
        else:
            with self.write_lock(name + ".ledger") as lk:
                if self._io.exists(dst):
                    self._io.delete(tmp)
                    raise FileExistsError(dst)
                # fence before the commit rename: an overtaken ledger
                # holder must not publish over the new holder's checks
                lk.fence()
                self._io.rename(tmp, dst)

    def snapshot_tags(self, name: str) -> set[str]:
        """Tags of every committed version — the idempotence ledger a
        replaying writer (e.g. a streaming micro-batch sink) checks
        before committing its unit of work again."""
        return {
            t for v in self._snapshot_versions(name)
            if (t := self._read_manifest(name, v).get("tag")) is not None
        }

    def _write_data_dir(self, df: DataFrame, name: str,
                        version: int) -> list[str]:
        import uuid

        d = f"{self._path(name)}/data/v{version:06d}-{uuid.uuid4().hex[:8]}"
        df.write.format("parquet").mode("overwrite").save(d)
        return [f for f in self._io.ls_files(d)
                if f.endswith(".parquet")]

    _COMMIT_RETRIES = 50

    def write_snapshot(self, df: DataFrame, name: str,
                       tag: str | None = None) -> int:
        """Commit `df` as a NEW full version of the dataset (the
        previous version stays readable — overwrite semantics with
        history). Returns the committed version number.

        Multi-writer safe: the data files are written once (they are
        immutable and carry a uuid dir name), then the manifest commit
        CAS-loops — on losing a version-number race to a concurrent
        writer it re-reads the ledger and retries with the next
        number, so BOTH commits survive as distinct versions."""
        vs = self._snapshot_versions(name)
        files = self._write_data_dir(df, name, (vs[-1] + 1) if vs else 1)
        for _ in range(self._COMMIT_RETRIES):
            vs = self._snapshot_versions(name)
            v = (vs[-1] + 1) if vs else 1
            try:
                self._publish(name, v, files, vs[-1] if vs else None, tag)
                return v
            except FileExistsError:
                continue  # lost the race; recompute against new latest
        raise SnapshotConflict(
            f"could not commit {name!r} after "
            f"{self._COMMIT_RETRIES} attempts")

    def append_snapshot(self, df: DataFrame, name: str,
                        tag: str | None = None) -> int:
        """Commit `df` as a new version consisting of the previous
        version's files PLUS the new rows — append with history, no
        data rewritten or copied.

        Multi-writer safe: appends COMPOSE — on losing the version
        race the retry re-reads the NEW latest manifest, so the final
        file list contains both writers' rows (the data dir's version
        prefix reflects the first attempt; the uuid keeps it unique
        and vacuum tracks manifests, not dir-name numbering)."""
        vs = self._snapshot_versions(name)
        files = self._write_data_dir(df, name, (vs[-1] + 1) if vs else 1)
        for _ in range(self._COMMIT_RETRIES):
            vs = self._snapshot_versions(name)
            if not vs:
                try:
                    self._publish(name, 1, files, None, tag)
                    return 1
                except FileExistsError:
                    continue
            v = vs[-1] + 1
            prev = self._read_manifest(name, vs[-1])["files"]
            try:
                self._publish(name, v, prev + files, vs[-1], tag)
                return v
            except FileExistsError:
                continue
        raise SnapshotConflict(
            f"could not commit {name!r} after "
            f"{self._COMMIT_RETRIES} attempts")

    def read_snapshot(self, name: str, version: int | None = None,
                      merge_schema: bool = False) -> DataFrame:
        """Read a committed version (default: latest) — time travel
        is just planning the scan over that version's file list.

        merge_schema=True unions the file schemas across the
        version's file list (columns added by later appends read as
        NULL in older files — Iceberg-style additive schema
        evolution; parquet's mergeSchema pays one footer pass over
        the version's files, metadata-scale). Old versions keep
        reading with their own schema either way — evolution never
        rewrites data."""
        vs = self._snapshot_versions(name)
        if not vs:
            raise FileNotFoundError(f"no snapshots for {name!r}")
        v = vs[-1] if version is None else version
        if v not in vs:
            raise FileNotFoundError(f"{name!r} has no version {v}")
        files = self._read_manifest(name, v)["files"]
        if not files:
            raise FileNotFoundError(f"{name!r} v{v} is empty")
        r = self.spark.read
        if merge_schema:
            r = r.option("mergeSchema", True)
        return r.parquet(*files)

    def restore_snapshot(self, name: str, version: int) -> int:
        """Roll back: commit a NEW version whose file list is the old
        version's — no data moves, history is preserved (the
        Iceberg rollback model, not a destructive reset). The commit
        CAS-loops like write_snapshot (the restored file list is
        version-pinned, so retrying under a new number is safe)."""
        vs = self._snapshot_versions(name)
        if version not in vs:
            raise FileNotFoundError(f"{name!r} has no version {version}")
        files = self._read_manifest(name, version)["files"]
        for _ in range(self._COMMIT_RETRIES):
            vs = self._snapshot_versions(name)
            try:
                self._publish(name, vs[-1] + 1, files, vs[-1])
                return vs[-1] + 1
            except FileExistsError:
                continue
        raise SnapshotConflict(
            f"could not commit {name!r} after "
            f"{self._COMMIT_RETRIES} attempts")

    def vacuum_snapshots(self, name: str, keep_last: int = 1) -> int:
        """Expire history: keep the newest `keep_last` manifests,
        delete older manifests, every data file no kept version
        references, and every version DIRECTORY holding no referenced
        file — including _SUCCESS markers and orphan dirs from
        pre-publish crashes, so expired history reclaims fully.
        Returns the number of data files deleted.

        Single-writer assumption: vacuum must not run concurrently
        with a writer — a not-yet-published version's data dir is
        indistinguishable from a crash orphan and would be removed."""
        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        vs = self._snapshot_versions(name)
        keep = set(vs[-keep_last:]) if vs else set()
        live: set[str] = set()
        for v in keep:
            live.update(self._read_manifest(name, v)["files"])
        deleted = 0
        droot = self._path(name) + "/data"
        if self._io.exists(droot):
            # Match by BASENAME, never by full-path prefix: manifests
            # store paths in the IO backend's spelling at WRITE time
            # ('/data' vs 'file:///data', Hadoop Path.toString
            # normalization...), so reopening the store under a
            # differently-spelled root would make zero live files
            # prefix-match and a prefix sweep would delete LIVE data.
            # The v%06d-uuid dir component and Spark's
            # part-*-<job-uuid> file names are unique per version /
            # write job, so basenames identify them unambiguously.
            live_dirs = {
                os.path.basename(os.path.dirname(f.rstrip("/")))
                for f in live}
            live_names = {os.path.basename(f) for f in live}
            # dir granularity first: a version dir with NO live file
            # goes entirely (its _SUCCESS marker and the dir itself
            # included — ls_files hides '_'-prefixed names, so a
            # file-level sweep alone leaves husk dirs behind)
            for d in self._io.ls_dirs(droot):
                if os.path.basename(d.rstrip("/")) in live_dirs:
                    continue
                deleted += sum(
                    1 for f in self._io.ls_files(d)
                    if f.endswith(".parquet"))
                self._io.delete(d)
            # file-level safety net inside still-live dirs
            for f in self._io.ls_files(droot):
                if (f.endswith(".parquet")
                        and os.path.basename(f) not in live_names):
                    self._io.delete(f)
                    deleted += 1
        for v in vs:
            if v not in keep:
                self._io.delete(f"{self._vdir(name)}/v{v}.json")
        return deleted

    def compact_snapshot(self, name: str) -> int:
        """Snapshot-aware small-file compaction (the Iceberg
        rewrite_data_files maintenance op): rewrite the LATEST
        version's data into ~ceil(total_bytes / COMPACT_BYTES) files
        and publish the result as a NEW version. append_snapshot
        accretes one file set per append — after N appends a scan
        pays N x open/footer cost — and unlike compact() this never
        renames anything a reader could be holding: the old version
        stays fully readable (time travel included) until
        vacuum_snapshots expires it, so compaction is safe to run
        next to live readers. Returns the new version number.

        Multi-writer safe the STRICT way: the rewrite is derived from
        a specific base version, so if a concurrent writer commits
        while the rewrite runs, blind re-publication would silently
        drop their rows — instead the CAS loses, SnapshotConflict is
        raised, the dataset is untouched (the concurrent commit IS
        the latest), the orphan rewrite is vacuum-reclaimable, and
        the compactor simply re-runs. This is how a scheduled
        compactor and a streaming sink coexist on one table (the
        Delta/Iceberg conflict-detection posture; the reference
        hand-rolls read/write locks instead, file_system.go:279)."""
        import math

        vs = self._snapshot_versions(name)
        if not vs:
            raise FileNotFoundError(f"no snapshots for {name!r}")
        base_v = vs[-1]
        files = self._read_manifest(name, base_v)["files"]
        if not files:
            raise FileNotFoundError(f"{name!r} latest version is empty")
        total = sum(s for f in files for s in self._io.file_sizes(f))
        n_files = max(1, math.ceil(total / COMPACT_BYTES))
        df = self.spark.read.parquet(*files).repartition(n_files)
        v = base_v + 1
        new_files = self._write_data_dir(df, name, v)
        try:
            self._publish(name, v, new_files, base_v, tag=None)
        except FileExistsError:
            raise SnapshotConflict(
                f"{name!r}: version {v} was committed concurrently "
                f"while compacting v{base_v}; re-run compaction "
                "against the new latest (no data was lost — the "
                "rewrite was abandoned, not published)") from None
        return v

    def snapshot_diff(self, name: str, v_old: int, v_new: int,
                      key: str) -> DataFrame:
        """Row-level diff between two committed versions keyed by
        `key`: rows only in v_new ('added'), only in v_old
        ('removed'), and present in both with any non-key column
        changed ('changed'). The audit query version history exists
        for — "what did last night's ingest actually do". Shape: two
        anti-joins + one inner join with a column-wise comparison;
        each side scans only its version's file list."""
        from pyspark.sql import functions as F

        old = self.read_snapshot(name, v_old)
        new = self.read_snapshot(name, v_new)
        added = new.join(old.select(key), key, "left_anti") \
            .select(F.lit("added").alias("op"), F.col(key).alias("k"))
        removed = old.join(new.select(key), key, "left_anti") \
            .select(F.lit("removed").alias("op"), F.col(key).alias("k"))
        cols = [c for c in new.columns if c != key and c in old.columns]
        if cols:
            o = old.select(key, *cols).alias("o")
            n = new.select(key, *cols).alias("n")
            neq = None
            for c in cols:
                t = ~(F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}")))
                neq = t if neq is None else (neq | t)
            changed = (
                o.join(n, F.col(f"o.{key}") == F.col(f"n.{key}"))
                .filter(neq)
                .select(F.lit("changed").alias("op"),
                        F.col(f"n.{key}").alias("k"))
            )
            out = added.unionByName(removed).unionByName(changed)
        else:
            out = added.unionByName(removed)
        return out.withColumnRenamed("k", key)
