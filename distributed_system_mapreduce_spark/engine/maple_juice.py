"""MapleJuice — the reference's MapReduce programming model on Spark.

Reference contract (/root/reference/maple_juice/maple_juice.go):
- ``maple <exe> <N> <prefix> <src>``: split src into N line-clips
  (split, maple_juice.go:32), run exe per clip (stdin lines -> stdout
  "key value" lines, executeMapleExe:241), bucket output by key into
  prefix_<key> files (splitMapleResultFile:266).
- ``juice <exe> <N> <prefix> <dest> <del> <hash|range>``: assign keys
  to N workers by FNV hash (Hash:773) or sorted key ranges
  (Shuffle:688), run exe once per key over that key's lines
  (JuiceTask:376), append outputs to dest.

Spark-first translation — the *phases* map onto Spark's native
physical operators instead of files + RPC:

  reference                         here
  ---------                         ----
  line clips -> N workers           input DataFrame partitions
  maple exe over a clip             mapInPandas (Arrow batches)
  prefix_<key> intermediate files   the shuffle (no files, no per-key
                                    metadata explosion at 100 TB)
  hash shuffle                      groupBy(key) hash exchange
  range shuffle                     repartitionByRange + in-partition
                                    grouping (equal keys co-located)
  juice exe per key                 applyInPandas per group

User functions are Arrow-batched pandas callables (10-100x over
row-at-a-time UDFs); a legacy line-oriented adapter wraps any
old stdin/stdout-style job in one `wrap_line_job` call.
"""

from __future__ import annotations

import subprocess
import threading
from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

KV_SCHEMA = T.StructType([
    T.StructField("key", T.StringType(), False),
    T.StructField("value", T.StringType(), True),
])


def _pipe_lines(cmd: str, lines: Iterable[str]) -> Iterator[str]:
    """Stream text lines through a shell command, yielding its stdout
    lines — the executor-side core of the exe adapter (the same
    `/bin/sh -c cmd` contract as executeMapleExe,
    /root/reference/maple_juice/maple_juice.go:241).

    stdin is fed from a writer thread while stdout is consumed here,
    so memory stays bounded by the OS pipe buffer (plus one ~1 MB
    I/O block each way) regardless of partition size — no spooling
    the partition to disk or RAM. Both directions use BLOCK I/O:
    token-per-line jobs push millions of lines per partition, and
    per-line Python write()/readline() calls were the measured
    hotspot of the exe path — lines are joined/split in ~64K-line
    chunks so the per-line work stays in C string code."""
    proc = subprocess.Popen(
        cmd, shell=True, text=True, encoding="utf-8",
        stdin=subprocess.PIPE, stdout=subprocess.PIPE,
    )
    feed_error: list[BaseException] = []

    def feed() -> None:
        # ANY failure must still close stdin (the exe needs EOF or it
        # blocks forever -> the whole task hangs) and be re-raised in
        # the main thread, not swallowed in the writer.
        try:
            # flush on accumulated BYTES, not line count: line-count
            # batching would hold ~64K whole lines in RAM (unbounded
            # for document-sized lines); a ~1 MB character budget
            # keeps the writer O(block), matching the docstring bound
            buf: list[str] = []
            pending = 0
            for ln in lines:
                buf.append(ln)
                pending += len(ln) + 1
                if pending >= (1 << 20):
                    proc.stdin.write("\n".join(buf))
                    proc.stdin.write("\n")
                    buf, pending = [], 0
            if buf:
                proc.stdin.write("\n".join(buf))
                proc.stdin.write("\n")
        except BrokenPipeError:
            pass  # exe exited early; surfaced via returncode below
        except BaseException as exc:  # noqa: BLE001 - re-raised below
            feed_error.append(exc)
        finally:
            try:
                proc.stdin.close()
            except BrokenPipeError:
                pass

    writer = threading.Thread(target=feed, daemon=True)
    writer.start()
    try:
        tail = ""
        while True:
            block = proc.stdout.read(1 << 20)
            if not block:
                break
            block = tail + block
            out_lines = block.split("\n")
            tail = out_lines.pop()  # partial last line (or "")
            yield from out_lines
        if tail:
            yield tail
    finally:
        writer.join()
        proc.stdout.close()
        rc = proc.wait()
        if feed_error:
            raise RuntimeError(
                f"exe {cmd!r}: stdin writer failed") from feed_error[0]
        if rc != 0:
            raise RuntimeError(f"exe {cmd!r} exited with status {rc}")


_KV_CHUNK = 1 << 16  # stdout lines per parsed KV chunk


def _kv_frame(lines: list[str]) -> pd.DataFrame:
    s = pd.Series(lines, dtype="object").str.strip()
    s = s[s != ""]
    parts = s.str.partition(" ")  # vectorized first-space split
    return pd.DataFrame({"key": parts[0].to_numpy(),
                         "value": parts[2].to_numpy()})


def _parse_kv(out_lines: Iterable[str]) -> Iterator[pd.DataFrame]:
    """Parse `key value` stdout lines (splitMapleResultFile's
    first-space split, maple_juice.go:266) into KV-schema chunks.
    The per-line work stays in pandas' C string kernels — a Python
    loop here dominates exe-job runtime on token-per-line output."""
    buf: list[str] = []
    for out in out_lines:
        buf.append(out)
        if len(buf) >= _KV_CHUNK:
            yield _kv_frame(buf)
            buf = []
    if buf:
        yield _kv_frame(buf)


def wrap_line_job(
    line_fn: Callable[[str], Iterable[tuple[str, str]]],
) -> Callable[[pd.Series], pd.DataFrame]:
    """Adapt a legacy per-line maple job (one input line -> zero or
    more (key, value) pairs, the stdin/stdout contract of the
    reference's exes) into a vectorized batch function."""

    def batch_fn(lines: pd.Series) -> pd.DataFrame:
        keys: list[str] = []
        vals: list[str] = []
        for line in lines:
            if line is None:
                continue
            for k, v in line_fn(line):
                keys.append(k)
                vals.append(v)
        return pd.DataFrame({"key": keys, "value": vals})

    return batch_fn


class MapleJuice:
    """Programmable MapReduce over DataFrames.

    >>> mj = MapleJuice(spark)
    >>> kv = mj.maple(lines_df, wrap_line_job(my_map))     # (key, value)
    >>> out = mj.juice(kv, my_reduce, num_tasks=32)        # reduce per key
    """

    def __init__(self, spark):
        self.spark = spark
        self._cached_kv: list[DataFrame] = []

    def unpersist_cached(self) -> None:
        """Release the map outputs cached by range-partition juice
        calls (see juice()). A long-lived session
        issuing many range jobs should call this between jobs — disk
        blocks otherwise live until session end."""
        for df in self._cached_kv:
            df.unpersist()
        self._cached_kv.clear()

    # ------------------------------------------------------------- maple
    def maple(
        self,
        src: DataFrame,
        batch_fn: Callable[[pd.Series], pd.DataFrame],
        num_tasks: int | None = None,
        input_col: str | None = None,
    ) -> DataFrame:
        """Map phase: emit a (key, value) DataFrame.

        ``src`` is any DataFrame; ``input_col`` names the line column
        (defaults to the single column, like the reference's
        line-oriented clips). ``num_tasks`` forces a repartition only
        when the caller wants reference-equivalent clip counts —
        otherwise Spark's existing partitioning is reused (cheaper).
        """
        col = input_col or src.columns[0]
        if num_tasks:
            src = src.repartition(num_tasks)

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for b in batches:
                out = batch_fn(b[col])
                if out is not None and len(out):
                    yield out[["key", "value"]].astype(
                        {"key": "string", "value": "string"})

        return src.mapInPandas(run, schema=KV_SCHEMA)

    # ------------------------------------------------------------- juice
    def juice(
        self,
        kv: DataFrame,
        reduce_fn: Callable[[str, pd.DataFrame], pd.DataFrame],
        num_tasks: int | None = None,
        partition: str = "hash",
        output_schema: T.StructType | str | None = None,
    ) -> DataFrame:
        """Reduce phase: apply ``reduce_fn(key, group_df)`` per key.

        partition="hash"  -> Catalyst hash exchange (groupBy), the
                             default and fastest path.
        partition="range" -> repartitionByRange on the key (sampled
                             contiguous key ranges, the reference's
                             sorted-deal semantics, Shuffle:688) then
                             per-partition grouping; equal keys land
                             in one range bucket so grouping holds.

        The range exchange computes its boundaries with a separate
        SAMPLING job over ``kv`` — uncached, that job re-executes the
        whole upstream (typically a Python maple stage: 2x the map
        work, and nondeterministic maples could even see different
        boundary samples). So the range path persists kv
        MEMORY_AND_DISK: sampling materializes it once and the
        exchange reads the cache. The handle stays persisted until
        ``unpersist_cached()`` (or ``spark.catalog.clearCache()``) —
        it is the map output, bounded by the input scan.
        """
        if output_schema is None:
            output_schema = KV_SCHEMA
        if partition not in ("hash", "range"):
            raise ValueError("partition must be 'hash' or 'range'")

        if partition == "hash":
            # num_tasks is advisory here: the groupBy exchange is sized
            # by spark.sql.shuffle.partitions + AQE coalescing, which is
            # the right knob at scale (a fixed N would fight the
            # optimizer). Pre-repartitioning would just add a shuffle.
            def apply(pdf: pd.DataFrame) -> pd.DataFrame:
                return reduce_fn(pdf["key"].iloc[0], pdf)

            return kv.groupBy("key").applyInPandas(
                apply, schema=output_schema)

        # range: one range shuffle, then group inside each partition
        n = num_tasks or kv.sparkSession.conf.get(
            "spark.sql.shuffle.partitions")
        kv = kv.persist(StorageLevel.MEMORY_AND_DISK)
        self._cached_kv.append(kv)
        ranged = kv.repartitionByRange(int(n), F.col("key"))

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            parts = [b for b in batches if len(b)]
            if not parts:
                return
            whole = pd.concat(parts, ignore_index=True)
            for key, grp in whole.groupby("key", sort=True):
                out = reduce_fn(key, grp)
                if out is not None and len(out):
                    yield out

        return ranged.mapInPandas(run, schema=output_schema)

    # ------------------------------------------------------ exe adapters
    def maple_exe(
        self,
        src: DataFrame,
        cmd: str,
        num_tasks: int | None = None,
        input_col: str | None = None,
    ) -> DataFrame:
        """Map phase with an ARBITRARY external executable — the
        reference's real contract (`maple <exe> ...` runs any binary
        with `/bin/sh -c "./exe < clip > result"`, executeMapleExe,
        /root/reference/maple_juice/maple_juice.go:241; stdout lines
        are split first-space into (key, value),
        splitMapleResultFile:266).

        One process per PARTITION (not per Arrow batch): a partition's
        batches stream through a single exe invocation, so at cluster
        scale exec overhead is O(#partitions) and the exe can keep
        in-process state across its whole clip, exactly like the
        reference's per-clip run. Multi-line input cells arrive as
        multiple stdin lines — the reference's clips are line files
        too (split, maple_juice.go:32)."""
        col = input_col or src.columns[0]
        if num_tasks:
            src = src.repartition(num_tasks)

        def run_part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            def lines() -> Iterator[str]:
                for b in batches:
                    for v in b[col]:
                        if v is not None:
                            yield str(v)

            yield from _parse_kv(_pipe_lines(cmd, lines()))

        return src.mapInPandas(run_part, schema=KV_SCHEMA)

    def juice_exe(
        self,
        kv: DataFrame,
        cmd: str,
        num_tasks: int | None = None,
        partition: str = "hash",
    ) -> DataFrame:
        """Reduce phase with an external executable: one exe run PER
        KEY over that key's `key value` lines — byte-for-byte the
        reference's JuiceTask loop (get key file -> executeJuiceExe,
        /root/reference/maple_juice/maple_juice.go:376/:254). Output
        lines parse back into KV rows (juice output is appended to
        dest as `key value` lines, CreatAppendSdfsReduceFile).

        The shuffle is juice()'s, hash or range alike; only the
        per-key reduce differs: it pipes the group through ``cmd``."""
        def reduce_fn(_key: str, grp: pd.DataFrame) -> pd.DataFrame:
            # vectorized `key value` line build (C string kernel)
            lines = (grp["key"].astype("string") + " "
                     + grp["value"].astype("string")).tolist()
            chunks = list(_parse_kv(_pipe_lines(cmd, lines)))
            if not chunks:
                return pd.DataFrame({"key": [], "value": []})
            return pd.concat(chunks, ignore_index=True)

        return self.juice(kv, reduce_fn, num_tasks, partition, KV_SCHEMA)

    # -------------------------------------------------- one-shot pipeline
    def run(
        self,
        src: DataFrame,
        batch_fn: Callable[[pd.Series], pd.DataFrame],
        reduce_fn: Callable[[str, pd.DataFrame], pd.DataFrame],
        num_juices: int | None = None,
        partition: str = "hash",
        output_schema: T.StructType | str | None = None,
    ) -> DataFrame:
        """maple + juice in one call — the `command_backup` two-liner."""
        kv = self.maple(src, batch_fn)
        return self.juice(kv, reduce_fn, num_juices, partition,
                          output_schema)
