"""Shared lineage-cut helper with a session-level posture switch.

Iterative and multi-consumer plans need a materialization barrier so
round N (or consumer N) does not replay the whole upstream plan.
Three postures exist and they trade differently at scale:

* ``local`` — ``DataFrame.localCheckpoint()``: materializes into
  executor-local block storage and TRUNCATES lineage. Zero config and
  the fastest barrier on ``local[N]`` (the test posture), but on a
  real cluster an executor loss makes the checkpointed partitions
  unrecoverable — the whole query fails and restarts. Acceptable for
  tests; wrong default for a 1000-executor 100 TB run.
* ``persist`` — ``persist(MEMORY_AND_DISK)`` + an eager ``count()``:
  materializes into the block manager but PRESERVES lineage, so an
  executor loss degrades to recomputing the lost partitions instead
  of failing the query. Right for SHALLOW cuts (a bounded rollup read
  by several consumers). WRONG for deep iterative loops: because the
  lineage survives, round N's logical plan nests all N-1 previous
  rounds — Catalyst analysis cost grows per round; the r8
  pre-``deep``-routing measurement had kcore_census 35x slower under
  persist at 10x volume (223s vs 6.4s) from exactly this plan growth
  (preserved in git history; the current SCALING.json
  ``lineage_posture`` panel measures the engine WITH the deep routing
  below, where the catastrophe is gone — median persist/local 1.09).
  Cache lifetime belongs to the session
  (``spark.catalog.clearCache()`` / ``unpersist`` when done).
* ``reliable`` — ``DataFrame.checkpoint()`` into the session's
  checkpoint directory: TRUNCATES lineage (constant-size plans, the
  deep-loop requirement) AND survives executor loss (the blocks live
  in reliable storage — point the checkpoint dir at HDFS/S3 on a
  cluster). This is the cluster posture for the iterative operators;
  the cost is one write to reliable storage per cut. The checkpoint
  dir resolves from ``spark.graft.checkpointDir`` conf /
  ``SPARK_GRAFT_CKPT_DIR`` env / a local tmp default (fine on
  local[N]; set it to a replicated path on a real cluster). The
  session factory enables
  ``spark.cleaner.referenceTracking.cleanCheckpoints`` so checkpoint
  files are reclaimed once their RDDs are GC'd — without it a
  long-running session accumulates them unboundedly.

The posture is selected once per session, not per call site:

* runtime conf ``spark.graft.lineageCut`` = ``local`` | ``persist`` |
  ``reliable`` (settable live via ``spark.conf.set``), falling back to
* env ``SPARK_GRAFT_LINEAGE_CUT``, falling back to ``local``.

Every operator routes its barrier through :func:`cut` (usually as
``.transform(cut)`` to keep method-chain style); no operator calls
``localCheckpoint`` directly and no operator takes a per-call posture
argument, so flipping the one switch moves the entire engine to the
cluster posture.

Streaming exception: a barrier INSIDE a foreachBatch sink pins
``mode="local"`` — Structured Streaming's micro-batch retry (replay
from the source checkpoint) is already the recovery layer there, and
the persist posture would leak one never-unpersisted cache entry per
batch on a long-running stream. Stream-lifetime STATIC sides (e.g. a
broadcast LM model) follow the session switch like batch operators.

Reference parity note: the reference engine (run_server.go:348-406
job loop) persists inter-round state to SDFS — replicated, so a
worker loss recovers. ``reliable`` mode is the faithful Spark-native
analogue (replicated storage + truncated lineage); ``persist`` keeps
recovery-by-recompute for shallow cuts; ``local`` trades
recoverability for speed on a single-JVM test box.
"""

from __future__ import annotations

import os
import tempfile

from pyspark import StorageLevel
from pyspark.sql import DataFrame

CONF_KEY = "spark.graft.lineageCut"
ENV_KEY = "SPARK_GRAFT_LINEAGE_CUT"
CKPT_DIR_CONF = "spark.graft.checkpointDir"
CKPT_DIR_ENV = "SPARK_GRAFT_CKPT_DIR"
_VALID = ("local", "persist", "reliable")


def posture(df: DataFrame) -> str:
    """Resolve the session's lineage-cut posture for ``df``."""
    mode = df.sparkSession.conf.get(CONF_KEY, "") or os.environ.get(ENV_KEY, "")
    mode = (mode or "local").strip().lower()
    if mode not in _VALID:
        raise ValueError(
            f"{CONF_KEY} must be one of {_VALID}, got {mode!r}")
    return mode


def _ensure_checkpoint_dir(df: DataFrame) -> None:
    sc = df.sparkSession.sparkContext
    if not sc._jsc.sc().getCheckpointDir().isEmpty():
        return
    d = (df.sparkSession.conf.get(CKPT_DIR_CONF, "")
         or os.environ.get(CKPT_DIR_ENV, "")
         or os.path.join(tempfile.gettempdir(), "spark_graft_ckpt"))
    sc.setCheckpointDir(d)


def cut(df: DataFrame, eager: bool = True, mode: str | None = None,
        deep: bool = False) -> DataFrame:
    """Materialization barrier honoring the session posture.

    ``eager=False`` defers materialization to the first action (the
    rare case where the caller may never consume the cut subtree);
    every posture honors it. ``mode`` overrides the session posture
    for callers with a structural reason (per-micro-batch sinks pin
    ``local``, see the streaming exception above).

    ``deep=True`` marks a PER-ROUND barrier inside an unbounded or
    long iterative loop (connected components, k-core peeling, BFS
    frontiers, BPE merge rounds). In ``persist`` posture these route
    to ``reliable`` instead: persist keeps lineage, so round N's plan
    nests all prior rounds and Catalyst analysis grows per round —
    the r8 pre-routing measurement had kcore_census 35x slower under
    persist from exactly this; reliable keeps both the constant plan
    size and the loss-survivability the cluster posture wants.
    """
    if mode is not None and mode not in _VALID:
        raise ValueError(f"mode must be one of {_VALID}, got {mode!r}")
    mode = mode or posture(df)
    if deep and mode == "persist":
        mode = "reliable"
    if mode == "local":
        return df.localCheckpoint(eager=eager)
    if mode == "reliable":
        _ensure_checkpoint_dir(df)
        return df.checkpoint(eager=eager)
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    if eager:
        out.count()
    return out


def cut_lazy(df: DataFrame) -> DataFrame:
    """``cut`` with ``eager=False`` — chainable via ``.transform``."""
    return cut(df, eager=False)


def cut_deep(df: DataFrame) -> DataFrame:
    """``cut`` with ``deep=True`` — chainable via ``.transform``; use
    on every per-round barrier inside an iterative loop."""
    return cut(df, deep=True)
