"""Command driver — the reference's interactive CLI on Spark.

The reference is operated through a command loop
(/root/reference/main.go:17 -> run_server.go:328 CLI()): SDFS verbs
`put get delete ls store`, job verbs `maple <exe> <N> <prefix> <src>`
and `juice <exe> <N> <prefix> <dest> <del> [hash|range]`, membership
verbs `join leave id members gossip all-to-all`, and `exit`. This
module keeps that UX contract:

    python -m distributed_system_mapreduce_spark <verb> [args...]
    python -m distributed_system_mapreduce_spark            # REPL loop

Membership verbs print what the platform now owns: cluster membership
and failure detection belong to the Spark resource manager
(YARN/K8s), replication to the storage layer — SURVEY §B documents
the delegation.

Job verbs route through the exe adapter (engine/maple_juice.py), so
the same binaries the reference runs (`wc_maple`, `mj_exe/*`) run
here unmodified; the prefix "file" is a KV dataset in the FileStore
namespace instead of per-key SDFS files (the shuffle carries what the
prefix_<key> files carried).
"""

from __future__ import annotations

import os
import shlex
import sys

_HELP = """commands (reference CLI parity, run_server.go:328):
  put <localpath> <name>        copy a local file/dir into the store
  get <name> <localpath>        copy a stored dataset out
  delete <name>                 remove a dataset (and catalog entry)
  ls <name>                     list the files backing a dataset
  store                         list all datasets in the namespace
  maple <exe> <N> <prefix> <src> [col]
                                run an external map exe over dataset
                                <src>, write (key,value) to <prefix>
  juice <exe> <N> <prefix> <dest> [del={0,1}] [hash|range]
                                run an external reduce exe per key
                                over <prefix>, append to <dest>;
                                del=1 drops <prefix> after
  query <name> [sf_dir]         run a registered analytic query
  explain <name> [sf_dir]       show a query's physical plan
  sql <statement> [sf_dir]      run ad-hoc SQL over the table views
  queries                       list registered queries
  snapshot versions <name>      list committed snapshot versions
  snapshot read <name> [v]      show a version (default latest)
  snapshot restore <name> <v>   roll back (publishes a new version)
  snapshot vacuum <name> [keep] expire history, reclaim dead files
  snapshot compact <name>       fold small files into a new version
  id | members | join | leave | gossip | all-to-all
                                delegated to the cluster platform
  help                          this text
  exit                          leave the loop"""

_DELEGATED = {
    "join": "membership: executors join via the resource manager "
            "(spark-submit / YARN / K8s), not a CLI verb here.",
    "leave": "membership: decommissioning is the resource manager's "
             "job (graceful executor decommission).",
    "id": "node identity: see the Spark UI / applicationId.",
    "members": "membership list: Spark UI executors page / "
               "sc.statusTracker.getExecutorInfos.",
    "gossip": "failure detection: Spark heartbeats handle this; "
              "no gossip/all-to-all switch exists.",
    "all-to-all": "failure detection: Spark heartbeats handle this; "
                  "no gossip/all-to-all switch exists.",
}


def _sniff_fmt(files: list[str]) -> str:
    """Dataset format from the files backing a stored name
    (FileStore.ls, which lists through either IO backend): the first
    file with a known extension decides — engine writes produce
    parquet parts, but `put <localdir>` can store a directory of plain
    line clips (the reference's canonical maple input shape). The
    reference's inputs are line files, so 'text' is the default."""
    ext_map = {".parquet": "parquet", ".csv": "csv",
               ".json": "json", ".jsonl": "json"}
    for f in files:
        fmt = ext_map.get(os.path.splitext(f)[1].lower())
        if fmt:
            return fmt
    return "text"


def _store(spark):
    from distributed_system_mapreduce_spark.sources.filestore import FileStore

    root = os.environ.get("SPARK_GRAFT_STORE", "/tmp/spark_graft_store")
    return FileStore(spark, root)


def run_command(spark, args: list[str]) -> int:
    """Execute one CLI command; returns a process exit code.

    Split out from main() so tests (and the REPL loop) drive the same
    dispatch the one-shot invocation uses. Bad arguments (non-numeric
    task counts, missing files) print an error and return 2 — the
    reference's loop never dies on a typo."""
    try:
        return _dispatch(spark, args)
    except (ValueError, FileNotFoundError) as exc:
        print(f"error: {exc}")
        return 2


def _dispatch(spark, args: list[str]) -> int:
    verb, rest = args[0], args[1:]

    if verb in _DELEGATED:
        print(_DELEGATED[verb])
        return 0

    if verb == "help":
        print(_HELP)
        return 0

    store = _store(spark)

    if verb == "put" and len(rest) == 2:
        store.put(rest[0], rest[1])
        print(f"put {rest[0]} -> {rest[1]}")
    elif verb == "get" and len(rest) == 2:
        store.get(rest[0], rest[1])
        print(f"get {rest[0]} -> {rest[1]}")
    elif verb == "delete" and len(rest) == 1:
        store.delete(rest[0])
        print(f"deleted {rest[0]}")
    elif verb == "ls" and len(rest) == 1:
        for f in store.ls(rest[0]):
            print(f)
    elif verb == "store" and not rest:
        for n in store.store():
            print(n)
    elif verb == "maple" and len(rest) in (4, 5):
        from distributed_system_mapreduce_spark.engine.maple_juice import (
            MapleJuice,
        )

        exe, n, prefix, src = rest[:4]
        col = rest[4] if len(rest) == 5 else None
        src_df = store.read(src, fmt=_sniff_fmt(store.ls(src)))
        kv = MapleJuice(spark).maple_exe(
            src_df, exe, num_tasks=int(n), input_col=col)
        store.write(kv, prefix)
        print(f"maple done: {prefix} ({store._path(prefix)})")
    elif verb == "juice" and len(rest) in (4, 5, 6):
        from distributed_system_mapreduce_spark.engine.maple_juice import (
            MapleJuice,
        )

        exe, n, prefix, dest = rest[:4]
        delete_input = len(rest) >= 5 and rest[4] == "1"
        part = rest[5] if len(rest) == 6 else "hash"
        kv = store.read(prefix)
        out = MapleJuice(spark).juice_exe(
            kv, exe, num_tasks=int(n), partition=part)
        store.append(out, dest)
        if delete_input:
            store.delete(prefix)
        print(f"juice done: {dest} ({store._path(dest)})")
    elif verb in ("query", "explain") and len(rest) in (1, 2):
        from distributed_system_mapreduce_spark import registry
        from distributed_system_mapreduce_spark.tables import DEFAULT_SF_DIR

        name = rest[0]
        if name not in registry.QUERIES:
            print(f"unknown query {name!r}; see `queries`")
            return 2
        sf_dir = rest[1] if len(rest) == 2 else DEFAULT_SF_DIR
        df = registry.QUERIES[name](spark, sf_dir)
        if verb == "explain":
            df.explain("formatted")
        else:
            df.show(50, truncate=False)
    elif verb == "sql" and len(rest) in (1, 2):
        from distributed_system_mapreduce_spark.tables import (
            DEFAULT_SF_DIR,
            register_views,
        )

        sf_dir = rest[1] if len(rest) == 2 else DEFAULT_SF_DIR
        register_views(spark, sf_dir)
        spark.sql(rest[0]).show(50, truncate=False)
    elif verb == "queries" and not rest:
        from distributed_system_mapreduce_spark import registry

        for n in registry.QUERIES:
            print(n)
    elif verb == "snapshot" and rest:
        sub, srest = rest[0], rest[1:]
        if sub == "versions" and len(srest) == 1:
            for v in store.versions(srest[0]):
                print(v)
        elif sub == "read" and len(srest) in (1, 2):
            v = int(srest[1]) if len(srest) == 2 else None
            store.read_snapshot(srest[0], v).show(50, truncate=False)
        elif sub == "restore" and len(srest) == 2:
            v = store.restore_snapshot(srest[0], int(srest[1]))
            print(f"restored {srest[0]} to v{srest[1]} as v{v}")
        elif sub == "vacuum" and len(srest) in (1, 2):
            keep = int(srest[1]) if len(srest) == 2 else 1
            n = store.vacuum_snapshots(srest[0], keep_last=keep)
            print(f"vacuumed {n} files from {srest[0]}")
        elif sub == "compact" and len(srest) == 1:
            v = store.compact_snapshot(srest[0])
            print(f"compacted {srest[0]} as v{v}")
        else:
            print(_HELP)
            return 2
    else:
        print(_HELP)
        return 2
    return 0


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    from distributed_system_mapreduce_spark.session import get_spark

    spark = get_spark()
    if argv:
        return run_command(spark, argv)

    # Interactive loop — the reference's `-> ` prompt (run_server.go:336).
    while True:
        try:
            line = input("-> ")
        except EOFError:
            return 0
        try:
            args = shlex.split(line)
        except ValueError as exc:  # unbalanced quote: keep the loop alive
            print(f"error: {exc}")
            continue
        if not args:
            print(_HELP)
            continue
        if args[0] == "exit":
            return 0
        run_command(spark, args)


if __name__ == "__main__":
    sys.exit(main())
