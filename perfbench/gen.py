"""Seeded input generators for the benchmark workloads.

Every table is derived from ``numpy.random.default_rng(seed)`` only, so
one seed always gives byte-identical inputs. The shapes follow the
engine's canonical tables (``tables.TABLES``): the column names, types
and value domains the registered queries and their DuckDB oracles
expect. Fact tables are written with at least ``nproc`` row groups so a
scan can use every core.

Outputs are cached per (workload, scale, seed) under ``<root>/.bench_data``;
a directory is only used once its ``_DONE`` marker exists.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EPOCH_2024_US = int(dt.datetime(2024, 1, 1).timestamp() * 1_000_000) \
    - int(dt.datetime(1970, 1, 1).timestamp() * 1_000_000)

# Sizes at scale 1.0; the smoke test runs the same generators at a tiny
# scale. Each size is stated in BENCHMARK.json's workload "why". Batch
# counts and vocabularies of the small slices do not scale.
UNSCALED = {"batches", "exe_vocab", "probe_vocab"}
SIZES = {
    "mapreduce": {"doc_lines": 4000, "vocab": 500, "ballots": 20000,
                  "exe_lines": 200, "exe_vocab": 8,
                  "batches": 2, "batch_rows": 500, "users": 200},
    "ingest": {"batches": 48, "batch_rows": 1500, "users": 2000,
               "probe_lines": 400, "probe_vocab": 200, "exe_lines": 200,
               "exe_vocab": 8},
}


def _write(table: pa.Table, path: str, row_groups: int) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    rg = max(1, -(-table.num_rows // max(1, row_groups)))
    pq.write_table(table, path, row_group_size=rg)


def _vocabulary(rng: np.random.Generator, n: int) -> np.ndarray:
    """n distinct lowercase ASCII words of 3..9 letters."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: dict[str, None] = {}
    while len(words) < n:
        lens = rng.integers(3, 10, size=n)
        for ln in lens:
            words.setdefault("".join(rng.choice(letters, size=ln)), None)
            if len(words) == n:
                break
    return np.array(list(words))


def documents(rng: np.random.Generator, n_lines: int, vocab_size: int,
              zipf_s: float = 1.1) -> pa.Table:
    """``documents`` table whose words follow Zipf(s) over a seeded
    vocabulary; about 2% of lines are exact copies of earlier lines so
    dedup-style consumers see duplicates."""
    vocab = _vocabulary(rng, vocab_size)
    p = 1.0 / np.arange(1, vocab_size + 1) ** zipf_s
    lens = rng.integers(5, 60, size=n_lines)
    toks = vocab[rng.choice(vocab_size, size=int(lens.sum()), p=p / p.sum())]
    bounds = np.cumsum(lens)[:-1]
    text = [" ".join(t) for t in np.split(toks, bounds)]
    dup = np.flatnonzero(rng.random(n_lines) < 0.02)
    for i in dup[dup > 0]:
        text[i] = text[int(rng.integers(0, i))]
    return pa.table({
        "doc_id": pa.array(np.arange(n_lines), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n_lines, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_lines)]),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def events(rng: np.random.Generator, n: int, users: int, hot: bool,
           start_us: int = EPOCH_2024_US, span_days: int = 30,
           first_id: int = 0) -> pa.Table:
    """Time-ordered ``events``. With ``hot`` the users are Zipf-skewed
    (a few users own most events); otherwise uniform."""
    if hot:
        p = 1.0 / np.arange(1, users + 1) ** 1.2
        uid = rng.permutation(users)[rng.choice(users, size=n, p=p / p.sum())]
    else:
        uid = rng.integers(0, users, size=n)
    ts = np.sort(rng.integers(0, span_days * 86_400_000_000, size=n))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(start_us + ts, pa.timestamp("us")),
        "user_id": pa.array(uid.astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, size=n)),
        "value": pa.array(np.round(rng.exponential(60.0, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, size=n)]),
    })


def _mapreduce(rng: np.random.Generator, out: str, sz: dict,
               nproc: int) -> None:
    _write(documents(rng, sz["doc_lines"], sz["vocab"]),
           f"{out}/corpus/documents.parquet", nproc)
    _write(events(rng, sz["ballots"], 1000, hot=False),
           f"{out}/corpus/events.parquet", nproc)
    # juice_exe runs one process per key: the traced run's exe probe
    # gets its own small-vocabulary slice
    _write(documents(rng, sz["exe_lines"], sz["exe_vocab"]),
           f"{out}/exe/documents.parquet", nproc)
    # small feed for the traced run's FileStore/streaming probe
    _feed(rng, out, sz)


def _feed(rng: np.random.Generator, out: str, sz: dict) -> None:
    """Time-ordered event batches ``feed/bNNN/events.parquet``."""
    n = sz["batches"] * sz["batch_rows"]
    ev = events(rng, n, sz["users"], hot=True, span_days=sz["batches"])
    for b in range(sz["batches"]):
        part = ev.slice(b * sz["batch_rows"], sz["batch_rows"])
        _write(part, f"{out}/feed/b{b:03d}/events.parquet", 1)


def _ingest(rng: np.random.Generator, out: str, sz: dict,
            nproc: int) -> None:
    _feed(rng, out, sz)
    # small corpora for the traced run's MapleJuice probe
    _write(documents(rng, sz["probe_lines"], sz["probe_vocab"]),
           f"{out}/corpus/documents.parquet", nproc)
    _write(documents(rng, sz["exe_lines"], sz["exe_vocab"]),
           f"{out}/exe/documents.parquet", nproc)


def generate(root: str, workload: str, seed: int, scale: float = 1.0,
             nproc: int | None = None) -> str:
    """Build (or reuse) the inputs of ``workload`` for ``seed``; return
    their directory."""
    sz = {k: v if k in UNSCALED else max(2, int(round(v * scale)))
          for k, v in SIZES[workload].items()}
    nproc = nproc or len(os.sched_getaffinity(0))
    out = os.path.join(root, ".bench_data", f"{workload}-x{scale:g}-s{seed}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    {"mapreduce": _mapreduce, "ingest": _ingest}[workload](
        rng, out, sz, nproc)
    with open(os.path.join(out, "_DONE"), "w") as fh:
        fh.write(f"{workload} scale={scale:g} seed={seed}\n")
    return out
