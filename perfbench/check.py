"""Output checks, run after the timed region.

Registered queries are compared with their DuckDB oracle
(``registry.ORACLES``) on the same generated files: row count, column
names, and an order-insensitive hash of the normalised rows. Ingest
outputs are compared with last-writer-wins and row counts computed by
DuckDB over the batches delivered so far.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os

import duckdb
import pyarrow as pa


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    return str(v)


def digest(table: pa.Table) -> tuple[int, list[str], str]:
    """(rows, sorted column names, order-insensitive value hash)."""
    cols = sorted(table.column_names)
    lines = sorted("\x01".join(_cell(r[c]) for c in cols)
                   for r in table.to_pylist())
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return table.num_rows, cols, h.hexdigest()


def mismatch(got: pa.Table, want: pa.Table) -> str | None:
    """None when the tables hold the same rows, else what differs."""
    (gn, gc, gh), (wn, wc, wh) = digest(got), digest(want)
    if gc != wc:
        return f"columns {gc} != {wc}"
    if gn != wn:
        return f"rows {gn} != {wn}"
    if gh != wh:
        return "value hash differs"
    return None


def oracle(sql: str, table_dir: str) -> pa.Table:
    """Run registry oracle SQL over the parquet tables in ``table_dir``."""
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(table_dir)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                            f"'{os.path.join(table_dir, f)}'")
        return con.sql(sql).arrow()
    finally:
        con.close()


def lww_state(batch_files: list[str], user: int | None = None) -> pa.Table:
    """The keyed table CDC must produce: per user, the last event by
    (ts, event_id); an ``error`` event deletes the user."""
    files = ", ".join(f"'{f}'" for f in batch_files)
    where = "" if user is None else f"WHERE user_id = {int(user)}"
    sql = f"""
        SELECT user_id, value AS current_value,
               epoch_us(ts) AS last_ts_us
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
              FROM read_parquet([{files}]) {where})
        WHERE rn = 1 AND event_type <> 'error'"""
    con = duckdb.connect()
    try:
        return con.sql(sql).arrow()
    finally:
        con.close()


def type_counts(batch_files: list[str]) -> pa.Table:
    files = ", ".join(f"'{f}'" for f in batch_files)
    con = duckdb.connect()
    try:
        return con.sql(
            f"SELECT event_type, count(*) AS n FROM read_parquet([{files}]) "
            "GROUP BY event_type").arrow()
    finally:
        con.close()


def keyed_rows(table: pa.Table) -> pa.Table:
    """Project a keyed-table read onto the columns LWW predicts, with
    the timestamp as epoch microseconds (engine and oracle agree on
    that without any time-zone convention)."""
    ts = table.column("last_ts").cast(pa.timestamp("us", tz="UTC")) \
        .cast(pa.int64())
    return pa.table({"user_id": table.column("user_id"),
                     "current_value": table.column("current_value"),
                     "last_ts_us": ts})
