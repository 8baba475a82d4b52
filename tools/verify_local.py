"""Local mimic of the driver's correctness gate.

Runs every queries() entry on Spark and its oracle_sql() twin on
DuckDB at the given SF, compares row count, sorted column names, and
an order-insensitive value hash. Usage:

    python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys

import duckdb

sys.path.insert(0, ".")


def norm_cell(v):
    import datetime
    import decimal
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    argv = sys.argv[1:]
    posture = None
    if argv and argv[0] == "--posture":
        # run the WHOLE gate under a lineage-cut posture (local |
        # persist | reliable) — proves every key's result is
        # posture-independent, not just the sampled test queries
        posture = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as e
    from distributed_system_mapreduce_spark.session import get_spark

    spark = get_spark("verify_local")
    if posture:
        from distributed_system_mapreduce_spark import lineage

        spark.conf.set(lineage.CONF_KEY, posture)
        print(f"lineage-cut posture: {posture}")
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, oracles = e.queries(), e.oracle_sql()
    fails = []
    # The static ANN oracle SQL is only valid while the corpus count
    # resolves to the shipped LSH/IVF constants — assert the
    # agreement BEFORE trusting any ann_* comparison at this SF.
    import distributed_system_mapreduce_spark.operators.similarity as S

    n_emb = con.sql("SELECT COUNT(*) FROM embeddings").fetchone()[0]
    if (S.lsh_params(n_emb) != (S.N_BANDS, S.PLANES_PER_BAND)
            or S.ivf_cells(n_emb) != S.N_CELLS
            or S.pq_k(n_emb) != S.PQ_K
            or S.pq_refine(n_emb) != S.PQ_REFINE):
        print(f"FAIL ann-oracle-preflight: corpus n={n_emb} auto-scales "
              f"past the static-SQL config "
              f"(lsh={S.lsh_params(n_emb)}, ivf={S.ivf_cells(n_emb)}, "
              f"pq_k={S.pq_k(n_emb)}, pq_refine={S.pq_refine(n_emb)})")
        fails.append("ann-oracle-preflight")
    def _drop_cached() -> None:
        # caller-owned cache entries (posture=persist, MapleJuice's
        # range-juice input) and checkpoint RDDs can accumulate over
        # a full-registry run; drop them between queries. NOTE: even
        # in the default local posture, localCheckpoint registers
        # RDDs in getPersistentRDDs, so the blocking unpersist DOES
        # run here — it is safe only because each query's rows are
        # fully collected before this is called (the call must stay
        # after collect())
        spark.catalog.clearCache()
        m = spark.sparkContext._jsc.sc().getPersistentRDDs()
        it = m.iterator()
        while it.hasNext():
            it.next()._2().unpersist(True)

    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            _drop_cached()
        except Exception as ex:
            fails.append(name)
            print(f"FAIL {name}: spark error {type(ex).__name__}: {ex}")
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(srows)} rows) [no oracle]")
            continue
        try:
            res = con.sql(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as ex:
            fails.append(name)
            print(f"FAIL {name}: duckdb error {ex}")
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rows {len(srows)} vs {len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols {sorted(scols)} vs {sorted(dcols)}")
        elif table_hash(scols, srows) != table_hash(dcols, drows):
            problems.append("value hash mismatch")
        if problems:
            fails.append(name)
            print(f"FAIL {name}: {'; '.join(problems)}")
            if "value hash mismatch" in problems:
                so = sorted(range(len(scols)), key=lambda i: scols[i])
                do = sorted(range(len(dcols)), key=lambda i: dcols[i])
                sset = sorted("|".join(norm_cell(r[i]) for i in so) for r in srows)
                dset = sorted("|".join(norm_cell(r[i]) for i in do) for r in drows)
                for a, b in zip(sset, dset):
                    if a != b:
                        print(f"  spark : {a}\n  duckdb: {b}")
                        break
        else:
            print(f"PASS {name} ({len(srows)} rows)")
    print(f"\n{len(fails)} failures" if fails else "\nALL PASS")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
