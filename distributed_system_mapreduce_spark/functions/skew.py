"""Skew-handling primitives for hot keys at scale.

AQE's skew-join splitting (enabled in session.py) covers joins; for
aggregations over pathological key distributions (one key = 30% of a
100 TB table) the classic fix is two-phase salted aggregation:
group on (key, salt) first — spreading the hot key over N reducers —
then re-aggregate by key. Any associative aggregate composes this
way; COUNT/SUM/MIN/MAX are provided.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_MERGE = {"count": F.sum, "sum": F.sum, "min": F.min, "max": F.max}
_FIRST = {"count": lambda c: F.count(c), "sum": lambda c: F.sum(c),
          "min": lambda c: F.min(c), "max": lambda c: F.max(c)}


def salted_join(fact: DataFrame, dim: DataFrame, key: str,
                n_salts: int = 16) -> DataFrame:
    """Skewed fact x medium dim join when the dim is too big to
    broadcast and one fact key dominates: salt the fact side
    randomly, replicate each dim row across all salts, join on
    (key, salt). The hot key's rows spread over n_salts reducers at
    the cost of n_salts x dim shuffle volume. (With AQE skew-join on,
    prefer letting AQE split first — this is the manual fallback for
    aggregation-resistant skew or non-AQE environments.)"""
    fact_s = fact.withColumn(
        "_salt", (F.rand(seed=42) * n_salts).cast("int"))
    dim_s = dim.withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))))
    return fact_s.join(dim_s, [key, "_salt"]).drop("_salt")


def salted_agg(df: DataFrame, key: str | Column, aggs: dict[str, tuple[str, str]],
               n_salts: int = 16) -> DataFrame:
    """Two-phase aggregation: ``aggs`` maps output name ->
    (agg_fn, input_col) with agg_fn in {count, sum, min, max}.

    >>> salted_agg(events, "event_type",
    ...            {"n": ("count", "*"), "total": ("sum", "value")})
    """
    for name, (fn, _) in aggs.items():
        if fn not in _FIRST:
            raise ValueError(f"{name}: unsupported agg {fn!r}; "
                             f"use one of {sorted(_FIRST)}")
    salt = (F.rand(seed=42) * n_salts).cast("int").alias("_salt")
    phase1 = (
        df.withColumn("_salt", salt)
        .groupBy(key, "_salt")
        .agg(*[
            _FIRST[fn](F.lit(1) if col == "*" else F.col(col)).alias(name)
            for name, (fn, col) in aggs.items()
        ])
    )
    return (
        phase1.groupBy(key)
        .agg(*[
            _MERGE[fn](F.col(name)).alias(name)
            for name, (fn, _) in aggs.items()
        ])
    )
