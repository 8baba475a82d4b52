"""Query operators, one module per domain (tpch, events, graph, stats,
curation, retrieval, dedup, similarity, ...). Each module exposes
QUERIES (name -> callable taking (spark, sf_dir) -> DataFrame) and
ORACLES (name -> DuckDB SQL string over the same tables); `registry`
discovers every module in this package and merges them for
__spark_entry__.py, so a new module needs no registration elsewhere."""
