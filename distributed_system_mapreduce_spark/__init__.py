"""distributed_system_mapreduce_spark — a PySpark-native analytics engine
with the query and data-processing capabilities of
sophia-xxx/distributed_system_MapReduce (a Go MapleJuice/SDFS system),
re-expressed Spark-first: DataFrame/SQL logical plans optimized by
Catalyst, shuffle via Spark's native hash/range exchange, streaming via
Structured Streaming.

Layers (see SURVEY.md):
- ``engine``     — MapleJuice-compatible MapReduce API on DataFrames
- ``sources``    — SDFS-parity FileStore catalog + readers/writers
- ``operators``  — queries by domain: TPC-H, events, graph, stats,
                   curation, retrieval, dedup, similarity, streaming
- ``functions``  — reusable column expressions (text, hashing, vectors)
- ``streaming``  — Structured Streaming jobs over the events stream
"""

from distributed_system_mapreduce_spark.session import get_spark  # noqa: F401
from distributed_system_mapreduce_spark.tables import load_table, register_views  # noqa: F401

__version__ = "0.1.0"
