"""Similarity search over the `embeddings` table (array<float> 64-d).

- ann_topk_brute : exact cosine top-k for a query subset — the
                   correctness baseline. A cross join: fine for a
                   bounded query set, NOT the 100 TB path.
- ann_topk_lsh   : BANDED random-hyperplane LSH (the minhash-banding
                   trick on sign sketches): linear sketch, per-band
                   bucket equi-joins, distinct-candidate cosine
                   re-rank — the scale path (per-band bucket size
                   n / 2^planes_per_band; recall measured vs brute).
- dedup_embedding: near-dup pairs = same LSH bucket AND cosine >= tau
                   (embedding-level near-dedup for training data).

- embedding audits: int8 quantization error, semantic outliers
                   (farthest members per label centroid), label-centroid
                   margins, hard-negative mining over LSH candidates.

All cosines are bit-identical to the DuckDB oracle (see
functions/vectors.py), so even ranks hash-match. Unordered double sums
are snapped to a 1e-9 BIGINT grid (`functions/detmath.NANO_GRID_EXPR`)
before aggregation, with division confined to one fixed-order output
expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_system_mapreduce_spark.functions import vectors as V
from distributed_system_mapreduce_spark.functions.detmath import (
    NANO,
    NANO_GRID_EXPR,
)
from distributed_system_mapreduce_spark.functions.vectors import (
    dist2_expr,
    dist2_sql,
)
from distributed_system_mapreduce_spark.lineage import cut
from distributed_system_mapreduce_spark.tables import load_table, spread

TOP_K = 10
QUERY_MOD = 100  # queries = vecs with vec_id % QUERY_MOD == 0
PANEL_SIZE = 64  # brute baseline: constant query panel, O(corpus) plan
DUP_TAU = 0.3  # the synthetic corpus has no planted near-dups; 0.3 still
# exercises the bucket-then-threshold path with non-trivial output


def _with_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(): the local embeddings parquet is one row group -> one
    # partition, which would serialize every interpreted plane/dot
    # fold into a single task; no-op on well-split inputs
    emb = spread(load_table(spark, "embeddings", sf_dir))
    return emb.select(
        "vec_id", "embedding",
        F.expr(V.norm_expr("embedding")).alias("norm"),
    )


_NORM_SQL = f"""
  SELECT vec_id, embedding, {V.norm_sql("embedding")} AS norm
  FROM embeddings
"""

_COS = (
    "({dot} / (a.norm * b.norm))"
)


def _cos_spark() -> F.Column:
    dot = V.dot_expr("a.embedding", "b.embedding")
    return F.expr(f"{dot} / (a.norm * b.norm)")


_COS_SQL = f"{V.dot_sql('a.embedding', 'b.embedding')} / (a.norm * b.norm)"


def ann_topk_brute(spark: SparkSession, sf_dir: str,
                   nv: DataFrame | None = None) -> DataFrame:
    """Exact top-k neighbors by cosine — the CORRECTNESS BASELINE for
    the LSH/IVF scale paths, deliberately brute-force.

    The query side is a FIXED 64-vector panel (vec_id % QUERY_MOD == 0
    and vec_id < QUERY_MOD * PANEL_SIZE), broadcast into a nested-loop
    join, so the plan is O(64 x corpus) — linear in the corpus at any
    scale, never corpus x corpus. Growing the corpus grows candidates,
    not queries; for bulk query sets use ann_topk_lsh / ann_topk_ivf
    (bucketed equi-joins).

    nv: optional pre-built (vec_id, embedding, norm) table —
    ann_recall_eval passes ONE checkpointed copy into all five
    method builders so the eval scans the corpus once (r11)."""
    from pyspark.sql import Window

    vecs = _with_norm(spark, sf_dir) if nv is None else nv
    q = F.broadcast(
        vecs.filter(
            (F.col("vec_id") % QUERY_MOD == 0)
            & (F.col("vec_id") < QUERY_MOD * PANEL_SIZE)
        )
    ).alias("a")
    c = vecs.alias("b")
    pairs = (
        q.join(c, F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            _cos_spark().alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
    )


ANN_TOPK_BRUTE_SQL = f"""
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           {_COS_SQL} AS cosine
    FROM ({_NORM_SQL}) a
    JOIN ({_NORM_SQL}) b ON a.vec_id <> b.vec_id
    WHERE a.vec_id % {QUERY_MOD} = 0
      AND a.vec_id < {QUERY_MOD} * {PANEL_SIZE}
  )
)
WHERE rank <= {TOP_K}
"""


def ann_topk_same_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search: each panel query retrieves its exact
    cosine top-k only among vectors sharing its label — the
    metadata-scoped retrieval every production vector store serves
    (tenant / language / shard scoping, dedup within a split).

    Scale shape: the metadata predicate becomes the JOIN KEY — the
    64 x N nested loop of the unfiltered baseline turns into a hash
    equi-join on label, so each query scores corpus/L candidates
    instead of corpus (pre-filtering, not post-filter-and-hope, which
    at high selectivity starves top-k below k). The same predicate
    composes with the IVF cell join for the sublinear path. Exact
    integer-free double cosines in fixed per-row fold order, same
    determinism argument as ann_topk_brute."""
    from pyspark.sql import Window

    emb = spread(load_table(spark, "embeddings", sf_dir))
    vecs = emb.select(
        "vec_id", "label", "embedding",
        F.expr(V.norm_expr("embedding")).alias("norm"),
    )
    q = F.broadcast(
        vecs.filter(
            (F.col("vec_id") % QUERY_MOD == 0)
            & (F.col("vec_id") < QUERY_MOD * PANEL_SIZE)
        )
    ).alias("a")
    c = vecs.alias("b")
    pairs = (
        q.join(c, (F.col("a.label") == F.col("b.label"))
               & (F.col("a.vec_id") != F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("a.label").alias("label"),
            F.col("b.vec_id").alias("neighbor_id"),
            _cos_spark().alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
    )


_NORM_LABEL_SQL = f"""
  SELECT vec_id, label, embedding, {V.norm_sql("embedding")} AS norm
  FROM embeddings
"""

ANN_TOPK_SAME_LABEL_SQL = f"""
SELECT query_id, label, neighbor_id, cosine, rank FROM (
  SELECT query_id, label, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM (
    SELECT a.vec_id AS query_id, a.label AS label,
           b.vec_id AS neighbor_id,
           {_COS_SQL} AS cosine
    FROM ({_NORM_LABEL_SQL}) a
    JOIN ({_NORM_LABEL_SQL}) b
      ON a.label = b.label AND a.vec_id <> b.vec_id
    WHERE a.vec_id % {QUERY_MOD} = 0
      AND a.vec_id < {QUERY_MOD} * {PANEL_SIZE}
  )
)
WHERE rank <= {TOP_K}
"""


def _with_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = _with_norm(spark, sf_dir)
    return vecs.withColumn(
        "bucket", F.expr(V.lsh_bucket_expr("embedding")))


_BUCKET_SQL = f"""
  SELECT vec_id, embedding, norm,
         {V.lsh_bucket_sql("embedding")} AS bucket
  FROM ({_NORM_SQL})
"""


# Banded LSH: recall 1-(1-p^ppb)^bands vs single-bucket p^8.
# Measured vs the brute panel (tests/test_similarity_quality.py):
# bands 6 -> 0.60-0.62, 8 -> 0.68-0.70, 12 -> 0.82-0.84 at both test
# SFs, runtime flat (the sketch is linear; candidates dominate).
# 12x4 keeps per-band bucket selectivity at 1/16 — the knob that
# bounds candidate volume at scale. The growth rules are CODE now,
# not comments: lsh_params(n) / ivf_cells(n) below are applied at
# index-build time from the corpus count.
N_BANDS = 12
PLANES_PER_BAND = 4
LSH_TARGET_BUCKET = 4096  # expected per-band bucket occupancy target
MAX_BANDS = 32


def lsh_params(n: int) -> tuple[int, int]:
    """(bands, planes_per_band) for a corpus of n vectors — the
    documented growth rules computed instead of hand-retuned:
    planes_per_band grows ~ceil(log2(n / LSH_TARGET_BUCKET)) so the
    expected per-band bucket occupancy n/2^ppb stays ~constant (the
    candidate-volume bound); each extra plane multiplies the per-band
    hit rate of a true neighbor by p, so bands grow 4 per extra plane
    to buy the recall back (1-(1-p^ppb)^bands), capped at MAX_BANDS
    to bound sketch width. At every test corpus size (<= 2^ppb *
    LSH_TARGET_BUCKET = 64k) the rule returns the shipped 12x4
    config, which keeps the static SQL oracles exact; past the knee
    the index auto-scales."""
    import math

    ppb = PLANES_PER_BAND
    if n > LSH_TARGET_BUCKET:
        ppb = max(PLANES_PER_BAND,
                  math.ceil(math.log2(n / LSH_TARGET_BUCKET)))
    bands = min(MAX_BANDS, N_BANDS + 4 * (ppb - PLANES_PER_BAND))
    return bands, ppb


def _bands_union_sql() -> str:
    return " UNION ALL ".join(
        f"SELECT vec_id, {i} AS band, "
        f"{V.lsh_band_bucket_sql('embedding', i, PLANES_PER_BAND)} AS bucket "
        f"FROM embeddings"
        for i in range(N_BANDS)
    )


def _lsh_store(spark: SparkSession, sf_dir: str,
               nv: DataFrame | None = None) -> DataFrame:
    """The banded-LSH index store: norm + all band buckets per
    vector, built ONCE and lineage-cut — the band self-join and both
    re-rank sides reuse it instead of recomputing the interpreted
    plane folds per side (measured ~2x at sf0.1). On a cluster this
    store is the persisted/bucketed ANN index artifact. Band count
    and planes per band come from lsh_params(corpus count) at build
    time (a parquet-metadata count — no data scan), so the index
    auto-scales past the 64k knee without hand-retuning."""
    base = _with_norm(spark, sf_dir) if nv is None else nv
    bands, ppb = lsh_params(_corpus_count(spark, sf_dir))
    bb = F.array(*[
        F.struct(
            F.lit(i).alias("band"),
            F.expr(V.lsh_band_bucket_expr(
                "embedding", i, ppb)).alias("bucket"),
        )
        for i in range(bands)
    ])
    return base.withColumn("bands", bb).transform(cut)


def _lsh_candidates(spark: SparkSession, sf_dir: str,
                    store: DataFrame | None = None) -> DataFrame:
    """Distinct (query_id, neighbor_id) candidate pairs from the band
    bucket equi-joins — the measured cost unit of the LSH path (the
    re-rank pays one 64-d cosine per row of this)."""
    store = _lsh_store(spark, sf_dir) if store is None else store
    bands = store.select(
        "vec_id", F.explode("bands").alias("bb")
    ).select("vec_id", F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"))
    q = bands.filter(F.col("vec_id") % QUERY_MOD == 0).alias("a")
    c = bands.alias("b")
    return (
        q.join(c, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.vec_id") != F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
        )
        .distinct()
    )


def ann_topk_lsh(spark: SparkSession, sf_dir: str,
                 nv: DataFrame | None = None) -> DataFrame:
    """Banded random-hyperplane LSH ANN: a candidate shares the
    query's bucket in AT LEAST ONE band (same banding trick as
    minhash-LSH text dedup); exact cosine re-rank over the distinct
    candidate set. Single-bucket probing (the naive formulation)
    retrieves ~nothing on a corpus without cluster structure — banding
    is what makes sign-LSH recall real, measured in
    tests/test_similarity_quality.py against the brute baseline
    (0.82-0.84 at the shipped 12x4 config).

    Scale: sketching is linear (bands x planes dot products, narrow);
    candidates come from bands bucket equi-joins (shuffle by (band,
    bucket)); the distinct collapses multi-band hits before the
    re-rank pays the 64-d cosine; per-band bucket size is corpus/2^ppb
    — keep it constant by growing planes_per_band with the corpus."""
    from pyspark.sql import Window

    store = _lsh_store(spark, sf_dir, nv=nv)
    cand = _lsh_candidates(spark, sf_dir, store)
    vecs = store.select("vec_id", "embedding", "norm")
    pairs = (
        cand.join(vecs.alias("a"),
                  F.col("query_id") == F.col("a.vec_id"))
        .join(vecs.alias("b"),
              F.col("neighbor_id") == F.col("b.vec_id"))
        .select("query_id", "neighbor_id", _cos_spark().alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
    )


ANN_TOPK_LSH_SQL = f"""
WITH bands AS ({{bands}}),
cand AS (
  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
  FROM bands a
  JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
  WHERE a.vec_id % {QUERY_MOD} = 0
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM (
    SELECT query_id, neighbor_id, {_COS_SQL} AS cosine
    FROM cand
    JOIN ({_NORM_SQL}) a ON cand.query_id = a.vec_id
    JOIN ({_NORM_SQL}) b ON cand.neighbor_id = b.vec_id
  )
)
WHERE rank <= {TOP_K}
"""
ANN_TOPK_LSH_SQL = ANN_TOPK_LSH_SQL.format(bands=_bands_union_sql())


N_CELLS = 16  # IVF codebook floor; ivf_cells(n) grows it ~sqrt(n)
IVF_TARGET_CELL = 256  # target average cell occupancy


def ivf_cells(n: int) -> int:
    """IVF codebook size for a corpus of n vectors: the next power of
    two >= sqrt(n / IVF_TARGET_CELL), floored at N_CELLS — cells ~
    sqrt(n) keeps (cells scanned for assignment) x (vectors per
    probed cell) balanced, the standard IVF sizing. At every test
    corpus size (n <= N_CELLS^2 * IVF_TARGET_CELL = 64k) the rule
    returns the shipped 16, keeping the static SQL oracles exact;
    past the knee the index auto-scales with NPROBE fixed."""
    import math

    c = math.isqrt(max(n, 1) // IVF_TARGET_CELL)
    p = 1
    while p < c:
        p <<= 1
    return max(N_CELLS, p)


_CORPUS_COUNT_CACHE: dict[str, int] = {}


def _corpus_count(spark: SparkSession, sf_dir: str) -> int:
    """Embedding-corpus row count (parquet-metadata count — no data
    scan), memoized per sf_dir: the IVF cell assignment and the query
    prober both need it per build, and the test corpora are
    immutable for a session's lifetime."""
    n = _CORPUS_COUNT_CACHE.get(sf_dir)
    if n is None:
        n = load_table(spark, "embeddings", sf_dir).count()
        _CORPUS_COUNT_CACHE[sf_dir] = n
    return n


def warm_corpus_count(spark: SparkSession, sf_dir: str) -> int:
    """Public warm-up hook for bench/verify harnesses: prime the
    memoized corpus count so the parquet-metadata read isn't billed
    to whichever ANN query happens to run first in a timed group.
    Harnesses should call this instead of the private memo."""
    return _corpus_count(spark, sf_dir)


def _ivf_n_cells(spark: SparkSession, sf_dir: str) -> int:
    return ivf_cells(_corpus_count(spark, sf_dir))


def _with_cell(spark: SparkSession, sf_dir: str,
               nv: DataFrame | None = None) -> DataFrame:
    """IVF coarse quantizer: cell = argmin squared-L2 to a
    deterministic sample codebook (the first ivf_cells(n) vectors by
    vec_id — sample-based codebooks are a standard IVF flavor and
    need no float-mean training step, which keeps the arithmetic
    bit-identical to the oracle). Assignment = broadcast the K
    codewords, narrow xK distance map, min(struct(dist, cid)) —
    no window, one partial-aggregating shuffle."""
    n_cells = _ivf_n_cells(spark, sf_dir)
    vecs = _with_norm(spark, sf_dir) if nv is None else nv
    seeds = vecs.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb"))
    d2 = F.expr(V.dist2_expr("embedding", "cemb"))
    asg = (
        vecs.join(F.broadcast(seeds))
        .groupBy("vec_id")
        .agg(F.min(F.struct(d2.alias("d2"), F.col("cid").alias("cid")))
             .alias("best"))
        .select("vec_id", F.col("best.cid").alias("cell"))
    )
    return vecs.join(asg, "vec_id")


_CELL_SQL = f"""
  SELECT v.vec_id, v.embedding, v.norm, a.cell
  FROM ({_NORM_SQL}) v
  JOIN (
    SELECT vec_id, cid AS cell FROM (
      SELECT v.vec_id, s.cid,
             ROW_NUMBER() OVER (
               PARTITION BY v.vec_id
               ORDER BY {{dist}} ASC, s.cid ASC) AS rn
      FROM ({_NORM_SQL}) v
      CROSS JOIN (SELECT vec_id AS cid, embedding AS cemb
                  FROM ({_NORM_SQL}) WHERE vec_id < {N_CELLS}) s
    ) WHERE rn = 1
  ) a ON v.vec_id = a.vec_id
""".format(dist=V.dist2_sql("v.embedding", "s.cemb"))


# Query probes its NPROBE nearest cells (corpus vecs stay in 1).
# Measured recall vs brute: nprobe 4 -> 0.46-0.51, 6 -> 0.65-0.72,
# 8 -> 0.77-0.78. On the synthetic corpus (no cluster structure) the
# recall/probed-fraction curve is near-linear — real embedding
# corpora concentrate neighbors in few cells, so N_CELLS ~ sqrt(n)
# with NPROBE fixed keeps probed volume sublinear there.
NPROBE = 8


def _query_probes(spark: SparkSession, sf_dir: str,
                  nv: DataFrame | None = None) -> DataFrame:
    """The NPROBE nearest codebook cells per QUERY vector (row_number
    over a 16-row-per-query broadcast-join table — partitioned by
    vec_id, never global)."""
    from pyspark.sql import Window

    n_cells = _ivf_n_cells(spark, sf_dir)
    base = _with_norm(spark, sf_dir) if nv is None else nv
    vecs = base.filter(
        F.col("vec_id") % QUERY_MOD == 0)
    seeds = base.filter(
        F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb"))
    d2 = F.expr(V.dist2_expr("embedding", "cemb"))
    w = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cid"))
    return (
        vecs.join(F.broadcast(seeds))
        .select("vec_id", "cid", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= NPROBE)
        .select("vec_id", F.col("cid").alias("cell"))
    )


def ann_topk_ivf(spark: SparkSession, sf_dir: str,
                 nv: DataFrame | None = None) -> DataFrame:
    """IVF ANN: inverted-file search with a deterministic sample
    codebook. Corpus vectors live in their nearest coarse cell; each
    query probes its NPROBE nearest cells (nprobe>1 is what buys IVF
    its recall — measured vs the brute baseline in
    tests/test_similarity_quality.py), with exact cosine re-rank over
    the probed cells' contents. The cell join shuffles by cell id;
    codebook size bounds candidate-list length, and on a real corpus
    N_CELLS grows ~sqrt(n) (and NPROBE stays O(1)) to keep probed
    volume constant per query."""
    from pyspark.sql import Window

    vecs = _with_cell(spark, sf_dir, nv=nv)
    probes = _query_probes(spark, sf_dir, nv=nv).alias("p")
    q = (_with_norm(spark, sf_dir) if nv is None else nv).filter(
        F.col("vec_id") % QUERY_MOD == 0).alias("a")
    c = vecs.alias("b")
    # explicit broadcast of the panel x probes side (<= PANEL_SIZE x
    # NPROBE rows by construction): pins the strategy stats would
    # choose — required when nv is a checkpoint (stats erased)
    pairs = (
        F.broadcast(
            q.join(F.broadcast(probes),
                   F.col("a.vec_id") == F.col("p.vec_id")))
        .join(c, (F.col("p.cell") == F.col("b.cell"))
              & (F.col("a.vec_id") != F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            _cos_spark().alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
    )


ANN_TOPK_IVF_SQL = f"""
WITH probes AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT v.vec_id, s.cid,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY {V.dist2_sql("v.embedding", "s.cemb")} ASC,
                      s.cid ASC) AS rn
    FROM ({_NORM_SQL}) v
    CROSS JOIN (SELECT vec_id AS cid, embedding AS cemb
                FROM ({_NORM_SQL}) WHERE vec_id < {N_CELLS}) s
    WHERE v.vec_id % {QUERY_MOD} = 0
  ) WHERE rn <= {NPROBE}
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           {_COS_SQL} AS cosine
    FROM ({_NORM_SQL}) a
    JOIN probes p ON a.vec_id = p.vec_id
    JOIN ({_CELL_SQL}) b
      ON p.cell = b.cell AND a.vec_id <> b.vec_id
  )
)
WHERE rank <= {TOP_K}
"""


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: same LSH bucket, cosine >= tau.

    Single 8-plane bucket: near-dups (cosine ~0.9+) agree on all 8
    sign bits often enough for a cheap first pass; for higher recall
    at the same τ switch the candidate stage to the banded store
    (as ann_topk_lsh does) — recall 1-(1-p^ppb)^bands at bands× the
    pairwise cost."""
    vecs = _with_bucket(spark, sf_dir)
    a = vecs.alias("a")
    b = vecs.alias("b")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            _cos_spark().alias("cosine"),
        )
        .filter(F.col("cosine") >= DUP_TAU)
    )


DEDUP_EMBEDDING_SQL = f"""
SELECT vec_a, vec_b, cosine FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {_COS_SQL} AS cosine
  FROM ({_BUCKET_SQL}) a
  JOIN ({_BUCKET_SQL}) b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
WHERE cosine >= {DUP_TAU}
"""


# ------------------------------------------------ product quantization
PQ_M = 8        # subspaces (DIM/PQ_M dims each)
PQ_K = 16       # codewords per subspace (codebook = first PQ_K vecs)
PQ_SUB = V.DIM // PQ_M
# Exact-refine depth (the ADC+R shape from the public IVFADC
# literature: scan with the 8-add LUT estimate, keep the top
# PQ_REFINE candidates per query, re-rank ONLY those with exact
# cosines). Without refine the estimate's quantization noise must
# order the whole corpus — measured above the 64k auto-scale knee
# (SCALING.json ann_knee, 128k vectors) est-only recall collapsed to
# 0.03/0.02; the refine pass costs PQ_REFINE exact 64-d cosines per
# query and restores the floors.
PQ_REFINE = 8 * TOP_K
PQ_KNEE = 65536  # n <= knee -> floor params (static SQL oracles exact)
PQ_MAX_K = 256


def pq_k(n: int) -> int:
    """Codewords per subspace for a corpus of n vectors: the shipped
    PQ_K floor below the knee (keeps the static SQL oracles exact at
    every test SF), then the next power of two >= PQ_K*sqrt(n/knee),
    capped at PQ_MAX_K — codebook resolution ~ sqrt(n), the same
    balance rule as ivf_cells (quantization cells must multiply with
    the corpus or the estimate's rank dispersion swamps any bounded
    refine; measured at 128k: fixed 16-codeword codebook held recall
    at 0.11-0.12 even WITH refine)."""
    import math

    if n <= PQ_KNEE:
        return PQ_K
    target = PQ_K * math.sqrt(n / PQ_KNEE)
    p = PQ_K
    while p < target and p < PQ_MAX_K:
        p <<= 1
    return p


def pq_refine(n: int) -> int:
    """Exact-refine depth: the PQ_REFINE floor below the knee, then
    linear in n/knee — the number of corpus vectors whose ADC
    estimate lands within quantization noise of the true top-k grows
    ~linearly with n at fixed code width, so the depth must track it
    to keep surfacing the true neighbors; the refine pass stays a
    vanishing fraction of the scan (depth/n = PQ_REFINE/knee ~=
    0.1%) and each refined row costs one exact 64-d cosine."""
    import math

    if n <= PQ_KNEE:
        return PQ_REFINE
    return PQ_REFINE * math.ceil(n / PQ_KNEE)


def _pq_d2_expr(es: str, cs: str) -> str:
    """Spark SQL: squared L2 between an 8-dim slice of `embedding`
    (1-based start `es`) and a slice of the flat codebook `flat_cw`
    (start `cs`) — strict indexed left fold, the same shape as the
    DuckDB twin below so summation order matches bit-for-bit."""
    diff = (
        f"(CAST(element_at(embedding, CAST({es} + j - 1 AS INT)) AS DOUBLE)"
        f" - element_at(flat_cw, CAST({cs} + j - 1 AS INT)))")
    return (f"aggregate(sequence(1, {PQ_SUB}), CAST(0 AS DOUBLE), "
            f"(acc, j) -> acc + {diff} * {diff})")


def _pq_d2_sql(es: str, cs: str) -> str:
    diff = (f"(CAST(embedding[{es} + j - 1] AS DOUBLE) - "
            f"flat_cw[{cs} + j - 1])")
    return (f"list_reduce(list_transform(range(1, {PQ_SUB + 1}), "
            f"j -> {diff} * {diff}), (acc, x) -> acc + x)")


# corpus encode: codes[m] = argmin_k d2(subvec_m, codeword_{m,k});
# first-min tie-break is identical on both engines (array_position /
# list_position return the first match of the same computed doubles).
# All PQ expressions are BUILDERS over the codebook size k: the
# queries call them with pq_k(n) so the codebook auto-scales past the
# knee, while the static floor-built twins below keep the SQL oracles
# exact at every test SF (verify_local's ann preflight asserts the
# agreement).
_PQ_DISTS = "transform(sequence(0, {K1}), k -> {d2})"


def _pq_codes_expr(k: int) -> str:
    d2 = _pq_d2_expr(f"m * {PQ_SUB} + 1",
                     f"k * {V.DIM} + m * {PQ_SUB} + 1")
    dists = _PQ_DISTS.format(K1=k - 1, d2=d2)
    return (f"transform(sequence(0, {PQ_M - 1}), m -> array_position("
            f"{dists}, array_min({dists})) - 1)")


def _pq_codes_sql(k: int) -> str:
    d2 = _pq_d2_sql(f"m * {PQ_SUB} + 1",
                    f"k * {V.DIM} + m * {PQ_SUB} + 1")
    dists = f"list_transform(range(0, {k}), k -> {d2})"
    return (f"list_transform(range(0, {PQ_M}), m -> list_position("
            f"{dists}, list_min({dists})) - 1)")


# query-side ADC lookup table: lut[m*K + k] = d2(q_subvec_m, cw_{m,k})
def _pq_lut_expr(k: int) -> str:
    return (
        f"transform(sequence(0, {PQ_M * k - 1}), i -> "
        + _pq_d2_expr(f"(i div {k}) * {PQ_SUB} + 1",
                      f"(i % {k}) * {V.DIM} + (i div {k}) * {PQ_SUB} + 1")
        + ")"
    )


def _pq_lut_sql(k: int) -> str:
    return (
        f"list_transform(range(0, {PQ_M * k}), i -> "
        + _pq_d2_sql(f"(i // {k}) * {PQ_SUB} + 1",
                     f"(i % {k}) * {V.DIM} + (i // {k}) * {PQ_SUB} + 1")
        + ")"
    )


# asymmetric distance: fixed-order fold over subspaces
def _pq_est_expr(k: int) -> str:
    return (
        f"aggregate(sequence(0, {PQ_M - 1}), CAST(0 AS DOUBLE), "
        f"(acc, m) -> acc + element_at(lut, CAST(m * {k} "
        f"+ element_at(codes, CAST(m + 1 AS INT)) + 1 AS INT)))"
    )


def _pq_est_sql(k: int) -> str:
    return (f"list_reduce(list_transform(range(0, {PQ_M}), m -> "
            f"lut[m * {k} + codes[m + 1] + 1]), (acc, x) -> acc + x)")


# floor-built statics for the SQL oracles (exact below the knee)
_PQ_CODES_SQL = _pq_codes_sql(PQ_K)
_PQ_LUT_SQL = _pq_lut_sql(PQ_K)
_PQ_EST_SQL = _pq_est_sql(PQ_K)


def _refine_exact(spark: SparkSession, sf_dir: str,
                  est_pairs: DataFrame,
                  depth: int = PQ_REFINE,
                  nv: DataFrame | None = None) -> DataFrame:
    """Exact-refine stage shared by the two PQ paths (the ADC+R
    composition): keep each query's PQ_REFINE best candidates by the
    ADC estimate (est asc, id asc — deterministic), then score ONLY
    those with the exact 64-d cosine and emit the true top-k by
    (cosine desc, id asc). The exact pass touches PQ_REFINE rows per
    query regardless of corpus size, so the scan stays
    compressed-width; recall no longer depends on the estimate
    ORDERING the whole corpus correctly, only on it surfacing the
    true neighbors into the top PQ_REFINE (measured above the 64k
    knee: est-only 0.03 -> refined well above the floors)."""
    from pyspark.sql import Window

    nv = _with_norm(spark, sf_dir) if nv is None else nv
    we = Window.partitionBy("query_id").orderBy(
        F.asc("est_dist2"), F.asc("neighbor_id"))
    cand = (
        est_pairs.withColumn("rk", F.row_number().over(we))
        .filter(F.col("rk") <= depth)
        .select("query_id", "neighbor_id")
    )
    # cand is <= panel x depth rows by construction (bounded id pairs,
    # a vanishing fraction of the corpus at any scale); the explicit
    # hint pins the build side stats would choose — required when nv
    # is a checkpoint (stats erased), harmless otherwise
    scored = (
        F.broadcast(
            F.broadcast(cand)
            .join(nv.alias("a"),
                  F.col("query_id") == F.col("a.vec_id")))
        .join(nv.alias("b"), F.col("neighbor_id") == F.col("b.vec_id"))
        .select("query_id", "neighbor_id", _cos_spark().alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
    )


def _refine_sql(est_pairs_sql: str) -> str:
    """DuckDB twin of _refine_exact, wrapped around a SELECT that
    yields (query_id, neighbor_id, est_dist2)."""
    return f"""
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC)
           AS rank
  FROM (
    SELECT r.query_id, r.neighbor_id, {_COS_SQL} AS cosine
    FROM (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY est_dist2 ASC,
                                           neighbor_id ASC) AS rk
        FROM ({est_pairs_sql})
      ) WHERE rk <= {PQ_REFINE}
    ) r
    JOIN ({_NORM_SQL}) a ON r.query_id = a.vec_id
    JOIN ({_NORM_SQL}) b ON r.neighbor_id = b.vec_id
  )
)
WHERE rank <= {TOP_K}
"""


def ann_topk_pq(spark: SparkSession, sf_dir: str,
                nv: DataFrame | None = None) -> DataFrame:
    """Product-quantization ANN (IVF-PQ's compression half): every
    corpus vector is encoded as PQ_M codebook indices (64 floats ->
    8 nibbles, a 64x memory cut — the trick that lets a 100 TB vector
    corpus live in RAM as a scannable index), queries score candidates
    with the asymmetric-distance LUT (one 8-add fold per candidate,
    no 64-dim arithmetic in the scan loop), keep the top PQ_REFINE by
    the estimate, and re-rank ONLY those with exact cosines (the
    ADC+R composition from the public IVFADC literature — r10, after
    the above-knee measurement showed est-only ordering collapses at
    128k vectors). Completes the ANN family: brute (exact baseline),
    banded LSH + IVF (candidate pruning), PQ (compressed scan +
    bounded exact refine).

    Deterministic sample codebook (first PQ_K vectors' subvectors, the
    same convention as IVF/k-means seeding), so the DuckDB oracle
    replicates the encode + LUT + fold bit-for-bit. Recall vs brute is
    floored in tests/test_similarity_quality.py."""
    n = _corpus_count(spark, sf_dir)
    k = pq_k(n)
    vecs = (
        spread(load_table(spark, "embeddings", sf_dir))
        if nv is None else nv
    ).select("vec_id", "embedding")
    cb = (
        vecs.filter(F.col("vec_id") < k)
        .agg(F.expr(
            "flatten(transform("
            "sort_array(collect_list(struct(vec_id, embedding))), "
            "s -> transform(s.embedding, x -> CAST(x AS DOUBLE))))"
        ).alias("flat_cw"))
    )
    corpus = (
        vecs.crossJoin(F.broadcast(cb))
        .select("vec_id", F.expr(_pq_codes_expr(k)).alias("codes"))
    )
    queries = (
        vecs.filter(F.col("vec_id") % QUERY_MOD == 0)
        .crossJoin(F.broadcast(cb))
        .select(F.col("vec_id").alias("query_id"),
                F.expr(_pq_lut_expr(k)).alias("lut"))
    )
    pairs = (
        F.broadcast(queries)
        .join(corpus, F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(_pq_est_expr(k)).alias("est_dist2"),
        )
    )
    return _refine_exact(spark, sf_dir, pairs, depth=pq_refine(n),
                         nv=nv)


ANN_TOPK_PQ_SQL = f"""
WITH cb AS (
  SELECT flatten(list(list_transform(embedding, x -> CAST(x AS DOUBLE))
                      ORDER BY vec_id)) AS flat_cw
  FROM embeddings WHERE vec_id < {PQ_K}
),
corpus AS (
  SELECT vec_id, {_PQ_CODES_SQL} AS codes
  FROM embeddings CROSS JOIN cb
),
queries AS (
  SELECT vec_id AS query_id, {_PQ_LUT_SQL} AS lut
  FROM embeddings CROSS JOIN cb
  WHERE vec_id % {QUERY_MOD} = 0
)
{_refine_sql(f'''
    SELECT query_id, c.vec_id AS neighbor_id, {_PQ_EST_SQL} AS est_dist2
    FROM queries q JOIN corpus c ON q.query_id <> c.vec_id
''')}
"""


def embedding_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup clusters: connected components over the
    embedding near-dup pair graph (dedup_embedding edges), each vector
    labeled with its cluster representative (min vec_id) — the
    embedding-side twin of the text pipeline's dedup_components, and
    the step that turns pairwise cosine hits into keep-one-per-cluster
    decisions.

    Reuses the shared min-label propagation engine (dedup.py); edges
    come from the LSH-bucket + cosine>=tau pair stage, so the graph is
    tiny vs the corpus and rounds are join + partial-agg shuffles.
    Oracle: independent recursive-CTE transitive closure."""
    from distributed_system_mapreduce_spark.operators.dedup import (
        min_label_components,
    )

    pairs = dedup_embedding(spark, sf_dir).select("vec_a", "vec_b")
    return min_label_components(pairs).select(
        F.col("doc_id").alias("vec_id"), "component")


EMBEDDING_COMPONENTS_SQL = f"""
WITH RECURSIVE e AS (
  SELECT vec_a AS src, vec_b AS dst FROM ({DEDUP_EMBEDDING_SQL})
  UNION
  SELECT vec_b, vec_a FROM ({DEDUP_EMBEDDING_SQL})
),
reach(a, b) AS (
  SELECT src, src FROM e
  UNION
  SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src
)
SELECT a AS vec_id, MIN(b) AS component
FROM reach
GROUP BY a
"""


def embedding_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style emit: a vector survives semantic dedup iff it is
    in no near-dup component, or it is its component's representative
    (min vec_id) — the embedding-side twin of the text pipeline's
    dedup_apply, completing pairs -> components -> kept-corpus.

    The corpus scan stays un-shuffled: component labels cover only
    vectors in the near-dup graph (tiny vs corpus) and broadcast onto
    a left join; the keep-filter is narrow."""
    vecs = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", "label")
    comp = embedding_components(spark, sf_dir)
    return (
        vecs.join(F.broadcast(comp), "vec_id", "left")
        .filter(F.col("component").isNull()
                | (F.col("component") == F.col("vec_id")))
        .select(
            "vec_id", "label",
            F.coalesce("component", F.col("vec_id")).alias("component"),
            F.col("component").isNotNull().cast("long")
            .alias("was_clustered"),
        )
    )


EMBEDDING_DEDUP_APPLY_SQL = f"""
WITH comp AS ({EMBEDDING_COMPONENTS_SQL})
SELECT v.vec_id, v.label,
       COALESCE(c.component, v.vec_id) AS component,
       CAST(CASE WHEN c.component IS NOT NULL THEN 1 ELSE 0 END
            AS BIGINT) AS was_clustered
FROM embeddings v LEFT JOIN comp c ON v.vec_id = c.vec_id
WHERE c.component IS NULL OR c.component = v.vec_id
"""


# ------------------------------------------- incremental index probe
DELTA_MOD = 97  # "today's arrivals": vec_id % DELTA_MOD == 0 (~1%)


def ann_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN: today's arrival vectors (the delta) probe the
    STANDING banded-LSH index built over the existing corpus — the
    interactive/streaming-ingest posture (same delta x index
    discipline as dedup_incremental: per-query cost ∝ delta x bucket,
    never corpus x corpus re-pairing, and the index store is the
    persisted artifact new batches keep probing).

    Corpus = vecs with vec_id % DELTA_MOD != 0; delta = the rest.
    Candidates share >= 1 of 6 band buckets; exact cosine re-rank to
    top-k with the standard full tie-break."""
    from pyspark.sql import Window

    bb = F.array(*[
        F.struct(
            F.lit(i).alias("band"),
            F.expr(V.lsh_band_bucket_expr(
                "embedding", i, PLANES_PER_BAND)).alias("bucket"),
        )
        for i in range(N_BANDS)
    ])
    store = (
        _with_norm(spark, sf_dir).withColumn("bands", bb)
        .transform(cut)
    )
    bands = store.select(
        "vec_id", F.explode("bands").alias("bb")
    ).select("vec_id", F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"))
    is_delta = F.col("vec_id") % DELTA_MOD == 0
    q = bands.filter(is_delta).alias("a")
    c = bands.filter(~is_delta).alias("b")
    cand = (
        q.join(c, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket")))
        .select(F.col("a.vec_id").alias("query_id"),
                F.col("b.vec_id").alias("neighbor_id"))
        .distinct()
    )
    vecs = store.select("vec_id", "embedding", "norm")
    pairs = (
        cand.join(vecs.alias("a"),
                  F.col("query_id") == F.col("a.vec_id"))
        .join(vecs.alias("b"),
              F.col("neighbor_id") == F.col("b.vec_id"))
        .select("query_id", "neighbor_id", _cos_spark().alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
    )


ANN_INCREMENTAL_SQL = f"""
WITH bands AS ({{bands}}),
cand AS (
  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
  FROM bands a
  JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.vec_id % {DELTA_MOD} = 0 AND b.vec_id % {DELTA_MOD} <> 0
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM (
    SELECT query_id, neighbor_id, {_COS_SQL} AS cosine
    FROM cand
    JOIN ({_NORM_SQL}) a ON cand.query_id = a.vec_id
    JOIN ({_NORM_SQL}) b ON cand.neighbor_id = b.vec_id
  )
)
WHERE rank <= {TOP_K}
"""
ANN_INCREMENTAL_SQL = ANN_INCREMENTAL_SQL.format(bands=_bands_union_sql())


# --------------------------------------- int8 quantization error census
# Symmetric per-vector int8: scale = max|x|, q_i = round(x_i/scale*127),
# dequant = q_i*scale/127. The census reports the reconstruction error
# a serving store would accept by switching float32 -> int8 (4x memory;
# the usual first compression step before PQ).
_ABSMAX_EXPR = "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"
_ABSMAX_SQL = ("list_max(list_transform(embedding, "
               "x -> abs(CAST(x AS DOUBLE))))")
# round-half-up via floor(v + 0.5): Spark round() half-up and DuckDB
# round() half-away agree only for positives — floor(v + 0.5) is the
# same op on both engines for all signs. Spark floor() returns BIGINT,
# DuckDB's a DOUBLE; the product with `scale` promotes identically.
_MAXERR_EXPR = (
    "CASE WHEN scale = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) ELSE "
    "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE) - "
    "floor((CAST(x AS DOUBLE) / scale) * 127.0 + 0.5) * scale / 127.0)))"
    " END"
)
_MAXERR_SQL = (
    "CASE WHEN scale = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) ELSE "
    "list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE) - "
    "floor((CAST(x AS DOUBLE) / scale) * 127.0 + 0.5) * scale / 127.0)))"
    " END"
)


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 quantization error census per label: worst and mean
    per-vector max reconstruction error, mean scale, zero-vector
    count — the accuracy-vs-memory audit before shipping a quantized
    ANN index (compare: ann_topk_pq compresses 64x with codebooks;
    int8 compresses 4x with none).

    Shape: linear narrow scan (per-row array folds, JVM higher-order
    functions — no UDF), one partial-agg shuffle on the bounded label
    key. Cross-engine exactness: MAX over doubles is
    order-independent; mean numerators are summed on a 1e-9 integer
    grid (exact BIGINT sums), with division in one fixed-order output
    expression."""
    vecs = spread(load_table(spark, "embeddings", sf_dir))
    p = vecs.select(
        "label", F.expr(_ABSMAX_EXPR).alias("scale"), "embedding",
    ).select("label", "scale", F.expr(_MAXERR_EXPR).alias("max_err"))
    agg = p.groupBy("label").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.sum((F.col("scale") == 0).cast("long"))
        .cast("long").alias("n_zero_vecs"),
        F.max("max_err").alias("worst_abs_err"),
        F.sum(F.expr(
            f"CAST(floor(max_err * {NANO} + 0.5) AS BIGINT)"))
        .cast("long").alias("err_sum_nano"),
        F.sum(F.expr(
            f"CAST(floor(scale * {NANO} + 0.5) AS BIGINT)"))
        .cast("long").alias("scale_sum_nano"),
    )
    return agg.select(
        "label", "n_vecs", "n_zero_vecs", "worst_abs_err",
        "err_sum_nano", "scale_sum_nano",
        ((F.col("err_sum_nano").cast("double") / F.lit(float(1e9)))
         / F.col("n_vecs").cast("double")).alias("mean_abs_err"),
        ((F.col("scale_sum_nano").cast("double") / F.lit(float(1e9)))
         / F.col("n_vecs").cast("double")).alias("mean_scale"),
    )


EMBEDDING_QUANTIZE_SQL = f"""
WITH p AS (
  SELECT label, scale, {_MAXERR_SQL} AS max_err
  FROM (
    SELECT label, {_ABSMAX_SQL} AS scale, embedding
    FROM embeddings
  )
),
agg AS (
  SELECT label,
         CAST(COUNT(*) AS BIGINT) AS n_vecs,
         CAST(SUM(CASE WHEN scale = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_zero_vecs,
         MAX(max_err) AS worst_abs_err,
         CAST(SUM(CAST(floor(max_err * {NANO} + 0.5) AS BIGINT))
              AS BIGINT) AS err_sum_nano,
         CAST(SUM(CAST(floor(scale * {NANO} + 0.5) AS BIGINT))
              AS BIGINT) AS scale_sum_nano
  FROM p
  GROUP BY label
)
SELECT label, n_vecs, n_zero_vecs, worst_abs_err, err_sum_nano,
       scale_sum_nano,
       (CAST(err_sum_nano AS DOUBLE) / {NANO})
         / CAST(n_vecs AS DOUBLE) AS mean_abs_err,
       (CAST(scale_sum_nano AS DOUBLE) / {NANO})
         / CAST(n_vecs AS DOUBLE) AS mean_scale
FROM agg
"""


# ---------------------------------------------------- semantic_outliers
OUTLIER_TOPK = 5


def semantic_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid + the OUTLIER_TOPK members farthest from it
    (squared L2) — the label-noise / cluster-impurity audit: vectors
    that sit far from their own label's mass are mislabel or
    off-distribution candidates (the SemDeDup/label-QA companion).

    Shape: centroids via posexplode -> one partial-agg shuffle on the
    BOUNDED (label, dim) key -> collected into a per-label array
    (labels x 64 rows); centroids broadcast back onto an un-shuffled
    vector scan; top-k per label via a window over the label
    partition (bounded group count; the per-group heap is the
    quality_topk_per_group posture). Cross-engine exactness: per-dim
    means are 1e-9-grid exact BIGINT sums with the (sum/1e9)/n
    fixed-order division (embedding_quantize idiom); the distance is
    the strict left-fold dist2 in double, so values hash-identically."""
    vecs = spread(load_table(spark, "embeddings", sf_dir))
    dims = vecs.select(
        "label", F.posexplode("embedding").alias("pos", "x"),
    ).select("label", "pos", F.expr(NANO_GRID_EXPR).alias("g"))
    per_dim = dims.groupBy("label", "pos").agg(
        F.sum("g").cast("long").alias("s_nano"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    cent = (
        per_dim.select(
            "label", "pos",
            ((F.col("s_nano").cast("double") / F.lit(float(1e9)))
             / F.col("n").cast("double")).alias("c"),
        )
        .groupBy("label")
        .agg(F.expr(
            "transform(array_sort(collect_list(struct(pos, c))), "
            "e -> e.c)").alias("centroid"))
    )
    scored = (
        vecs.join(F.broadcast(cent), "label")
        .select(
            "label", "vec_id",
            F.expr(dist2_expr("embedding", "centroid")).alias("dist2"),
        )
    )
    w = Window.partitionBy("label").orderBy(
        F.desc("dist2"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= OUTLIER_TOPK)
        .select("label", "rk", "vec_id", "dist2")
    )


SEMANTIC_OUTLIERS_SQL = f"""
WITH dims AS (
  SELECT label, pos - 1 AS pos,
         CAST(floor(CAST(x AS DOUBLE) * {NANO} + 0.5) AS BIGINT) AS g
  FROM (SELECT label, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings)
),
per_dim AS (
  SELECT label, pos, CAST(SUM(g) AS BIGINT) AS s_nano,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM dims GROUP BY label, pos
),
cent AS (
  SELECT label,
         list((CAST(s_nano AS DOUBLE) / {NANO})
              / CAST(n AS DOUBLE) ORDER BY pos) AS centroid
  FROM per_dim GROUP BY label
),
scored AS (
  SELECT e.label, e.vec_id,
         {dist2_sql("e.embedding", "c.centroid")} AS dist2
  FROM embeddings e JOIN cent c ON e.label = c.label
)
SELECT label, rk, vec_id, dist2 FROM (
  SELECT label, vec_id, dist2,
         ROW_NUMBER() OVER (PARTITION BY label
                            ORDER BY dist2 DESC, vec_id ASC) AS rk
  FROM scored
)
WHERE rk <= {OUTLIER_TOPK}
"""


# -------------------------------------------------- hard_negative_mining
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training mining: for each query-panel vector, the
    MOST similar vector carrying a DIFFERENT label, drawn from the
    banded-LSH candidate set — the hard negatives that make a
    contrastive or metric-learning batch informative, mined at LSH
    cost (bucket equi-joins), never an all-pairs scan.

    Shape: the ann_topk_lsh index store (norm + band buckets,
    localCheckpoint'd — one sketch pass shared by the band join and
    both re-rank sides); candidates keep only label-mismatched
    pairs; the per-query argmax is ONE min(struct) partial
    aggregate (cosine via the strict left-fold, so the winner and
    its score hash identically cross-engine)."""
    emb = spread(load_table(spark, "embeddings", sf_dir))
    bb = F.array(*[
        F.struct(
            F.lit(i).alias("band"),
            F.expr(V.lsh_band_bucket_expr(
                "embedding", i, PLANES_PER_BAND)).alias("bucket"),
        )
        for i in range(N_BANDS)
    ])
    store = (
        emb.select(
            "vec_id", "label", "embedding",
            F.expr(V.norm_expr("embedding")).alias("norm"),
        )
        .withColumn("bands", bb)
        .transform(cut)
    )
    bands = store.select(
        "vec_id", "label", F.explode("bands").alias("bb")
    ).select("vec_id", "label", F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"))
    qb = bands.filter(F.col("vec_id") % QUERY_MOD == 0).alias("qa")
    cb = bands.alias("qb")
    cand = (
        qb.join(cb, (F.col("qa.band") == F.col("qb.band"))
                & (F.col("qa.bucket") == F.col("qb.bucket"))
                & (F.col("qa.label") != F.col("qb.label")))
        .select(
            F.col("qa.vec_id").alias("query_id"),
            F.col("qa.label").alias("query_label"),
            F.col("qb.vec_id").alias("neighbor_id"),
            F.col("qb.label").alias("neg_label"),
        )
        .distinct()
    )
    vecs = store.select("vec_id", "embedding", "norm")
    pairs = (
        cand.join(vecs.alias("a"),
                  F.col("query_id") == F.col("a.vec_id"))
        .join(vecs.alias("b"),
              F.col("neighbor_id") == F.col("b.vec_id"))
        .select("query_id", "query_label", "neighbor_id", "neg_label",
                _cos_spark().alias("cosine"))
    )
    return (
        pairs.groupBy("query_id", "query_label")
        .agg(F.min(F.struct(
            (-F.col("cosine")).alias("nc"),
            F.col("neighbor_id").alias("nid"),
            F.col("neg_label").alias("nl"))).alias("t"))
        .select(
            "query_id", "query_label",
            F.col("t.nid").alias("hard_neg_id"),
            F.col("t.nl").alias("neg_label"),
            (-F.col("t.nc")).alias("cosine"),
        )
    )


HARD_NEGATIVE_MINING_SQL = f"""
WITH bands AS ({_bands_union_sql()}),
lbl AS (SELECT vec_id, label FROM embeddings),
cand AS (
  SELECT DISTINCT a.vec_id AS query_id, la.label AS query_label,
                  b.vec_id AS neighbor_id, lb.label AS neg_label
  FROM bands a
  JOIN lbl la ON a.vec_id = la.vec_id
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
  JOIN lbl lb ON b.vec_id = lb.vec_id AND la.label <> lb.label
  WHERE a.vec_id % {QUERY_MOD} = 0
),
scored AS (
  SELECT query_id, query_label, neighbor_id, neg_label,
         {_COS_SQL} AS cosine
  FROM cand
  JOIN ({_NORM_SQL}) a ON cand.query_id = a.vec_id
  JOIN ({_NORM_SQL}) b ON cand.neighbor_id = b.vec_id
)
SELECT query_id, query_label, neighbor_id AS hard_neg_id, neg_label,
       cosine
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id
    ORDER BY cosine DESC, neighbor_id ASC) AS rn
  FROM scored
)
WHERE rn = 1
"""


# ------------------------------------------------------ embedding_margin
MARGIN_TOPK = 20


def embedding_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active-learning margin audit: for each vector, the squared-L2
    distance to its nearest and second-nearest LABEL CENTROID; the
    MARGIN_TOPK smallest-margin vectors are the ambiguous/boundary
    cases a labeling pass reviews first, plus a flag when the nearest
    centroid is not the vector's own label (mislabel candidate).

    Shape: centroids are the semantic_outliers grid-exact per-label
    means (bounded (label, dim) partial agg, collected to arrays);
    the vector scan cross-joins the BROADCAST bounded centroid table
    (|labels| rows — a constant fan-out, not a cartesian blowup);
    nearest-two selection is a sort of a per-vector bounded array;
    the global top-k is TakeOrderedAndProject. Distances are strict
    left-folds, so margins hash identically cross-engine."""
    vecs = spread(load_table(spark, "embeddings", sf_dir))
    dims = vecs.select(
        "label", F.posexplode("embedding").alias("pos", "x"),
    ).select("label", "pos", F.expr(NANO_GRID_EXPR).alias("g"))
    cent = (
        dims.groupBy("label", "pos")
        .agg(F.sum("g").cast("long").alias("s_nano"),
             F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            "label", "pos",
            ((F.col("s_nano").cast("double") / F.lit(float(1e9)))
             / F.col("n").cast("double")).alias("c"),
        )
        .groupBy("label")
        .agg(F.expr(
            "transform(array_sort(collect_list(struct(pos, c))), "
            "e -> e.c)").alias("centroid"))
        .select(F.col("label").alias("clabel"), "centroid")
    )
    scored = (
        vecs.crossJoin(F.broadcast(cent))
        .select(
            "vec_id", "label", "clabel",
            F.expr(V.dist2_expr("embedding", "centroid")).alias("d2"),
        )
    )
    two = (
        scored.groupBy("vec_id", "label")
        .agg(F.expr(
            "slice(array_sort(collect_list(struct(d2, clabel))), 1, 2)"
        ).alias("nn"))
        .select(
            "vec_id", "label",
            F.col("nn")[0]["clabel"].alias("nearest_label"),
            F.col("nn")[0]["d2"].alias("d2_nearest"),
            (F.col("nn")[1]["d2"] - F.col("nn")[0]["d2"])
            .alias("margin"),
        )
    )
    return (
        two.select(
            "vec_id", "label", "nearest_label", "d2_nearest", "margin",
            (F.col("nearest_label") != F.col("label")).cast("long")
            .alias("is_mislabel_candidate"),
        )
        .orderBy(F.asc("margin"), F.asc("vec_id"))
        .limit(MARGIN_TOPK)
    )


EMBEDDING_MARGIN_SQL = f"""
WITH dims AS (
  SELECT label, pos - 1 AS pos,
         CAST(floor(CAST(x AS DOUBLE) * {NANO} + 0.5) AS BIGINT) AS g
  FROM (SELECT label, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings)
),
cent AS (
  SELECT label AS clabel,
         list((CAST(s_nano AS DOUBLE) / {NANO})
              / CAST(n AS DOUBLE) ORDER BY pos) AS centroid
  FROM (
    SELECT label, pos, CAST(SUM(g) AS BIGINT) AS s_nano,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM dims GROUP BY label, pos
  ) GROUP BY label
),
scored AS (
  SELECT e.vec_id, e.label, c.clabel,
         {V.dist2_sql("e.embedding", "c.centroid")} AS d2
  FROM embeddings e CROSS JOIN cent c
),
ranked AS (
  SELECT vec_id, label, clabel, d2,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY d2 ASC, clabel ASC) AS rn
  FROM scored
),
two AS (
  SELECT a.vec_id, a.label, a.clabel AS nearest_label,
         a.d2 AS d2_nearest, b.d2 - a.d2 AS margin
  FROM ranked a JOIN ranked b
    ON a.vec_id = b.vec_id AND a.rn = 1 AND b.rn = 2
)
SELECT vec_id, label, nearest_label, d2_nearest, margin,
       CAST(CASE WHEN nearest_label <> label THEN 1 ELSE 0 END
            AS BIGINT) AS is_mislabel_candidate
FROM two
ORDER BY margin ASC, vec_id ASC
LIMIT {MARGIN_TOPK}
"""


QUERIES = {
    "ann_incremental": ann_incremental,
    "ann_topk_brute": ann_topk_brute,
    "ann_topk_same_label": ann_topk_same_label,
    "ann_topk_lsh": ann_topk_lsh,
    "ann_topk_ivf": ann_topk_ivf,
    "dedup_embedding": dedup_embedding,
    "embedding_components": embedding_components,
    "embedding_dedup_apply": embedding_dedup_apply,
    "ann_topk_pq": ann_topk_pq,
    "embedding_quantize": embedding_quantize,
    "semantic_outliers": semantic_outliers,
    "embedding_margin": embedding_margin,
    "hard_negative_mining": hard_negative_mining,
}

ORACLES = {
    "ann_topk_brute": ANN_TOPK_BRUTE_SQL,
    "ann_topk_same_label": ANN_TOPK_SAME_LABEL_SQL,
    "ann_topk_lsh": ANN_TOPK_LSH_SQL,
    "ann_topk_ivf": ANN_TOPK_IVF_SQL,
    "dedup_embedding": DEDUP_EMBEDDING_SQL,
    "embedding_components": EMBEDDING_COMPONENTS_SQL,
    "embedding_dedup_apply": EMBEDDING_DEDUP_APPLY_SQL,
    "ann_topk_pq": ANN_TOPK_PQ_SQL,
    "ann_incremental": ANN_INCREMENTAL_SQL,
    "embedding_quantize": EMBEDDING_QUANTIZE_SQL,
    "semantic_outliers": SEMANTIC_OUTLIERS_SQL,
    "embedding_margin": EMBEDDING_MARGIN_SQL,
    "hard_negative_mining": HARD_NEGATIVE_MINING_SQL,
}


def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-QA census per label: count, dimension violations, zero
    vectors, and the norm envelope — the ingest-sanity scan run before
    any ANN/clustering work trusts an embedding column.

    One scan, one partial-agg shuffle over the bounded label set; the
    norm is the strict left-fold (functions/vectors) so both engines
    see identical doubles, and only min/max of it are aggregated
    (order-independent — a SUM of norms would not be).
    """
    vecs = spread(load_table(spark, "embeddings", sf_dir))
    nrm = F.expr(V.norm_expr("embedding"))
    return (
        vecs.select(
            "label",
            F.size("embedding").alias("dim"),
            nrm.alias("nrm"),
        )
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(F.when(F.col("dim") != V.DIM, 1).otherwise(0))
            .cast("long").alias("n_bad_dim"),
            F.sum(F.when(F.col("nrm") == 0.0, 1).otherwise(0))
            .cast("long").alias("n_zero"),
            F.min("nrm").alias("min_norm"),
            F.max("nrm").alias("max_norm"),
        )
    )


EMBEDDING_STATS_SQL = f"""
WITH v AS (
  SELECT label, len(embedding) AS dim,
         {V.norm_sql("embedding")} AS nrm
  FROM embeddings
)
SELECT label,
       COUNT(*) AS n_vecs,
       CAST(SUM(CASE WHEN dim <> {V.DIM} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bad_dim,
       CAST(SUM(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_zero,
       MIN(nrm) AS min_norm,
       MAX(nrm) AS max_norm
FROM v
GROUP BY label
"""

QUERIES["embedding_stats"] = embedding_stats
ORACLES["embedding_stats"] = EMBEDDING_STATS_SQL


# ---------------------------------------------------- embedding_dim_variance
_QSCALE = 1 << 20          # value quantization: y = floor(v * 2^20)
_QSCALE2 = 1 << 40         # y*y carries 2^40 of scale


def embedding_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION mean/variance census of the embedding column —
    the dead-dimension / scale-imbalance diagnostic (a dimension with
    ~zero variance wastes index bits; wildly unequal variances break
    unwhitened cosine), complementing embedding_stats' per-label norm
    envelope.

    Exactness for a variance of floats: each value is quantized to an
    exact integer y = floor(v * 2^20) (power-of-two scale, so the
    multiply is exact and floor is deterministic — quantization noise
    ~1e-6 is irrelevant for a diagnostic); per-dim moments n, Σy, Σy²
    are exact BIGINTs; the variance numerator n·Σy² − (Σy)² is exact
    DECIMAL(38,0)/HUGEINT, and is brought back to double via the
    exact quotient-remainder split (q + r/d, each piece < 2^53) —
    never a single >2^53 DECIMAL→DOUBLE cast, whose rounding differs
    per engine. n_distinct(y) = 1 flags a constant (dead) dimension.
    Shape: posexplode (Generate) then ONE partial-agg shuffle to the
    64-row dim grid."""
    vecs = spread(load_table(spark, "embeddings", sf_dir))
    y = F.expr(f"CAST(floor(CAST(v AS DOUBLE) * {_QSCALE}) AS BIGINT)")
    per = (
        vecs.select(F.posexplode("embedding").alias("pos", "v"))
        .select((F.col("pos") + 1).alias("dim"), y.alias("y"))
        .groupBy("dim")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.sum("y").cast("long").alias("sy"),
             F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
             F.countDistinct("y").cast("long").alias("n_distinct"))
    )
    withnd = per.select(
        "dim", "n", "sy", "n_distinct",
        (F.col("n").cast("decimal(38,0)") * F.col("syy")
         - F.col("sy").cast("decimal(38,0)") * F.col("sy")).alias("num"),
        (F.col("n") * F.col("n")).cast("decimal(38,0)").alias("d"),
    )
    return withnd.select(
        "dim", F.col("n").alias("n_vecs"),
        (F.col("sy").cast("double") / F.col("n").cast("double")
         / F.lit(float(_QSCALE))).alias("mean"),
        ((F.expr("CAST(num DIV d AS DOUBLE)")
          + F.expr("CAST(num % d AS DOUBLE) / CAST(d AS DOUBLE)"))
         / F.lit(float(_QSCALE2))).alias("variance"),
        "n_distinct",
    )


EMBEDDING_DIM_VARIANCE_SQL = f"""
WITH e AS (
  SELECT generate_subscripts(embedding, 1) AS dim,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {_QSCALE})
              AS BIGINT) AS y
  FROM embeddings
),
per AS (
  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(COUNT(DISTINCT y) AS BIGINT) AS n_distinct
  FROM e GROUP BY dim
),
nd AS (
  SELECT dim, n, sy, n_distinct,
         CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS num,
         CAST(n AS HUGEINT) * n AS d
  FROM per
)
SELECT dim, n AS n_vecs,
       CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / {float(_QSCALE)} AS mean,
       (CAST(num // d AS DOUBLE)
        + CAST(num % d AS DOUBLE) / CAST(d AS DOUBLE))
         / {float(_QSCALE2)} AS variance,
       n_distinct
FROM nd
"""

QUERIES["embedding_dim_variance"] = embedding_dim_variance
ORACLES["embedding_dim_variance"] = EMBEDDING_DIM_VARIANCE_SQL


# ----------------------------------------------------------------- ann_maxsim
MAXSIM_Q = 4        # queries in the fixed panel
MAXSIM_TOKS = 4     # token vectors per query / passages per doc
MAXSIM_TOP = 5


def ann_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction (ColBERT-style MaxSim) retrieval: queries and
    documents are BAGS of vectors — score(q, d) = Σ_{query token}
    max_{doc passage} cosine — the multi-vector retrieval model that
    beats single-vector ANN on fine-grained matching. Mapped onto the
    flat embeddings table: vec_id DIV 4 groups vectors into
    4-passage docs; the fixed query panel is the first 4 such groups
    (the ann_topk_brute constant-panel discipline, so the plan is
    O(16 x corpus) — linear in the corpus, never corpus x corpus).

    Shape: 16 query vectors broadcast onto one corpus scan; per-token
    maxes are an order-independent MAX partial agg; the 4-term MaxSim
    sum folds in token order (exact IEEE sequence both engines);
    per-query top-5 rides a bounded-panel window. At real scale the
    passage side would first prune through the banded-LSH index
    (ann_topk_lsh) and MaxSim only the survivors."""
    from pyspark.sql import Window

    vecs = _with_norm(spark, sf_dir)
    qtoks = F.broadcast(
        vecs.filter(F.col("vec_id") < MAXSIM_Q * MAXSIM_TOKS)
        .select(F.expr(f"vec_id DIV {MAXSIM_TOKS}").alias("q_id"),
                (F.col("vec_id") % MAXSIM_TOKS).alias("tok"),
                F.col("embedding").alias("qe"),
                F.col("norm").alias("qn"))
    ).alias("a")
    passages = (
        vecs.filter(F.col("vec_id") >= MAXSIM_Q * MAXSIM_TOKS)
        .select(F.expr(f"vec_id DIV {MAXSIM_TOKS}").alias("doc_id"),
                F.col("embedding").alias("pe"),
                F.col("norm").alias("pn"))
    ).alias("b")
    dot = V.dot_expr("a.qe", "b.pe")
    tok_best = (
        qtoks.join(passages, F.lit(True))
        .select("q_id", "tok", "doc_id",
                F.expr(f"{dot} / (a.qn * b.pn)").alias("cos"))
        .groupBy("q_id", "doc_id", "tok")
        .agg(F.max("cos").alias("best"))
    )
    scored = (
        tok_best.groupBy("q_id", "doc_id")
        .agg(F.expr(
            "aggregate(transform(array_sort(collect_list("
            "struct(tok, best))), e -> e.best), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)").alias("maxsim"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("maxsim"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= MAXSIM_TOP)
    )


ANN_MAXSIM_SQL = f"""
WITH qtoks AS (
  SELECT vec_id // {MAXSIM_TOKS} AS q_id,
         vec_id % {MAXSIM_TOKS} AS tok,
         embedding AS qe, norm AS qn
  FROM ({_NORM_SQL}) WHERE vec_id < {MAXSIM_Q * MAXSIM_TOKS}
),
passages AS (
  SELECT vec_id // {MAXSIM_TOKS} AS doc_id, embedding AS pe, norm AS pn
  FROM ({_NORM_SQL}) WHERE vec_id >= {MAXSIM_Q * MAXSIM_TOKS}
),
tok_best AS (
  SELECT q_id, doc_id, tok,
         MAX({V.dot_sql('qe', 'pe')} / (qn * pn)) AS best
  FROM qtoks a CROSS JOIN passages b
  GROUP BY q_id, doc_id, tok
),
scored AS (
  SELECT q_id, doc_id,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
                        list(best ORDER BY tok)),
           (acc, x) -> acc + x) AS maxsim
  FROM tok_best GROUP BY q_id, doc_id
)
SELECT q_id, doc_id, maxsim, rank FROM (
  SELECT q_id, doc_id, maxsim,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY maxsim DESC, doc_id ASC) AS rank
  FROM scored
)
WHERE rank <= {MAXSIM_TOP}
"""

QUERIES["ann_maxsim"] = ann_maxsim
ORACLES["ann_maxsim"] = ANN_MAXSIM_SQL


# --------------------------------------------------------- semdedup_prune
SEMDEDUP_TAU = 0.3  # cosine threshold; the synthetic corpus has no
# planted semantic dups, so 0.3 exercises the prune with real output


def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication"): cluster
    the embeddings with a coarse codebook, then WITHIN each cluster
    mark every vector that has a semantically near-identical
    neighbor (cosine >= tau) with a LOWER vec_id — the kept
    representative is the lowest id of each near-dup neighborhood,
    the paper's keep-one-per-group rule with a deterministic order.

    Shape: the IVF cell assignment (broadcast codebook, one partial
    agg) scopes the pair search — the self-join is per-cell, never
    corpus x corpus; N_CELLS grows ~sqrt(n) at scale to bound cell
    population. Output: one row per vector with its cell, how many
    close in-cell neighbors it has, and the prune verdict."""
    # lineage cut: both self-join sides and the verdict join-back
    # reuse ONE materialized cell assignment instead of recomputing
    # the broadcast-codebook argmin three times (measured ~1.5x)
    vecs = _with_cell(spark, sf_dir).transform(cut)
    a, b = vecs.alias("a"), vecs.alias("b")
    close = (
        a.join(b, (F.col("a.cell") == F.col("b.cell"))
               & (F.col("a.vec_id") != F.col("b.vec_id")))
        .filter(_cos_spark() >= F.lit(SEMDEDUP_TAU))
        .groupBy(F.col("a.vec_id").alias("vec_id"))
        .agg(
            F.count("*").cast("long").alias("n_close"),
            F.max((F.col("b.vec_id") < F.col("a.vec_id")).cast("int"))
            .alias("has_lower"),
        )
    )
    return (
        vecs.select("vec_id", "cell")
        .join(close, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cell").cast("long").alias("cell"),
            F.coalesce("n_close", F.lit(0)).cast("long")
            .alias("n_close"),
            (F.coalesce("has_lower", F.lit(0)) == 1).alias("pruned"),
        )
    )


SEMDEDUP_PRUNE_SQL = f"""
WITH cells AS ({_CELL_SQL}),
close AS (
  SELECT a.vec_id,
         CAST(COUNT(*) AS BIGINT) AS n_close,
         MAX(CASE WHEN b.vec_id < a.vec_id THEN 1 ELSE 0 END)
           AS has_lower
  FROM cells a
  JOIN cells b ON a.cell = b.cell AND a.vec_id <> b.vec_id
  WHERE {_COS_SQL} >= {SEMDEDUP_TAU}
  GROUP BY a.vec_id
)
SELECT v.vec_id,
       CAST(v.cell AS BIGINT) AS cell,
       CAST(coalesce(close.n_close, 0) AS BIGINT) AS n_close,
       coalesce(close.has_lower, 0) = 1 AS pruned
FROM cells v LEFT JOIN close USING (vec_id)
"""

QUERIES["semdedup_prune"] = semdedup_prune
ORACLES["semdedup_prune"] = SEMDEDUP_PRUNE_SQL


# --------------------------------------------------------- embedding_cos_hist
def embedding_cos_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-similarity histogram over the single-bucket LSH pair
    population (fixed 0.1-wide bins over [-1, 1]) — the distribution
    diagnostic behind picking DUP_TAU / SEMDEDUP_TAU: a bimodal
    histogram separates a dup mode from the background and hands you
    the valley; a unimodal one says threshold dedup will just slice
    noise. The embedding-space twin of dedup_threshold_sweep.

    Exactness: cosines are the bit-identical fixed-order expression,
    so floor(cosine * 10) lands in the same bin in both engines
    (least() clamps the cosine == 1.0 self-similar edge into the top
    bin); bin counts are exact BIGINTs. Shape: the bucketed pair join
    (never corpus x corpus) + one partial-agg shuffle onto <= 21
    bins."""
    vecs = _with_bucket(spark, sf_dir)
    a, b = vecs.alias("a"), vecs.alias("b")
    pairs = (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(_cos_spark().alias("cosine"))
    )
    return (
        pairs.select(
            F.expr("least(CAST(floor(cosine * 10) AS BIGINT), 9)")
            .alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .selectExpr(
            "bin", "CAST(bin AS DOUBLE) / 10 AS bin_lo",
            "CAST(bin + 1 AS DOUBLE) / 10 AS bin_hi", "n_pairs",
        )
    )


EMBEDDING_COS_HIST_SQL = f"""
WITH pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {_COS_SQL} AS cosine
  FROM ({_BUCKET_SQL}) a
  JOIN ({_BUCKET_SQL}) b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
),
binned AS (
  SELECT least(CAST(floor(cosine * 10) AS BIGINT), 9) AS bin
  FROM pairs
)
SELECT bin, CAST(bin AS DOUBLE) / 10 AS bin_lo,
       CAST(bin + 1 AS DOUBLE) / 10 AS bin_hi,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM binned
GROUP BY bin
"""

QUERIES["embedding_cos_hist"] = embedding_cos_hist
ORACLES["embedding_cos_hist"] = EMBEDDING_COS_HIST_SQL


def _recall_row(gold: DataFrame, approx: DataFrame,
                method: str) -> DataFrame:
    """One summary row: how much of the brute-force gold top-k the
    approximate method retrieved, per the fixed query panel. All
    counts are exact integers; recall is ONE division of two exact
    longs at output (micro-average == macro-average here because
    every panel query has a full TOP_K gold list), so both engines
    round identically."""
    g = gold.select("query_id", "neighbor_id")
    a = approx.select("query_id", "neighbor_id")
    gold_pq = g.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_gold_q"))
    # both result sets are <= PANEL_SIZE x TOP_K rows by construction;
    # the hints replace the SMJs these bounded joins planned without
    # size stats (r11 — 10 SortMergeJoins in the r10 eval plan)
    hits_pq = (
        g.join(F.broadcast(a), ["query_id", "neighbor_id"], "leftsemi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits_q"))
    )
    per_q = gold_pq.join(F.broadcast(hits_pq), "query_id", "left").select(
        "query_id", "n_gold_q",
        F.coalesce("n_hits_q", F.lit(0).cast("long")).alias("n_hits_q"),
    )
    return per_q.agg(
        F.lit(method).alias("method"),
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum("n_gold_q").cast("long").alias("n_gold"),
        F.sum("n_hits_q").cast("long").alias("n_hits"),
        F.min("n_hits_q").cast("long").alias("min_hits"),
        (F.sum("n_hits_q").cast("double")
         / F.sum("n_gold_q").cast("double")).alias("recall"),
    )


def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of ALL FOUR approximate ANN paths (LSH, IVF, PQ, and
    the composed IVF-PQ) against the brute-force gold standard, as an
    ORACLE-CHECKED table (the recall floors in
    tests/test_similarity_quality.py promoted into the driver gate):
    per method, panel size, gold/hit counts, the weakest query's hit
    count, and micro-averaged recall. Every approximate result set is
    deterministic and hash-matched by its own oracle, so the
    intersection with gold is deterministic too; DuckDB recomputes
    all five result sets from scratch and must land on the same
    recall to the last bit. Floors: LSH/IVF 0.60 (pruning indexes),
    PQ/IVF-PQ 0.30 (the compressed-scan paths after the r10 ADC+R
    refine — est-only ordering measured 0.10-0.16 on this
    unclustered random data; enforced in
    tests/test_similarity_quality.py).

    Scale: the eval is five existing ANN plans plus aggregates over
    a 64-query panel — the panel, not the corpus, bounds the eval
    cost beyond the index builds themselves."""
    # NOTE (r10): do NOT localCheckpoint gold. It is consumed by
    # eight subtrees, but they live in ONE union plan and ReuseExchange
    # already dedupes the identical brute-force subtree, while an RDD
    # barrier erases the table's stats (the tiny per-method joins lose
    # their broadcast plans). Cold-session solo A/B at sf0.1 measured
    # no-cut 6.7s vs eager-cut 6.9s vs lazy-cut 8.1s — the barrier
    # never wins there.
    # r11: the barrier that DOES win is one level lower — the r10 plan
    # scanned `embeddings` 39 times (every method rebuilt _with_norm /
    # its codebook from the raw parquet). One checkpointed _with_norm
    # shared by all five builders collapses that to a single corpus
    # scan (guide §5 "cache only what is reused"); the stats the
    # checkpoint erases are replaced by explicit F.broadcast hints on
    # the panel-sized sides (guide §3.1), so every join keeps the
    # strategy stats would have chosen and the family's pinned recall
    # gates are untouched (values bit-identical; hints and barriers
    # change placement, never arithmetic).
    nv = cut(_with_norm(spark, sf_dir))
    gold = ann_topk_brute(spark, sf_dir, nv=nv)
    lsh_row = _recall_row(gold, ann_topk_lsh(spark, sf_dir, nv=nv),
                          "lsh")
    ivf_row = _recall_row(gold, ann_topk_ivf(spark, sf_dir, nv=nv),
                          "ivf")
    pq_row = _recall_row(gold, ann_topk_pq(spark, sf_dir, nv=nv), "pq")
    ivfpq_row = _recall_row(
        gold, ann_topk_ivfpq(spark, sf_dir, nv=nv), "ivfpq")
    return (lsh_row.unionByName(ivf_row).unionByName(pq_row)
            .unionByName(ivfpq_row))


QUERIES["ann_recall_eval"] = ann_recall_eval
# ANN_RECALL_EVAL_SQL and its ORACLES entry are defined after the
# ivfpq block below (the SQL embeds ANN_TOPK_IVFPQ_SQL).


def ann_topk_ivfpq(spark: SparkSession, sf_dir: str,
                   nv: DataFrame | None = None) -> DataFrame:
    """IVF-PQ — the production ANN shape at 100 TB (FAISS's default
    composition, both halves already certified separately here): the
    IVF coarse quantizer PRUNES (each query scores only its NPROBE
    probed cells' contents, ~NPROBE/N_CELLS of the corpus) and the
    PQ codes COMPRESS (candidates are scored by the 8-add ADC LUT
    fold over 8 nibbles, never touching the 64 floats) — so the scan
    is sublinear in corpus AND constant-width per candidate, which is
    what lets a 100 TB vector corpus serve queries from a RAM-sized
    index. The probed candidates are ordered by the PQ estimate, the
    top PQ_REFINE per query re-ranked with exact cosines (ADC+R —
    r10; see _refine_exact), so the result is deterministic and the
    DuckDB oracle replicates encode + probe + LUT + fold + refine
    bit-for-bit. Recall vs brute is floored in
    tests/test_similarity_quality.py (coarse on THIS unclustered
    random corpus — the shape, not the ceiling, is what transfers).

    Shape: one cell-id equi-join (probes x cell-partitioned codes),
    codebooks broadcast, no window wider than a query's candidate
    list; the refine pass touches PQ_REFINE rows per query regardless
    of corpus size."""
    n = _corpus_count(spark, sf_dir)
    k = pq_k(n)
    vecs = (
        spread(load_table(spark, "embeddings", sf_dir))
        if nv is None else nv
    ).select("vec_id", "embedding")
    cb = (
        vecs.filter(F.col("vec_id") < k)
        .agg(F.expr(
            "flatten(transform("
            "sort_array(collect_list(struct(vec_id, embedding))), "
            "s -> transform(s.embedding, x -> CAST(x AS DOUBLE))))"
        ).alias("flat_cw"))
    )
    cells = _with_cell(spark, sf_dir, nv=nv).select("vec_id", "cell")
    corpus = (
        vecs.crossJoin(F.broadcast(cb))
        .select("vec_id", F.expr(_pq_codes_expr(k)).alias("codes"))
        .join(cells, "vec_id")
    )
    probes = _query_probes(spark, sf_dir, nv=nv).alias("p")
    queries = (
        vecs.filter(F.col("vec_id") % QUERY_MOD == 0)
        .crossJoin(F.broadcast(cb))
        .select(F.col("vec_id").alias("query_id"),
                F.expr(_pq_lut_expr(k)).alias("lut"))
    )
    # the panel x probes side is <= PANEL_SIZE x NPROBE rows; the
    # explicit hint pins the strategy stats would choose (see
    # ann_topk_ivf) — required when nv is a checkpoint
    pairs = (
        F.broadcast(
            F.broadcast(queries)
            .join(probes, F.col("query_id") == F.col("p.vec_id")))
        .join(corpus.alias("c"),
              (F.col("p.cell") == F.col("c.cell"))
              & (F.col("query_id") != F.col("c.vec_id")))
        .select(
            "query_id",
            F.col("c.vec_id").alias("neighbor_id"),
            F.expr(_pq_est_expr(k)).alias("est_dist2"),
        )
    )
    return _refine_exact(spark, sf_dir, pairs, depth=pq_refine(n),
                         nv=nv)


ANN_TOPK_IVFPQ_SQL = f"""
WITH cb AS (
  SELECT flatten(list(list_transform(embedding, x -> CAST(x AS DOUBLE))
                      ORDER BY vec_id)) AS flat_cw
  FROM embeddings WHERE vec_id < {PQ_K}
),
corpus AS (
  SELECT v.vec_id, v.cell, {_PQ_CODES_SQL} AS codes
  FROM ({_CELL_SQL}) v CROSS JOIN cb
),
probes AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT v.vec_id, s.cid,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY {V.dist2_sql("v.embedding", "s.cemb")} ASC,
                      s.cid ASC) AS rn
    FROM ({_NORM_SQL}) v
    CROSS JOIN (SELECT vec_id AS cid, embedding AS cemb
                FROM ({_NORM_SQL}) WHERE vec_id < {N_CELLS}) s
    WHERE v.vec_id % {QUERY_MOD} = 0
  ) WHERE rn <= {NPROBE}
),
queries AS (
  SELECT vec_id AS query_id, {_PQ_LUT_SQL} AS lut
  FROM embeddings CROSS JOIN cb
  WHERE vec_id % {QUERY_MOD} = 0
)
{_refine_sql(f'''
    SELECT q.query_id, c.vec_id AS neighbor_id, {_PQ_EST_SQL} AS est_dist2
    FROM queries q
    JOIN probes p ON q.query_id = p.vec_id
    JOIN corpus c ON p.cell = c.cell AND q.query_id <> c.vec_id
''')}
"""

QUERIES["ann_topk_ivfpq"] = ann_topk_ivfpq
ORACLES["ann_topk_ivfpq"] = ANN_TOPK_IVFPQ_SQL


def _recall_method_sql(method: str, cte: str) -> str:
    """One method's per-query hit CTE + summary row (the DuckDB twin
    of _recall_row) — generated so the four methods cannot drift."""
    return f"""
SELECT '{method}' AS method,
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(n_gold_q) AS BIGINT) AS n_gold,
       CAST(SUM(n_hits_q) AS BIGINT) AS n_hits,
       CAST(MIN(n_hits_q) AS BIGINT) AS min_hits,
       CAST(CAST(SUM(n_hits_q) AS BIGINT) AS DOUBLE)
         / CAST(CAST(SUM(n_gold_q) AS BIGINT) AS DOUBLE) AS recall
FROM (
  SELECT g.query_id,
         CAST(COUNT(*) AS BIGINT) AS n_gold_q,
         CAST(COUNT(x.neighbor_id) AS BIGINT) AS n_hits_q
  FROM gold g
  LEFT JOIN {cte} x ON g.query_id = x.query_id
                   AND g.neighbor_id = x.neighbor_id
  GROUP BY g.query_id
)"""


ANN_RECALL_EVAL_SQL = f"""
WITH gold AS ({ANN_TOPK_BRUTE_SQL}),
lsh AS ({ANN_TOPK_LSH_SQL}),
ivf AS ({ANN_TOPK_IVF_SQL}),
pq AS ({ANN_TOPK_PQ_SQL}),
ivfpq AS ({ANN_TOPK_IVFPQ_SQL})
{_recall_method_sql("lsh", "lsh")}
UNION ALL
{_recall_method_sql("ivf", "ivf")}
UNION ALL
{_recall_method_sql("pq", "pq")}
UNION ALL
{_recall_method_sql("ivfpq", "ivfpq")}
"""

ORACLES["ann_recall_eval"] = ANN_RECALL_EVAL_SQL


# ------------------------------------------- label_centroid_margin
def label_centroid_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding separability: every label's centroid, each
    vector's cosine to its OWN centroid vs the best FOREIGN one, and
    the per-label margin/misassignment rollup — the nearest-centroid
    "would a linear probe separate these classes" census run before
    trusting an embedding column for hard-negative mining or
    semantic dedup (complements embedding_margin's pair-level view
    with the class-level one).

    Exactness (the centroid is a MEAN, and a mean of floats is
    partition-order-dependent): each component quantizes to an exact
    integer y = floor(v * 2^20) (the embedding_dim_variance recipe),
    the per-(label, dim) moments Σy and n are exact BIGINTs, and the
    centroid component sy/n/2^20 is two fixed-order IEEE divisions of
    exactly-representable values — bit-identical in both engines. The
    cosines then ride the shared strict-left-fold dot (functions/
    vectors.py) that the whole ANN family hash-verifies with; the
    per-label MEAN margin quantizes each (deterministic) margin to
    floor(margin * 2^20) so its sum is again an exact BIGINT.

    Shape at 100 TB: one posexplode + partial-agg shuffle to the
    (K x DIM) component grid (bounded), centroids broadcast back
    onto ONE vector scan (K cosines per vector, K small), assignment
    via a window PARTITIONED BY vec_id (never global), then one
    partial-agg shuffle onto the K-row label grid."""
    from pyspark.sql import Window

    Q = 1 << 20
    emb = spread(load_table(spark, "embeddings", sf_dir))
    ex = emb.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).select(
        "label", (F.col("pos") + 1).alias("dim"),
        F.expr(f"CAST(floor(CAST(v AS DOUBLE) * {Q}) AS BIGINT)")
        .alias("y"),
    )
    comp = (
        ex.groupBy("label", "dim")
        .agg(F.sum("y").alias("sy"), F.count(F.lit(1)).alias("n"))
        .select("label", "dim",
                (F.col("sy").cast("double") / F.col("n").cast("double")
                 / F.lit(float(Q))).alias("c"))
    )
    cents = comp.groupBy(F.col("label").alias("clabel")).agg(
        F.expr("transform(array_sort(collect_list(struct(dim, c))),"
               " s -> s.c)").alias("cent"))
    cos = F.expr(
        f"{V.dot_expr('embedding', 'cent')}"
        f" / (sqrt({V.dot_expr('embedding', 'embedding')})"
        f" * sqrt({V.dot_expr('cent', 'cent')}))")
    sc = (
        emb.select("vec_id", "label", "embedding")
        .crossJoin(F.broadcast(cents))
        .select("vec_id", "label", "clabel", cos.alias("cos"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"),
                                             F.asc("clabel"))
    ranked = sc.withColumn("rn", F.row_number().over(w))
    per_vec = (
        ranked.groupBy("vec_id", "label")
        .agg(
            F.max(F.when(F.col("clabel") == F.col("label"),
                         F.col("cos"))).alias("cos_own"),
            F.max(F.when(F.col("clabel") != F.col("label"),
                         F.col("cos"))).alias("cos_other"),
            F.max(F.when(F.col("rn") == 1,
                         F.col("clabel"))).alias("assigned"),
        )
        .select(
            "label",
            (F.col("cos_own") - F.col("cos_other")).alias("margin"),
            (F.col("assigned") != F.col("label")).alias("mis"),
        )
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum(F.col("mis").cast("long")).cast("long")
            .alias("n_misassigned"),
            F.sum(F.expr(f"CAST(floor(margin * {Q}) AS BIGINT)"))
            .alias("sqm"),
            F.min("margin").alias("min_margin"),
        )
        .select(
            "label", "n_vecs", "n_misassigned",
            (F.col("sqm").cast("double")
             / F.col("n_vecs").cast("double")
             / F.lit(float(Q))).alias("mean_margin"),
            "min_margin",
        )
    )


LABEL_CENTROID_MARGIN_SQL = f"""
WITH ex AS (
  SELECT label, i AS dim,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * {1 << 20}) AS BIGINT)
           AS y
  FROM embeddings,
       unnest(generate_series(1, len(embedding))) AS t(i)
),
comp AS (
  SELECT label, dim,
         CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
           / {float(1 << 20)!r} AS c
  FROM ex GROUP BY label, dim
),
cents AS (
  SELECT label AS clabel, list(c ORDER BY dim) AS cent
  FROM comp GROUP BY label
),
sc AS (
  SELECT vec_id, label, clabel,
         {V.dot_sql('embedding', 'cent')}
           / (sqrt({V.dot_sql('embedding', 'embedding')})
              * sqrt({V.dot_sql('cent', 'cent')})) AS cos
  FROM embeddings CROSS JOIN cents
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                               ORDER BY cos DESC, clabel ASC) AS rn
  FROM sc
),
per_vec AS (
  SELECT vec_id, label,
         MAX(CASE WHEN clabel = label THEN cos END)
           - MAX(CASE WHEN clabel <> label THEN cos END) AS margin,
         MAX(CASE WHEN rn = 1 THEN clabel END) <> label AS mis
  FROM ranked GROUP BY vec_id, label
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CASE WHEN mis THEN 1 ELSE 0 END) AS BIGINT)
         AS n_misassigned,
       CAST(SUM(CAST(floor(margin * {1 << 20}) AS BIGINT)) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) / {float(1 << 20)!r} AS mean_margin,
       MIN(margin) AS min_margin
FROM per_vec GROUP BY label
"""

QUERIES["label_centroid_margin"] = label_centroid_margin
ORACLES["label_centroid_margin"] = LABEL_CENTROID_MARGIN_SQL


# ---------------------------------------------- embedding_cov_topk
_COV_TOPK = 20


def embedding_cov_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 cross-dimension |covariance| pairs of the embedding
    column, with Pearson r — the off-diagonal complement to
    embedding_dim_variance's marginal census, and the 'is a whitening
    transform worth it before cosine / PQ' decision input (strongly
    correlated dimensions waste PQ codebook entropy and distort
    unwhitened cosine).

    Exactness: the same integer-quantization recipe as
    embedding_dim_variance (y = floor(v * 2^20) exact BIGINT), all
    cross moments Σyᵢyⱼ as exact DECIMAL(38,0); the covariance
    numerator n·Σyᵢyⱼ − Σyᵢ·Σyⱼ stays exact, comes back to double
    via sign-split + quotient-remainder (never a wide DECIMAL→DOUBLE
    cast, whose rounding differs per engine — and unlike the
    variance, a COVARIANCE numerator can be negative, where Spark DIV
    truncation and DuckDB // disagree; on the absolute value they
    agree). Pearson r divides by the exact-variance square roots in
    one fixed-order double expression.

    Shape at 100 TB: pair generation is an IN-ARRAY Generate over the
    quantized copy of the vector (DIM choose 2 structs per row, no
    self-join — the skipgram_lift discipline), one partial-agg shuffle
    onto the bounded (DIM x DIM)/2 grid, per-dim moments broadcast
    back onto 2016 rows, TakeOrdered top-20."""
    Q = 1 << 20
    emb = spread(load_table(spark, "embeddings", sf_dir))
    ys = (f"transform(embedding, v -> "
          f"CAST(floor(CAST(v AS DOUBLE) * {Q}) AS BIGINT))")
    pair_expr = (
        f"flatten(transform(sequence(1, size(ys) - 1), i -> "
        f"transform(sequence(i + 1, size(ys)), j -> "
        f"struct(i AS di, j AS dj, "
        f"element_at(ys, i) * element_at(ys, j) AS p))))"
    )
    cross = (
        emb.select(F.expr(ys).alias("ys"))
        .select(F.explode(F.expr(pair_expr)).alias("e"))
        .groupBy(F.col("e.di").alias("di"), F.col("e.dj").alias("dj"))
        .agg(F.sum(F.col("e.p").cast("decimal(38,0)")).alias("sxy"))
    )
    mom = (
        emb.select(F.posexplode("embedding").alias("pos", "v"))
        .select((F.col("pos") + 1).alias("dim"),
                F.expr(f"CAST(floor(CAST(v AS DOUBLE) * {Q}) AS BIGINT)")
                .alias("y"))
        .groupBy("dim")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.sum("y").cast("decimal(38,0)").alias("sy"),
             F.sum(F.expr("y * y")).cast("decimal(38,0)").alias("syy"))
    )
    mi = F.broadcast(mom.select(F.col("dim").alias("di"),
                                F.col("n").alias("n"),
                                F.col("sy").alias("syi"),
                                F.col("syy").alias("syyi")))
    mj = F.broadcast(mom.select(F.col("dim").alias("dj"),
                                F.col("sy").alias("syj"),
                                F.col("syy").alias("syyj")))

    def ratio(num: str, den: str) -> str:
        # exact-decimal / exact-decimal -> double via quotient split
        return (f"(CAST({num} DIV {den} AS DOUBLE)"
                f" + CAST({num} % {den} AS DOUBLE)"
                f" / CAST({den} AS DOUBLE))")

    joined = (
        cross.join(mi, "di").join(mj, "dj")
        .withColumn("den", F.expr("CAST(n AS DECIMAL(38,0))"
                                  " * CAST(n AS DECIMAL(38,0))"))
        .withColumn("cnum", F.expr("n * sxy - syi * syj"))
        .withColumn("vinum", F.expr("n * syyi - syi * syi"))
        .withColumn("vjnum", F.expr("n * syyj - syj * syj"))
        .withColumn("sgn", F.expr(
            "CASE WHEN cnum < 0 THEN -1.0 ELSE 1.0 END"))
        .withColumn("acov", F.expr(
            f"{ratio('abs(cnum)', 'den')} / {float(1 << 40)!r}"))
        .withColumn("vi", F.expr(
            f"{ratio('vinum', 'den')} / {float(1 << 40)!r}"))
        .withColumn("vj", F.expr(
            f"{ratio('vjnum', 'den')} / {float(1 << 40)!r}"))
    )
    return (
        joined.select(
            F.col("di").cast("long").alias("dim_i"),
            F.col("dj").cast("long").alias("dim_j"),
            F.expr("sgn * acov").alias("cov"),
            F.expr("sgn * acov / sqrt(vi * vj)").alias("pearson_r"),
            F.col("acov").alias("abs_cov"),
        )
        .orderBy(F.desc("abs_cov"), "dim_i", "dim_j")
        .limit(_COV_TOPK)
        .drop("abs_cov")
    )


EMBEDDING_COV_TOPK_SQL = f"""
WITH q AS (
  SELECT list_transform(embedding, v ->
           CAST(floor(CAST(v AS DOUBLE) * {1 << 20}) AS BIGINT)) AS ys
  FROM embeddings
),
cross_m AS (
  SELECT i AS di, j AS dj,
         CAST(SUM(ys[i] * ys[j]) AS DECIMAL(38,0)) AS sxy
  FROM q,
       unnest(generate_series(1, len(ys) - 1)) AS t(i),
       unnest(generate_series(i + 1, len(ys))) AS u(j)
  GROUP BY i, j
),
mom AS (
  SELECT i AS dim, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(ys[i]) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(ys[i] * ys[i]) AS DECIMAL(38,0)) AS syy
  FROM q, unnest(generate_series(1, len(ys))) AS t(i)
  GROUP BY i
),
j AS (
  SELECT c.di, c.dj,
         CAST(a.n AS DECIMAL(38,0)) * CAST(a.n AS DECIMAL(38,0)) AS den,
         a.n * c.sxy - a.sy * b.sy AS cnum,
         a.n * a.syy - a.sy * a.sy AS vinum,
         a.n * b.syy - b.sy * b.sy AS vjnum
  FROM cross_m c JOIN mom a ON c.di = a.dim JOIN mom b ON c.dj = b.dim
),
d AS (
  SELECT di, dj,
         CASE WHEN cnum < 0 THEN -1.0 ELSE 1.0 END AS sgn,
         (CAST(CAST(abs(cnum) AS HUGEINT) // CAST(den AS HUGEINT)
               AS DOUBLE)
          + CAST(CAST(abs(cnum) AS HUGEINT) % CAST(den AS HUGEINT)
                 AS DOUBLE) / CAST(den AS DOUBLE))
           / {float(1 << 40)!r} AS acov,
         (CAST(CAST(vinum AS HUGEINT) // CAST(den AS HUGEINT) AS DOUBLE)
          + CAST(CAST(vinum AS HUGEINT) % CAST(den AS HUGEINT)
                 AS DOUBLE) / CAST(den AS DOUBLE))
           / {float(1 << 40)!r} AS vi,
         (CAST(CAST(vjnum AS HUGEINT) // CAST(den AS HUGEINT) AS DOUBLE)
          + CAST(CAST(vjnum AS HUGEINT) % CAST(den AS HUGEINT)
                 AS DOUBLE) / CAST(den AS DOUBLE))
           / {float(1 << 40)!r} AS vj
  FROM j
)
SELECT CAST(di AS BIGINT) AS dim_i, CAST(dj AS BIGINT) AS dim_j,
       sgn * acov AS cov,
       sgn * acov / sqrt(vi * vj) AS pearson_r
FROM d
ORDER BY acov DESC, dim_i, dim_j
LIMIT {_COV_TOPK}
"""

QUERIES["embedding_cov_topk"] = embedding_cov_topk
ORACLES["embedding_cov_topk"] = EMBEDDING_COV_TOPK_SQL
