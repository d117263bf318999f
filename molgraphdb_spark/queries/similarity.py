"""Similarity search over the ``embeddings`` table (SURVEY.md §7 M4:
brute-force cosine top-k baseline + LSH-bucketed scale path).

All vector math is built-in higher-order functions (``zip_with`` +
``aggregate`` left-fold) on ``array<float>`` cast to double — JVM-side,
no Python UDF. The left-fold matches DuckDB's sequential
``list_dot_product`` bit-for-bit (verified empirically), so oracles can
hash-compare; outputs are still emitted as basis-point integers
(floor(x·1e6+0.5)) for belt-and-braces determinism.

Scale notes (100 TB):
- Brute force is the CORRECTNESS baseline: a broadcast of the (small)
  query set against the full corpus — linear scan, no shuffle of the
  big side, top-k via per-partition window. Right answer, O(Q·N·d).
- The LSH path buckets vectors by the sign pattern of leading
  dimensions (random-hyperplane LSH specialized to axis-aligned
  planes: the sign bit of a stored float is exact, so bucketing costs
  zero arithmetic and is engine-portable). Candidates are an equi-join
  on the bucket key — N² never materializes. Real deployments would
  use learned/IVF centroids for the coarse quantizer; the join shape
  is identical (assignment → equi-join → rerank).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from molgraphdb_spark.session import tune
from molgraphdb_spark.sources.tables import load_table

#: Leading dimensions whose sign bits form the LSH bucket key.
LSH_SIGN_DIMS = 8


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding corpus under the module-wide NULL contract: a NULL
    embedding row is excluded EVERYWHERE, in the engine and in every
    oracle (_EMB_CTE filters identically) — otherwise NULL scores
    rank NULLS-FIRST in Spark but NULLS-LAST in DuckDB and
    per-label divisors drift apart (r6 advice)."""
    tune(spark)
    return (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
        )
    )


def _dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product — same accumulation order as
    DuckDB's list_dot_product, hence bit-identical results."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _sign_bucket(v: Column, dims: int = LSH_SIGN_DIMS) -> Column:
    """Bucket id: concatenated sign bits of the first ``dims`` entries."""
    return F.concat(
        *[(F.element_at(v, i + 1) >= 0).cast("int").cast("string") for i in range(dims)]
    )


_COS_SQL = (
    "list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"
)
_EMB_CTE = (
    "e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings"
    " WHERE embedding IS NOT NULL)"  # the _emb() NULL contract, mirrored
)
_SIGN_SQL = " || ".join(
    f"CAST(CAST(v[{i + 1}] >= 0 AS INT) AS VARCHAR)" for i in range(LSH_SIGN_DIMS)
)


# --------------------------------------------------------------------------
# Brute-force cosine top-k: the exact baseline.
# --------------------------------------------------------------------------
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 nearest neighbors (cosine) for query vectors vec_id < 5
    against the whole corpus. The query side is broadcast; the corpus
    is scanned once; ranking is a window over the query id."""
    emb = _emb(spark, sf_dir)
    # norm hoist (see dedup_embedding_cosine): per-row sqrt-folds on
    # each side replace two of the three per-pair folds, bit-identically
    # (same subexpressions, same multiply order as _cosine)
    corpus = emb.withColumn("nn", F.sqrt(_dot(F.col("v"), F.col("v"))))
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.sqrt(_dot(F.col("v"), F.col("v"))).alias("qn"),
    )
    pairs = (
        F.broadcast(queries).crossJoin(corpus).filter(F.col("vec_id") != F.col("query_id"))
    )
    cos = _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nn"))
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.floor(cos * 1_000_000 + 0.5).alias("cosine_ubp"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_ubp"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("query_id", "neighbor_id", "cosine_ubp", "rk")
        .orderBy("query_id", "rk")
    )


SIM_TOPK_SQL = f"""
WITH {_EMB_CTE},
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         CAST(floor(({_COS_SQL}) * 1000000 + 0.5) AS BIGINT) AS cosine_ubp
  FROM e a JOIN e b ON b.vec_id != a.vec_id
  WHERE a.vec_id < 5
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine_ubp DESC, neighbor_id ASC) AS rk
  FROM scored
)
SELECT query_id, neighbor_id, cosine_ubp, rk
FROM ranked WHERE rk <= 3
ORDER BY query_id, rk
"""


# --------------------------------------------------------------------------
# LSH-bucketed ANN: the scale path.
# --------------------------------------------------------------------------
def similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-1 neighbor per query (vec_id < 50), restricted
    to candidates sharing the 8-bit sign bucket (≈N/256 of the corpus).
    Join on the bucket key replaces the cross join — this is the shape
    that survives 100 TB. Recall is partial by design (ANN)."""
    emb = _emb(spark, sf_dir).withColumn("bucket", _sign_bucket(F.col("v")))
    # norm hoist (see dedup_embedding_cosine)
    queries = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.sqrt(_dot(F.col("v"), F.col("v"))).alias("qn"),
        "bucket",
    )
    cands = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        "v",
        F.sqrt(_dot(F.col("v"), F.col("v"))).alias("nn"),
        "bucket",
    )
    pairs = queries.join(cands, "bucket").filter(F.col("neighbor_id") != F.col("query_id"))
    cos = _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nn"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.floor(cos * 1_000_000 + 0.5).alias("cosine_ubp"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_ubp"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("query_id", "neighbor_id", "cosine_ubp")
        .orderBy("query_id")
    )


SIM_LSH_SQL = f"""
WITH {_EMB_CTE},
bucketed AS (SELECT vec_id, v, {_SIGN_SQL} AS bucket FROM e),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         CAST(floor(({_COS_SQL}) * 1000000 + 0.5) AS BIGINT) AS cosine_ubp
  FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND b.vec_id != a.vec_id
  WHERE a.vec_id < 50
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine_ubp DESC, neighbor_id ASC) AS rk
  FROM pairs
)
SELECT query_id, neighbor_id, cosine_ubp
FROM ranked WHERE rk = 1
ORDER BY query_id
"""


def _probe_buckets(bucket: Column, dims: int = LSH_SIGN_DIMS) -> Column:
    """The multi-probe set: the bucket itself plus its ``dims``
    Hamming-1 flips (Lv et al. 2007, multi-probe LSH — query the
    buckets MOST LIKELY to hold near misses instead of building more
    tables). 9 deterministic probe strings for the 8-bit sign bucket."""
    flips = []
    for i in range(dims):
        ch = F.substring(bucket, i + 1, 1)
        flipped = F.when(ch == "0", F.lit("1")).otherwise(F.lit("0"))
        flips.append(
            F.concat(
                F.substring(bucket, 1, i),
                flipped,
                F.substring(bucket, i + 2, dims - i - 1),
            )
        )
    return F.array(bucket, *flips)


def similarity_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@1 of sign-bucket LSH, single-probe vs Hamming-1
    MULTI-PROBE (Lv et al. 2007), measured in-engine against the exact
    answer — the number that justifies probing 9 buckets instead of
    building 9 tables. A query is CORRECT when its method's top-1
    cosine equals the exact top-1 cosine (tie-insensitive recall).

    Scale shape: the exact leg broadcasts the 50 bounded queries
    against the corpus (the similarity_cosine_topk shape — linear, one
    corpus pass); the LSH legs are bucket equi-joins (multi-probe
    explodes 9 probe keys per query — candidate volume ≈ 9·N/256,
    still ≪ N²); per-query top-1s are bounded-key windows. Output is
    2 rows."""
    emb = _emb(spark, sf_dir).withColumn("bucket", _sign_bucket(F.col("v")))
    # norm hoist on all three legs (see dedup_embedding_cosine)
    queries = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.sqrt(_dot(F.col("v"), F.col("v"))).alias("qn"),
        "bucket",
    )
    cands = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        "v",
        F.sqrt(_dot(F.col("v"), F.col("v"))).alias("nn"),
        F.col("bucket").alias("cbucket"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_ubp"), F.asc("neighbor_id")
    )

    def top1(pairs: DataFrame, out: str) -> DataFrame:
        scored = pairs.filter(F.col("neighbor_id") != F.col("query_id")).select(
            "query_id",
            "neighbor_id",
            _ubp(
                _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nn"))
            ).alias("cosine_ubp"),
        )
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("query_id", F.col("cosine_ubp").alias(out))
        )

    exact = top1(F.broadcast(queries).crossJoin(cands), "exact_ubp")
    single = top1(
        queries.join(cands, queries["bucket"] == cands["cbucket"]), "single_ubp"
    )
    multi = top1(
        queries.withColumn("probe", F.explode(_probe_buckets(F.col("bucket"))))
        .join(cands, F.col("probe") == cands["cbucket"]),
        "multi_ubp",
    )
    joined = (
        exact.join(single, "query_id", "left").join(multi, "query_id", "left")
    ).localCheckpoint()  # referenced once per output method row
    rows = []
    for method, col in (("single_probe", "single_ubp"), ("multi_probe", "multi_ubp")):
        rows.append(
            joined.agg(
                F.lit(method).alias("method"),
                F.count(F.lit(1)).alias("n_queries"),
                F.sum(F.col(col).isNotNull().cast("long")).alias("n_found"),
                # NULL-safe: a query with NO candidate contributes 0,
                # not NULL (all-NULL sums would erase the zero recall)
                F.sum(
                    F.coalesce(
                        (F.col(col) == F.col("exact_ubp")).cast("long"), F.lit(0)
                    )
                ).alias("n_correct"),
                F.expr(
                    f"CAST(SUM(COALESCE(CAST({col} = exact_ubp AS BIGINT), 0))"
                    " * 10000 DIV COUNT(1) AS BIGINT)"
                ).alias("recall_bp"),
            )
        )
    return rows[0].unionByName(rows[1]).orderBy("method")


def _flip_sql(i: int, dims: int = LSH_SIGN_DIMS) -> str:
    return (
        f"substr(bucket, 1, {i}) || "
        f"(CASE substr(bucket, {i + 1}, 1) WHEN '0' THEN '1' ELSE '0' END)"
        f" || substr(bucket, {i + 2}, {dims - i - 1})"
    )


SIM_LSH_RECALL_SQL = f"""
WITH {_EMB_CTE},
bucketed AS (SELECT vec_id, v, {_SIGN_SQL} AS bucket FROM e),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM bucketed WHERE vec_id < 50),
exact AS (
  SELECT query_id, cosine_ubp AS exact_ubp FROM (
    SELECT query_id, cosine_ubp,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine_ubp DESC, neighbor_id ASC) AS rk
    FROM (
      SELECT q.query_id, b.vec_id AS neighbor_id,
             CAST(floor((list_dot_product(q.qv, b.v)
               / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(b.v, b.v))))
               * 1000000 + 0.5) AS BIGINT) AS cosine_ubp
      FROM q CROSS JOIN bucketed b WHERE b.vec_id != q.query_id
    )
  ) WHERE rk = 1
),
single AS (
  SELECT query_id, cosine_ubp AS single_ubp FROM (
    SELECT query_id, cosine_ubp,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine_ubp DESC, neighbor_id ASC) AS rk
    FROM (
      SELECT q.query_id, b.vec_id AS neighbor_id,
             CAST(floor((list_dot_product(q.qv, b.v)
               / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(b.v, b.v))))
               * 1000000 + 0.5) AS BIGINT) AS cosine_ubp
      FROM q JOIN bucketed b ON b.bucket = q.bucket AND b.vec_id != q.query_id
    )
  ) WHERE rk = 1
),
probes AS (
  SELECT query_id, qv, unnest([bucket,
    {", ".join(_flip_sql(i) for i in range(LSH_SIGN_DIMS))}]) AS probe
  FROM q
),
multi AS (
  SELECT query_id, cosine_ubp AS multi_ubp FROM (
    SELECT query_id, cosine_ubp,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine_ubp DESC, neighbor_id ASC) AS rk
    FROM (
      SELECT p.query_id, b.vec_id AS neighbor_id,
             CAST(floor((list_dot_product(p.qv, b.v)
               / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(b.v, b.v))))
               * 1000000 + 0.5) AS BIGINT) AS cosine_ubp
      FROM probes p JOIN bucketed b ON b.bucket = p.probe AND b.vec_id != p.query_id
    )
  ) WHERE rk = 1
),
joined AS (
  SELECT e.query_id, e.exact_ubp, s.single_ubp, m.multi_ubp
  FROM exact e LEFT JOIN single s USING (query_id) LEFT JOIN multi m USING (query_id)
)
SELECT method,
       CAST(n_queries AS BIGINT) AS n_queries,
       CAST(n_found AS BIGINT) AS n_found,
       CAST(n_correct AS BIGINT) AS n_correct,
       CAST(n_correct * 10000 // n_queries AS BIGINT) AS recall_bp
FROM (
  SELECT 'single_probe' AS method, COUNT(*) AS n_queries,
         SUM(CAST(single_ubp IS NOT NULL AS BIGINT)) AS n_found,
         SUM(COALESCE(CAST(single_ubp = exact_ubp AS BIGINT), 0)) AS n_correct
  FROM joined
  UNION ALL
  SELECT 'multi_probe', COUNT(*),
         SUM(CAST(multi_ubp IS NOT NULL AS BIGINT)),
         SUM(COALESCE(CAST(multi_ubp = exact_ubp AS BIGINT), 0))
  FROM joined
)
ORDER BY method
"""


def similarity_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN GRAPH construction (k=3) — every vector is a query. This is
    the workload the bounded-candidate machinery exists for: at one
    query per corpus row, brute force is N^2 by definition, while the
    sign-bucket equi-join bounds candidates per vector to its bucket
    (~N/256), keeping total work ~N^2/256 and shuffle keys uniform.
    Exact cosine rerank + row_number within the bucket candidates;
    vectors whose bucket holds no other vector emit no edges (recall
    is partial by design — multi-probe/band tables widen it at the
    same join shape). Output is the adjacency list (vec_id,
    neighbor_id, rank, cosine_ubp) downstream consumers (SemDeDup-style
    semantic dedup, graph clustering, label propagation) read."""
    emb = _emb(spark, sf_dir).withColumn("bucket", _sign_bucket(F.col("v")))
    # norm hoist: every vector is a query here, so the saving is
    # 2 folds × every bucket pair (see dedup_embedding_cosine)
    a = emb.select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.sqrt(_dot(F.col("v"), F.col("v"))).alias("qn"),
        "bucket",
    )
    b = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        "v",
        F.sqrt(_dot(F.col("v"), F.col("v"))).alias("nn"),
        "bucket",
    )
    pairs = a.join(b, "bucket").filter(F.col("neighbor_id") != F.col("qid"))
    scored = pairs.select(
        F.col("qid").alias("vec_id"),
        "neighbor_id",
        _ubp(
            _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nn"))
        ).alias("cosine_ubp"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine_ubp"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("vec_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cosine_ubp")
        .orderBy("vec_id", "rank")
    )


SIM_KNN_GRAPH_SQL = f"""
WITH {_EMB_CTE},
bucketed AS (SELECT vec_id, v, {_SIGN_SQL} AS bucket FROM e),
pairs AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         CAST(floor(({_COS_SQL}) * 1000000 + 0.5) AS BIGINT) AS cosine_ubp
  FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND b.vec_id != a.vec_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                               ORDER BY cosine_ubp DESC, neighbor_id ASC) AS rk
  FROM pairs
)
SELECT vec_id, neighbor_id, CAST(rk AS BIGINT) AS rank, cosine_ubp
FROM ranked WHERE rk <= 3
ORDER BY vec_id, rk
"""


# --------------------------------------------------------------------------
# IVF ANN: coarse-quantizer scale path (deterministic centroids).
# --------------------------------------------------------------------------
IVF_K = 8  #: number of coarse cells (centroids = vectors with vec_id < IVF_K)
IVF_NPROBE = 2  #: cells probed per query
IVF_QLO, IVF_QHI = 100, 120  #: query id range


def _ubp(cos: Column) -> Column:
    return F.floor(cos * 1_000_000 + 0.5).cast("long")


def _ivf_centroids(emb: DataFrame) -> list[tuple[int, list[float]]]:
    """Deterministic coarse centroids: the vectors with vec_id < IVF_K,
    collected driver-side (a TINY dimension at any corpus scale) in the
    ``[(cid, vector), ...]`` shape the shared K-dispatched assignment
    kernel (operators/ivf.assign_cells_cos_ubp) takes."""
    rows = sorted(
        emb.filter(F.col("vec_id") < IVF_K).select("vec_id", "v").collect(),
        key=lambda r: r.vec_id,
    )
    return [(int(r.vec_id), [float(x) for x in r.v]) for r in rows]


def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: assign every corpus vector to its nearest of
    ``IVF_K`` deterministic centroids (the vectors with vec_id <
    IVF_K), probe the ``IVF_NPROBE`` nearest cells per query, exact
    cosine rerank within the probed cells, top-3.

    Scale shape (the point of IVF): centroids are a TINY dimension —
    collected to the driver and inlined as a literal array, so cell
    assignment is a MAP-ONLY fold over each row (no shuffle, no join
    for the corpus side; a real deployment broadcasts k-means
    centroids the same way). Assignment goes through the shared
    K-dispatched kernel (operators/ivf.assign_cells_cos_ubp): the
    literal fold at this K, the Arrow/BLAS matmul pass above
    ASSIGN_LITERAL_MAX_K centroids — same plan position either way.
    The only shuffles are the final per-query-cell hash join (probe
    side broadcast) and the top-k window over query_id. Candidate
    count ~ nprobe/K of the corpus — N^2 never materializes. Ties
    everywhere resolve by ascending id."""
    from molgraphdb_spark.operators.ivf import assign_cells_cos_ubp

    emb = _emb(spark, sf_dir)
    cents = _ivf_centroids(emb)
    # norm hoist on both join sides (see dedup_embedding_cosine)
    assign = assign_cells_cos_ubp(emb, "v", cents).select(
        "vec_id", "v", F.sqrt(_dot(F.col("v"), F.col("v"))).alias("nn"), "cid"
    )

    queries = emb.filter((F.col("vec_id") >= IVF_QLO) & (F.col("vec_id") < IVF_QHI)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    probe = assign_cells_cos_ubp(queries, "qv", cents, nprobe=IVF_NPROBE).select(
        "query_id",
        "qv",
        F.sqrt(_dot(F.col("qv"), F.col("qv"))).alias("qn"),
        F.explode("probes").alias("cid"),
    )
    cands = F.broadcast(probe).join(assign, "cid").filter(F.col("vec_id") != F.col("query_id"))
    scored = cands.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _ubp(
            _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nn"))
        ).alias("cosine_ubp"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_ubp"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("query_id", "neighbor_id", "cosine_ubp", "rk")
        .orderBy("query_id", "rk")
    )


SIM_IVF_SQL = f"""
WITH {_EMB_CTE},
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {IVF_K}),
scored AS (
  SELECT e.vec_id, e.v, c.cid,
         CAST(floor((list_dot_product(e.v, c.cv)
              / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))))
              * 1000000 + 0.5) AS BIGINT) AS cs
  FROM e CROSS JOIN c
),
assign AS (
  SELECT vec_id, v, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rk
    FROM scored) WHERE rk = 1
),
probe AS (
  SELECT vec_id AS query_id, v AS qv, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rk
    FROM scored WHERE vec_id >= {IVF_QLO} AND vec_id < {IVF_QHI}) WHERE rk <= {IVF_NPROBE}
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         CAST(floor((list_dot_product(p.qv, a.v)
              / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.v, a.v))))
              * 1000000 + 0.5) AS BIGINT) AS cosine_ubp
  FROM probe p JOIN assign a USING (cid)
  WHERE a.vec_id != p.query_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine_ubp DESC, neighbor_id ASC) AS rk
  FROM cand
)
SELECT query_id, neighbor_id, cosine_ubp, rk
FROM ranked WHERE rk <= 3
ORDER BY query_id, rk
"""


# --------------------------------------------------------------------------
# ANN quality measurement: IVF recall@3 vs the exact scan.
# --------------------------------------------------------------------------
def similarity_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the IVF path against the exact brute-force top-3,
    per query — the measurement loop every ANN deployment needs before
    trusting the approximate path at scale. Emits integer hit counts
    (n_exact, n_hit) per query; deterministic on both engines.

    Plan shape: the exact side is one broadcast-queries corpus scan +
    window (the correctness baseline's own shape); the IVF side reuses
    similarity_ivf_topk; the comparison is a tiny left join on
    (query_id, neighbor_id)."""
    emb = _emb(spark, sf_dir)
    # norm hoist on the exact leg (see dedup_embedding_cosine)
    corpus = emb.withColumn("nn", F.sqrt(_dot(F.col("v"), F.col("v"))))
    queries = emb.filter(
        (F.col("vec_id") >= IVF_QLO) & (F.col("vec_id") < IVF_QHI)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.sqrt(_dot(F.col("v"), F.col("v"))).alias("qn"),
    )
    pairs = (
        F.broadcast(queries).crossJoin(corpus).filter(F.col("vec_id") != F.col("query_id"))
    )
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _ubp(
            _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nn"))
        ).alias("cosine_ubp"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_ubp"), F.asc("neighbor_id"))
    exact = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("query_id", "neighbor_id")
    )
    ivf = similarity_ivf_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        exact.join(ivf, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"),
        )
        .orderBy("query_id")
    )


SIM_IVF_RECALL_SQL = f"""
WITH {_EMB_CTE},
exact_scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         CAST(floor(({_COS_SQL}) * 1000000 + 0.5) AS BIGINT) AS cosine_ubp
  FROM e a JOIN e b ON b.vec_id != a.vec_id
  WHERE a.vec_id >= {IVF_QLO} AND a.vec_id < {IVF_QHI}
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine_ubp DESC, neighbor_id ASC) AS rk
    FROM exact_scored) WHERE rk <= 3
),
ivf AS (SELECT query_id, neighbor_id FROM ({SIM_IVF_SQL}))
SELECT x.query_id, COUNT(*) AS n_exact,
       CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
FROM exact x LEFT JOIN ivf i
  ON i.query_id = x.query_id AND i.neighbor_id = x.neighbor_id
GROUP BY x.query_id
ORDER BY x.query_id
"""


# --------------------------------------------------------------------------
# Embedding-cosine near-dup: the dedup framing of similarity.
# --------------------------------------------------------------------------
DUP_THRESHOLD_UBP = 400_000  #: cosine >= 0.40 (in ubp units)

#: Hard input bound for the exact-quadratic baseline: n² pairs above
#: this are a scale bug, not a workload — callers must switch to the
#: LSH/IVF twins (similarity_lsh_topk, dedup_minhash_lsh_pairs).
MAX_EXACT_PAIRS_INPUT = 100_000


def _guard_quadratic(sf_dir: str, name: str) -> None:
    """Refuse to build an O(n²) exact baseline over more than
    MAX_EXACT_PAIRS_INPUT rows. The count comes from the parquet
    footers (pyarrow dataset metadata) — exact, driver-side,
    milliseconds — so query construction stays job-free and returns an
    unexecuted plan like every other query in this package; plan-audit
    paths that never execute the query pay nothing."""
    import os

    import pyarrow.dataset as ds

    n = ds.dataset(
        os.path.join(sf_dir, "embeddings.parquet"), format="parquet"
    ).count_rows()
    if n > MAX_EXACT_PAIRS_INPUT:
        raise ValueError(
            f"{name}: exact-quadratic baseline refused on {n} rows "
            f"(> {MAX_EXACT_PAIRS_INPUT}); use the LSH/IVF scale path instead"
        )


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection: every vector that is
    within cosine >= 0.40 of an earlier (smaller-id) vector is a
    duplicate; report it with its earliest match and match count —
    the greedy keep-first dedup policy on the similarity graph.

    This is the exact quadratic baseline (pruned a.id < b.id cross
    join). The 100 TB path swaps the cross join for LSH blocking
    (sign buckets here, MinHash bands for text — see
    similarity_lsh_topk / dedup_minhash_lsh_pairs); the downstream
    group-by is unchanged; a hard input-size guard refuses corpora
    beyond MAX_EXACT_PAIRS_INPUT."""
    _guard_quadratic(sf_dir, "dedup_embedding_cosine")
    emb = _emb(spark, sf_dir)
    # The embedding table is tiny in BYTES (~13 MB at sf0.1) so the
    # scan yields ONE input split — but the BNLJ's work is quadratic
    # in ROWS, so that one task would evaluate all ~1.2G cosine folds
    # alone (measured 30-43 s; the whole query is this stage).
    # Round-robin the stream side across the full parallelism first:
    # compute-bound operators partition by WORK, not by input bytes.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # Norm hoist (r14, guide §1.2 step 2 — per-task work): _cosine
    # evaluates sqrt(dot(a,a))·sqrt(dot(b,b)) INSIDE the per-pair
    # expression — three length-d array folds per pair where one
    # suffices. Hoisting each side's norm to a per-ROW column pays n
    # sqrt-folds instead of 2·n², bit-identically: the same
    # sqrt(_dot(v,v)) subexpression evaluated once per row, then the
    # same multiply in the same operand order.
    a = emb.select(
        F.col("vec_id").alias("ia"),
        F.col("v").alias("va"),
        F.sqrt(_dot(F.col("v"), F.col("v"))).alias("na"),
    ).repartition(n_part)
    b = emb.select(
        F.col("vec_id").alias("ib"),
        F.col("v").alias("vb"),
        F.sqrt(_dot(F.col("v"), F.col("v"))).alias("nb"),
    )
    pairs = (
        a.crossJoin(b)
        .filter(F.col("ia") < F.col("ib"))
        .select(
            "ia",
            "ib",
            _ubp(
                _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
            ).alias("cos_ubp"),
        )
        .filter(F.col("cos_ubp") >= DUP_THRESHOLD_UBP)
    )
    return (
        pairs.groupBy(F.col("ib").alias("vec_id"))
        .agg(F.min("ia").alias("dup_of"), F.count(F.lit(1)).alias("n_matches"))
        .orderBy("vec_id")
    )


DEDUP_EMB_SQL = f"""
WITH {_EMB_CTE},
pairs AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         CAST(floor(({_COS_SQL}) * 1000000 + 0.5) AS BIGINT) AS cos_ubp
  FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT ib AS vec_id, MIN(ia) AS dup_of, COUNT(*) AS n_matches
FROM pairs WHERE cos_ubp >= {DUP_THRESHOLD_UBP}
GROUP BY ib
ORDER BY vec_id
"""


# --------------------------------------------------------------------------
# Similarity histogram: same-label vs cross-label pair counts by band.
# --------------------------------------------------------------------------
def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triplet mining for contrastive training (Schroff et al. 2015,
    FaceNet): per anchor, the HARD NEGATIVE (most-similar vector with
    a different label) and the HARD POSITIVE (least-similar vector
    with the same label), plus the margin between them — negative
    margins are triplet violations, the examples a metric-learning
    batch builder feeds first.

    This is the exact quadratic baseline (guarded like
    dedup_embedding_cosine, stream side repartitioned by WORK —
    the single-split funnel rule); the 100 TB path swaps the cross
    join for the ANN shortlist (similarity_ivf_topk's assign+probe)
    with identical downstream aggregation. BOTH legs ride ONE
    groupBy(anchor) with conditional aggregates (max_by/min_by skip
    NULL keys, so the same-label and different-label legs coexist in
    one pass — no pair materialization, no outer join, and the
    anchor's label is always carried). Ties break to the smallest
    neighbor id via struct keys — integer cosine micro-bp,
    engine-portable."""
    _guard_quadratic(sf_dir, "embedding_hard_negatives")
    emb = _emb(spark, sf_dir)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # Same norm hoist as dedup_embedding_cosine: n sqrt-folds, not 2·n².
    a = emb.select(
        F.col("vec_id").alias("ia"),
        F.col("v").alias("va"),
        F.col("label").alias("la"),
        F.sqrt(_dot(F.col("v"), F.col("v"))).alias("na"),
    ).repartition(n_part)
    b = emb.select(
        F.col("vec_id").alias("ib"),
        F.col("v").alias("vb"),
        F.col("label").alias("lb"),
        F.sqrt(_dot(F.col("v"), F.col("v"))).alias("nb"),
    )
    pairs = (
        a.crossJoin(b)
        .filter(F.col("ia") != F.col("ib"))
        .select(
            "ia", "la", "ib", "lb",
            _ubp(
                _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
            ).alias("cos_ubp"),
        )
    )
    diff = F.col("la") != F.col("lb")
    same = F.col("la") == F.col("lb")
    out = pairs.groupBy("ia", "la").agg(
        F.max_by(
            "ib",
            F.when(diff, F.struct(F.col("cos_ubp").alias("c"), (-F.col("ib")).alias("t"))),
        ).alias("hard_neg_id"),
        F.max(F.when(diff, F.col("cos_ubp"))).alias("hard_neg_cos_ubp"),
        F.min_by(
            "ib",
            F.when(same, F.struct(F.col("cos_ubp").alias("c"), F.col("ib").alias("t"))),
        ).alias("hard_pos_id"),
        F.min(F.when(same, F.col("cos_ubp"))).alias("hard_pos_cos_ubp"),
    )
    return out.select(
        F.col("ia").alias("vec_id"),
        F.col("la").alias("label"),
        "hard_neg_id",
        "hard_neg_cos_ubp",
        "hard_pos_id",
        "hard_pos_cos_ubp",
        (F.col("hard_pos_cos_ubp") - F.col("hard_neg_cos_ubp")).alias("margin_ubp"),
    ).orderBy("vec_id")


EMB_HARD_NEG_SQL = f"""
WITH {_EMB_CTE},
pairs AS (
  SELECT a.vec_id AS ia, a.label AS la, b.vec_id AS ib, b.label AS lb,
         CAST(floor(({_COS_SQL}) * 1000000 + 0.5) AS BIGINT) AS cos_ubp
  FROM e a JOIN e b ON a.vec_id <> b.vec_id
)
SELECT ia AS vec_id, la AS label,
       arg_max(CASE WHEN la <> lb THEN ib END,
               CASE WHEN la <> lb THEN
                 lpad(CAST(cos_ubp + 1000000 AS VARCHAR), 9, '0')
                 || lpad(CAST(999999999999 - ib AS VARCHAR), 12, '0') END)
         AS hard_neg_id,
       MAX(cos_ubp) FILTER (WHERE la <> lb) AS hard_neg_cos_ubp,
       arg_min(CASE WHEN la = lb THEN ib END,
               CASE WHEN la = lb THEN
                 lpad(CAST(cos_ubp + 1000000 AS VARCHAR), 9, '0')
                 || lpad(CAST(ib AS VARCHAR), 12, '0') END)
         AS hard_pos_id,
       MIN(cos_ubp) FILTER (WHERE la = lb) AS hard_pos_cos_ubp,
       MIN(cos_ubp) FILTER (WHERE la = lb)
         - MAX(cos_ubp) FILTER (WHERE la <> lb) AS margin_ubp
FROM pairs
GROUP BY ia, la
ORDER BY vec_id
"""


def embedding_hard_negatives_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN-shortlist twin of :func:`embedding_hard_negatives` —
    the 100 TB path the exact twin's docstring promises: IVF coarse
    quantization (same deterministic centroids as similarity_ivf_topk)
    replaces the all-pairs cross join, and the IDENTICAL one-groupBy
    conditional-aggregate tail mines the triplet from the shortlist.

    Per anchor: assign every corpus vector to its nearest of IVF_K
    cells (map-only literal-centroid fold — no shuffle), pick the
    anchor's IVF_NPROBE nearest cells with a map-only array sort (no
    window — the cell count is a literal), equi-join anchor probes to
    cell members, and run the exact twin's max_by/min_by aggregates
    over the shortlist. Semantics are shortlist-relative by design:
    the hard negative is the most-similar different-label vector IN
    THE PROBED CELLS (what ANN mining gives a real batch builder), and
    the hard positive is the least-similar same-label vector there —
    anchors whose probed cells hold no same/different-label candidate
    carry NULLs, exactly like the probe-miss rows of an ANN service.
    Agreement with the exact twin is measured by the planted probe
    and recorded in BASELINE.md.

    Scale shape: candidate volume is ~nprobe/K of the cross join. The
    constants here are test-scale (K=8); production sizes K ~ O(√n) so
    per-anchor work is O(nprobe·n/K) = O(√n) and the cid equi-join is
    balanced across thousands of cells — the plan shape (assign →
    probe → equi-join → one groupBy) is unchanged. The input guard
    stays because with FIXED K the worst case is still a constant
    fraction of quadratic."""
    from molgraphdb_spark.operators.ivf import (
        ASSIGN_LITERAL_MAX_K,
        assign_cells_balanced,
        assign_cells_cos_ubp,
        expand_probes,
        shortlist_with_spill,
    )

    _guard_quadratic(sf_dir, "embedding_hard_negatives_ann")
    emb = _emb(spark, sf_dir)
    cents = _ivf_centroids(emb)
    if not cents and emb.select("vec_id").head(1):
        # No vec_id < IVF_K. Legitimate ONLY for an empty corpus (zero
        # output either way); a NON-empty corpus here would assign every
        # vector to one sentinel cell, degenerating the shortlist into
        # an all-pairs join on a constant key — assert the dense-vec_id
        # fixture invariant loudly instead of silently diverging.
        raise ValueError(
            "embedding_hard_negatives_ann: corpus is non-empty but no "
            f"vec_id < IVF_K={IVF_K}; the deterministic-centroid fixture "
            "invariant (dense vec_ids from 0) does not hold"
        )
    # ONE shared assignment pass computes the nearest cell (corpus
    # side) AND the nprobe probe cells (anchor side); the kernel is
    # K-dispatched (literal fold here at K=8, Arrow/BLAS above
    # ASSIGN_LITERAL_MAX_K — the production shape probed at n=2M,
    # K=1414).
    balanced_branch = len(cents) > ASSIGN_LITERAL_MAX_K
    if balanced_branch:
        # Production-K path: the SCALE.md §12 skew rule as an OPERATOR
        # (r12 verdict item 3) — assign, persist (the gate's histogram
        # job and the shortlist join share one assignment pass; the
        # r12 ADVICE double-compute fix), and on a hot cell SPLIT its
        # centroid by a local 2-means re-train instead of aborting.
        # expand_probes rewrites split parents to their leaf children
        # on the anchor side, so the candidate set — and therefore
        # recall — is IDENTICAL to the unsplit index while the biggest
        # join partition shrinks by the split fan-out (measured on a
        # planted hot-cell corpus). At the test-scale
        # literal K this branch is skipped: no extra job, registry
        # plans unchanged.
        assigned, cents, stats = assign_cells_balanced(
            emb, "v", cents, id_col="vec_id", nprobe=IVF_NPROBE
        )
        assigned = expand_probes(assigned, stats["split_map"])
        spill_cids = stats["spill_cids"]
        if spill_cids:
            # Degradation contract (ADVICE r13): a cell that survived
            # max_rounds must not flow SILENTLY into the equi-join —
            # announce it, then route it through the salted exact side
            # channel below (shortlist_with_spill), which bounds the
            # hot cell's biggest join task while keeping the candidate
            # set bit-identical.
            import warnings

            warnings.warn(
                "embedding_hard_negatives_ann: "
                f"{len(spill_cids)} IVF cell(s) still exceed the balance "
                f"ratio after splitting (cids {spill_cids}); routing them "
                "through the salted exact side channel",
                RuntimeWarning,
                stacklevel=2,
            )
    else:
        assigned = assign_cells_cos_ubp(emb, "v", cents, nprobe=IVF_NPROBE)
        spill_cids = []
    assign = assigned.select(
        F.col("vec_id").alias("ib"),
        F.col("v").alias("vb"),
        F.col("label").alias("lb"),
        # norm hoist: one sqrt-fold per corpus row, not one per
        # shortlist pair (see dedup_embedding_cosine)
        F.sqrt(_dot(F.col("v"), F.col("v"))).alias("nb"),
        "cid",
    )
    if balanced_branch:
        # Kernel-produced probes: data-dependent length (expand_probes
        # rewrites split parents to a variable number of leaf children)
        # — explode() is the only correct unpivot, and its inferred
        # size(probes)>0 filter is a cheap attribute check here.
        probe_cid = F.explode("probes").alias("cid")
    else:
        # Literal-fold probes have FIXED length min(nprobe, K): unpivot
        # with stack() (infers no filter) instead of explode(), whose
        # InferFiltersFromGenerate pushes size(probes)>0 below the
        # projection and re-evaluates the whole probe fold (K scores +
        # sort + slice) a second time per corpus row (r14 plan audit:
        # the fold appeared verbatim in the corpus Filter condition).
        # Row-equal: probes is never NULL (v is prefiltered non-null)
        # and stack's branches index the SAME array in the SAME order.
        # An EMPTY corpus has no centroids (stack(0) cannot parse);
        # both unpivots emit zero rows there, so keep explode.
        n_take = min(IVF_NPROBE, len(cents))
        if n_take < 1:
            probe_cid = F.explode("probes").alias("cid")
        else:
            stack_args = ", ".join(f"probes[{i}]" for i in range(n_take))
            probe_cid = F.expr(f"stack({n_take}, {stack_args}) AS (cid)")
    anchors = assigned.select(
        F.col("vec_id").alias("ia"),
        F.col("v").alias("va"),
        F.col("label").alias("la"),
        F.sqrt(_dot(F.col("v"), F.col("v"))).alias("na"),
        probe_cid,
    )
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    shortlist = shortlist_with_spill(
        anchors.repartition(n_part, "cid", "ia"),
        assign,
        spill_cids,
        member_id_col="ib",
    )
    pairs = (
        shortlist.filter(F.col("ia") != F.col("ib"))
        .select(
            "ia", "la", "ib", "lb",
            _ubp(
                _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
            ).alias("cos_ubp"),
        )
    )
    diff = F.col("la") != F.col("lb")
    same = F.col("la") == F.col("lb")
    out = pairs.groupBy("ia", "la").agg(
        F.max_by(
            "ib",
            F.when(diff, F.struct(F.col("cos_ubp").alias("c"), (-F.col("ib")).alias("t"))),
        ).alias("hard_neg_id"),
        F.max(F.when(diff, F.col("cos_ubp"))).alias("hard_neg_cos_ubp"),
        F.min_by(
            "ib",
            F.when(same, F.struct(F.col("cos_ubp").alias("c"), F.col("ib").alias("t"))),
        ).alias("hard_pos_id"),
        F.min(F.when(same, F.col("cos_ubp"))).alias("hard_pos_cos_ubp"),
    )
    return out.select(
        F.col("ia").alias("vec_id"),
        F.col("la").alias("label"),
        "hard_neg_id",
        "hard_neg_cos_ubp",
        "hard_pos_id",
        "hard_pos_cos_ubp",
        (F.col("hard_pos_cos_ubp") - F.col("hard_neg_cos_ubp")).alias("margin_ubp"),
    ).orderBy("vec_id")


EMB_HARD_NEG_ANN_SQL = f"""
WITH {_EMB_CTE},
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {IVF_K}),
cell_scored AS (
  SELECT e.vec_id, e.v, e.label, c.cid,
         CAST(floor((list_dot_product(e.v, c.cv)
              / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))))
              * 1000000 + 0.5) AS BIGINT) AS cs
  FROM e CROSS JOIN c
),
assign AS (
  SELECT vec_id AS ib, v AS vb, label AS lb, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rk
    FROM cell_scored) WHERE rk = 1
),
probe AS (
  SELECT vec_id AS ia, v AS va, label AS la, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rk
    FROM cell_scored) WHERE rk <= {IVF_NPROBE}
),
pairs AS (
  SELECT p.ia, p.la, a.ib, a.lb,
         CAST(floor((list_dot_product(p.va, a.vb)
              / (sqrt(list_dot_product(p.va, p.va)) * sqrt(list_dot_product(a.vb, a.vb))))
              * 1000000 + 0.5) AS BIGINT) AS cos_ubp
  FROM probe p JOIN assign a USING (cid)
  WHERE p.ia <> a.ib
)
SELECT ia AS vec_id, la AS label,
       arg_max(CASE WHEN la <> lb THEN ib END,
               CASE WHEN la <> lb THEN
                 lpad(CAST(cos_ubp + 1000000 AS VARCHAR), 9, '0')
                 || lpad(CAST(999999999999 - ib AS VARCHAR), 12, '0') END)
         AS hard_neg_id,
       MAX(cos_ubp) FILTER (WHERE la <> lb) AS hard_neg_cos_ubp,
       arg_min(CASE WHEN la = lb THEN ib END,
               CASE WHEN la = lb THEN
                 lpad(CAST(cos_ubp + 1000000 AS VARCHAR), 9, '0')
                 || lpad(CAST(ib AS VARCHAR), 12, '0') END)
         AS hard_pos_id,
       MIN(cos_ubp) FILTER (WHERE la = lb) AS hard_pos_cos_ubp,
       MIN(cos_ubp) FILTER (WHERE la = lb)
         - MAX(cos_ubp) FILTER (WHERE la <> lb) AS margin_ubp
FROM pairs
GROUP BY ia, la
ORDER BY vec_id
"""


def similarity_label_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributional check on a vec_id<150 sample: pair counts per
    0.1-cosine band, split by same/different label. Integer counting
    over deterministic per-pair values — engine-portable aggregation."""
    emb = _emb(spark, sf_dir).filter(F.col("vec_id") < 150)
    a = emb.select(F.col("vec_id").alias("ia"), F.col("v").alias("va"), F.col("label").alias("la"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("v").alias("vb"), F.col("label").alias("lb"))
    pairs = a.crossJoin(b).filter(F.col("ia") < F.col("ib"))
    cos = _cosine(F.col("va"), F.col("vb"))
    return (
        pairs.select(
            (F.col("la") == F.col("lb")).cast("int").alias("same_label"),
            F.floor(cos * 10).cast("long").alias("cos_band"),
        )
        .groupBy("same_label", "cos_band")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("same_label", "cos_band")
    )


SIM_BANDS_SQL = f"""
WITH {_EMB_CTE},
pairs AS (
  SELECT CAST(a.label = b.label AS INT) AS same_label,
         CAST(floor(({_COS_SQL}) * 10) AS BIGINT) AS cos_band
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE a.vec_id < 150 AND b.vec_id < 150
)
SELECT same_label, cos_band, COUNT(*) AS n_pairs
FROM pairs GROUP BY same_label, cos_band
ORDER BY same_label, cos_band
"""


def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-column hygiene stats per label: L2-norm min/mean/max
    and zero-vector count — the sanity pass every embedding pipeline
    runs before indexing (un-normalized or degenerate vectors poison
    cosine ANN). Map-only per-row fold + one tiny groupBy(label)
    shuffle; norms in integer micro-units (floor) for cross-engine
    float identity."""
    emb = _emb(spark, sf_dir)
    norm_u = F.floor(F.sqrt(_dot(F.col("v"), F.col("v"))) * 1_000_000 + 0.5).cast("long")
    return (
        emb.select("label", norm_u.alias("norm_u"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("norm_u").alias("min_norm_u"),
            F.floor(F.avg("norm_u") + 0.5).cast("long").alias("mean_norm_u"),
            F.max("norm_u").alias("max_norm_u"),
            F.sum((F.col("norm_u") == 0).cast("long")).alias("n_zero"),
        )
        .orderBy("label")
    )


EMB_NORM_SQL = """
WITH e AS (
  SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), n AS (
  SELECT label,
         CAST(floor(sqrt(list_dot_product(v, v)) * 1000000 + 0.5) AS BIGINT) AS norm_u
  FROM e
)
SELECT label, COUNT(*) AS n_vecs,
       MIN(norm_u) AS min_norm_u,
       CAST(floor(AVG(norm_u) + 0.5) AS BIGINT) AS mean_norm_u,
       MAX(norm_u) AS max_norm_u,
       CAST(SUM(CASE WHEN norm_u = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
FROM n
GROUP BY label
ORDER BY label
"""


def embedding_quantize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column with
    per-label reconstruction-error accounting — the compression pass an
    ANN index build runs (int8 storage is 4× smaller than float32;
    acceptable iff the dequantization error is small next to inter-
    vector distances).

    q_i = floor(x_i·127/s + 0.5) clamped to [-127, 127], s = corpus
    max |x_i| (a 1-row broadcast — at 100 TB it is still one double).
    Per-element squared errors are floored to integer PICO-units
    BEFORE summation, so every aggregate is order-free integer
    arithmetic (the oracle hashes exactly at any parallelism); the
    quantize/dequantize chain itself is identical IEEE double ops on
    both engines. Map-only over the corpus + one tiny groupBy(label).
    """
    emb = _emb(spark, sf_dir)
    scale = emb.agg(
        F.max(F.array_max(F.transform(F.col("v"), lambda x: F.abs(x)))).alias("s")
    )

    def _err_p(x):
        q = F.greatest(
            F.lit(-127.0),
            F.least(F.lit(127.0), F.floor(x * 127.0 / F.col("s") + 0.5)),
        )
        e = x - q * F.col("s") / 127.0
        return F.floor(e * e * 1e12 + 0.5).cast("long")

    per_vec = emb.crossJoin(F.broadcast(scale)).select(
        "label",
        F.aggregate(
            F.transform(F.col("v"), _err_p), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("err_p"),
        F.size("v").alias("dim"),
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("err_p").alias("sum_sq_err_p"),
            F.floor(F.sum("err_p") / F.sum("dim")).cast("long").alias("mse_p"),
            F.max("err_p").alias("max_vec_err_p"),
        )
        .orderBy("label")
    )


EMB_QUANT_SQL = """
WITH e AS (
  SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), s AS (
  SELECT MAX(list_max(list_transform(v, x -> abs(x)))) AS s FROM e
), pv AS (
  SELECT label,
         list_sum(list_transform(v, x -> CAST(floor(
             (x - greatest(-127.0, least(127.0, floor(x * 127.0 / s.s + 0.5))) * s.s / 127.0)
           * (x - greatest(-127.0, least(127.0, floor(x * 127.0 / s.s + 0.5))) * s.s / 127.0)
           * 1e12 + 0.5) AS BIGINT))) AS err_p,
         len(v) AS dim
  FROM e CROSS JOIN s
)
SELECT label, COUNT(*) AS n_vecs,
       CAST(SUM(err_p) AS BIGINT) AS sum_sq_err_p,
       CAST(floor(SUM(err_p) * 1.0 / SUM(dim)) AS BIGINT) AS mse_p,
       CAST(MAX(err_p) AS BIGINT) AS max_vec_err_p
FROM pv
GROUP BY label
ORDER BY label
"""


def _emb_bucketed_normed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v, nrm, bucket) materialized ONCE for the sign-bucket
    pair queries (r15, guide §2.4 + the r14 inferred-filter find): both
    join sides previously re-computed the 64-fold norm AND the 8-sign
    bucket concat per row, and the equi-join on the nullable derived
    bucket inferred an isnotnull(bucket) Filter that inlined the whole
    concat a second time per row (the dedup_embedding_lsh deferral in
    the r14 verdict, item 8). Materializing the projection makes bucket
    an ATTRIBUTE: the inferred filter becomes a cheap null check with
    UNCHANGED semantics — rows whose bucket is NULL (short vectors /
    null elements, which concat nulls out) still drop from the join
    exactly as before. localCheckpoint (not cache) per the repo rule
    for multiply-referenced in-query relations."""
    emb = _emb(spark, sf_dir)
    return emb.select(
        "vec_id",
        "v",
        F.sqrt(_dot(F.col("v"), F.col("v"))).alias("nrm"),
        _sign_bucket(F.col("v")).alias("bucket"),
    ).localCheckpoint()


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup detection, LSH-bounded — the scale path the
    exact ``dedup_embedding_cosine`` docstring promises: candidate
    pairs come from an equi-join on the sign bucket (same policy,
    cosine >= 0.40 to an earlier vector, same output shape), so the
    pair universe is Sigma(bucket_size^2), never N^2, and the
    quadratic input guard is unnecessary. Recall is partial by design
    (a near-dup pair split across buckets is missed; at 100 TB one
    widens coverage with multiple bucket tables / multi-probe, same
    join shape per table). True near-identical vectors agree on sign
    bits almost surely, so the high-cosine pairs this query exists to
    catch survive bucketing — the ANN scale probe measured recall 1.0
    on exactly that replica structure (BASELINE.md)."""
    emb = _emb_bucketed_normed(spark, sf_dir)  # one fold pass, both sides
    a = emb.select(
        F.col("vec_id").alias("ia"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
        "bucket",
    )
    b = emb.select(
        F.col("vec_id").alias("ib"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
        "bucket",
    )
    pairs = (
        a.join(b, "bucket")
        .filter(F.col("ia") < F.col("ib"))
        .select(
            "ia",
            "ib",
            _ubp(
                _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
            ).alias("cos_ubp"),
        )
        .filter(F.col("cos_ubp") >= DUP_THRESHOLD_UBP)
    )
    return (
        pairs.groupBy(F.col("ib").alias("vec_id"))
        .agg(F.min("ia").alias("dup_of"), F.count(F.lit(1)).alias("n_matches"))
        .orderBy("vec_id")
    )


DEDUP_EMB_LSH_SQL = f"""
WITH {_EMB_CTE},
bucketed AS (SELECT vec_id, v, {_SIGN_SQL} AS bucket FROM e),
pairs AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         CAST(floor(({_COS_SQL}) * 1000000 + 0.5) AS BIGINT) AS cos_ubp
  FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT ib AS vec_id, MIN(ia) AS dup_of, COUNT(*) AS n_matches
FROM pairs WHERE cos_ubp >= {DUP_THRESHOLD_UBP}
GROUP BY ib
ORDER BY vec_id
"""


def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style cluster resolution: connected components over the
    bucket-bounded cosine>=0.40 similarity graph (the same pair set
    dedup_embedding_lsh flags greedily), labelled by the smallest
    member, with component size. Greedy keep-first answers "is this a
    dup"; components answer "how many semantic groups does the corpus
    hold and how big are they" — the statistic a curation pass budgets
    against. CC runs on the pair graph (<= corpus edges by the bucket
    bound); the oracle is a recursive-CTE closure like the fuzzy-
    linkage and purchase-graph oracles."""
    from molgraphdb_spark.operators.graph import connected_components

    emb = _emb_bucketed_normed(spark, sf_dir)  # one fold pass, both sides
    a = emb.select(
        F.col("vec_id").alias("ia"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
        "bucket",
    )
    b = emb.select(
        F.col("vec_id").alias("ib"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
        "bucket",
    )
    pairs = (
        a.join(b, "bucket")
        .filter(F.col("ia") < F.col("ib"))
        .select(
            "ia",
            "ib",
            _ubp(
                _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
            ).alias("cos_ubp"),
        )
        .filter(F.col("cos_ubp") >= DUP_THRESHOLD_UBP)
    )
    edges = pairs.select(F.col("ia").alias("src"), F.col("ib").alias("dst"))
    edges = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return (
        connected_components(edges)
        .groupBy(F.col("component").alias("canonical_vec"))
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("canonical_vec")
    )


DEDUP_SEMANTIC_SQL = f"""
WITH RECURSIVE {_EMB_CTE},
bucketed AS (SELECT vec_id, v, {_SIGN_SQL} AS bucket FROM e),
matched AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib
  FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE floor(({_COS_SQL}) * 1000000 + 0.5) >= {DUP_THRESHOLD_UBP}
),
edges AS (
  SELECT ia AS src, ib AS dst FROM matched
  UNION
  SELECT ib, ia FROM matched
),
verts AS (SELECT DISTINCT src AS id FROM edges),
reach(a, b) AS (
  SELECT id, id FROM verts
  UNION
  SELECT r.a, e2.dst FROM reach r JOIN edges e2 ON e2.src = r.b
),
comp AS (SELECT a AS id, MIN(b) AS canonical_vec FROM reach GROUP BY a)
SELECT canonical_vec, COUNT(*) AS n_vectors
FROM comp GROUP BY canonical_vec
ORDER BY canonical_vec
"""


# --------------------------------------------------------------------------
# Product quantization through the driver contract (r5 verdict item 4).
# --------------------------------------------------------------------------
PQ_STATS_M = 8  #: subspaces over the 64-dim embeddings (dsub = 8)
PQ_STATS_K = 16  #: codebook size per subspace (codes fit 4 bits)


def pq_code_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codebook occupancy + reconstruction-error stats — the
    oracle-checked registry leg of operators/pq.py (the golden-tested
    trainer keeps float-summed Lloyd's iterations; THIS query fixes the
    codebooks deterministically so DuckDB recomputes every code).

    Codebooks follow the IVF-centroid precedent (similarity_ivf_topk):
    subspace ``s``'s centroids are the corresponding slices of the
    vectors with ``vec_id < PQ_STATS_K`` — collected to the driver
    (tiny dimension) and inlined as literals, so encoding is a MAP-ONLY
    argmin fold per subspace inside whole-stage codegen; the corpus
    never shuffles until the ≤M·K-key histogram aggregation. Distances
    are floored to integer micro-units BEFORE the argmin (the _ubp
    rule) so code assignment is bit-portable across engines.

    Output: (subspace, code, n_vecs, err_upm_sum) — the per-cell
    histogram says whether codes are balanced (a collapsed codebook
    shows empty cells), the error sum is the corpus quantization
    distortion a deployment monitors."""
    from molgraphdb_spark.operators.pq import pq_encode_ubp

    emb = _emb(spark, sf_dir)
    cents = sorted(
        emb.filter(F.col("vec_id") < PQ_STATS_K).select("vec_id", "v").collect(),
        key=lambda r: r.vec_id,
    )
    out_schema = "subspace int, code int, n_vecs long, err_upm_sum long"
    if not cents:
        return spark.createDataFrame([], out_schema)
    d = len(cents[0].v)
    dsub = d // PQ_STATS_M
    codebooks = [
        [
            (int(r.vec_id), [float(x) for x in r.v[s * dsub : (s + 1) * dsub]])
            for r in cents
        ]
        for s in range(PQ_STATS_M)
    ]
    cells = pq_encode_ubp(emb, "v", codebooks)
    # Unpivot via stack (Expand), NOT posexplode (Generate): the
    # optimizer's InferFiltersFromGenerate pushes a size(pq_cells)>0
    # predicate below the projection and INLINES the full M·K argmin
    # fold into the Filter — the query's most expensive expression
    # evaluated twice per row (the r14 plan audit caught the duplicated
    # 8-subspace fold in the Filter condition; guide §4.4's duplication
    # problem in its JVM-expression form). stack() infers no filter,
    # and SimplifyExtractValueOps reduces each pq_cells[s] branch to
    # subspace s's fold alone, so every fold still evaluates exactly
    # once per row. Same rows out: pq_cells is a literal M-element
    # array (never NULL, never empty), so Generate dropped nothing.
    stack_args = ", ".join(f"{s}, pq_cells[{s}]" for s in range(PQ_STATS_M))
    return (
        cells.select(
            F.expr(f"stack({PQ_STATS_M}, {stack_args}) AS (subspace, cell)")
        )
        .groupBy(
            F.col("subspace").cast("int").alias("subspace"),
            F.col("cell.cid").alias("code"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("cell.d2_upm").cast("long").alias("err_upm_sum"),
        )
        .orderBy("subspace", "code")
    )


#: The difference is written out twice instead of ``^2`` — DuckDB's pow()
#: need not equal x*x in the last ulp, and Spark computes diff*diff.
_PQ_DIFF = (
    f"(e.v[CAST(cb.s * {64 // PQ_STATS_M} + j AS INT)] - cb.cv[CAST(j AS INT)])"
)

PQ_CODE_STATS_SQL = f"""
WITH {_EMB_CTE},
cb AS (
  SELECT s.s AS s, c.vec_id AS cid,
         c.v[CAST(s.s * {64 // PQ_STATS_M} + 1 AS INT) : CAST(s.s * {64 // PQ_STATS_M} + {64 // PQ_STATS_M} AS INT)] AS cv
  FROM (SELECT unnest(range(0, {PQ_STATS_M})) AS s) s, e c
  WHERE c.vec_id < {PQ_STATS_K}
),
dist AS (
  SELECT e.vec_id, cb.s, cb.cid,
         CAST(floor(list_sum(list_transform(range(1, {64 // PQ_STATS_M} + 1),
             j -> {_PQ_DIFF} * {_PQ_DIFF})) * 1000000 + 0.5) AS BIGINT) AS d2_upm
  FROM e, cb
),
best AS (
  SELECT vec_id, s, cid, d2_upm,
         ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2_upm ASC, cid ASC) AS rk
  FROM dist
)
SELECT CAST(s AS INT) AS subspace, CAST(cid AS INT) AS code,
       COUNT(*) AS n_vecs, CAST(SUM(d2_upm) AS BIGINT) AS err_upm_sum
FROM best WHERE rk = 1
GROUP BY 1, 2
ORDER BY subspace, code
"""


#: Fixed ADC query vectors (exist at every SF: 500 rows at sf0.001).
PQ_TOPK_QIDS = [100, 101, 102, 103]
PQ_TOPK_K = 5


def _pq_adc_scored(spark: SparkSession, sf_dir: str) -> DataFrame | None:
    """(query_id, vec_id, adc_d2_upm) for the fixed PQ_TOPK_QIDS query
    batch — the shared ADC pipeline behind similarity_pq_topk and
    similarity_pq_recall. None when the corpus slice is empty.

    Codes are a map-only ``pq_encode_ubp`` projection (zero shuffles);
    each query's M×K integer LUT is a tiny relation BROADCAST against
    the code table; per-row distance is a ``zip_with`` of the M codes
    against the LUT — pure table lookups, no d-dimensional math on the
    scan side. Every LUT entry is floored to micro-units at the 8-term
    subspace sum (the proven-portable d2_upm rule), so the ADC total
    is an INTEGER sum of integers — exact in any engine at any
    partitioning."""
    from molgraphdb_spark.operators.kmeans import _centroid_literal
    from molgraphdb_spark.operators.pq import pq_encode_ubp

    emb = _emb(spark, sf_dir)
    cents = sorted(
        emb.filter(F.col("vec_id") < PQ_STATS_K).select("vec_id", "v").collect(),
        key=lambda r: r.vec_id,
    )
    if not cents:
        return None
    d = len(cents[0].v)
    dsub = d // PQ_STATS_M
    codebooks = [
        [
            (int(r.vec_id), [float(x) for x in r.v[s * dsub : (s + 1) * dsub]])
            for r in cents
        ]
        for s in range(PQ_STATS_M)
    ]
    enc = pq_encode_ubp(emb, "v", codebooks).select(
        "vec_id", F.transform("pq_cells", lambda c: c["cid"]).alias("codes")
    )

    def lut_for(cb: list, lo: int) -> Column:
        sq = F.slice(F.col("qv"), lo + 1, dsub)

        def ent(c: Column) -> Column:
            diff = F.zip_with(sq, c["cv"], lambda x, y: x - y)
            return F.floor(_dot(diff, diff) * 1_000_000 + 0.5).cast("long")

        return F.transform(_centroid_literal(cb), ent)

    qlut = (
        emb.filter(F.col("vec_id").isin(PQ_TOPK_QIDS))
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
        .select(
            "query_id",
            F.array(*[lut_for(cb, s * dsub) for s, cb in enumerate(codebooks)]).alias(
                "lut"
            ),
        )
    )
    adc = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.col("lut"),
            lambda c, l: F.element_at(l, c + F.lit(1)),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return (
        F.broadcast(qlut)
        .crossJoin(enc)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", adc.alias("adc_d2_upm"))
    )


def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k — the SEARCH leg of operators/pq.py
    through the driver contract (pq_code_stats covers the encode leg).

    The deployment shape at 100 TB: the corpus is resident only as
    N×M small codes, queried via broadcast integer LUTs — O(N·M)
    integer adds replace O(N·d) float multiplies over ~d/M× less
    resident data (see _pq_adc_scored). Codebooks are the fixed
    vec_id < PQ_STATS_K slices (the pq_code_stats precedent); ties
    break by ascending vec_id."""
    scored = _pq_adc_scored(spark, sf_dir)
    if scored is None:
        return spark.createDataFrame(
            [], "query_id long, vec_id long, adc_d2_upm long, rk int"
        )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_d2_upm"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= PQ_TOPK_K)
        .orderBy("query_id", "rk")
    )


#: The ADC CTE stack shared by PQ_TOPK_SQL and PQ_RECALL_SQL: fixed
#: codebooks → per-(vector, subspace, centroid) floored distances →
#: argmin codes → per-query LUT → integer ADC sums.
_PQ_ADC_CTES = f"""cb AS (
  SELECT s.s AS s, c.vec_id AS cid,
         c.v[CAST(s.s * {64 // PQ_STATS_M} + 1 AS INT) : CAST(s.s * {64 // PQ_STATS_M} + {64 // PQ_STATS_M} AS INT)] AS cv
  FROM (SELECT unnest(range(0, {PQ_STATS_M})) AS s) s, e c
  WHERE c.vec_id < {PQ_STATS_K}
),
dist AS (
  SELECT e.vec_id, cb.s, cb.cid,
         CAST(floor(list_sum(list_transform(range(1, {64 // PQ_STATS_M} + 1),
             j -> {_PQ_DIFF} * {_PQ_DIFF})) * 1000000 + 0.5) AS BIGINT) AS d2_upm
  FROM e, cb
),
codes AS (
  SELECT vec_id, s, cid FROM (
    SELECT vec_id, s, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2_upm ASC, cid ASC) AS rk
    FROM dist
  ) WHERE rk = 1
),
lut AS (
  SELECT vec_id AS query_id, s, cid, d2_upm FROM dist
  WHERE vec_id IN ({", ".join(str(q) for q in PQ_TOPK_QIDS)})
),
adc AS (
  SELECT l.query_id, c.vec_id, CAST(SUM(l.d2_upm) AS BIGINT) AS adc_d2_upm
  FROM codes c JOIN lut l ON l.s = c.s AND l.cid = c.cid
  WHERE c.vec_id <> l.query_id
  GROUP BY 1, 2
)"""

PQ_TOPK_SQL = f"""
WITH {_EMB_CTE},
{_PQ_ADC_CTES}
SELECT query_id, vec_id, adc_d2_upm, CAST(rk AS INT) AS rk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_d2_upm ASC, vec_id ASC) AS rk
  FROM adc
) t
WHERE rk <= {PQ_TOPK_K}
ORDER BY query_id, rk
"""


#: ADC shortlist width for the shortlist+rerank deployment shape.
PQ_RECALL_SHORTLIST = 30


def similarity_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{k} of the PQ shortlist+rerank deployment shape against
    the exact L2 top-{k} — the measurement every compressed-index
    deployment runs before trusting ADC ranking (the similarity_ivf_
    recall precedent applied to the PQ path; raw ADC order is noisy
    where true distances concentrate, so production reranks a
    shortlist with full vectors — operators/pq.py::pq_search).

    Plan shape: the ADC side reuses _pq_adc_scored (broadcast integer
    LUTs over map-only codes); the rerank touches only Q×shortlist
    full vectors (corpus-size-independent); the exact baseline is the
    broadcast-queries corpus scan. All distances are micro-unit-floored
    integers, ties to ascending vec_id — bit-portable."""
    scored = _pq_adc_scored(spark, sf_dir)
    out_schema = "query_id long, n_exact long, n_hit long"
    if scored is None:
        return spark.createDataFrame([], out_schema)
    ws = Window.partitionBy("query_id").orderBy(F.asc("adc_d2_upm"), F.asc("vec_id"))
    shortlist = (
        scored.withColumn("rk", F.row_number().over(ws))
        .filter(F.col("rk") <= PQ_RECALL_SHORTLIST)
        .select("query_id", "vec_id")
    )
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id").isin(PQ_TOPK_QIDS)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )

    def d2_upm() -> Column:
        diff = F.zip_with(F.col("v"), F.col("qv"), lambda x, y: x - y)
        return F.floor(_dot(diff, diff) * 1_000_000 + 0.5).cast("long")

    rerank = (
        shortlist.join(emb.select("vec_id", "v"), "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select("query_id", "vec_id", d2_upm().alias("d2_upm"))
    )
    wr = Window.partitionBy("query_id").orderBy(F.asc("d2_upm"), F.asc("vec_id"))
    approx = (
        rerank.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= PQ_TOPK_K)
        .select("query_id", "vec_id", F.lit(1).alias("hit"))
    )
    exact_scored = (
        F.broadcast(queries)
        .crossJoin(emb.select("vec_id", "v"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", d2_upm().alias("d2_upm"))
    )
    exact = (
        exact_scored.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= PQ_TOPK_K)
        .select("query_id", "vec_id")
    )
    return (
        exact.join(approx, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hit"),
        )
        .orderBy("query_id")
    )


def _l2_upm_sql(q: str, b: str) -> str:
    """Floored micro-unit squared L2 between ``q.v`` and ``b.v`` — the
    diff list is written out twice because list_dot_product(dl, dl) of
    one shared lateral alias is value-identical and DuckDB's
    list_dot_product is the accumulation-order twin of Spark's _dot
    fold (the _COS_SQL precedent)."""
    dl = (
        f"list_transform(range(1, 65), j -> {q}.v[CAST(j AS INT)] - {b}.v[CAST(j AS INT)])"
    )
    return f"CAST(floor(list_dot_product({dl}, {dl}) * 1000000 + 0.5) AS BIGINT)"


PQ_RECALL_SQL = f"""
WITH {_EMB_CTE},
{_PQ_ADC_CTES},
shortlist AS (
  SELECT query_id, vec_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_d2_upm ASC, vec_id ASC) AS rk
    FROM adc
  ) WHERE rk <= {PQ_RECALL_SHORTLIST}
),
rerank AS (
  SELECT s.query_id, s.vec_id, {_l2_upm_sql("q", "b")} AS d2_upm
  FROM shortlist s
  JOIN e b ON b.vec_id = s.vec_id
  JOIN e q ON q.vec_id = s.query_id
),
approx AS (
  SELECT query_id, vec_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2_upm ASC, vec_id ASC) AS rk
    FROM rerank
  ) WHERE rk <= {PQ_TOPK_K}
),
exact_scored AS (
  SELECT q.vec_id AS query_id, b.vec_id AS vec_id, {_l2_upm_sql("q", "b")} AS d2_upm
  FROM e q JOIN e b ON b.vec_id != q.vec_id
  WHERE q.vec_id IN ({", ".join(str(q) for q in PQ_TOPK_QIDS)})
),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2_upm ASC, vec_id ASC) AS rk
    FROM exact_scored
  ) WHERE rk <= {PQ_TOPK_K}
)
SELECT x.query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
FROM exact x LEFT JOIN approx a
  ON a.query_id = x.query_id AND a.vec_id = x.vec_id
GROUP BY x.query_id
ORDER BY x.query_id
"""


# --------------------------------------------------------------------------
# IVF-PQ composed: coarse cells bound what a query TOUCHES, PQ codes
# bound what each touched vector COSTS — through the oracle gate.
# --------------------------------------------------------------------------
IVFPQ_COARSE_K = 4
IVFPQ_NPROBE = 2
IVFPQ_SHORTLIST = 20


def similarity_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full IVF-PQ deployment composition (operators/pq.py::
    ivfpq_search through the driver contract): corpus rows get a
    coarse cell (map-only ubp argmin over IVFPQ_COARSE_K centroids)
    AND an 8×16 PQ code in one projection pass; each query probes its
    IVFPQ_NPROBE nearest cells; ADC (broadcast integer LUTs) runs only
    on probed rows; the exact rerank touches Q×IVFPQ_SHORTLIST full
    vectors; top-{k} by true distance. At 100 TB the scan cost per
    query is corpus·(nprobe/cells) rows × M byte-lookups — the
    billion-scale ANN shape, all stages here integer-exact and
    oracle-recomputed (fixed deterministic centroids/codebooks: the
    pq_code_stats / similarity_ivf_topk precedent).

    Since r13 the query IS the operator: ivfpq_index + ivfpq_search
    carry the whole composition (r12 verdict item 4 — the registry
    previously hand-composed the same stages, one more parallel
    implementation to keep in sync; the hand-built form and this one
    are hash-identical at sf0.01). Probe cells and integer LUTs are
    computed driver-side from the Q=5 collected query vectors — the
    production query-batch shape the pq_production probe measures."""
    from molgraphdb_spark.operators.pq import ivfpq_search

    emb = _emb(spark, sf_dir)
    rows = sorted(
        emb.filter(F.col("vec_id") < PQ_STATS_K).select("vec_id", "v").collect(),
        key=lambda r: r.vec_id,
    )
    out_schema = "query_id long, vec_id long, d2_upm long, rk int"
    if len(rows) < PQ_STATS_K:
        return spark.createDataFrame([], out_schema)
    d = len(rows[0].v)
    dsub = d // PQ_STATS_M
    coarse = [
        (int(r.vec_id), [float(x) for x in r.v]) for r in rows[:IVFPQ_COARSE_K]
    ]
    codebooks = [
        [
            (int(r.vec_id), [float(x) for x in r.v[s * dsub : (s + 1) * dsub]])
            for r in rows
        ]
        for s in range(PQ_STATS_M)
    ]
    queries = [
        (int(r.vec_id), [float(x) for x in r.v])
        for r in emb.filter(F.col("vec_id").isin(PQ_TOPK_QIDS))
        .select("vec_id", "v")
        .collect()
    ]
    if not queries:
        return spark.createDataFrame([], out_schema)
    return (
        ivfpq_search(
            emb,
            "v",
            "vec_id",
            queries,
            coarse,
            codebooks,
            k=PQ_TOPK_K,
            nprobe=IVFPQ_NPROBE,
            shortlist=IVFPQ_SHORTLIST,
            # One-shot batch: let ivfpq_search derive the index inline.
            # Since r14 the inline path reranks from the base relation
            # (the derivation is already scanning it) while a REAL
            # passed index — persisted or materialized — gets the
            # fully-pruned rerank; passing a LAZY ivfpq_index() here
            # would compute the assign+encode subtree once per search
            # leg (measured 2.7 s -> 5.3 s at sf0.1, no exchange reuse
            # across differently-projected references).
        )
        .select(
            "query_id",
            "vec_id",
            F.col("d2_ubp").alias("d2_upm"),
            F.col("rk").cast("int").alias("rk"),
        )
        .orderBy("query_id", "rk")
    )


IVFPQ_TOPK_SQL = f"""
WITH {_EMB_CTE},
coarse AS (SELECT vec_id AS ccid, v AS cv FROM e WHERE vec_id < {IVFPQ_COARSE_K}),
cdl AS (
  SELECT e.vec_id, c.ccid,
         CAST(floor(list_dot_product(
           list_transform(range(1, 65), j -> e.v[CAST(j AS INT)] - c.cv[CAST(j AS INT)]),
           list_transform(range(1, 65), j -> e.v[CAST(j AS INT)] - c.cv[CAST(j AS INT)])
         ) * 1000000 + 0.5) AS BIGINT) AS d2
  FROM e, coarse c
),
cells AS (
  SELECT vec_id, ccid FROM (
    SELECT vec_id, ccid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, ccid ASC) AS rk
    FROM cdl
  ) WHERE rk = 1
),
probes AS (
  SELECT vec_id AS query_id, ccid FROM (
    SELECT vec_id, ccid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, ccid ASC) AS rk
    FROM cdl WHERE vec_id IN ({", ".join(str(q) for q in PQ_TOPK_QIDS)})
  ) WHERE rk <= {IVFPQ_NPROBE}
),
{_PQ_ADC_CTES.replace("adc AS (", "adc_unprobed AS (")},
adc AS (
  SELECT a.query_id, a.vec_id, a.adc_d2_upm
  FROM adc_unprobed a
  JOIN cells ce ON ce.vec_id = a.vec_id
  JOIN probes p ON p.query_id = a.query_id AND p.ccid = ce.ccid
),
shortlist AS (
  SELECT query_id, vec_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_d2_upm ASC, vec_id ASC) AS srk
    FROM adc
  ) WHERE srk <= {IVFPQ_SHORTLIST}
),
rerank AS (
  SELECT s.query_id, s.vec_id, {_l2_upm_sql("q", "b")} AS d2_upm
  FROM shortlist s
  JOIN e b ON b.vec_id = s.vec_id
  JOIN e q ON q.vec_id = s.query_id
)
SELECT query_id, vec_id, d2_upm, CAST(rk AS INT) AS rk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2_upm ASC, vec_id ASC) AS rk
  FROM rerank
) t
WHERE rk <= {PQ_TOPK_K}
ORDER BY query_id, rk
"""


# --------------------------------------------------------------------------
# Covariance-matrix moments: the embedding anisotropy diagnostic.
# --------------------------------------------------------------------------
def embedding_covariance_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus covariance-matrix summary from exact integer moments —
    the anisotropy health check for an embedding space: TRACE is the
    total variance, the OFF-DIAGONAL absolute mass says how far the
    space is from axis-decorrelated (collapsed/anisotropic embeddings
    — the classic representation-degeneration failure — show
    off-diagonal mass rivaling the trace; the ratio is the one number
    to alarm on).

    Exactness: components floor to MILLI-units, the full d×d moment
    matrix accumulates as integer sums (map-side combined to d² keys
    — at 100 TB the corpus crosses ONE shuffle into 4096 cells, the
    kmeans-update shape generalized to second moments), and every
    reported figure is an integer identity n·S_ij − s_i·s_j — no
    float until nothing is left to compute."""
    emb = _emb(spark, sf_dir).filter(F.col("v").isNotNull())
    x = F.transform(F.col("v"), lambda c: F.floor(c * 1000 + 0.5).cast("long"))
    rows = emb.select(x.alias("x"))

    # r15 (guide §4.3, r14 verdict item 7): the d×d second moments used
    # to come from a DOUBLE posexplode — d²=4096 rows per vector into a
    # hash aggregate — plus a second single-posexplode pass for the
    # marginals. One mapInArrow pass now accumulates the whole integer
    # moment block per task with a numpy int64 Gram update (X'X over a
    # zero-padded batch matrix) and emits d²+d+1 tagged partial rows
    # per task: (i, j, Σxi·xj), (i, -1, Σxi), (-1, -1, row count).
    # Integer-EXACT, so oracle-identical: every value is an int64 sum
    # (milli-unit components ≤ ~10⁶ ⇒ products ≤ 10¹²; far from
    # overflow), zero-padding ragged/odd rows contributes exactly the
    # 0 a skipped NULL term contributes to SUM, and the final report
    # aggregates are unchanged integer identities. The ONE shuffle is
    # the d²-key partial merge — the kmeans-update shape the docstring
    # promises, now with d²·n_tasks instead of d²·n_vectors rows.
    def _cov_moments(batches):
        import numpy as np
        import pyarrow as pa

        S = np.zeros((0, 0), dtype=np.int64)
        s = np.zeros(0, dtype=np.int64)
        n = 0
        for batch in batches:
            arr = batch.column(0)
            n += batch.num_rows
            offs = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            vals = arr.values
            if vals.null_count:
                vals = vals.fill_null(0)  # a NULL term adds 0 to a SUM
            flat = vals.to_numpy(zero_copy_only=False)
            widths = np.diff(offs)
            nrows = len(widths)
            if nrows == 0:
                continue
            w = int(widths.max())
            if w > S.shape[0]:  # grow the accumulators to the widest row
                S2 = np.zeros((w, w), dtype=np.int64)
                S2[: S.shape[0], : S.shape[1]] = S
                S = S2
                s2 = np.zeros(w, dtype=np.int64)
                s2[: s.shape[0]] = s
                s = s2
            X = np.zeros((nrows, w), dtype=np.int64)
            mask = np.arange(w)[None, :] < widths[:, None]
            X[mask] = flat[offs[0] : offs[-1]]
            S[:w, :w] += X.T @ X
            s[:w] += X.sum(axis=0)
        w = S.shape[0]
        ii, jj = np.indices((w, w))
        out_i = np.concatenate([ii.ravel(), np.arange(w), [-1]]).astype(np.int32)
        out_j = np.concatenate([jj.ravel(), np.full(w, -1), [-1]]).astype(np.int32)
        out_s = np.concatenate([S.ravel(), s, [n]]).astype(np.int64)
        yield pa.RecordBatch.from_arrays(
            [pa.array(out_i), pa.array(out_j), pa.array(out_s)], names=["i", "j", "s"]
        )

    partials = rows.mapInArrow(_cov_moments, schema="i int, j int, s long")
    # one tiny merged relation (≤ d²+d+1 rows) feeds all three report
    # legs; localCheckpoint per the multiply-referenced-relation rule
    merged = (
        partials.groupBy("i", "j").agg(F.sum("s").alias("s")).localCheckpoint()
    )
    n_row = merged.filter((F.col("i") == -1) & (F.col("j") == -1)).select(
        F.col("s").alias("n")
    )
    pairs = merged.filter((F.col("i") >= 0) & (F.col("j") >= 0)).select(
        "i", "j", F.col("s").alias("s_ij")
    )
    marg = merged.filter((F.col("i") >= 0) & (F.col("j") == -1)).select(
        "i", F.col("s").alias("s_i")
    )
    m = (
        pairs.join(F.broadcast(marg), "i")
        .join(
            F.broadcast(marg.select(F.col("i").alias("j"), F.col("s_i").alias("s_j"))),
            "j",
        )
        .crossJoin(F.broadcast(n_row))
        .select(
            "i",
            "j",
            (F.col("n") * F.col("s_ij") - F.col("s_i") * F.col("s_j")).alias("m_ij"),
        )
    )
    return (
        m.crossJoin(F.broadcast(n_row))
        .agg(
            F.max("n").cast("long").alias("n_vectors"),
            F.sum(F.when(F.col("i") == F.col("j"), F.col("m_ij")).otherwise(0))
            .cast("long")
            .alias("trace_mass"),
            F.sum(F.when(F.col("i") != F.col("j"), F.abs(F.col("m_ij"))).otherwise(0))
            .cast("long")
            .alias("offdiag_abs_mass"),
        )
        .select(
            "n_vectors",
            "trace_mass",
            "offdiag_abs_mass",
            F.expr("offdiag_abs_mass * 10000 DIV trace_mass")
            .cast("long")
            .alias("anisotropy_bp"),
        )
    )


EMB_COV_SQL = """
WITH e2 AS (
  SELECT list_transform(embedding::DOUBLE[], c -> CAST(floor(c * 1000 + 0.5) AS BIGINT)) AS x
  FROM embeddings WHERE embedding IS NOT NULL
),
n AS (SELECT COUNT(*) AS n FROM e2),
cells AS (
  SELECT i.i AS i, j.j AS j, SUM(x[CAST(i.i AS INT)] * x[CAST(j.j AS INT)]) AS s_ij
  FROM e2, range(1, 65) i(i), range(1, 65) j(j)
  GROUP BY 1, 2
),
marg AS (
  SELECT i.i AS i, SUM(x[CAST(i.i AS INT)]) AS s_i
  FROM e2, range(1, 65) i(i)
  GROUP BY 1
),
m AS (
  SELECT c.i, c.j, n.n * c.s_ij - a.s_i * b.s_i AS m_ij
  FROM cells c JOIN marg a ON a.i = c.i JOIN marg b ON b.i = c.j CROSS JOIN n
)
SELECT CAST(MAX(n.n) AS BIGINT) AS n_vectors,
       CAST(SUM(CASE WHEN i = j THEN m_ij ELSE 0 END) AS BIGINT) AS trace_mass,
       CAST(SUM(CASE WHEN i <> j THEN abs(m_ij) ELSE 0 END) AS BIGINT) AS offdiag_abs_mass,
       CAST(SUM(CASE WHEN i <> j THEN abs(m_ij) ELSE 0 END) * 10000
            // SUM(CASE WHEN i = j THEN m_ij ELSE 0 END) AS BIGINT) AS anisotropy_bp
FROM m CROSS JOIN n
"""


# --------------------------------------------------------------------------
# Per-class centroid outliers — the embedding-space quality filter.
# --------------------------------------------------------------------------
EMB_DIM = 64
OUTLIER_TOPK = 5


def embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 5 vectors LEAST cosine-similar to their own label's centroid
    — the embedding-space quality filter a curation pipeline runs to
    surface mislabeled / off-distribution items (the CLIP-score-filter
    shape: score every item against its class prototype, review or
    drop the tail).

    Scale shape: the centroid pass is ONE skew-free hash aggregation
    emitting d parallel sums per label (the kmeans-update shape — the
    shuffle moves |labels|×(d+1) partials per task, independent of row
    count); the tiny centroid relation broadcasts back and scoring is
    map-only; the per-label top-k window shuffles once on label.

    Exactness: components are floored to micro-units BEFORE summation
    (long sums are order-free), the mean divides in one fixed order
    (S / n / 1e6 — IEEE754-identical in any engine), and the cosine is
    the sequential left-fold that matches DuckDB's list_dot_product
    bit-for-bit (the _COS_SQL precedent)."""
    emb = _emb(spark, sf_dir).filter(F.col("v").isNotNull())
    xi = F.transform(F.col("v"), lambda x: F.floor(x * 1_000_000 + 0.5).cast("long"))
    with_x = emb.select("vec_id", "label", "v", xi.alias("x"))
    sums = with_x.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.element_at("x", j + 1)).alias(f"s{j}")
            for j in range(EMB_DIM)
        ],
    )
    n_d = F.col("n").cast("double")
    cent = sums.select(
        "label",
        F.array(
            *[
                (F.col(f"s{j}").cast("double") / n_d / F.lit(1_000_000.0))
                for j in range(EMB_DIM)
            ]
        ).alias("m"),
    )
    scored = with_x.join(F.broadcast(cent), "label").select(
        "label",
        "vec_id",
        F.floor(_cosine(F.col("v"), F.col("m")) * 1_000_000 + 0.5)
        .cast("long")
        .alias("cos_ubp"),
    )
    w = Window.partitionBy("label").orderBy(F.asc("cos_ubp"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= OUTLIER_TOPK)
        .orderBy("label", "rk")
    )


EMB_OUTLIERS_SQL = f"""
WITH {_EMB_CTE},
sums AS (
  SELECT label, t.j AS j,
         CAST(SUM(CAST(floor(v[CAST(t.j AS INT)] * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS s,
         COUNT(*) AS n
  FROM e, range(1, {EMB_DIM} + 1) t(j)
  GROUP BY label, t.j
),
cent AS (
  SELECT label, list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 ORDER BY j) AS m
  FROM sums GROUP BY label
),
scored AS (
  SELECT e.label, e.vec_id,
         CAST(floor(
           list_dot_product(e.v, c.m)
           / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.m, c.m)))
           * 1000000 + 0.5) AS BIGINT) AS cos_ubp
  FROM e JOIN cent c ON c.label = e.label
)
SELECT label, vec_id, cos_ubp, CAST(rk AS INT) AS rk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY label ORDER BY cos_ubp ASC, vec_id ASC) AS rk
  FROM scored
) t
WHERE rk <= {OUTLIER_TOPK}
ORDER BY label, rk
"""


# --------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of the dense and sparse legs.
# --------------------------------------------------------------------------
#: RRF constant (Cormack, Clarke & Buettcher 2009 use k=60).
RRF_K = 60
#: Query identities: document doc_id == embedding vec_id for ids < 5.
RRF_N_QUERIES = 5
#: Per-leg candidate depth before fusion.
RRF_LEG_K = 20
#: Fused results returned per query.
RRF_TOPK = 5


def retrieval_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid dense+sparse retrieval via reciprocal-rank fusion: for
    each query identity (vec_id == doc_id < 5), rank the corpus by
    embedding cosine (dense leg) and by token-set Jaccard over the
    document text (sparse leg), take each leg's top-20, and fuse with
    integer RRF contributions floor(1e9/(60+rank)) summed per
    candidate — the standard hybrid-retrieval recipe next to the
    BM25/ANN legs it composes.

    Determinism: both legs rank by integer scores (cosine micro-units;
    Jaccard as inter*1e6 DIV union — exact integer division in both
    engines) with neighbor-id tiebreaks, and fusion sums integers, so
    the result is partition-order independent and hash-stable.

    Scale: each leg is the proven broadcast-queries × one-corpus-scan
    shape with a map-side WindowGroupLimit top-k; fusion then touches
    only ≤ 2·k rows per query (k-bounded, never corpus-bounded)."""
    emb = _emb(spark, sf_dir)
    # norm hoist on the dense leg (see dedup_embedding_cosine)
    corpus = emb.withColumn("nn", F.sqrt(_dot(F.col("v"), F.col("v"))))
    qv = emb.filter(F.col("vec_id") < RRF_N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.sqrt(_dot(F.col("v"), F.col("v"))).alias("qn"),
    )
    dense = (
        F.broadcast(qv)
        .crossJoin(corpus)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.floor(
                _dot(F.col("qv"), F.col("v"))
                / (F.col("qn") * F.col("nn"))
                * 1_000_000
                + 0.5
            ).alias("s"),
        )
    )
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.array_distinct(F.split(F.trim(F.col("text")), r"[ \t\n\r\f]+")).alias("toks"),
        )
    )
    qd = docs.filter(F.col("doc_id") < RRF_N_QUERIES).select(
        F.col("doc_id").alias("query_id"), F.col("toks").alias("qtoks")
    )
    inter = F.size(F.array_intersect("qtoks", "toks")).cast("long")
    uni = (F.size("qtoks") + F.size("toks")).cast("long") - inter
    sparse = (
        F.broadcast(qd)
        .crossJoin(docs)
        .filter(F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("doc_id").alias("neighbor_id"),
            inter.alias("inter"),
            F.expr(
                "CAST(size(array_intersect(qtoks, toks)) AS BIGINT) * 1000000"
                " DIV (CAST(size(qtoks) + size(toks) AS BIGINT)"
                "      - CAST(size(array_intersect(qtoks, toks)) AS BIGINT))"
            ).alias("s"),
        )
        .filter(F.col("inter") > 0)
    )
    contrib = F.expr(f"CAST(1000000000 DIV ({RRF_K} + rk) AS BIGINT)").alias("c")
    w = Window.partitionBy("query_id").orderBy(F.desc("s"), F.asc("neighbor_id"))
    legs = (
        dense.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= RRF_LEG_K)
        .select("query_id", "neighbor_id", contrib)
        .unionByName(
            sparse.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= RRF_LEG_K)
            .select("query_id", "neighbor_id", contrib)
        )
    )
    fused = legs.groupBy("query_id", "neighbor_id").agg(
        F.sum("c").alias("rrf_score_nano")
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score_nano"), F.asc("neighbor_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= RRF_TOPK)
        .select("query_id", "neighbor_id", "rrf_score_nano", "rank")
        .orderBy("query_id", "rank")
    )


RRF_HYBRID_SQL = f"""
WITH {_EMB_CTE},
dq AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {RRF_N_QUERIES}),
dscored AS (
  SELECT dq.query_id, b.vec_id AS neighbor_id,
         CAST(floor(
           list_dot_product(dq.qv, b.v)
           / (sqrt(list_dot_product(dq.qv, dq.qv)) * sqrt(list_dot_product(b.v, b.v)))
           * 1000000 + 0.5) AS BIGINT) AS s
  FROM dq CROSS JOIN e b WHERE b.vec_id != dq.query_id
),
dtop AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rk
  FROM dscored
),
dd AS (
  SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f]+')) AS toks
  FROM documents WHERE text IS NOT NULL
),
sq AS (SELECT doc_id AS query_id, toks AS qtoks FROM dd WHERE doc_id < {RRF_N_QUERIES}),
sscored AS (
  SELECT sq.query_id, b.doc_id AS neighbor_id,
         CAST(len(list_intersect(sq.qtoks, b.toks)) AS BIGINT) AS inter,
         CAST(len(list_intersect(sq.qtoks, b.toks)) AS BIGINT) * 1000000
           // (CAST(len(sq.qtoks) + len(b.toks) AS BIGINT)
               - CAST(len(list_intersect(sq.qtoks, b.toks)) AS BIGINT)) AS s
  FROM sq CROSS JOIN dd b WHERE b.doc_id != sq.query_id
),
stop_ AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rk
  FROM sscored WHERE inter > 0
),
legs AS (
  SELECT query_id, neighbor_id, 1000000000 // ({RRF_K} + rk) AS c
  FROM dtop WHERE rk <= {RRF_LEG_K}
  UNION ALL
  SELECT query_id, neighbor_id, 1000000000 // ({RRF_K} + rk) AS c
  FROM stop_ WHERE rk <= {RRF_LEG_K}
),
fused AS (
  SELECT query_id, neighbor_id, CAST(SUM(c) AS BIGINT) AS rrf_score_nano
  FROM legs GROUP BY query_id, neighbor_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY rrf_score_nano DESC, neighbor_id) AS rank
  FROM fused
)
SELECT query_id, neighbor_id, rrf_score_nano, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {RRF_TOPK}
ORDER BY query_id, rank
"""


QUERIES = {
    "similarity_cosine_topk": similarity_cosine_topk,
    "retrieval_rrf_hybrid": retrieval_rrf_hybrid,
    "similarity_lsh_topk": similarity_lsh_topk,
    "similarity_knn_graph": similarity_knn_graph,
    "similarity_ivf_topk": similarity_ivf_topk,
    "similarity_ivf_recall": similarity_ivf_recall,
    "similarity_label_bands": similarity_label_bands,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "embedding_hard_negatives": embedding_hard_negatives,
    "embedding_hard_negatives_ann": embedding_hard_negatives_ann,
    "similarity_lsh_recall": similarity_lsh_recall,
    "dedup_embedding_lsh": dedup_embedding_lsh,
    "dedup_semantic_clusters": dedup_semantic_clusters,
    "embedding_norm_stats": embedding_norm_stats,
    "embedding_quantize_stats": embedding_quantize_stats,
    "pq_code_stats": pq_code_stats,
    "similarity_pq_topk": similarity_pq_topk,
    "similarity_pq_recall": similarity_pq_recall,
    "similarity_ivfpq_topk": similarity_ivfpq_topk,
    "embedding_label_outliers": embedding_label_outliers,
    "embedding_covariance_stats": embedding_covariance_stats,
}

ORACLES = {
    "retrieval_rrf_hybrid": RRF_HYBRID_SQL,
    "embedding_quantize_stats": EMB_QUANT_SQL,
    "similarity_ivf_recall": SIM_IVF_RECALL_SQL,
    "similarity_cosine_topk": SIM_TOPK_SQL,
    "similarity_lsh_topk": SIM_LSH_SQL,
    "similarity_knn_graph": SIM_KNN_GRAPH_SQL,
    "similarity_ivf_topk": SIM_IVF_SQL,
    "similarity_label_bands": SIM_BANDS_SQL,
    "dedup_embedding_cosine": DEDUP_EMB_SQL,
    "embedding_hard_negatives": EMB_HARD_NEG_SQL,
    "embedding_hard_negatives_ann": EMB_HARD_NEG_ANN_SQL,
    "similarity_lsh_recall": SIM_LSH_RECALL_SQL,
    "dedup_embedding_lsh": DEDUP_EMB_LSH_SQL,
    "dedup_semantic_clusters": DEDUP_SEMANTIC_SQL,
    "embedding_norm_stats": EMB_NORM_SQL,
    "pq_code_stats": PQ_CODE_STATS_SQL,
    "similarity_pq_topk": PQ_TOPK_SQL,
    "similarity_pq_recall": PQ_RECALL_SQL,
    "similarity_ivfpq_topk": IVFPQ_TOPK_SQL,
    "embedding_label_outliers": EMB_OUTLIERS_SQL,
    "embedding_covariance_stats": EMB_COV_SQL,
}
