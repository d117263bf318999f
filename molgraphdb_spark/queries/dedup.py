"""Deduplication operators over ``documents`` (SURVEY.md §7 M4; the
LLM-training-pipeline dedup family: exact, MinHash+LSH, SimHash,
n-gram Jaccard).

Same Jaccard math as the reference's Tanimoto coefficient
(/root/reference/src/mcs.py:310–314 — |∩|/|∪| over hash sets), lifted
from per-molecule-pair subgraph sets to per-document-pair shingle sets.

Determinism: all hashes are md5 (identical hex in Spark and DuckDB);
Python ``hash()`` is PYTHONHASHSEED-dependent and never used
(SURVEY.md §7 risk 3). MinHash uses k salted hash functions
``md5(salt || shingle)`` with the lexicographic min — a valid
min-wise scheme because md5 output is uniformly distributed over hex
strings.

Scale notes (100 TB):
- exact dedup: one shuffle on the 128-bit content hash; group state is
  O(1) per group (min + count). This is THE canonical first pass.
- shingle self-join: candidate generation joins on the shingle key, so
  cost is Σ(docs-per-shingle²), not n² — the standard inverted-index
  bound. Stop-shingles (document frequency > MAX_SHINGLE_DF) are
  dropped from the index before the join: one ubiquitous shingle would
  otherwise contribute df² pairs by itself while carrying almost no
  similarity signal. The cap is absolute, not fractional — what blows
  up is the posting-list length, which must stay bounded no matter how
  big the corpus grows. At test scale no shingle reaches the cap, so
  results are unchanged (tests plant a synthetic hot shingle to prove
  the exclusion).
- MinHash/LSH: signatures fold over the per-document shingle array
  map-only (zero shuffle — see _sig_df); banding turns near-dup search
  into an equi-join on (band, band_hash) — the n² never materializes.
- SimHash: one explode + groupBy per doc; the 32 bit-counters are
  plain sums, map-side combined.

Cache lifetime: the ``.cache()`` calls below mark relations referenced
2–3 times within ONE returned plan (Spark does not reuse exchanges
across differently-projected references — 0 ReusedExchange, verified).
They are lazy and scoped to the query's execution; they are NOT
unpersisted here because the query functions return unexecuted plans
and cannot know when the caller is done. Driver/oracle sessions run
each query once so at most one shingle index is resident; a long-lived
interactive session should call ``spark.catalog.clearCache()`` between
query families (bench.py does exactly this per timed run so medians
price the materialization, not a warm cache).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from molgraphdb_spark.session import tune
from molgraphdb_spark.sources.tables import load_table

#: Number of MinHash hash functions (salted md5 permutations).
MINHASH_K = 8
#: LSH bands over the signature: MINHASH_K/BAND_ROWS bands of BAND_ROWS.
BAND_ROWS = 2
#: SimHash width in bits (each bit sourced from one md5 hex digit LSB).
SIMHASH_BITS = 32

#: Stop-shingle cap: shingles in more than this many documents are
#: dropped from the inverted index (candidate generation AND the
#: Jaccard universe — both engines apply the same filter, so oracles
#: stay exact). 1024 bounds any single shingle's self-join contribution
#: to ~0.5M pairs regardless of corpus size.
MAX_SHINGLE_DF = 1024

_SEP = "\x1f"


def _normalized(docs: DataFrame) -> DataFrame:
    """(doc_id, whitespace-normalized lowercase text, token array)."""
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"[ \t\n\r\f]+", " "))
    return docs.select("doc_id", norm.alias("norm"), F.split(norm, " ").alias("toks"))


def _norm_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + whitespace-normalized lowercase text + token array."""
    tune(spark)
    return _normalized(load_table(spark, sf_dir, "documents"))


def _norm_docs_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_norm_docs with the single-split-funnel guard (r15, guide §2.5 /
    the r8 funnel class): a bench-scale documents.parquet is ONE scan
    split, so a map-HEAVY downstream pass (shingle explode+distinct,
    the per-shingle md5 banks of the MinHash signature) runs in a
    single task — the family measured FASTER on 8 cores than 32.
    Round-robin the scan up to the shuffle width when it has fewer
    splits (A/B at sf0.1: shingle-index build 1.77 → 1.4 s warm,
    5.4 → 1.9 s cold; dedup_minhash_signatures 1.32 → 0.43 s min-merge).
    At 100 TB the scan has thousands of splits — the gate never fires.

    Used ONLY by the heavy consumers (_shingle_rows, _sig_df): the
    3-pair interleaved solo-bench campaign showed the cheap map-only
    consumers LOSE with the extra exchange (dedup_exact 1.65×,
    dedup_incremental_flags 1.94× — their md5-hash map side is light
    and their one window/join already parallelizes), and dedup_simhash
    carries its own measured repartition below (a second one here
    double-shuffled it, 1.13×)."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if docs.rdd.getNumPartitions() < n_part:
        docs = docs.repartition(n_part)
    return _normalized(docs)


def _shingles_col(n: int = 3) -> Column:
    """Word n-gram shingles of the ``toks`` array (documents shorter
    than n yield their single full-token join)."""
    toks = F.col("toks")
    cnt = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), cnt),
        lambda i: F.concat_ws(" ", F.slice(toks, i, F.least(F.lit(n), F.size(toks)))),
    )


def _shingle_rows(
    spark: SparkSession, sf_dir: str, max_df: int | None = MAX_SHINGLE_DF
) -> DataFrame:
    """(doc_id, shingle) distinct — the inverted-index relation, with
    stop-shingles (document frequency > ``max_df``) excluded.

    The df filter is a groupBy of HOT shingles (df > cap — tiny by
    construction: at most |corpus|/cap distinct values) broadcast into
    a left-anti join. The groupBy ships only map-side-combined
    (shingle, partial_count) pairs through its shuffle and the
    anti-join is map-only, so the full (doc_id, shingle) rows are
    never shuffled or sorted just to compute df. Rounds 3–4 used a
    count-over-window cap instead; it paid a full-row exchange + sort
    by shingle that the downstream join did not reuse (bench:
    neardup_jaccard_pairs 2.6 s → 4.8 s — the r4 verdict's suspected
    regression; this shape removes it).

    The distinct index is cached HERE (not at call sites): the cap
    itself references it, and every caller references the filtered
    output 2–3 times — one materialization serves them all, each
    downstream reference recomputing only the broadcast anti-join."""
    sh = (
        _norm_docs_wide(spark, sf_dir)
        .select("doc_id", F.explode(_shingles_col()).alias("shingle"))
        .distinct()
    )
    if max_df is None:
        return sh
    sh = sh.cache()
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max_df)
        .select("shingle")
    )
    # re-select: the using-column join puts the key first, but callers
    # (and the max_df=None branch) expect (doc_id, shingle) order.
    return sh.join(F.broadcast(hot), "shingle", "left_anti").select("doc_id", "shingle")


_SHINGLES_SQL_CTE = """
tk AS (
  SELECT doc_id,
         string_split(lower(regexp_replace(trim(text), '[ \\t\\n\\r\\f]+', ' ', 'g')), ' ') AS toks
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                i -> array_to_string(toks[i : i + least(3, len(toks)) - 1], ' '))) AS shingle
  FROM tk
)
"""

#: Filtered inverted index (stop-shingles dropped) — appended after
#: _SHINGLES_SQL_CTE wherever the posting-list join/Jaccard universe is
#: built. Mirrors _shingle_rows' document-frequency cap (the DuckDB
#: side keeps the window form — results are identical; only the Spark
#: physical plan needed the groupBy+broadcast-anti shape).
_SHF_SQL_CTE = f"""
shf AS (
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh
  ) WHERE df <= {MAX_SHINGLE_DF}
)
"""


# --------------------------------------------------------------------------
# Exact dedup: hash-groupBy on the normalized content hash.
# --------------------------------------------------------------------------
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-text rule: md5(NULL) is NULL, and a hash-partitioned window
    would put every null-text document (crawl errors, decode failures)
    in ONE dup group — at corpus scale that mass-cans unrelated rows.
    Null-hash docs are their own canonical and never a dup group.

    The null side is routed AROUND the window entirely (filter → window
    on the non-null side → union back): a when/otherwise over one
    window would fix the output values but still shuffle every
    null-hash row into a single window partition — the skew stays in
    the physical plan. Here null rows take a map-only branch."""
    docs = _norm_docs(spark, sf_dir)
    hashed = docs.select("doc_id", F.md5("norm").alias("content_hash"))
    w = Window.partitionBy("content_hash")
    with_hash = hashed.filter(F.col("content_hash").isNotNull()).select(
        "doc_id",
        "content_hash",
        F.min("doc_id").over(w).alias("canonical_id"),
        (F.count(F.lit(1)).over(w) > 1).cast("int").alias("is_dup_group"),
    )
    null_side = hashed.filter(F.col("content_hash").isNull()).select(
        "doc_id",
        "content_hash",
        F.col("doc_id").alias("canonical_id"),
        F.lit(0).alias("is_dup_group"),
    )
    return with_hash.unionByName(null_side)


DEDUP_EXACT_SQL = """
SELECT doc_id,
       md5(lower(regexp_replace(trim(text), '[ \\t\\n\\r\\f]+', ' ', 'g'))) AS content_hash,
       CASE WHEN md5(lower(regexp_replace(trim(text), '[ \\t\\n\\r\\f]+', ' ', 'g'))) IS NOT NULL
            THEN MIN(doc_id) OVER w ELSE doc_id END AS canonical_id,
       CAST(md5(lower(regexp_replace(trim(text), '[ \\t\\n\\r\\f]+', ' ', 'g'))) IS NOT NULL
            AND COUNT(*) OVER w > 1 AS INT) AS is_dup_group
FROM documents
WINDOW w AS (PARTITION BY md5(lower(regexp_replace(trim(text), '[ \\t\\n\\r\\f]+', ' ', 'g'))))
"""


# --------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs via shingle inverted-index self-join.
# --------------------------------------------------------------------------
def neardup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs with 3-shingle Jaccard ≥ 0.8 (the corpus
    plants near-identical pairs at ≈0.99). Candidate pairs come from
    the shingle equi-join — quadratic only within a shingle's posting
    list, never globally."""
    sh = _shingle_rows(spark, sf_dir)  # internally cached; 3 references below
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sz_a = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sz_b = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        common.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .filter(jac >= 0.8)
        .select(
            "id_a", "id_b", "n_common",
            F.floor(jac * 10000 + 0.5).alias("jaccard_bp"),
        )
        .orderBy("id_a", "id_b")
    )


NEARDUP_JACCARD_SQL = f"""
WITH {_SHINGLES_SQL_CTE},
{_SHF_SQL_CTE},
sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM shf GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_common,
       CAST(floor((n_common * 1.0 / (x.n_sh + y.n_sh - n_common)) * 10000 + 0.5) AS BIGINT) AS jaccard_bp
FROM pairs JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
WHERE n_common * 1.0 / (x.n_sh + y.n_sh - n_common) >= 0.8
ORDER BY id_a, id_b
"""


# --------------------------------------------------------------------------
# Containment near-dup: asymmetric doc-in-doc detection.
# --------------------------------------------------------------------------
CONTAINMENT_MIN_BP = 8000  #: flag pairs with containment >= 0.8


def neardup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup: containment(A,B) =
    |A∩B| / min(|A|,|B|) over 3-shingle sets — catches a short
    document embedded in a longer one (quotes, wrappers, boilerplate
    around a copied core), which symmetric Jaccard misses because the
    union is dominated by the longer side.

    Same inverted-index self-join as neardup_jaccard_pairs (shared
    cached shingle relation; quadratic only within posting lists);
    emits both the containment and the Jaccard so downstream policy
    can distinguish subset-dups from full-dups."""
    sh = _shingle_rows(spark, sf_dir)  # internally cached
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sz_a = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sz_b = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    cont = F.col("n_common") / F.least(F.col("n_a"), F.col("n_b"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    cont_bp = F.floor(cont * 10000 + 0.5).cast("long")
    return (
        common.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .select(
            "id_a", "id_b", "n_common",
            cont_bp.alias("containment_bp"),
            F.floor(jac * 10000 + 0.5).cast("long").alias("jaccard_bp"),
        )
        .filter(F.col("containment_bp") >= CONTAINMENT_MIN_BP)
        .orderBy("id_a", "id_b")
    )


NEARDUP_CONTAINMENT_SQL = f"""
WITH {_SHINGLES_SQL_CTE},
{_SHF_SQL_CTE},
sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM shf GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), scored AS (
  SELECT id_a, id_b, n_common,
         CAST(floor((n_common * 1.0 / least(x.n_sh, y.n_sh)) * 10000 + 0.5) AS BIGINT) AS containment_bp,
         CAST(floor((n_common * 1.0 / (x.n_sh + y.n_sh - n_common)) * 10000 + 0.5) AS BIGINT) AS jaccard_bp
  FROM pairs JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
)
SELECT * FROM scored
WHERE containment_bp >= {CONTAINMENT_MIN_BP}
ORDER BY id_a, id_b
"""


# --------------------------------------------------------------------------
# MinHash signatures: k 32-bit lanes sliced from ceil(k/4) salted md5s.
# --------------------------------------------------------------------------
def _sig_df(spark: SparkSession, sf_dir: str, k: int = MINHASH_K) -> DataFrame:
    """(doc_id, mh_0..mh_{k-1}) MinHash signature, computed MAP-ONLY.

    Two levers vs the naive k-permutation groupBy:
    - Each md5 digest is 128 bits = four independent 32-bit (8-hex)
      lanes, so k lanes cost only ceil(k/4) hashes per shingle.
    - The per-document min folds over the shingle ARRAY with
      ``array_min(transform(...))`` — no explode, no distinct, no
      shuffle (duplicate shingles cannot change a min). Signature
      computation therefore scans the corpus exactly once and scales
      embarrassingly at 100 TB; only downstream banding joins shuffle.
    Lexicographic min over fixed-width lowercase hex == numeric min,
    identically in both engines."""
    n_digests = (k + 3) // 4
    docs = _norm_docs_wide(spark, sf_dir).withColumn("shingles", _shingles_col())

    # NB: factories, not default-arg lambdas — F.transform feeds a
    # 2-parameter lambda the array INDEX as its second argument.
    def _digest(d: int):
        salt = f"{d}{_SEP}"
        return lambda s: F.md5(F.concat(F.lit(salt), s))

    def _lane(lo: int):
        return lambda x: F.substring(x, lo, 8)

    for d in range(n_digests):
        docs = docs.withColumn(f"dg_{d}", F.transform(F.col("shingles"), _digest(d)))
    lanes = []
    for i in range(k):
        d, lane = divmod(i, 4)
        lanes.append(
            F.array_min(F.transform(F.col(f"dg_{d}"), _lane(lane * 8 + 1))).alias(f"mh_{i}")
        )
    return docs.select("doc_id", *lanes)


def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document MinHash signature (k=8), emitted as one
    '|'-joined string for stable cross-engine comparison."""
    sig = _sig_df(spark, sf_dir)
    return sig.select(
        "doc_id",
        F.concat_ws("|", *[F.col(f"mh_{i}") for i in range(MINHASH_K)]).alias("signature"),
    )


_MH_MIN_SQL = ",\n         ".join(
    f"MIN(substr(md5('{i // 4}' || chr(31) || shingle), {(i % 4) * 8 + 1}, 8)) AS mh_{i}"
    for i in range(MINHASH_K)
)
_MH_CONCAT_SQL = " || '|' || ".join(f"mh_{i}" for i in range(MINHASH_K))

DEDUP_MINHASH_SQL = f"""
WITH {_SHINGLES_SQL_CTE},
sig AS (
  SELECT doc_id,
         {_MH_MIN_SQL}
  FROM sh GROUP BY doc_id
)
SELECT doc_id, {_MH_CONCAT_SQL} AS signature
FROM sig ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# MinHash LSH: band the signature, bucket-join, emit candidate pairs.
# --------------------------------------------------------------------------
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate near-dup pairs from LSH banding (4 bands × 2 rows over
    the k=8 signature). A pair collides if ANY band matches — the
    classic S-curve: P(collide) = 1-(1-j²)⁴ ≈ 1 for j≈0.99. The n²
    comparison never happens; only bucket collisions join."""
    sig = _sig_df(spark, sf_dir)
    n_bands = MINHASH_K // BAND_ROWS
    # All band buckets computed in ONE pass per row, then exploded — a
    # union of per-band branches would recompute the whole signature
    # subplan (a full corpus scan + the md5 folds) once PER BAND, a 4×
    # scan cost invisible at test scale and ruinous at 100 TB.
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|", *[F.col(f"mh_{b * BAND_ROWS + r}") for r in range(BAND_ROWS)]
                    )
                ).alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )
    banded = (
        sig.select("doc_id", F.explode(band_structs).alias("bb"))
        .select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
        .cache()  # self-joined below: one signature computation, not two
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
        .orderBy("id_a", "id_b")
    )


_BAND_SQL = "\n  UNION ALL\n".join(
    "  SELECT doc_id, {b} AS band, md5({cols}) AS bucket FROM sig".format(
        b=b,
        cols=" || '|' || ".join(f"mh_{b * BAND_ROWS + r}" for r in range(BAND_ROWS)),
    )
    for b in range(MINHASH_K // BAND_ROWS)
)

DEDUP_LSH_SQL = f"""
WITH {_SHINGLES_SQL_CTE},
sig AS (
  SELECT doc_id,
         {_MH_MIN_SQL}
  FROM sh GROUP BY doc_id
), banded AS (
{_BAND_SQL}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM banded a JOIN banded b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
ORDER BY id_a, id_b
"""


# --------------------------------------------------------------------------
# SimHash: 32-bit signature from per-token md5 hex-digit LSBs.
# --------------------------------------------------------------------------
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document SimHash: bit j is the majority of bit j over all
    token hashes, where token bit j = LSB of md5 hex digit j (odd hex
    digit → 1). Emitted as a 32-char '0'/'1' string; near-dup docs
    differ in few bits (Hamming distance)."""
    docs = _norm_docs(spark, sf_dir)
    # repartition first: documents are small in BYTES (one scan split)
    # but the per-token md5 work below is corpus-sized — without this
    # the whole map side runs in ONE task (the single-split funnel;
    # measured 13 s → ~1 s at sf0.1)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    tok = docs.repartition(n_part).select("doc_id", F.explode("toks").alias("tok"))
    # materialize md5 ONCE per token as a column — referenced from 32
    # aggregate expressions, an inline F.md5 would be recomputed per
    # bit (no CSE across partial-aggregate expressions)
    tok = tok.select("doc_id", F.md5("tok").alias("h"))
    bit_sums = [
        F.sum(
            F.substring("h", j + 1, 1).isin("1", "3", "5", "7", "9", "b", "d", "f").cast("int")
        ).alias(f"s_{j}")
        for j in range(SIMHASH_BITS)
    ]
    agg = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"), *bit_sums)
    bits = F.concat(
        *[(F.col(f"s_{j}") * 2 > F.col("n")).cast("int").cast("string") for j in range(SIMHASH_BITS)]
    )
    return agg.select("doc_id", bits.alias("simhash"))


_SIM_SUMS_SQL = ",\n         ".join(
    f"SUM(CASE WHEN substr(md5(tok), {j + 1}, 1) IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE 0 END) AS s_{j}"
    for j in range(SIMHASH_BITS)
)
_SIM_BITS_SQL = " || ".join(
    f"CAST(CAST(s_{j} * 2 > n AS INT) AS VARCHAR)" for j in range(SIMHASH_BITS)
)

DEDUP_SIMHASH_SQL = f"""
WITH tk AS (
  SELECT doc_id,
         unnest(string_split(lower(regexp_replace(trim(text), '[ \\t\\n\\r\\f]+', ' ', 'g')), ' ')) AS tok
  FROM documents
), agg AS (
  SELECT doc_id, COUNT(*) AS n,
         {_SIM_SUMS_SQL}
  FROM tk GROUP BY doc_id
)
SELECT doc_id, {_SIM_BITS_SQL} AS simhash
FROM agg ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# SimHash Hamming pairs via pigeonhole banding.
# --------------------------------------------------------------------------
SIMHASH_MAX_HAMMING = 3  #: pair threshold (bits differing)
_SIMHASH_BANDS = 4  #: pigeonhole: d ≤ 3 ⇒ at least one of 4 bands equal


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ SIMHASH_MAX_HAMMING,
    found WITHOUT an n² comparison: split the 32-bit signature into 4
    bands of 8 bits — by pigeonhole, any pair within Hamming distance 3
    agrees exactly on ≥1 band — equi-join on (band, content), then
    verify the exact distance on the candidates only. Same
    candidate→verify shape as dedup_lsh_verified, specialized to bit
    signatures."""
    # signatures once, as BOTH the band strings and two packed longs
    # (first/last 16 bits via the proven 16-char conv) — referenced 3×
    # below, so materialize the tiny (one row per doc) relation
    sig = (
        dedup_simhash(spark, sf_dir)  # (doc_id, simhash: 32-char '0'/'1')
        .select(
            "doc_id",
            "simhash",
            F.conv(F.substring("simhash", 1, 16), 2, 10).cast("long").alias("hi"),
            F.conv(F.substring("simhash", 17, 16), 2, 10).cast("long").alias("lo"),
        )
        .localCheckpoint(eager=True)
    )
    width = SIMHASH_BITS // _SIMHASH_BANDS
    # One pass + explode, NOT a per-band union: the signature subplan
    # (explode + 32-counter groupBy) would otherwise run once per band.
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.substring("simhash", b * width + 1, width).alias("content"),
            )
            for b in range(_SIMHASH_BANDS)
        ]
    )
    banded = sig.select("doc_id", F.explode(band_structs).alias("bb")).select(
        "doc_id",
        F.col("bb.band").alias("band"),
        F.col("bb.content").alias("content"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    # candidates carry ONLY the id pair: the ~Σ bucket² pair stream
    # dedups on 16 bytes/row, and the signatures come back afterwards
    # as two BROADCAST hash joins of the per-doc relation (dragging the
    # 32-char strings through the pair distinct measured 2× slower)
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.content") == F.col("b.content"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .distinct()
    )
    sa = sig.select(
        F.col("doc_id").alias("id_a"), F.col("hi").alias("hi_a"), F.col("lo").alias("lo_a")
    )
    sb = sig.select(
        F.col("doc_id").alias("id_b"), F.col("hi").alias("hi_b"), F.col("lo").alias("lo_b")
    )
    # hamming on packed longs: two xor/bit_count integer ops per pair
    # (the r6 conv lesson — never per-character substring compares)
    hamming = (
        F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
        + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    ).cast("int")
    return (
        cands.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .orderBy("id_a", "id_b")
    )


_SIMHASH_BAND_WIDTH = SIMHASH_BITS // _SIMHASH_BANDS
_SIMHASH_BAND_SQL = "\n  UNION ALL\n".join(
    f"  SELECT doc_id, simhash, {b} AS band,"
    f" substr(simhash, {b * _SIMHASH_BAND_WIDTH + 1}, {_SIMHASH_BAND_WIDTH}) AS content FROM sims"
    for b in range(_SIMHASH_BANDS)
)
_HAMMING_SQL = " + ".join(
    f"CASE WHEN substr(a.simhash, {i + 1}, 1) != substr(b.simhash, {i + 1}, 1) THEN 1 ELSE 0 END"
    for i in range(SIMHASH_BITS)
)

DEDUP_SIMHASH_PAIRS_SQL = f"""
WITH tk AS (
  SELECT doc_id,
         unnest(string_split(lower(regexp_replace(trim(text), '[ \\t\\n\\r\\f]+', ' ', 'g')), ' ')) AS tok
  FROM documents
), agg AS (
  SELECT doc_id, COUNT(*) AS n,
         {_SIM_SUMS_SQL}
  FROM tk GROUP BY doc_id
), sims AS (
  SELECT doc_id, {_SIM_BITS_SQL} AS simhash FROM agg
), banded AS (
{_SIMHASH_BAND_SQL}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.simhash, b.simhash AS simhash_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.content = b.content AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming FROM (
  SELECT c.id_a, c.id_b,
         ({_HAMMING_SQL.replace("a.simhash", "c.simhash").replace("b.simhash", "c.simhash_b")}) AS hamming
  FROM cand c
) WHERE hamming <= {SIMHASH_MAX_HAMMING}
ORDER BY id_a, id_b
"""


# --------------------------------------------------------------------------
# Candidate → verify: LSH pairs confirmed by exact Jaccard.
# --------------------------------------------------------------------------
def dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production two-phase dedup flow: LSH banding proposes
    candidate pairs (cheap, probabilistic), exact shingle Jaccard
    verifies each candidate (exact, but computed ONLY for candidates —
    never n²). Emits every candidate with its exact Jaccard and a
    verified flag (≥0.8), so false positives of the S-curve are visible
    rather than silently kept.

    Scale: verification joins the candidate pair list (tiny relative
    to the corpus) against the inverted index twice — cost is
    Σ(shingles per candidate doc), linear in candidates."""
    cands = dedup_minhash_lsh_pairs(spark, sf_dir).select("id_a", "id_b")
    # The inverted index is referenced three times below (sizes, both
    # join sides) with different projections — Spark's exchange reuse
    # does NOT unify them (verified: 0 ReusedExchange). _shingle_rows
    # caches the distinct index internally so the corpus is scanned
    # and shuffled once; each reference recomputes only the broadcast
    # stop-shingle anti-join over the cached rows.
    sh = _shingle_rows(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa = sh.select(F.col("doc_id").alias("id_a"), F.col("shingle"))
    sb = sh.select(F.col("doc_id").alias("id_b"), F.col("shingle"))
    common = (
        cands.join(sa, "id_a")
        .join(sb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sz_a = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sz_b = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        cands.join(common, ["id_a", "id_b"], "left")
        .fillna(0, subset=["n_common"])
        .join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_common",
            F.floor(jac * 10000 + 0.5).cast("long").alias("jaccard_bp"),
            (jac >= 0.8).cast("int").alias("verified"),
        )
        .orderBy("id_a", "id_b")
    )


DEDUP_LSH_VERIFIED_SQL = f"""
WITH {_SHINGLES_SQL_CTE},
sig AS (
  SELECT doc_id,
         {_MH_MIN_SQL}
  FROM sh GROUP BY doc_id
), banded AS (
{_BAND_SQL}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
), {_SHF_SQL_CTE.strip()},
sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM shf GROUP BY doc_id),
common AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_common
  FROM cand c
  JOIN shf a ON a.doc_id = c.id_a
  JOIN shf b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT c.id_a, c.id_b, COALESCE(m.n_common, 0) AS n_common,
       CAST(floor((COALESCE(m.n_common, 0) * 1.0 / (x.n_sh + y.n_sh - COALESCE(m.n_common, 0))) * 10000 + 0.5) AS BIGINT) AS jaccard_bp,
       CAST(COALESCE(m.n_common, 0) * 1.0 / (x.n_sh + y.n_sh - COALESCE(m.n_common, 0)) >= 0.8 AS INT) AS verified
FROM cand c
LEFT JOIN common m ON m.id_a = c.id_a AND m.id_b = c.id_b
JOIN sz x ON c.id_a = x.doc_id
JOIN sz y ON c.id_b = y.doc_id
ORDER BY c.id_a, c.id_b
"""


# --------------------------------------------------------------------------
# Cluster resolution: LSH pairs → connected components → canonical doc.
# --------------------------------------------------------------------------
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ENDGAME a training-data pipeline actually ships:
    resolve LSH candidate pairs into duplicate clusters (connected
    components over the pair graph) and pick one canonical document
    per cluster (min doc_id). Emits multi-document clusters with size
    and the sorted member list.

    Composition of two scale-safe operators already in the engine:
    the banding join (no n² comparison) and size-dispatched connected
    components — min-label propagation (cheap rounds) while the pair
    graph is small, alternating large-star/small-star (O(log n)
    rounds regardless of component DIAMETER; a long similarity chain
    at 100 TB would mean thousands of min-label shuffles) once it
    crosses the dispatch threshold. At 100 TB the pair graph is tiny
    relative to the corpus — CC runs on pairs only, never on unpaired
    documents."""
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    from molgraphdb_spark.operators.graph import connected_components_auto

    cc = connected_components_auto(edges)
    return (
        cc.groupBy(F.col("component").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.array_join(F.array_sort(F.collect_set("id")), "|").alias("members"),
        )
        .orderBy("cluster_id")
    )


DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_SHINGLES_SQL_CTE},
sig AS (
  SELECT doc_id,
         {_MH_MIN_SQL}
  FROM sh GROUP BY doc_id
), banded AS (
{_BAND_SQL}
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
), verts AS (SELECT DISTINCT src AS id FROM edges),
reach(a, b) AS (
  SELECT id, id FROM verts
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
),
comp AS (SELECT a AS id, MIN(b) AS cluster_id FROM reach GROUP BY a)
SELECT cluster_id, COUNT(*) AS n_docs,
       array_to_string(list(id ORDER BY id), '|') AS members
FROM comp GROUP BY cluster_id ORDER BY cluster_id
"""


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection — the step after cluster
    resolution in a real pipeline: within each duplicate cluster keep
    the highest-quality member (here: longest text, ties to the
    smallest doc_id) and account for what was dropped. Emits one row
    per multi-document cluster: the keeper, cluster size, kept chars,
    and discarded chars (the dedup savings a corpus report quotes).

    Scale: reuses the size-dispatched CC of dedup_clusters; the
    member→document join shuffles on doc_id; per-cluster keeper
    selection is a groupBy with a max_by-style struct-max — one
    shuffle, map-side combinable, no window sort."""
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    from molgraphdb_spark.operators.graph import connected_components_auto

    cc = connected_components_auto(edges)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    members = cc.join(docs, cc.id == docs.doc_id).select(
        F.col("component").alias("cluster_id"), "doc_id", "n_chars"
    )
    # keeper = max over (n_chars, -doc_id): struct-ordering max gives
    # argmax without a per-cluster window sort
    keeper = F.max(F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id")))
    return (
        members.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            keeper.alias("k"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            "cluster_id",
            (-F.col("k.neg_id")).cast("long").alias("keep_doc_id"),
            "n_docs",
            F.col("k.n_chars").alias("kept_chars"),
            (F.col("total_chars") - F.col("k.n_chars")).alias("dropped_chars"),
        )
        .orderBy("cluster_id")
    )


DEDUP_KEEP_BEST_SQL = f"""
WITH RECURSIVE {_SHINGLES_SQL_CTE},
sig AS (
  SELECT doc_id,
         {_MH_MIN_SQL}
  FROM sh GROUP BY doc_id
), banded AS (
{_BAND_SQL}
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
), verts AS (SELECT DISTINCT src AS id FROM edges),
reach(a, b) AS (
  SELECT id, id FROM verts
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
),
comp AS (SELECT a AS id, MIN(b) AS cluster_id FROM reach GROUP BY a),
members AS (
  SELECT c.cluster_id, d.doc_id, d.n_chars
  FROM comp c JOIN documents d ON d.doc_id = c.id
),
ranked AS (
  SELECT cluster_id, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM members
)
SELECT m.cluster_id,
       MAX(CASE WHEN r.rn = 1 THEN r.doc_id END) AS keep_doc_id,
       COUNT(*) AS n_docs,
       MAX(CASE WHEN r.rn = 1 THEN r.n_chars END) AS kept_chars,
       CAST(SUM(m.n_chars) - MAX(CASE WHEN r.rn = 1 THEN r.n_chars END) AS BIGINT) AS dropped_chars
FROM members m
JOIN ranked r ON r.cluster_id = m.cluster_id AND r.doc_id = m.doc_id
GROUP BY m.cluster_id
ORDER BY m.cluster_id
"""


# --------------------------------------------------------------------------
# Incremental dedup: new batch vs existing corpus.
# --------------------------------------------------------------------------
def dedup_incremental_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup — the shape a production pipeline
    actually runs: an INCOMING batch (here: doc_id % 5 == 0, standing
    in for today's crawl) is checked against the EXISTING corpus (the
    other 80%) and against itself, without ever re-deduplicating the
    corpus. Per incoming doc: dup_of_corpus (content hash already
    exists), dup_within_batch (an earlier batch doc has the same
    hash), is_new (neither). Null-hash docs (crawl errors) are always
    is_new — same mass-deletion guard as dedup_exact.

    Scale: the corpus side reduces to DISTINCT content hashes (one
    map-side-combined aggregation — in production this is a pre-built
    hash index, maintained incrementally by this very query's output);
    the batch⋈corpus membership test is an equi-join on the hash in
    which only hashes move, never text. Within-batch first-occurrence
    is a window over the (small) batch only. The corpus text is
    scanned once, hashed, and never shuffled with its payload."""
    docs = _norm_docs(spark, sf_dir)
    hashed = docs.select(
        "doc_id", F.md5("norm").alias("content_hash"), (F.col("doc_id") % 5 == 0).alias("is_batch")
    )
    corpus_hashes = (
        hashed.filter(~F.col("is_batch") & F.col("content_hash").isNotNull())
        .select("content_hash")
        .distinct()
    )
    batch = hashed.filter(F.col("is_batch"))
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    flagged = (
        batch.join(
            corpus_hashes.withColumn("_in_corpus", F.lit(1)), "content_hash", "left"
        )
        .withColumn(
            "_rn",
            F.when(F.col("content_hash").isNotNull(), F.row_number().over(w)).otherwise(1),
        )
        .select(
            "doc_id",
            "content_hash",
            F.coalesce("_in_corpus", F.lit(0)).alias("dup_of_corpus"),
            ((F.col("_rn") > 1) & F.col("content_hash").isNotNull()).cast("int").alias("dup_within_batch"),
        )
    )
    return flagged.withColumn(
        "is_new",
        ((F.col("dup_of_corpus") == 0) & (F.col("dup_within_batch") == 0)).cast("int"),
    )


DEDUP_INCREMENTAL_SQL = """
WITH hashed AS (
  SELECT doc_id,
         md5(lower(regexp_replace(trim(text), '[ \\t\\n\\r\\f]+', ' ', 'g'))) AS content_hash,
         doc_id % 5 = 0 AS is_batch
  FROM documents
), corpus AS (
  SELECT DISTINCT content_hash FROM hashed
  WHERE NOT is_batch AND content_hash IS NOT NULL
), batch AS (
  SELECT doc_id, content_hash,
         CASE WHEN content_hash IS NOT NULL
              THEN ROW_NUMBER() OVER (PARTITION BY content_hash ORDER BY doc_id)
              ELSE 1 END AS rn
  FROM hashed WHERE is_batch
)
SELECT b.doc_id, b.content_hash,
       CASE WHEN c.content_hash IS NOT NULL THEN 1 ELSE 0 END AS dup_of_corpus,
       CAST(b.rn > 1 AND b.content_hash IS NOT NULL AS INT) AS dup_within_batch,
       CAST((c.content_hash IS NULL)
            AND NOT (b.rn > 1 AND b.content_hash IS NOT NULL) AS INT) AS is_new
FROM batch b LEFT JOIN corpus c ON b.content_hash = c.content_hash
ORDER BY b.doc_id
"""


def neardup_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the VERIFIED near-duplicate graph — the
    shape diagnostic run before cluster resolution: a long degree tail
    means template families (one boilerplate page near-duplicating
    thousands), and its growth over ingests is the early warning that
    CC cluster sizes are about to explode. Composes the production
    pipeline's own verified pairs (``dedup_lsh_verified``, Jaccard ≥
    0.8) into per-doc degrees, then the degree histogram.

    Scale: pairs are already LSH-bounded (never n²); degrees are one
    groupBy over 2×|pairs| ids; the histogram keyspace is ≤ max-degree
    — both aggregations map-side combine."""
    vp = dedup_lsh_verified(spark, sf_dir).filter(F.col("verified") == 1)
    # explode, not unionAll: a union of two projections would reference
    # vp twice and EXECUTE the whole LSH+verify pipeline once per
    # branch (measured: 5.1 s -> 3.7 s at sf0.1). One exploded
    # 2-element array keeps the pipeline single-consumer.
    ids = vp.select(F.explode(F.array("id_a", "id_b")).alias("doc_id"))
    deg = ids.groupBy("doc_id").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("degree")
    )


NEARDUP_DEGREE_HIST_SQL = f"""
WITH vp AS (
{DEDUP_LSH_VERIFIED_SQL}
), ids AS (
  SELECT id_a AS doc_id FROM vp WHERE verified = 1
  UNION ALL
  SELECT id_b FROM vp WHERE verified = 1
), deg AS (
  SELECT doc_id, COUNT(*) AS degree FROM ids GROUP BY 1
)
SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM deg GROUP BY 1 ORDER BY degree
"""


def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplication profile — the curation dashboard's
    first-look number: which ingestion sources are flooding the corpus
    with copies (a crawl re-fetching the same pages, a dump ingested
    twice) BEFORE any near-dup machinery runs.

    Scale shape: one shuffle of (source, content_hash) partial counts
    (map-side combine collapses exact copies early), then a per-source
    rollup of the already-tiny hash-group relation. NULL-text docs
    follow the dedup_exact rule — each is its own unique document,
    counted on a map-only side branch, never a dup group.

    Output per source: n_docs, n_unique, dup_docs (= docs that would
    be REMOVED keeping one canonical per group), dup_rate_bp (floored
    basis points — integer-exact in any engine)."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"[ \t\n\r\f]+", " "))
    hashed = docs.select("source", F.md5(norm).alias("h"))
    nn = (
        hashed.filter(F.col("h").isNotNull())
        .groupBy("source", "h")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("source")
        .agg(
            F.sum("n").alias("nn_docs"),
            F.count(F.lit(1)).alias("nn_unique"),
        )
    )
    nulls = (
        hashed.filter(F.col("h").isNull())
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("null_docs"))
    )
    joined = nn.join(nulls, "source", "full_outer").select(
        "source",
        F.coalesce("nn_docs", F.lit(0)).alias("nn_docs"),
        F.coalesce("nn_unique", F.lit(0)).alias("nn_unique"),
        F.coalesce("null_docs", F.lit(0)).alias("null_docs"),
    )
    n_docs = F.col("nn_docs") + F.col("null_docs")
    n_unique = F.col("nn_unique") + F.col("null_docs")
    return joined.select(
        "source",
        n_docs.cast("long").alias("n_docs"),
        n_unique.cast("long").alias("n_unique"),
        (n_docs - n_unique).cast("long").alias("dup_docs"),
        F.floor((n_docs - n_unique) * 10000 / n_docs).cast("long").alias("dup_rate_bp"),
    ).orderBy("source")


DEDUP_RATE_BY_SOURCE_SQL = """
WITH hashed AS (
  SELECT source,
         md5(lower(regexp_replace(trim(text), '[ \\t\\n\\r\\f]+', ' ', 'g'))) AS h
  FROM documents
),
nn AS (
  SELECT source, CAST(SUM(n) AS BIGINT) AS nn_docs,
         CAST(COUNT(*) AS BIGINT) AS nn_unique
  FROM (SELECT source, h, COUNT(*) AS n FROM hashed WHERE h IS NOT NULL GROUP BY 1, 2)
  GROUP BY source
),
nulls AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS null_docs
  FROM hashed WHERE h IS NULL GROUP BY source
),
j AS (
  SELECT COALESCE(nn.source, nulls.source) AS source,
         COALESCE(nn_docs, 0) + COALESCE(null_docs, 0) AS n_docs,
         COALESCE(nn_unique, 0) + COALESCE(null_docs, 0) AS n_unique
  FROM nn FULL OUTER JOIN nulls ON nn.source = nulls.source
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_unique AS BIGINT) AS n_unique,
       CAST(n_docs - n_unique AS BIGINT) AS dup_docs,
       CAST(floor((n_docs - n_unique) * 10000 / n_docs) AS BIGINT) AS dup_rate_bp
FROM j ORDER BY source
"""


# --------------------------------------------------------------------------
# Prefix-filtered set-similarity join (AllPairs/PPJoin candidate rule).
# --------------------------------------------------------------------------
def neardup_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME result as ``neardup_jaccard_pairs`` (3-shingle Jaccard
    ≥ 0.8 pairs) computed with the prefix-filtering candidate rule of
    Bayardo et al. (AllPairs, WWW'07) / Xiao et al. (PPJoin): order
    every document's shingles by a global canonical order (ascending
    document frequency, ties by shingle), index only each document's
    PREFIX — the first ``n − ⌈t·n⌉ + 1`` shingles — and generate
    candidates from prefix∩prefix matches. The theorem: J(A,B) ≥ t
    forces the two prefixes to share a shingle, so the candidate set
    has no false negatives; exact verification then computes the true
    intersection for candidates only.

    Why it matters at 100 TB: the plain inverted-index join is
    quadratic in every posting list; prefix filtering indexes ~(1−t)
    of each document's tokens, and because prefixes favor the RAREST
    tokens, the hot posting lists that dominate Σ|list|² mostly
    vanish from the index (at t=0.8: ≥20% of tokens indexed, but the
    frequent ones drop out). The extra cost is one df aggregation +
    one per-doc ranking window — both linear.

    The oracle is the UNCHANGED inverted-index SQL: two different
    published algorithms agreeing hash-for-hash is the point.

    Measured at sf0.1 (50k docs, df-cap 1024 universe): candidate
    volume Σ C(df,2) drops 1,265,779 → 122,289 (10.4×); wall is 5.5 s
    vs the plain join's 3.3 s because the df-join + ranking window
    fixed costs dominate at this corpus size — the crossover is where
    the quadratic term does, i.e. exactly the 100 TB regime this
    variant exists for (and the df-cap can be RAISED under prefix
    filtering, recovering recall the plain index must trade away)."""
    sh = _shingle_rows(spark, sf_dir)  # cached; referenced 3× below
    # Document frequency as a COUNT WINDOW over the cached index, not a
    # groupBy+join (r15, guide §2.4): the ranking window below needs a
    # full-row exchange on doc_id regardless, so the df join's extra
    # exchange+sort of the full index on shingle buys nothing here —
    # one exchange(shingle) with an in-partition count replaces
    # groupBy(shingle) + join-back (row-identical, A/B 1.9→1.7 s warm).
    # NB the df CAP in _shingle_rows keeps its groupBy+broadcast-anti
    # shape — there the downstream join does NOT reuse a window
    # exchange, which is exactly the r4 regression its docstring pins.
    dfc = F.count(F.lit(1)).over(Window.partitionBy("shingle")).alias("_df")
    w_rank = Window.partitionBy("doc_id").orderBy("_df", "shingle")
    ranked = (
        sh.select("doc_id", "shingle", dfc)
        .select(
            "doc_id",
            "shingle",
            F.row_number().over(w_rank).alias("_pos"),
            F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("_n"),
        )
    )
    # p = n - ceil(0.8 n) + 1, in exact integer arithmetic
    p = F.col("_n") - F.floor((8 * F.col("_n") + 9) / 10) + 1
    prefix = ranked.filter(F.col("_pos") <= p).select("doc_id", "shingle")
    a, b = prefix.alias("a"), prefix.alias("b")
    # localCheckpoint: the candidate list is referenced three times
    # below (doc-id projection + the pair semi-join); un-materialized,
    # the whole df-join + ranking-window pipeline would execute once
    # per reference (measured 12.7 s vs 4.5 s at sf0.1 — the repo's
    # multiply-referenced-relation rule). The list is pair-ids only —
    # tiny relative to the index.
    cands = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
        .localCheckpoint()
    )
    # Verify = the plain inverted-index join RESTRICTED to candidate
    # documents (semi-join), then to candidate pairs. Expanding each
    # candidate pair by its full shingle set instead was measured 3×
    # WORSE than the plain join on the 10× probe corpus (every doc in
    # a dup cluster → |pairs|·|set| rows); this shape is bounded above
    # by the plain join even in that worst case, and collapses to the
    # candidate neighborhood when dups are sparse (the real regime).
    cand_docs = (
        cands.select(F.explode(F.array("id_a", "id_b")).alias("doc_id")).distinct()
    )
    shc = sh.join(cand_docs, "doc_id", "left_semi")
    a2, b2 = shc.alias("a"), shc.alias("b")
    common = (
        a2.join(
            b2,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .join(cands, ["id_a", "id_b"], "left_semi")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sz_a = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sz_b = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        common.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .filter(jac >= 0.8)
        .select(
            "id_a", "id_b", "n_common",
            F.floor(jac * 10000 + 0.5).alias("jaccard_bp"),
        )
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# Threshold-sensitivity curve: how dup volume responds to the knob.
# --------------------------------------------------------------------------
DEDUP_THRESHOLDS_BP = [5000, 6000, 7000, 8000, 9000, 9500]


def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair counts at a ladder of Jaccard thresholds — the
    sensitivity curve a curation team reads BEFORE fixing the dedup
    knob (a cliff between 0.8 and 0.9 means the corpus has a
    near-identical band; a flat curve means the threshold hardly
    matters). One pass: the inverted-index pair scores are computed
    ONCE, then a tiny explode over the threshold ladder counts each
    pair into every threshold it clears — no per-threshold re-join.

    Also reports the docs-touched count per threshold (distinct docs
    in ≥1 surviving pair) — the removal-volume estimate."""
    sh = _shingle_rows(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sz_a = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sz_b = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    jac_bp = F.expr("n_common * 10000 DIV (n_a + n_b - n_common)")
    scored = (
        common.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .select("id_a", "id_b", jac_bp.cast("long").alias("jac_bp"))
        .filter(F.col("jac_bp") >= min(DEDUP_THRESHOLDS_BP))
        .localCheckpoint()  # scored pairs feed both aggregations below
    )
    thr = F.explode(
        F.array(*[F.lit(t).cast("long") for t in DEDUP_THRESHOLDS_BP])
    ).alias("threshold_bp")
    pair_counts = (
        scored.select("id_a", "id_b", "jac_bp", thr)
        .filter(F.col("jac_bp") >= F.col("threshold_bp"))
        .groupBy("threshold_bp")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    doc_counts = (
        scored.select(
            F.explode(F.array("id_a", "id_b")).alias("doc_id"), "jac_bp", thr
        )
        .filter(F.col("jac_bp") >= F.col("threshold_bp"))
        .groupBy("threshold_bp")
        .agg(F.count_distinct("doc_id").cast("long").alias("n_docs_touched"))
    )
    ladder = spark.range(1).select(thr)
    return (
        ladder.join(pair_counts, "threshold_bp", "left")
        .join(doc_counts, "threshold_bp", "left")
        .select(
            "threshold_bp",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs_touched", F.lit(0)).cast("long").alias("n_docs_touched"),
        )
        .orderBy("threshold_bp")
    )


DEDUP_THRESHOLD_CURVE_SQL = f"""
WITH {_SHINGLES_SQL_CTE},
{_SHF_SQL_CTE},
sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM shf GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
scored AS (
  SELECT id_a, id_b,
         n_common * 10000 // (x.n_sh + y.n_sh - n_common) AS jac_bp
  FROM pairs JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
  WHERE n_common * 10000 // (x.n_sh + y.n_sh - n_common) >= {min(DEDUP_THRESHOLDS_BP)}
),
ladder AS (SELECT unnest([{", ".join(str(t) for t in DEDUP_THRESHOLDS_BP)}]) AS threshold_bp),
pc AS (
  SELECT l.threshold_bp, COUNT(*) AS n_pairs
  FROM ladder l JOIN scored s ON s.jac_bp >= l.threshold_bp
  GROUP BY 1
),
dc AS (
  SELECT threshold_bp, COUNT(DISTINCT doc_id) AS n_docs_touched FROM (
    SELECT l.threshold_bp, s.id_a AS doc_id FROM ladder l JOIN scored s ON s.jac_bp >= l.threshold_bp
    UNION ALL
    SELECT l.threshold_bp, s.id_b FROM ladder l JOIN scored s ON s.jac_bp >= l.threshold_bp
  ) GROUP BY 1
)
SELECT CAST(l.threshold_bp AS BIGINT) AS threshold_bp,
       CAST(COALESCE(pc.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(COALESCE(dc.n_docs_touched, 0) AS BIGINT) AS n_docs_touched
FROM ladder l
LEFT JOIN pc ON pc.threshold_bp = l.threshold_bp
LEFT JOIN dc ON dc.threshold_bp = l.threshold_bp
ORDER BY threshold_bp
"""


# --------------------------------------------------------------------------
# N-gram novelty: how much NEW content each document contributes.
# --------------------------------------------------------------------------
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction (basis points) of a doc's
    distinct 3-shingles whose FIRST corpus occurrence (lowest doc_id)
    is this document — the marginal-contribution curve a curation team
    reads to decide where dedup stops paying (novelty ≈ 10000 → fresh
    content; ≈ 0 → the document restates earlier shingles).

    Scale shape: first-occurrence attribution is one min-aggregation
    over the UNCAPPED shingle index (novelty must count stop-shingles
    too — a boilerplate-only doc IS non-novel, which is the signal) and
    a join back on shingle; both ride the same shingle-hash
    partitioning. Integer bp division, ties impossible (min is
    unique)."""
    sh = _shingle_rows(spark, sf_dir, max_df=None)
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long"))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.expr("n_novel * 10000 DIV n_shingles").cast("long").alias("novelty_bp"),
        )
    )


DOC_NGRAM_NOVELTY_SQL = f"""
WITH {_SHINGLES_SQL_CTE},
first AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle)
SELECT s.doc_id, COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) * 10000
            // COUNT(*) AS BIGINT) AS novelty_bp
FROM sh s JOIN first f ON f.shingle = s.shingle
GROUP BY s.doc_id
ORDER BY s.doc_id
"""


def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source NEAR-duplication matrix: verified LSH near-dup
    pairs (the production candidate→verify flow above, jaccard ≥ 0.8)
    rolled up by unordered source pair — the provenance diagnostic a
    mixture designer reads before weighting sources (is source B just
    a re-crawl of source A?). Emits pair count and summed jaccard
    basis points per (source_a ≤ source_b).

    Scale: the verified pair list is tiny relative to the corpus (LSH
    buckets, never n²); the two source lookups join the pruned
    (doc_id, source) projection; the rollup is ≤|sources|² rows. All
    integer counts/bp — hash-stable."""
    pairs = dedup_lsh_verified(spark, sf_dir).filter(F.col("verified") == 1)
    src = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source")
    )
    joined = (
        pairs.join(src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("sa")), "id_a")
        .join(src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("sb")), "id_b")
    )
    return (
        joined.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "jaccard_bp",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("jaccard_bp").alias("sum_jaccard_bp"),
        )
        .orderBy(F.desc("n_pairs"), "source_a", "source_b")
    )


def _cross_source_sql() -> str:
    return f"""
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(v.jaccard_bp) AS BIGINT) AS sum_jaccard_bp
FROM (
{DEDUP_LSH_VERIFIED_SQL}
) v
JOIN documents da ON da.doc_id = v.id_a
JOIN documents db ON db.doc_id = v.id_b
WHERE v.verified = 1
GROUP BY 1, 2
ORDER BY n_pairs DESC, source_a, source_b
"""


QUERIES = {
    "dedup_cross_source_matrix": dedup_cross_source_matrix,
    "dedup_exact": dedup_exact,
    "dedup_rate_by_source": dedup_rate_by_source,
    "neardup_degree_hist": neardup_degree_hist,
    "dedup_incremental_flags": dedup_incremental_flags,
    "neardup_jaccard_pairs": neardup_jaccard_pairs,
    "dedup_minhash_signatures": dedup_minhash_signatures,
    "dedup_minhash_lsh_pairs": dedup_minhash_lsh_pairs,
    "dedup_simhash": dedup_simhash,
    "dedup_simhash_pairs": dedup_simhash_pairs,
    "dedup_lsh_verified": dedup_lsh_verified,
    "dedup_clusters": dedup_clusters,
    "dedup_keep_best": dedup_keep_best,
    "neardup_containment_pairs": neardup_containment_pairs,
    "neardup_prefix_pairs": neardup_prefix_pairs,
    "doc_ngram_novelty": doc_ngram_novelty,
    "dedup_threshold_curve": dedup_threshold_curve,
}

ORACLES = {
    "dedup_cross_source_matrix": _cross_source_sql(),
    "dedup_rate_by_source": DEDUP_RATE_BY_SOURCE_SQL,
    "dedup_simhash_pairs": DEDUP_SIMHASH_PAIRS_SQL,
    "neardup_degree_hist": NEARDUP_DEGREE_HIST_SQL,
    "dedup_lsh_verified": DEDUP_LSH_VERIFIED_SQL,
    "dedup_clusters": DEDUP_CLUSTERS_SQL,
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_incremental_flags": DEDUP_INCREMENTAL_SQL,
    "neardup_jaccard_pairs": NEARDUP_JACCARD_SQL,
    "dedup_minhash_signatures": DEDUP_MINHASH_SQL,
    "dedup_minhash_lsh_pairs": DEDUP_LSH_SQL,
    "dedup_simhash": DEDUP_SIMHASH_SQL,
    "dedup_keep_best": DEDUP_KEEP_BEST_SQL,
    "neardup_containment_pairs": NEARDUP_CONTAINMENT_SQL,
    # deliberately the SAME SQL as neardup_jaccard_pairs: the prefix-
    # filtered algorithm must agree hash-for-hash with the plain
    # inverted-index formulation
    "neardup_prefix_pairs": NEARDUP_JACCARD_SQL,
    "doc_ngram_novelty": DOC_NGRAM_NOVELTY_SQL,
    "dedup_threshold_curve": DEDUP_THRESHOLD_CURVE_SQL,
}
