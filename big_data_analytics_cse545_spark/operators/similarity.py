"""L3 similarity search — brute-force kNN baseline, hyperplane-LSH ANN,
IVF coarse-quantized ANN.

Generalizes the reference's candidate-generation + exact-distance-ranking
funnel (``Assignment 2/a2_ahuja.py:164-170`` candidates;
``a2_ahuja.py:296-319`` distance + per-query ascending sort) to an
embedding table. Brute force (s01) is the correctness baseline; s02/s03
are the scale paths that prune the candidate set before any exact math —
at 100 TB the cross join in s01 must never run, which is exactly the
reference's reason for LSH (A2 PDF p.3).

Hashing for LSH planes is md5-parity based, so the DuckDB oracle can
regenerate identical planes with SQL md5(). s01, s02 and s06 are
bindings of ``api.ann_join`` (brute force; one-table LSH; multi-table
LSH), whose literal-sign buckets are :func:`hyperplane_bucket_expr`.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_analytics_cse545_spark.functions.vectors import (
    cosine_pre,
    dot,
    norm,
)
from big_data_analytics_cse545_spark.sources import load_table

DIM = 64          # embedding dimensionality (TESTDATA.md)
N_PLANES = 6      # hyperplane-LSH signature bits → 64 buckets
TOP_K = 5
QUERY_MOD = 100   # query set = vec_id % 100 == 0 (scale-proportional)


def _queries_df(e: DataFrame) -> DataFrame:
    return e.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )


def _pair_cosine(round_to: int = 6):
    """The one shared pair-scoring expression: ``round(cosine, 6)`` from
    a per-pair dot and PER-ROW hoisted norms (``nrm``/``q_nrm`` columns
    the caller computed before its candidate join). Bit-identical to
    ``round(cosine(q_emb, embedding), 6)`` — the norm is the same
    expression on the same row, the division the same doubles
    (tests/test_functions.py) — but each norm's interpreted
    ArrayAggregate fold runs once per ROW instead of once per candidate
    PAIR: two of the three per-pair HOF evaluations disappear from the
    scoring stage (round-12 optimization, guide §4.1 — the fully
    UNROLLED spelling was tried and rejected: its expression trees cost
    more in analysis/codegen per query than the interpreted fold costs
    at bench scale, OPTIMIZATION_r12.md has the A/B)."""
    return F.round(
        cosine_pre(
            dot(F.col("q_emb"), F.col("embedding")),
            F.col("q_nrm"),
            F.col("nrm"),
        ),
        round_to,
    )


def _with_norm(e: DataFrame) -> DataFrame:
    return e.withColumn("nrm", norm(F.col("embedding")))


def _ann_join_queries(spark: SparkSession, sf_dir: str, **kwargs) -> DataFrame:
    """The query set against the whole embeddings table through
    ``api.ann_join(..., dim=DIM, **kwargs)``, as (q_id, neighbor_id, rk,
    cos_sim) ordered by query and rank — the body of s01, s02 and s06."""
    from big_data_analytics_cse545_spark import api

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % QUERY_MOD == 0)
    return (
        api.ann_join(q, e, "embedding", "vec_id", dim=DIM, **kwargs)
        .select("q_id", "neighbor_id", "rk", "cos_sim")
        .orderBy("q_id", "rk")
    )


# ---------------------------------------------------------------------------
# s01 — brute-force cosine top-k (correctness baseline)
# ---------------------------------------------------------------------------

def s01_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for each query vector:
    ``api.ann_join(queries, embeddings, k=TOP_K, dim=DIM)``, brute force.

    Query×corpus theta-join + per-query window top-k — the distributed
    form of the reference's driver-side candidate ranking
    (``a2_ahuja.py:296-319``). Ranking key is the *rounded* cosine with
    neighbor-id tiebreak, so the ordering is engine-independent; NULL
    vectors are neither queries nor neighbors.
    """
    return _ann_join_queries(spark, sf_dir, k=TOP_K)


_COS_SQL = """
ROUND(
  list_sum(list_transform(range(1, {dim} + 1),
      i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) /
  (sqrt(list_sum(list_transform(q.q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
   sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
""".format(dim=DIM)

_S01_SQL = f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
  WHERE vec_id % {QUERY_MOD} = 0 AND embedding IS NOT NULL
),
scored AS (
  SELECT q.q_id, e.vec_id, {_COS_SQL} AS cos_sim
  FROM q JOIN embeddings e ON e.vec_id <> q.q_id AND e.embedding IS NOT NULL
),
ranked AS (
  SELECT q_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rk
  FROM scored
)
SELECT q_id, vec_id AS neighbor_id, rk, cos_sim
FROM ranked WHERE rk <= {TOP_K}
ORDER BY q_id, rk
"""


# ---------------------------------------------------------------------------
# s02 — random-hyperplane LSH ANN
# ---------------------------------------------------------------------------

def _plane_sign(p: int, d: int) -> int:
    """Deterministic ±1 from md5 parity — reproducible in SQL as
    md5(p || '_' || d)."""
    nib = int(hashlib.md5(f"{p}_{d}".encode()).hexdigest()[0], 16)
    return 1 if nib % 2 == 0 else -1


def hyperplane_bucket_expr(
    emb_col: str = "embedding",
    n_planes: int = N_PLANES,
    dim: int = DIM,
    plane_offset: int = 0,
):
    """Signature bucket = Σ_p [dot(plane_{offset+p}, emb) > 0]·2^p as one
    JVM expression tree (plane entries are literals — no shuffle, no
    UDF). ``plane_offset`` selects an independent plane family — table t
    of an OR-construction uses offset t·n_planes (s06).

    Public: also the coarse-partition step of d11 semantic dedup
    (operators/dedup.py), which needs the identical md5-parity planes so
    its DuckDB oracle can regenerate the cells.

    Round-12 note: an unrolled (64 explicit multiply-add terms per
    plane) spelling was measured and REJECTED — the deep Add chains
    cost more in analysis/codegen per query than the interpreted HOF
    fold costs at bench scale (s06 carries 18 planes × 2 join sides;
    OPTIMIZATION_r12.md has the A/B). The HOF form stays: one compact
    node per plane, whose signs are ONE array literal built from a numpy
    vector: ``F.array`` over ``dim`` scalar ``F.lit`` gives the same
    optimized plan, but ``dim`` literal nodes per plane for Spark to
    analyse at every DataFrame step."""
    bucket = F.lit(0)
    for p in range(n_planes):
        signs = np.array(
            [_plane_sign(plane_offset + p, d) for d in range(dim)], dtype=np.float64
        )
        proj = dot(F.lit(signs), F.col(emb_col))
        bucket = bucket + F.when(proj > 0, F.lit(2 ** p)).otherwise(F.lit(0))
    return bucket


def s02_ann_hyperplane_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH: same-bucket candidates, then exact
    cosine top-3 within the bucket — ``api.ann_join(..., method="lsh",
    n_planes=N_PLANES, n_tables=1, dim=DIM)``, whose one-table form
    joins the rows on the bucket directly.

    The reference's banding funnel (``a2_ahuja.py:140-170``) with
    hyperplane signatures instead of minhash bands: candidates share all
    6 signature bits (one 64-bucket partition), so the exact scoring
    touches ~1/64 of the corpus per query. NULL vectors are neither
    queries nor neighbors.
    """
    return _ann_join_queries(
        spark, sf_dir, k=3, method="lsh", n_planes=N_PLANES, n_tables=1
    )


def hyperplane_bucket_sql(
    emb_sql: str = "embedding",
    n_planes: int = N_PLANES,
    dim: int = DIM,
    plane_offset: int = 0,
) -> str:
    """DuckDB twin of :func:`hyperplane_bucket_expr` (same md5-parity
    planes, same power-of-two packing, same ``plane_offset`` table
    selection)."""
    terms = []
    for p in range(n_planes):
        signs = ", ".join(
            str(float(_plane_sign(plane_offset + p, d))) for d in range(dim)
        )
        terms.append(
            f"CASE WHEN list_sum(list_transform(range(1, {dim} + 1), "
            f"i -> ([{signs}])[i] * CAST({emb_sql}[i] AS DOUBLE))) > 0 "
            f"THEN {2 ** p} ELSE 0 END"
        )
    return " + ".join(terms)


def _s02_sql() -> str:
    return f"""
WITH b AS (SELECT vec_id, embedding, {hyperplane_bucket_sql()} AS bucket FROM embeddings WHERE embedding IS NOT NULL),
q AS (
  SELECT vec_id AS q_id, embedding AS q_emb, bucket AS q_bucket
  FROM b WHERE vec_id % {QUERY_MOD} = 0
),
scored AS (
  SELECT q.q_id, e.vec_id, {_COS_SQL} AS cos_sim
  FROM q JOIN b e ON e.bucket = q.q_bucket AND e.vec_id <> q.q_id
),
ranked AS (
  SELECT q_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rk
  FROM scored
)
SELECT q_id, vec_id AS neighbor_id, rk, cos_sim
FROM ranked WHERE rk <= 3
ORDER BY q_id, rk
"""


# ---------------------------------------------------------------------------
# s03 — IVF (coarse quantization by label centroids)
# ---------------------------------------------------------------------------

def s03_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: 10 coarse cells (label centroids), probe the 2 nearest
    cells per query, exact top-3 inside the probed cells.

    Centroid components are rounded to 6 digits before any distance math
    so both engines rank identically despite unordered float summation
    in the centroid average. Known bounded caveat (round-6 review): the
    rounding absorbs summation-order differences only up to ~half an
    ulp-accumulation of the mean; a centroid component whose true mean
    sits within ~1e-15·m of a 0.5e-6 rounding boundary can still round
    differently across runs or engines and re-rank a probed cell. The
    probability is ~1e-9 per component on this data — accepted rather
    than paying an exact-arithmetic centroid (which floats cannot give
    without fixed-point quantization of the INPUT vectors).
    """
    e = load_table(spark, sf_dir, "embeddings")
    # centroids in long form: (label, pos, c_val)
    cent = (
        e.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("c_val"))
    )
    q = _queries_df(e).select(
        "q_id", "q_emb", F.posexplode("q_emb").alias("pos", "q_val")
    )
    # query→cell scores (dot in long form; rounded before ranking)
    cell = (
        q.join(cent, "pos")
        .groupBy("q_id", "label")
        .agg(F.round(F.sum(F.col("q_val").cast("double") * F.col("c_val")), 6).alias("score"))
    )
    wc = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("label"))
    probed = cell.withColumn("crk", F.row_number().over(wc)).filter(F.col("crk") <= 2)
    en = _with_norm(e)
    qe = en.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    cos = _pair_cosine()
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        probed.select("q_id", "label")
        .join(en, "label")
        .join(qe, "q_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", cos.alias("cos_sim"))
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "rk", "cos_sim")
        .orderBy("q_id", "rk")
    )


_S03_SQL = f"""
WITH cent AS (
  SELECT label, i AS pos, ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS c_val
  FROM embeddings CROSS JOIN range(1, {DIM} + 1) t(i)
  GROUP BY label, i
),
q AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id % {QUERY_MOD} = 0
),
cell AS (
  SELECT q.q_id, cent.label,
         ROUND(SUM(CAST(q.q_emb[pos] AS DOUBLE) * c_val), 6) AS score
  FROM q JOIN cent ON TRUE
  GROUP BY q.q_id, cent.label
),
probed AS (
  SELECT q_id, label FROM (
    SELECT q_id, label,
           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, label) AS crk
    FROM cell
  ) WHERE crk <= 2
),
scored AS (
  SELECT q.q_id, e.vec_id, {_COS_SQL} AS cos_sim
  FROM probed p
  JOIN embeddings e ON e.label = p.label
  JOIN q ON q.q_id = p.q_id
  WHERE e.vec_id <> q.q_id
),
ranked AS (
  SELECT q_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rk
  FROM scored
)
SELECT q_id, vec_id AS neighbor_id, rk, cos_sim
FROM ranked WHERE rk <= 3
ORDER BY q_id, rk
"""


# ---------------------------------------------------------------------------
# s04 — MLlib BucketedRandomProjectionLSH (idiomatic alternative to s02)
# ---------------------------------------------------------------------------

def s04_brp_lsh_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via pyspark.ml BucketedRandomProjectionLSH approxSimilarityJoin
    — the library spelling of the s02 funnel (SURVEY §2.5 'approx/sketch
    ops': MinHashLSH / BucketedRandomProjectionLSH). Euclidean-distance
    pairs under a threshold for the query set; seeded, but the hash
    family is JVM-random per seed, so the driver check is rows-only —
    recall vs the exact baseline is pinned in tests.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())  # MLlib fit() NPEs on null vectors
        .select(
            "vec_id",
            array_to_vector(F.col("embedding").cast("array<double>")).alias("v"),
        )
    )
    if e.isEmpty():
        # MLlib fit() on an empty corpus throws a raw Py4J error; the
        # query's answer is simply "no pairs"
        return spark.createDataFrame(
            [], "q_id long, neighbor_id long, dist double"
        )
    lsh = BucketedRandomProjectionLSH(
        inputCol="v", outputCol="hashes", bucketLength=2.0, numHashTables=6, seed=42
    ).fit(e)
    q = e.filter(F.col("vec_id") % QUERY_MOD == 0)
    # threshold ≈ the lower tail of the pairwise-distance distribution
    # (embedding norms are ~1, random pairs sit near √2·norm) so the join
    # returns genuine near neighbors, not the whole corpus
    joined = lsh.approxSimilarityJoin(q, e, threshold=1.3, distCol="dist")
    return (
        joined.filter(F.col("datasetA.vec_id") != F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("q_id"),
            F.col("datasetB.vec_id").alias("neighbor_id"),
            F.round("dist", 6).alias("dist"),
        )
        .orderBy("q_id", "dist", "neighbor_id")
    )


# ---------------------------------------------------------------------------
# s05 — filtered ANN (metadata predicate + vector search)
# ---------------------------------------------------------------------------

def s05_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search — the vector-database feature every retrieval
    stack needs: top-3 nearest neighbors per query SUBJECT TO a
    metadata predicate (here ``label != query.label``, the
    'exclude-my-own-category' shape of cross-domain retrieval and
    contamination-safe nearest-neighbor eval).

    The predicate is applied at the CANDIDATE stage — inside the s02
    LSH bucket join, before any exact cosine — which is the only
    correct order: post-filtering an unfiltered top-k under-delivers k
    whenever neighbors fail the predicate (with ~10 labels, an
    unfiltered top-3 loses on average a third of its rows to a
    != -filter; tests pin that s05 still returns a full k wherever the
    bucket holds k qualifying rows). At 100 TB the predicate also
    prunes the exact-scoring workload by the filter's selectivity for
    free, because it rides the same join.
    """
    e = _with_norm(
        load_table(spark, sf_dir, "embeddings").withColumn(
            "bucket", hyperplane_bucket_expr()
        )
    )
    q = e.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("bucket").alias("q_bucket"),
        F.col("label").alias("q_label"),
        F.col("nrm").alias("q_nrm"),
    )
    cos = _pair_cosine()
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        q.join(
            e,
            (F.col("bucket") == F.col("q_bucket"))
            & (F.col("vec_id") != F.col("q_id"))
            & (F.col("label") != F.col("q_label")),
        )
        .select("q_id", "vec_id", "label", cos.alias("cos_sim"))
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3)
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            "rk",
            "cos_sim",
        )
        .orderBy("q_id", "rk")
    )


def _s05_sql() -> str:
    return f"""
WITH b AS (SELECT vec_id, embedding, label, {hyperplane_bucket_sql()} AS bucket FROM embeddings),
q AS (
  SELECT vec_id AS q_id, embedding AS q_emb, bucket AS q_bucket, label AS q_label
  FROM b WHERE vec_id % {QUERY_MOD} = 0
),
scored AS (
  SELECT q.q_id, e.vec_id, e.label, {_COS_SQL} AS cos_sim
  FROM q JOIN b e
    ON e.bucket = q.q_bucket AND e.vec_id <> q.q_id AND e.label <> q.q_label
),
ranked AS (
  SELECT q_id, vec_id, label, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rk
  FROM scored
)
SELECT q_id, vec_id AS neighbor_id, label AS neighbor_label, rk, cos_sim
FROM ranked WHERE rk <= 3
ORDER BY q_id, rk
"""


# ---------------------------------------------------------------------------
# s06 — multi-table OR-construction LSH ANN
# ---------------------------------------------------------------------------

N_TABLES = 3  # OR-construction width: recall → 1 − (1 − r₁)^L per table


def s06_ann_multitable_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over an OR-construction of ``N_TABLES`` independent
    hyperplane-LSH tables — ``api.ann_join(..., method="lsh",
    n_planes=N_PLANES, n_tables=N_TABLES, dim=DIM)``: a pair is a
    candidate if it collides in ANY table; exact cosine top-3 over the
    deduped candidate set.

    This is the operator form of the recall knob SCALE.md names for the
    single-table funnel (s02/s05): one 6-plane table collides true
    neighbors at r₁ = (1 − θ/π)^6 (≈0.3 at cos 0.86), and L independent
    tables lift that to 1 − (1 − r₁)^L (≈0.66 at L=3) while the
    candidate volume grows only ~linearly in L. Table t draws planes
    from the disjoint family ``plane_offset = t·N_PLANES``, so table 0
    is EXACTLY s02's table — s06's candidate set is a superset of
    s02's by construction (pinned in tests). The candidate stage is
    narrow: only (id, table, bucket) rows ride the ×L explode and the
    pair dedup, and embeddings rejoin by id afterwards (the scale shape
    is documented on ``api.ann_join``).

    Reference anchor: the multi-band OR over minhash signatures in
    ``Assignment 2/a2_ahuja.py:140-170`` (computeBuckets2's 39 bands
    ARE an OR-construction); here the bands are whole hyperplane
    tables over an embedding column.
    """
    return _ann_join_queries(
        spark, sf_dir, k=3, method="lsh", n_planes=N_PLANES, n_tables=N_TABLES
    )


def _s06_sql() -> str:
    per_table = "\nUNION ALL\n".join(
        f"SELECT vec_id, {t} AS t, "
        f"{hyperplane_bucket_sql(plane_offset=t * N_PLANES)} AS bucket "
        "FROM embeddings WHERE embedding IS NOT NULL"
        for t in range(N_TABLES)
    )
    return f"""
WITH long AS (
{per_table}
),
cand AS (
  SELECT DISTINCT qs.vec_id AS q_id, es.vec_id
  FROM long qs JOIN long es ON es.t = qs.t AND es.bucket = qs.bucket
  WHERE qs.vec_id % {QUERY_MOD} = 0 AND es.vec_id <> qs.vec_id
),
scored AS (
  SELECT c.q_id, e.vec_id, {_COS_SQL} AS cos_sim
  FROM cand c
  JOIN (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings) q ON q.q_id = c.q_id
  JOIN embeddings e ON e.vec_id = c.vec_id
),
ranked AS (
  SELECT q_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rk
  FROM scored
)
SELECT q_id, vec_id AS neighbor_id, rk, cos_sim
FROM ranked WHERE rk <= 3
ORDER BY q_id, rk
"""


QUERIES = {
    "s01_knn_bruteforce": s01_knn_bruteforce,
    "s02_ann_hyperplane_lsh": s02_ann_hyperplane_lsh,
    "s03_ann_ivf": s03_ann_ivf,
    "s04_brp_lsh_mllib": s04_brp_lsh_mllib,
    "s05_filtered_ann": s05_filtered_ann,
    "s06_ann_multitable_lsh": s06_ann_multitable_lsh,
}

ORACLE = {
    "s01_knn_bruteforce": _S01_SQL,
    "s02_ann_hyperplane_lsh": _s02_sql(),
    "s03_ann_ivf": _S03_SQL,
    "s05_filtered_ann": _s05_sql,
    "s06_ann_multitable_lsh": _s06_sql,
}
