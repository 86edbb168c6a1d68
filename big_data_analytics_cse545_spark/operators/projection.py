"""L3 dimensionality reduction — the reference's Assignment-2 funnel on
the embeddings table: distributed moments, sparse random projection,
distributed Gram matrix, driver-side SVD, PCA-space distance ranking.

Reference parity (SURVEY §2.4):
  I15 ``findRandomProjectionMatrix`` (``a2_ahuja.py:207-213``, Li/Hastie/
      Church KDD'06 construction) → p02, with md5-derived deterministic
      entries so the DuckDB oracle can regenerate the same matrix.
  I17/I19 distributed mean/variance (``a2_ahuja.py:260-268``) → p01.
  I20 Gram via map(outer).reduce(add) (``a2_ahuja.py:271``) → p03's
      per-partition partial Gram (mapInPandas) + driver sum — the
      'covariance fits on driver' trick, Arrow-batched instead of
      per-row pickle.
  I21 driver SVD (``a2_ahuja.py:276-279``) → numpy on the 64×64 Gram.
  I22/I23 PCA projection + euclidean ranking (``a2_ahuja.py:289-319``)
      → p03 output: per-query top-3 in PCA space.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_analytics_cse545_spark.functions.vectors import dot
from big_data_analytics_cse545_spark.sources import load_table

DIM = 64
RP_DIMS = 8       # target dims for random projection (⌊√64⌋ per I15)
PCA_K = 3
QUERY_MOD = 100


# ---------------------------------------------------------------------------
# p01 — distributed per-dimension moments (I17/I19)
# ---------------------------------------------------------------------------

def p01_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean / population stddev / min / max.

    The reference computes mean and variance with two reduceByKey passes
    (``a2_ahuja.py:260-268``); here it is one posexplode + grouped
    aggregate — partial+final agg, one shuffle of 64 keys.
    """
    e = load_table(spark, sf_dir, "embeddings")
    return _dim_stats_df(e)


def _dim_stats_df(e: DataFrame) -> DataFrame:
    return (
        e.select(F.posexplode("embedding").alias("pos", "v"))
        .select(F.col("pos").cast("bigint").alias("pos"), F.col("v").cast("double").alias("v"))
        .groupBy("pos")
        .agg(
            F.round(F.avg("v"), 6).alias("mean_v"),
            F.round(F.stddev_pop("v"), 6).alias("std_v"),
            F.round(F.min("v"), 6).alias("min_v"),
            F.round(F.max("v"), 6).alias("max_v"),
        )
        .orderBy("pos")
    )


_P01_SQL = f"""
SELECT i - 1 AS pos,
       ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS mean_v,
       ROUND(stddev_pop(CAST(embedding[i] AS DOUBLE)), 6) AS std_v,
       ROUND(MIN(CAST(embedding[i] AS DOUBLE)), 6) AS min_v,
       ROUND(MAX(CAST(embedding[i] AS DOUBLE)), 6) AS max_v
FROM embeddings CROSS JOIN range(1, {DIM} + 1) t(i)
GROUP BY i ORDER BY pos
"""


# ---------------------------------------------------------------------------
# p02 — sparse random projection (I15/I16)
# ---------------------------------------------------------------------------

def _rp_entry(p: int, d: int) -> float:
    """Deterministic sparse RP entry (Li et al. KDD'06, a2_ahuja.py:207-213):
    +1 / −1 each with probability 1/16 ≈ 1/(2√d), else 0 — decided by the
    first md5 nibble of 'rp_{p}_{d}' so SQL md5() reproduces it."""
    nib = int(hashlib.md5(f"rp_{p}_{d}".encode()).hexdigest()[0], 16)
    return 1.0 if nib == 0 else (-1.0 if nib == 1 else 0.0)


def p02_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project 64-dim embeddings to 8 dims with the sparse RP matrix;
    report per-projected-dimension moments.

    The projection itself is a literal-array dot product inside codegen
    (the reference ships the matrix via broadcast + per-row numpy matmul,
    ``a2_ahuja.py:254-257``; literals are the local-mode equivalent).
    """
    e = load_table(spark, sf_dir, "embeddings")
    proj_cols = []
    for p in range(RP_DIMS):
        signs = F.array(*[F.lit(_rp_entry(p, d)) for d in range(DIM)])
        proj_cols.append(dot(signs, F.col("embedding")).alias(f"proj{p}"))
    projected = e.select("vec_id", *proj_cols)
    stacked = projected.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(p).alias("proj_dim"), F.col(f"proj{p}").alias("v")
                    )
                    for p in range(RP_DIMS)
                ]
            )
        ).alias("s")
    ).select("s.proj_dim", "s.v")
    return (
        stacked.groupBy("proj_dim")
        .agg(
            F.round(F.avg("v"), 6).alias("mean_v"),
            F.round(F.stddev_pop("v"), 6).alias("std_v"),
        )
        .orderBy("proj_dim")
    )


def _p02_sql() -> str:
    branches = []
    for p in range(RP_DIMS):
        entries = ", ".join(str(_rp_entry(p, d)) for d in range(DIM))
        branches.append(
            f"SELECT {p} AS proj_dim, "
            f"list_sum(list_transform(range(1, {DIM} + 1), "
            f"i -> ([{entries}])[i] * CAST(embedding[i] AS DOUBLE))) AS v "
            f"FROM embeddings"
        )
    union = " UNION ALL ".join(branches)
    return f"""
WITH stacked AS ({union})
SELECT proj_dim,
       ROUND(AVG(v), 6) AS mean_v,
       ROUND(stddev_pop(v), 6) AS std_v
FROM stacked GROUP BY proj_dim ORDER BY proj_dim
"""


# ---------------------------------------------------------------------------
# p03 — PCA funnel with driver SVD (I20-I23) — rows-only (no SQL oracle)
# ---------------------------------------------------------------------------

def p03_pca_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full PCA funnel: standardize → distributed Gram → driver SVD →
    project → per-query euclidean top-3 in PCA space.

    Gram accumulation is per-partition ``mapInPandas`` partial sums
    (Arrow batches) — the scalable form of the reference's
    ``map(outer).reduce(add)`` (``a2_ahuja.py:271``): driver receives one
    64×64 matrix per partition, never the data. SVD on the driver is
    legitimate (64×64), exactly as the reference argues
    (``a2_ahuja.py:274-279``). Not SQL-expressible (SVD) → rows-only
    driver check; invariants are pinned by unit tests instead.
    """
    # Three passes over embeddings (moments → Gram → projection+rank);
    # persist once, release at the end (the reference persists its RDD
    # for the same loop, a2_ahuja.py:431).
    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())  # null vectors: no moments/basis
        .persist()
    )
    try:
        stats = _dim_stats_df(e).collect()
        if not stats:
            # empty corpus → no moments, no basis, no queries: empty
            # result with the output schema (an empty date partition
            # must not crash a scheduled job)
            return spark.createDataFrame(
                [], "q_id long, neighbor_id long, rk long, dist double"
            )
        mean = np.array([r["mean_v"] for r in stats])
        std = np.array([max(r["std_v"], 1e-9) for r in stats])

        def partial_gram(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            acc = np.zeros((DIM, DIM))
            for batch in batches:
                x = np.stack(batch["embedding"].to_numpy())
                x = (x - mean) / std
                acc += x.T @ x
            yield pd.DataFrame({"gram": [acc.ravel().tolist()]})

        gram_parts = e.select("embedding").mapInPandas(
            partial_gram, schema="gram array<double>"
        )
        gram = np.zeros((DIM, DIM))
        for row in gram_parts.collect():
            gram += np.array(row["gram"]).reshape(DIM, DIM)
    finally:
        # stats + Gram passes are done; the final projection pass below
        # runs at the caller's action — release the cache now (one parquet
        # re-scan there instead of a leaked cache entry per invocation),
        # and release it even when a collect above fails mid-loop
        e.unpersist()
    # SVD of symmetric PSD Gram ≡ eigendecomposition (a2_ahuja.py:274-275)
    u, _s, _vt = np.linalg.svd(gram)
    comps = u[:, :PCA_K]  # 64×3

    # Round-12 optimization (guide §4.1 / §7.3 driver-side work): the
    # old spelling built each 64-term standardize-and-project sum with
    # per-term Python Column operators — ~770 py4j round-trips, 2-3
    # SECONDS of driver time per invocation (measured; the expression
    # TREE is unchanged either way, so analysis/codegen cost the same).
    # One F.expr string per component parses in a single call and is
    # bit-identical: same left-associated fold Python sum() produced
    # (0 + t0 + t1 + …), same cast-to-double per element, literals
    # embedded as exact repr round-trips.
    def _term(d: int, p: int) -> str:
        m, s, c = float(mean[d]), float(std[d]), float(comps[d, p])
        return (
            f"(CAST(element_at(`embedding`, {d + 1}) AS DOUBLE)"
            f" - {m!r}D) / {s!r}D * {c!r}D"
        )

    proj_cols = [
        F.round(
            F.expr("0 + " + " + ".join(_term(d, p) for d in range(DIM))),
            6,
        ).alias(f"pc{p}")
        for p in range(PCA_K)
    ]
    projected = e.select("vec_id", *proj_cols)
    q = projected.select(
        F.col("vec_id").alias("q_id"),
        *[F.col(f"pc{p}").alias(f"qpc{p}") for p in range(PCA_K)],
    ).filter(F.col("q_id") % QUERY_MOD == 0)
    dist = F.round(
        F.sqrt(
            sum(
                (F.col(f"qpc{p}") - F.col(f"pc{p}")) ** 2 for p in range(PCA_K)
            )
        ),
        6,
    )
    w = Window.partitionBy("q_id").orderBy(F.col("dist"), F.col("vec_id"))
    return (
        q.join(projected, F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", dist.alias("dist"))
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "rk", "dist")
        .orderBy("q_id", "rk")
    )


# ---------------------------------------------------------------------------
# p04 — MLlib PCA (the idiomatic alternative to p03's hand funnel)
# ---------------------------------------------------------------------------

def p04_pca_mllib_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same funnel as p03 on pyspark.ml: StandardScaler → PCA(k=3) →
    per-query euclidean top-3 (SURVEY §7 step 4: 'next to pyspark.ml.PCA
    as the idiomatic alternative'). The PCA basis is sign/rotation-
    ambiguous, but distances in the subspace are not — p03 and p04 must
    rank identically (pinned in tests)."""
    from pyspark.ml.feature import PCA, StandardScaler
    from pyspark.ml.functions import array_to_vector, vector_to_array

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
        # query's answer is simply "no neighbors" (p03's empty shape)
        return spark.createDataFrame(
            [], "q_id long, neighbor_id long, rk long, dist double"
        )
    scaler = StandardScaler(
        inputCol="v", outputCol="scaled", withMean=True, withStd=True
    ).fit(e)
    scaled = scaler.transform(e)
    pca = PCA(k=PCA_K, inputCol="scaled", outputCol="pcs").fit(scaled)
    projected = pca.transform(scaled).select(
        "vec_id", vector_to_array("pcs").alias("pcs")
    ).select(
        "vec_id",
        *[F.round(F.element_at("pcs", p + 1), 6).alias(f"pc{p}") for p in range(PCA_K)],
    )
    q = projected.select(
        F.col("vec_id").alias("q_id"),
        *[F.col(f"pc{p}").alias(f"qpc{p}") for p in range(PCA_K)],
    ).filter(F.col("q_id") % QUERY_MOD == 0)
    dist = F.round(
        F.sqrt(
            sum((F.col(f"qpc{p}") - F.col(f"pc{p}")) ** 2 for p in range(PCA_K))
        ),
        6,
    )
    w = Window.partitionBy("q_id").orderBy(F.col("dist"), F.col("vec_id"))
    return (
        q.join(projected, F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", dist.alias("dist"))
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "rk", "dist")
        .orderBy("q_id", "rk")
    )


# ---------------------------------------------------------------------------
# p05 — iterative algorithm: seeded Lloyd k-means (rows-only)
# ---------------------------------------------------------------------------

def p05_kmeans_iterative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd k-means (k=8, 5 iterations) as an iterative
    DataFrame computation — the engine's pattern for iteration at scale:
    per-iteration work is one assignment pass (broadcast centroids inside
    a vectorized kernel) + one centroid aggregation; lineage is cut by
    collecting the k×d centroid matrix to the driver each round (k·d
    doubles — driver-scale by construction, like the reference's PCA loop,
    ``a2_ahuja.py:254-280``), so no localCheckpoint is needed.

    Init = the first k vectors by vec_id (seeded, reproducible). Output:
    per-cluster size and within-cluster mean distance, rounded — stable
    under partitioning because assignment ties break by lowest centroid
    index deterministically.
    """
    import numpy as np
    import pandas as pd

    k, iters = 8, 5
    # Persist: the loop scans the table once per iteration (the reference
    # itself persists its RDD for the same reason, a2_ahuja.py:431);
    # without this each pass re-reads parquet.
    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())  # null vectors: unassignable
        .select("vec_id", "embedding")
        .persist()
    )
    init = e.orderBy("vec_id").limit(k).collect()
    centroids = np.array([r["embedding"] for r in init], dtype=np.float64)

    def make_partials(cents: np.ndarray):
        """Fused assignment + per-cluster partial sums in ONE pass: each
        partition emits at most k rows (cluster, Σx, n, Σdist) — the
        map-side combine the round-1 posexplode+join lacked. Shuffle
        volume per iteration: partitions × k rows, independent of N."""

        def partials(batches):
            from pyspark import TaskContext

            sums = np.zeros((k, DIM))
            cnts = np.zeros(k, dtype=np.int64)
            dsum = np.zeros(k)
            for batch in batches:
                x = np.array([list(v) for v in batch["embedding"]], dtype=np.float64)
                d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
                a = d2.argmin(axis=1)
                dist = np.sqrt(d2[np.arange(len(a)), a])
                cnts += np.bincount(a, minlength=k)
                dsum += np.bincount(a, weights=dist, minlength=k)
                np.add.at(sums, a, x)
            nz = np.nonzero(cnts)[0]
            if len(nz) == 0:
                # empty parquet split (byte-splitting can outnumber row
                # groups at scale): yield nothing — an empty DataFrame
                # would type psum as float64, not list<double>, and the
                # Arrow writer rejects the ndarray→list conversion
                return
            pid = TaskContext.get().partitionId()
            yield pd.DataFrame(
                {
                    "pid": np.full(len(nz), pid, dtype=np.int32),
                    "cluster": nz.astype(np.int64),
                    "psum": [sums[c].tolist() for c in nz],
                    "n": cnts[nz],
                    "dsum": dsum[nz],
                }
            )

        return partials

    schema = "pid int, cluster long, psum array<double>, n long, dsum double"
    final_cnt: np.ndarray = np.zeros(k, dtype=np.int64)
    final_dsum: np.ndarray = np.zeros(k)
    try:
        for it in range(iters):
            parts = e.mapInPandas(make_partials(centroids), schema=schema).collect()
            # deterministic accumulation order — collect() row order is not
            parts.sort(key=lambda r: (r["cluster"], r["pid"]))
            sums = np.zeros((k, DIM))
            cnts = np.zeros(k, dtype=np.int64)
            dsum = np.zeros(k)
            for r in parts:
                sums[r["cluster"]] += np.array(r["psum"])
                cnts[r["cluster"]] += r["n"]
                dsum[r["cluster"]] += r["dsum"]
            if it < iters - 1:
                for c in np.nonzero(cnts)[0]:
                    centroids[c] = sums[c] / cnts[c]
            else:
                final_cnt, final_dsum = cnts, dsum
    finally:
        # release the per-iteration scan cache even if a collect fails
        e.unpersist()

    # HALF_UP rounding, matching Spark/SQL ROUND semantics everywhere
    # else in the engine (Python round() is banker's/HALF_EVEN and could
    # flip a tie at the 4th decimal vs the SQL convention)
    from decimal import ROUND_HALF_UP, Decimal

    out = [
        (
            int(c),
            int(final_cnt[c]),
            float(
                Decimal(repr(final_dsum[c] / final_cnt[c])).quantize(
                    Decimal("0.0001"), rounding=ROUND_HALF_UP
                )
            ),
        )
        for c in np.nonzero(final_cnt)[0]
    ]
    return spark.createDataFrame(
        out, "cluster long, n_members long, mean_dist double"
    )


# ---------------------------------------------------------------------------
# p08 — p05's deterministic integer core, HASH-CHECKABLE (fixed-point
# Lloyd iterations, the g01 BIGINT discipline)
# ---------------------------------------------------------------------------

P08_K = 8
P08_ITERS = 4
# Fixed-point quantization: q = clamp(floor((x + SHIFT) · SCALE), 0, CLAMP).
# SHIFT makes every in-range embedding value strictly positive BEFORE
# flooring, so centroid updates can use integer division with identical
# floor/trunc semantics in Spark (`div`), numpy (`//`) and DuckDB (`//`);
# the clamp makes out-of-range data behave IDENTICALLY in both engines
# instead of silently breaking the non-negativity precondition. Bounds:
# v ≤ CLAMP=4000 → per-dim squared diff ≤ 1.6e7, per-vector d2 ≤ ~1e9,
# ssd ≤ N·1e9 — exact in BIGINT up to ~9e9 vectors per cluster; beyond
# that a deployment would emit per-cluster MEAN d2 instead of the sum.
P08_SHIFT = 2.0
P08_SCALE = 1000
P08_CLAMP = 4000


def int64_safe_bound(shift: float, scale: int) -> float:
    """Largest element magnitude for which floor((|x|+|shift|)*scale) is
    guaranteed inside int64 in BOTH engines (2^62 headroom, so double
    rounding in the multiply cannot tip it over). Elements above this
    are excluded whole-vector by :func:`quantize_fixed_point` and by the
    oracle's list_filter — Spark would saturate the long cast while
    DuckDB raises a ConversionException (round-10 ADVICE)."""
    return (float(2**62) / float(scale)) - abs(shift)


def quantize_fixed_point(
    e: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    *,
    shift: float = P08_SHIFT,
    scale: int = P08_SCALE,
    clamp: int = P08_CLAMP,
) -> DataFrame:
    """(vec_id, q: array<bigint>) — the fixed-point relation
    :func:`kmeans_trace_int` iterates over, from any (id, vector)
    DataFrame. Quantization runs JVM-side on float→float64 widened
    values (the exact double arithmetic a SQL oracle performs on the
    same parquet floats); the row filters are the p08 parity pins
    (NULL keys, wrong-dimension, and non-finite-element vectors are
    excluded — rationale inline)."""
    q = F.transform(
        vec_col,
        lambda x: F.least(
            F.greatest(
                F.floor((x.cast("double") + F.lit(shift)) * F.lit(float(scale)))
                .cast("long"),
                F.lit(0).cast("long"),
            ),
            F.lit(clamp).cast("long"),
        ),
    )
    # vec_id IS NOT NULL mirrors g01's NULL-source pin (r8): a NULL key
    # would sort NULLS FIRST in Spark's init ordering but NULLS LAST in
    # DuckDB's, silently shifting every initial centroid. vec_id is the
    # table's unique key by contract (TESTDATA.md); duplicate keys would
    # change n_members semantics in both engines and are not defended.
    #
    # Non-finite elements (NaN/±Inf — a failed encoder state, like null
    # vectors) are EXCLUDED whole-vector on both sides (round-9 review):
    # Spark's cast chain would clamp them (NaN→0, +Inf→CLAMP) while
    # DuckDB's CAST(floor(NaN) AS BIGINT) raises a Conversion Error —
    # so "clamp makes both engines identical" is only true for FINITE
    # out-of-range values, and the vector filter restores parity on the
    # rest. NULL elements ride the same filter (GREATEST(NULL, 0)
    # differs across engines too).
    #
    # FINITE elements whose scaled floor overflows int64 (e.g. a float32
    # 3e38) hit the same engine split — Spark's cast("long") saturates
    # while DuckDB's CAST(... AS BIGINT) raises — so the predicate also
    # excludes any element whose magnitude could push (x+shift)*scale
    # past ±2^62 (round-10 ADVICE; mirrored in _p08_sql's list_filter).
    mag = int64_safe_bound(shift, scale)
    bad = lambda x: (  # noqa: E731
        x.isNull()
        | F.isnan(x)
        | (F.abs(x) == F.lit(float("inf")))
        | (F.abs(x) > F.lit(mag))
    )
    return (
        e.filter(F.col(id_col).isNotNull())
        .filter(F.col(vec_col).isNotNull())
        .filter(F.size(vec_col) == dim)
        .filter(F.size(F.filter(vec_col, bad)) == 0)
        .select(F.col(id_col).alias("vec_id"), q.alias("q"))
    )


def p08_kmeans_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p05's iterative-k-means shape with every bit of per-iteration
    state made EXACTLY replayable by a SQL engine (round-8 VERDICT task:
    give the rows-only iterative queries a hash-checkable companion):
    ``api.kmeans_trace(embeddings, "embedding", "vec_id", k=P08_K,
    iters=P08_ITERS, dim=DIM)``, whose default quantization constants
    are P08_SHIFT/P08_SCALE/P08_CLAMP. The trick is g01's fixed-point
    discipline: embeddings are quantized to BIGINT fixed-point once
    (:func:`quantize_fixed_point`); distances are integer squared
    euclidean; the centroid update is an element-wise integer division
    of non-negative sums — so partitioning, task order and retries
    cannot change a single bit, and the DuckDB oracle unrolls the same
    {I} iterations as plain bounded CTE algebra.

    Per iteration t (init = the first k quantized vectors by vec_id):
    assign each vector to argmin (d2, cluster); emit (step=t, cluster,
    n_members, ssd=Σd2); update each non-empty cluster's centroid to
    (Σq) div n (empty clusters keep their previous centroid). Output:
    the full {I}-step trace, k·{I} rows max. The loop itself is
    :func:`kmeans_trace_int`.

    Scale shape (p05's, proven): assignment + per-cluster partials are
    ONE fused mapInPandas pass emitting ≤ k rows per partition — the
    per-iteration shuffle is partitions × k rows regardless of N — and
    the k×{D} integer centroid matrix is the only driver round-trip.
    Integer partial sums are order-independent, so no stable-sort
    gymnastics are needed at combine time (the float version needs a
    deterministic accumulation order; the integer one provably doesn't).
    """
    from big_data_analytics_cse545_spark import api

    return api.kmeans_trace(
        load_table(spark, sf_dir, "embeddings"),
        "embedding",
        "vec_id",
        k=P08_K,
        iters=P08_ITERS,
        dim=DIM,
    )


def kmeans_trace_int(
    spark: SparkSession,
    quantized: DataFrame,
    *,
    k: int,
    iters: int,
) -> DataFrame:
    """The fixed-point Lloyd trace loop over a pre-quantized
    (vec_id, q: array<bigint>) relation — p08's kernel, reusable by
    ``api.kmeans_trace`` over arbitrary embedding DataFrames. All
    arithmetic is int64 (numpy scatter-adds, floor division of
    non-negative sums), so the returned (step, cluster, n_members,
    ssd) trace is bit-deterministic under any partitioning. The input
    MUST be non-negative BIGINT arrays of one fixed dimension with
    non-null unique vec_ids (:func:`quantize_fixed_point`'s postconditions)."""
    import numpy as np
    import pandas as pd

    e = quantized.persist()
    try:
        init = e.orderBy("vec_id").limit(k).collect()
        k_eff = len(init)
        if k_eff == 0:
            return spark.createDataFrame(
                [], "step long, cluster long, n_members long, ssd long"
            )
        cents = np.array([r["q"] for r in init], dtype=np.int64)
        dim = cents.shape[1]  # inferred — the kernel is dimension-agnostic

        def make_partials(c: np.ndarray):
            def partials(batches):
                sums = np.zeros((k_eff, dim), dtype=np.int64)
                cnts = np.zeros(k_eff, dtype=np.int64)
                ssd = np.zeros(k_eff, dtype=np.int64)
                for batch in batches:
                    x = np.array(
                        [list(v) for v in batch["q"]], dtype=np.int64
                    )
                    d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
                    a = d2.argmin(axis=1)  # first minimum → lowest cluster
                    cnts += np.bincount(a, minlength=k_eff)
                    # np.add.at, NOT bincount(weights=...): bincount
                    # casts weights to float64, exact only below 2^53 —
                    # int64 scatter-add keeps ssd bit-exact at any N
                    np.add.at(ssd, a, d2[np.arange(len(a)), a])
                    np.add.at(sums, a, x)
                nz = np.nonzero(cnts)[0]
                if len(nz) == 0:
                    return  # empty parquet split — see p05
                yield pd.DataFrame(
                    {
                        "cluster": nz.astype(np.int64),
                        "psum": [sums[c_].tolist() for c_ in nz],
                        "n": cnts[nz],
                        "ssd": ssd[nz],
                    }
                )

            return partials

        schema = "cluster long, psum array<long>, n long, ssd long"
        trace: list[tuple[int, int, int, int]] = []
        for it in range(1, iters + 1):
            parts = e.mapInPandas(make_partials(cents), schema=schema).collect()
            sums = np.zeros((k_eff, dim), dtype=np.int64)
            cnts = np.zeros(k_eff, dtype=np.int64)
            ssd = np.zeros(k_eff, dtype=np.int64)
            # integer addition commutes exactly — no ordering needed
            for r in parts:
                sums[r["cluster"]] += np.array(r["psum"], dtype=np.int64)
                cnts[r["cluster"]] += r["n"]
                ssd[r["cluster"]] += r["ssd"]
            for c_ in np.nonzero(cnts)[0]:
                trace.append((it, int(c_), int(cnts[c_]), int(ssd[c_])))
                if it < iters:
                    cents[c_] = sums[c_] // cnts[c_]  # non-negative → floor≡trunc
    finally:
        e.unpersist()
    return spark.createDataFrame(
        trace, "step long, cluster long, n_members long, ssd long"
    ).orderBy("step", "cluster")


p08_kmeans_trace.__doc__ = p08_kmeans_trace.__doc__.format(
    I=P08_ITERS, D=DIM
)
# definition-site opt-out for tools/plan_audit.py (the Lloyd loop runs
# EAGERLY while fn() builds — p05's rationale, pinned by the marker
# contract test in tests/test_entry_contract.py)
p08_kmeans_trace.__eager_loop__ = (
    f"p08 docstring: {P08_ITERS} fused assignment+partial passes over "
    "the persisted quantized relation, k-row collect each"
)


def _p08_sql() -> str:
    """Unrolled fixed-point Lloyd trace in long format: ex is the
    quantized (vec_id, dim, v) relation; per iteration t, d{t} is the
    vec×cluster distance table, a{t} the argmin assignment (ties →
    lowest cluster, matching numpy argmin's first-minimum), s{t} the
    emitted trace rows, u{t}/c{t} the integer centroid update with
    empty-cluster carry-forward."""
    # the inner CAST TO DOUBLE is load-bearing: DuckDB types the literal
    # 2.0 as DECIMAL(2,1) and computes FLOAT + DECIMAL in FLOAT32, whose
    # rounding flips ~1/1000 floors vs the float64 arithmetic Spark does
    # (caught by the parity check on first run)
    q = (
        f"LEAST(GREATEST(CAST(floor((CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE)"
        f" + {P08_SHIFT}) * {P08_SCALE}) AS BIGINT), 0), {P08_CLAMP})"
    )
    parts = [
        f"""WITH ex AS (
  SELECT vec_id, t.i AS dim, {q} AS v
  FROM embeddings
  CROSS JOIN range(1, {DIM + 1}) t(i)
  WHERE vec_id IS NOT NULL
    AND embedding IS NOT NULL AND len(embedding) = {DIM}
    AND len(list_filter(embedding,
          x -> x IS NULL OR isnan(x) OR isinf(x)
               OR abs(x) > {int64_safe_bound(P08_SHIFT, P08_SCALE)!r})) = 0
),
init AS (
  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster
  FROM (SELECT DISTINCT vec_id FROM ex ORDER BY vec_id LIMIT {P08_K})
),
c0 AS (
  SELECT i.cluster, e.dim, e.v FROM init i JOIN ex e USING (vec_id)
)"""
    ]
    for t in range(1, P08_ITERS + 1):
        parts.append(
            f""",
d{t} AS (
  SELECT e.vec_id, c.cluster,
         CAST(SUM((e.v - c.v) * (e.v - c.v)) AS BIGINT) AS d2
  FROM ex e JOIN c{t - 1} c USING (dim)
  GROUP BY e.vec_id, c.cluster
),
a{t} AS (
  SELECT vec_id, cluster, d2 FROM (
    SELECT vec_id, cluster, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rk
    FROM d{t}
  ) WHERE rk = 1
),
s{t} AS (
  SELECT CAST({t} AS BIGINT) AS step, CAST(cluster AS BIGINT) AS cluster,
         CAST(COUNT(*) AS BIGINT) AS n_members, CAST(SUM(d2) AS BIGINT) AS ssd
  FROM a{t} GROUP BY cluster
)"""
        )
        if t < P08_ITERS:
            parts.append(
                f""",
u{t} AS (
  SELECT a.cluster, e.dim, CAST(SUM(e.v) // COUNT(*) AS BIGINT) AS v
  FROM a{t} a JOIN ex e USING (vec_id)
  GROUP BY a.cluster, e.dim
),
c{t} AS (
  SELECT * FROM u{t}
  UNION ALL
  SELECT * FROM c{t - 1}
  WHERE cluster NOT IN (SELECT DISTINCT cluster FROM u{t})
)"""
            )
    union = " UNION ALL ".join(
        f"SELECT * FROM s{t}" for t in range(1, P08_ITERS + 1)
    )
    parts.append(
        f"\nSELECT step, cluster, n_members, ssd FROM ({union})"
        "\nORDER BY step, cluster"
    )
    return "".join(parts)


# opt-in at definition site: tools/plan_audit.py must NOT execute this
# query (the Lloyd loop collects per-iteration partials EAGERLY while
# fn() builds; the returned LocalTableScan would audit as a false
# "0 exchanges" row) — r8 ADVICE
p05_kmeans_iterative.__eager_loop__ = (
    "p05 docstring: 1 scan/iteration over the persisted table"
)


# ---------------------------------------------------------------------------
# p06 — scalar (int8) embedding quantization
# ---------------------------------------------------------------------------

SQ_SAMPLE_MOD = 50  # emit codes for vec_id % 50 == 0 → result-sized at any SF
SQ_LEVELS = 255.0


def p06_scalar_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension min/max scalar quantization to uint8 codes — the
    embedding-compression step of a vector-search pipeline (4 bytes →
    1 byte per dim, the standard IVF/SQ storage layout): corpus pass
    computes per-dim [min, max]; each value maps to
    floor((v-min)·255/(max-min)) capped at 255, and the per-element
    reconstruction error is reported alongside.

    Output is the code+error table for a deterministic vec_id sample
    (result-sized at any SF); the quantizer itself is fitted on the FULL
    corpus.

    Float-parity: every step (sub, mul, div, floor, abs) is a single
    correctly-rounded IEEE op with identical association in the oracle
    SQL — bit-exact across engines, no rounding fudge.

    Shape at scale: fitting is one posexplode + 64-key agg (partial
    agg map-side, one tiny shuffle); encoding is a broadcast join of
    the 64-row stats table against the corpus — no wide shuffle of
    embeddings. Constant-range dims are dropped (not zero-divided)
    on both sides.
    """
    # explicit null policy (posexplode already drops null arrays; the
    # oracle's CROSS JOIN range would not — both sides now state it)
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    dims = e.select("vec_id", F.posexplode("embedding").alias("pos", "v")).select(
        "vec_id",
        F.col("pos").cast("bigint").alias("pos"),
        F.col("v").cast("double").alias("v"),
    )
    stats = (
        dims.groupBy("pos")
        .agg(F.min("v").alias("min_v"), F.max("v").alias("max_v"))
        .filter(F.col("max_v") > F.col("min_v"))
    )
    rng = F.col("max_v") - F.col("min_v")
    code = F.least(
        F.floor((F.col("v") - F.col("min_v")) * F.lit(SQ_LEVELS) / rng).cast("long"),
        F.lit(255),
    )
    return (
        dims.filter(F.col("vec_id") % SQ_SAMPLE_MOD == 0)
        .join(F.broadcast(stats), "pos")
        .withColumn("code", code)
        .withColumn(
            "err",
            F.abs(
                F.col("v")
                - (F.col("min_v") + F.col("code").cast("double") * rng / F.lit(SQ_LEVELS))
            ),
        )
        .select("vec_id", "pos", "code", "err")
        .orderBy("vec_id", "pos")
    )


_P06_SQL = f"""
WITH dims AS (
  SELECT vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings CROSS JOIN range(1, {DIM} + 1) t(i)
  WHERE embedding IS NOT NULL
),
stats AS (
  SELECT pos, MIN(v) AS min_v, MAX(v) AS max_v
  FROM dims GROUP BY pos
  HAVING MAX(v) > MIN(v)
),
coded AS (
  SELECT d.vec_id, d.pos, d.v, s.min_v, s.max_v,
         least(CAST(floor((d.v - s.min_v) * {SQ_LEVELS} / (s.max_v - s.min_v))
                    AS BIGINT), 255) AS code
  FROM dims d JOIN stats s USING (pos)
  WHERE d.vec_id % {SQ_SAMPLE_MOD} = 0
)
SELECT vec_id, pos, code,
       abs(v - (min_v + CAST(code AS DOUBLE) * (max_v - min_v) / {SQ_LEVELS})) AS err
FROM coded
ORDER BY vec_id, pos
"""


# ---------------------------------------------------------------------------
# p07 — product quantization: train codebooks, encode corpus, ADC top-k
# ---------------------------------------------------------------------------

PQ_M = 16        # subspaces (r4: 8 → 16; recall@3 0.8 → 1.0 at sf0.01)
PQ_DSUB = DIM // PQ_M
PQ_K = 16        # centroids per subspace → 16×4-bit codes per vector
PQ_TRAIN_CAP = 2048  # absolute training-sample cap (model-sized, not data-sized)
PQ_ITERS = 10
PQ_TOPK = 3
# ADC shortlist size fed to the exact rerank, per (query, corpus-block).
# THE recall knob when many corpus rows encode near-identically (tight
# clusters at 8-byte codes): ADC ties make the shortlist cut arbitrary,
# so recall ≈ P(true top-k inside a RERANK-deep slice of the tied set) —
# raising RERANK buys recall with no re-encoding. A fixed module
# constant (round-5 ADVICE: the former import-time env read meant a
# leftover SPARK_GRAFT_PQ_RERANK silently changed driver-checked
# output); sweeps pass ``rerank=`` explicitly (tools/scale_ann.py).
PQ_RERANK = 64
# Query rows per cogroup block — bounds per-task query memory (the
# block's float matrix + its M×K ADC tables) to a constant regardless
# of corpus size; the number of query blocks scales as ceil(nq / this).
PQ_QUERIES_PER_BLOCK = 1024
# Corpus blocks for the distributed regime's cogroup, and the sub-block
# count for the in-kernel hash-spread shortlist. The cogroup block
# COUNT scales with the corpus (ceil(N / PQ_CORPUS_ROWS_PER_BLOCK),
# floored at this) so a cell's pandas materialization stays bounded;
# 32 is also the fixed sub-block fan-out of the shortlist cut.
PQ_CORPUS_BLOCKS = 32
# Max corpus rows per cogroup cell (~70 MB of 64-dim float64 + ids per
# cell). Bounds what applyInPandas materializes per task; the ADC
# matrix is bounded separately by PQ_KERNEL_CHUNK.
PQ_CORPUS_ROWS_PER_BLOCK = 262_144
# Corpus rows scored per kernel invocation inside a cell — bounds the
# nq_block × chunk ADC matrix (1024 × 8192 doubles ≈ 64 MB) no matter
# how large the cell is; the window merge makes per-chunk top-k safe.
PQ_KERNEL_CHUNK = 8192


def _pq_train(train, n_sub=PQ_M, n_cent=PQ_K, iters=PQ_ITERS):
    """Seeded Lloyd per subspace on the capped training sample (numpy,
    driver-side): init = first ``n_cent`` subvectors in hash-sample
    order, ``iters`` iterations, empty clusters keep their previous
    centroid. Deterministic: fixed input order, fixed iteration count,
    no RNG."""
    import numpy as np

    dsub = train.shape[1] // n_sub
    # fewer training rows than centroids (tiny corpus / tail partition):
    # clamp — every downstream consumer reads the centroid count from
    # the codebook shape, and codes stay in range by construction
    n_cent = min(n_cent, len(train))
    codebooks = np.zeros((n_sub, n_cent, dsub))
    for m in range(n_sub):
        x = train[:, m * dsub:(m + 1) * dsub]
        cents = x[:n_cent].copy()
        for _ in range(iters):
            d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            for c in range(n_cent):
                mask = a == c
                if mask.any():
                    cents[c] = x[mask].mean(axis=0)
        codebooks[m] = cents
    return codebooks


# Fibonacci-multiplicative mix constant for the hash-spread sub-block
# id (golden-ratio multiplier): spreads ANY id pattern (contiguous
# cluster ids, stride-aligned ids) uniformly.
PQ_BLK_MIX = 0x9E3779B97F4A7C15


def _pq_blk_of(nids):
    """Sub-block id per corpus id — a pure function of the id. Shortlist
    kernels EMIT it with each candidate so the global cut can partition
    on it without re-deriving the hash in SQL (the wrapping uint64
    multiply is not ANSI-expressible — Spark 4's ANSI mode throws on
    long overflow)."""
    import numpy as np

    return (
        (nids.astype(np.uint64) * np.uint64(PQ_BLK_MIX)) >> np.uint64(52)
    ) % np.uint64(PQ_CORPUS_BLOCKS)


def _pq_encode(x, cbs):
    """Nearest-centroid PQ codes (rows × n_sub ints) for a float
    matrix — the one encode used by kernels and the codes relation."""
    import numpy as np

    n_sub, _, dsub = cbs.shape
    return np.stack(
        [
            ((x[:, m * dsub:(m + 1) * dsub][:, None, :]
              - cbs[m][None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
            for m in range(n_sub)
        ],
        axis=1,
    )


def _pq_shortlist(dtab, qids, nids, codes, rerank, exclude_self):
    """ADC-score every (query, row) with M table lookups and apply the
    hash-spread tie-inclusive shortlist cut; returns (adc, keep_mask).

    The shortlist is taken per (query, ID-HASH SUB-BLOCK) — rows are
    mixed into PQ_CORPUS_BLOCKS sub-blocks by a multiplicative hash of
    their vec_id and the ``rerank``-deep tie-inclusive cut applies
    WITHIN each sub-block. This is the measured fix for
    clustered-corpus recall (SCALE.md ANN table): a tight cluster's
    near-identical ADC distances monopolize any single depth-r pool
    (round-5's per-batch cut scored 0.46 recall@3 at 10× clustered),
    but hash-spreading the pool means each sub-block holds only
    ~cluster/BLOCKS of the tied mass, so the true neighbors survive the
    cut — recall 1.0 at the same rerank, and the exact-rerank cost is
    still ≤ BLOCKS·rerank (+ADC ties) rows per query per task. The cut
    is a pure function of (vec_id, score): candidates never depend on
    row order within the task."""
    import numpy as np

    adc = np.zeros((len(qids), len(nids)))
    for m in range(codes.shape[1]):
        adc += dtab[:, m, :][:, codes[:, m]]
    if exclude_self:
        adc[qids[:, None] == nids[None, :]] = np.inf
    blk = _pq_blk_of(nids)
    keep_mask = np.zeros_like(adc, dtype=bool)
    for b in np.unique(blk):
        cols = np.nonzero(blk == b)[0]
        r_b = min(rerank, len(cols))
        sub = adc[:, cols]
        th = np.partition(sub, r_b - 1, axis=1)[:, r_b - 1 : r_b]
        keep_mask[:, cols] = sub <= th  # tie-inclusive, order-free
    keep_mask &= np.isfinite(adc)
    return adc, keep_mask, blk


def _pq_adc_topk_kernel(
    cbs, qids, qmat, dtab, nids, x, rerank, topk=PQ_TOPK, exclude_self=True
):
    """Shared per-task PQ kernel (float-corpus form): encode the corpus
    slice ``x`` against the broadcast codebooks, shortlist via
    :func:`_pq_shortlist`, exact-rerank only the shortlist in float64,
    and return the per-task top-``topk`` (query_id, neighbor_id, d2)
    triples with ties broken by neighbor_id."""
    import numpy as np

    codes = _pq_encode(x, cbs)
    adc, keep_mask, _ = _pq_shortlist(dtab, qids, nids, codes, rerank, exclude_self)
    out_q, out_n, out_d = [], [], []
    for qi in range(len(qids)):
        keep = np.nonzero(keep_mask[qi])[0]
        if not len(keep):
            continue
        # exact d² only on the shortlist
        d2 = ((x[keep] - qmat[qi]) ** 2).sum(axis=1)
        order = np.lexsort((nids[keep], d2))[:topk]
        sel = keep[order]
        out_q.append(np.full(len(sel), qids[qi], dtype=np.int64))
        out_n.append(nids[sel])
        out_d.append(d2[order])
    if not out_q:
        return None
    return (
        np.concatenate(out_q),
        np.concatenate(out_n),
        np.concatenate(out_d),
    )


def _pq_dtab(qmat, cbs):
    """Per-query ADC lookup tables: dtab[q, m, k] = ||q_m − c_{m,k}||²."""
    import numpy as np

    n_sub, _, dsub = cbs.shape
    return np.stack(
        [
            ((qmat[:, m * dsub:(m + 1) * dsub][:, None, :]
              - cbs[m][None, :, :]) ** 2).sum(axis=2)
            for m in range(n_sub)
        ],
        axis=1,
    )


def _pq_adc_codes_kernel(
    dtab, qids, nids, codes, rerank, *, topk=None, exclude_self=True
):
    """Codes-relation variant of :func:`_pq_adc_topk_kernel` for
    pre-encoded indexes (api.pq_index / pq_search): the corpus slice
    arrives as PQ CODES, so the kernel never touches floats — it
    ADC-scores via table lookups and applies the same hash-spread
    tie-inclusive shortlist cut.

    ``topk=None`` returns the whole shortlist as (q_id, n_id, adc, blk)
    quadruples — blk is the candidate's hash sub-block, emitted so the
    downstream global cut (:func:`_pq_global_cut`) can partition on it
    without re-deriving the non-ANSI hash in SQL; ``topk=k`` returns
    the per-task ADC top-k (q_id, n_id, adc) directly (compressed-only
    ranking — the global ADC top-k is always inside the shortlist
    because every globally-top row is top-k within its own
    sub-block)."""
    import numpy as np

    adc, keep_mask, blk = _pq_shortlist(
        dtab, qids, nids, codes, rerank, exclude_self
    )
    out_q, out_n, out_d, out_b = [], [], [], []
    for qi in range(len(qids)):
        keep = np.nonzero(keep_mask[qi])[0]
        if not len(keep):
            continue
        if topk is not None:
            order = np.lexsort((nids[keep], adc[qi, keep]))[:topk]
            keep = keep[order]
        out_q.append(np.full(len(keep), qids[qi], dtype=np.int64))
        out_n.append(nids[keep])
        out_d.append(adc[qi, keep])
        if topk is None:  # blk rides only in shortlist mode
            out_b.append(blk[keep].astype(np.int32))
    if not out_q:
        return None
    res = (
        np.concatenate(out_q),
        np.concatenate(out_n),
        np.concatenate(out_d),
    )
    return res if topk is not None else res + (np.concatenate(out_b),)


def _pq_pool_cut(pdf, rerank):
    """Tie-inclusive ``rerank``-deep ADC cut per (q_id, blk) on a
    pandas candidate pool — the kernels' own cut re-applied across a
    task's accumulated chunk/batch outputs BEFORE anything shuffles.
    Provably output-identical: the cut is monotone under partition
    refinement (a row inside the global top-rerank of its (q, blk)
    pool is inside the top-rerank of every sub-pool containing it), so
    pre-cutting per task never drops a row the downstream global cut
    would keep. Without it, every corpus chunk contributed its own
    32·rerank rows per query to the window shuffle — corpus-
    proportional candidate volume per query (round-6 review)."""
    if not len(pdf):
        return pdf
    # vectorized (cythonized groupby transforms only — a per-group
    # Python lambda was 2× the wall at small block sizes): sort within
    # (q_id, blk) by adc, locate each group's rerank-th value, keep
    # everything ≤ it (tie-inclusive)
    pdf = pdf.sort_values(["q_id", "blk", "adc"], kind="mergesort",
                          ignore_index=True)
    g = pdf.groupby(["q_id", "blk"], sort=False)
    pos = g.cumcount()
    cut_pos = g["adc"].transform("size").clip(upper=rerank) - 1
    th = pdf["adc"].where(pos == cut_pos)
    th = th.groupby([pdf["q_id"], pdf["blk"]], sort=False).transform("max")
    return pdf[pdf["adc"] <= th]


def _pq_cell_fn(
    make_kernel, parse_corpus, cols, dtypes,
    chunk=PQ_KERNEL_CHUNK, id_col="n_id", pool_rerank=None,
):
    """Wrap a per-chunk numpy kernel into an applyInPandas cell
    function: empty-frame safe, BOTH sides processed in bounded slices
    so per-KERNEL working memory never depends on cell size — the
    corpus in ``chunk``-row slices and the queries in
    PQ_QUERIES_PER_BLOCK-row slices (a hot cell would otherwise build
    an unbounded nq_cell × chunk ADC matrix; round-6 review). NOTE the
    honest bound (round-6 review #2): applyInPandas materializes the
    whole cogroup cell as pandas frames BEFORE this function slices
    anything, so cell-size itself must be bounded by the CALLER's
    keying — the grid path caps cells via PQ_CORPUS_ROWS_PER_BLOCK and
    ivf_pq_join sub-shards oversized KMeans cells. Per-slice output is
    safe: each query's candidates depend only on (query, corpus slice),
    and the global window merge selects across slices exactly as it
    selects across cells. ``pool_rerank`` (shortlist-mode callers):
    apply :func:`_pq_pool_cut` to the cell's accumulated output so the
    task emits ≤ 32·rerank + ties rows per query, not per chunk.

    ``make_kernel(qslice_pdf) -> run(nids, corpus_arr)`` hoists the
    per-slice query prep (id/float extraction, ADC table build) out of
    the chunk loop, and ``parse_corpus(chunk_pdf) -> (nids, arr)`` is
    called ONCE per corpus chunk with the query slices iterating inside
    — without the split a cell with S query slices re-parsed every
    corpus row S times and rebuilt every ADC table once per chunk
    (round-6 review).

    The corpus is sorted by ``id_col`` before slicing: a cogrouped
    cell's row order comes from shuffle fetch order, which is NOT
    deterministic on a multi-executor cluster, and the shortlist cut
    applies per chunk — sorting makes chunk membership (hence the
    candidate set) a pure function of the data (round-6 review)."""
    import pandas as pd

    def cell(qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({c: [] for c in cols}).astype(dtypes)
        if not len(qpdf) or not len(cpdf):
            return empty
        cpdf = cpdf.sort_values(id_col, kind="mergesort", ignore_index=True)
        runs = [
            make_kernel(qpdf.iloc[qs:qs + PQ_QUERIES_PER_BLOCK])
            for qs in range(0, len(qpdf), PQ_QUERIES_PER_BLOCK)
        ]
        outs = []
        for s in range(0, len(cpdf), chunk):
            nids, arr = parse_corpus(cpdf.iloc[s:s + chunk])
            for run in runs:
                res = run(nids, arr)
                if res is not None:
                    outs.append(pd.DataFrame(dict(zip(cols, res))))
        if not outs:
            return empty
        merged = pd.concat(outs, ignore_index=True)
        if pool_rerank is not None:
            merged = _pq_pool_cut(merged, pool_rerank)
        return merged

    return cell


def _pq_parse_codes(cpdf):
    """parse_corpus for codes relations: (n_id, codes) → numpy once per
    chunk."""
    import numpy as np

    return (
        cpdf["n_id"].to_numpy(),
        np.array([list(v) for v in cpdf["codes"]], dtype=np.int64),
    )


def _pq_parse_floats(cpdf):
    """parse_corpus for float relations: (n_id, n_emb) → numpy once per
    chunk."""
    import numpy as np

    return (
        cpdf["n_id"].to_numpy(),
        np.array([list(v) for v in cpdf["n_emb"]], dtype=np.float64),
    )


def _pq_grid_cogroup(
    q_df: DataFrame,
    c_df: DataFrame,
    nq: int,
    n_corpus: int,
    cell_fn,
    out_schema: str,
) -> DataFrame:
    """The distributed-regime shard shared by pq_topk_join /
    api.pq_search / api.ivf-style callers: queries hash-block into
    NQB = ⌈nq/PQ_QUERIES_PER_BLOCK⌉ blocks (bounded per-task query
    memory) and the corpus into
    NCB = max(PQ_CORPUS_BLOCKS, ⌈N/PQ_CORPUS_ROWS_PER_BLOCK⌉) blocks
    (bounded per-cell pandas materialization — NCB grows WITH the
    corpus, so cell size never does), replicated across a broadcast
    NQB×NCB grid (fresh per side, the d05 precedent that keeps cogroup
    clear of the ambiguous-self-join check) and cogrouped on (qb, cb).
    ``q_df`` must carry ``q_id`` and ``c_df`` ``n_id``; payload columns
    ride along untouched."""
    spark = q_df.sparkSession
    nqb = max(1, -(-nq // PQ_QUERIES_PER_BLOCK))
    ncb = max(PQ_CORPUS_BLOCKS, -(-n_corpus // PQ_CORPUS_ROWS_PER_BLOCK))

    def gridded(df: DataFrame, blk_col: str, n_blocks: int, key: str) -> DataFrame:
        grid = spark.createDataFrame(
            [(i, j) for i in range(nqb) for j in range(ncb)], "qb int, cb int"
        )
        return (
            df.withColumn("_blk", F.pmod(F.hash(F.col(blk_col)), F.lit(n_blocks)))
            .join(F.broadcast(grid), F.col("_blk") == F.col(key))
            .drop("_blk")
        )

    return (
        gridded(q_df, "q_id", nqb, "qb")
        .groupBy("qb", "cb")
        .cogroup(gridded(c_df, "n_id", ncb, "cb").groupBy("qb", "cb"))
        .applyInPandas(cell_fn, schema=out_schema)
    )


def _pq_fit(corpus: DataFrame, *, n_sub: int, n_centroids: int,
            train_cap: int, caller: str):
    """Shared codebook fit (pq_topk_join / ivf_pq_join / pq_index):
    collect the capped hash-ordered training sample (first-N ids are
    catastrophically biased on id-clustered corpora, SCALE.md), guard
    the geometry, and run seeded Lloyd. ``corpus`` must already carry
    (n_id, n_emb). Returns (codebooks, n_train) — or (None, 0) on an
    empty corpus, which each caller maps to its own empty/raise
    contract."""
    import numpy as np

    if not 0 < n_centroids <= 32767:
        # the codes relation stores int16 sub-codes; a larger codebook
        # would silently wrap to negative codes that still index the
        # ADC tables (numpy negative indexing) — wrong neighbors with
        # no error anywhere (round-6 review)
        raise ValueError(
            f"{caller}: n_centroids {n_centroids} outside 1..32767 "
            "(codes encode as int16)"
        )
    train_rows = (
        corpus.orderBy(F.md5(F.col("n_id").cast("string")), "n_id")
        .limit(train_cap)
        .collect()
    )
    if not train_rows:
        return None, 0
    train = np.array([r["n_emb"] for r in train_rows], dtype=np.float64)
    if train.shape[1] % n_sub:
        raise ValueError(
            f"{caller}: embedding dim {train.shape[1]} not divisible "
            f"by n_sub {n_sub}"
        )
    return _pq_train(train, n_sub=n_sub, n_cent=n_centroids), len(train_rows)


def _pq_encode_df(corpus: DataFrame, codebooks, bc=None) -> DataFrame:
    """Encode (n_id, n_emb) → (n_id, codes array<smallint>) in ONE
    narrow Arrow pass with the model-sized codebooks broadcast — the
    encode-once relation shared by api.pq_index and pq_topk_join's
    distributed regime (the grid then replicates ~24 B/row codes, never
    corpus floats). Pass ``bc`` to reuse a caller-held broadcast of the
    same codebooks instead of shipping a duplicate."""
    import numpy as np
    import pandas as pd

    if bc is None:
        bc = corpus.sparkSession.sparkContext.broadcast(codebooks)

    def encode(batches):
        cbs = bc.value
        for batch in batches:
            if not len(batch):
                continue
            x = np.array([list(v) for v in batch["n_emb"]], dtype=np.float64)
            yield pd.DataFrame(
                {
                    "n_id": batch["n_id"].to_numpy(),
                    "codes": list(_pq_encode(x, cbs).astype(np.int16)),
                }
            )

    return corpus.mapInPandas(encode, schema="n_id long, codes array<smallint>")


def _pq_global_cut(candidates: DataFrame, rerank: int) -> DataFrame:
    """Tie-inclusive global shortlist cut over (q_id, neighbor_id, adc,
    blk) candidates: within each (query, id-hash sub-block) keep the
    ``rerank``-deep ADC prefix, ties at the boundary included (F.rank).
    This is the kernels' own cut re-applied ACROSS tasks — without it
    the union of per-task shortlists grows with the number of tasks
    (~32·rerank per query PER corpus chunk), and the exact-rerank join
    downstream touches a corpus-proportional relation (round-6 review).
    After the cut the join input is ≤ PQ_CORPUS_BLOCKS·rerank + ADC
    ties per query — the single-task pool depth the SCALE.md recall
    numbers were measured at — so at fixture scale the cut keeps
    everything and recall gates are unchanged. ``blk`` is the kernel-
    emitted sub-block id (:func:`_pq_blk_of`), consumed here."""
    w = Window.partitionBy("q_id", "blk").orderBy("adc")
    return (
        candidates.withColumn("_r", F.rank().over(w))
        .filter(F.col("_r") <= rerank)
        .drop("_r", "blk")
    )


def _pq_rank_tail(scored: DataFrame, k: int, dcol: str = "d2") -> DataFrame:
    """Global merge shared by every PQ entry point: per-task candidates
    → window top-k per query (two-phase exact-top-k, x05), distances
    rounded to 4 decimals, ties broken by neighbor_id."""
    # asc_nulls_last: a NULL distance (a corpus row whose embedding
    # carries a NULL element, or a dim mismatch NULL-padded by zip_with)
    # must never outrank a real neighbor — Spark's default NULLS FIRST
    # would return it as rk=1 (round-6 review)
    w = Window.partitionBy("q_id").orderBy(
        F.asc_nulls_last(dcol), "neighbor_id"
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "q_id",
            "neighbor_id",
            F.col("rk").cast("long").alias("rk"),
            F.round(dcol, 4).alias(dcol),
        )
    )


def _pq_exact_rerank(
    candidates: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    rerank: int,
    dcol: str = "d2",
) -> DataFrame:
    """Exact float64 rerank of an ADC shortlist, JVM-side: global
    tie-inclusive cut (:func:`_pq_global_cut`), then the surviving
    (q_id, neighbor_id) pairs join back to the float relations and d²
    is computed in codegen'd zip_with/aggregate — scan cost stays on
    the codes, float reads are shortlist-sized."""
    d2 = F.aggregate(
        F.zip_with(
            "q_emb",
            "n_emb",
            lambda a, b: (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        _pq_global_cut(candidates, rerank)
        .select("q_id", "neighbor_id")
        .join(queries.select("q_id", "q_emb"), "q_id")
        .join(
            corpus.select(F.col("n_id").alias("neighbor_id"), "n_emb"),
            "neighbor_id",
        )
        .select("q_id", "neighbor_id", d2.alias(dcol))
    )
    return _pq_rank_tail(scored, k, dcol)


def p07_pq_ann(
    spark: SparkSession, sf_dir: str, *, rerank: int = PQ_RERANK
) -> DataFrame:
    """Product-quantization ANN — the memory-bound scale path of vector
    search (IVF-PQ's PQ half): train per-subspace codebooks, encode every
    vector as PQ_M 4-bit codes (64 float32 dims → 8 bytes at M=16, 32×
    compression), then answer top-k by ADC (asymmetric distance
    computation) — each query builds an M×K lookup table once and scores
    a corpus row with M table lookups instead of a 64-dim float kernel.

    Round-6 rewrite (VERDICT r5 finding #1): no driver materialization
    grows with the corpus. Training reads a capped deterministic sample
    (PQ_TRAIN_CAP hash-ordered vec_ids — the hash-spreading matters on
    id-clustered corpora, SCALE.md ANN table); the query set is probed
    with ``limit(CAP+1)`` and then handled by ONE of two regimes — the
    same small-side/large-side fork as Spark's own broadcast-vs-shuffle
    join threshold:

    * **bounded queries (nq ≤ PQ_QUERIES_PER_BLOCK)** — the probe
      already holds the full query set, an explicitly CAPPED collect
      (≤1024 rows regardless of corpus size). Queries + their ADC
      tables broadcast (≤ ~3 MB) and the corpus is answered in one
      narrow Arrow pass: per-batch ADC scan → tie-inclusive shortlist →
      local exact rerank → per-task top-k. Zero corpus shuffle.
    * **corpus-proportional queries** — the query relation never leaves
      the cluster: the corpus is encoded ONCE into an 8-byte codes
      relation (the api.pq_index shape), queries hash-block into
      NQB = ⌈nq/1024⌉ blocks and cogroup with the CODES across a
      broadcast NQB×PQ_CORPUS_BLOCKS grid (the d05
      ``blocked_cosine_pairs`` shard) — the grid replicates ~24 B/row
      codes, never corpus floats, and nothing re-encodes per query
      block. Each cell emits its ADC shortlist; a global tie-inclusive
      cut bounds it to ~32·rerank rows per query, and the exact float64
      rerank is a shortlist-sized JVM join back to the float relations.
      The only driver values are the probe and two ``count()`` scalars.
      An exact scan with corpus-proportional queries is inherently
      O(nq·N) lookups — for sublinear answering use the IVF path (s03,
      api.ann_join); this regime exists so the exact scan distributes
      instead of dying on the driver.

    Both regimes share the shortlist semantics: the cut keeps every ADC
    tie of the r-th candidate per id-hash sub-block (a pure function of
    (vec_id, score) — never of row order within a task, unlike the
    round-5 per-batch argsort cut, which cost clustered-corpus recall:
    0.46 → 1.0 at rerank 64, SCALE.md), exact float64 rerank touches
    only the shortlist, and a final window merges per-task top-k
    (two-phase exact-top-k, x05). Each regime is individually
    deterministic and meets the recall gate; like any shortlist-based
    ANN, results can differ BETWEEN regimes where a true neighbor sits
    beyond one regime's effective pool depth (the bounded regime pools
    per Arrow batch; the distributed regime pools globally after the
    tie-inclusive cut).

    No oracle (k-means training is not SQL-expressible); invariants —
    code range, rank monotonicity, determinism, recall vs exact —
    pinned in tests/test_projection.py.
    """
    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())  # null vectors: unencodable
        .select("vec_id", "embedding")
    )
    queries = e.filter(F.col("vec_id") % QUERY_MOD == 0)
    return (
        pq_topk_join(
            queries,
            e,
            id_col="vec_id",
            emb_col="embedding",
            k=PQ_TOPK,
            rerank=rerank,
        )
        .select(
            F.col("q_id").alias("query_id"),
            F.col("rk").alias("rank"),
            "neighbor_id",
            "d2",
        )
        .orderBy("query_id", "rank")
    )


def pq_topk_join(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str,
    emb_col: str,
    k: int = PQ_TOPK,
    n_sub: int = PQ_M,
    n_centroids: int = PQ_K,
    rerank: int = PQ_RERANK,
    train_cap: int = PQ_TRAIN_CAP,
    exclude_self: bool = True,
) -> DataFrame:
    """Generic product-quantization top-k join (the p07 machinery over
    arbitrary DataFrames): train per-subspace codebooks on a capped
    hash-ordered corpus sample, then answer euclidean top-k for every
    query row via ADC scan + hash-spread tie-inclusive shortlist +
    exact float64 rerank, under the two-regime execution described in
    :func:`p07_pq_ann` (bounded-query broadcast scan / query-block ×
    corpus-block cogroup). Returns (q_id long, neighbor_id long,
    rk long, d2 double), d2 rounded to 4 decimals, unordered.

    Requirements: integer ids, fixed-width float vectors whose
    dimensionality is divisible by ``n_sub``; null embeddings are
    excluded on both sides. ``exclude_self`` drops pairs whose ids are
    equal (queries drawn from the corpus)."""
    import numpy as np
    import pandas as pd

    # the shortlist must be at least k deep per pool, or true top-k
    # members silently fall off before the exact rerank
    rerank = max(rerank, k)
    spark = corpus.sparkSession
    corpus = corpus.filter(F.col(emb_col).isNotNull()).select(
        F.col(id_col).alias("n_id"), F.col(emb_col).alias("n_emb")
    )
    queries = queries.filter(F.col(emb_col).isNotNull()).select(
        F.col(id_col).alias("q_id"), F.col(emb_col).alias("q_emb")
    )
    out_schema = "q_id long, neighbor_id long, rk long, d2 double"
    codebooks, _ = _pq_fit(
        corpus, n_sub=n_sub, n_centroids=n_centroids,
        train_cap=train_cap, caller="pq_topk_join",
    )
    if codebooks is None:
        return spark.createDataFrame([], out_schema)

    # One bounded probe decides the regime AND (when small) delivers the
    # query rows — never an unguarded corpus-proportional collect.
    probe = queries.limit(PQ_QUERIES_PER_BLOCK + 1).collect()
    if not probe:
        return spark.createDataFrame([], out_schema)

    cand_schema = "q_id long, neighbor_id long, d2 double"
    cols = ["q_id", "neighbor_id", "d2"]
    if len(probe) <= PQ_QUERIES_PER_BLOCK:
        # ---- bounded-query regime: one narrow Arrow pass, no shuffle
        q_ids = np.array([r["q_id"] for r in probe])
        q_mat = np.array([r["q_emb"] for r in probe], dtype=np.float64)
        bc = spark.sparkContext.broadcast(
            (codebooks, q_ids, _pq_dtab(q_mat, codebooks), q_mat)
        )

        def scan(batches):
            cbs, qids, dtab, qmat = bc.value
            for batch in batches:
                if not len(batch):
                    continue
                nids = batch["n_id"].to_numpy()
                x = np.array([list(v) for v in batch["n_emb"]], dtype=np.float64)
                res = _pq_adc_topk_kernel(
                    cbs, qids, qmat, dtab, nids, x, rerank,
                    topk=k, exclude_self=exclude_self,
                )
                if res is not None:
                    yield pd.DataFrame(dict(zip(cols, res)))

        candidates = corpus.mapInPandas(scan, schema=cand_schema)
        # global merge: per-task top-k → window top-k (shuffle carries
        # ≤ tasks × queries × k rows, never the corpus)
        return _pq_rank_tail(candidates, k)

    # ---- distributed regime: encode ONCE to a codes relation (the
    # pq_index shape), grid-cogroup the ~24 B/row CODES with query
    # blocks, then global tie-inclusive ADC cut + JVM exact rerank.
    # Corpus floats never replicate across the grid — the previous
    # shape cogrouped floats directly, which shipped them ×NQB and
    # re-encoded every corpus block once per query block (round-6
    # review); now floats are touched exactly twice: one narrow encode
    # pass and the final shortlist-sized rerank join. (Two extra scans
    # — nq and N counts — only in this rare regime; the common bounded
    # path pays exactly one probe job.)
    bc = spark.sparkContext.broadcast(codebooks)
    codes_df = _pq_encode_df(corpus, codebooks, bc=bc)

    def make_kernel(qpdf: pd.DataFrame):
        cbs = bc.value
        qids = qpdf["q_id"].to_numpy()
        qmat = np.array([list(v) for v in qpdf["q_emb"]], dtype=np.float64)
        dtab = _pq_dtab(qmat, cbs)

        def run(nids, c):
            return _pq_adc_codes_kernel(
                dtab, qids, nids, c, rerank,
                topk=None, exclude_self=exclude_self,
            )

        return run

    shortlist = _pq_grid_cogroup(
        queries,
        codes_df,
        queries.count(),
        corpus.count(),
        _pq_cell_fn(
            make_kernel,
            _pq_parse_codes,
            ["q_id", "neighbor_id", "adc", "blk"],
            {"q_id": "int64", "neighbor_id": "int64",
             "adc": "float64", "blk": "int32"},
            pool_rerank=rerank,
        ),
        "q_id long, neighbor_id long, adc double, blk int",
    )
    return _pq_exact_rerank(shortlist, queries, corpus, k, rerank)


QUERIES = {
    "p01_dim_stats": p01_dim_stats,
    "p02_random_projection": p02_random_projection,
    "p03_pca_topk": p03_pca_topk,
    "p04_pca_mllib_topk": p04_pca_mllib_topk,
    "p05_kmeans_iterative": p05_kmeans_iterative,
    "p06_scalar_quantize": p06_scalar_quantize,
    "p07_pq_ann": p07_pq_ann,
    "p08_kmeans_trace": p08_kmeans_trace,
}

ORACLE = {
    "p01_dim_stats": _P01_SQL,
    "p02_random_projection": _p02_sql(),
    # p03_pca_topk: intentionally no oracle (driver SVD is not
    # SQL-expressible) — rows-only check, invariants in tests.
    "p06_scalar_quantize": _P06_SQL,
    # p08 carries the hash-checkable integer core of p05's iteration
    # (lazy callable — the unrolled CTE is built per P08_ITERS/P08_K)
    "p08_kmeans_trace": _p08_sql,
}
