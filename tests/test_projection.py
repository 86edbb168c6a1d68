"""L3 dimensionality reduction: oracle parity + PCA funnel invariants."""

from __future__ import annotations

import pytest

from big_data_analytics_cse545_spark.operators import projection
from tests.oracle_utils import assert_parity


@pytest.mark.parametrize(
    "name",
    [
        "p01_dim_stats",
        "p02_random_projection",
        "p06_scalar_quantize",
        "p08_kmeans_trace",
    ],
)
def test_projection_oracle_parity(spark, sf_correctness, name):
    df = projection.QUERIES[name](spark, sf_correctness)
    assert_parity(df, projection.ORACLE[name], sf_correctness, name)


def test_p08_trace_invariants_and_split_invariance(
    spark, sf_correctness, tmp_path
):
    """p08's determinism contract: (1) every vector is assigned at every
    step (sizes sum to the corpus count, ×P08_ITERS total); (2) the
    whole trace is BIT-IDENTICAL under pathological file splitting
    (byte-splits outnumbering row groups → empty mapInPandas partitions)
    — integer partial sums commute, so partitioning cannot shift a
    single ssd unit; and (3) the final step's sizes agree with a straight
    numpy replay of the fixed-point Lloyd recurrence (golden, no Spark)."""
    import numpy as np

    from big_data_analytics_cse545_spark.sources import load_table

    rows = projection.QUERIES["p08_kmeans_trace"](spark, sf_correctness).collect()
    n = load_table(spark, sf_correctness, "embeddings").count()
    by_step: dict[int, int] = {}
    for r in rows:
        by_step[r["step"]] = by_step.get(r["step"], 0) + r["n_members"]
    assert set(by_step) == set(range(1, projection.P08_ITERS + 1))
    assert all(v == n for v in by_step.values()), by_step

    src = load_table(spark, sf_correctness, "embeddings")
    d = str(tmp_path / "splitcase")
    src.coalesce(1).write.parquet(d + "/embeddings.parquet")
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    try:
        split_rows = projection.p08_kmeans_trace(spark, d).collect()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    assert [r.asDict() for r in split_rows] == [r.asDict() for r in rows]

    # numpy golden: replay the recurrence single-threaded
    emb = np.array(
        [
            r["embedding"]
            for r in src.filter("embedding is not null").orderBy("vec_id").collect()
        ],
        dtype=np.float64,
    )
    q = np.clip(
        np.floor((emb + projection.P08_SHIFT) * projection.P08_SCALE),
        0,
        projection.P08_CLAMP,
    ).astype(np.int64)
    cents = q[: projection.P08_K].copy()
    golden: list[tuple[int, int, int, int]] = []
    for it in range(1, projection.P08_ITERS + 1):
        d2 = ((q[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        a = d2.argmin(axis=1)
        for c in np.unique(a):
            mask = a == c
            golden.append(
                (it, int(c), int(mask.sum()), int(d2[mask, c].sum()))
            )
            if it < projection.P08_ITERS:
                cents[c] = q[mask].sum(axis=0) // mask.sum()
    assert [tuple(r) for r in rows] == golden


def test_p08_pathological_rows_cannot_break_parity(spark, sf_smoke, tmp_path):
    """g01's NULL-key pin applied to p08, plus the non-finite sweep
    (round-9 self-review): a NULL vec_id with a valid embedding would
    sort NULLS FIRST in Spark's init ordering but NULLS LAST in
    DuckDB's, silently replacing the first centroid; a NaN/Inf/NULL
    ELEMENT would be clamped by Spark's cast chain but raise a DuckDB
    Conversion Error (or diverge on GREATEST(NULL, 0)). All four
    pathological rows are excluded whole-vector on BOTH sides; the
    trace must still hash-match the oracle on the planted data, and
    the planted rows must actually be gone from it. Round-10 ADVICE
    pin: a FINITE element past the int64-safe magnitude (a float32
    3e38 — Spark's long cast saturates where DuckDB's CAST raises) is
    excluded by the same whole-vector filter on both sides."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = "/root/testdata/sf0.001"
    d = str(tmp_path / "pathological_sf")
    os.makedirs(d)
    for f in os.listdir(src):
        if f.endswith(".parquet") and f != "embeddings.parquet":
            shutil.copy(os.path.join(src, f), os.path.join(d, f))
    t = pq.read_table(os.path.join(src, "embeddings.parquet"))
    ids = t.column("vec_id").to_pylist()
    vecs = t.column("embedding").to_pylist()
    ids[0] = None  # the row that would otherwise become centroid 0
    vecs[1] = [float("nan")] + vecs[1][1:]  # would clamp in Spark, raise in DuckDB
    vecs[2] = [float("inf")] + vecs[2][1:]
    vecs[3] = [None] + vecs[3][1:]
    vecs[4] = [3e38] + vecs[4][1:]  # FINITE but floor((x+2)*1000) > 2^63
    t = t.set_column(
        t.schema.get_field_index("vec_id"),
        "vec_id",
        pa.array(ids, type=t.schema.field("vec_id").type),
    )
    t = t.set_column(
        t.schema.get_field_index("embedding"),
        "embedding",
        pa.array(vecs, type=t.schema.field("embedding").type),
    )
    pq.write_table(t, os.path.join(d, "embeddings.parquet"))
    df = projection.p08_kmeans_trace(spark, d)
    assert_parity(df, projection._p08_sql(), d, "p08-pathological")
    from big_data_analytics_cse545_spark.operators.projection import (
        P08_SCALE,
        P08_SHIFT,
        int64_safe_bound,
    )

    bound = int64_safe_bound(P08_SHIFT, P08_SCALE)
    n_good = len([v for i, v in enumerate(vecs) if ids[i] is not None
                  and v is not None and None not in v
                  and all(x == x and abs(x) <= bound for x in v)])
    rows = df.collect()
    assert sum(r["n_members"] for r in rows if r["step"] == 1) == n_good


def test_scalar_quantize_bounds(spark, sf_correctness):
    """Quantizer contract: codes in [0,255]; per-element reconstruction
    error bounded by one quantization step of that dimension."""
    rows = projection.QUERIES["p06_scalar_quantize"](spark, sf_correctness).collect()
    assert rows
    stats = {
        r["pos"]: (r["min_v"], r["max_v"])
        for r in projection.p01_dim_stats(spark, sf_correctness).collect()
    }
    for r in rows:
        assert 0 <= r["code"] <= 255
        lo, hi = stats[r["pos"]]
        step = (hi - lo) / 255.0
        # p01 stats are rounded to 6dp — allow that slack on the bound
        assert r["err"] <= step + 2e-6, r


def test_pca_topk_invariants(spark, sf_correctness):
    """PCA-space ranking invariants (mirrors the reference's golden-output
    checks, a2_ahuja_output.txt:14-56): per-query ascending distances,
    exactly 3 neighbors per query, no self-matches."""
    rows = projection.p03_pca_topk(spark, sf_correctness).collect()
    assert rows
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["q_id"], []).append(r)
    for q_id, rs in by_q.items():
        assert [r["rk"] for r in rs] == [1, 2, 3]
        dists = [r["dist"] for r in rs]
        assert dists == sorted(dists), f"distances not ascending for {q_id}"
        assert all(r["neighbor_id"] != q_id for r in rs)


def test_pca_projection_contracts_distances(spark, sf_correctness):
    """Projection onto an orthonormal basis never expands euclidean
    distance: ‖P(x−y)‖ ≤ ‖x−y‖ in standardized space — the invariant
    behind the reference's pre- vs post-PCA distance comparison
    (a2_ahuja.py:296-319)."""
    import numpy as np

    from big_data_analytics_cse545_spark.sources import load_table

    rows = load_table(spark, sf_correctness, "embeddings").collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=float) for r in rows}
    x = np.stack(list(vecs.values()))
    mean, std = x.mean(axis=0), np.maximum(x.std(axis=0), 1e-9)
    std_vecs = {k: (v - mean) / std for k, v in vecs.items()}

    ranked = projection.p03_pca_topk(spark, sf_correctness).collect()
    assert ranked
    for r in ranked:
        full = float(np.linalg.norm(std_vecs[r["q_id"]] - std_vecs[r["neighbor_id"]]))
        assert r["dist"] <= full + 1e-3, (
            f"projected dist {r['dist']} exceeds full-space dist {full}"
        )


def test_mllib_pca_ranks_like_hand_funnel(spark, sf_correctness):
    """p03 (hand funnel: partial Gram + driver SVD) and p04 (pyspark.ml
    StandardScaler+PCA) must produce the same neighbor rankings — the PCA
    subspace is unique when eigenvalues are distinct, so subspace
    distances agree even though the basis is sign/rotation-ambiguous."""
    hand = {
        (r["q_id"], r["rk"]): r["neighbor_id"]
        for r in projection.p03_pca_topk(spark, sf_correctness).collect()
    }
    ml = {
        (r["q_id"], r["rk"]): r["neighbor_id"]
        for r in projection.QUERIES["p04_pca_mllib_topk"](
            spark, sf_correctness
        ).collect()
    }
    assert hand.keys() == ml.keys()
    agree = sum(1 for k in hand if hand[k] == ml[k])
    assert agree / len(hand) >= 0.8, f"rank agreement {agree}/{len(hand)}"


def test_kmeans_converges_and_partitions_corpus(spark, sf_correctness):
    """p05: every vector assigned exactly once; objective beats the
    0-iteration baseline (Lloyd never increases the objective)."""
    from big_data_analytics_cse545_spark.sources import load_table

    rows = projection.QUERIES["p05_kmeans_iterative"](spark, sf_correctness).collect()
    total = sum(r["n_members"] for r in rows)
    assert total == load_table(spark, sf_correctness, "embeddings").count()
    assert len(rows) <= 8
    assert all(r["mean_dist"] > 0 for r in rows)
    again = projection.QUERIES["p05_kmeans_iterative"](spark, sf_correctness).collect()
    assert [r.asDict() for r in rows] == [r.asDict() for r in again]  # deterministic


def test_p07_pq_ann_recall_and_determinism(spark, sf_correctness):
    """PQ + exact-rerank contract: ≥0.9 recall@3 vs brute force, exact
    distances monotone per query, self excluded, byte-identical reruns.
    (r4 raised the gate 0.6 → 0.8 alongside PQ_M 8 → 16 and PQ_RERANK
    32 → 64; r6 raised it to 0.9 after the hash-spread sub-block
    shortlist — measured recall is 1.0 on every scale_ann corpus,
    clustered AND rotated, at the default rerank, SCALE.md ANN table.)"""
    import numpy as np

    from big_data_analytics_cse545_spark.sources import load_table

    df = projection.p07_pq_ann(spark, sf_correctness).toPandas()
    assert not df.empty
    rows = load_table(spark, sf_correctness, "embeddings").select(
        "vec_id", "embedding"
    ).collect()
    ids = np.array([r["vec_id"] for r in rows])
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    hits = tot = 0
    for qi in np.where(ids % projection.QUERY_MOD == 0)[0]:
        d2 = ((x - x[qi]) ** 2).sum(axis=1)
        d2[qi] = np.inf
        exact = set(ids[np.argsort(d2, kind="stable")[: projection.PQ_TOPK]])
        sub = df[df.query_id == ids[qi]]
        got = set(sub.neighbor_id)
        assert ids[qi] not in got, "self must be excluded"
        assert list(sub.sort_values("rank").d2) == sorted(sub.d2)
        hits += len(exact & got)
        tot += projection.PQ_TOPK
    assert hits / tot >= 0.9, f"recall@{projection.PQ_TOPK} = {hits}/{tot}"
    again = projection.p07_pq_ann(spark, sf_correctness).toPandas()
    assert df.equals(again), "PQ pipeline must be deterministic"


def test_p07_distributed_regime_recall_and_determinism(
    spark, sf_correctness, monkeypatch
):
    """p07's corpus-proportional-query regime (query blocks × corpus
    blocks cogroup — the path that replaced the round-5 driver-side
    query collect, VERDICT r5 #1) must satisfy the same contract as the
    bounded regime: deterministic reruns, self excluded, monotone exact
    distances, recall@3 ≥ 0.8 vs brute force. Forced here by shrinking
    the regime threshold below the fixture's query count."""
    import numpy as np

    from big_data_analytics_cse545_spark.sources import load_table

    monkeypatch.setattr(projection, "PQ_QUERIES_PER_BLOCK", 4)
    df = projection.p07_pq_ann(spark, sf_correctness).toPandas()
    assert not df.empty
    rows = load_table(spark, sf_correctness, "embeddings").select(
        "vec_id", "embedding"
    ).collect()
    ids = np.array([r["vec_id"] for r in rows])
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    hits = tot = 0
    for qi in np.where(ids % projection.QUERY_MOD == 0)[0]:
        d2 = ((x - x[qi]) ** 2).sum(axis=1)
        d2[qi] = np.inf
        exact = set(ids[np.argsort(d2, kind="stable")[: projection.PQ_TOPK]])
        sub = df[df.query_id == ids[qi]]
        got = set(sub.neighbor_id)
        assert ids[qi] not in got, "self must be excluded"
        assert list(sub.sort_values("rank").d2) == sorted(sub.d2)
        hits += len(exact & got)
        tot += projection.PQ_TOPK
    assert hits / tot >= 0.9, f"recall@{projection.PQ_TOPK} = {hits}/{tot}"
    again = projection.p07_pq_ann(spark, sf_correctness).toPandas()
    assert df.equals(again), "distributed PQ regime must be deterministic"


def test_kmeans_survives_empty_parquet_splits(spark, sf_correctness, tmp_path):
    """Regression (round 5): when file byte-splitting outnumbers row
    groups, mapInPandas partitions receive ZERO batches; the partial
    kernel used to yield an empty DataFrame whose list<double> column
    materialized as float64 and the Arrow writer threw
    ArrowNotImplementedError. Pin: tiny maxPartitionBytes forces empty
    splits, p05 must still converge with every point assigned."""
    from big_data_analytics_cse545_spark.sources import load_table

    src = load_table(spark, sf_correctness, "embeddings")
    d = str(tmp_path / "splitcase")
    src.coalesce(1).write.parquet(d + "/embeddings.parquet")
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    try:
        out = projection.p05_kmeans_iterative(spark, d).collect()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    assert sum(r["n_members"] for r in out) == src.count()


def test_empty_corpus_yields_empty_results_not_crashes(spark, tmp_path):
    """Round-5 robustness sweep: an EMPTY table (an empty date partition
    in production) must yield an empty result with the right schema, not
    a raw MLlib Py4J error or a numpy IndexError. Covers every query
    that trains/fits on the corpus before answering."""
    import os

    import pyarrow.parquet as pq

    from big_data_analytics_cse545_spark.operators import similarity

    src = "/root/testdata/sf0.001"
    d = str(tmp_path / "empty_sf")
    os.makedirs(d)
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            t = pq.read_table(os.path.join(src, f))
            pq.write_table(t.slice(0, 0), os.path.join(d, f))
    for fn, cols in [
        (projection.p03_pca_topk, ["q_id", "neighbor_id", "rk", "dist"]),
        (projection.p04_pca_mllib_topk, ["q_id", "neighbor_id", "rk", "dist"]),
        (projection.p07_pq_ann, ["query_id", "rank", "neighbor_id", "d2"]),
        (projection.p08_kmeans_trace, ["step", "cluster", "n_members", "ssd"]),
        (similarity.s04_brp_lsh_mllib, ["q_id", "neighbor_id", "dist"]),
    ]:
        out = fn(spark, d)
        assert out.count() == 0
        assert out.columns == cols, (fn.__name__, out.columns)


def test_null_embeddings_are_excluded_not_crashes(spark, tmp_path):
    """Round-5 robustness sweep: rows with NULL embeddings (failed
    encoders are a normal production state) must be excluded from
    similarity/training math, not crash numpy kernels or MLlib fits.
    Catalyst infers IsNotNull for expression-based queries; the Arrow
    kernels and fit() paths need it explicit."""
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from big_data_analytics_cse545_spark.operators import dedup, similarity

    src = "/root/testdata/sf0.001"
    d = str(tmp_path / "null_sf")
    os.makedirs(d)
    for f in os.listdir(src):
        if not f.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(src, f))
        if f == "embeddings.parquet":
            keys = t.column("vec_id").to_numpy()
            mask = pa.array((keys % 7) == 3)
            idx = t.schema.get_field_index("embedding")
            arr = pc.if_else(
                mask,
                pa.scalar(None, t.schema.field("embedding").type),
                t.column("embedding").combine_chunks(),
            )
            t = t.set_column(idx, "embedding", arr)
        pq.write_table(t, os.path.join(d, f))
    n_valid = pq.read_table(os.path.join(d, "embeddings.parquet")).column(
        "embedding"
    ).null_count
    assert n_valid > 0, "fixture must actually plant nulls"
    for fn in (
        dedup.d05_embedding_near_dup,
        similarity.s04_brp_lsh_mllib,
        projection.p03_pca_topk,
        projection.p04_pca_mllib_topk,
        projection.p05_kmeans_iterative,
        projection.p07_pq_ann,
        projection.p08_kmeans_trace,
    ):
        assert fn(spark, d).count() >= 0, fn.__name__


def test_pq_cell_fn_order_free_and_query_bounded():
    """The cogroup cell wrapper's two scale contracts (round-6 review):
    (1) candidates are invariant to the cell's ROW ORDER — a cogrouped
    cell's order comes from shuffle fetch order, nondeterministic on a
    real cluster, and the shortlist cut applies per corpus chunk, so
    chunk membership must be a pure function of the data; (2) the
    query side is processed in bounded slices with output identical to
    the unsliced kernel (per-query candidates depend only on (query,
    corpus slice))."""
    import numpy as np

    cbs = projection._pq_train(
        np.arange(64, dtype=np.float64).reshape(8, 8), n_sub=4, n_cent=2
    )
    rng = np.random.default_rng(11)
    n, nq = 300, 7
    x = rng.standard_normal((n, 8))
    codes = projection._pq_encode(x, cbs).astype(np.int64)
    qmat = rng.standard_normal((nq, 8))
    qids = np.arange(nq) + 10_000

    def make_kernel(qpdf):
        dtab = projection._pq_dtab(np.stack(qpdf["q_emb"].to_numpy()), cbs)
        kq = qpdf["q_id"].to_numpy()

        def run(nids, c):
            return projection._pq_adc_codes_kernel(
                dtab, kq, nids, c, rerank=4, topk=None, exclude_self=False
            )

        return run

    import pandas as pd

    qpdf = pd.DataFrame({"q_id": qids, "q_emb": list(qmat)})
    cpdf = pd.DataFrame({"n_id": np.arange(n), "codes": list(codes)})
    cols = ["q_id", "neighbor_id", "adc", "blk"]
    dtypes = {"q_id": "int64", "neighbor_id": "int64",
              "adc": "float64", "blk": "int32"}
    # tiny chunk so the cell actually slices the corpus several times
    cell = projection._pq_cell_fn(
        make_kernel, projection._pq_parse_codes, cols, dtypes, chunk=32
    )

    def canon(df):
        return (
            df.sort_values(["q_id", "neighbor_id"])
            .reset_index(drop=True)
        )

    base = canon(cell(qpdf, cpdf))
    assert len(base), "kernel must emit candidates"
    shuffled = cpdf.sample(frac=1.0, random_state=3).reset_index(drop=True)
    assert canon(cell(qpdf, shuffled)).equals(base), (
        "cell output must not depend on cogroup row order"
    )
    # query side sliced (PQ_QUERIES_PER_BLOCK=3 forces 3 slices) —
    # identical output to the single-slice run above
    orig = projection.PQ_QUERIES_PER_BLOCK
    try:
        projection.PQ_QUERIES_PER_BLOCK = 3
        sliced = projection._pq_cell_fn(
            make_kernel, projection._pq_parse_codes, cols, dtypes, chunk=32
        )
        assert canon(sliced(qpdf, cpdf)).equals(base), (
            "query-side slicing must not change candidates"
        )
    finally:
        projection.PQ_QUERIES_PER_BLOCK = orig


def test_pq_rejects_int16_overflowing_codebooks(spark, sf_correctness):
    """n_centroids above int16 range must be refused up front: the
    codes relation stores int16 sub-codes, and a silent wrap would
    negative-index the ADC tables — wrong neighbors, no error
    (round-6 review)."""
    from big_data_analytics_cse545_spark import api
    from big_data_analytics_cse545_spark.sources import load_table

    e = load_table(spark, sf_correctness, "embeddings")
    with pytest.raises(ValueError, match="n_centroids"):
        api.pq_index(e, "embedding", "vec_id", n_centroids=40_000)
    with pytest.raises(ValueError, match="n_centroids"):
        api.pq_ann_join(
            e.limit(10), e, "embedding", "vec_id", n_centroids=40_000
        )


def test_p02_builds_one_literal_per_projection_row(spark, sf_smoke, monkeypatch):
    """Each projection row is one array literal: mapping ``F.lit`` over
    the ``DIM`` entries of a row gives the same optimized plan, but
    ``DIM`` literal nodes per row to analyse at every DataFrame step."""
    from pyspark.sql import functions as F

    real, calls = F.lit, []

    def spy(x):
        calls.append(x)
        return real(x)

    monkeypatch.setattr(F, "lit", spy)
    projection.p02_random_projection(spark, sf_smoke)
    assert len(calls) < projection.DIM, f"{len(calls)} F.lit calls for {projection.RP_DIMS} rows"
