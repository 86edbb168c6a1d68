"""Public API layer: same machinery as the fixture-bound queries, on
arbitrary (df, column) inputs — cross-checked against the operators."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from big_data_analytics_cse545_spark import api
from big_data_analytics_cse545_spark.operators import (
    dedup,
    graph,
    projection,
    relational,
    sampling,
    similarity,
)
from big_data_analytics_cse545_spark.operators import text as text_ops
from big_data_analytics_cse545_spark.sources import load_table


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "Hello World"), (2, "hello world"), (3, "other text")],
        ["id", "text"],
    )
    out = api.exact_dedup(df, "text", "id").collect()
    assert {r["id"] for r in out} == {1, 3}


def test_minhash_dedup_pairs_matches_operator(spark, sf_correctness):
    """api.minhash_dedup_pairs with d03's parameters must find the same
    pairs as the fixture-bound operator."""
    d = load_table(spark, sf_correctness, "documents")
    got = {
        (r["id1"], r["id2"])
        for r in api.minhash_dedup_pairs(
            d, "text", "doc_id", n_hashes=32, band_rows=4, threshold=0.7
        ).collect()
    }
    exp = {
        (r["d1"], r["d2"])
        for r in dedup.d03_minhash_lsh_dedup(spark, sf_correctness).collect()
    }
    assert got == exp


def test_minhash_dedup_drops_losers(spark, sf_correctness):
    d = load_table(spark, sf_correctness, "documents")
    pairs = api.minhash_dedup_pairs(d, "text", "doc_id", threshold=0.7).collect()
    survivors = api.minhash_dedup(d, "text", "doc_id", threshold=0.7)
    surviving_ids = {r["doc_id"] for r in survivors.select("doc_id").collect()}
    assert len(surviving_ids) == d.count() - len({p["id2"] for p in pairs})
    assert all(p["id2"] not in surviving_ids for p in pairs)


def test_simhash64_deterministic_and_discriminative(spark):
    df = spark.createDataFrame(
        [(1, "spark join filter window stream"), (2, "spark join filter window stream"),
         (3, "completely different content here now")],
        ["id", "text"],
    )
    rows = {r["id"]: r["simhash"] for r in api.simhash64(df, "text").collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


def test_ann_join_matches_operator(spark, sf_correctness):
    """ann_join's per-row (dim=None) sign and norm path must rank the
    same neighbors as s01, which binds the literal dim=64 path."""
    e = load_table(spark, sf_correctness, "embeddings")
    q = e.filter(F.col("vec_id") % similarity.QUERY_MOD == 0)
    got = {
        (r["q_id"], r["rk"]): r["neighbor_id"]
        for r in api.ann_join(q, e, "embedding", "vec_id", k=5).collect()
    }
    exp = {
        (r["q_id"], r["rk"]): r["neighbor_id"]
        for r in similarity.s01_knn_bruteforce(spark, sf_correctness).collect()
    }
    assert got == exp


def test_ann_join_lsh_mode_runs(spark, sf_correctness):
    """One LSH table of 6 planes is s02's funnel: s02 binds the literal
    dim=64 form, so ann_join over renamed columns, with per-row signs
    (dim=None), must return s02's rows."""
    e = load_table(spark, sf_correctness, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("v")
    )
    q = e.filter(F.col("id") % similarity.QUERY_MOD == 0)
    rows = api.ann_join(q, e, "v", "id", k=3, method="lsh").collect()
    assert rows
    assert all(r["rk"] <= 3 for r in rows)
    exp = similarity.s02_ann_hyperplane_lsh(spark, sf_correctness).collect()
    assert sorted(map(tuple, rows)) == sorted(
        (r["q_id"], r["neighbor_id"], r["cos_sim"], r["rk"]) for r in exp
    )


def test_ann_join_lsh_dynamic_signs_match_literal_dim(spark, sf_correctness):
    """The per-row size()-based plane signs (dim=None, no driver action)
    must bucket identically to the literal-array form (dim given)."""
    e = load_table(spark, sf_correctness, "embeddings")
    q = e.filter(F.col("vec_id") % similarity.QUERY_MOD == 0)
    dyn = {
        (r["q_id"], r["rk"], r["neighbor_id"])
        for r in api.ann_join(q, e, "embedding", "vec_id", k=3, method="lsh").collect()
    }
    lit = {
        (r["q_id"], r["rk"], r["neighbor_id"])
        for r in api.ann_join(
            q, e, "embedding", "vec_id", k=3, method="lsh", dim=64
        ).collect()
    }
    assert dyn == lit


def test_ann_join_lsh_multiprobe_recall(spark, sf_smoke):
    """Recall gate (round-2 VERDICT #8): a single all-6-bit bucket match
    recalls almost nothing (measured 0.044 on this fixture); multi-probe
    OR over independent tables must push recall@5 vs bruteforce ≥ 0.8
    while still scoring only ~n_tables/2^n_planes of the corpus."""
    e = load_table(spark, sf_smoke, "embeddings")
    q = e.filter(F.col("vec_id") % 10 == 0)
    bf = {
        (r["q_id"], r["neighbor_id"])
        for r in api.ann_join(q, e, "embedding", "vec_id", k=5).collect()
    }
    got = {
        (r["q_id"], r["neighbor_id"])
        for r in api.ann_join(
            q, e, "embedding", "vec_id", k=5, method="lsh",
            n_planes=4, n_tables=16,
        ).collect()
    }
    recall = len(bf & got) / len(bf)
    assert recall >= 0.8, f"multi-probe recall {recall:.3f} < 0.8"
    # single-table is the round-2 behavior: strictly worse (sanity that
    # the flag actually changes candidate generation)
    one = {
        (r["q_id"], r["neighbor_id"])
        for r in api.ann_join(
            q, e, "embedding", "vec_id", k=5, method="lsh",
            n_planes=4, n_tables=1,
        ).collect()
    }
    assert len(bf & one) / len(bf) < recall


def test_ann_join_lsh_is_lazy(spark, sf_correctness):
    """Plan construction must not trigger a driver action (the round-1
    version probed dimensionality with .first())."""
    e = load_table(spark, sf_correctness, "embeddings")
    q = e.filter(F.col("vec_id") % similarity.QUERY_MOD == 0)
    before = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    api.ann_join(q, e, "embedding", "vec_id", k=3, method="lsh")
    after = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    assert len(after) == len(before)


def test_ann_join_exclude_self_flag(spark):
    """exclude_self=False keeps a corpus row whose id equals the query
    id (unrelated tables whose ids coincide)."""
    q = spark.createDataFrame([(1, [1.0, 0.0])], "id long, emb array<double>")
    c = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1])], "id long, emb array<double>"
    )
    with_self = api.ann_join(q, c, "emb", "id", k=2, exclude_self=False).collect()
    without = api.ann_join(q, c, "emb", "id", k=2).collect()
    assert {r["neighbor_id"] for r in with_self} == {1, 2}
    assert {r["neighbor_id"] for r in without} == {2}


def test_pq_ann_join_recall_vs_exact(spark, sf_correctness):
    """pq_ann_join (the ANN triad's memory-bound member) must recover
    nearly all exact euclidean top-k at the defaults, exclude self,
    keep per-query d2 monotone, and be deterministic."""
    import numpy as np

    e = load_table(spark, sf_correctness, "embeddings")
    q = e.filter(F.col("vec_id") % similarity.QUERY_MOD == 0)
    df = api.pq_ann_join(q, e, "embedding", "vec_id", k=3).toPandas()
    assert list(df.columns) == ["q_id", "neighbor_id", "rk", "d2"]
    rows = e.filter(F.col("embedding").isNotNull()).select(
        "vec_id", "embedding"
    ).collect()
    ids = np.array([r["vec_id"] for r in rows])
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    hits = tot = 0
    for qi in np.where(ids % similarity.QUERY_MOD == 0)[0]:
        d2 = ((x - x[qi]) ** 2).sum(axis=1)
        d2[qi] = np.inf
        exact = set(ids[np.argsort(d2, kind="stable")[:3]])
        sub = df[df.q_id == ids[qi]]
        assert ids[qi] not in set(sub.neighbor_id), "self must be excluded"
        assert list(sub.sort_values("rk").d2) == sorted(sub.d2)
        hits += len(exact & set(sub.neighbor_id))
        tot += 3
    assert hits / tot >= 0.9, f"recall@3 = {hits}/{tot}"
    again = api.pq_ann_join(q, e, "embedding", "vec_id", k=3).toPandas()
    assert df.sort_values(["q_id", "rk"]).reset_index(drop=True).equals(
        again.sort_values(["q_id", "rk"]).reset_index(drop=True)
    )


def test_pq_ann_join_validates_subspace_divisibility(spark, sf_correctness):
    e = load_table(spark, sf_correctness, "embeddings")
    q = e.limit(5)
    import pytest

    with pytest.raises(ValueError, match="not divisible"):
        api.pq_ann_join(q, e, "embedding", "vec_id", n_sub=7).collect()


def test_ivf_join_learned_centroids(spark, sf_correctness):
    """ivf_join with learned KMeans centroids: probing ALL cells must
    equal exact brute force; probing 2 of 8 must keep decent recall while
    scoring a fraction of the corpus."""
    e = load_table(spark, sf_correctness, "embeddings")
    q = e.filter(F.col("vec_id") % similarity.QUERY_MOD == 0)
    exact = {
        (r["q_id"], r["rk"]): r["neighbor_id"]
        for r in api.ann_join(q, e, "embedding", "vec_id", k=3).collect()
    }
    full_probe = {
        (r["q_id"], r["rk"]): r["neighbor_id"]
        for r in api.ivf_join(
            q, e, "embedding", "vec_id", k=3, n_cells=8, n_probe=8
        ).collect()
    }
    assert full_probe == exact, "n_probe == n_cells must degenerate to brute force"
    # NOTE: no pruned-recall gate on this fixture — its vectors are
    # near-random (mean pairwise cosine ≈ 0), so cosine neighbors
    # genuinely straddle cells and any IVF recall ≈ n_probe/n_cells.
    # Pruned recall is gated on clusterable data below.


def test_ivf_join_recall_on_clustered_data(spark):
    """On data that actually clusters (8 tight direction bundles), IVF
    with learned centroids and n_probe=2 must recall nearly all true
    top-k neighbors while scoring only ~2/8 of the corpus."""
    import numpy as np

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(8, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(400):
        c = i % 8
        v = centers[c] + 0.15 * rng.normal(size=16)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "id long, emb array<double>")
    q = df.filter(F.col("id") % 40 == 0)
    exact = {
        (r["q_id"], r["rk"]): r["neighbor_id"]
        for r in api.ann_join(q, df, "emb", "id", k=3).collect()
    }
    pruned = {
        (r["q_id"], r["rk"]): r["neighbor_id"]
        for r in api.ivf_join(q, df, "emb", "id", k=3, n_cells=8, n_probe=2).collect()
    }
    hits = sum(1 for kk in exact if pruned.get(kk) == exact[kk])
    assert hits / len(exact) >= 0.8, f"IVF recall {hits}/{len(exact)}"


def test_ivf_pq_join_recall_on_clustered_data(spark):
    """IVF-PQ (sublinear probe + compressed in-cell scan) on the same
    8-bundle fixture: probing 2 of 8 learned cells with PQ-coded
    in-cell scoring must recover nearly all exact euclidean top-3,
    deterministically, with self excluded and monotone distances."""
    import numpy as np

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(8, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(400):
        c = i % 8
        v = centers[c] + 0.15 * rng.normal(size=16)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "id long, emb array<double>")
    q = df.filter(F.col("id") % 40 == 0)
    got = api.ivf_pq_join(
        q, df, "emb", "id", k=3, n_cells=8, n_probe=2, n_sub=8
    ).toPandas()
    ids = np.array([r[0] for r in rows])
    x = np.array([r[1] for r in rows])
    hits = tot = 0
    for qi in np.where(ids % 40 == 0)[0]:
        d2 = ((x - x[qi]) ** 2).sum(axis=1)
        d2[qi] = np.inf
        exact = set(ids[np.argsort(d2, kind="stable")[:3]])
        sub = got[got.q_id == ids[qi]]
        assert ids[qi] not in set(sub.neighbor_id)
        assert list(sub.sort_values("rk").d2) == sorted(sub.d2)
        hits += len(exact & set(sub.neighbor_id))
        tot += 3
    assert hits / tot >= 0.8, f"IVF-PQ recall@3 = {hits}/{tot}"
    again = api.ivf_pq_join(
        q, df, "emb", "id", k=3, n_cells=8, n_probe=2, n_sub=8
    ).toPandas()
    key = ["q_id", "rk"]
    assert got.sort_values(key).reset_index(drop=True).equals(
        again.sort_values(key).reset_index(drop=True)
    )


def test_pq_index_search_rerank_recall_and_roundtrip(spark, sf_correctness, tmp_path):
    """pq_index/pq_search: encode-once-search-many. With the corpus
    supplied for exact rerank, recall matches pq_ann_join grade (≥0.9
    measured 1.0); a saved+loaded index answers identically to the
    fresh one; query-dim mismatch is refused."""
    import numpy as np

    import pytest

    e = load_table(spark, sf_correctness, "embeddings")
    q = e.filter(F.col("vec_id") % similarity.QUERY_MOD == 0)
    idx = api.pq_index(e, "embedding", "vec_id")
    got = api.pq_search(idx, q, "embedding", "vec_id", k=3, corpus=e).toPandas()
    assert list(got.columns) == ["q_id", "neighbor_id", "rk", "d2"]
    rows = e.filter(F.col("embedding").isNotNull()).select(
        "vec_id", "embedding"
    ).collect()
    ids = np.array([r["vec_id"] for r in rows])
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    hits = tot = 0
    for qi in np.where(ids % similarity.QUERY_MOD == 0)[0]:
        d2 = ((x - x[qi]) ** 2).sum(axis=1)
        d2[qi] = np.inf
        exact = set(ids[np.argsort(d2, kind="stable")[:3]])
        sub = got[got.q_id == ids[qi]]
        assert ids[qi] not in set(sub.neighbor_id)
        hits += len(exact & set(sub.neighbor_id))
        tot += 3
    assert hits / tot >= 0.9, f"rerank recall@3 = {hits}/{tot}"

    d = str(tmp_path / "pq_index")
    api.save_pq_index(idx, d)
    idx2 = api.load_pq_index(spark, d)
    assert idx2["params"]["n_sub"] == idx["params"]["n_sub"]
    again = api.pq_search(idx2, q, "embedding", "vec_id", k=3, corpus=e).toPandas()
    key = ["q_id", "rk"]
    assert got.sort_values(key).reset_index(drop=True).equals(
        again.sort_values(key).reset_index(drop=True)
    ), "a loaded index must answer identically to the fresh one"

    bad_q = q.select("vec_id", F.slice("embedding", 1, 32).alias("embedding"))
    with pytest.raises(ValueError, match="query dim"):
        api.pq_search(idx2, bad_q, "embedding", "vec_id", k=3).collect()


def test_pq_search_distributed_regime(spark, sf_correctness, monkeypatch):
    """pq_search's corpus-proportional-query regime (query blocks ×
    code blocks via the shared grid cogroup) must meet the same rerank
    contract as the bounded regime: recall ≥0.9 vs exact, self
    excluded, deterministic. Forced by shrinking the regime threshold
    below the fixture's query count."""
    import numpy as np

    from big_data_analytics_cse545_spark.operators import projection

    monkeypatch.setattr(projection, "PQ_QUERIES_PER_BLOCK", 4)
    e = load_table(spark, sf_correctness, "embeddings")
    q = e.filter(F.col("vec_id") % similarity.QUERY_MOD == 0)
    idx = api.pq_index(e, "embedding", "vec_id")
    got = api.pq_search(idx, q, "embedding", "vec_id", k=3, corpus=e).toPandas()
    rows = e.filter(F.col("embedding").isNotNull()).select(
        "vec_id", "embedding"
    ).collect()
    ids = np.array([r["vec_id"] for r in rows])
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    hits = tot = 0
    for qi in np.where(ids % similarity.QUERY_MOD == 0)[0]:
        d2 = ((x - x[qi]) ** 2).sum(axis=1)
        d2[qi] = np.inf
        exact = set(ids[np.argsort(d2, kind="stable")[:3]])
        sub = got[got.q_id == ids[qi]]
        assert ids[qi] not in set(sub.neighbor_id)
        hits += len(exact & set(sub.neighbor_id))
        tot += 3
    assert hits / tot >= 0.9, f"distributed pq_search recall@3 = {hits}/{tot}"
    again = api.pq_search(idx, q, "embedding", "vec_id", k=3, corpus=e).toPandas()
    key = ["q_id", "rk"]
    assert got.sort_values(key).reset_index(drop=True).equals(
        again.sort_values(key).reset_index(drop=True)
    )


def test_pq_search_compressed_only_on_clustered_data(spark):
    """Without the corpus, pq_search ranks by ADC distance alone (the
    codes ARE the index — no float reads at all). On data with real
    cluster structure the compressed ranking recovers the true
    neighborhood; on structureless data quantization error dominates
    (measured 0.4 on the random sf fixture — use corpus= rerank
    there), so the gate lives on the clustered fixture. Resolution is
    the knob: with coarse codes every same-cluster member ties at the
    same ADC distance and the top-k is arbitrary within the cluster
    (measured 0.37 at n_sub=8/16 centroids on this fixture, 0.67 at
    16/16, 0.93 at 16/32 — compressed-only ranking needs finer
    codebooks than rerank mode, which hits 1.0 at the defaults)."""
    import numpy as np

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(8, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(400):
        v = centers[i % 8] + 0.1 * rng.normal(size=16)
        rows.append((i, [float(t) for t in v]))
    df = spark.createDataFrame(rows, "id long, emb array<double>")
    q = df.filter(F.col("id") % 40 == 0)
    idx = api.pq_index(df, "emb", "id", n_sub=16, n_centroids=32)
    got = api.pq_search(idx, q, "emb", "id", k=3).toPandas()
    assert list(got.columns) == ["q_id", "neighbor_id", "rk", "adc_d2"]
    ids = np.array([r[0] for r in rows])
    x = np.array([r[1] for r in rows])
    hits = tot = 0
    for qi in np.where(ids % 40 == 0)[0]:
        d2 = ((x - x[qi]) ** 2).sum(axis=1)
        d2[qi] = np.inf
        exact = set(ids[np.argsort(d2, kind="stable")[:3]])
        sub = got[got.q_id == ids[qi]]
        assert ids[qi] not in set(sub.neighbor_id)
        assert list(sub.sort_values("rk").adc_d2) == sorted(sub.adc_d2)
        hits += len(exact & set(sub.neighbor_id))
        tot += 3
    assert hits / tot >= 0.7, f"compressed-only recall@3 = {hits}/{tot}"


def test_pq_and_ivfpq_degenerate_inputs(spark, sf_correctness):
    """Production states the fixtures never show: a corpus smaller than
    n_cells (IVF-PQ must clamp the KMeans k, not crash), an empty query
    set (empty result, right schema), and an all-null-embedding corpus
    (pq_index refuses with a clear error)."""
    import pytest

    e = load_table(spark, sf_correctness, "embeddings")
    tiny = e.limit(5)
    out = api.ivf_pq_join(tiny, tiny, "embedding", "vec_id", k=2, n_cells=16)
    assert out.count() > 0  # 5 rows, 2 neighbors each minus ranks cutoff

    no_q = e.filter(F.col("vec_id") < 0)
    idx = api.pq_index(e, "embedding", "vec_id")
    empty = api.pq_search(idx, no_q, "embedding", "vec_id", k=3)
    assert empty.count() == 0
    assert empty.columns == ["q_id", "neighbor_id", "rk", "adc_d2"]
    assert api.ivf_pq_join(no_q, e, "embedding", "vec_id", k=3).count() == 0

    nulls = e.withColumn("embedding", F.lit(None).cast("array<float>"))
    with pytest.raises(ValueError, match="no non-null embeddings"):
        api.pq_index(nulls, "embedding", "vec_id")


def test_embedding_near_dup_pairs_matches_operator(spark, sf_correctness):
    e = load_table(spark, sf_correctness, "embeddings")
    got = {
        (r["v1"], r["v2"], r["cos_sim"])
        for r in api.embedding_near_dup_pairs(
            e, "embedding", "vec_id", threshold=0.4
        ).collect()
    }
    exp = {
        (r["v1"], r["v2"], r["cos_sim"])
        for r in dedup.d05_embedding_near_dup(spark, sf_correctness).collect()
    }
    assert got == exp


def test_grouped_zscore_matches_window_expr(spark, sf_correctness):
    """applyInPandas z-score must equal the pure window-function version."""
    import math

    e = load_table(spark, sf_correctness, "events").select("event_id", "event_type", "value")
    got = {
        r["event_id"]: r["zscore"]
        for r in api.grouped_zscore(e, "event_type", "value").collect()
    }
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type")
    exp = {
        r["event_id"]: r["z"]
        for r in e.withColumn(
            "z",
            (F.col("value") - F.avg("value").over(w)) / F.stddev_pop("value").over(w),
        ).collect()
    }
    assert got.keys() == exp.keys()
    assert all(math.isclose(got[k], exp[k], rel_tol=1e-9) for k in got)


def test_dup_clusters_matches_operator_and_keeps_one_rep(spark, sf_correctness):
    """d08's oracle checks api.dup_clusters on (doc_id, text); over
    renamed columns it must equal d08 exactly, and the documented
    keep-rule must retain exactly one doc per cluster."""
    docs = load_table(spark, sf_correctness, "documents").select(
        F.col("doc_id").alias("id"), F.col("text").alias("body"), "source"
    )
    got = {
        (r["id"], r["cluster_id"], r["cluster_size"])
        for r in api.dup_clusters(docs, "body", "id").collect()
    }
    want = {
        (r["doc_id"], r["cluster_id"], r["cluster_size"])
        for r in dedup.d08_dup_clusters(spark, sf_correctness).collect()
    }
    assert got == want and got
    clusters = api.dup_clusters(docs, "body", "id")
    keep = docs.join(
        clusters.filter("id != cluster_id").select("id"), "id", "left_anti"
    )
    n_clustered = clusters.count()
    n_groups = clusters.select("cluster_id").distinct().count()
    assert keep.count() == docs.count() - (n_clustered - n_groups)


def test_chunk_documents_matches_t17(spark, sf_correctness):
    """t17's oracle checks api.chunk_documents on ``doc_id``; the same
    call on a renamed id column must give the same chunks."""
    d = load_table(spark, sf_correctness, "documents").withColumnRenamed(
        "doc_id", "my_id"
    )
    got = {
        (r["my_id"], r["chunk_idx"]): (r["n_chunk_tok"], r["chunk_text"])
        for r in api.chunk_documents(
            d, "text", "my_id",
            chunk_tokens=text_ops.CHUNK_TOKENS, stride=text_ops.CHUNK_STRIDE,
        ).collect()
    }
    exp = {
        (r["doc_id"], r["chunk_idx"]): (r["n_chunk_tok"], r["chunk_text"])
        for r in text_ops.t17_chunk_overlap(spark, sf_correctness).collect()
    }
    assert got == exp and got


def _renamed_documents(spark, sf_dir):
    """The documents table under column names no registry query uses,
    so a function that reads ``doc_id``/``text``/``lang`` by name
    instead of through its column arguments fails to match."""
    return load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        F.col("text").alias("body"),
        F.col("lang").alias("stratum"),
        "n_chars",
    )


def test_token_budget_select_matches_x04(spark, sf_correctness):
    """x04's oracle checks api.token_budget_select on (score, n_tok,
    doc_id); over renamed score/weight/id columns it must keep the
    same documents."""
    from big_data_analytics_cse545_spark.functions.text import tokens

    d = _renamed_documents(spark, sf_correctness)
    base = d.select(
        "id",
        F.size(tokens(F.col("body"))).cast("long").alias("w"),
        F.floor(
            F.coalesce(
                F.try_divide(
                    F.lit(1000.0)
                    * F.length(F.regexp_replace(F.lower(F.col("body")), "[^a-z]", "")),
                    F.col("n_chars").cast("double"),
                ),
                F.lit(0.0),
            )
        ).cast("long").alias("q"),
    )
    got = {
        r["id"]
        for r in api.token_budget_select(
            base, "q", "w", "id", sampling.TOKEN_BUDGET
        ).collect()
    }
    exp = {
        r["doc_id"]
        for r in sampling.x04_token_budget_select(spark, sf_correctness).collect()
    }
    assert got == exp and got


def test_stratified_sample_matches_x05(spark, sf_correctness):
    """x05's oracle checks api.stratified_sample on (lang, doc_id); over
    renamed stratum/id columns it must draw the same ranked sample."""
    d = _renamed_documents(spark, sf_correctness)
    got = {
        (r["stratum"], r["rank"]): r["id"]
        for r in api.stratified_sample(
            d, "stratum", "id", sampling.STRATUM_K
        ).collect()
    }
    exp = {
        (r["lang"], r["rank"]): r["doc_id"]
        for r in sampling.x05_stratified_sample(spark, sf_correctness).collect()
    }
    assert got == exp and got


def test_html_strip_on_literal(spark):
    df = spark.createDataFrame(
        [(1, "<p>a &amp; b</p><script>bad()</script> <b>c</b>")],
        "id long, html string",
    )
    row = api.html_strip(df, "html").collect()[0]
    assert row["text"] == "a & b c"


def test_incremental_dedup_matches_operator(spark, sf_correctness):
    """api.incremental_dedup on the d10 batch/corpus split must make the
    identical per-doc decisions as the fixture-bound operator."""
    d = load_table(spark, sf_correctness, "documents")
    is_batch = d["doc_id"] % dedup.D10_BATCH_MOD == dedup.D10_BATCH_REM
    out = api.incremental_dedup(
        d.filter(is_batch), d.filter(~is_batch), "text", "doc_id",
        threshold=dedup.JACCARD_THRESHOLD_D10,
    )
    got = {
        r["doc_id"]: (r["exact_dup"], r["near_dup_of"], r["decision"])
        for r in out.select("doc_id", "exact_dup", "near_dup_of", "decision").collect()
    }
    exp = {
        r["doc_id"]: (r["exact_dup"], r["near_dup_of"], r["decision"])
        for r in dedup.d10_incremental_dedup(spark, sf_correctness).collect()
    }
    assert got == exp


def test_url_dedup_collapses_canonical_variants(spark):
    df = spark.createDataFrame(
        [
            (1, "HTTPS://WWW.Ex.COM:443/a?b=2&a=1&utm_source=t"),
            (2, "https://ex.com/a?a=1&b=2"),          # same canonical as 1
            (3, "https://ex.com/a?a=1&b=3"),          # different query
            (4, "https://ex.com/a/?a=1&b=2#frag"),    # same canonical as 1
        ],
        ["id", "url"],
    )
    out = api.url_dedup(df, "url", "id").collect()
    assert {r["id"] for r in out} == {1, 3}


def test_leakage_safe_split_matches_x06(spark, sf_correctness):
    """x06's oracle checks api.leakage_safe_split on (text, doc_id);
    over renamed text/id columns it must give each doc the same
    (split_key, split)."""
    d = _renamed_documents(spark, sf_correctness)
    got = {
        r["id"]: (r["split_key"], r["split"])
        for r in api.leakage_safe_split(d, "body", "id").collect()
    }
    exp = {
        r["doc_id"]: (r["split_key"], r["split"])
        for r in sampling.x06_leakage_safe_split(spark, sf_correctness).collect()
    }
    assert got == exp and got


def test_nfc_normalize_composes_decomposed_text(spark):
    df = spark.createDataFrame(
        [(1, "cafe\u0301"), (2, "caf\u00e9"), (3, None)],
        "id long, text string",
    )
    out = {r["id"]: r["text"] for r in api.nfc_normalize(df, "text").collect()}
    assert out[1] == out[2] == "caf\u00e9"
    assert out[3] is None


def test_incremental_dedup_index_path_equals_direct(spark, sf_correctness):
    """A prebuilt dedup_index must yield decisions identical to passing
    the corpus directly, and one index must serve multiple batches."""
    from big_data_analytics_cse545_spark.operators import dedup as dd

    d = load_table(spark, sf_correctness, "documents")
    corpus = d.filter(d["doc_id"] % 4 != 1)
    idx = api.dedup_index(corpus, "text", "doc_id")
    for mod_rem in (1, 3):  # two different "daily batches", one index
        batch = d.filter(d["doc_id"] % 4 == mod_rem)
        via_index = {
            r["doc_id"]: (r["exact_dup"], r["near_dup_of"], r["decision"])
            for r in api.incremental_dedup(
                batch, text_col="text", id_col="doc_id", index=idx,
                threshold=dd.JACCARD_THRESHOLD_D10,
            ).select("doc_id", "exact_dup", "near_dup_of", "decision").collect()
        }
        direct = {
            r["doc_id"]: (r["exact_dup"], r["near_dup_of"], r["decision"])
            for r in api.incremental_dedup(
                batch, corpus, "text", "doc_id",
                threshold=dd.JACCARD_THRESHOLD_D10,
            ).select("doc_id", "exact_dup", "near_dup_of", "decision").collect()
        }
        assert via_index == direct
    import pytest as _pytest

    with _pytest.raises(ValueError):
        api.incremental_dedup(d, corpus, "text", "doc_id", index=idx)
    with _pytest.raises(ValueError):
        api.incremental_dedup(d, text_col="text", id_col="doc_id")
    # a parameter mismatch would silently produce zero candidates and
    # admit every near-dup — it must raise instead
    assert idx["params"] == {
        "n_hashes": 32,
        "band_rows": 4,
        "shingle_size": 3,
        # the hash-family tag: an index persisted under a different
        # family (e.g. pre-round-7 per-seed md5) must fail the guard
        "scheme": api.MINHASH_SCHEME,
    }
    with _pytest.raises(ValueError, match="built with"):
        api.incremental_dedup(
            d.filter(d["doc_id"] % 4 == 1),
            text_col="text", id_col="doc_id", index=idx, shingle_size=5,
        )
    # an index persisted under an older hash family (no/different
    # scheme tag) must also fail loudly — its band keys never collide
    # with the current family's
    stale = dict(idx, params={k: v for k, v in idx["params"].items() if k != "scheme"})
    with _pytest.raises(ValueError, match="built with"):
        api.incremental_dedup(
            d.filter(d["doc_id"] % 4 == 1),
            text_col="text", id_col="doc_id", index=stale,
        )


def test_bm25_score_matches_t21(spark, sf_correctness):
    """t21's oracle checks api.bm25_score on (text, doc_id); over
    renamed text/id columns it must give the same per-doc scores."""
    d = _renamed_documents(spark, sf_correctness)
    got = {
        r["id"]: (r["n_terms_hit"], r["bm25_micro"])
        for r in api.bm25_score(d, "body", "id", text_ops.TERM_DICT).collect()
    }
    exp = {
        r["doc_id"]: (r["n_terms_hit"], r["bm25_micro"])
        for r in text_ops.t21_bm25_score(spark, sf_correctness).collect()
    }
    assert got == exp and got


def test_perplexity_gate_matches_t22(spark, sf_correctness):
    """t22's oracle checks api.perplexity_gate on (text, doc_id); over
    renamed text/id columns it must give the same NLL sums and
    buckets."""
    d = _renamed_documents(spark, sf_correctness)
    got = {
        r["id"]: (r["n_tok"], r["sum_nll_micro"], r["ppl_bucket"])
        for r in api.perplexity_gate(
            d, "body", "id", text_ops.PPL_HEAD_MICRO, text_ops.PPL_MIDDLE_MICRO
        ).collect()
    }
    exp = {
        r["doc_id"]: (r["n_tok"], r["sum_nll_micro"], r["ppl_bucket"])
        for r in text_ops.t22_unigram_nll(spark, sf_correctness).collect()
    }
    assert got == exp and got


def test_cdc_dedup_matches_d12(spark, sf_correctness):
    """d12's oracle checks api.cdc_dedup(hash='md5') on (text, doc_id);
    over renamed text/id columns it must report the same chunks."""
    d = _renamed_documents(spark, sf_correctness)
    got = {
        r["chunk_hash"]: (r["n_copies"], r["n_docs"], r["chunk_len"], r["first_doc"])
        for r in api.cdc_dedup(d, "body", "id", hash="md5").collect()
    }
    exp = {
        r["chunk_hash"]: (r["n_copies"], r["n_docs"], r["chunk_len"], r["first_doc"])
        for r in dedup.d12_cdc_chunk_dedup(spark, sf_correctness).collect()
    }
    assert got == exp and got


def test_dedup_index_save_load_roundtrip(spark, sf_correctness, tmp_path):
    """Persisted-index path must make the same keep/drop decisions as
    the in-memory index, and the stored params must keep enforcing the
    mismatch guard after a reload."""
    import pytest

    from big_data_analytics_cse545_spark.sources import load_table

    d = load_table(spark, sf_correctness, "documents")
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    batch = d.filter(F.col("doc_id") % 5 == 0)
    idx = api.dedup_index(corpus, "text", "doc_id")
    path = str(tmp_path / "dedup_index")
    api.save_dedup_index(idx, path)
    loaded = api.load_dedup_index(spark, path)
    assert loaded["params"] == idx["params"]
    direct = {
        r["doc_id"]: (r["decision"], r["near_dup_of"])
        for r in api.incremental_dedup(batch, index=idx).collect()
    }
    reloaded = {
        r["doc_id"]: (r["decision"], r["near_dup_of"])
        for r in api.incremental_dedup(batch, index=loaded).collect()
    }
    assert direct == reloaded and direct
    with pytest.raises(ValueError, match="built with"):
        api.incremental_dedup(batch, index=loaded, n_hashes=16)


def test_merge_upsert_matches_q34(spark, sf_correctness):
    """q34 keeps its own LEFT-join lowering of the disjoint-inserts
    merge; api.merge_upsert over q34's batch, under renamed key,
    payload and op columns, must reproduce q34's merged snapshot via
    BOTH the anti-join general path and the disjoint-inserts fast
    path."""
    o = load_table(spark, sf_correctness, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    renamed = ("k", "price")
    snap = o.toDF(*renamed)
    matched, inserts = relational._merge_changes(o)
    changes = matched.unionByName(inserts).toDF(*renamed, "kind")
    exp = sorted(
        (r["o_orderkey"], r["o_totalprice"], r["action"])
        for r in relational.q34_merge_upsert(spark, sf_correctness).collect()
    )
    for disjoint in (False, True):
        got = sorted(
            (r["k"], r["price"], r["action"])
            for r in api.merge_upsert(
                snap,
                changes,
                "k",
                op_col="kind",
                assume_disjoint_inserts=disjoint,
                with_action=True,
            ).collect()
        )
        assert got == exp, f"disjoint={disjoint}"


def test_merge_upsert_ignores_matched_inserts_and_validates_schema(spark):
    """ANSI not-matched contract: an insert whose key already exists in
    the snapshot is a no-op (general path); missing payload columns in
    the change batch fail loudly."""
    import pytest

    snap = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    ch = spark.createDataFrame(
        [(2, "colliding", "insert"), (3, "new", "insert")], ["k", "v", "op"]
    )
    out = {
        r["k"]: (r["v"], r["action"])
        for r in api.merge_upsert(snap, ch, "k", with_action=True).collect()
    }
    assert out == {1: ("a", "unchanged"), 2: ("b", "unchanged"), 3: ("new", "insert")}
    with pytest.raises(ValueError, match="missing columns"):
        api.merge_upsert(snap, ch.drop("v"), "k")


def test_host_reputation_matches_t23(spark, sf_correctness):
    """api.host_reputation with t23's derived host + junk signal and
    thresholds must assign identical verdicts."""
    d = load_table(spark, sf_correctness, "documents").select(
        F.concat(
            F.col("source"),
            F.lit("-h"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com"),
        ).alias("host"),
        (F.col("n_chars") < text_ops.T23_JUNK_CHARS).alias("is_junk"),
    )
    got = {
        r["host"]: (r["n_docs"], r["junk_docs"], r["verdict"])
        for r in api.host_reputation(
            d,
            "host",
            "is_junk",
            min_support=text_ops.T23_MIN_SUPPORT,
            junk_frac=0.25,
        ).collect()
    }
    exp = {
        r["host"]: (r["n_docs"], r["junk_docs"], r["verdict"])
        for r in text_ops.t23_host_reputation(spark, sf_correctness).collect()
    }
    assert got == exp


def test_semantic_dedup_matches_d11(spark, sf_correctness):
    """The BLAS production form must reproduce d11's verdicts exactly —
    both round the cosine to 6 decimals before the τ compare, so
    summation-order differences cannot flip a decision."""
    exp = {
        r["vec_id"]: (r["cell"], r["kept"], r["dup_of"])
        for r in dedup.d11_semantic_dedup(spark, sf_correctness).collect()
    }
    e = load_table(spark, sf_correctness, "embeddings")
    got = {
        r["vec_id"]: (r["cell"], r["kept"], r["dup_of"])
        for r in api.semantic_dedup(
            e,
            "embedding",
            "vec_id",
            tau=dedup.SEMDEDUP_TAU,
            planes=dedup.SEMDEDUP_PLANES,
        ).collect()
    }
    assert got == exp


def test_merge_upsert_guards_fire_at_execution(spark):
    """A NULL or misspelled op, or two matched ops for one key, must
    ERROR when the plan runs — never silently vanish, no-op, or fan the
    snapshot row out into duplicates (the ANSI/Delta multiple-match
    contract). The guards are execution-time raise_error expressions so
    the function itself stays lazy."""
    import pytest

    snap = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    bad_op = spark.createDataFrame([(1, "x", "upsert")], ["k", "v", "op"])
    with pytest.raises(Exception, match="invalid op"):
        api.merge_upsert(snap, bad_op, "k").collect()
    null_op = spark.createDataFrame(
        [(1, "x", None)], "k long, v string, op string"
    )
    with pytest.raises(Exception, match="invalid op"):
        api.merge_upsert(snap, null_op, "k").collect()
    two_ops = spark.createDataFrame(
        [(1, "x", "update"), (1, "y", "delete")], ["k", "v", "op"]
    )
    with pytest.raises(Exception, match="multiple matched ops"):
        api.merge_upsert(snap, two_ops, "k").collect()


def test_host_reputation_threshold_is_exact_for_nondyadic_fractions(spark):
    """A host at EXACTLY the junk fraction must be 'junky': with
    junk_frac=0.1, 3 junk of 30 docs means junk*10 >= 30*1 — a float
    multiply would compute 30*0.1 = 3.0000000000000004 and let the
    host escape."""
    rows = [("h", i < 3) for i in range(30)]
    df = spark.createDataFrame(rows, ["host", "is_junk"])
    out = api.host_reputation(
        df, "host", "is_junk", min_support=1, junk_frac=0.1
    ).collect()
    assert out[0]["verdict"] == "junky", out


def test_semantic_dedup_zero_norm_matches_d11_nan_semantics(spark):
    """d11's cosine for a zero-norm side is 0/0 = NaN, and Spark orders
    NaN above every number, so a pair touching a zero vector always
    verifies; the BLAS kernel must reproduce that, not divide-guard it
    away. Zero vectors project to 0 on every plane and land in cell 0,
    so the test constructs a guaranteed cell-0 companion from the
    actual plane signs (v = −Σ planes: every projection is then
    −64 − small cross terms < 0)."""
    from big_data_analytics_cse545_spark.operators.similarity import (
        _plane_sign,
    )

    signs = [[float(_plane_sign(p, d)) for d in range(64)] for p in range(4)]
    v0 = [-sum(col) for col in zip(*signs)]
    assert all(
        sum(s * v for s, v in zip(signs[p], v0)) <= 0 for p in range(4)
    ), "companion vector must project non-positive on every plane"
    rows = [
        (1, v0),                         # cell 0 by construction
        (2, [0.0] * 64),                 # zero vector, cell 0 → dup of 1
        (3, [x / 2 for x in v0]),        # cell 0, cos(1,3)=1 → dup of 1
    ]
    out = {
        r["vec_id"]: (r["kept"], r["dup_of"])
        for r in api.semantic_dedup(
            spark.createDataFrame(rows, ["vec_id", "embedding"]),
            "embedding",
            "vec_id",
            tau=0.4,
            planes=4,
        ).collect()
    }
    assert out[1] == (True, None)
    assert out[2] == (False, 1), "zero vector must verify against any cell-mate"
    assert out[3] == (False, 1)


def test_spark_half_up_round6_matches_spark_round(spark):
    """api._spark_half_up_round6 must agree with Spark's round(x, 6)
    bit-for-bit, INCLUDING shortest-repr exact midpoints where the
    floor(|x|*1e6+0.5) trick and BigDecimal-over-repr can diverge
    (ADVICE r4 #1)."""
    import numpy as np

    vals = [
        0.1234565,        # shortest repr IS a 6-decimal midpoint
        -0.1234565,
        0.9999995,
        -0.9999995,
        0.0000005,
        0.1234564999999,  # just below a midpoint
        0.12345650000001, # just above
        0.5,
        -1.0,
        0.0,
        0.333333333333333,
        1.0,
    ]
    expected = [
        r["r"]
        for r in spark.createDataFrame([(v,) for v in vals], ["x"])
        .selectExpr("round(x, 6) AS r")
        .collect()
    ]
    got = api._spark_half_up_round6(np.array(vals, dtype=np.float64))
    assert [float(g) for g in got] == [float(e) for e in expected], list(
        zip(vals, got, expected)
    )


def test_merge_upsert_rejects_reserved_action_columns(spark):
    """A payload column named '__action' (always) or 'action' (when
    with_action=True) would collide with the synthesized audit column —
    merge_upsert must refuse instead of emitting duplicate/ambiguous
    columns (ADVICE r4 #2)."""
    import pytest

    snap = spark.createDataFrame([(1, "a")], ["k", "__action"])
    ch = spark.createDataFrame([(1, "b", "update")], ["k", "__action", "op"])
    with pytest.raises(ValueError, match="collide with"):
        api.merge_upsert(snap, ch, "k")
    snap2 = spark.createDataFrame([(1, "a")], ["k", "action"])
    ch2 = spark.createDataFrame([(1, "b", "update")], ["k", "action", "op"])
    with pytest.raises(ValueError, match="collide with"):
        api.merge_upsert(snap2, ch2, "k", with_action=True)
    # 'action' without with_action is an ordinary payload column
    out = api.merge_upsert(snap2, ch2, "k").collect()
    assert out[0]["action"] == "b"


def test_host_reputation_rejects_unrepresentable_threshold(spark):
    """junk_frac snaps to a denominator-<=1e6 rational for the exact
    integer compare; a threshold outside 1e-9 of any such rational must
    raise instead of being silently altered (ADVICE r4 #3)."""
    import pytest

    df = spark.createDataFrame([("h", True)], ["host", "is_junk"])
    api.host_reputation(df, "host", "is_junk", junk_frac=1 / 3)  # fine: 1/3 snaps exactly
    with pytest.raises(ValueError, match="not representable"):
        api.host_reputation(df, "host", "is_junk", junk_frac=1e-8)


def test_ann_join_lsh_candidate_stage_is_narrow(spark, sf_smoke):
    """The xn_tables explode must ship (id, table, bucket) rows only —
    embeddings rejoin by id AFTER pair-dedup (the s06 operator's
    measured shape), so the dedup shuffle payload is independent of
    embedding width."""
    import re

    e = load_table(spark, sf_smoke, "embeddings")
    q = e.filter(F.col("vec_id") % 10 == 0)
    df = api.ann_join(
        q, e, "embedding", "vec_id", k=3, method="lsh", n_planes=4, n_tables=4
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    gens = [ln for ln in plan.splitlines() if "Generate posexplode" in ln]
    assert len(gens) == 2, f"expected 2 exploded signature relations: {len(gens)}"
    for ln in gens:
        assert re.search(r"\[(q_id|neighbor_id)#\d+L?\], false, \[_t#\d+, _b#\d+\]$", ln), (
            f"exploded relation is not narrow: ...{ln[-140:]}"
        )


def test_ann_join_single_table_joins_on_the_bucket(spark, sf_smoke):
    """With one LSH table no pair can collide twice, so the rows join on
    the bucket directly: no posexplode of signatures and no
    (q_id, neighbor_id) pair-dedup shuffle."""
    from big_data_analytics_cse545_spark.plans import shuffle_exchanges

    e = load_table(spark, sf_smoke, "embeddings")
    q = e.filter(F.col("vec_id") % 10 == 0)
    df = api.ann_join(
        q, e, "embedding", "vec_id", k=3, method="lsh", n_tables=1, dim=64
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate posexplode" not in plan
    shuffles = shuffle_exchanges(df)
    assert not any("q_id" in s and "neighbor_id" in s for s in shuffles), shuffles


def test_ivf_pq_join_hot_cell_sharding_is_exact(spark, sf_correctness, monkeypatch):
    """Forcing the hot-cell sub-shard path (cell row budget shrunk below
    the fixture's cell sizes) must return exactly the unsharded result:
    per-query results are shard-independent and the window merges them
    (round-6 review — KMeans cells, unlike the grid path, had no size
    cap and a hot cell materialized unbounded pandas frames)."""
    from big_data_analytics_cse545_spark.operators import projection

    e = load_table(spark, sf_correctness, "embeddings")
    q = e.filter(F.col("vec_id") % similarity.QUERY_MOD == 0)
    base = sorted(
        map(tuple, api.ivf_pq_join(q, e, "embedding", "vec_id", k=3).collect())
    )
    monkeypatch.setattr(projection, "PQ_CORPUS_ROWS_PER_BLOCK", 8)
    sharded = sorted(
        map(tuple, api.ivf_pq_join(q, e, "embedding", "vec_id", k=3).collect())
    )
    assert base == sharded and len(base) > 0


def _raw_host_links(spark, sf_dir):
    """g01-g03's per-document link multiset under renamed endpoint
    columns (u, v), with self-loops and repeated links still in it, plus
    the documents' own hosts — the api's distinct/count and hygiene,
    not the query's input, must produce the bound query's graph."""
    hosts, links = graph._host_links(load_table(spark, sf_dir, "documents"))
    links = links.select(F.col("src_host").alias("u"), F.col("dst_host").alias("v"))
    assert links.filter(F.col("u") == F.col("v")).count() > 0, "no self-loop"
    assert links.count() > links.distinct().count(), "no repeated link"
    return hosts, links


def test_host_pagerank_matches_g01(spark, sf_smoke):
    """api.host_pagerank fed the raw link multiset + the document hosts
    must reproduce g01's exact rank table (same integer arithmetic)."""
    hosts, links = _raw_host_links(spark, sf_smoke)
    got = {
        (r["host"], r["rank_micro"], r["out_deg"])
        for r in api.host_pagerank(links, "u", "v", extra_nodes=hosts).collect()
    }
    exp = {
        (r["host"], r["rank_micro"], r["out_deg"])
        for r in graph.g01_host_pagerank(spark, sf_smoke).collect()
    }
    assert got == exp


def test_host_trustrank_matches_g02_and_all_seeds_degenerates(spark, sf_smoke):
    """api.host_trustrank fed the raw link multiset + the slot-0 seed
    list must reproduce g02's exact rank table; fed EVERY node as a seed
    it must reproduce host_pagerank exactly (the all-seeds degeneracy
    that justifies the g01 ↔ g02 twin demotion)."""
    hosts, links = _raw_host_links(spark, sf_smoke)
    nodes = hosts.union(links.select(F.col("v").alias("host")))
    seeds = nodes.filter(F.col("host").endswith(graph.G02_SEED_SUFFIX))
    got = {
        (r["host"], r["rank_micro"], r["out_deg"])
        for r in api.host_trustrank(
            links, "u", "v", seeds, extra_nodes=hosts
        ).collect()
    }
    exp = {
        (r["host"], r["rank_micro"], r["out_deg"])
        for r in graph.g02_host_trustrank(spark, sf_smoke).collect()
    }
    assert got == exp
    all_seeded = {
        (r["host"], r["rank_micro"], r["out_deg"])
        for r in api.host_trustrank(
            links, "u", "v", nodes, extra_nodes=hosts
        ).collect()
    }
    uniform = {
        (r["host"], r["rank_micro"], r["out_deg"])
        for r in api.host_pagerank(links, "u", "v", extra_nodes=hosts).collect()
    }
    assert all_seeded == uniform


def test_host_pagerank_weighted_matches_g03_both_weight_forms(spark, sf_smoke):
    """api.host_pagerank_weighted must reproduce g03's exact rank table
    through BOTH weight forms: the raw per-mention multiset with
    weight_col=None (multiplicity counted inside the api), and the
    pre-counted (u, v, w) relation with weight_col='w' (weights summed
    per pair — already unique here, so the sum is the identity). One
    kernel, two ingestion spellings."""
    hosts, links = _raw_host_links(spark, sf_smoke)
    exp = {
        (r["host"], r["rank_micro"], r["out_weight"])
        for r in graph.g03_host_pagerank_weighted(spark, sf_smoke).collect()
    }
    counted = {
        (r["host"], r["rank_micro"], r["out_weight"])
        for r in api.host_pagerank_weighted(
            links, "u", "v", extra_nodes=hosts
        ).collect()
    }
    assert counted == exp
    pre = links.groupBy("u", "v").agg(F.count(F.lit(1)).cast("long").alias("w"))
    explicit = {
        (r["host"], r["rank_micro"], r["out_weight"])
        for r in api.host_pagerank_weighted(
            pre, "u", "v", weight_col="w", extra_nodes=hosts
        ).collect()
    }
    assert explicit == exp


def test_kmeans_trace_matches_p08_and_is_bit_deterministic(spark, sf_smoke):
    """p08's oracle checks api.kmeans_trace on (vec_id, embedding) with
    dim given; over renamed columns, with dim inferred, it must
    reproduce p08's exact trace. With a custom k and adversarial
    repartitioning it must still return a bit-identical trace (the
    integer-arithmetic guarantee the API docstring sells)."""
    from big_data_analytics_cse545_spark.operators import projection
    from big_data_analytics_cse545_spark.sources import load_table

    e = load_table(spark, sf_smoke, "embeddings")
    got = [
        tuple(r)
        for r in api.kmeans_trace(
            e.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v")),
            "v",
            "id",
            k=projection.P08_K, iters=projection.P08_ITERS,
        ).collect()
    ]
    exp = [
        tuple(r)
        for r in projection.p08_kmeans_trace(spark, sf_smoke).collect()
    ]
    assert got == exp
    a = [
        tuple(r)
        for r in api.kmeans_trace(e, "embedding", "vec_id", k=5, iters=3).collect()
    ]
    b = [
        tuple(r)
        for r in api.kmeans_trace(
            e.repartition(13), "embedding", "vec_id", k=5, iters=3
        ).collect()
    ]
    assert a == b and a
    assert {r[0] for r in a} == {1, 2, 3} and max(r[1] for r in a) <= 4


def test_kmeans_trace_mixed_dim_inference_is_partition_independent(spark):
    """Round-10 ADVICE pin: on a column with MIXED vector lengths, dim
    is inferred from the vector of the MINIMUM id — so which rows
    survive the size filter (and the whole trace) cannot depend on
    partitioning or scan order. The explicit-dim spelling must agree
    with the inferred one, and choosing the other dim explicitly must
    select the OTHER row population."""
    rows = [(i, [float(i), float(i % 3), 1.0]) for i in range(0, 40, 2)]
    rows += [(i, [float(i), 2.0, 0.5, -1.0]) for i in range(1, 40, 2)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    base = [
        tuple(r)
        for r in api.kmeans_trace(df, "embedding", "vec_id", k=3, iters=2).collect()
    ]
    shuffled = [
        tuple(r)
        for r in api.kmeans_trace(
            df.repartition(7), "embedding", "vec_id", k=3, iters=2
        ).collect()
    ]
    assert base == shuffled and base
    # min id is 0 (dim 3) → inference must pick dim 3 = the explicit form
    explicit3 = [
        tuple(r)
        for r in api.kmeans_trace(
            df, "embedding", "vec_id", k=3, iters=2, dim=3
        ).collect()
    ]
    assert base == explicit3
    # the dim-4 population is a different (odd-id) universe entirely
    explicit4 = [
        tuple(r)
        for r in api.kmeans_trace(
            df, "embedding", "vec_id", k=3, iters=2, dim=4
        ).collect()
    ]
    assert explicit4 and explicit4 != base
    n3 = sum(r[2] for r in explicit3 if r[0] == 1)
    n4 = sum(r[2] for r in explicit4 if r[0] == 1)
    assert n3 == 20 and n4 == 20  # each population fully assigned


def test_host_pagerank_weighted_rejects_fractional_weight_types(spark):
    """Round-10 self-review pin: a float weight column would be
    silently TRUNCATED by the long cast (0.5 → 0 → dropped by the >0
    filter — an empty graph with no error), so non-integral weight
    types are rejected loudly instead."""
    import pytest

    df = spark.createDataFrame(
        [("a", "b", 0.5), ("b", "a", 2.7)], "s string, d string, w double"
    )
    with pytest.raises(ValueError, match="integral"):
        api.host_pagerank_weighted(df, "s", "d", weight_col="w")


def test_host_pagerank_hand_graph_and_edge_hygiene(spark):
    """Known graph, hand-computed integer ranks: a 2-cycle plus a source
    and a sink; parallel edges collapse to one, self-loops and null
    endpoints are dropped, and an isolated extra node gets the floor."""
    from big_data_analytics_cse545_spark.operators.graph import (
        G01_BASE,
        G01_RANK_ONE,
    )

    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "a"),          # 2-cycle
            ("s", "a"), ("s", "a"),          # parallel edge -> one link
            ("s", "sink"),
            ("x", "x"),                      # self-loop: dropped
            (None, "a"), ("a", None),        # null endpoints: dropped
        ],
        "u string, v string",
    )
    iso = spark.createDataFrame([("lonely",)], "host string")
    out = {
        r["host"]: (r["rank_micro"], r["out_deg"])
        for r in api.host_pagerank(edges, "u", "v", iters=1, extra_nodes=iso).collect()
    }
    # after 1 iteration from uniform R: node gets BASE + sum of
    # (R*85)//(outdeg*100) over in-edges. s: outdeg 2 (a, sink; the
    # parallel s->a collapsed). x dropped entirely (self-loop only).
    c_full = (G01_RANK_ONE * 85) // 100          # from outdeg-1 neighbor
    c_half = (G01_RANK_ONE * 85) // 200          # from outdeg-2 neighbor
    assert "x" not in out
    assert out["lonely"] == (G01_BASE, 0)
    assert out["sink"] == (G01_BASE + c_half, 0)
    assert out["a"] == (G01_BASE + c_full + c_half, 1)
    assert out["b"] == (G01_BASE + c_full, 1)
    assert out["s"] == (G01_BASE, 2)


def test_bpe_train_matches_t24(spark, sf_smoke):
    """t24's oracle-free golden checks api.bpe_train on ``text``; over a
    renamed text column it must reproduce t24's merge table exactly."""
    got = [
        tuple(r)
        for r in api.bpe_train(_renamed_documents(spark, sf_smoke), "body")
        .orderBy("step")
        .collect()
    ]
    exp = [
        tuple(r)
        for r in text_ops.t24_bpe_train(spark, sf_smoke).orderBy("step").collect()
    ]
    assert got == exp and len(got) == 12


def test_bpe_vocab_layout_and_duplicate_merged_strings(spark):
    """The shipped vocabulary's id contract: base alphabet [0-9a-z] at
    ids 0..35, merges in step order after it, contiguous ids, and
    FIRST-WINS when two different rules produce the same merged string
    (("a","bc") then ("ab","c") both yield "abc" — a string-keyed
    vocab must give the earlier id ownership)."""
    merges = spark.createDataFrame(
        [(1, "a", "bc"), (2, "ab", "c"), (3, "x", "y")],
        "step long, left string, right string",
    )
    rows = api.bpe_vocab(merges).orderBy("token_id").collect()
    base = "0123456789abcdefghijklmnopqrstuvwxyz"
    assert [(r["token"], r["token_id"]) for r in rows[:36]] == [
        (c, i) for i, c in enumerate(base)
    ]
    tail = [(r["token"], r["token_id"]) for r in rows[36:]]
    # "abc" appears ONCE (step 1 owns it); "xy" follows contiguously
    assert tail == [("abc", 36), ("xy", 37)]


def test_bpe_encode_ids_agree_with_vocab_in_both_regimes(spark, sf_smoke):
    """emit='ids' must be exactly the vocab mapping of emit='tokens',
    in BOTH execution regimes — and the two regimes must agree with
    each other (the t25 parity contract extended to ids)."""
    d = load_table(spark, sf_smoke, "documents").limit(120)
    merges = api.bpe_train(d, "text", n_merges=8)
    vocab = {
        r["token"]: r["token_id"] for r in api.bpe_vocab(merges).collect()
    }
    toks = {
        r["doc_id"]: r["toks"]
        for r in api.bpe_encode(d, merges).select("doc_id", "toks").collect()
    }
    for mode in ("expr", "arrow"):
        ids = {
            r["doc_id"]: r["toks"]
            for r in api.bpe_encode(d, merges, mode=mode, emit="ids")
            .select("doc_id", "toks")
            .collect()
        }
        assert ids == {
            did: [vocab[t] for t in ts] for did, ts in toks.items()
        }, mode
    import pytest as _pytest

    with _pytest.raises(ValueError, match="emit must be"):
        api.bpe_encode(d, merges, emit="bytes")


def test_bpe_artifact_round_trip_and_mismatch_guards(spark, sf_smoke, tmp_path):
    """save_bpe → load_bpe must reproduce encoding exactly (the
    train-once-encode-many contract across jobs), and load_bpe must
    refuse a tampered tokenizer contract and a torn merge table."""
    import json

    import pytest as _pytest

    d = load_table(spark, sf_smoke, "documents").limit(80)
    merges = api.bpe_train(d, "text", n_merges=6)
    path = str(tmp_path / "bpe")
    api.save_bpe(merges, path)
    loaded = api.load_bpe(spark, path)
    a = {r["doc_id"]: r["toks"]
         for r in api.bpe_encode(d, merges).select("doc_id", "toks").collect()}
    b = {r["doc_id"]: r["toks"]
         for r in api.bpe_encode(d, loaded).select("doc_id", "toks").collect()}
    assert a == b
    # tampered tokenizer contract → loud refusal
    bad = str(tmp_path / "bpe_bad")
    api.save_bpe(merges, bad)
    params = json.loads(
        spark.read.parquet(f"{bad}/params").collect()[0]["params"]
    )
    params["tokenizer"] = "lower+split:[^a-z]+"
    spark.createDataFrame(
        [(json.dumps(params),)], "params string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{bad}/params")
    with _pytest.raises(ValueError, match="re-train"):
        api.load_bpe(spark, bad)
    # torn table (a step missing) → loud refusal
    torn = str(tmp_path / "bpe_torn")
    api.save_bpe(merges, torn)
    merges.filter(F.col("step") != 3).write.mode("overwrite").parquet(
        f"{torn}/merges"
    )
    with _pytest.raises(ValueError, match="torn"):
        api.load_bpe(spark, torn)


def test_shared_spans_api_and_min_span_guard(spark):
    """api.shared_spans matches the d13 core on a planted corpus, the
    min_span knob only RAISES the threshold (filtering shorter spans),
    and a below-guarantee min_span is a loud refusal."""
    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    df = spark.createDataFrame(
        [
            (1, "zeta one two three four " + shared + " omega nine"),
            (2, "kappa red green blue yellow purple " + shared),
        ],
        "doc_id bigint, text string",
    )
    spans = api.shared_spans(df, "text", "doc_id").collect()
    assert len(spans) == 1 and spans[0]["span_len"] == 10
    assert api.shared_spans(df, "text", "doc_id", min_span=11).count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="guarantee"):
        api.shared_spans(df, "text", "doc_id", min_span=3)
    stripped = {
        r["doc_id"]: r["toks"]
        for r in api.strip_spans(
            df, api.shared_spans(df, "text", "doc_id"), "text", "doc_id"
        ).collect()
    }
    assert stripped[2] == "kappa red green blue yellow purple".split()
    assert len(stripped[1]) == 17


def test_text_and_dedup_functions_handle_documents_without_tokens(spark):
    """Empty, NULL and punctuation-only text reach the public functions
    in production but in no fixture. Each function must run on them,
    and a row without tokens gets the SQL (DuckDB-oracle) value: a NULL
    ratio, never a DIVIDE_BY_ZERO or a made-up score."""
    df = spark.createDataFrame(
        [(1, "the cat and the dog"), (2, ""), (3, None), (4, "!!! ...")],
        "doc_id bigint, text string",
    ).withColumn("source", F.lit("web"))
    no_tokens = {2, 3, 4}

    q = {r["doc_id"]: r["quality"] for r in api.quality_score(df, "text").collect()}
    # 5 tokens (0.05 of the length cap), stopword share 3/5, mean length 3
    assert q[1] == pytest.approx(0.05 * 0.5 + 1.0 * 0.3 + 0.5 * 0.2)
    assert all(q[i] is None for i in no_tokens)

    rep = {r["doc_id"]: r for r in api.repetition_signals(df, "text").collect()}
    assert rep[1]["dup_token_frac"] == pytest.approx(1 - 4 / 5)
    assert rep[1]["top_bigram_frac"] == pytest.approx(1 / 4)
    assert all(rep[i]["dup_token_frac"] is None for i in no_tokens)
    assert all(rep[i]["top_bigram_frac"] == 0.0 for i in no_tokens)

    packs = {
        r["doc_id"]: r["pack_id"]
        for r in api.pack_sequences(df, "text", "doc_id", "source", max_len=4).collect()
    }
    # NULL text has no token count, so its pack is NULL (t12's oracle)
    assert packs == {1: 0, 2: 1, 3: None, 4: 1}

    assert api.minhash_dedup_pairs(df, "text", "doc_id").collect() == []

    corpus = spark.createDataFrame(
        [(10, "the cat and the dog"), (11, "")], "doc_id bigint, text string"
    )
    inc = {
        r["doc_id"]: (r["exact_dup"], r["near_dup_of"], r["decision"])
        for r in api.incremental_dedup(df, corpus, "text", "doc_id").collect()
    }
    assert inc == {
        1: (True, 10, "drop_exact"),
        2: (True, None, "drop_exact"),  # md5('') matches the empty corpus doc
        3: (False, None, "keep"),
        4: (False, None, "keep"),
    }

    bench = spark.createDataFrame([(100, "the cat and the dog")], "doc_id bigint, text string")
    kept = api.decontaminate(df, bench, "text", "doc_id").collect()
    assert sorted(r["doc_id"] for r in kept) == [2, 3, 4]

    # a NULL text has no chunks; an empty one is one empty chunk (t17)
    chunks = {
        (r["doc_id"], r["chunk_idx"]): r["chunk_text"]
        for r in api.chunk_documents(df, "text", "doc_id").collect()
    }
    assert chunks == {(1, 0): "the cat and the dog", (2, 0): "", (4, 0): ""}

    # a NULL junk flag counts as not junk, so an all-NULL host has 0
    # junk docs, not NULL (t23)
    flags = spark.createDataFrame(
        [("a", None), ("a", None), ("b", True), ("b", None)],
        "host string, is_junk boolean",
    )
    rep = {
        r["host"]: (r["junk_docs"], r["verdict"])
        for r in api.host_reputation(flags, "host", "is_junk", min_support=2).collect()
    }
    assert rep == {"a": (0, "keep"), "b": (1, "junky")}


@pytest.mark.parametrize(
    "module, query, function",
    [
        (text_ops, "t06_quality_score", "quality_score"),
        (text_ops, "t12_pack_sequences", "pack_sequences"),
        (text_ops, "t13_repetition_filter", "repetition_signals"),
        (text_ops, "t17_chunk_overlap", "chunk_documents"),
        (text_ops, "t21_bm25_score", "bm25_score"),
        (text_ops, "t22_unigram_nll", "perplexity_gate"),
        (sampling, "x04_token_budget_select", "token_budget_select"),
        (sampling, "x05_stratified_sample", "stratified_sample"),
        (sampling, "x06_leakage_safe_split", "leakage_safe_split"),
        (dedup, "d03_minhash_lsh_dedup", "minhash_dedup_pairs"),
        (dedup, "d08_dup_clusters", "dup_clusters"),
        (dedup, "d10_incremental_dedup", "incremental_dedup"),
        (dedup, "d12_cdc_chunk_dedup", "cdc_dedup"),
        (graph, "g01_host_pagerank", "host_pagerank"),
        (graph, "g02_host_trustrank", "host_trustrank"),
        (graph, "g03_host_pagerank_weighted", "host_pagerank_weighted"),
        (similarity, "s01_knn_bruteforce", "ann_join"),
        (similarity, "s02_ann_hyperplane_lsh", "ann_join"),
        (similarity, "s06_ann_multitable_lsh", "ann_join"),
        (relational, "q36_merge_upsert_general", "merge_upsert"),
        (projection, "p08_kmeans_trace", "kmeans_trace"),
        (text_ops, "t24_bpe_train", "bpe_train"),
    ],
)
def test_registry_query_is_a_binding_of_the_api_function(
    spark, sf_smoke, monkeypatch, module, query, function
):
    """Each of these registry queries must build through its public api
    function, so its DuckDB oracle checks the code users call. A second
    copy of the logic inside the operator module fails this test."""
    real = getattr(api, function)
    calls = []

    def spy(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(api, function, spy)
    module.QUERIES[query](spark, sf_smoke)
    assert calls, f"{query} did not call api.{function}"


def test_tokenizer_expression_has_one_copy():
    """The tokenizer lives in functions.text.tokens and its DuckDB twin
    in functions.text.SQL_TOKENS only; an inlined copy in api.py or
    operators/ is where the copies drifted apart."""
    pkg = Path(api.__file__).parent
    for path in [pkg / "api.py", *sorted((pkg / "operators").glob("*.py"))]:
        src = path.read_text()
        assert "F.split(F.lower(" not in src, path
        assert "string_split_regex(lower(" not in src, path


def test_plane_sign_has_one_copy():
    """The md5-parity hyperplane sign lives in operators.similarity
    (``_plane_sign``, behind hyperplane_bucket_expr/_sql) only; a second
    Python copy in api.py or operators/ is free to drift from the planes
    the s02/s05/s06/d11 oracles regenerate."""
    pkg = Path(api.__file__).parent
    paths = [pkg / "api.py", *sorted((pkg / "operators").glob("*.py"))]
    copies = sum(p.read_text().count('md5(f"{p}_{d}"') for p in paths)
    assert copies == 1, copies
