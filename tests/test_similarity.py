"""L3 similarity search: oracle parity + ANN-vs-exact recall sanity."""

from __future__ import annotations

import pytest

from big_data_analytics_cse545_spark.operators import similarity
from tests.oracle_utils import assert_parity


@pytest.mark.parametrize("name", sorted(similarity.QUERIES))
def test_similarity_oracle_parity(spark, sf_correctness, name):
    df = similarity.QUERIES[name](spark, sf_correctness)
    if name not in similarity.ORACLE:  # rows-only (e.g. MLlib LSH)
        assert df.count() > 0
        return
    assert_parity(df, similarity.ORACLE[name], sf_correctness, name)


def test_hyperplane_bucket_builds_one_literal_per_plane(monkeypatch):
    """Each plane's signs are one array literal: mapping ``F.lit`` over
    the ``dim`` entries of a plane gives the same optimized plan, but
    ``dim`` literal nodes per plane to analyse at every DataFrame step."""
    from pyspark.sql import functions as F

    real, calls = F.lit, []

    def spy(x):
        calls.append(x)
        return real(x)

    monkeypatch.setattr(F, "lit", spy)
    similarity.hyperplane_bucket_expr(n_planes=6, dim=64)
    assert len(calls) < 64, f"{len(calls)} F.lit calls for 6 planes"


def test_ivf_finds_exact_top1_mostly(spark, sf_correctness):
    """IVF with nprobe=2 should find the exact nearest neighbor for most
    queries (coarse cells are label clusters, so the top hit is usually
    in the probed cells)."""
    exact = {
        r["q_id"]: r["neighbor_id"]
        for r in similarity.s01_knn_bruteforce(spark, sf_correctness).collect()
        if r["rk"] == 1
    }
    ivf = {
        r["q_id"]: r["neighbor_id"]
        for r in similarity.s03_ann_ivf(spark, sf_correctness).collect()
        if r["rk"] == 1
    }
    assert exact, "expected at least one query vector"
    hits = sum(1 for q, n in exact.items() if ivf.get(q) == n)
    assert hits / len(exact) >= 0.5, (
        f"IVF recall@1 too low: {hits}/{len(exact)}"
    )


def test_brp_lsh_recalls_exact_euclidean_top1(spark, sf_correctness):
    """MLlib BucketedRandomProjectionLSH candidates must contain the exact
    euclidean nearest neighbor for most queries."""
    import numpy as np

    from big_data_analytics_cse545_spark.sources import load_table

    rows = load_table(spark, sf_correctness, "embeddings").collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=float) for r in rows}
    ids = sorted(vecs)
    exact_top1 = {}
    for q in (i for i in ids if i % similarity.QUERY_MOD == 0):
        dists = [(np.linalg.norm(vecs[q] - vecs[j]), j) for j in ids if j != q]
        exact_top1[q] = min(dists)[1]
    cands: dict[int, set] = {}
    for r in similarity.QUERIES["s04_brp_lsh_mllib"](spark, sf_correctness).collect():
        cands.setdefault(r["q_id"], set()).add(r["neighbor_id"])
    hits = sum(1 for q, n in exact_top1.items() if n in cands.get(q, set()))
    assert hits / len(exact_top1) >= 0.6, f"recall {hits}/{len(exact_top1)}"


def test_s06_or_construction_dominates_single_table(spark, sf_correctness):
    """Table 0 of s06's OR-construction IS s02's table (plane_offset 0),
    so s06's candidate set is a superset of s02's — per query, its
    rank-1 cosine can never be worse, and every query s02 answers s06
    answers too. This is the operator's whole contract (recall is
    monotone in tables); the exact recall numbers live in SCALE.md."""
    s02_top = {
        r["q_id"]: r["cos_sim"]
        for r in similarity.s02_ann_hyperplane_lsh(spark, sf_correctness).collect()
        if r["rk"] == 1
    }
    s06_rows = similarity.s06_ann_multitable_lsh(spark, sf_correctness).collect()
    s06_top = {r["q_id"]: r["cos_sim"] for r in s06_rows if r["rk"] == 1}
    assert s02_top, "expected s02 to answer at least one query"
    assert set(s02_top) <= set(s06_top)
    for q, c in s02_top.items():
        assert s06_top[q] >= c, f"q{q}: s06 top-1 {s06_top[q]} < s02 {c}"
    # more tables → at least as many (typically more) candidate rows
    s02_n = sum(
        1 for _ in similarity.s02_ann_hyperplane_lsh(spark, sf_correctness).collect()
    )
    assert len(s06_rows) >= s02_n
    # dedup before scoring: a pair colliding in several tables appears once
    pairs = [(r["q_id"], r["neighbor_id"]) for r in s06_rows]
    assert len(pairs) == len(set(pairs))


def test_s05_prefilter_beats_postfilter(spark, sf_correctness):
    """The reason the predicate must ride the candidate join: every s05
    result row satisfies the predicate AND delivers full k wherever the
    bucket holds k qualifying candidates, while post-filtering s02's
    unfiltered top-3 loses rows (measurably, on this corpus)."""
    from pyspark.sql import functions as F

    from big_data_analytics_cse545_spark.sources import load_table

    e = load_table(spark, sf_correctness, "embeddings")
    labels = {r["vec_id"]: r["label"] for r in e.select("vec_id", "label").collect()}
    s05 = similarity.s05_filtered_ann(spark, sf_correctness).collect()
    assert s05
    for r in s05:
        assert labels[r["neighbor_id"]] != labels[r["q_id"]]
    # post-filter baseline: drop same-label rows from the unfiltered ANN
    s02 = similarity.s02_ann_hyperplane_lsh(spark, sf_correctness).collect()
    post = [r for r in s02 if labels[r["neighbor_id"]] != labels[r["q_id"]]]
    from collections import Counter

    per_q_pre = Counter(r["q_id"] for r in s05)
    per_q_post = Counter(r["q_id"] for r in post)
    assert sum(per_q_pre.values()) > sum(per_q_post.values()), (
        "pre-filtering should deliver more qualifying neighbors than "
        "post-filtering the unfiltered top-k"
    )
    assert all(per_q_post[q] <= per_q_pre[q] for q in per_q_pre)
