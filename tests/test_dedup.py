"""L3 dedup: DuckDB-oracle parity + LSH-vs-exact recall invariant."""

from __future__ import annotations

import pytest

from big_data_analytics_cse545_spark.operators import dedup
from tests.oracle_utils import assert_parity


@pytest.mark.parametrize("name", sorted(dedup.ORACLE))
def test_dedup_oracle_parity(spark, sf_correctness, name):
    df = dedup.QUERIES[name](spark, sf_correctness)
    assert_parity(df, dedup.ORACLE[name], sf_correctness, name)


def test_mllib_minhash_recalls_exact_pairs(spark, sf_correctness):
    """d06 (MLlib MinHashLSH) must recall most exact jaccard≥0.8 pairs
    (probabilistic hash family → gated at 0.6 like s04) and report a
    jaccard consistent with the exact computation where recalled."""
    exact = {
        (r["d1"], r["d2"]): r["jaccard"]
        for r in dedup.d02_ngram_jaccard_pairs(spark, sf_correctness).collect()
    }
    lib = {
        (r["d1"], r["d2"]): r["jaccard"]
        for r in dedup.d06_minhash_mllib(spark, sf_correctness).collect()
    }
    assert exact
    recalled = [p for p in exact if p in lib]
    assert len(recalled) / len(exact) >= 0.6, (
        f"MLlib MinHashLSH recalled {len(recalled)}/{len(exact)}"
    )
    for p in recalled:
        assert abs(lib[p] - exact[p]) < 1e-6, (p, lib[p], exact[p])


def test_lsh_recalls_planted_duplicates(spark, sf_correctness):
    """Every jaccard≥0.8 pair found exactly (d02) must be recalled by the
    MinHash-LSH funnel (d03) — the reference's candidate-recall property
    (A2 PDF p.3 acceptance band, SURVEY §5.4)."""
    exact = {
        (r["d1"], r["d2"])
        for r in dedup.d02_ngram_jaccard_pairs(spark, sf_correctness).collect()
    }
    lsh = {
        (r["d1"], r["d2"])
        for r in dedup.d03_minhash_lsh_dedup(spark, sf_correctness).collect()
    }
    assert exact, "fixture should contain planted near-duplicates"
    missed = exact - lsh
    assert not missed, f"LSH missed planted near-dup pairs: {sorted(missed)}"


def test_d05_blocked_is_lazy_and_matches_closure(spark, sf_correctness):
    """The default near-dup path must not run any driver-side action at
    plan-construction time, and the distributed block-pair result must
    equal the guarded closure kernel bit-for-bit."""
    from big_data_analytics_cse545_spark.sources import load_table

    e = load_table(spark, sf_correctness, "embeddings")
    before = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    blocked = dedup.blocked_cosine_pairs(e, threshold=0.4)
    after = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    assert len(after) == len(before), "plan construction triggered a Spark job"
    got = {
        (r["v1"], r["v2"], r["cos_sim"]) for r in blocked.collect()
    }
    ref = {
        (r["v1"], r["v2"], r["cos_sim"])
        for r in dedup.closure_cosine_pairs(e, threshold=0.4).collect()
    }
    assert got == ref


def test_simhash64_planted_near_dups(spark):
    """Planted collision test: a doc differing by one token in fifty must
    land within hamming ≤ 3 of its original (and be caught through the
    4×16 banding); an unrelated doc must not pair with either."""
    base = " ".join(f"token{i}" for i in range(100))
    near = " ".join(f"token{i}" if i != 0 else "changed0" for i in range(100))
    other = " ".join(f"unrelated{i}" for i in range(100))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    pairs = {
        (r["d1"], r["d2"]): r["hamming"]
        for r in dedup.simhash_near_dup_pairs(df).collect()
    }
    assert (1, 2) in pairs, "near-duplicate not recalled by hamming banding"
    assert all(3 not in k for k in pairs), f"false positive with unrelated doc: {pairs}"


def test_simhash64_pigeonhole_recall(spark, sf_correctness):
    """Banding must lose nothing at hamming ≤ 3 (pigeonhole over 4 bands):
    every fingerprint pair within the threshold — computed exactly,
    without banding — must appear in d04's banded output."""
    from pyspark.sql import functions as F

    from big_data_analytics_cse545_spark.functions.text import tokens
    from big_data_analytics_cse545_spark.sources import load_table

    d = load_table(spark, sf_correctness, "documents")
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    bit_exprs = dedup._simhash_bit_exprs(dedup.SIMHASH_BITS, "locate")
    votes = toks.groupBy("doc_id").agg(
        *[F.sum(F.expr(f"2 * ({e}) - 1")).alias(f"v{j}") for j, e in enumerate(bit_exprs)]
    )
    fps = votes.select(
        "doc_id", F.expr(dedup._simhash_value_sql()).cast("bigint").alias("simhash")
    )
    a, b = fps.alias("a"), fps.alias("b")
    exact = {
        (r["d1"], r["d2"])
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("h"),
        )
        .filter(F.col("h") <= dedup.HAMMING_MAX)
        .collect()
    }
    banded = {
        (r["d1"], r["d2"])
        for r in dedup.d04_simhash_clusters(spark, sf_correctness).collect()
    }
    assert exact == banded


def test_closure_kernel_guard_refuses_large_corpus(spark, sf_correctness):
    """closure_cosine_pairs must refuse corpora above the size guard
    instead of collecting them to the driver (I26 policy)."""
    from big_data_analytics_cse545_spark.sources import load_table

    e = load_table(spark, sf_correctness, "embeddings")
    with pytest.raises(ValueError, match="guard"):
        dedup.closure_cosine_pairs(e, threshold=0.4, max_rows=10)


def test_d07_decontamination_excludes_benchmark_and_api_filters(spark, sf_correctness):
    """d07: output never contains benchmark ids and respects the
    min-shared threshold; api.decontaminate removes exactly the rows
    with >= min_shared n-gram overlap on a constructed corpus."""
    rows = dedup.d07_decontaminate(spark, sf_correctness).collect()
    assert rows, "expected contaminated docs on this fixture"
    assert all(r["doc_id"] % dedup.BENCH_MOD != 0 for r in rows)
    assert all(r["n_shared"] >= dedup.DECON_MIN_SHARED for r in rows)

    from big_data_analytics_cse545_spark import api

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "quick brown fox seen downtown"),       # shares 'quick_brown_fox'
            (2, "a completely different document here"),
            (3, "over the lazy dog it jumps again"),    # shares 'over_the_lazy', 'the_lazy_dog'
        ],
        "id long, text string",
    )
    kept = {r["id"] for r in api.decontaminate(corpus, bench, "text", "id").collect()}
    assert kept == {2}
    kept2 = {
        r["id"]
        for r in api.decontaminate(corpus, bench, "text", "id", min_shared=2).collect()
    }
    assert kept2 == {1, 2}


def test_connected_components_transitive_chain(spark):
    """A~B and B~C (A never directly paired with C) must collapse into
    one cluster; disjoint pairs must not merge. A 7-node path exercises
    multi-iteration convergence (diameter 6 > one propagation step)."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(10, 16)] + [(30, 31)], ["d1", "d2"]
    )
    got = {
        (r["id"], r["label"])
        for r in dedup.connected_components(edges, "d1", "d2").collect()
    }
    want = {(i, 10) for i in range(10, 17)} | {(30, 30), (31, 30)}
    assert got == want


def test_connected_components_reliable_checkpoint(spark):
    """reliable_checkpoint=True must produce identical labels while
    actually writing label blocks to the checkpoint directory — the
    cluster-grade mode where an executor loss recomputes from the last
    iteration's files instead of replaying the full iterative lineage.
    The returned relation's lineage must be a checkpoint scan (no Join
    left in the plan), proving a recompute never replays the loop."""
    import os

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(10, 16)] + [(30, 31)], ["d1", "d2"]
    )
    out = dedup.connected_components(
        edges, "d1", "d2", reliable_checkpoint=True
    )
    got = {(r["id"], r["label"]) for r in out.collect()}
    want = {(i, 10) for i in range(10, 17)} | {(30, 30), (31, 30)}
    assert got == want
    ckpt = spark.sparkContext._jsc.sc().getCheckpointDir()
    assert not ckpt.isEmpty(), "reliable mode must assign a checkpoint dir"
    ckpt_dir = ckpt.get()
    assert any(os.scandir(ckpt_dir.replace("file:", ""))), (
        "no checkpoint files written"
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan, (
        "result lineage should be a checkpoint scan, not the CC loop"
    )


def test_d08_clusters_consistent_with_d04_pairs(spark, sf_correctness):
    """Every d04 pair must land in the same d08 cluster, every clustered
    doc must appear in some pair, and cluster_id is the min member."""
    pairs = dedup.d04_simhash_clusters(spark, sf_correctness).collect()
    rows = dedup.d08_dup_clusters(spark, sf_correctness).collect()
    label = {r["doc_id"]: r["cluster_id"] for r in rows}
    size = {r["cluster_id"]: r["cluster_size"] for r in rows}
    assert pairs, "fixture should contain near-dup pairs"
    for p in pairs:
        assert label[p["d1"]] == label[p["d2"]], p
    paired = {p["d1"] for p in pairs} | {p["d2"] for p in pairs}
    assert set(label) == paired
    members: dict[int, set[int]] = {}
    for doc, lab in label.items():
        members.setdefault(lab, set()).add(doc)
    for lab, docs in members.items():
        assert lab == min(docs)
        assert size[lab] == len(docs)


def test_d09_flags_planted_partial_duplicate(spark):
    """A doc sharing exactly its first 16-token block with another doc
    gets dup_ratio = shared_blocks / n_blocks; fully-unique docs are
    absent from the result."""
    from big_data_analytics_cse545_spark.operators.dedup import D09_BLOCK

    assert D09_BLOCK == 16
    shared = " ".join(f"s{i}" for i in range(16))
    uniq_a = " ".join(f"a{i}" for i in range(16))
    uniq_b = " ".join(f"b{i}" for i in range(16))
    rows = [
        (1, f"{shared} {uniq_a}"),
        (2, f"{shared} {uniq_b}"),
        (3, " ".join(f"c{i}" for i in range(32))),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").createOrReplaceTempView(
        "_d09_docs"
    )
    import tempfile, os
    d = tempfile.mkdtemp()
    spark.table("_d09_docs").write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet")
    )
    from big_data_analytics_cse545_spark.operators import dedup as dd

    got = {r["doc_id"]: r for r in dd.d09_chunk_dedup(spark, d).collect()}
    assert set(got) == {1, 2}
    for doc in (1, 2):
        assert got[doc]["n_blocks"] == 2
        assert got[doc]["n_dup_blocks"] == 1
        assert got[doc]["dup_ratio"] == 0.5


def test_d10_incremental_dedup_invariants(spark, sf_smoke):
    """d10 only judges BATCH docs, never corpus-vs-corpus; exact dups
    are planted by writing a batch doc whose text equals a corpus doc's."""
    from big_data_analytics_cse545_spark.operators import dedup as dd

    rows = dd.d10_incremental_dedup(spark, sf_smoke).collect()
    assert rows, "batch slice must be non-empty at sf0.001"
    for r in rows:
        assert r["doc_id"] % dd.D10_BATCH_MOD == dd.D10_BATCH_REM
        if r["near_dup_of"] is not None:
            # near-dup target must be a CORPUS doc
            assert r["near_dup_of"] % dd.D10_BATCH_MOD != dd.D10_BATCH_REM
        expect = (
            "drop_exact"
            if r["exact_dup"]
            else ("drop_near" if r["near_dup_of"] is not None else "keep")
        )
        assert r["decision"] == expect


def test_d10_planted_exact_and_near_dup(spark):
    """A batch doc identical to a corpus doc → drop_exact; one sharing
    most shingles → drop_near pointing at that corpus doc; a disjoint
    one → keep. doc_id % 4 == 1 is the batch slice."""
    import os
    import tempfile

    from big_data_analytics_cse545_spark.operators import dedup as dd

    corpus_text = " ".join(f"w{i}" for i in range(30))
    near_text = " ".join(f"w{i}" for i in range(29)) + " zz"
    rows = [
        (0, corpus_text),                                  # corpus
        (4, " ".join(f"x{i}" for i in range(30))),         # corpus, unrelated
        (1, corpus_text),                                  # batch: exact dup of 0
        (5, near_text),                                    # batch: near dup of 0
        (9, " ".join(f"q{i}" for i in range(30))),         # batch: novel
    ]
    d = tempfile.mkdtemp()
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "documents.parquet"))
    got = {r["doc_id"]: r for r in dd.d10_incremental_dedup(spark, d).collect()}
    assert set(got) == {1, 5, 9}
    assert got[1]["decision"] == "drop_exact" and got[1]["exact_dup"]
    assert got[5]["decision"] == "drop_near" and got[5]["near_dup_of"] == 0
    assert got[9]["decision"] == "keep" and got[9]["near_dup_of"] is None


def test_d11_semantic_verdicts_match_numpy(spark, sf_correctness):
    """Independent numpy recomputation of every SemDeDup verdict: same
    md5-parity cells, exact all-pairs cosine, greedy min-id retention.
    Catches anything the (structurally similar) DuckDB oracle might
    share with the Spark plan."""
    import numpy as np

    from big_data_analytics_cse545_spark.operators.similarity import (
        DIM,
        _plane_sign,
    )
    from big_data_analytics_cse545_spark.sources import load_table

    got = {
        r["vec_id"]: (r["cell"], r["kept"], r["dup_of"])
        for r in dedup.d11_semantic_dedup(spark, sf_correctness).collect()
    }
    rows = load_table(spark, sf_correctness, "embeddings").orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    cells = np.zeros(len(ids), dtype=np.int64)
    for p in range(dedup.SEMDEDUP_PLANES):
        plane = np.array([_plane_sign(p, j) for j in range(DIM)], dtype=np.float64)
        cells += ((x @ plane) > 0).astype(np.int64) << p
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    sims = np.round(xn @ xn.T, 6)
    n_dropped = 0
    for i, vid in enumerate(ids):
        near_earlier = (
            (cells == cells[i]) & (ids < vid) & (sims[i] >= dedup.SEMDEDUP_TAU)
        )
        exp_dup = int(ids[near_earlier].min()) if near_earlier.any() else None
        cell, kept, dup_of = got[int(vid)]
        assert cell == cells[i], f"vec {vid}: cell {cell} != {cells[i]}"
        assert dup_of == exp_dup and kept == (exp_dup is None), (
            f"vec {vid}: got ({kept}, {dup_of}), expected dup_of={exp_dup}"
        )
        n_dropped += exp_dup is not None
    assert n_dropped > 0, "fixture must contain semantic near-dups"


def test_d12_cdc_shift_invariance(spark):
    """The CDC property fixed-block chunking (d09) lacks: prepending an
    edit only changes the chunks that touch it. Every original chunk
    after the first boundary must reappear verbatim in the chunking of
    the prefixed document."""
    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while seventeen astonished penguins catalogue every stone "
        "along the winding river path before the autumn rain arrives "
        "and the market closes early on thursdays during harvest"
    ) * 3
    df = spark.createDataFrame(
        [(1, base), (2, "EDITED-PREFIX-0123456789 " + base)],
        "doc_id bigint, text string",
    )
    got = dedup.cdc_chunks(df).collect()
    orig = [r["chunk"] for r in got if r["doc_id"] == 1]
    pref = [r["chunk"] for r in got if r["doc_id"] == 2]
    # chunking must be a partition of the text (coverage, order preserved)
    assert "".join(orig) == base
    assert "".join(pref) == "EDITED-PREFIX-0123456789 " + base
    assert len(orig) > 3, "fixture text must produce several chunks"
    # all original chunks past the first boundary survive the edit
    missing = [c for c in orig[1:] if c not in pref]
    assert not missing, f"chunks lost after prefix edit: {missing[:2]}"
    # and the first (edit-touching) chunk is the only one allowed to differ
    assert orig[1:] == pref[-(len(orig) - 1):]


def test_d12_empty_and_short_docs(spark):
    """Empty text yields no chunks; text shorter than the window is one
    whole-text chunk."""
    df = spark.createDataFrame(
        [(1, ""), (2, "abc")], "doc_id bigint, text string"
    )
    got = dedup.cdc_chunks(df).collect()
    assert [(r["doc_id"], r["chunk"]) for r in got] == [(2, "abc")]


def test_d12_xx_variant_density_and_shift_invariance(spark, sf_correctness):
    """The xxhash64 production variant must keep CDC's two contracts:
    boundary density ≈ 1/CDC_DIV (mean chunk length in a sane band
    around 64) and locality (chunking is a partition of the text;
    per-doc chunks deterministic across two runs)."""
    from pyspark.sql import functions as F

    from big_data_analytics_cse545_spark.sources import load_table

    d = load_table(spark, sf_correctness, "documents").limit(200)
    chunks = dedup.cdc_chunks(d, hash="xx")
    stats = chunks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.length("chunk")).alias("tot")
    )
    rows = stats.collect()
    mean_len = sum(r["tot"] for r in rows) / sum(r["n"] for r in rows)
    assert 30 < mean_len < 140, f"mean chunk length {mean_len} out of band"
    # determinism across plans
    again = {
        (r["doc_id"], r["n"], r["tot"])
        for r in dedup.cdc_chunks(d, hash="xx")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.length("chunk")).alias("tot"))
        .collect()
    }
    assert {(r["doc_id"], r["n"], r["tot"]) for r in rows} == again
    # partition-of-text: chunk lengths sum to doc length
    lens = {r["doc_id"]: r["tot"] for r in rows}
    for r in d.select("doc_id", F.length("text").alias("l")).collect():
        if r["l"] > 0:
            assert lens[r["doc_id"]] == r["l"]


def test_wide_key_banding_is_exact_and_narrower(spark, sf_correctness):
    """The Manku-style wide-key banding (3-of-(ham_k+3) blocks) must
    return EXACTLY the classic 4×16 scheme's verified pairs — both are
    recall-1 by pigeonhole, so any difference is a bug — while keying a
    ~32-bit space instead of 16-bit (the round-6 scale fix for the
    Θ(N²/2¹⁶) candidate mass past ~10⁷ docs)."""
    from big_data_analytics_cse545_spark.sources import load_table

    d = load_table(spark, sf_correctness, "documents")
    classic = sorted(
        map(tuple, dedup.simhash_near_dup_pairs(d, wide_keys=False).collect())
    )
    wide = sorted(
        map(tuple, dedup.simhash_near_dup_pairs(d, wide_keys=True).collect())
    )
    assert classic == wide and len(classic) > 0


def _span_corpus(spark):
    """Three docs sharing one planted 10-token passage (docs 1 and 2),
    plus an unrelated doc. Surroundings are made of distinct words so
    no accidental k-gram collides with the planted run."""
    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    d1 = "zeta one two three four " + shared + " omega nine eight seven six"
    d2 = "kappa red green blue yellow purple " + shared
    d3 = "totally unrelated words about gardening tomatoes and sunshine here"
    return spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], "doc_id bigint, text string"
    )


def test_d13_planted_span_is_exact_and_maximal(spark):
    """A planted shared run of exactly 10 tokens must surface as ONE
    span of span_len == 10 with exact 0-based inclusive bounds in both
    docs — not fragments, not an extended span (maximality both ways)."""
    spans = dedup.shared_spans(_span_corpus(spark)).collect()
    assert len(spans) == 1, spans
    s = spans[0]
    # d1: run starts after 5 lead tokens; d2: after 6 lead tokens
    assert (s["d1"], s["d2"]) == (1, 2)
    assert (s["s1"], s["e1"]) == (5, 14)
    assert (s["s2"], s["e2"]) == (6, 15)
    assert s["span_len"] == 10


def test_d13_below_threshold_run_is_silent(spark):
    """A shared run of SPAN_MIN_TOKENS − 1 tokens must produce NO span:
    the threshold is the winnowing guarantee boundary K+W−1, below
    which detection is not promised — so the operator reports nothing
    rather than something unreliable."""
    shared = " ".join(["s%d" % i for i in range(dedup.SPAN_MIN_TOKENS - 1)])
    df = spark.createDataFrame(
        [
            (1, "aa bb cc dd ee " + shared + " ff gg hh"),
            (2, "qq rr ss tt " + shared + " uu vv ww"),
        ],
        "doc_id bigint, text string",
    )
    assert dedup.shared_spans(df).count() == 0


def test_d13_exact_threshold_run_is_found(spark):
    """At exactly SPAN_MIN_TOKENS the winnowing guarantee kicks in: the
    run MUST be found, with span_len == SPAN_MIN_TOKENS."""
    shared = " ".join(["s%d" % i for i in range(dedup.SPAN_MIN_TOKENS)])
    df = spark.createDataFrame(
        [
            (1, "aa bb cc dd ee " + shared + " ff gg hh"),
            (2, "qq rr ss tt " + shared + " uu vv ww"),
        ],
        "doc_id bigint, text string",
    )
    spans = dedup.shared_spans(df).collect()
    assert len(spans) == 1
    assert spans[0]["span_len"] == dedup.SPAN_MIN_TOKENS


def test_d13_strip_spans_keep_first(spark):
    """strip_spans removes the span tokens from the LATER doc only:
    d1 keeps its full token stream, d2 loses exactly the planted run,
    and the untouched doc is returned verbatim."""
    corpus = _span_corpus(spark)
    spans = dedup.shared_spans(corpus)
    out = {r["doc_id"]: r["toks"] for r in dedup.strip_spans(corpus, spans).collect()}
    assert len(out) == 3
    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliett".split()
    d1_full = ("zeta one two three four " + " ".join(shared) + " omega nine eight seven six").split()
    d2_full = ("kappa red green blue yellow purple " + " ".join(shared)).split()
    assert out[1] == d1_full, "d1 (first occurrence) must be untouched"
    assert out[2] == d2_full[:6], "d2 must lose exactly the planted run"
    assert out[3] == "totally unrelated words about gardening tomatoes and sunshine here".split()


def test_d13_strip_spans_no_spans_is_identity(spark):
    """With an empty span relation every doc keeps its full tokens."""
    corpus = _span_corpus(spark)
    empty = dedup.shared_spans(corpus).limit(0)
    out = {r["doc_id"]: r["toks"] for r in dedup.strip_spans(corpus, empty).collect()}
    assert out[3] == "totally unrelated words about gardening tomatoes and sunshine here".split()
    assert len(out[1]) == 20 and len(out[2]) == 16


def test_d13_repetitive_docs_are_capped_not_quadratic(spark):
    """Round-12 chaos finding: two hyper-repetitive documents sharing
    their repeated gram would fan the confirm join out to occ(d1)·
    occ(d2) rows per gram — O(T²) for one pair. The GRAM_MAX_OCC
    anchor cap must keep the plan bounded (fast) and the output
    deterministic: the pathological pair reports NO spans (its only
    anchors are over-cap), while a normal planted pair in the same
    corpus is still found exactly."""
    rep = " ".join(["loop"] * 2000)
    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    df = spark.createDataFrame(
        [
            (1, rep),
            (2, rep + " tail marker"),
            (3, "zeta one two three four " + shared + " omega nine"),
            (4, "kappa red green blue yellow purple " + shared),
        ],
        "doc_id bigint, text string",
    )
    import time

    t0 = time.time()
    spans = dedup.shared_spans(df).collect()
    wall = time.time() - t0
    assert wall < 60, f"repetition cap failed to bound the join ({wall:.0f}s)"
    pairs = {(s["d1"], s["d2"]) for s in spans}
    assert (3, 4) in pairs
    # the repetitive pair's anchors are all over-cap -> no span reported
    assert (1, 2) not in pairs
