"""Dataset split / mixing operators (x01-x02) and the t13 repetition
signals: DuckDB-oracle parity plus semantic invariants (hashlib is the
determinism referee — md5 is identical in Spark, DuckDB, and Python)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from big_data_analytics_cse545_spark import api
from big_data_analytics_cse545_spark.operators import sampling
from tests.oracle_utils import assert_parity


@pytest.mark.parametrize("name", sorted(sampling.QUERIES))
def test_sampling_oracle_parity(spark, sf_correctness, name):
    df = sampling.QUERIES[name](spark, sf_correctness)
    assert_parity(df, sampling.ORACLE[name], sf_correctness, name)


def test_x01_buckets_match_hashlib(spark, sf_correctness):
    """The split is a pure function of md5: recompute every bucket in
    Python and compare — proves the assignment survives any engine,
    partitioning, or rerun."""
    rows = sampling.x01_hash_split(spark, sf_correctness).collect()
    assert rows
    for r in rows:
        h = hashlib.md5(f"split|{r['doc_id']}".encode()).hexdigest()
        assert r["bucket"] == int(h[:8], 16) % 100, r
    splits = {r["doc_id"]: r["split"] for r in rows}
    counts = {s: sum(1 for v in splits.values() if v == s) for s in ("train", "val", "test")}
    # 98/1/1 in expectation; allow generous binomial slack at 500 docs
    assert counts["train"] >= 0.9 * len(rows)
    assert counts["val"] + counts["test"] >= 1


def test_x02_smallest_source_keeps_everything(spark, sf_correctness):
    rows = sampling.x02_temperature_mix(spark, sf_correctness).collect()
    assert rows
    smallest = min(rows, key=lambda r: r["n_total"])
    assert smallest["keep_rate"] == 1.0
    assert smallest["n_kept"] == smallest["n_total"]
    for r in rows:
        assert 0 < r["n_kept"] <= r["n_total"]
        assert 0.0 < r["keep_rate"] <= 1.0


def test_api_hash_split_matches_x01(spark, sf_correctness):
    from big_data_analytics_cse545_spark.sources import load_table

    d = load_table(spark, sf_correctness, "documents")
    via_api = {
        r["doc_id"]: r["split"]
        for r in api.hash_split(d, "doc_id").select("doc_id", "split").collect()
    }
    via_op = {
        r["doc_id"]: r["split"]
        for r in sampling.x01_hash_split(spark, sf_correctness).collect()
    }
    assert via_api == via_op


def test_api_temperature_mix_matches_x02_counts(spark, sf_correctness):
    from big_data_analytics_cse545_spark.sources import load_table

    d = load_table(spark, sf_correctness, "documents")
    kept = (
        api.temperature_mix(d, "source", "doc_id", alpha=0.5)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    expected = {
        r["source"]: r["n_kept"]
        for r in sampling.x02_temperature_mix(spark, sf_correctness).collect()
    }
    assert {r["source"]: r["n"] for r in kept} == expected


def test_repetition_signals_planted(spark):
    rows = [
        (1, "spam spam spam spam spam spam"),  # one token repeated
        (2, "alpha beta gamma delta epsilon"),  # all distinct
        (3, "one"),  # single token: no bigrams
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        r["id"]: r
        for r in api.repetition_signals(df, "text").collect()
    }
    assert got[1]["dup_token_frac"] == pytest.approx(5 / 6)
    assert got[1]["top_bigram_frac"] == 1.0  # "spam spam" is every bigram
    assert got[2]["dup_token_frac"] == 0.0
    assert got[2]["top_bigram_frac"] == pytest.approx(1 / 4)  # all unique
    assert got[3]["top_bigram_frac"] == 0.0


def test_x04_budget_respected_and_maximal(spark, sf_correctness):
    """Selected token mass fits the budget, and the selection is maximal
    under the (score DESC, doc_id) order: the first excluded doc in that
    order would overflow the budget."""
    sel = sampling.x04_token_budget_select(spark, sf_correctness).collect()
    assert sel
    total = sum(r["n_tok"] for r in sel)
    assert total <= sampling.TOKEN_BUDGET
    # rebuild the full ranked universe and walk it greedily per the
    # histogram-offset rule: the operator must pick the same prefix
    from big_data_analytics_cse545_spark.functions.text import tokens
    from big_data_analytics_cse545_spark.sources import load_table

    d = load_table(spark, sf_correctness, "documents")
    base = d.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
        F.floor(
            F.lit(1000.0)
            * F.length(F.regexp_replace(F.lower(F.col("text")), "[^a-z]", ""))
            / F.col("n_chars")
        ).cast("long").alias("score"),
    ).collect()
    universe = sorted(base, key=lambda r: (-r["score"], r["doc_id"]))
    # exact operator semantics: global walk in (score DESC, doc_id)
    # order where prev_tok counts EVERY higher bucket's full token mass;
    # the first doc that overflows ends the selection (later buckets'
    # offsets are already past the budget)
    expected, acc = [], 0
    for r in universe:
        if acc + r["n_tok"] > sampling.TOKEN_BUDGET:
            break
        expected.append(r["doc_id"])
        acc += r["n_tok"]
    got = [r["doc_id"] for r in sel]
    assert got == expected


def test_x05_two_phase_equals_naive_window(spark, sf_correctness):
    """The salted two-phase top-K must equal the single-window spelling
    exactly (the local top-K of each salt group is a superset of the
    global winners hashed into it)."""
    from pyspark.sql.window import Window

    from big_data_analytics_cse545_spark.sources import load_table

    got = {
        (r["lang"], r["rank"]): r["doc_id"]
        for r in sampling.x05_stratified_sample(spark, sf_correctness).collect()
    }
    d = load_table(spark, sf_correctness, "documents")
    h = sampling.hash_bucket(F.col("doc_id"), "strat|")
    w = Window.partitionBy("lang").orderBy(h, "doc_id")
    naive = {
        (r["lang"], r["rank"]): r["doc_id"]
        for r in d.select("lang", "doc_id", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= sampling.STRATUM_K)
        .collect()
    }
    assert got == naive
    # exactly K per stratum (each stratum here is larger than K)
    langs = {k[0] for k in got}
    for lang in langs:
        assert sum(1 for k in got if k[0] == lang) == sampling.STRATUM_K


def test_x06_near_dups_never_straddle_the_split(spark, sf_correctness):
    """The whole point: every near-dup pair (d04 semantics) must land on
    ONE side of the split, and singletons must match x01's assignment."""
    from big_data_analytics_cse545_spark.operators import dedup, sampling
    from big_data_analytics_cse545_spark.sources import load_table

    split = {
        r["doc_id"]: (r["split_key"], r["split"])
        for r in sampling.x06_leakage_safe_split(spark, sf_correctness).collect()
    }
    d = load_table(spark, sf_correctness, "documents")
    pairs = dedup.simhash_near_dup_pairs(d).collect()
    assert pairs, "fixture must contain near-dup pairs"
    for p in pairs:
        assert split[p["d1"]][1] == split[p["d2"]][1], (p, split[p["d1"]], split[p["d2"]])
        assert split[p["d1"]][0] == split[p["d2"]][0]
    x01 = {
        r["doc_id"]: r["split"]
        for r in sampling.x01_hash_split(spark, sf_correctness).collect()
    }
    for doc, (key, sp) in split.items():
        if key == doc:  # singleton → identical to the per-doc split
            assert sp == x01[doc]


def test_x07_quota_and_partition_invariance(spark, sf_correctness):
    """DSIR selection must (a) fill exactly ⌊n_scored/10⌋ slots, where
    n_scored = docs with ≥ 2 tokens (≥ 1 bigram), and (b) return the
    identical set under a different shuffle-partition count — the
    histogram-offset top-K may not depend on physical partitioning."""
    from big_data_analytics_cse545_spark.functions.text import token_count
    from big_data_analytics_cse545_spark.sources import load_table

    a = sorted(
        (r["doc_id"], r["dsir_score"])
        for r in sampling.x07_dsir_select(spark, sf_correctness).collect()
    )
    n_scored = (
        load_table(spark, sf_correctness, "documents")
        .filter(token_count(F.col("text")) >= 2)
        .count()
    )
    assert len(a) == n_scored // sampling.DSIR_KEEP_DIV
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        b = sorted(
            (r["doc_id"], r["dsir_score"])
            for r in sampling.x07_dsir_select(spark, sf_correctness).collect()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert a == b


def _py_qc_round(x: float) -> int:
    """Spark F.round / DuckDB ROUND are HALF_UP (away from zero);
    Python's round() is banker's — replicate HALF_UP exactly."""
    import math

    return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))


def _py_qc_scores(docs, train_ids, pos_ids, n_buckets=2048, tag="qc"):
    """Independent pure-Python NB referee for classify_quality: same
    tokenizer, same md5 bucket hash, same add-one smoothing, same
    single micro-nat rounding, same BIGINT gate."""
    import math
    import re

    split = re.compile(r"[^a-z0-9]+")

    def feats(txt):
        ts = [t for t in split.split((txt or "").lower()) if t]
        return ts + [a + "_" + b for a, b in zip(ts, ts[1:])]

    def bkt(f):
        return int(hashlib.md5((tag + f).encode()).hexdigest()[:8], 16) % n_buckets

    p = {}
    q = {}
    n_pos = n_neg = 0
    for did, txt in docs.items():
        if did not in train_ids:
            continue
        pos = did in pos_ids
        n_pos, n_neg = n_pos + pos, n_neg + (not pos)
        for f in feats(txt):
            b = bkt(f)
            if pos:
                p[b] = p.get(b, 0) + 1
            else:
                q[b] = q.get(b, 0) + 1
    P, Q = sum(p.values()), sum(q.values())

    def w(b):
        return _py_qc_round(
            (
                math.log((p.get(b, 0) + 1.0) / (P + n_buckets))
                - math.log((q.get(b, 0) + 1.0) / (Q + n_buckets))
            )
            * 1e6
        )

    bias = _py_qc_round(math.log((n_pos + 1.0) / (n_neg + 1.0)) * 1e6)
    out = {}
    for did, txt in docs.items():
        fs = feats(txt)
        s = sum(w(bkt(f)) for f in fs)
        out[did] = (len(fs), s, s + bias, len(fs) > 0 and s + bias >= 0)
    return out


def test_x09_classifier_matches_pure_python_referee(spark):
    """classify_quality (train on a subset, score everyone — including
    a held-out doc whose vocabulary training never saw, exercising the
    unseen-bucket smoothing floor) must agree NUMBER-FOR-NUMBER with an
    independent pure-Python NB: hashlib md5 buckets, math.log weights,
    one HALF_UP micro-nat rounding, exact integer gate."""
    docs = {
        1: "the quick brown fox jumps over the lazy dog near the river",
        2: "el rapido zorro marron salta sobre el perro perezoso del rio",
        3: "the spark engine joins tables and the planner prunes columns",
        4: "la tabla grande se une con la tabla pequena cada noche",
        5: "zyzzyva quokka axolotl wombat never seen in training at all",
        6: "",
    }
    train_ids = {1, 2, 3, 4}
    pos_ids = {1, 3}
    df = spark.createDataFrame(
        [(k, v, k in pos_ids, k in train_ids) for k, v in docs.items()],
        "doc_id bigint, text string, pos boolean, tr boolean",
    )
    got = {
        r["doc_id"]: (
            r["n_feats"], r["qc_sum_micro"], r["qc_gate_micro"], r["keep"]
        )
        for r in sampling.classify_quality(
            df, label_col="pos", train_col="tr"
        ).collect()
    }
    assert got == _py_qc_scores(docs, train_ids, pos_ids)
    # zero-feature doc is dropped regardless of the prior's sign
    assert got[6][0] == 0 and got[6][3] is False


def test_x09_train_infer_separation(spark):
    """Editing a HELD-OUT doc must not move any other doc's score —
    the weights are a function of the train split only (the deployed-
    classifier property x09 models)."""
    rows = [
        (1, "alpha beta gamma delta epsilon", True, True),
        (2, "uno dos tres cuatro cinco seis", False, True),
        (3, "alpha gamma epsilon beta delta words", True, False),
    ]
    edited = [r if r[0] != 3 else (3, "totally different heldout text", True, False) for r in rows]
    schema = "doc_id bigint, text string, pos boolean, tr boolean"
    a = {
        r["doc_id"]: r["qc_sum_micro"]
        for r in sampling.classify_quality(
            spark.createDataFrame(rows, schema), label_col="pos", train_col="tr"
        ).collect()
    }
    b = {
        r["doc_id"]: r["qc_sum_micro"]
        for r in sampling.classify_quality(
            spark.createDataFrame(edited, schema), label_col="pos", train_col="tr"
        ).collect()
    }
    assert a[1] == b[1] and a[2] == b[2]
    assert a[3] != b[3]


def test_x09_separates_languages_on_corpus(spark, sf_correctness):
    """On the synthetic corpus the en-vs-rest gate must actually
    discriminate: accuracy ≥ 0.7 against the lang label with non-empty
    keep AND drop sets (an all-keep or all-drop gate is degenerate)."""
    from big_data_analytics_cse545_spark.sources import load_table

    got = sampling.QUERIES["x09_quality_classifier"](spark, sf_correctness)
    lab = load_table(spark, sf_correctness, "documents").select(
        "doc_id", (F.col("lang") == "en").alias("en")
    )
    j = got.join(lab, "doc_id").select(
        (F.col("keep") == F.col("en")).cast("int").alias("ok"), "keep"
    )
    r = j.agg(
        F.avg("ok").alias("acc"),
        F.sum(F.col("keep").cast("int")).alias("n_keep"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    assert r["acc"] >= 0.7, f"classifier accuracy degenerate: {r}"
    assert 0 < r["n_keep"] < r["n"], f"degenerate gate: {r}"


def test_api_quality_classifier_matches_x09(spark, sf_correctness):
    """api.quality_classifier with x01's train membership and the lang
    label reproduces the x09 registry rows exactly."""
    from big_data_analytics_cse545_spark.sources import load_table

    d = load_table(spark, sf_correctness, "documents")
    labeled = d.withColumn("_pos", F.col("lang") == "en").withColumn(
        "_tr", sampling.hash_bucket(F.col("doc_id"), "split|", 100) < sampling.TRAIN_PCT
    )
    via_api = {
        r["doc_id"]: (r["qc_sum_micro"], r["qc_gate_micro"], r["keep"])
        for r in api.quality_classifier(
            labeled, "text", "doc_id", "_pos", train_col="_tr"
        ).collect()
    }
    via_q = {
        r["doc_id"]: (r["qc_sum_micro"], r["qc_gate_micro"], r["keep"])
        for r in sampling.QUERIES["x09_quality_classifier"](
            spark, sf_correctness
        ).collect()
    }
    assert via_api == via_q


def test_x09_empty_train_split_is_defined_not_null(spark):
    """Round-12 review: an all-false train_col used to propagate NULL
    aggregates into a three-valued-logic NULL keep column. At zero
    counts the add-one smoothing is perfectly defined (every weight =
    the smoothing floor = 0, prior = ln(1/1) = 0), so the gate must be
    exactly that — and agree with the pure-Python referee."""
    docs = {1: "alpha beta gamma", 2: "uno dos tres", 3: ""}
    df = spark.createDataFrame(
        [(k, v, k == 1, False) for k, v in docs.items()],
        "doc_id bigint, text string, pos boolean, tr boolean",
    )
    got = {
        r["doc_id"]: (r["n_feats"], r["qc_sum_micro"], r["qc_gate_micro"], r["keep"])
        for r in sampling.classify_quality(
            df, label_col="pos", train_col="tr"
        ).collect()
    }
    assert got == _py_qc_scores(docs, set(), {1})
    assert all(v[3] is not None for v in got.values())
    # zero-count model: all weights 0, gate 0 -> keep iff any features
    assert got[1] == (5, 0, 0, True) and got[3] == (0, 0, 0, False)
