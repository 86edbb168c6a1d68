"""Plan-quality gates — the 100 TB readiness checks (SURVEY §4.2).

Correctness tests prove the engine computes the right answer; these prove
Catalyst produces the plan that survives a 1000-executor, 100 TB run:
filters reach the parquet scan, unused columns are never read, small dims
broadcast, hot paths stay inside whole-stage codegen.
"""

from __future__ import annotations

from big_data_analytics_cse545_spark.operators import relational
from big_data_analytics_cse545_spark.plans import (
    has_broadcast_join,
    pushed_filters,
    scan_read_schema,
    wholestage_codegen_spans,
)


def test_q01_filter_pushed_to_scan(spark, sf_correctness):
    df = relational.q01_pricing_summary(spark, sf_correctness)
    filters = " ".join(pushed_filters(df))
    assert "l_shipdate" in filters, f"shipdate filter not pushed: {filters}"


def test_q01_column_pruning(spark, sf_correctness):
    df = relational.q01_pricing_summary(spark, sf_correctness)
    schemas = scan_read_schema(df)
    assert schemas, "no scan found"
    # 11-column lineitem: the scan must read only the 7 referenced columns
    assert all("l_orderkey" not in s and "l_partkey" not in s for s in schemas), (
        f"unreferenced columns read: {schemas}"
    )


def test_q02_small_dims_broadcast(spark, sf_correctness):
    df = relational.q02_revenue_by_nation(spark, sf_correctness)
    assert has_broadcast_join(df), "nation/region should broadcast, not shuffle"


def test_q12_inlist_pushdown(spark, sf_correctness):
    df = relational.q12_inlist_filter(spark, sf_correctness)
    filters = " ".join(pushed_filters(df))
    assert "p_type" in filters and "p_size" in filters


def test_q01_wholestage_codegen(spark, sf_correctness):
    df = relational.q01_pricing_summary(spark, sf_correctness)
    assert wholestage_codegen_spans(df) >= 1, "hot path left codegen"


def test_d05_plan_is_distributed_block_cogroup(spark, sf_correctness):
    """d05's physical plan must be the distributed shape: the block-pair
    grid broadcast to both sides, pairs scored in a cogrouped Arrow
    kernel — and NO driver-side collect anywhere in plan construction."""
    from big_data_analytics_cse545_spark.operators import dedup
    from big_data_analytics_cse545_spark.plans import explain_str
    from big_data_analytics_cse545_spark.sources import load_table

    e = load_table(spark, sf_correctness, "embeddings")
    plan = explain_str(dedup.blocked_cosine_pairs(e, threshold=0.4), "simple")
    assert "FlatMapCoGroupsInPandas" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, "grid should broadcast to both sides"


def test_d04_plan_stays_jvm_side(spark, sf_correctness):
    """The 64-bit SimHash fingerprint/banding pipeline must contain zero
    Python operators — fingerprints, bands and hamming verification are
    all JVM expressions (codegen-eligible at 100 TB)."""
    from big_data_analytics_cse545_spark.operators import dedup
    from big_data_analytics_cse545_spark.plans import explain_str

    plan = explain_str(dedup.d04_simhash_clusters(spark, sf_correctness), "simple")
    for py_op in ("MapInPandas", "ArrowEvalPython", "FlatMapGroupsInPandas", "BatchEvalPython"):
        assert py_op not in plan, f"{py_op} in d04 plan"


def test_q20_approx_distinct_accuracy(spark, sf_correctness):
    """HLL++ at rsd=2% must land within 5% of exact — checked on the
    raw sketch values here (the query itself now exports the band as a
    0/1 flag so the driver oracle can hash-compare it)."""
    from pyspark.sql import functions as F

    from big_data_analytics_cse545_spark.sources import load_table

    rows = relational.q20_approx_distinct(spark, sf_correctness).collect()
    assert rows
    assert all(r["approx_within_5pct"] == 1 for r in rows)
    raw = (
        load_table(spark, sf_correctness, "events")
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .collect()
    )
    for r in raw:
        err = abs(r["approx_users"] - r["exact_users"]) / r["exact_users"]
        assert err <= 0.05, f"{r['event_type']}: approx off by {err:.1%}"


def test_x01_split_is_shuffle_free(spark, sf_correctness):
    """Membership must be a per-row hash compare: the only exchange
    allowed is the result sort — no hashpartitioning anywhere."""
    from big_data_analytics_cse545_spark.operators import sampling
    from big_data_analytics_cse545_spark.plans import shuffle_exchanges

    ex = shuffle_exchanges(sampling.x01_hash_split(spark, sf_correctness))
    assert all(e.startswith("rangepartitioning") for e in ex), ex


def test_x02_rates_broadcast(spark, sf_correctness):
    """The per-source rate table must broadcast back to the corpus —
    a shuffle of documents by source would be a 100 TB anti-pattern."""
    from big_data_analytics_cse545_spark.operators import sampling
    from big_data_analytics_cse545_spark.plans import has_broadcast_join

    assert has_broadcast_join(sampling.x02_temperature_mix(spark, sf_correctness))


def test_q28_single_user_shuffle(spark, sf_correctness):
    """Gaps-and-islands contract: ONE hashpartitioning(user_id) serves
    the lag window, the island sum, and both aggregations."""
    from big_data_analytics_cse545_spark.operators import relational
    from big_data_analytics_cse545_spark.plans import shuffle_exchanges

    ex = shuffle_exchanges(relational.q28_sessionize(spark, sf_correctness))
    hash_ex = [e for e in ex if e.startswith("hashpartitioning")]
    assert len(hash_ex) == 1 and "user_id" in hash_ex[0], ex


def test_p06_stats_broadcast_and_pruned(spark, sf_correctness):
    """Quantizer stats broadcast (never shuffle the corpus to encode);
    the label column is never read."""
    from big_data_analytics_cse545_spark.operators import projection
    from big_data_analytics_cse545_spark.plans import (
        has_broadcast_join,
        scan_read_schema,
    )

    df = projection.p06_scalar_quantize(spark, sf_correctness)
    assert has_broadcast_join(df)
    assert all("label" not in s for s in scan_read_schema(df))


def test_t14_reads_only_needed_columns(spark, sf_correctness):
    from big_data_analytics_cse545_spark.operators import text
    from big_data_analytics_cse545_spark.plans import scan_read_schema

    schemas = scan_read_schema(text.t14_corpus_freq_score(spark, sf_correctness))
    assert schemas and all(
        "lang" not in s and "n_chars" not in s for s in schemas
    ), schemas


def test_x03_pipeline_shuffles_hash_not_text(spark, sf_correctness):
    """The composed pipeline's data-sized shuffle is keyed by the 16-byte
    content hash — the text column must never reach an exchange, and the
    whole pipeline needs at most two hash shuffles (dedup key, group key)."""
    from big_data_analytics_cse545_spark.operators import sampling
    from big_data_analytics_cse545_spark.plans import shuffle_exchanges

    ex = shuffle_exchanges(sampling.x03_pipeline_stats(spark, sf_correctness))
    hash_ex = [e for e in ex if e.startswith("hashpartitioning")]
    assert len(hash_ex) <= 2, ex
    assert all("text" not in e for e in ex), ex


def test_f05_orc_scan_prunes_and_pushes(spark, sf_correctness):
    """ORC is a pushdown-capable columnar source like parquet: a filter
    over the fixture must reach the ORC scan as a pushed filter, and an
    aggregate over two columns must not read the other two."""
    from pyspark.sql import functions as F

    from big_data_analytics_cse545_spark.operators.ingest import (
        _ORC_SCHEMA,
        orc_fixture_dir,
    )
    from big_data_analytics_cse545_spark.plans import (
        pushed_filters,
        scan_read_schema,
    )

    d = spark.read.schema(_ORC_SCHEMA).orc(orc_fixture_dir(sf_correctness))
    df = (
        d.filter(F.col("l_orderkey") < 1000)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    filters = " ".join(pushed_filters(df))
    assert "l_orderkey" in filters, f"orc filter not pushed: {filters}"
    schemas = scan_read_schema(df)
    assert schemas and all("l_extendedprice" not in s for s in schemas), schemas


def test_q32_approx_percentile_accuracy(spark, sf_correctness):
    """GK sketch at accuracy 10000 must land within 0.1% of the exact
    percentile on this distribution — a 10× tighter pin than the 1%
    in-band flag the driver oracle hashes."""
    from pyspark.sql import functions as F

    from big_data_analytics_cse545_spark.operators.relational import Q32_ACCURACY
    from big_data_analytics_cse545_spark.sources import load_table

    rows = relational.q32_approx_percentiles(spark, sf_correctness).collect()
    assert rows
    for r in rows:
        for name in ("p50", "p90", "p99"):
            assert r[f"{name}_sketch_in_band"] == 1, r
    raw = (
        load_table(spark, sf_correctness, "orders")
        .groupBy("o_orderstatus")
        .agg(
            *[
                c
                for q, n in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99"))
                for c in (
                    F.expr(f"percentile(o_totalprice, {q})").alias(f"{n}_exact"),
                    F.expr(
                        f"approx_percentile(o_totalprice, {q}, {Q32_ACCURACY})"
                    ).alias(f"{n}_approx"),
                )
            ]
        )
        .collect()
    )
    for r in raw:
        for n in ("p50", "p90", "p99"):
            err = abs(r[f"{n}_approx"] - r[f"{n}_exact"]) / r[f"{n}_exact"]
            assert err <= 0.001, f"{r['o_orderstatus']} {n}: off by {err:.3%}"


def test_observation_metrics_without_second_scan(spark, sf_correctness):
    """Pipeline observability the production way: df.observe() attaches
    metric aggregates that are computed DURING the action — corpus
    volume and gate pass-rate come back on the Observation without a
    second scan (counting stages separately would double-read 100 TB)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from big_data_analytics_cse545_spark.functions.text import token_count
    from big_data_analytics_cse545_spark.sources import load_table

    d = load_table(spark, sf_correctness, "documents")
    obs = Observation("prep")
    gated = (
        d.observe(
            obs,
            F.count(F.lit(1)).alias("n_in"),
            F.sum((token_count(F.col("text")) >= 20).cast("long")).alias("n_pass"),
        )
        .filter(token_count(F.col("text")) >= 20)
    )
    n_out = gated.count()
    assert obs.get["n_in"] == 500
    assert obs.get["n_pass"] == n_out, "observed gate rate must match output"


def test_q34_merge_broadcasts_changes_snapshot_never_shuffles(spark, sf_correctness):
    """The MERGE lowering must keep the snapshot shuffle-free: the
    matched-ops join broadcasts the change batch (LEFT JOIN form — a
    FULL OUTER join could broadcast neither side and would shuffle the
    snapshot twice). The only exchange allowed is the final
    result-ordering sort."""
    from big_data_analytics_cse545_spark.plans import (
        explain_str,
        shuffle_exchanges,
    )

    df = relational.q34_merge_upsert(spark, sf_correctness)
    assert "FullOuter" not in explain_str(df), (
        "merge regressed to full-outer join"
    )
    assert has_broadcast_join(df), "change batch should broadcast"
    shuffles = shuffle_exchanges(df)
    assert len(shuffles) <= 1 and all(
        s.startswith("rangepartitioning") for s in shuffles
    ), f"snapshot shuffles beyond the result sort: {shuffles}"


def test_x06_cluster_relation_carries_no_broadcast_hint(spark, sf_correctness):
    """Round-3 scale flag, pinned closed: x06 (and api.leakage_safe_split)
    must not FORCE-broadcast the near-dup cluster relation — it is
    corpus-proportional at real dup rates, and a mandatory hint bypasses
    Spark's size check (OOM at scale instead of degrading to a shuffle
    join). AQE may still *choose* a broadcast when the relation fits;
    what this gate forbids is the hint."""
    from big_data_analytics_cse545_spark import api
    from big_data_analytics_cse545_spark.operators import sampling
    from big_data_analytics_cse545_spark.sources import load_table

    def hints(df):
        return df._jdf.queryExecution().analyzed().toString().count(
            "ResolvedHint"
        )

    assert hints(sampling.x06_leakage_safe_split(spark, sf_correctness)) == 0
    docs = load_table(spark, sf_correctness, "documents")
    assert hints(api.leakage_safe_split(docs, "text", "doc_id")) == 0


def test_s06_explode_is_narrow_and_dedup_precedes_scoring(spark, sf_correctness):
    """s06's 100 TB contract: the xL table blow-up ships ONLY
    (id, t, bucket) — never the embeddings — and candidate pairs
    collapse on (q_id, neighbor_id) BEFORE any exact cosine, so a pair
    colliding in all L tables is scored once. The column names are
    api.ann_join's, which s06 binds."""
    import re

    from big_data_analytics_cse545_spark.operators import similarity
    from big_data_analytics_cse545_spark.plans import shuffle_exchanges

    df = similarity.s06_ann_multitable_lsh(spark, sf_correctness)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # both Generate(posexplode) nodes output exactly [_t, _b] over a
    # lone id child column — the embedding never leaves the scan stage
    gens = [ln for ln in plan.splitlines() if "Generate posexplode" in ln]
    assert len(gens) == 2, f"expected 2 exploded signature relations: {len(gens)}"
    for ln in gens:
        assert re.search(
            r"\[(q_id|neighbor_id)#\d+L\], false, \[_t#\d+, _b#\d+\]$", ln
        ), f"exploded relation is not narrow: ...{ln[-120:]}"
    # the pair-dedup shuffle keyed on (q_id, neighbor_id) exists, and it
    # is the ONLY hash shuffle besides the final window's q_id partition
    # — the candidate join itself rides a broadcast of the tiny
    # query-side signatures at this sf (AQE may pick shuffle at scale;
    # the gate pins the dedup stage, not the join strategy)
    shuffles = shuffle_exchanges(df)
    assert any(
        "q_id" in s and "neighbor_id" in s for s in shuffles
    ), f"no (q_id, neighbor_id) dedup shuffle: {shuffles}"


def test_runtime_shuffle_exchanges_counts_cached_builds_once(spark, sf_correctness):
    """The r8 plan-audit fix: a cache-reusing loop (g01 references its
    persisted nodes/edges in every iteration branch) must count each
    DISTINCT cached relation's build exchanges ONCE — the number a run
    executes — while the raw explain text multiplies them per
    reference. A cache-free query must agree with the textual count."""
    from big_data_analytics_cse545_spark.operators import graph
    from big_data_analytics_cse545_spark.plans import (
        explain_str,
        runtime_shuffle_exchanges,
        shuffle_exchanges,
    )

    g = graph.g01_host_pagerank(spark, sf_correctness)
    outer, cached_ex, n_cached = runtime_shuffle_exchanges(g)
    assert n_cached == 2, "g01 persists exactly nodes + edges"
    assert cached_ex > 0
    textual = explain_str(g).count("Exchange")
    assert outer + cached_ex < textual, (
        "runtime count must undercut the reference-multiplied text count"
    )

    q = relational.q01_pricing_summary(spark, sf_correctness)
    outer_q, cached_q, n_q = runtime_shuffle_exchanges(q)
    assert (cached_q, n_q) == (0, 0)
    assert outer_q == len(shuffle_exchanges(q))


def test_d13_text_never_shuffles_and_candidates_broadcast(spark, sf_correctness):
    """d13's 100 TB contract: every exchange carries (doc_id, pos,
    32-hex hash) rows — the text column must never reach a shuffle —
    and the winnow-selected candidate relation broadcasts into the
    confirm join instead of forcing a corpus-sized sort-merge. (A wall
    floor cannot guard this query: its funnel pays OFF at scale but is
    not faster at sf0.1, so the guarded class is plan shape + the
    pathological-corpus wall test in tests/test_dedup.py.)"""
    from big_data_analytics_cse545_spark.operators import dedup
    from big_data_analytics_cse545_spark.plans import (
        has_broadcast_join,
        shuffle_exchanges,
    )

    df = dedup.d13_exact_substring_spans(spark, sf_correctness)
    assert has_broadcast_join(df)
    assert all("text" not in e for e in shuffle_exchanges(df))


def test_x09_weight_table_broadcasts_and_text_never_shuffles(spark, sf_correctness):
    """x09's 100 TB contract (the x07 shape): the B-row weight table
    and the 1-row prior ride broadcasts, the text column never reaches
    an exchange, and the corpus scan reads only the columns the model
    needs (doc_id, lang, text — never source/n_chars)."""
    from big_data_analytics_cse545_spark.operators import sampling
    from big_data_analytics_cse545_spark.plans import (
        has_broadcast_join,
        scan_read_schema,
        shuffle_exchanges,
    )

    df = sampling.x09_quality_classifier(spark, sf_correctness)
    assert has_broadcast_join(df)
    assert all("text" not in e for e in shuffle_exchanges(df))
    schemas = scan_read_schema(df)
    assert schemas and all(
        "source" not in s and "n_chars" not in s for s in schemas
    ), schemas
