"""g01/g02/g03 host rank family: DuckDB-oracle parity plus the
invariants that make a fixed-iteration integer PageRank trustworthy —
partitioning must not change a bit, dangling/no-in-edge semantics must
be exact, total mass must stay bounded by the initial mass, and each
generalization (seeded g02, weighted g03) must reproduce its special
case bit-for-bit."""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from big_data_analytics_cse545_spark import api
from big_data_analytics_cse545_spark.operators import graph
from big_data_analytics_cse545_spark.sources import load_table
from tests.oracle_utils import assert_parity


def _links(spark, sf_dir):
    """(document hosts, per-document link multiset) — g01-g03's input."""
    return graph._host_links(load_table(spark, sf_dir, "documents"))


def _with_in_edges(links):
    """Hosts with at least one in-link once self-loops are dropped."""
    return {
        r["dst_host"]
        for r in links.filter(F.col("src_host") != F.col("dst_host"))
        .select("dst_host")
        .distinct()
        .collect()
    }


def _ranks(df):
    return {r["host"]: r["rank_micro"] for r in df.collect()}


@contextmanager
def _uncoalesced_shuffles(spark, n):
    """Spread every shuffle over ``n`` partitions (AQE coalescing off),
    so the rank loop's inputs are laid out differently."""
    keys = ("spark.sql.shuffle.partitions",
            "spark.sql.adaptive.coalescePartitions.enabled")
    old = [spark.conf.get(k) for k in keys]
    spark.conf.set(keys[0], str(n))
    spark.conf.set(keys[1], "false")
    try:
        yield
    finally:
        for k, v in zip(keys, old):
            spark.conf.set(k, v)


@pytest.mark.parametrize("sf", ["sf_smoke", "sf_correctness"])
def test_g01_oracle_parity(spark, sf, request):
    sf_dir = request.getfixturevalue(sf)
    df = graph.g01_host_pagerank(spark, sf_dir)
    assert_parity(df, graph.ORACLE["g01_host_pagerank"], sf_dir, "g01")


@pytest.mark.parametrize("sf", ["sf_smoke", "sf_correctness"])
def test_g02_oracle_parity(spark, sf, request):
    sf_dir = request.getfixturevalue(sf)
    df = graph.g02_host_trustrank(spark, sf_dir)
    assert_parity(df, graph.ORACLE["g02_host_trustrank"], sf_dir, "g02")


@pytest.mark.parametrize("sf", ["sf_smoke", "sf_correctness"])
def test_g03_oracle_parity(spark, sf, request):
    sf_dir = request.getfixturevalue(sf)
    df = graph.g03_host_pagerank_weighted(spark, sf_dir)
    assert_parity(df, graph.ORACLE["g03_host_pagerank_weighted"], sf_dir, "g03")


def test_g03_weights_all_one_is_exactly_g01(spark, sf_smoke):
    """The kernel-sharing claim made executable: feeding the weighted
    kernel the DISTINCT edge relation (so w=1 and outw=outdeg) must
    reproduce the unweighted ranks BIT-FOR-BIT (r·1 = r and Σ1 =
    outdeg — the weighted arithmetic degenerates exactly, not
    approximately)."""
    hosts, links = _links(spark, sf_smoke)
    unweighted = {
        (r["host"], r["rank_micro"], r["out_deg"])
        for r in api.host_pagerank(
            links, "src_host", "dst_host", extra_nodes=hosts
        ).collect()
    }
    weighted = {
        (r["host"], r["rank_micro"], r["out_weight"])
        for r in api.host_pagerank_weighted(
            links.distinct(), "src_host", "dst_host", extra_nodes=hosts
        ).collect()
    }
    assert unweighted == weighted


def test_g03_multiplicity_semantics(spark, sf_smoke):
    """g03's discriminating properties vs g01: (1) the fixture actually
    carries parallel links (max multiplicity > 1 — otherwise this whole
    test file would be comparing a no-op); (2) g03's ranks differ from
    g01's somewhere (the weighting is load-bearing); (3) per-source
    out_weight ≥ out_deg with equality iff all that source's links are
    single-mention; (4) total-mass bound carries over (floor + dangling
    only lose mass)."""
    _, links = _links(spark, sf_smoke)
    max_w = (
        links.filter(F.col("src_host") != F.col("dst_host"))
        .groupBy("src_host", "dst_host")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert max_w > 1, "degenerate fixture: no parallel links — g03 would equal g01"
    g01_rows = graph.g01_host_pagerank(spark, sf_smoke).collect()
    g01 = {r["host"]: r["rank_micro"] for r in g01_rows}
    g03_rows = graph.g03_host_pagerank_weighted(spark, sf_smoke).collect()
    g03 = {r["host"]: r["rank_micro"] for r in g03_rows}
    assert set(g01) == set(g03)
    assert any(g01[h] != g03[h] for h in g01), "weighting changed nothing"
    outdeg = {r["host"]: r["out_deg"] for r in g01_rows if r["out_deg"] > 0}
    outw = {r["host"]: r["out_weight"] for r in g03_rows if r["out_weight"] > 0}
    assert set(outdeg) == set(outw)
    assert all(outw[h] >= outdeg[h] for h in outdeg)
    assert any(outw[h] > outdeg[h] for h in outdeg)
    total = sum(g03.values())
    assert total <= len(g03) * graph.G01_RANK_ONE


def test_g03_partitioning_cannot_change_a_bit(spark, sf_smoke):
    """g01's repartition-invariance gate on the weighted path: BIGINT
    floor divisions and sums are exact, so adversarial repartitioning
    must reproduce the identical rank table."""
    hosts, links = _links(spark, sf_smoke)
    base = _ranks(
        api.host_pagerank_weighted(links, "src_host", "dst_host", extra_nodes=hosts)
    )
    with _uncoalesced_shuffles(spark, 13):
        shuffled = _ranks(
            api.host_pagerank_weighted(
                links.repartition(7, "dst_host"),
                "src_host",
                "dst_host",
                extra_nodes=hosts.repartition(13),
            )
        )
    assert base == shuffled


def test_g02_trust_semantics(spark, sf_smoke):
    """TrustRank's discriminating properties vs uniform PageRank:
    (1) per-host g02 rank ≤ g01 rank (mass enters at a SUBSET of nodes
    and every update is monotone in the incoming ranks — integer floor
    division included); (2) a non-seed host with no in-links scores
    EXACTLY 0 (no uniform floor — the spam-farm case g01 cannot
    express); (3) every seed scores ≥ BASE; and (4) the fixture
    actually exercises the split (some zero-rank hosts exist and some
    non-seeds still earn rank through links)."""
    g01 = {r["host"]: r["rank_micro"]
           for r in graph.g01_host_pagerank(spark, sf_smoke).collect()}
    g02 = {r["host"]: r["rank_micro"]
           for r in graph.g02_host_trustrank(spark, sf_smoke).collect()}
    assert set(g01) == set(g02)
    assert all(g02[h] <= g01[h] for h in g01)
    with_in = _with_in_edges(_links(spark, sf_smoke)[1])
    seeds = {h for h in g02 if h.endswith(graph.G02_SEED_SUFFIX)}
    for h, r in g02.items():
        if h in seeds:
            assert r >= graph.G01_BASE, (h, r)
        elif h not in with_in:
            assert r == 0, (h, r)
    assert any(r == 0 for r in g02.values()), "no unreachable host in fixture"
    assert any(
        r > 0 for h, r in g02.items() if h not in seeds
    ), "no trust propagation happened"


def test_g01_partitioning_cannot_change_a_bit(spark, sf_smoke):
    """The integer micro-rank contract: floor divisions + BIGINT sums
    are exact, so adversarial repartitioning of nodes AND edges must
    reproduce the identical rank table."""
    hosts, links = _links(spark, sf_smoke)
    base = _ranks(api.host_pagerank(links, "src_host", "dst_host", extra_nodes=hosts))
    with _uncoalesced_shuffles(spark, 13):
        shuffled = _ranks(
            api.host_pagerank(
                links.repartition(7, "dst_host"),
                "src_host",
                "dst_host",
                extra_nodes=hosts.repartition(13),
            )
        )
    assert base == shuffled


def test_g01_rank_invariants(spark, sf_smoke):
    """Structural gates: every node ends >= BASE (the uniform floor);
    a node with no in-edges ends at EXACTLY BASE; total final mass
    never exceeds the initial N*RANK_ONE (floor + dangling only LOSE
    mass); and the fixture graph actually exercises rank spread."""
    rows = graph.g01_host_pagerank(spark, sf_smoke).collect()
    assert rows
    with_in = _with_in_edges(_links(spark, sf_smoke)[1])
    for r in rows:
        assert r["rank_micro"] >= graph.G01_BASE, r
        if r["host"] not in with_in:
            assert r["rank_micro"] == graph.G01_BASE, r
    total = sum(r["rank_micro"] for r in rows)
    assert total <= len(rows) * graph.G01_RANK_ONE
    ranks = sorted(r["rank_micro"] for r in rows)
    assert ranks[0] < ranks[-1], "degenerate fixture: all ranks equal"


def test_g01_null_sources_cannot_shift_the_sid_ranking(spark, tmp_path):
    """r8 --nulls --oracle sweep pin: a NULL source row used to enter
    the ranked dst-source list, where Spark orders NULLS FIRST but
    DuckDB NULLS LAST — shifting every sid assignment by one and
    silently rewiring the whole graph. NULL sources now stay out of
    the dst universe on both sides; docs with NULL sources still rank
    (their NULL host node gets the floor) but emit no links."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = "/root/testdata/sf0.001"
    d = str(tmp_path / "null_src_sf")
    os.makedirs(d)
    for f in os.listdir(src):
        if f.endswith(".parquet") and f != "documents.parquet":
            shutil.copy(os.path.join(src, f), os.path.join(d, f))
    t = pq.read_table(os.path.join(src, "documents.parquet"))
    cols = {n: t.column(n).to_pylist() for n in t.schema.names}
    cols["source"] = [
        None if i % 5 == 0 else s for i, s in enumerate(cols["source"])
    ]
    pq.write_table(
        pa.table({n: pa.array(cols[n], t.schema.field(n).type) for n in t.schema.names}),
        os.path.join(d, "documents.parquet"),
    )
    df = graph.g01_host_pagerank(spark, d)
    assert_parity(df, graph.ORACLE["g01_host_pagerank"], d, "g01-nulls")
    hosts = [r["host"] for r in df.collect()]
    assert None in hosts, "NULL-host node must still appear with the floor rank"


def test_g01_iterations_move_mass(spark, sf_smoke):
    """Convergence sanity: iteration K's ranks differ from iteration 0's
    uniform vector, and successive iterations shrink the total update
    magnitude (damped fixed-point behavior) — computed at two depths."""
    hosts, links = _links(spark, sf_smoke)

    def ranks_at(k):
        return _ranks(
            api.host_pagerank(
                links, "src_host", "dst_host", iters=k, extra_nodes=hosts
            )
        )

    r1, r5, r6 = ranks_at(1), ranks_at(5), ranks_at(6)
    assert any(v != graph.G01_RANK_ONE for v in r1.values())
    delta_early = sum(abs(r5[h] - r1[h]) for h in r1)
    delta_late = sum(abs(r6[h] - r5[h]) for h in r1)
    assert delta_late < delta_early, (
        "ranks are not settling: |r6-r5| should be far below |r5-r1|"
    )


def test_g03_overflow_bound_is_enforced_not_documented(spark):
    """r10 VERDICT #3: a pathological multiplicity graph whose r·w·85
    product would exceed 2^63 used to WRAP silently (wrong ranks, no
    error); now the weighted kernel raises a pointed ValueError before
    the loop. Boundary check on the other side: a weight AT the
    admissible bound runs (the guard rejects only what could actually
    wrap) and its ranks obey the total-mass invariant the bound is
    derived from."""
    nodes = spark.createDataFrame([("a",), ("b",), ("c",)], ["host"])
    w_bound = (2**63 - 1) // (3 * graph.G01_DAMP_NUM * graph.G01_RANK_ONE)

    def wedges(w):
        return spark.createDataFrame(
            [("a", "b", w, w), ("b", "c", w, w)],
            ["src_host", "dst_host", "w", "outw"],
        ).select(
            "src_host",
            "dst_host",
            F.col("w").cast("long"),
            F.col("outw").cast("long"),
        )

    # Today: raises, loudly and with the remedy, BEFORE any iteration.
    with pytest.raises(ValueError, match="exact-arithmetic bound"):
        graph.trustrank_micro(
            nodes, wedges(w_bound + 1), F.lit(True), weighted=True
        )
    # Boundary: exactly-admissible weights still run and stay exact.
    ranks = {
        r["host"]: r["r"]
        for r in graph.trustrank_micro(
            nodes, wedges(w_bound), F.lit(True), weighted=True
        ).collect()
    }
    assert set(ranks) == {"a", "b", "c"}
    assert all(v >= 0 for v in ranks.values())
    assert sum(ranks.values()) <= 3 * graph.G01_RANK_ONE


def test_api_pagerank_weighted_propagates_overflow_guard(spark):
    """api.host_pagerank_weighted feeds the same kernel, so a caller
    with silently-huge multiplicities (the ADVICE scenario: unbounded
    integral weight_col) gets the loud error, not wrapped ranks."""
    from big_data_analytics_cse545_spark import api

    edges = spark.createDataFrame(
        [("a.example.com", "b.example.com", 2**52)],
        ["src", "dst", "mult"],
    ).select("src", "dst", F.col("mult").cast("long"))
    with pytest.raises(ValueError, match="exact-arithmetic bound"):
        api.host_pagerank_weighted(
            edges, "src", "dst", weight_col="mult"
        ).collect()


def test_rank_broadcast_fallback_bit_identical(spark, sf_smoke, monkeypatch):
    """The guarded rank broadcast (round-13, r12 verdict item 7): past
    ``_broadcast_max_nodes()`` the loop joins WITHOUT the broadcast
    hint (the shuffled-join fallback — scale-safe at any host count).
    Both branches must produce bit-identical ranks — join strategy can
    never change the joined rows; the guard only picks the physical
    plan."""
    hosts, links = _links(spark, sf_smoke)

    def ranks():
        return _ranks(
            api.host_pagerank(links, "src_host", "dst_host", extra_nodes=hosts)
        )

    assert graph._broadcast_max_nodes() == 20_000_000  # default ceiling
    via_broadcast = ranks()
    monkeypatch.setenv("SPARK_GRAFT_GRAPH_BCAST_MAX_NODES", "0")
    assert graph._broadcast_max_nodes() == 0  # read at call time
    via_shuffle = ranks()
    assert via_shuffle == via_broadcast
    assert len(via_shuffle) > 1
