"""L1 relational core: DuckDB-oracle parity for every query (SURVEY §7 step 2)."""

from __future__ import annotations

import pytest

from big_data_analytics_cse545_spark.operators import relational
from tests.oracle_utils import assert_parity


@pytest.mark.parametrize("name", sorted(relational.QUERIES))
def test_relational_oracle_parity(spark, sf_correctness, name):
    df = relational.QUERIES[name](spark, sf_correctness)
    if name not in relational.ORACLE:  # rows-only queries (e.g. sketches)
        assert df.count() > 0
        return
    assert_parity(df, relational.ORACLE[name], sf_correctness, name)


def test_q01_nonempty(spark, sf_smoke):
    rows = relational.q01_pricing_summary(spark, sf_smoke).collect()
    assert len(rows) > 0
    assert rows[0]["count_order"] > 0


def test_q30_wau_equals_naive_trailing_window(spark, sf_smoke):
    """The linear fan-out rewrite must equal the naive per-day trailing
    count (computable at smoke scale), and WAU >= DAU always."""
    import datetime

    from pyspark.sql import functions as F

    from big_data_analytics_cse545_spark.operators import relational
    from big_data_analytics_cse545_spark.sources import load_table

    got = {
        r["day"]: (r["dau"], r["wau"])
        for r in relational.q30_sliding_dau(spark, sf_smoke).collect()
    }
    ud = (
        load_table(spark, sf_smoke, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
        .collect()
    )
    by_day = {}
    for r in ud:
        by_day.setdefault(r["day"], set()).add(r["user_id"])
    for day_s, (dau, wau) in got.items():
        d = datetime.date.fromisoformat(day_s)
        naive = set()
        for k in range(relational.Q30_WINDOW_DAYS):
            naive |= by_day.get(d - datetime.timedelta(days=k), set())
        assert dau == len(by_day[d])
        assert wau == len(naive)
        assert wau >= dau


def test_q34_merge_audit_balances(spark, sf_correctness):
    """MERGE bookkeeping: output = base − deletes + inserts; no delete
    rows survive; updates are exactly base+1000; inserts live in the
    shifted key range at half the source price."""
    from big_data_analytics_cse545_spark.sources import load_table

    base = {
        r["o_orderkey"]: r["o_totalprice"]
        for r in load_table(spark, sf_correctness, "orders")
        .select("o_orderkey", "o_totalprice")
        .collect()
    }
    n_upd = sum(1 for k in base if k % 10 == 1)
    n_del = sum(1 for k in base if k % 10 == 2)
    n_ins = sum(1 for k in base if k % 10 == 3)
    rows = relational.q34_merge_upsert(spark, sf_correctness).collect()
    assert len(rows) == len(base) - n_del + n_ins
    by_action = {}
    for r in rows:
        by_action.setdefault(r["action"], []).append(r)
        assert r["action"] != "delete"
    assert len(by_action["update"]) == n_upd
    assert len(by_action["insert"]) == n_ins
    # keys ≡3 (mod 10) SPAWN inserts under shifted keys; their own base
    # rows pass through unchanged — only updates/deletes touch base rows.
    assert len(by_action["unchanged"]) == len(base) - n_upd - n_del
    for r in by_action["update"]:
        assert r["o_totalprice"] == base[r["o_orderkey"]] + 1000.0
    for r in by_action["insert"]:
        # inserts carry the NEGATED source key — structurally disjoint
        # from the (positive) snapshot at every SF (round-6 review)
        src = -r["o_orderkey"]
        assert src % 10 == 3 and r["o_totalprice"] == base[src] / 2.0


def test_q35_recursion_is_bounded_and_total(spark, sf_correctness):
    """The hierarchy walk must reach EVERY customer exactly once
    (partition of the table across depths), start from a single root,
    and terminate within the ⌈log₇(max_custkey)⌉ bound the 100 TB
    argument relies on."""
    import math

    from big_data_analytics_cse545_spark.sources import load_table

    c = load_table(spark, sf_correctness, "customer")
    n, kmax = c.count(), c.agg({"c_custkey": "max"}).collect()[0][0]
    rows = relational.q35_recursive_cte(spark, sf_correctness).collect()
    assert rows[0]["depth"] == 0 and rows[0]["n_customers"] == 1
    assert sum(r["n_customers"] for r in rows) == n
    assert max(r["depth"] for r in rows) <= math.ceil(math.log(kmax, 7))


def test_q35_row_limit_guard_fails_loudly_not_truncates(spark, sf_correctness):
    """Spark bounds recursive CTEs by TOTAL emitted rows
    (spark.sql.cteRecursionRowLimit, default 1e6) — at corpus scale the
    walk emits one row per entity, so operators must raise the limit or
    fail. Pin the failure mode: a too-small limit ERRORS (no silent
    truncation), and restoring the limit restores the full result."""
    import pytest

    key = "spark.sql.cteRecursionRowLimit"
    orig = spark.conf.get(key)
    try:
        spark.conf.set(key, "10")
        with pytest.raises(Exception, match="(?i)recursion|limit"):
            relational.q35_recursive_cte(spark, sf_correctness).collect()
        spark.conf.set(key, orig)
        rows = relational.q35_recursive_cte(spark, sf_correctness).collect()
        assert sum(r["n_customers"] for r in rows) == 1500
    finally:
        spark.conf.set(key, orig)


def test_rollup_on_empty_input_yields_no_rows_unlike_ansi(spark):
    """Documented engine difference found by the --empty --oracle chaos
    probe: Spark's rollup/cube/GROUPING SETS on EMPTY input produce 0
    rows, while ANSI (and DuckDB) still emit the grand-total grouping
    set (COUNT(*) = 0), exactly as a bare aggregate does. Pinned so a
    future Spark version changing this is noticed — q08/q09/q17's
    oracles assume non-empty input only because of this difference."""
    from pyspark.sql import functions as F

    empty = spark.createDataFrame([], "a string, b string, v long")
    assert empty.rollup("a", "b").agg(F.count(F.lit(1))).count() == 0
    assert empty.cube("a", "b").agg(F.count(F.lit(1))).count() == 0
    # the bare aggregate DOES emit its one global row — the asymmetry
    # is specifically in the grouping-sets path
    assert empty.agg(F.count(F.lit(1))).count() == 1


@pytest.mark.parametrize(
    "fn",
    [
        relational.q17_grouping_sets,
        relational.q25_range_frame,
        relational.q33_sql_subqueries,
        relational.q35_recursive_cte,
    ],
    ids=lambda fn: fn.__name__[:3],
)
def test_sql_text_queries_leave_no_temp_view(spark, sf_smoke, fn):
    """The SQL-text queries pass their tables to ``spark.sql`` as
    DataFrame arguments: a fixed view name would let two clients of one
    session overwrite each other's table between registration and
    analysis, and would outlive the call in the session's catalog."""
    from big_data_analytics_cse545_spark.session import configure_runtime

    other = configure_runtime(spark.newSession())
    assert other.catalog.listTables() == []
    assert fn(other, sf_smoke).collect()
    assert other.catalog.listTables() == []
