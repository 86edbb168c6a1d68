"""Physical-plan inspection helpers — the engine's scale-readiness gates.

The reference has no optimizer to inspect (RDD lineage only, SURVEY §4);
our engine's contract is that Catalyst produces the plan a 100 TB run
needs: filters pushed into the parquet scan, only referenced columns
read, small dims broadcast, hot paths inside whole-stage codegen. These
helpers turn those properties into assertable strings so tests/ can pin
them (tests/test_plans.py) instead of hoping.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._jdf.queryExecution().explainString(
        getattr(
            df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode,
            "fromString",
        )(mode)
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries of every file scan in the plan."""
    text = explain_str(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", text):
        if m.group(1).strip():
            out.extend(p.strip() for p in m.group(1).split(","))
    return out


def scan_read_schema(df: DataFrame) -> list[str]:
    """Column sets actually read from parquet (ReadSchema), one entry per
    scan — column pruning is visible as missing columns here."""
    return re.findall(r"ReadSchema: (struct<[^>]*>)", explain_str(df))


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df, "simple")


def runtime_shuffle_exchanges(df: DataFrame) -> int:
    """Shuffle exchanges a run executes, counted on the physical tree
    via py4j: AdaptiveSparkPlanExec is unwrapped to its initialPlan (AQE
    may still elide some of these at runtime; this is the upper bound
    the static audit wants), and a ReusedExchange re-reads an exchange
    counted elsewhere, so it adds nothing. A local checkpoint is a scan
    here: the exchanges that built it belong to its own plan.
    """

    def count(n):
        if n.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            n = n.initialPlan()
        c = 1 if n.getClass().getSimpleName() == "ShuffleExchangeExec" else 0
        ch = n.children()
        return c + sum(count(ch.apply(i)) for i in range(ch.size()))

    return count(df._jdf.queryExecution().executedPlan())


def shuffle_exchanges(df: DataFrame) -> list[str]:
    """Shuffle Exchange nodes (hash/range/single-partition) in the plan
    — broadcast exchanges excluded. Each entry is the partitioning spec,
    so tests can pin both the count and the keys a query shuffles on."""
    text = explain_str(df, "simple")
    return [
        m.group(1)
        for m in re.finditer(
            r"Exchange (hashpartitioning\([^)]*\)|rangepartitioning\([^)]*\)|SinglePartition)",
            text,
        )
    ]


def wholestage_codegen_spans(df: DataFrame) -> int:
    """Number of WholeStageCodegen subtrees — wider/fewer is better.

    Uses the codegen explain mode: with AQE enabled the simple plan is
    printed before stage finalization and carries no codegen markers.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        # AQE finalizes stages lazily, so a pre-execution explain reports
        # zero codegen subtrees; re-plan the same logical plan without AQE
        # (round-trip through a temp view forces fresh physical planning).
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        df.createOrReplaceTempView("_codegen_probe")
        probe = spark.table("_codegen_probe")
        m = re.search(
            r"Found (\d+) WholeStageCodegen subtrees", explain_str(probe, "codegen")
        )
        return int(m.group(1)) if m else 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
        spark.catalog.dropTempView("_codegen_probe")
