"""Parquet table catalog for the synthetic star schema (TESTDATA.md).

The reference's "sources" are driver-local ``os.listdir`` + per-file reads
(``Assignment 1/a1p2b_ahuja.py:75-81``) and ``sc.binaryFiles``
(``Assignment 2/a2_ahuja.py:416``) — both replaced here by Spark's native
file sources so listing, partition pruning and predicate pushdown happen
inside the scan, not on the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """The ONE ns→µs normalization for events.ts, shared by the batch
    loader and the streaming scan (streaming/ops.py) so the two can
    never drift (round-6 review): ts read as bigint (TIMESTAMP(NANOS)
    under nanosAsLong) floor-truncates to microseconds exactly like
    DuckDB; a native timestamp passes through as session-tz TIMESTAMP."""
    ts_type = dict(df.dtypes)["ts"]
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan for one table.

    Filters/projections applied by callers reach the scan via Catalyst
    (PushedFilters / ReadSchema) — never pre-collect or pre-filter here.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.ts has shipped as either TIMESTAMP(NANOS) or plain
        # TIMESTAMP(MICROS), depending on the generator version. The
        # session reads nanos as long (``configure_runtime``), which is
        # floor-truncated to microseconds (the same ns→µs truncation
        # DuckDB applies); micros are taken as-is. Either way normalize
        # to session-timezone TIMESTAMP (session tz is pinned UTC) so
        # every downstream window/watermark sees one type.
        df = normalize_events_ts(spark.read.parquet(path))
        return df.select("event_id", "ts", "user_id", "event_type", "value", "props")
    return spark.read.parquet(path)


def spread_scan(df: DataFrame, *key_cols: str) -> DataFrame:
    """Fan a row-group-bound scan out across the cluster before
    expensive per-row work (tokenize / shingle / per-position-hash
    pipelines) — round-12 optimization, guide §2.5 / §6.

    Spark pipelines everything up to the first exchange INTO the scan
    stage, and a parquet scan cannot be split below one row group — so
    over a single-row-group file (the local test fixtures' layout) the
    whole per-row pipeline serializes on ONE core no matter how many
    the session has. This helper inserts a deterministic keyed
    repartition to ``defaultParallelism`` ONLY when the scan has fewer
    partitions than that; at production scale inputs arrive in many
    row groups (scan partitions ≥ cluster parallelism), the condition
    is false and the helper is a structural no-op — the exchange never
    exists in the plan. Keyed (hash) repartition, not round-robin:
    deterministic under task retries (guide §2.5, SPARK-38388 class),
    and partition count cannot change any declared query's values (the
    engine's exact-arithmetic float policy; pinned by the chaos
    partition sweeps).
    """
    if not key_cols:
        raise ValueError("spread_scan needs at least one hash key column")
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    # Fast path (round-13, r12 verdict #4): ``df.rdd`` forces a
    # plan→RDD conversion at build time — an eager analysis
    # side-channel inside a declarative builder. ``inputFiles()`` is
    # listing-only (no physical planning); with ≥ target files the
    # scan cannot be narrower than the cluster in any layout that
    # matters (file packing only merges sub-row-group slack), so the
    # production case never pays the conversion. Few/zero files (the
    # local fixtures, or a non-file-backed frame) fall through to the
    # precise partition-count check, which is cheap exactly there.
    try:
        if len(df.inputFiles()) >= target:
            return df
    except Exception:  # noqa: BLE001 — fall back to the precise check
        pass
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, *[F.col(c) for c in key_cols])


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view so spark.sql() queries work."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
