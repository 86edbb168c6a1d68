"""SparkSession factory with scale-oriented defaults.

The reference hand-rolls its runtime (one OS process per map/reduce task,
``Assignment 1/a1p1_ahuja.py:91-166``) or pins Spark 2.2 RDD defaults.
Here the session is configured for the modern stack: AQE, Arrow-batched
Python boundaries, and a shuffle-partition count sized by environment so
the same code runs on local[32] tests and a 1000-executor cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "big-data-analytics-cse545-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    Tunables come from the environment so the driver/bench can resize:
      SPARK_GRAFT_CPUS   -> local[$N] master (default local[*])
      SPARK_GRAFT_SHUFFLE_PARTITIONS -> spark.sql.shuffle.partitions
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Local-mode memory headroom; on a real cluster the submitter sets this.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Creator-owned like the shuffle partitions: configure_runtime
        # never writes these, so a harness's own Arrow batch size (the
        # chaos sweep's pathological 7) or codec survives every query.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return configure_runtime(builder.getOrCreate())


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime SQL confs to a session — the one place
    they are set. ``get_spark`` applies it to the sessions it builds, and
    every registry entry point (``__spark_entry__._wrap``) applies it to
    the session it is handed, so operators never write a conf
    themselves. Only runtime-mutable confs may be touched here — never
    JVM-startup ones — and never one the session's creator owns: the
    Arrow batch size and parquet codec are left as the session has them,
    and the shuffle partition count is replaced only at Spark's default.
    """
    # Deterministic timestamp semantics regardless of host timezone —
    # required for DuckDB-oracle parity on date/window queries.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # AQE: runtime re-plan (skew join splitting, partition coalescing,
    # sort-merge -> broadcast conversion). Essential at 100 TB.
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    # Arrow for every JVM<->Python boundary (pandas UDFs, toPandas).
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # Custom Python data sources (sources/pysource.py) implement
    # pushFilters; Spark refuses to plan them unless pushdown is
    # explicitly enabled (off by default in 4.x).
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    # events.ts has shipped as TIMESTAMP(NANOS), which Spark 4 rejects
    # by default: read it as a bigint of nanoseconds, which
    # sources.tables.normalize_events_ts floor-truncates to
    # microseconds like DuckDB (batch and streaming scans alike). The
    # conf is session-wide: ANY TIMESTAMP(NANOS) column read on a
    # configured session arrives as a bigint of nanoseconds, where Spark
    # would otherwise raise PARQUET_TYPE_ILLEGAL; only events.ts is
    # converted back, so callers reading other such files must convert
    # them (e.g. ``timestamp_micros(col div 1000)``).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # A vanilla session defaults to 200 shuffle partitions — at test SF
    # that is pure scheduling overhead (and for stateful streaming, 200
    # state-store instances). BUT only the vanilla default may be
    # replaced — by the env override if set, else by 32: a session
    # whose creator deliberately set another value (bench.py's 64, the
    # chaos sweep's degenerate 1/16 probes) must keep it. The env
    # override is likewise restricted to the vanilla default (round-6
    # advice): with SPARK_GRAFT_SHUFFLE_PARTITIONS exported, an
    # unconditional env branch re-clobbered every probe harness's
    # deliberate conf on each wrapped query — the same silent-clobber
    # class the round-6 conditional fixed. Sessions built by get_spark
    # already fold the env var in at startup, so nothing legitimate is
    # lost by scoping it to the untouched-default case here.
    if spark.conf.get("spark.sql.shuffle.partitions") == "200":
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"),
        )
    return spark
