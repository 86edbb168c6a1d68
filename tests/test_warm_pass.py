"""What a warm registry call pays again: a builder that was called once
starts no Spark job before ``collect()``, and a query run again after
others recompiles none of its generated classes."""

from __future__ import annotations

import uuid

import __spark_entry__ as em

BUILDERS = ("q01", "q03", "q10", "q34", "t01", "d03", "x01", "p02", "s02")


def _queries() -> dict:
    """Wrapped registry functions by query code (``q01``, ``d03``, ...)."""
    return {name.split("_", 1)[0]: fn for name, fn in em.all_queries().items()}


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_builders_start_no_job_before_collect(spark, sf_smoke):
    """Building a query declares a plan: once a builder has run, building
    it again starts no job (no parquet schema inference, no eager
    probe). Each build runs under its own job group, so the status
    tracker lists exactly the jobs the build started."""
    queries = _queries()
    sc = spark.sparkContext
    started = {}
    for name in BUILDERS:
        queries[name](spark, sf_smoke).collect()
        group = f"build-{name}-{uuid.uuid4().hex}"
        sc.setJobGroup(group, f"build {name}")
        try:
            df = queries[name](spark, sf_smoke)
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        started[name] = list(sc.statusTracker().getJobIdsForGroup(group))
        df.collect()
    assert not any(started.values()), f"jobs started while building: {started}"


def test_codegen_cache_holds_a_warm_pass(spark, sf_smoke):
    """Steps that together generate more than Spark's default 100 cached
    classes run between two calls of q01; the second call finds every
    class it needs in the codegen cache and compiles none."""
    queries = _queries()
    for name in ("q01", "q03", "q10", "q34", "d03"):
        queries[name](spark, sf_smoke).collect()
    before = _compiles(spark)
    queries["q01"](spark, sf_smoke).collect()
    assert _compiles(spark) - before == 0
