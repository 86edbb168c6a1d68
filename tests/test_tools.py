"""Unit gates for the audit/ops tools that feed round artifacts —
pure-python pieces only (the Spark-driving sweeps are run out-of-band;
their per-round logs live in bench_runs/)."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def test_bench_short_code_collision_disambiguation():
    """bench.py's driver-tail line keys by short code; colliding codes
    must be disambiguated per-key, never by falling back to the
    oversized full-name payload (round-5 ADVICE)."""
    from bench import short_code_timings

    short = short_code_timings({"q01_a": 1.0, "q01_b": 2.0, "d03_x": 3.0})
    assert short == {"q01#1": 1.0, "q01#2": 2.0, "d03": 3.0}
    # no-collision registry: plain short codes, count preserved
    full = {f"q{i:02d}_name": float(i) for i in range(1, 40)}
    short = short_code_timings(full)
    assert len(short) == len(full) and "q05" in short


def test_bench_registry_has_no_short_code_collisions():
    """The REAL registry must produce plain short codes (a collision
    would change the driver-visible keys between rounds)."""
    from bench import short_code_timings

    import __spark_entry__ as em

    names = {n: 0.0 for n in em.all_queries()}
    short = short_code_timings(names)
    assert len(short) == len(names)
    assert not any("#" in c for c in short)


def test_configure_runtime_respects_creator_shuffle_setting(spark, monkeypatch):
    """configure_runtime must replace only the vanilla 200-partition
    default (or honor an explicit env override) — never a value the
    session's creator deliberately set. The previous unconditional
    reset silently ran every wrapped query at 32 regardless of the
    recorded config: bench 'at 64' and the chaos sweep's 'degenerate
    shuffle=1' dimension had never actually run (round-6 review)."""
    from big_data_analytics_cse545_spark.session import configure_runtime

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    try:
        spark.conf.set(key, "7")
        configure_runtime(spark)
        assert spark.conf.get(key) == "7", "creator's setting must survive"
        spark.conf.set(key, "200")
        configure_runtime(spark)
        assert spark.conf.get(key) == "32", "vanilla default must be resized"
        monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "11")
        spark.conf.set(key, "200")
        configure_runtime(spark)
        assert spark.conf.get(key) == "11", "env override resizes the vanilla default"
        # round-7 (r6 advice): the env override must NOT clobber a
        # creator's deliberate conf either — an exported env var used to
        # re-clobber chaos_partitions' degenerate shuffle=1/16 probes on
        # every wrapped query, the exact class the r6 conditional fixed
        spark.conf.set(key, "7")
        configure_runtime(spark)
        assert spark.conf.get(key) == "7", "env override must not clobber a deliberate conf"
    finally:
        spark.conf.set(key, prev)
    # the Arrow batch size and codec are the creator's too: chaos_partitions
    # builds its session with a pathological maxRecordsPerBatch of 7
    creator = {
        "spark.sql.execution.arrow.maxRecordsPerBatch": "7",
        "spark.sql.parquet.compression.codec": "zstd",
    }
    prev = {k: spark.conf.get(k) for k in creator}
    try:
        for k, v in creator.items():
            spark.conf.set(k, v)
        configure_runtime(spark)
        assert {k: spark.conf.get(k) for k in creator} == creator
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
