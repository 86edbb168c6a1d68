"""Sources/sinks round-trips — the reference only prints to the driver
(SURVEY §2.5 'sinks: print-only'); the engine writes real columnar/text
outputs and reads every format Spark supports natively."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from big_data_analytics_cse545_spark.operators import relational
from big_data_analytics_cse545_spark.sources import load_table


def test_parquet_sink_roundtrip(spark, sf_smoke, tmp_path):
    out = str(tmp_path / "q01_out")
    df = relational.q01_pricing_summary(spark, sf_smoke)
    df.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    assert sorted(back.collect()) == sorted(df.collect())


def test_partitioned_parquet_sink(spark, sf_smoke, tmp_path):
    """partitionBy writes the layout a 100 TB table needs — partition
    pruning then skips directories entirely."""
    out = str(tmp_path / "orders_by_status")
    o = load_table(spark, sf_smoke, "orders")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    assert sorted(p for p in os.listdir(out) if p.startswith("o_orderstatus=")) == [
        "o_orderstatus=F", "o_orderstatus=O", "o_orderstatus=P",
    ]
    pruned = spark.read.parquet(out).filter(F.col("o_orderstatus") == "O")
    exact = o.filter(F.col("o_orderstatus") == "O").count()
    assert pruned.count() == exact


def test_csv_and_json_roundtrip(spark, sf_smoke, tmp_path):
    df = load_table(spark, sf_smoke, "nation")
    csv_out = str(tmp_path / "nation_csv")
    json_out = str(tmp_path / "nation_json")
    df.write.mode("overwrite").option("header", True).csv(csv_out)
    df.write.mode("overwrite").json(json_out)
    csv_back = (
        spark.read.option("header", True).option("inferSchema", True).csv(csv_out)
    )
    json_back = spark.read.json(json_out)
    assert csv_back.count() == df.count() == json_back.count()
    assert {r["n_name"] for r in csv_back.collect()} == {
        r["n_name"] for r in df.collect()
    }


def test_orc_sink_roundtrip(spark, sf_smoke, tmp_path):
    """ORC is the other native columnar format — same writer/reader
    contract as parquet (predicate pushdown included)."""
    out = str(tmp_path / "nation_orc")
    df = load_table(spark, sf_smoke, "nation")
    df.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    assert sorted(back.collect()) == sorted(df.collect())


def test_text_wholetext_and_binary_sources(spark, tmp_path):
    """R8/R9/I1 source family: text, wholetext, binaryFile."""
    p = tmp_path / "docs"
    p.mkdir()
    (p / "a.txt").write_text("hello world\nsecond line")
    (p / "b.txt").write_text("third line")
    lines = spark.read.text(str(p))
    assert lines.count() == 3
    whole = spark.read.text(str(p), wholetext=True)
    assert whole.count() == 2
    binary = spark.read.format("binaryFile").load(str(p))
    rows = {os.path.basename(r["path"]): r["content"] for r in binary.collect()}
    assert rows["a.txt"] == b"hello world\nsecond line"
    assert rows["b.txt"] == b"third line"


def test_f04_filter_becomes_partition_filter(spark, sf_correctness):
    """f04's lang predicate must prune partitions at the file index —
    PartitionFilters carries it and DataFilters stays empty (nothing
    left to evaluate per row)."""
    from big_data_analytics_cse545_spark.operators import ingest

    plan = (
        ingest.f04_partitioned_scan(spark, sf_correctness)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scan = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert scan, "expected a parquet FileScan in the plan"
    line = scan[0]
    assert "PartitionFilters: [" in line and "lang" in line.split(
        "PartitionFilters:"
    )[1].split("]")[0], line
    assert "DataFilters: []" in line, line


def test_python_custom_writer_two_phase_commit(spark, sf_smoke, tmp_path):
    """Custom Python sink (sources/pysource.py graftjsonl): tasks stage,
    the driver commits — after save() the directory holds only
    published files plus a _SUCCESS manifest whose row count matches,
    no .staged-* leftovers, and the data round-trips exactly."""
    import json
    import os

    from big_data_analytics_cse545_spark.sources import load_table, pysource

    pysource.register_sink(spark)
    out = str(tmp_path / "jsonl_sink")
    d = (
        load_table(spark, sf_smoke, "documents")
        .select("doc_id", "lang", "n_chars")
        .repartition(3)
    )
    n = d.count()
    d.write.format("graftjsonl").option("path", out).mode("append").save()
    manifest = json.load(open(os.path.join(out, "_SUCCESS")))
    assert manifest["n_rows"] == n
    assert len(manifest["files"]) == 3
    assert not [f for f in os.listdir(out) if f.startswith(".staged-")]
    back = spark.read.schema("doc_id long, lang string, n_chars long").json(out)
    assert back.count() == n
    assert (
        back.exceptAll(d).count() == 0 and d.exceptAll(back).count() == 0
    ), "round-trip mismatch"


def test_python_custom_writer_overwrite_clears_stale_parts(spark, sf_smoke, tmp_path):
    """mode('overwrite') must publish ONLY the new run's files: the
    writer used to store the flag and never act on it, so consumers
    globbing *.jsonl saw run-1 + run-2 rows (round-6 review)."""
    import json
    import os

    from big_data_analytics_cse545_spark.sources import load_table, pysource

    pysource.register_sink(spark)
    out = str(tmp_path / "jsonl_sink_ow")
    d = load_table(spark, sf_smoke, "documents").select("doc_id", "n_chars")
    d.limit(7).repartition(2).write.format("graftjsonl").option(
        "path", out
    ).mode("append").save()
    # a user's own file in the shared destination dir: overwrite prune
    # is scoped to the sink's part-file naming pattern and must never
    # delete it (round-6 advice)
    foreign = os.path.join(out, "user_data.jsonl")
    with open(foreign, "w") as fh:
        fh.write('{"doc_id": -1, "n_chars": 0}\n')
    d.limit(3).repartition(1).write.format("graftjsonl").option(
        "path", out
    ).mode("overwrite").save()
    manifest = json.load(open(os.path.join(out, "_SUCCESS")))
    assert manifest["n_rows"] == 3
    assert os.path.exists(foreign), "foreign .jsonl must survive overwrite"
    on_disk = sorted(
        f for f in os.listdir(out)
        if pysource.JsonlSinkWriter._PART_RE.fullmatch(f)
    )
    assert on_disk == sorted(manifest["files"]), (
        "overwrite must leave exactly the manifest's part files on disk"
    )
    back = spark.read.schema("doc_id long, n_chars long").json(out)
    assert back.count() == 4  # 3 sink rows + the untouched user file


# ---------------------------------------------------------------------------
# spread_scan — the round-12 scale-adaptive scan fan-out
# ---------------------------------------------------------------------------


def test_spread_scan_fans_out_single_row_group_scan(spark, sf_smoke):
    """A single-row-group parquet scan plans fewer partitions than
    defaultParallelism, so spread_scan must insert the keyed
    repartition — and the row SET must be exactly unchanged."""
    from big_data_analytics_cse545_spark.sources import load_table, spread_scan

    d = load_table(spark, sf_smoke, "documents")
    assert d.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    s = spread_scan(d, "doc_id")
    assert s.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r.doc_id for r in s.select("doc_id").collect()) == sorted(
        r.doc_id for r in d.select("doc_id").collect()
    )


def test_spread_scan_noop_when_scan_already_parallel(spark, tmp_path):
    """The condition is derived from the actual scan partitioning: an
    input with >= defaultParallelism splits (the production layout)
    must come back IDENTICAL — no exchange inserted."""
    from pyspark.sql import functions as F

    from big_data_analytics_cse545_spark.sources import spread_scan

    target = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "many_parts.parquet")
    spark.range(1000).withColumn("doc_id", F.col("id")).repartition(
        target * 2
    ).write.parquet(path)
    d = spark.read.parquet(path)
    assert d.rdd.getNumPartitions() >= target
    s = spread_scan(d, "doc_id")
    assert s is d  # structural no-op: the exchange never exists


def test_spread_scan_requires_a_key(spark, sf_smoke):
    """Round-robin would be nondeterministic under task retries
    (SPARK-38388 class) — the helper refuses to run without a hash key."""
    import pytest as _pytest

    from big_data_analytics_cse545_spark.sources import load_table, spread_scan

    with _pytest.raises(ValueError, match="hash key"):
        spread_scan(load_table(spark, sf_smoke, "documents"))


def test_events_load_and_f06_leave_session_confs_unchanged(spark, sf_smoke):
    """Runtime confs are set by ``configure_runtime`` alone: loading the
    events table and running f06 on a configured session write no conf,
    so two clients sharing a session never see each other's settings.
    The nanos conf is cleared first, so the session's value is the one
    ``configure_runtime`` sets, not one an earlier test left behind."""
    from big_data_analytics_cse545_spark.operators import ingest
    from big_data_analytics_cse545_spark.session import configure_runtime

    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    configure_runtime(spark)
    before = dict(spark.conf.getAll)
    load_table(spark, sf_smoke, "events").count()
    ingest.f06_python_datasource_scan(spark, sf_smoke).collect()
    assert dict(spark.conf.getAll) == before


def test_data_sources_register_on_a_second_session(spark, sf_smoke):
    """The Python data sources register on every session of one
    application: after the shared session registered them, a
    ``newSession()`` registers them again (no
    ``[DATA_SOURCE_ALREADY_EXISTS]``) and f06 runs there with the
    shared session's rows. Registering leaves the active session as it
    was."""
    from big_data_analytics_cse545_spark.operators import ingest
    from big_data_analytics_cse545_spark.session import configure_runtime
    from big_data_analytics_cse545_spark.sources import avro_source, pysource

    active = spark._jvm.org.apache.spark.sql.SparkSession.getActiveSession
    before = active()
    for register in (pysource.register, pysource.register_sink, avro_source.register):
        register(spark)
    other = configure_runtime(spark.newSession())
    pysource.register_sink(other)
    avro_source.register(other)
    got = ingest.f06_python_datasource_scan(other, sf_smoke).collect()
    assert got == ingest.f06_python_datasource_scan(spark, sf_smoke).collect()
    assert active().equals(before)


def test_events_timestamp_nanos_floor_to_micros(spark, tmp_path):
    """An events file whose ts is TIMESTAMP(NANOS) (the fixtures are
    micros) loads, and each ts is floor-truncated to the microsecond,
    as DuckDB reads it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns = [1_700_000_000_123_456_789, 1_700_000_000_000_000_999, 1_700_000_001_000_000_000]
    n = len(ns)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array(ns, pa.timestamp("ns", tz="UTC")),
                "user_id": pa.array([7] * n, pa.int64()),
                "event_type": pa.array(["view"] * n),
                "value": pa.array([1.0] * n),
                "props": pa.array(["{}"] * n),
            }
        ),
        tmp_path / "events.parquet",
    )
    assert str(pq.read_schema(tmp_path / "events.parquet").field("ts").type) == (
        "timestamp[ns, tz=UTC]"
    )
    got = [
        r[0]
        for r in load_table(spark, str(tmp_path), "events")
        .orderBy("event_id")
        .select(F.unix_micros("ts"))
        .collect()
    ]
    assert got == [t // 1000 for t in ns]


def test_load_table_sees_a_file_rewritten_at_the_same_path(spark, tmp_path):
    """The schema cache keys on the file's identity, not only its path:
    a file rewritten in place with an extra column is inferred again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"], "r_comment": ["x", "y"]}),
        path,
    )
    got = load_table(spark, str(tmp_path), "region")
    assert got.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(got.collect()) == [(0, "A", "x"), (1, "B", "y")]


def test_directory_layout_scans_return_the_file_layout_rows(spark, sf_smoke, tmp_path):
    """A ``<table>.parquet`` directory of part files, read with the cached
    schema, gives the rows of the single-file layout, in the batch
    loader and in the streaming scan alike."""
    from big_data_analytics_cse545_spark.streaming.ops import _events_stream, _run_to_table

    def rows(df):
        return sorted(map(repr, df.collect()))

    for name in ("events", "documents"):
        load_table(spark, sf_smoke, name).repartition(3).write.parquet(
            str(tmp_path / f"{name}.parquet")
        )
        assert rows(load_table(spark, str(tmp_path), name)) == rows(
            load_table(spark, sf_smoke, name)
        )
    streamed = _run_to_table(
        _events_stream(spark, str(tmp_path)), spark, "events_dir_mem", "append"
    )
    assert rows(streamed) == rows(load_table(spark, sf_smoke, "events"))


def test_uri_sf_dir_scans_read_the_path_as_given(spark, sf_smoke, tmp_path):
    """A ``file://`` sf dir reaches Spark unchanged (the schema cache
    never rewrites a URI), in the batch loader and the streaming scan."""
    import shutil

    from big_data_analytics_cse545_spark.streaming.ops import _events_stream, _run_to_table

    def rows(df):
        return sorted(map(repr, df.collect()))

    for name in ("region", "events"):
        shutil.copy(os.path.join(sf_smoke, f"{name}.parquet"), tmp_path)
    uri = tmp_path.as_uri()
    for name in ("region", "events"):
        assert rows(load_table(spark, uri, name)) == rows(load_table(spark, sf_smoke, name))
    streamed = _run_to_table(_events_stream(spark, uri), spark, "events_uri_mem", "append")
    assert rows(streamed) == rows(load_table(spark, sf_smoke, "events"))
