"""Structured Streaming extension — tumbling/sliding/session windows,
watermarks, streaming dedup over the events table.

No reference counterpart (SURVEY §2.5 'streaming: absent' — the reference
is batch-only); this is the north-star extension (BASELINE.json). Each
query runs a real Structured Streaming job (``readStream`` → windowed
aggregation → ``Trigger.AvailableNow`` → memory sink) and returns the
materialized result as a batch DataFrame, so the driver's oracle compare
exercises genuine streaming execution with deterministic, SQL-checkable
semantics: windowed aggregations run in APPEND mode (the one mode where
the watermark evicts state — round-6 review) and emit exactly the
watermark-closed windows, a horizon each oracle reproduces explicitly
(``window_end ≤ max ts − delay``, the st10 pattern).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

GAP_SECONDS = 600  # session gap (10 minutes)

# Streaming state-store partitions: each shuffle partition of a stateful
# streaming agg materializes its own state-store instance + Python worker
# round-trip; with O(1k) keys a handful of partitions beats both the
# engine default (32) and a vanilla session's 200. On a real cluster this
# would be sized to executor count via SPARK_GRAFT_SHUFFLE_PARTITIONS.
STREAM_SHUFFLE_PARTITIONS = "8"


@contextmanager
def _stream_shuffle_partitions(spark: SparkSession):
    """Temporarily pin spark.sql.shuffle.partitions for a streaming run,
    always restoring the caller's value — even when the query throws
    (otherwise every later batch query in the shared driver session would
    silently run with the streaming setting)."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", STREAM_SHUFFLE_PARTITIONS)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _stream_scan(spark: SparkSession, sf_dir: str, table_file: str) -> DataFrame:
    """Streaming file scan of one table, handling BOTH fixture layouts:
    a single ``<table>.parquet`` FILE is selected out of the sf dir with
    a leaf-name glob, while a ``<table>.parquet`` DIRECTORY (the
    standard Spark writer layout of part-* files) streams the directory
    itself. The glob alone would silently match zero leaf files on the
    directory layout — every streaming query would return empty with no
    error pointing at the scan (round-6 review)."""
    path = os.path.join(sf_dir, table_file)
    schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        return spark.readStream.schema(schema).parquet(path)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", table_file)
        .parquet(sf_dir)
    )


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of events with the same ns→µs truncation as the
    batch loader — literally the same function (round-6 review:
    the truncation used to be a hand-kept copy)."""
    from big_data_analytics_cse545_spark.sources.tables import (
        normalize_events_ts,
    )

    return normalize_events_ts(_stream_scan(spark, sf_dir, "events.parquet"))


def _run_to_table(
    stream_df: DataFrame,
    spark: SparkSession,
    name: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Execute with Trigger.AvailableNow into a memory sink; return the
    materialized table. Runs under the streaming shuffle-partition pin
    (try/finally — the caller's conf always comes back)."""
    with _stream_shuffle_partitions(spark):
        query = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        try:
            finished = query.awaitTermination(300)
            if not finished:
                raise TimeoutError(f"streaming query {name} did not finish in 300s")
        finally:
            query.stop()
    return spark.table(name)


# ---------------------------------------------------------------------------
# st01 — tumbling window aggregation + watermark
# ---------------------------------------------------------------------------

def st01_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows with a 1-hour watermark:
    count + value sum per (window, event_type), the baseline stateful
    streaming aggregation — in APPEND output mode, because that is the
    only mode where the watermark actually EVICTS window state (round-6
    review: complete mode retains every window's aggregate forever, so
    the previous complete-mode form contradicted its own bounded-state
    claim). Append emits exactly the watermark-closed windows
    (window_end ≤ max ts − 1 h under AvailableNow), which the oracle
    reproduces — the st10 horizon pattern. The decimal-cast sum keeps
    float parity with the oracle."""
    e = _events_stream(spark, sf_dir)
    agg = (
        e.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,3)")).cast("double").alias("sum_value"),
        )
    )
    out = _run_to_table(agg, spark, "st01_mem", output_mode="append")
    return (
        out.select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


# Oracle formats window starts via make_timestamp(µs) — a NAIVE TIMESTAMP —
# not to_timestamp(), whose TIMESTAMPTZ rendering depends on the DuckDB
# session TimeZone (host-local by default, while Spark is pinned UTC).
_ST01_SQL = """
WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
SELECT
  strftime(make_timestamp(CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) * 1000000), '%Y-%m-%d %H:%M') AS window_start,
  event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value
FROM events
-- append-mode horizon: only watermark-closed windows emit
WHERE make_timestamp((CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) + 3600) * 1000000)
      <= (SELECT w FROM wm)
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


# ---------------------------------------------------------------------------
# st02 — sliding window aggregation
# ---------------------------------------------------------------------------

def st02_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1-hour length, 30-minute slide): each event
    lands in exactly 2 windows — Spark fans out window instances per
    event and aggregates per instance, which the oracle mirrors with an
    explicit 2-start unnest. Append mode like st01 (the one mode where
    the watermark genuinely evicts window state; round-6 review),
    ×(length/slide) window instances, same closed-window horizon."""
    e = _events_stream(spark, sf_dir)
    agg = (
        e.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = _run_to_table(agg, spark, "st02_mem", output_mode="append")
    return (
        out.select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm").alias("window_start"),
            "n_events",
        )
        .orderBy("window_start")
    )


_ST02_SQL = """
WITH starts AS (
  SELECT unnest([
    CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) - 1800,
    CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT)
  ]) AS s
  FROM events
)
SELECT strftime(make_timestamp(s * 1000000), '%Y-%m-%d %H:%M') AS window_start,
       COUNT(*) AS n_events
FROM starts
WHERE make_timestamp((s + 3600) * 1000000)
      <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
GROUP BY s ORDER BY window_start
"""


# ---------------------------------------------------------------------------
# st03 — session windows (gap-merged)
# ---------------------------------------------------------------------------

def st03_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 10-minute gap; output = session
    count + size histogram per user bucket (kept small and hash-stable).
    APPEND mode: session state is evicted when the watermark passes a
    session's close (round-6 review — complete mode would retain every
    session forever), so emitted sessions are those whose end
    (last event + gap) ≤ max ts − 1 h, which the oracle reproduces.

    Oracle: the classic gaps-and-islands rewrite. Boundary semantics,
    pinned by tests/test_streaming.py::test_session_window_exact_gap_boundary:
    Spark MERGES events exactly gap seconds apart (a session [t, t+gap]
    absorbs an event at t+gap) and starts a new session only when
    diff > gap — so the oracle's island predicate is strictly >.
    """
    e = _events_stream(spark, sf_dir)
    agg = (
        e.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", f"{GAP_SECONDS} seconds").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = _run_to_table(agg, spark, "st03_mem", output_mode="append")
    return (
        out.groupBy(F.col("n_events").alias("session_size"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("session_size")
    )


_ST03_SQL = f"""
WITH ordered AS (
  SELECT user_id, ts,
         CASE WHEN epoch(ts) - epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)) > {GAP_SECONDS}
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM ordered
),
per_session AS (
  SELECT user_id, sid, COUNT(*) AS session_size,
         max(ts) + INTERVAL {GAP_SECONDS} SECOND AS session_end
  FROM sessions GROUP BY user_id, sid
)
SELECT session_size,
       COUNT(*) AS n_sessions,
       COUNT(DISTINCT user_id) AS n_users
FROM per_session
-- append-mode horizon: only watermark-closed sessions emit
WHERE session_end <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
GROUP BY session_size ORDER BY session_size
"""


# ---------------------------------------------------------------------------
# st04 — streaming dedup (dropDuplicates within the stream)
# ---------------------------------------------------------------------------

def st04_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates on (user_id, event_type): the memory-sink
    count per event_type equals the batch COUNT(DISTINCT user_id).

    State honesty (round-6 review): GLOBAL exact streaming dedup is
    inherently unbounded-state — plain dropDuplicates keeps one state
    row per distinct key forever, and the watermark cannot evict it
    because the dedup keys carry no event time (this is semantic, not
    an implementation gap: exact global distinct over an infinite
    stream requires remembering every key). This query demonstrates
    that exact semantics on a bounded replay; continuous deployments
    bound state with ``dropDuplicatesWithinWatermark`` (accepting
    re-admission of keys separated by more than the delay — pinned in
    tests/test_streaming.py) or the stream-static anti-join against a
    persisted index (st09), which keeps ZERO stream-side state. The
    downstream complete-mode agg holds one row per event_type —
    constant-sized."""
    e = _events_stream(spark, sf_dir)
    dedup = (
        e.withWatermark("ts", "1 hour")
        .dropDuplicates(["user_id", "event_type"])
        .groupBy("event_type")
        # count(user_id), not count(*): dropDuplicates keeps one row
        # for the NULL-user group per event_type, but COUNT(DISTINCT
        # user_id) ignores NULLs (round-6 null probe)
        .agg(F.count(F.col("user_id")).alias("n_unique_users"))
    )
    out = _run_to_table(dedup, spark, "st04_mem")
    return out.orderBy("event_type")


_ST04_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_unique_users
FROM events GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# st05 — custom stateful operator (applyInPandasWithState)
# ---------------------------------------------------------------------------

def st05_stateful_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator: per-user running event counts
    kept in GroupState (applyInPandasWithState), reduced to a session-
    size histogram.

    This is the engine's escape hatch for stateful semantics Spark's
    built-in windows can't express (SURVEY §7 'streaming extension');
    with AvailableNow over one file the final state equals the batch
    group-count, giving an exact oracle.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    e = _events_stream(spark, sf_dir)

    def count_events(key, pdfs, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    counts = e.groupBy("user_id").applyInPandasWithState(
        count_events,
        "user_id long, n_events long",
        "n_events long",
        "update",
        GroupStateTimeout.NoTimeout,
    )
    out = _run_to_table(counts, spark, "st05_mem", output_mode="update")
    # update-mode memory sink appends one row per state update; the last
    # update per user is the final count — take max (counts only grow).
    return (
        out
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
        .groupBy("n_events")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("n_events")
    )


_ST05_SQL = """
SELECT n_events, COUNT(*) AS n_users
FROM (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id)
GROUP BY n_events ORDER BY n_events
"""


# ---------------------------------------------------------------------------
# st06 — stream-stream join (watermarked, time-range condition)
# ---------------------------------------------------------------------------

def st06_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join CHAINED into a windowed
    aggregation — two stateful operators in one standing query: views ⋈
    purchases by the same user within 1 hour after the view, reduced
    in-stream to counts per 1-hour purchase window, then rolled up to
    hour-of-day batch-side. Both sides carry watermarks and the join
    has a time-range condition, so Spark expires join state; the
    chained agg means the SINK receives window-level counts, never the
    pair-granularity join output (round-6 review: the previous form
    materialized every joined pair in the driver-resident memory sink —
    a hot user with 10⁴ views × 10⁴ purchases in an hour would have
    produced 10⁸ driver rows; now that blowup stays inside executor
    state and the sink is aggregate-sized under ANY fan-out).

    Emission horizon (probed, not assumed): the join shifts the
    downstream purchase-side watermark by the time-range span, so a
    window emits iff window_end < least(max view_ts, max purchase_ts)
    − 1 h (delay) − 1 h (range) — STRICT, the boundary window is
    withheld. The oracle reproduces exactly that cut.
    """
    e = _events_stream(spark, sf_dir)
    views = (
        e.filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        F.expr(
            "v_user = p_user AND purchase_ts >= view_ts "
            "AND purchase_ts <= view_ts + INTERVAL 1 HOUR"
        ),
    )
    agg = joined.groupBy(F.window("purchase_ts", "1 hour").alias("w")).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    out = _run_to_table(agg, spark, "st06_mem", output_mode="append")
    return (
        out.groupBy(F.date_format("w.start", "HH").alias("purchase_hour"))
        .agg(F.sum("n_pairs").alias("n_pairs"))
        .orderBy("purchase_hour")
    )


# The join bound compares timestamps directly (INTERVAL arithmetic is
# exact integer-microsecond math in DuckDB); epoch() doubles could lose
# 1 ulp on fractional-microsecond values and flip a boundary pair. The
# wm CTE coalesces each side's max to epoch (least() ignores NULLs —
# the st08 lesson) and subtracts delay + join range; the cut is STRICT
# on the purchase window end (probed against Spark's chained emission).
_ST06_SQL = """
WITH v AS (SELECT user_id, ts AS vts FROM events WHERE event_type = 'view'),
p AS (SELECT user_id, ts AS pts FROM events WHERE event_type = 'purchase'),
wm AS (
  SELECT least(
           coalesce((SELECT max(vts) FROM v), TIMESTAMP '1970-01-01'),
           coalesce((SELECT max(pts) FROM p), TIMESTAMP '1970-01-01')
         ) - INTERVAL 2 HOUR AS w
)
SELECT strftime(pts, '%H') AS purchase_hour, COUNT(*) AS n_pairs
FROM v JOIN p ON v.user_id = p.user_id
 AND pts >= vts AND pts <= vts + INTERVAL 1 HOUR
WHERE make_timestamp((CAST(floor(epoch(pts) / 3600) AS BIGINT) + 1) * 3600 * 1000000)
      < (SELECT w FROM wm)
GROUP BY 1 ORDER BY purchase_hour
"""


# ---------------------------------------------------------------------------
# st07 — stream-static broadcast join (dimension enrichment)
# ---------------------------------------------------------------------------

def st07_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enrich the event stream with a static dimension (customer market
    segment, keyed user_id = c_custkey) then aggregate per (segment,
    event_type) — the canonical streaming-ETL enrichment: the static
    side is planned as a broadcast hash join against every micro-batch,
    so no stream-side state and no shuffle of the stream.

    At 100 TB of stream: the dimension is re-broadcast per batch at its
    own (small) size; only the aggregation state scales with key count,
    not with stream volume.
    """
    from big_data_analytics_cse545_spark.sources import load_table

    e = _events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    agg = (
        e.join(F.broadcast(dim), "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,3)")).cast("double").alias(
                "sum_value"
            ),
        )
    )
    out = _run_to_table(agg, spark, "st07_mem")
    return out.orderBy("c_mktsegment", "event_type")


_ST07_SQL = """
SELECT c_mktsegment, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
ORDER BY c_mktsegment, event_type
"""


# ---------------------------------------------------------------------------
# st08 — stream-stream LEFT OUTER join (watermark-gated null emission)
# ---------------------------------------------------------------------------

def st08_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join CHAINED into a windowed
    aggregation: every view pairs with a same-user purchase within 1
    hour after it, or emits a null-padded row once it can be PROVEN
    unmatched (the global watermark passed its one-hour match horizon
    and its join state was evicted) — then counts aggregate in-stream
    per (1-hour VIEW window, purchase-hour-or-'unmatched'), so the sink
    receives window-level counts instead of pair-granularity join
    output (round-6 review: the previous form materialized every outer
    row in the driver-resident memory sink). Views still inside the
    match horizon at end-of-stream are neither matched nor provably
    unmatched, so they are (correctly) never emitted — the outer-join
    semantics only a watermark makes safe at scale.

    The oracle reproduces the chained emission exactly: a view-window
    emits iff window_end < min(max view_ts, max purchase_ts) − 2 h
    (1 h watermark delay + 1 h join-range shift; strict — probed).
    Null emission always precedes the window's close, so the chain
    loses no unmatched views (verified row-for-row on the fixture).

    Output: rows per purchase-hour plus an 'unmatched' bucket.
    """
    e = _events_stream(spark, sf_dir)
    views = (
        e.filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        F.expr(
            "v_user = p_user AND purchase_ts >= view_ts "
            "AND purchase_ts <= view_ts + INTERVAL 1 HOUR"
        ),
        "leftOuter",
    )
    # chained stateful agg (round-6 review): window on VIEW time — the
    # column every output row carries, null-padded ones included — so
    # the sink receives window-level counts, never pair-granularity
    # join output. Null emission always precedes the view-window's
    # close (the null fires when wm passes view_ts + 1 h; the window
    # closes when wm passes window_end + 1 h ≥ that), so no unmatched
    # row is ever lost to the chain — verified exactly on the fixture.
    agg = joined.groupBy(
        F.window("view_ts", "1 hour").alias("w"),
        F.coalesce(
            F.date_format("purchase_ts", "HH"), F.lit("unmatched")
        ).alias("purchase_hour"),
    ).agg(F.count(F.lit(1)).alias("n"))
    out = _run_to_table(agg, spark, "st08_mem", output_mode="append")
    return (
        out.groupBy("purchase_hour")
        .agg(F.sum("n").alias("n_rows"))
        .orderBy("purchase_hour")
    )


# Horizon: view-window end < least(max vts, max pts) − 1 h (watermark
# delay) − 1 h (the join's time-range span shifts the downstream
# watermark) — STRICT, probed against Spark's chained emission and
# verified row-for-row on the fixture. coalesce-to-epoch, NOT a bare
# least(): DuckDB's least() IGNORES NULLs, so with zero purchase rows
# it would return max(vts) while Spark's purchase-side watermark never
# advances past 0 and nothing emits (round-6 review).
_ST08_SQL = """
WITH v AS (SELECT user_id, ts AS vts FROM events WHERE event_type = 'view'),
p AS (SELECT user_id, ts AS pts FROM events WHERE event_type = 'purchase'),
wm AS (
  SELECT least(
           coalesce((SELECT max(vts) FROM v), TIMESTAMP '1970-01-01'),
           coalesce((SELECT max(pts) FROM p), TIMESTAMP '1970-01-01')
         ) - INTERVAL 2 HOUR AS w
),
j AS (
  SELECT v.vts, p.pts
  FROM v LEFT JOIN p ON v.user_id = p.user_id
   AND pts >= vts AND pts <= vts + INTERVAL 1 HOUR
)
SELECT CASE WHEN pts IS NOT NULL THEN strftime(pts, '%H')
            ELSE 'unmatched' END AS purchase_hour,
       COUNT(*) AS n_rows
FROM j
WHERE make_timestamp((CAST(floor(epoch(vts) / 3600) AS BIGINT) + 1) * 3600 * 1000000)
      < (SELECT w FROM wm)
GROUP BY 1
ORDER BY purchase_hour
"""


# ---------------------------------------------------------------------------
# st09 — streaming incremental dedup (stream-static LEFT ANTI join)
# ---------------------------------------------------------------------------

def _documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the documents table (file source, same schema
    as the batch loader; handles file and directory layouts alike)."""
    return _stream_scan(spark, sf_dir, "documents.parquet")


def st09_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming spelling of d10's exact path: newly-arriving
    documents (the d10 batch slice, doc_id % 4 == 1, streamed as a file
    source) are anti-joined against the static corpus's content-hash
    index — rows whose md5(text) already exists in the corpus never
    reach the sink. This is continuous-ingest dedup as a standing query:
    stream-static LEFT ANTI join, the one streaming join type the
    st-suite didn't yet exercise.

    Scale shape: the static side is 16-byte hashes (distinct) — small
    per byte-of-corpus but still one row per corpus doc, so
    corpus-proportional and NOT hinted for broadcast: AQE broadcasts it
    while it fits (low-latency micro-batches) and falls back to a
    shuffled hash join on the 16-byte key when the corpus outgrows the
    threshold. Each micro-batch filters with no stream-side state at
    all (unlike st04's dropDuplicates, nothing accumulates). At
    100 TB/day the hash index refreshes per ingest cycle while the
    standing query keeps running. Output: kept docs per source
    (count + first id). The memory sink here holds the kept-docs
    stream — linear in the BATCH (the anti-join's actual output
    contract; production points the same query at a file sink), not
    the quadratic pair output st06/st08 used to push driver-side.
    """
    from big_data_analytics_cse545_spark.sources import load_table

    batch = _documents_stream(spark, sf_dir).filter(F.col("doc_id") % 4 == 1)
    corpus_hashes = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 4 != 1)
        .select(F.md5("text").alias("h"))
        .distinct()
    )
    kept = (
        batch.withColumn("h", F.md5("text"))
        .join(corpus_hashes, "h", "left_anti")
    )
    out = _run_to_table(
        kept.select("doc_id", "source"), spark, "st09_mem", output_mode="append"
    )
    return (
        out.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("doc_id").alias("first_kept"),
        )
        .orderBy("source")
    )


_ST09_SQL = """
WITH batch AS (SELECT * FROM documents WHERE doc_id % 4 = 1),
ch AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 4 <> 1)
SELECT source, COUNT(*) AS n_kept, MIN(doc_id) AS first_kept
FROM batch b
WHERE NOT EXISTS (SELECT 1 FROM ch WHERE ch.h = md5(b.text))
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# st10 — chained stateful operators: streaming dedup → sliding-window WAU
# ---------------------------------------------------------------------------

def st10_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming WAU (distinct users per trailing-7-day window, sliding
    daily) — q30's standing-query twin, and the suite's demonstration of
    CHAINED stateful operators (Spark 3.5+): streaming aggregations
    cannot COUNT(DISTINCT), so the distinct drops in a first stateful
    stage (``dropDuplicates`` on (user, window) under the watermark) and
    a plain count aggregates in a second. Append mode is mandatory for
    multi-stateful queries, so exactly the watermark-CLOSED windows
    emit — the oracle reproduces that horizon (window_end ≤ max ts − 1 h)
    the same way st08 reproduces its null-emission horizon.

    State at scale: dedup state holds one row per live (user, window) —
    bounded by watermark eviction, independent of raw event volume (a
    hot user's millionth event hits an existing state row); the window
    agg state is windows×1 counters. This is the streaming counterpart
    of q30's collapse-before-fan-out rule: drop to user-window
    granularity BEFORE counting.
    """
    e = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    ud = e.select(
        "user_id", F.window("ts", "7 days", "1 day").alias("w"), "ts"
    ).dropDuplicates(["user_id", "w"])
    # count(user_id): the NULL-user (user, window) state row must not
    # count toward WAU — COUNT(DISTINCT user_id) ignores NULLs
    # (round-6 null probe)
    agg = ud.groupBy("w").agg(F.count(F.col("user_id")).alias("wau"))
    out = _run_to_table(agg, spark, "st10_mem", output_mode="append")
    return out.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("window_start"),
        F.date_format(F.col("w.end"), "yyyy-MM-dd").alias("window_end"),
        "wau",
    ).orderBy("window_start")


_ST10_SQL = """
WITH mx AS (SELECT max(ts) AS m FROM events),
ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
fan AS (
  SELECT user_id, day - CAST(k AS INTEGER) AS wstart
  FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS k)
),
wau AS (SELECT wstart, COUNT(DISTINCT user_id) AS wau FROM fan GROUP BY wstart)
SELECT strftime(wstart, '%Y-%m-%d') AS window_start,
       strftime(wstart + 7, '%Y-%m-%d') AS window_end,
       wau
FROM wau
WHERE CAST(wstart + 7 AS TIMESTAMP) <= (SELECT m - INTERVAL 1 HOUR FROM mx)
ORDER BY window_start
"""


# ---------------------------------------------------------------------------
# st11 — transformWithState: typed multi-variable state (Spark 4 API)
# ---------------------------------------------------------------------------

_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


@contextmanager
def _rocksdb_state_store(spark: SparkSession):
    """transformWithState requires the RocksDB state store provider —
    pin it for the run, always restoring the caller's provider (the
    HDFS-backed default) so st01–st10 keep their existing stores."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key)
    spark.conf.set(key, _ROCKSDB_PROVIDER)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _tws_runtime_available() -> bool:
    """transformWithStateInPandas ships its state protocol over
    protobuf — its Python runner dies at init when ``google.protobuf``
    is absent/broken (this container), so probe the exact import the
    runner performs and fall back BEFORE starting a doomed query."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


_ST11_OUT_SCHEMA = "user_id bigint, n_events bigint, n_types bigint"


def _st11_profile_tws(e: DataFrame) -> DataFrame:
    """Production path: a StatefulProcessor with two TYPED state
    variables per user (ValueState counter + MapState distinct-type
    set) — the layered per-key state the old single-tuple GroupState
    forces you to serialize by hand."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class EngagementProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.cnt = handle.getValueState("cnt", "n bigint")
            self.types = handle.getMapState("types", "t string", "seen boolean")

        def handleInputRows(self, key, rows, timerValues):
            n = self.cnt.get()[0] if self.cnt.exists() else 0
            for pdf in rows:
                n += len(pdf)
                for t in pdf["event_type"]:
                    if pd.notna(t):  # NULL is not a type (ANSI COUNT(DISTINCT))
                        self.types.updateValue((str(t),), (True,))
            self.cnt.update((n,))
            n_types = sum(1 for _ in self.types.keys())
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "n_types": [n_types]}
            )

        def close(self) -> None:
            pass

    return e.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=EngagementProcessor(),
        outputStructType=_ST11_OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def _st11_profile_groupstate(e: DataFrame) -> DataFrame:
    """Fallback path (this container): the SAME per-user state machine
    hand-packed into one GroupState tuple — the counter as bigint, the
    distinct-type set serialized as a sorted '|'-joined string — i.e.
    exactly the manual serialization the typed-state API exists to
    remove. Bit-identical output by construction."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def profile(key, pdfs, state: GroupState):
        if state.exists:
            n, packed = state.get
            seen = set(packed.split("|")) if packed else set()
        else:
            n, seen = 0, set()
        for pdf in pdfs:
            n += len(pdf)
            # skip nulls: a NULL event_type is not a type — the ANSI
            # COUNT(DISTINCT) semantics the oracle (and any SQL
            # consumer) applies
            seen.update(str(t) for t in pdf["event_type"] if pd.notna(t))
        state.update((n, "|".join(sorted(seen))))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "n_types": [len(seen)]}
        )

    return e.groupBy("user_id").applyInPandasWithState(
        profile,
        _ST11_OUT_SCHEMA,
        "n bigint, packed string",
        "update",
        GroupStateTimeout.NoTimeout,
    )


def st11_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user engagement profile via ``transformWithStateInPandas`` —
    Spark 4's arbitrary-stateful-processing API (SPARK-46815, successor
    to the applyInPandasWithState/GroupState API used by st05): a
    ``StatefulProcessor`` holding TWO typed state variables per user —
    a ValueState running event count and a MapState of distinct event
    types seen. State lives in RocksDB (the provider the new API
    requires), which is also the 100 TB posture: state spills to local
    SST files + changelog checkpointing instead of capping at executor
    heap.

    The new API's Python runner requires ``google.protobuf``, which
    this container lacks — so, exactly like the image-codec story (I3 /
    decode_image) and video demux (m02), the operator PROBES the real
    path and falls back to a GroupState twin that hand-serializes the
    same state machine (``_st11_profile_groupstate``); the production
    path is zero-edit where protobuf exists. Vendoring protobuf is not
    possible here (offline container, installs out of scope), so the
    tests pin everything short of running the runner: the typed-state
    PLAN constructs with the declared schema (Spark analyzes the
    processor wiring at plan build), the probe tracks protobuf
    availability, and dispatch follows the probe
    (tests/test_streaming.py).

    With AvailableNow over the single events file, the final state per
    user equals the batch aggregate, so the reduced histogram —
    distinct-type count → (user count, total events) — has an exact
    SQL oracle regardless of which path ran.
    """
    e = _events_stream(spark, sf_dir)
    with _rocksdb_state_store(spark):
        if _tws_runtime_available():
            profile = _st11_profile_tws(e)
        else:
            profile = _st11_profile_groupstate(e)
        out = _run_to_table(profile, spark, "st11_mem", output_mode="update")
    # update-mode sink: one row per state update; counts only grow, so
    # the per-user max is the final state (same reduction as st05).
    return (
        out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("n_types").alias("n_types"),
        )
        .groupBy("n_types", F.expr("n_events DIV 10").alias("events_decade"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("n_events").alias("sum_events"),
        )
        .orderBy("n_types", "events_decade")
    )


_ST11_SQL = """
SELECT n_types, n_events // 10 AS events_decade,
       COUNT(*) AS n_users, CAST(SUM(n_events) AS BIGINT) AS sum_events
FROM (
  SELECT user_id, COUNT(*) AS n_events,
         COUNT(DISTINCT event_type) AS n_types
  FROM events GROUP BY user_id
)
GROUP BY n_types, events_decade ORDER BY n_types, events_decade
"""


# ---------------------------------------------------------------------------
# st12 — streaming custom Python data source (connector API, stream half)
# ---------------------------------------------------------------------------

def st12_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Status-mix aggregation over the ``graftcrawl`` source read AS A
    STREAM — Spark 4's ``DataSourceStreamReader`` half of the custom
    connector (f06 is the batch half): the source reports its
    high-water mark in ``latestOffset``, Spark checkpoints committed
    offsets (exactly-once resume is pinned in
    tests/test_streaming_sink.py by restarting over a grown source),
    and each microbatch fans out to the same executor-side range
    partitions as the batch reader.

    The row set is the same deterministic integer generator, so the
    complete-mode aggregate equals the batch oracle — the DuckDB
    ``range()`` twin certifies the streaming connector end to end.
    ``sf_dir`` is unused (the source IS the data).
    """
    from big_data_analytics_cse545_spark.sources import pysource

    pysource.register(spark)
    stream = spark.readStream.format("graftcrawl").load()
    agg = (
        stream.groupBy("status", (F.col("host_id") % 10).alias("host_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum("n_bytes").alias("sum_bytes"),
        )
    )
    out = _run_to_table(agg, spark, "st12_mem", output_mode="complete")
    return out.orderBy("status", "host_bucket")


def _st12_sql() -> str:
    from big_data_analytics_cse545_spark.sources.pysource import (
        CRAWL_HOSTS,
        CRAWL_N_ROWS,
    )

    return f"""
WITH crawl AS (
  SELECT (i * 37 + 11) % {CRAWL_HOSTS} AS host_id,
         CASE WHEN i % 13 = 0 THEN 404
              WHEN i % 13 = 1 THEN 301 ELSE 200 END AS status,
         (i * 7919) % 100000 AS n_bytes
  FROM (SELECT unnest(range({CRAWL_N_ROWS})) AS i)
)
SELECT status, host_id % 10 AS host_bucket, COUNT(*) AS n_pages,
       CAST(SUM(n_bytes) AS BIGINT) AS sum_bytes
FROM crawl
GROUP BY status, host_bucket
ORDER BY status, host_bucket
"""


QUERIES = {
    "st01_tumbling_window": st01_tumbling_window,
    "st02_sliding_window": st02_sliding_window,
    "st03_session_window": st03_session_window,
    "st04_streaming_dedup": st04_streaming_dedup,
    "st05_stateful_user_counts": st05_stateful_user_counts,
    "st06_stream_stream_join": st06_stream_stream_join,
    "st07_stream_static_join": st07_stream_static_join,
    "st08_stream_outer_join": st08_stream_outer_join,
    "st09_stream_incremental_dedup": st09_stream_incremental_dedup,
    "st10_sliding_distinct_users": st10_sliding_distinct_users,
    "st11_transform_with_state": st11_transform_with_state,
    "st12_python_stream_source": st12_python_stream_source,
}

ORACLE = {
    "st01_tumbling_window": _ST01_SQL,
    "st02_sliding_window": _ST02_SQL,
    "st03_session_window": _ST03_SQL,
    "st04_streaming_dedup": _ST04_SQL,
    "st05_stateful_user_counts": _ST05_SQL,
    "st06_stream_stream_join": _ST06_SQL,
    "st07_stream_static_join": _ST07_SQL,
    "st08_stream_outer_join": _ST08_SQL,
    "st09_stream_incremental_dedup": _ST09_SQL,
    "st10_sliding_distinct_users": _ST10_SQL,
    "st11_transform_with_state": _ST11_SQL,
    # callable — pulls generator constants from sources.pysource lazily
    "st12_python_stream_source": _st12_sql,
}
