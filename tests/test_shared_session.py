"""Two clients in one session: the engine's reused relations are per-call
local checkpoints, so calls share no cache entry and a dropped result
frees its blocks."""

from __future__ import annotations

import gc
import time
from concurrent.futures import ThreadPoolExecutor

from big_data_analytics_cse545_spark import api
from big_data_analytics_cse545_spark.operators import graph
from big_data_analytics_cse545_spark.sources import load_table


def _stored_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def test_two_clients_share_no_cached_relation(spark, sf_smoke):
    """g01 and ``api.shared_spans`` run from two threads of one session,
    twice: each call returns its single-thread rows, and no call leaves
    an entry in the session's cache for the other to read or evict."""
    docs = load_table(spark, sf_smoke, "documents")
    calls = {
        "g01": lambda: graph.g01_host_pagerank(spark, sf_smoke).collect(),
        "spans": lambda: api.shared_spans(docs, "text", "doc_id")
        .orderBy("d1", "d2", "s1", "s2")
        .collect(),
    }
    spark.catalog.clearCache()
    single = {name: call() for name, call in calls.items()}
    assert single["g01"]
    for _ in range(2):
        with ThreadPoolExecutor(max_workers=2) as pool:
            running = {name: pool.submit(call) for name, call in calls.items()}
            assert {name: f.result() for name, f in running.items()} == single
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_dropped_result_frees_its_checkpoints(spark, sf_smoke):
    """Once a g01 result is unreachable, Spark's ContextCleaner removes
    the blocks of the node and edge relations it read."""
    spark.catalog.clearCache()
    before = _stored_rdds(spark)
    g = graph.g01_host_pagerank(spark, sf_smoke)
    assert g.collect()
    del g
    gc.collect()
    deadline = time.monotonic() + 60
    while _stored_rdds(spark) > before and time.monotonic() < deadline:
        spark._jvm.System.gc()
        time.sleep(0.5)
    assert _stored_rdds(spark) <= before
