"""Tracing from outside the engine: spans, Spark's status store, and a
streaming listener.

Inside the timed passes this adds only ``Tracer.span`` (two clock reads
and a dict), and in traced passes the listener and one storage sample
after each step. Everything else reads Spark's
status store once, after the passes, and attributes stages and SQL
executions to steps by submission time: steps run one after another
from one client thread, and streaming micro-batches run under their
query's own job group, so the time window is the attribution that holds
for every layer.
"""

from __future__ import annotations

import datetime as dt
import json
import re
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

# Status-store retention for traced runs only: the defaults (1000
# stages, 1000 jobs, 1000 SQL executions) evict stages of a session
# that has run a few passes.
RETENTION_CONF = {
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedJobs": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}

PYTHON_METRICS = ("data sent to Python workers", "data returned from Python workers")
JOIN_NODE = re.compile(r"Join|CartesianProduct")
_SIZE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


class Tracer:
    """Spans kept in memory: (id, parent, name, start, end, attrs).
    Times are wall-clock seconds since the epoch, the clock Spark's
    status store stamps its stages with."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch's progress: query id, batch timestamp and
    the state operators' row and memory totals."""

    def __init__(self):
        self.batches: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.batches.append(
            {
                "query": str(p.id),
                "ts": dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_mem_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            }
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _mapper(jvm):
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
    return mapper


def persisted_bytes(spark) -> int:
    """Memory plus disk held by persisted RDDs and DataFrames now."""
    sc = spark.sparkContext
    rdds = json.loads(_mapper(sc._jvm).writeValueAsString(sc._jsc.sc().statusStore().rddList(True)))
    return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds)


def parse_size(text: str) -> float:
    """Bytes from a size SQL metric as the store formats it, e.g.
    ``"total (min, med, max ...)\\n1.5 MiB (...)"`` or ``"312.0 B"``."""
    m = _SIZE.search(text.split("\n", 1)[-1])
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


def _count(text: str) -> int:
    m = re.search(r"[0-9][0-9,]*", text.split("\n", 1)[-1])
    return int(m.group(0).replace(",", "")) if m else 0


def read_status_store(spark, windows: list[tuple[float, float]], want_graph) -> dict:
    """Stages and SQL executions submitted inside each window.

    ``windows[i]`` is a step's (start, end) in epoch seconds; returns
    ``{"stages": [[stage, ...] per window], "sql": [[{python_bytes,
    join_rows}, ...] per window]}``. ``want_graph(i)`` says whether to
    read the plan graph of window ``i``'s executions (for candidate-join
    row counts)."""
    sc = spark.sparkContext
    jvm, gw = sc._jvm, sc._gateway
    mapper = _mapper(jvm)
    store = sc._jsc.sc().statusStore()
    stages = json.loads(
        mapper.writeValueAsString(store.stageList(None, False, False, gw.new_array(jvm.double, 0), None))
    )
    sql_store = spark._jsparkSession.sharedState().statusStore()
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    executions = json.loads(mapper.writeValueAsString(sql_store.executionsList()))

    def window_of(ms):
        if ms is None:
            return None
        t = ms / 1000.0
        for i, (a, b) in enumerate(windows):
            if a <= t <= b:
                return i
        return None

    by_window_stages: list[list[dict]] = [[] for _ in windows]
    for s in stages:
        i = window_of(s.get("submissionTime"))
        if i is not None:
            by_window_stages[i].append(s)

    by_window_sql: list[list[dict]] = [[] for _ in windows]
    for e in executions:
        i = window_of(e.get("submissionTime"))
        if i is None:
            continue
        eid = e["executionId"]
        names = {m["accumulatorId"]: m["name"] for m in e.get("metrics", [])}
        python_ids = [a for a, n in names.items() if n in PYTHON_METRICS]
        join_ids: list[int] = []
        if want_graph(i):
            for node in conv.asJava(sql_store.planGraph(eid).allNodes()):
                if JOIN_NODE.search(node.name()):
                    join_ids += [
                        m.accumulatorId()
                        for m in conv.asJava(node.metrics())
                        if m.name() == "number of output rows"
                    ]
        values = {}
        if python_ids or join_ids:
            jmap = conv.asJava(sql_store.executionMetrics(eid))
            values = {int(k): str(jmap[k]) for k in jmap}
        by_window_sql[i].append(
            {
                "python_bytes": sum(parse_size(values.get(a, "")) for a in python_ids),
                "join_rows": max((_count(values.get(a, "")) for a in join_ids), default=0),
            }
        )
    return {"stages": by_window_stages, "sql": by_window_sql}


def stage_totals(stages: list[dict]) -> dict[str, float]:
    return {
        "tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
        "stages": len(stages),
        "task_run_s": sum(s.get("executorRunTime", 0) for s in stages) / 1e3,
        "task_cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
        "gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
        "shuffle_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
        "spill_bytes": sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in stages),
        "failed_tasks": sum(s.get("numFailedTasks", 0) for s in stages),
        "input_bytes": sum(s.get("inputBytes", 0) for s in stages),
        "input_rows": sum(s.get("inputRecords", 0) for s in stages),
    }
