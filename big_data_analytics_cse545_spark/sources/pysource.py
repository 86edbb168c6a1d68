"""Custom Python data source (Spark 4 ``pyspark.sql.datasource`` API) —
the connector story for systems Spark has no built-in source for.

The reference ingests by listing files on the driver and parallelizing
(``Assignment 1/a1p2a_ahuja.py:21-24``); the modern engine form is a
DataSource that Spark schedules: ``partitions()`` declares the split
units, each ``read(partition)`` runs ON AN EXECUTOR, and
``pushFilters`` lets the source drop rows (or whole partitions) before
they are ever shipped — which is the difference between a connector
that works and one that works at 100 TB: a remote API/scan source that
cannot prune server-side ships the whole estate through the network on
every query.

``CrawlLogDataSource`` simulates a remote crawl-log service with a
DETERMINISTIC integer-derived row set, so an exact DuckDB oracle can
regenerate it with ``range()`` arithmetic (f06). Pushdown implemented:

* row filters on ``host_id`` (=, <, <=, >, >=) are absorbed by the
  source (applied during generation, never shipped) — Spark re-applies
  nothing for them;
* range filters on ``fetch_epoch`` PRUNE PARTITIONS: rows are laid out
  contiguously in ``i`` and ``fetch_epoch = EPOCH0 + 17·i`` is
  monotone, so an epoch bound maps to an ``i`` bound and partitions
  wholly outside it are never scheduled (the Python-connector
  equivalent of f04's hive PartitionFilters).

Everything else is returned to Spark unchanged (the contract of
``pushFilters``: yield what you did NOT handle).
"""

from __future__ import annotations

import re
from collections.abc import Iterable, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    DataSourceWriter,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

from big_data_analytics_cse545_spark.sources import register_data_source

CRAWL_N_ROWS = 4000
CRAWL_N_PARTS = 8
CRAWL_EPOCH0 = 1_700_000_000
CRAWL_EPOCH_STEP = 17
CRAWL_HOSTS = 50

_SCHEMA = (
    "i bigint, url string, host_id bigint, status bigint, "
    "n_bytes bigint, fetch_epoch bigint"
)


def _row(i: int) -> tuple:
    """The deterministic generator — MUST stay in lockstep with the
    DuckDB twin in operators/ingest.py::_f06_sql (integer arithmetic
    only, so both engines produce bit-identical rows)."""
    host = (i * 37 + 11) % CRAWL_HOSTS
    m = i % 13
    status = 404 if m == 0 else (301 if m == 1 else 200)
    return (
        i,
        f"https://site{host}.example/p/{i}",
        host,
        status,
        (i * 7919) % 100_000,
        CRAWL_EPOCH0 + CRAWL_EPOCH_STEP * i,
    )


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        super().__init__((start, end))
        self.start, self.end = start, end


class CrawlLogReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("n_rows", CRAWL_N_ROWS))
        self.n_parts = int(options.get("n_parts", CRAWL_N_PARTS))
        # i-range narrowed by pushed fetch_epoch bounds (partition pruning)
        self.lo, self.hi = 0, self.n
        # residual host_id predicates applied during generation
        self._host_preds: list[tuple[str, int]] = []

    def pushFilters(self, filters: list[Filter]) -> Iterable[Filter]:
        for f in filters:
            attr = f.attribute[0] if getattr(f, "attribute", None) else None
            if attr == "host_id" and isinstance(
                f, (EqualTo, LessThan, LessThanOrEqual, GreaterThan, GreaterThanOrEqual)
            ):
                op = {
                    EqualTo: "==", LessThan: "<", LessThanOrEqual: "<=",
                    GreaterThan: ">", GreaterThanOrEqual: ">=",
                }[type(f)]
                self._host_preds.append((op, int(f.value)))
            elif attr == "fetch_epoch" and isinstance(
                f, (GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)
            ):
                # epoch is monotone in i: map the bound to an i-bound
                v = int(f.value)
                if isinstance(f, GreaterThanOrEqual):
                    self.lo = max(self.lo, -((CRAWL_EPOCH0 - v) // CRAWL_EPOCH_STEP))
                elif isinstance(f, GreaterThan):
                    self.lo = max(
                        self.lo, -((CRAWL_EPOCH0 - v - 1) // CRAWL_EPOCH_STEP)
                    )
                elif isinstance(f, LessThanOrEqual):
                    self.hi = min(self.hi, (v - CRAWL_EPOCH0) // CRAWL_EPOCH_STEP + 1)
                else:  # LessThan
                    self.hi = min(
                        self.hi, (v - 1 - CRAWL_EPOCH0) // CRAWL_EPOCH_STEP + 1
                    )
            else:
                yield f  # not handled here — Spark keeps evaluating it

    def partitions(self) -> list[InputPartition]:
        lo, hi = self.lo, max(self.lo, self.hi)
        span = max(1, -(-self.n // self.n_parts))  # fixed layout: n/parts
        parts = []
        for p in range(self.n_parts):
            s, e = p * span, min((p + 1) * span, self.n)
            s2, e2 = max(s, lo), min(e, hi)
            if s2 < e2:  # wholly-out-of-range partitions are never scheduled
                parts.append(_RangePartition(s2, e2))
        return parts or [_RangePartition(0, 0)]

    def _host_ok(self, host: int) -> bool:
        for op, v in self._host_preds:
            if op == "==" and host != v:
                return False
            if op == "<" and not host < v:
                return False
            if op == "<=" and not host <= v:
                return False
            if op == ">" and not host > v:
                return False
            if op == ">=" and not host >= v:
                return False
        return True

    def read(self, partition: _RangePartition) -> Iterator[tuple]:
        for i in range(partition.start, partition.end):
            row = _row(i)
            if self._host_ok(row[2]):
                yield row


class CrawlLogDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "graftcrawl"

    def schema(self) -> str:
        return _SCHEMA

    def reader(self, schema) -> CrawlLogReader:
        return CrawlLogReader(self.options)

    def streamReader(self, schema):
        return CrawlLogStreamReader(self.options)


def register(spark) -> None:
    """Idempotent registration (re-registering overwrites, which is
    fine — the class is stateless between reads)."""
    register_data_source(spark, CrawlLogDataSource)


# ---------------------------------------------------------------------------
# streaming half — microbatch offsets over the same deterministic rows
# ---------------------------------------------------------------------------

class CrawlLogStreamReader(DataSourceStreamReader):
    """DataSourceStreamReader over the same generator: offsets are row
    indices ({"i": k}). ``latestOffset`` reports everything the
    "service" currently has (``n_rows`` — a tailing deployment would
    return the live high-water mark), each microbatch's (start, end)
    maps to the same range partitions the batch reader uses, and Spark
    CHECKPOINTS the offsets: a restarted query resumes from the
    committed ``i``, so rows are processed exactly once across runs
    (pinned by tests/test_streaming_sink.py — run 1 stops at 2000,
    run 2 over the grown source emits only 2000..4000). ``commit`` is
    the source's post-batch cleanup hook, a no-op for a stateless
    generator."""

    def __init__(self, options):
        self.n = int(options.get("n_rows", CRAWL_N_ROWS))
        self.n_parts = int(options.get("n_parts", CRAWL_N_PARTS))

    def initialOffset(self) -> dict:
        return {"i": 0}

    def latestOffset(self) -> dict:
        return {"i": self.n}

    def partitions(self, start: dict, end: dict):
        lo, hi = start["i"], end["i"]
        span = max(1, -(-(hi - lo) // self.n_parts))
        return [
            _RangePartition(s, min(s + span, hi))
            for s in range(lo, hi, span)
        ]

    def read(self, partition: _RangePartition):
        for i in range(partition.start, partition.end):
            yield _row(i)

    def commit(self, end: dict) -> None:
        pass

    def stop(self) -> None:
        pass


# ---------------------------------------------------------------------------
# writer half — a JSONL sink with the two-phase commit protocol
# ---------------------------------------------------------------------------


class _JsonlCommit(WriterCommitMessage):
    def __init__(self, staged_path: str, n_rows: int):
        self.staged_path = staged_path
        self.n_rows = n_rows


class JsonlSinkWriter(DataSourceWriter):
    """The write half of the connector API, with the contract that
    matters: TASKS STAGE, THE DRIVER COMMITS. Each task writes its rows
    to a uniquely named ``.staged-*`` file and returns a commit message;
    only ``commit`` (driver-side, after every task succeeded) renames
    the staged files into place and writes a ``_SUCCESS`` manifest with
    the total row count. A failed/duplicate task attempt never
    publishes: its staged file is either absent from the winning
    message set (speculative duplicates) or removed by ``abort`` — the
    same visibility protocol every production file sink runs.
    """

    def __init__(self, options, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("graftjsonl writer requires option 'path'")
        self.overwrite = overwrite

    def write(self, iterator) -> _JsonlCommit:
        import json as _json
        import os as _os
        import uuid as _uuid

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        _os.makedirs(self.path, exist_ok=True)
        staged = _os.path.join(
            self.path, f".staged-{pid}-{_uuid.uuid4().hex}.jsonl"
        )
        n = 0
        with open(staged, "w", encoding="utf-8") as fh:
            for row in iterator:
                fh.write(_json.dumps(row.asDict(), ensure_ascii=False) + "\n")
                n += 1
        return _JsonlCommit(staged, n)

    # Only files THIS sink wrote may ever be pruned by overwrite: the
    # final name is the staged name minus its ".staged-" prefix, i.e.
    # "<partitionId>-<uuid4 hex>.jsonl" (round-6 advice — a shared
    # destination dir may hold user *.jsonl files the sink must not
    # touch).
    _PART_RE = re.compile(r"^\d+-[0-9a-f]{32}\.jsonl$")

    def commit(self, messages) -> None:
        import json as _json
        import os as _os

        # Publication is NOT atomic: it spans N os.replace calls, an
        # optional prune, then the _SUCCESS manifest. Drop any stale
        # manifest FIRST so a crash anywhere in the window leaves the
        # directory marker-less (readers treat no _SUCCESS as
        # uncommitted) instead of leaving a prior run's manifest
        # pointing at a mixed old/new file set (round-6 advice).
        marker = _os.path.join(self.path, "_SUCCESS")
        if _os.path.exists(marker):
            _os.remove(marker)
        total, files = 0, []
        for m in messages:
            if m is None:
                continue
            final = _os.path.join(
                self.path, _os.path.basename(m.staged_path).removeprefix(".staged-")
            )
            _os.replace(m.staged_path, final)
            total += m.n_rows
            files.append(_os.path.basename(final))
        if self.overwrite:
            # overwrite semantics publish at commit time, like every
            # production file sink: once this run's files are in place,
            # remove prior-run part files (anything the new manifest
            # doesn't list). The flag used to be stored but never acted
            # on, so mode('overwrite') silently behaved as append for
            # consumers globbing *.jsonl (round-6 review). Pruning is
            # scoped to this sink's own part-file naming pattern —
            # foreign .jsonl files in a shared directory are never
            # deleted (round-6 advice).
            keep = set(files)
            for entry in _os.listdir(self.path):
                if self._PART_RE.fullmatch(entry) and entry not in keep:
                    _os.remove(_os.path.join(self.path, entry))
        # manifest last: it only ever describes a fully published state
        with open(marker, "w") as fh:
            _json.dump({"n_rows": total, "files": sorted(files)}, fh)

    def abort(self, messages) -> None:
        import os as _os

        for m in messages:
            if m is not None and _os.path.exists(m.staged_path):
                _os.remove(m.staged_path)


class JsonlSinkDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "graftjsonl"

    def schema(self) -> str:  # pragma: no cover - writer-only source
        return "placeholder string"

    def writer(self, schema, overwrite: bool) -> JsonlSinkWriter:
        return JsonlSinkWriter(self.options, overwrite)


def register_sink(spark) -> None:
    register_data_source(spark, JsonlSinkDataSource)
