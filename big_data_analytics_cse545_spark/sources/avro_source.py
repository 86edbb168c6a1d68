"""``pyavro`` — a Spark Python DataSource over Avro object container
files, backed by the pure-stdlib codec in :mod:`avro_io`.

Why a DataSource and not a driver loop: the reference's ingestion
pattern is "list files on the driver, parallelize" — the engine form
is a source Spark SCHEDULES. Planning (driver-side) reads only
metadata: each file's header plus its block index (two varints + a
seek per block, no record decode); execution maps one InputPartition
to a RUN OF BLOCKS, so scan parallelism = block count, not file count
— the same splittability property parquet gets from row groups and
ORC from stripes, which is what lets a 100-file × 1000-block estate
saturate a 1000-executor cluster. ``read(partition)`` runs on an
executor and decodes only its blocks.

Options: ``path`` (a directory of ``*.avro`` shards);
``target_partition_bytes`` (default 1 MiB) — each partition is a run
of consecutive blocks whose cumulative PAYLOAD reaches the target,
the same split-sizing idea as ``spark.sql.files.maxPartitionBytes``
(decode work is proportional to payload bytes, so byte-targeted runs
bound per-task overhead without losing splittability — measured:
256-record blocks scheduled one-per-task cost 11.7 s on a 150k-row
scan vs 0.7 s in byte-sized runs, pure scheduler overhead);
``blocks_per_partition`` — explicit count-based override (1 = finest
split, used by the splittability tests); ``columns`` (comma-separated
field names) — caller-declared projection: the Python DataSource API
does not push column pruning down, so a caller that knows its
projection states it here and unrequested fields are length-SEEKED
past instead of materialized (strings skip the UTF-8 decode — the
dominant per-value cost in a row format that cannot prune I/O).
Schema is taken from the first shard's embedded writer schema (every
shard must agree — checked loudly at plan time, the explicit-schema
discipline).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from big_data_analytics_cse545_spark.sources import register_data_source
from big_data_analytics_cse545_spark.sources.avro_io import (
    _field_types,
    avro_schema_to_ddl,
    block_index,
    header_of,
    read_block,
)


def _parse_columns(cols: str | None) -> set[str] | None:
    """Parse the ``columns`` option once for both plan-time call sites
    (schema() and the reader): None → no projection; a list that parses
    to EMPTY (``''``, only commas/whitespace) is a pointed error —
    a zero-column projection used to surface as an opaque Spark
    schema-parse failure far from the typo (r11 ADVICE)."""
    if cols is None:
        return None
    want = {c.strip() for c in cols.split(",") if c.strip()}
    if not want:
        raise ValueError(
            "columns option parsed to an empty projection "
            f"({cols!r}) — omit the option to read every column, "
            "or name at least one"
        )
    return want


class _BlockRun(InputPartition):
    def __init__(self, path: str, offsets: list[int], codec: str, sync: bytes):
        super().__init__((path, tuple(offsets)))
        self.path, self.offsets, self.codec, self.sync = path, offsets, codec, sync


def _list_shards(path: str) -> list[str]:
    shards = sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".avro")
    )
    if not shards:
        raise ValueError(f"no *.avro files under {path!r}")
    return shards


class AvroReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("pyavro requires option 'path'")
        bpp = options.get("blocks_per_partition")
        self.blocks_per_partition = int(bpp) if bpp is not None else None
        self.target_bytes = int(
            options.get("target_partition_bytes", 1 << 20)
        )
        self.shards = _list_shards(self.path)
        # header-only schema discovery: the block walk belongs to
        # partitions(), once per shard — schema() + __init__ +
        # partitions() each walking shard 0's blocks was the r10
        # ADVICE 3×-metadata-I/O finding
        self.schema_json, _, _, _ = header_of(self.shards[0])
        self.fields = _field_types(self.schema_json)
        self.keep: list[bool] | None = None
        want = _parse_columns(options.get("columns"))
        if want is not None:
            names = {n for n, _ in self.fields}
            if not want <= names:
                raise ValueError(
                    f"columns {sorted(want - names)} not in Avro schema "
                    f"(has {sorted(names)})"
                )
            self.keep = [n in want for n, _ in self.fields]

    def _runs(self, blocks: list[tuple[int, int, int]]) -> list[list[int]]:
        """Group one shard's blocks into partition runs: explicit count
        if blocks_per_partition was given, else greedy byte-targeted
        accumulation of payload sizes (≥1 block per run)."""
        if self.blocks_per_partition is not None:
            k = self.blocks_per_partition
            offs = [off for off, _, _ in blocks]
            return [offs[i : i + k] for i in range(0, len(offs), k)]
        runs: list[list[int]] = []
        cur: list[int] = []
        acc = 0
        for off, _, size in blocks:
            cur.append(off)
            acc += size
            if acc >= self.target_bytes:
                runs.append(cur)
                cur, acc = [], 0
        if cur:
            runs.append(cur)
        return runs

    def partitions(self) -> list[InputPartition]:
        parts: list[InputPartition] = []
        for shard in self.shards:
            schema, codec, sync, blocks = block_index(shard)
            if _field_types(schema) != self.fields:
                raise ValueError(
                    f"shard {shard!r} schema disagrees with {self.shards[0]!r}"
                )
            for run in self._runs(blocks):
                parts.append(_BlockRun(shard, run, codec, sync))
        # NEVER return an empty list: Spark still schedules one task and
        # hands read() a None partition (found by the --empty chaos
        # sweep — 0-row shards have 0 blocks; same sentinel pysource.py
        # uses). An offset-free run decodes nothing.
        return parts or [_BlockRun(self.shards[0], [], "null", b"")]

    def read(self, partition: _BlockRun) -> Iterator[tuple]:
        for off in partition.offsets:
            yield from read_block(
                partition.path,
                off,
                self.fields,
                partition.codec,
                partition.sync,
                keep=self.keep,
            )


class AvroDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "pyavro"

    def schema(self) -> str:
        # planning-time HEADER read of the first shard only (no block
        # walk); the same columns restriction the reader applies, so
        # the DDL arity always matches the keep-masked tuples
        schema_json, _, _, _ = header_of(
            _list_shards(self.options["path"])[0]
        )
        want = _parse_columns(self.options.get("columns"))
        return avro_schema_to_ddl(
            schema_json, columns=None if want is None else sorted(want)
        )

    def reader(self, schema) -> AvroReader:
        return AvroReader(self.options)


def register(spark) -> None:
    """Idempotent registration (re-registering overwrites; stateless)."""
    register_data_source(spark, AvroDataSource)
