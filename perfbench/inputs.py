"""Seeded input tables for the benchmark.

Every table the engine's registry reads is derived from the sf0.01
tables in ``perfbench/data/sf0.01`` (a copy of the engine's synthetic
test data, TESTDATA.md), so value domains, skew, document lengths and
the planted duplicates are those the engine is tested on. The seed
changes, per table family:

- star schema: each surrogate key (customer, supplier, part, orders) is
  a seeded permutation of its values, applied to the key and to every
  foreign key that references it; nation and region are copied;
- ``events``: a seeded whole-second time shift of up to a week and a
  seeded permutation of the user ids;
- ``documents``: the fused-token replica transform of
  tools/make_scale_documents.py with a seeded replica number ``r`` in
  10..99 (``doc_id + r * ID_STRIDE``; every alphanumeric run gets the
  suffix ``xr<r>``; ``n_chars`` recomputed), rows in a seeded order. The
  transform is a bijection on token streams, so the planted near
  duplicates stay duplicates, while every shingle and MinHash value
  changes with the seed;
- ``embeddings``: a seeded permutation of ``vec_id``. The id set stays
  ``0..n-1``, so m01's images (one per id) are the same for every seed.

The same seed gives byte-identical parquet files; ``generate`` returns
each file's sha256 so a run can check afterwards that no step rewrote
its inputs.
"""

from __future__ import annotations

import hashlib
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)
# (table, key column) -> the (table, column) pairs holding its values
KEYS = {
    ("customer", "c_custkey"): [("orders", "o_custkey")],
    ("supplier", "s_suppkey"): [("lineitem", "l_suppkey")],
    ("part", "p_partkey"): [("lineitem", "l_partkey")],
    ("orders", "o_orderkey"): [("lineitem", "l_orderkey")],
    ("embeddings", "vec_id"): [],
}
ID_STRIDE = 10_000_000  # doc_id offset per replica, as in make_scale_documents
REPLICAS = (10, 100)  # two-digit replica numbers: same suffix length, int32 ids
MAX_SHIFT_S = 7 * 86_400

_TOKEN = re.compile(r"([A-Za-z0-9]+)")


def _rng(seed: int, table: str) -> np.random.Generator:
    """An independent stream per (seed, table), so one table's draws never
    shift another table's content."""
    salt = int.from_bytes(hashlib.sha256(table.encode()).digest()[:8], "little")
    return np.random.default_rng([seed, salt])


def _replace(table: pa.Table, column: str, values) -> pa.Table:
    i = table.schema.get_field_index(column)
    return table.set_column(i, table.schema.field(i), pa.array(values, table.schema.field(i).type))


def _permute(tables: dict[str, pa.Table], table: str, column: str, refs, rng) -> None:
    """Map every value of ``table.column`` and of its references through
    one seeded permutation of its distinct values."""
    values = np.unique(tables[table][column].to_numpy())
    shuffled = rng.permutation(values)
    for t, c in [(table, column), *refs]:
        old = tables[t][c].to_numpy()
        pos = np.searchsorted(values, old)
        if not np.array_equal(values[np.minimum(pos, len(values) - 1)], old):
            raise ValueError(f"{t}.{c} holds values missing from {table}.{column}")
        tables[t] = _replace(tables[t], c, shuffled[pos])


def _shift_events(events: pa.Table, rng) -> pa.Table:
    shift_us = int(rng.integers(0, MAX_SHIFT_S)) * 1_000_000
    ts = events["ts"].cast(pa.int64()).to_numpy() + shift_us
    return _replace(events, "ts", ts)


def _replica_documents(docs: pa.Table, rng) -> pa.Table:
    """The fused-token replica transform: the tag joins every alphanumeric
    run, so a tokenizer splitting on ``[^a-z0-9]+`` never sees it as a
    token of its own."""
    r = int(rng.integers(*REPLICAS))
    text = [_TOKEN.sub(rf"\1xr{r}", t) for t in docs["text"].to_pylist()]
    docs = _replace(docs, "doc_id", docs["doc_id"].to_numpy() + r * ID_STRIDE)
    docs = _replace(docs, "text", text)
    docs = _replace(docs, "n_chars", [len(t) for t in text])
    return docs.take(rng.permutation(docs.num_rows))


def tables(seed: int) -> dict[str, pa.Table]:
    out = {t: pq.read_table(os.path.join(SRC, f"{t}.parquet")) for t in TABLES}
    for (table, column), refs in KEYS.items():
        _permute(out, table, column, refs, _rng(seed, table))
    events = _rng(seed, "events")
    out["events"] = _shift_events(out["events"], events)
    _permute(out, "events", "user_id", [], events)
    out["documents"] = _replica_documents(out["documents"], _rng(seed, "documents"))
    return out


def file_sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def generate(seed: int, out_dir: str) -> dict[str, dict]:
    """Write ``<out_dir>/<table>.parquet`` for every table; return
    ``{table: {"rows": n, "sha256": hex}}``."""
    os.makedirs(out_dir, exist_ok=True)
    manifest: dict[str, dict] = {}
    for name, table in tables(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        manifest[name] = {"rows": table.num_rows, "sha256": file_sha256(path)}
    return manifest
