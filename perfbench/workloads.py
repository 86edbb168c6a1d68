"""The benchmark's workloads: ordered steps over the engine's layers.

A step is one registry query from ``__spark_entry__.all_queries()``,
named by its code (the prefix before the first underscore), or the
``scan`` step of the ``sources`` layer. A step's layer is the module
its registry query lives in.
"""

from __future__ import annotations

# layers that own steps; session and cache are measured around them
STEP_LAYERS = (
    "sources",
    "relational",
    "text",
    "dedup",
    "sampling",
    "similarity",
    "projection",
    "multimodal",
    "streaming",
)
SCAN_TABLES = ("lineitem", "orders", "customer", "part", "supplier")

# steps in run order; why each workload exists is in BENCHMARK.json
WORKLOADS = {
    "star_stream": ("scan", "q01", "q03", "q10", "q34", "st05"),
    "corpus_image": ("t01", "d03", "x01", "m01", "p02", "s02"),
}

# Expected digests (worker.digest) of the steps without a DuckDB oracle.
# m01's output depends only on the embeddings' vec_id set, which every
# seed keeps (inputs.py), so one digest holds for all seeds.
DIGESTS = {
    "m01": "1a720c87453d18d29b462e9a96bbb615406b938fa292e04b484bd79e44721ca7",
}


def layer_of(module_name: str) -> str:
    """``...operators.relational`` -> ``relational``;
    ``...streaming.ops`` -> ``streaming``."""
    parts = module_name.split(".")
    return parts[-1] if parts[-2] == "operators" else parts[-2]


def registry(entry) -> dict[str, tuple[str, object]]:
    """``{code: (layer, callable)}`` for every registry query, from the
    module list and wrapped callables of ``__spark_entry__``."""
    wrapped = entry.all_queries()
    out: dict[str, tuple[str, object]] = {}
    for mod in entry._modules():
        for name in getattr(mod, "QUERIES", {}):
            out[name.split("_", 1)[0]] = (layer_of(mod.__name__), wrapped[name])
    return out


def oracles(entry) -> dict[str, object]:
    """``{code: oracle SQL, or a callable returning it}`` from every module's
    ``ORACLE`` map, active and held-out alike."""
    out: dict[str, object] = {}
    for mod in entry._modules():
        for name, sql in getattr(mod, "ORACLE", {}).items():
            out[name.split("_", 1)[0]] = sql
    return out


_PER_STEP_LAYER = (
    ("call_s", "s", "lower"),
    ("exec_s", "s", "lower"),
    ("busy_share", "ratio", "higher"),
    ("tasks", "count", "lower"),
    ("stages", "count", "lower"),
    ("task_cpu_s", "s", "lower"),
    ("gc_s", "s", "lower"),
    ("shuffle_bytes", "B", "lower"),
    ("spill_bytes", "B", "lower"),
    ("failed_tasks", "count", "lower"),
)
# (name, unit, better) of every per-layer metric a traced run reports,
# each per traced warm pass
PER_LAYER = (
    [(f"{layer}.{m}", unit, better) for layer in STEP_LAYERS for m, unit, better in _PER_STEP_LAYER]
    + [("sources.input_bytes", "B", "lower"), ("sources.input_rows", "count", "lower")]
    + [
        (f"{layer}.python_bytes", "B", "lower")
        for layer in ("text", "dedup", "sampling", "similarity", "projection", "multimodal")
    ]
    + [
        ("dedup.candidate_yield", "ratio", "higher"),
        ("similarity.candidate_yield", "ratio", "higher"),
        ("streaming.state_rows", "count", "lower"),
        ("streaming.state_mem_bytes", "B", "lower"),
        ("streaming.batches", "count", "lower"),
        ("cache.persisted_bytes", "B", "lower"),
        ("session.get_spark_s", "s", "lower"),
        ("trace.overhead_s", "s", "lower"),
    ]
)
