"""One benchmark run in a fresh process: set up a session, run the
workload's passes as a closed loop, check the outputs, and write the
result as JSON.

Started by run.py with the checkout root on PYTHONPATH and the run's
scratch directory as the working directory; not meant to be run by hand.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import sys
import time

import __spark_entry__ as entry
from big_data_analytics_cse545_spark.session import get_spark
from big_data_analytics_cse545_spark.sources import load_table

import proctree
import tracing
from workloads import DIGESTS, SCAN_TABLES, STEP_LAYERS, WORKLOADS, oracles, registry


def digest(rows) -> str:
    """Order-insensitive digest of a step's collected rows."""
    h = hashlib.sha256()
    for line in sorted(repr(tuple(r)) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def m01_planted_pairs(rows) -> None:
    """m01 pairs the tiles of planted near-duplicate images: image id
    ≡ 9 (mod 10) is a noisy copy of id − 1, so every pair it returns
    must be such a pair, tile for tile."""
    for t1, t2, _ in rows:
        (a, ta), (b, tb) = (t.removeprefix("img").split("-") for t in (t1, t2))
        if ta != tb or int(b) % 10 != 9 or int(a) != int(b) - 1:
            raise AssertionError(f"not a planted pair: {t1} {t2}")


# invariants of the steps without a DuckDB oracle, checked beside DIGESTS
INVARIANTS = {"m01": m01_planted_pairs}


class Runner:
    def __init__(self, spark, workload, data_dir, tracer: tracing.Tracer):
        self.spark = spark
        self.steps = WORKLOADS[workload]
        self.data_dir = data_dir
        self.tracer = tracer
        reg = registry(entry)
        self.layer = {c: ("sources" if c == "scan" else reg[c][0]) for c in self.steps}
        self.fn = {c: reg[c][1] for c in self.steps if c != "scan"}
        self.passes: list[dict] = []
        self.outputs: dict[str, list] = {c: [] for c in self.steps}  # (rows, schema) per ok pass
        self.persisted: list[int] = []

    def _step(self, code: str, traced: bool) -> dict:
        rec = {"code": code, "layer": self.layer[code], "ok": True}
        with self.tracer.span("step", step=code, layer=self.layer[code]) as span:
            try:
                if code == "scan":
                    with self.tracer.span("call") as call:
                        dfs = [load_table(self.spark, self.data_dir, t) for t in SCAN_TABLES]
                    with self.tracer.span("exec") as ex:
                        for df in dfs:
                            df.write.format("noop").mode("overwrite").save()
                    out = ([], None)
                else:
                    with self.tracer.span("call") as call:
                        df = self.fn[code](self.spark, self.data_dir)
                    with self.tracer.span("exec") as ex:
                        rows = df.collect()
                    out = (rows, df.schema)
                rec["call_s"] = call["end"] - call["start"]
                rec["exec_s"] = ex["end"] - ex["start"]
                rec["rows"] = len(out[0])
                self.outputs[code].append(out)
            except Exception as exc:  # noqa: BLE001 — a failed step counts toward error_rate
                rec["ok"] = False
                rec["error"] = f"{type(exc).__name__}: {str(exc)[:500]}"
        rec["window"] = (span["start"], span["end"])
        if traced:
            self.persisted.append(tracing.persisted_bytes(self.spark))
        return rec

    def run_pass(self, kind: str, traced: bool, listener) -> dict:
        if traced:
            self.spark.streams.addListener(listener)
        # run.py starts the worker as a session leader: the session is
        # this process, its JVM and the JVM's Python workers
        cpu_start = proctree.tree_cpu_s(os.getsid(0))
        with self.tracer.span("pass", kind=kind, traced=traced) as span:
            steps = [self._step(c, traced) for c in self.steps]
        cpu_s = proctree.tree_cpu_s(os.getsid(0)) - cpu_start
        if traced:
            self.spark.streams.removeListener(listener)
        rec = {
            "kind": kind, "traced": traced, "wall_s": span["end"] - span["start"], "cpu_s": cpu_s,
            "steps": steps,
        }
        self.passes.append(rec)
        return rec


def check(runner: Runner, manifest: dict, root: str) -> list[dict]:
    """Outside the timed region: each step's last output against its
    DuckDB oracle, else every pass's output against the step's expected
    digest and invariant. A mismatch is recorded, never raised."""
    sys.path.insert(0, os.path.join(root, "tests"))
    import oracle_utils
    oracle_sql = oracles(entry)
    results = []
    for code in runner.steps:
        outs = runner.outputs[code]
        if not outs:
            continue  # every pass failed: counted by error_rate, nothing to check
        rec = {"step": code}
        with runner.tracer.span("check", step=code) as span:
            try:
                if code == "scan":
                    rec["kind"] = "row counts"
                    for t in SCAN_TABLES:
                        n = load_table(runner.spark, runner.data_dir, t).count()
                        if n != manifest[t]["rows"]:
                            raise AssertionError(f"{t}: {n} rows, generated {manifest[t]['rows']}")
                elif code in oracle_sql:
                    rec["kind"] = "oracle"
                    rows, schema = outs[-1]
                    # the collected rows, without running the step again
                    got = runner.spark.createDataFrame(rows, schema)
                    oracle_utils.assert_parity(got, oracle_sql[code], runner.data_dir, code)
                else:
                    rec["kind"] = "digest"
                    digests = sorted({digest(rows) for rows, _ in outs})
                    if digests != [DIGESTS[code]]:
                        raise AssertionError(f"digests {digests}, expected {DIGESTS[code]}")
                    INVARIANTS[code](outs[-1][0])
                rec["ok"] = True
            except Exception as exc:  # noqa: BLE001 — counts toward mismatch_rate
                rec["ok"] = False
                rec["detail"] = f"{type(exc).__name__}: {str(exc)[:500]}"
        rec["check_s"] = time.time() - span["start"]
        results.append(rec)
    return results


def layer_metrics(runner: Runner, listener, cores: int, get_spark_s: float) -> dict[str, float]:
    """Per-layer metrics per traced warm pass (the mean over those
    passes), from the spans, the status store and the listener."""
    traced = [p for p in runner.passes if p["traced"] and p["kind"] == "warm"]
    steps = [s for p in traced for s in p["steps"]]
    candidate_layers = ("dedup", "similarity")
    store = tracing.read_status_store(
        runner.spark, [s["window"] for s in steps], lambda i: steps[i]["layer"] in candidate_layers
    )
    n = len(traced)
    acc: dict[str, float] = {}

    def add(key, value):
        acc[key] = acc.get(key, 0.0) + value

    for i, s in enumerate(steps):
        layer = s["layer"]
        add(f"{layer}.call_s", s.get("call_s", 0.0))
        add(f"{layer}.exec_s", s.get("exec_s", 0.0))
        for k, v in tracing.stage_totals(store["stages"][i]).items():
            add(f"{layer}.{k}", v)
        sql = store["sql"][i]
        add(f"{layer}.python_bytes", sum(e["python_bytes"] for e in sql))
        if layer in candidate_layers:
            add(f"{layer}.result_rows", s.get("rows", 0))
            add(f"{layer}.candidate_rows", max((e["join_rows"] for e in sql), default=0))
        if layer == "streaming":
            a, b = s["window"]
            batches = [e for e in listener.batches if a <= e["ts"] <= b]
            last = {e["query"]: e for e in batches}
            add("streaming.batches", len(batches))
            add("streaming.state_rows", sum(e["state_rows"] for e in last.values()))
            add("streaming.state_mem_bytes", sum(e["state_mem_bytes"] for e in last.values()))

    out: dict[str, float] = {}
    for layer in STEP_LAYERS:
        g = lambda k: acc.get(f"{layer}.{k}", 0.0) / n  # noqa: E731
        wall = g("call_s") + g("exec_s")
        out[f"{layer}.call_s"] = g("call_s")
        out[f"{layer}.exec_s"] = g("exec_s")
        out[f"{layer}.busy_share"] = g("task_run_s") / (wall * cores) if wall else 0.0
        for k in ("tasks", "stages", "task_cpu_s", "gc_s", "shuffle_bytes", "spill_bytes", "failed_tasks"):
            out[f"{layer}.{k}"] = g(k)
    out["sources.input_bytes"] = acc.get("sources.input_bytes", 0.0) / n
    out["sources.input_rows"] = acc.get("sources.input_rows", 0.0) / n
    for layer in ("text", "dedup", "sampling", "similarity", "projection", "multimodal"):
        out[f"{layer}.python_bytes"] = acc.get(f"{layer}.python_bytes", 0.0) / n
    for layer in candidate_layers:
        cand = acc.get(f"{layer}.candidate_rows", 0.0)
        out[f"{layer}.candidate_yield"] = acc.get(f"{layer}.result_rows", 0.0) / cand if cand else 0.0
    for k in ("state_rows", "state_mem_bytes", "batches"):
        out[f"streaming.{k}"] = acc.get(f"streaming.{k}", 0.0) / n
    out["cache.persisted_bytes"] = float(max(runner.persisted, default=0))
    out["session.get_spark_s"] = get_spark_s
    untraced = [p["wall_s"] for p in runner.passes if p["kind"] == "warm" and not p["traced"]]
    out["trace.overhead_s"] = statistics.median(p["wall_s"] for p in traced) - statistics.median(untraced)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--root", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--passes-done", required=True, help="file touched when the timed passes end")
    args = ap.parse_args()
    traced_run = bool(args.trace)

    t0 = time.time()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{args.cores}]",
        extra_conf=tracing.RETENTION_CONF if traced_run else None,
    )
    get_spark_s = time.time() - t0
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    ready = time.time()

    with open(args.manifest) as f:
        manifest = json.load(f)
    tracer = tracing.Tracer()
    runner = Runner(spark, args.workload, args.data, tracer)
    listener = tracing.ProgressListener()

    with tracer.span("workload", workload=args.workload):
        runner.run_pass("cold", traced_run, listener)
        warm_start = time.time()
        # untraced: warm passes until --seconds have passed, at least two
        # (session_drift compares the last with the first). traced: ABBA
        # blocks of untraced/traced passes, so the tracing overhead is
        # not confounded with the session's warm-up trend.
        block = (False, True, True, False) if traced_run else (False, False)
        while True:
            for traced in block:
                runner.run_pass("warm", traced, listener)
            if time.time() - warm_start >= args.seconds:
                break
            block = block if traced_run else (False,)
        open(args.passes_done, "w").close()
        with tracer.span("check") as check_span:
            checks = check(runner, manifest, args.root)

    result = {
        "ready_wall": ready,
        "get_spark_s": get_spark_s,
        "cores": args.cores,
        "passes": runner.passes,
        "checks": checks,
        "check_s": check_span["end"] - check_span["start"],
    }
    if traced_run:
        result["layers"] = layer_metrics(runner, listener, args.cores, get_spark_s)
        result["spans"] = tracer.spans
    with open(args.out, "w") as f:
        json.dump(result, f)
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
