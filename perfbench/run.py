"""Benchmark entry point.

    python3 perfbench/run.py --workload star_stream --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It generates the workload's inputs from
the seed, starts one fresh worker process that sets up a Spark session
and runs the workload's passes as a closed loop (one client, steps one
after another: a cold pass, then warm passes for ``--seconds``), checks
the outputs outside the timed region, and prints one JSON object as the
last line of standard output. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` they are the per-layer ones from a
traced run, including the tracing overhead. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import inputs
import proctree
from workloads import PER_LAYER, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DEADLINE_S = 170  # the whole run, generation and clean-up included
# The end-to-end metrics of the JSON line, each with a regression bound
# in BENCHMARK.json. The summary line also prints the wall-clock pass
# metrics (cold_pass_s, pass_s, step_geomean_s), which a slow period of
# a shared host moves by up to 2x while the CPU seconds of the same
# passes move by about a tenth; session_drift and peak_rss_mb, whose
# spread is wider than any bound allows (a ratio of two passes; a JVM
# heap anywhere from 2.5 to 7 GB under the package's 8g driver-memory
# default); and error_rate and mismatch_rate, which are 0 on a healthy
# run and travel as the failed and correct fields.
E2E_REPORTED = ("setup_s", "cold_pass_cpu_s", "pass_cpu_s")


def cores() -> int:
    """``nproc`` without its OMP_NUM_THREADS override."""
    return len(os.sched_getaffinity(0))


def worker_env(run_dir: str) -> dict[str, str]:
    """The worker's environment: the checkout on PYTHONPATH (driver and
    Python workers import the package from it), every scratch location
    inside the run directory, and none of the package's SPARK_GRAFT_*
    overrides, so the session runs with the package's own defaults."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env.update(
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        # HotSpot's perf-data file goes to /tmp whatever java.io.tmpdir says
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem",
    )
    return env


def stop_session(sid: int, grace_s: float) -> None:
    """Wait up to ``grace_s`` for every process of the session to exit,
    then kill what is left and wait for it."""
    end = time.time() + grace_s
    while proctree.session_pids(sid) and time.time() < end:
        time.sleep(0.1)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not proctree.session_pids(sid):
            return
        try:
            os.killpg(sid, sig)
        except ProcessLookupError:
            return
        end = time.time() + 5
        while proctree.session_pids(sid) and time.time() < end:
            time.sleep(0.1)


def e2e_metrics(result: dict, spawn_wall: float, peak_rss: int) -> dict[str, dict]:
    passes = result["passes"]
    warm = [p for p in passes[1:] if not p["traced"]]
    warm_s = [p["wall_s"] for p in warm]
    step_s = [s["call_s"] + s["exec_s"] for p in warm for s in p["steps"] if s["ok"]]
    return {
        "setup_s": {"value": result["ready_wall"] - spawn_wall, "unit": "s"},
        "cold_pass_s": {"value": passes[0]["wall_s"], "unit": "s"},
        "cold_pass_cpu_s": {"value": passes[0]["cpu_s"], "unit": "s"},
        "pass_s": {"value": statistics.median(warm_s), "unit": "s"},
        "pass_cpu_s": {"value": statistics.median(p["cpu_s"] for p in warm), "unit": "s"},
        "step_geomean_s": {
            "value": math.exp(statistics.fmean(math.log(t) for t in step_s)),
            "unit": "s",
        },
        "session_drift": {"value": warm_s[-1] / warm_s[0], "unit": "ratio"},
        "peak_rss_mb": {"value": peak_rss / 1e6, "unit": "MB"},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()
    # a SIGTERM unwinds through the finally below, which stops the worker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = [
        p for p in ("__spark_entry__.py", "big_data_analytics_cse545_spark", "tests/oracle_utils.py")
        if not os.path.exists(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    manifest = inputs.generate(args.seed, data_dir)
    manifest_path = os.path.join(run_dir, "manifest.json")
    with open(manifest_path, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)

    out_path = os.path.join(run_dir, "result.json")
    done_path = os.path.join(run_dir, "passes.done")
    log_path = os.path.join(run_dir, "worker.log")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--data", data_dir, "--manifest", manifest_path,
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--cores", str(cores()),
        "--root", ROOT, "--out", out_path, "--passes-done", done_path,
    ]
    env = worker_env(run_dir)
    with open(log_path, "wb") as log:
        spawn_wall = time.time()
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        code = None
        try:
            with proctree.PeakRss(proc.pid, done_path) as peak:
                code = proc.wait(timeout=max(1.0, DEADLINE_S - (time.time() - start)))
        except subprocess.TimeoutExpired:
            pass
        finally:
            stop_session(proc.pid, grace_s=10 if code is not None else 0)
            proc.wait()

    if code != 0 or not os.path.exists(out_path):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-4000:]
        why = "timed out" if code is None else f"exited with {code}"
        print(f"perfbench: worker {why}; log tail:\n{tail}", file=sys.stderr)
        return 1

    with open(out_path) as f:
        result = json.load(f)
    changed = [
        t for t, m in manifest.items()
        if inputs.file_sha256(os.path.join(data_dir, f"{t}.parquet")) != m["sha256"]
    ]
    result["checks"].append(
        {"step": "inputs", "kind": "sha256", "ok": not changed, "detail": f"rewritten: {changed}"}
    )
    steps = [s for p in result["passes"] for s in p["steps"]]
    failed = [s for s in steps if not s["ok"]]
    checks = result["checks"]
    mismatched = [c for c in checks if not c["ok"]]

    e2e = e2e_metrics(result, spawn_wall, peak.peak)
    e2e["error_rate"] = {"value": len(failed) / len(steps), "unit": "ratio"}
    e2e["mismatch_rate"] = {"value": len(mismatched) / len(checks), "unit": "ratio"}
    for s in failed:
        print(f"perfbench: step {s['code']} failed: {s['error']}")
    for c in mismatched:
        print(f"perfbench: check {c['step']} ({c['kind']}) mismatched: {c['detail']}")
    print(
        f"perfbench: {args.workload} seed={args.seed} trace={args.trace} "
        f"passes={len(result['passes'])} check_s={result['check_s']:.1f} run_s={time.time() - start:.1f} "
        + " ".join(f"{k}={v['value']:.6g}{v['unit']}" for k, v in e2e.items())
    )

    keep = os.path.join(WORK, "results")
    os.makedirs(keep, exist_ok=True)
    result["manifest"] = manifest
    result["seed"] = args.seed
    result["e2e"] = e2e
    with open(os.path.join(keep, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(result, f)
    shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        metrics = {name: {"value": result["layers"][name], "unit": unit} for name, unit, _ in PER_LAYER}
    else:
        metrics = {k: e2e[k] for k in E2E_REPORTED}
    print(json.dumps({
        "correct": not failed and not mismatched,
        "attempted": len(steps),
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
