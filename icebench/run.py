#!/usr/bin/env python3
"""Iceberg engine benchmark: one run of one workload.

Usage (from the repository root):

    python3 icebench/run.py --workload mor_scan --seed 1 --seconds 15 --trace 0

Generates the workload's inputs from ``--seed`` inside a fresh run
directory under the checkout, replays the commit ledger in the DuckDB
model, starts the worker (the engine's driver process) in its own
process group, and prints its report. The last line of standard output
is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a traced run with ``--trace 1``. Every child process is
stopped and the run directory removed on exit, also on failure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKER_TIMEOUT_S = 170
# Spark task threads (at most nproc). The driver process tree already
# uses about 1.5 CPU-seconds per op beside the tasks (JIT, GC, Python
# workers). On the shared 4-core host, 2 task threads gave a round
# spread of 0.06 across 5 seeds on mor_scan against 0.13 with 4, and
# faster rounds: the tables are small enough that scheduling, not
# task parallelism, sets the latency.
TASK_THREADS = 2
END_TO_END = {
    "setup_s": "s",
    "round_p50_ms": "ms",
    "ops_per_s": "1/s",
    "bytes_per_user_byte": "ratio",
    "driver_rss_mb": "MiB",
}


def _per_layer_units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def _stop_group(pgid: int, timeout: float = 20.0) -> None:
    """SIGTERM, then SIGKILL, the worker's process group; wait until empty."""
    for sig, wait in ((signal.SIGTERM, timeout), (signal.SIGKILL, timeout)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + wait
        while time.monotonic() < end:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def _layer_metrics(res: dict) -> dict:
    lay = dict(res["layers"])
    h = res["host"]
    lay["session.get_spark_s"] = res["setup"]["session_s"]
    lay["host.cpu_s_per_op"] = h["cpu_s_per_op"]
    lay["host.jvm_rss_mb"] = h["jvm_rss_mb"]
    lay["host.steal_pct"] = h["steal_pct"]
    lay["host.load1"] = h["load1"]
    lay["host.probe_ms"] = (h["probe_ms_before"] + h["probe_ms_after"]) / 2.0
    for kind, s in res["ops"].items():
        lay[f"op.{kind}.p50_ms"] = s.get("p50", 0.0)
    return lay


def _remove_stale(runs: str) -> None:
    """Remove run directories left by a run.py that was killed outright
    (its worker kills itself when the parent is gone)."""
    if not os.path.isdir(runs):
        return
    for name in os.listdir(runs):
        pid = int(name.rsplit("-", 1)[-1])
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(runs, name), ignore_errors=True)


def _exit_on_sigterm(signum, frame):
    raise SystemExit(128 + signum)  # runs the cleanup in ``finally``


def main() -> int:
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # fail before any work when the engine is not in this checkout
    if not os.path.isfile(os.path.join(ROOT, "duckdb_iceberg_spark", "__init__.py")):
        print("duckdb_iceberg_spark/ is missing from this checkout", file=sys.stderr)
        return 2
    import inputs

    if args.workload not in inputs.PLANS:
        print(f"unknown workload {args.workload!r}; one of {sorted(inputs.PLANS)}", file=sys.stderr)
        return 2

    runs = os.path.join(ROOT, ".icebench_run")
    _remove_stale(runs)
    run_dir = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("inputs", "tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub))
    proc = None
    try:
        t0 = time.perf_counter()
        plan = inputs.PLANS[args.workload](os.path.join(run_dir, "inputs"), args.seed)
        plan["workload"] = args.workload
        gen_s = time.perf_counter() - t0
        plan_path = os.path.join(run_dir, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        out_path = os.path.join(run_dir, "result.json")
        tmp = os.path.join(run_dir, "tmp")
        env = dict(
            os.environ,
            # every JVM, spark-submit's launcher too: temp files in the
            # run directory, no hsperfdata file under /tmp
            JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            PYTHONPATH=os.pathsep.join([ROOT, HERE]),
            SPARK_GRAFT_CPUS=str(min(len(os.sched_getaffinity(0)), TASK_THREADS)),
            SPARK_GRAFT_DRIVER_MEM="2g",
            SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
            TMPDIR=tmp,
            PYTHONHASHSEED="0",  # same set iteration order in every run
        )
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--plan", plan_path, "--out", out_path, "--root", ROOT, "--run-dir", run_dir,
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--t-spawn", repr(time.monotonic()),
        ]
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr, start_new_session=True)
        try:
            rc = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"worker exceeded {WORKER_TIMEOUT_S} s", file=sys.stderr)
            return 3
        if rc != 0 or not os.path.exists(out_path):
            print(f"worker failed with exit code {rc}", file=sys.stderr)
            return 3
        with open(out_path) as f:
            res = json.load(f)
    finally:
        if proc is not None:
            _stop_group(proc.pid)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass

    for e in res["errors"]:
        print(f"op failed: {e}", file=sys.stderr)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "input_gen_s": gen_s,
        "rounds": res["rounds"],
        "round_ms": res["round_ms"],
        "ops": res["ops"],
        "setup": res["setup"],
        "host": res["host"],
    }
    print(json.dumps(report))
    if args.trace:
        units = _per_layer_units()
        lay = _layer_metrics(res)
        # the trace line also carries what BENCHMARK.json does not list
        # (layer self times, the tracing overhead's sample sizes)
        print(json.dumps({"trace": {k: v for k, v in lay.items() if k not in units}}))
        metrics = {k: {"value": float(lay.get(k, 0.0)), "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": float(res["end_to_end"][k]), "unit": u} for k, u in END_TO_END.items()}
    failed = res["failed"]
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
