"""Benchmark worker: the engine's driver process for one run.

Started by ``run.py`` with the plan it wrote. Sets up the session and
the workload's table, runs the closed loop (one client, one op at a
time) for the given seconds, checks every op against the model outside
the timed interval, and writes a result JSON. The worker is a separate
process so that its peak RSS is the engine's driver alone and so that
the parent can stop its whole process tree.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import signal
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import host  # noqa: E402
from layers import norm_path  # noqa: E402
from stats import summary  # noqa: E402


def _die_with_parent() -> None:
    """Kill this process group (driver, JVM, Python workers) as soon as
    the parent ``run.py`` is gone, even if it was killed outright."""
    parent = os.getppid()

    def watch():
        while os.getppid() == parent:
            time.sleep(0.5)
        os.killpg(os.getpgrp(), signal.SIGKILL)

    threading.Thread(target=watch, daemon=True).start()


def _import_engine(root: str):
    """The package from the checkout under test, never an installed one."""
    sys.path.insert(0, root)
    import duckdb_iceberg_spark as engine

    where = os.path.realpath(os.path.dirname(engine.__file__))
    if not where.startswith(os.path.realpath(root) + os.sep):
        raise RuntimeError(f"duckdb_iceberg_spark imported from {where}, not from {root}")
    return engine


def _session(engine, run_dir: str):
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
    }
    t0 = time.perf_counter()
    spark = engine.get_spark("icebench", **conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


class Loop:
    """Closed loop over rounds; records per-op and per-round latency."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failed = 0
        self.rounds_ms: list[float] = []
        self.ok_ops = 0
        self.by_kind: dict[str, list[float]] = {}
        self.errors: list[str] = []
        self.r = 0

    def one_round(self, on_op=None, record=True) -> None:
        ops = self.wl.round(self.r)
        self.r += 1
        total = 0.0
        ok = 0
        complete = True
        for op in ops:
            self.attempted += 1
            ctx = on_op(op) if on_op else None
            try:
                t0 = time.perf_counter()
                if ctx is not None:
                    with ctx:
                        got = op.run()
                else:
                    got = op.run()
                dt = time.perf_counter() - t0
            except Exception:
                self.failed += 1
                self.errors.append(f"{op.kind}: {traceback.format_exc(limit=4)}")
                complete = False
                break
            # check outside the timed interval
            got = op.digest(got)
            if op.expect is not None and got != op.expect:
                self.failed += 1
                self.errors.append(f"{op.kind}: got {got}, model {op.expect}")
            else:
                ok += 1
            total += dt
            if record:
                self.by_kind.setdefault(op.kind, []).append(dt * 1000.0)
            if on_op is not None and hasattr(on_op, "after"):
                on_op.after(op, dt)
        if record and complete:
            self.rounds_ms.append(total * 1000.0)
            self.ok_ops += ok

    def run_for(self, seconds: float, **kw) -> None:
        end = time.perf_counter() + seconds
        while time.perf_counter() < end:
            self.one_round(**kw)


# rounds of each kind before the tracing overhead is told from noise
MIN_OVERHEAD_N = 5


class TraceHooks:
    """Per-op tracing: op span, job group, and the post-op analysis."""

    def __init__(self, tracer, spark, drain):
        self.tracer = tracer
        self.spark = spark
        self.drain = drain
        self.records: list[dict] = []
        self.n = 0

    def __call__(self, op):
        """Context of one op: its span; job group set before timing."""
        self.n += 1
        self.cur = self.n
        self.spark.sparkContext.setJobGroup(f"op{self.n}", op.kind, False)
        self.drain.last = None
        self.tracer.op = self.n
        return self.tracer.span(f"op:{op.kind}", "harness")

    def after(self, op, dt: float) -> None:
        tr = self.tracer
        tr.op = None  # analysis below is not part of the op
        sc = self.spark.sparkContext
        rec = {"op": self.cur, "kind": op.kind, "ms": dt * 1000.0, "plan_ms": 0.0, "jobs": 0, "tasks": 0}
        st = sc.statusTracker()
        for j in st.getJobIdsForGroup(f"op{self.cur}"):
            rec["jobs"] += 1
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                rec["tasks"] += stage.numTasks if stage else 0
        if self.drain.last is not None:
            df, agg = self.drain.last
            phases = agg._jdf.queryExecution().tracker().phases()
            it = phases.iterator()
            while it.hasNext():
                rec["plan_ms"] += it.next()._2().durationMs()
            if op.scan:
                walk = [s for s in tr.spans if s.op == self.cur and s.name == "load_table_scan"]
                if walk:
                    data = walk[-1].attrs.get("data_files", set())
                    read = {norm_path(f) for f in df.inputFiles()}
                    rec["files"] = len(data)
                    rec["kept"] = len(data & read)
        self.records.append(rec)


def _traced(loop: Loop, tracer, spark, drain, seconds: float) -> dict:
    """Untraced and traced rounds, alternating; per-layer metrics.

    Alternating puts both kinds of round in the same window, so their
    difference is the tracing overhead and not JIT warm-up or host
    drift. The untraced rounds stay in ``loop`` (they give the op
    latencies); the traced ones feed the layers and the overhead. The
    overhead counts as resolved only with at least ``MIN_OVERHEAD_N``
    rounds of each kind and medians that differ by more than the
    interquartile range of the untraced rounds; otherwise it is
    round-to-round noise, not the cost of the wrappers."""
    from layers import install, per_layer

    hooks = TraceHooks(tracer, spark, drain)
    traced = Loop(loop.wl)
    end = time.perf_counter() + seconds
    while time.perf_counter() < end:
        loop.one_round()
        traced.r = loop.r
        drain.span = lambda: tracer.span("collect", "spark")
        install(tracer)
        try:
            traced.one_round(on_op=hooks)
        finally:
            tracer.uninstall()
            drain.span = contextlib.nullcontext
        loop.r = traced.r
    loop.attempted += traced.attempted
    loop.failed += traced.failed
    loop.errors += traced.errors
    m = per_layer(tracer, hooks.records)
    tr, un = summary(traced.rounds_ms), summary(loop.rounds_ms)
    m["harness.tracing_overhead_pct"] = 100.0 * (tr["p50"] - un["p50"]) / un["p50"]
    iqr = un.get("q3", un["p50"]) - un.get("q1", un["p50"])
    m["_tracing_overhead"] = {
        "traced_round_p50_ms": tr["p50"],
        "traced_n": tr["n"],
        "untraced_round_p50_ms": un["p50"],
        "untraced_n": un["n"],
        "untraced_iqr_ms": iqr,
        "resolved": min(tr["n"], un["n"]) >= MIN_OVERHEAD_N and abs(tr["p50"] - un["p50"]) > iqr,
    }
    return m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--plan", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--root", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t-spawn", type=float, required=True)
    args = ap.parse_args()
    _die_with_parent()

    with open(args.plan) as f:
        plan = json.load(f)
    engine = _import_engine(args.root)
    from workloads import WORKLOADS, Drainer

    spark, session_s = _session(engine, args.run_dir)
    session_wall = time.monotonic() - args.t_spawn  # worker start -> session ready
    drain = Drainer()
    wl = WORKLOADS[plan["workload"]](spark, engine, plan, args.run_dir, drain)
    tracer = None
    if args.trace:
        from layers import install
        from spans import Tracer

        tracer = Tracer()
        install(tracer)  # the table build's commits are traced
    t0 = time.perf_counter()
    wl.prepare()
    prep_s = time.perf_counter() - t0
    if tracer is not None:
        tracer.uninstall()
    loop = Loop(wl)
    t0 = time.perf_counter()
    for _ in range(wl.warm_rounds):
        loop.one_round(record=False)
    warm_s = time.perf_counter() - t0
    # worker start -> first timed op (the host probe below is harness only)
    setup_s = time.monotonic() - args.t_spawn
    # the warm-up is checked too; its failures count
    warm_attempted, warm_failed = loop.attempted, loop.failed

    me = os.getpid()
    probe_before = host.probe_ms()
    ticks0 = host.cpu_ticks()
    tree0 = host.cpu_seconds([me] + host.descendants(me))
    ops0 = loop.attempted
    t_loop = time.perf_counter()
    layer_metrics: dict = {}
    if not args.trace:
        loop.run_for(args.seconds)
    else:
        layer_metrics = _traced(loop, tracer, spark, drain, args.seconds)
    loop_s = time.perf_counter() - t_loop
    n_loop_ops = loop.attempted - ops0
    tree = [me] + host.descendants(me)
    cpu_s = host.cpu_seconds(tree) - tree0
    ticks1 = host.cpu_ticks()
    probe_after = host.probe_ms()
    jvm = host.jvm_pid(me)
    user_bytes = wl.user_bytes()  # reads leave the table as built

    rounds = summary(loop.rounds_ms)
    result = {
        "attempted": loop.attempted,
        "failed": loop.failed,
        "errors": loop.errors[:5],
        "end_to_end": {
            "setup_s": setup_s,
            "round_p50_ms": rounds.get("p50", 0.0),
            "ops_per_s": 1000.0 * loop.ok_ops / sum(loop.rounds_ms) if loop.rounds_ms else 0.0,
            "bytes_per_user_byte": user_bytes,
            "driver_rss_mb": host.hwm_mb(me),
        },
        "rounds": rounds,
        "round_ms": loop.rounds_ms,
        "ops": {k: summary(v) for k, v in loop.by_kind.items()},
        "setup": {
            "session_s": session_s,
            "session_wall_s": session_wall,
            "prep_s": prep_s,
            "warm_s": warm_s,
            "warm_attempted": warm_attempted,
            "warm_failed": warm_failed,
        },
        "host": {
            "nproc": host.nproc(),
            "spark_task_threads": spark.sparkContext.defaultParallelism,
            "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory", ""),
            "load1": host.load1(),
            "steal_pct": host.steal_pct(ticks0, ticks1),
            "probe_ms_before": probe_before,
            "probe_ms_after": probe_after,
            "cpu_s_per_op": cpu_s / max(1, n_loop_ops),
            "loop_s": loop_s,
            "jvm_rss_mb": host.rss_mb(jvm) if jvm else 0.0,
        },
        "layers": layer_metrics,
    }
    with open(args.out, "w") as f:
        json.dump(result, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
