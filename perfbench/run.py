"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  The inputs are generated from the seed
under ``.perfbench_work/``; set-up is timed several times; one untimed
pass warms up and checks results; then passes run until ``--seconds``
have been measured.  The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer metrics).  The
line before it holds the run's details: host facts, sample counts and,
when traced, each layer's self time.

``--size tiny`` runs at smoke-test size; ``--corrupt-reply`` makes the
replay server flip one byte of one stored value.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import platform
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "duckdb_redis_olap_scanner_spark"
SETUPS = 3  # set-ups per run; setup_s is their median
TAIL_BEYOND = 10  # samples a tail percentile must leave above it


def units(kind: str) -> dict[str, str]:
    """Metric name -> unit, for "end_to_end" or "per_layer" metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


class Ctx:
    def __init__(self, args) -> None:
        self.seed = args.seed
        self.size = args.size
        self.corrupt = args.corrupt_reply
        self.nproc = len(os.sched_getaffinity(0))
        self.work = os.path.join(ROOT, ".perfbench_work")
        self.inputs = os.path.join(self.work, "inputs")


def isolate_scratch(work: str, nproc: int) -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))
    import tempfile

    tempfile.tempdir = tmp


def descendants(pid: int) -> list[int]:
    """Processes whose parent chain leads to ``pid``."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out = []
    for child in parent:
        p = parent[child]
        while p not in (None, 0, 1, pid):
            p = parent.get(p)
        if p == pid:
            out.append(child)
    return out


class WorkerRSS:
    """Polls the peak RSS (VmHWM) of the Python processes under the JVM."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm = jvm_pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def poll(self) -> None:
        for pid in descendants(self.jvm):
            try:
                with open(f"/proc/{pid}/status") as f:
                    status = f.read()
            except OSError:
                continue
            if "python" not in status.split("\n", 1)[0]:
                continue
            for line in status.splitlines():
                if line.startswith("VmHWM:"):
                    self.peak_kb = max(self.peak_kb, int(line.split()[1]))

    def _run(self) -> None:
        # VmHWM is kept by the kernel; polling only has to catch workers
        # that exit before the run ends, so once a second is enough.
        while not self._stop.wait(1.0):
            self.poll()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.poll()
        return self.peak_kb / 1024


def tail(samples: list[float], fewest: int) -> tuple[float, float]:
    """The sample at the highest percentile that leaves TAIL_BEYOND
    samples above it when there are ``fewest`` samples, the fewest a run
    takes; and that percentile.  Fixing the percentile per workload keeps
    a run that fits more passes from reporting a higher percentile."""
    s = sorted(samples)
    kept = fewest - TAIL_BEYOND
    return s[-(-kept * len(s) // fewest) - 1], 100.0 * kept / fewest


def run_pass(wl, ops, stats, probe=None) -> dict:
    """Run every op once.  Returns per-op wall times; when traced (a
    SparkProbe is given), also the pass's span root and Spark facts."""
    tracer = probe.tracer if probe else None
    times: dict[str, float] = {}
    facts = {"catalyst": [], "groups": []}
    with tracer.span("pass") if tracer else contextlib.nullcontext():
        for op in ops:
            stats["attempted"] += 1
            op.before()
            dt = None
            try:
                if tracer:
                    group = f"perfbench-{len(tracer.spans)}"
                    wl.spark.sparkContext.setJobGroup(group, op.name)
                    with tracer.span("op", op=op.name) as sp:
                        t0 = time.perf_counter()
                        with tracer.span("plans.build"):
                            df = op.build()
                        with tracer.span("spark.action"):
                            result = op.act(df)
                        dt = time.perf_counter() - t0
                else:
                    t0 = time.perf_counter()
                    result = op.act(op.build())
                    dt = time.perf_counter() - t0
                ok = op.check(result)
            except Exception:  # noqa: BLE001 - an op failure is counted, not fatal
                traceback.print_exc(file=sys.stderr)
                ok = False
            if tracer:
                wl.spark.sparkContext.setJobGroup(None, None)
            if not ok:
                stats["failed"] += 1
                print(f"perfbench: op {op.name} failed", file=sys.stderr)
                continue
            times[op.name] = dt
            if tracer:
                facts["groups"].append((sp, probe.group_facts(group)))
                facts["catalyst"].append((sp, probe.wait_events(tracer.spans[sp]["start"])))
    return {"times": times, "facts": facts}


def merge(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Union of intervals, as sorted disjoint intervals."""
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


# Where spans overlap, time goes to the most specific layer.
PRIORITY = {"op": 0, "plans.build": 1, "spark.action": 1, "catalyst.analysis": 2,
            "catalyst.optimization": 2, "catalyst.planning": 2, "spark.jobs": 3}


def exclusive(spans: list[dict], lo: float, hi: float) -> dict[str, float]:
    """Split [lo, hi] among overlapping spans: each instant goes to the
    highest-priority span covering it.  For nested spans this is each
    span's self time: its duration minus what its children cover."""
    cuts = sorted({lo, hi, *(min(max(t, lo), hi) for s in spans for t in (s["start"], s["end"]))})
    out: dict[str, float] = {}
    for a, b in zip(cuts, cuts[1:]):
        owner = max((s for s in spans if s["start"] <= a and s["end"] >= b),
                    key=lambda s: PRIORITY[s["name"]], default=None)
        if owner is not None:
            out[owner["name"]] = out.get(owner["name"], 0.0) + b - a
    return out


def attribute(tracer, traced: dict, direct_ops: dict) -> dict[str, float]:
    """Self time per layer for one traced pass.  The Spark facts of each
    op are added as spans under it; job wall time is then split between
    the Python layers' critical path, measured by direct calls, and
    Spark execution, which keeps the rest."""
    out = dict.fromkeys(
        ("self.plans_s", "catalyst.analysis_s", "catalyst.optimization_s",
         "catalyst.planning_s", "self.spark_driver_s", "self.transport_s", "self.sources_s",
         "self.functions_s", "self.spark_execution_s", "plans.build_s"), 0.0)
    for (sp, events), (_, group) in zip(traced["facts"]["catalyst"], traced["facts"]["groups"]):
        for ev in events:
            for phase, (a, b) in ev["phases"].items():
                tracer.add(f"catalyst.{phase}", a, b, sp)
        for a, b in merge(group["jobs"]):
            tracer.add("spark.jobs", a, b, sp)
        op = tracer.spans[sp]
        spans = [s for i, s in enumerate(tracer.spans) if i == sp or s["parent"] == sp]
        own = exclusive(spans, op["start"], op["end"])
        out["self.plans_s"] += own.get("plans.build", 0.0)
        out["self.spark_driver_s"] += own.get("spark.action", 0.0)
        out["plans.build_s"] += sum(s["end"] - s["start"] for s in spans
                                    if s["name"] == "plans.build")
        for phase in ("analysis", "optimization", "planning"):
            out[f"catalyst.{phase}_s"] += own.get(f"catalyst.{phase}", 0.0)
        jobs_s = own.get("spark.jobs", 0.0)
        layers = {k: max(0.0, v) for k, v in direct_ops.get(op["op"], {}).items()}
        py = sum(layers.values())
        scale = min(1.0, jobs_s / py) if py > 0 else 0.0
        for layer, v in layers.items():
            out[f"self.{layer}_s"] += v * scale
        out["self.spark_execution_s"] += jobs_s - py * scale
    out["self.catalyst_s"] = sum(out[f"catalyst.{p}_s"]
                                 for p in ("analysis", "optimization", "planning"))
    # like pass_s, the traced pass is the sum of its ops' wall times
    out["trace.pass_s"] = sum(tracer.spans[sp]["end"] - tracer.spans[sp]["start"]
                              for sp, _ in traced["facts"]["groups"])
    out["unattributed_s"] = out["trace.pass_s"] - sum(
        v for k, v in out.items() if k.startswith("self."))
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt-reply", action="store_true")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    ctx = Ctx(args)
    isolate_scratch(ctx.work, ctx.nproc)
    wl = workloads.WORKLOADS[args.workload](ctx)
    try:
        return measure(wl, ctx, args)
    finally:
        shutdown(wl)


def shutdown(wl) -> None:
    """Stop Spark, its JVM and the replay server, and wait for each."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    wl.teardown()
    if gateway is None:
        return
    proc = gateway.proc
    workers = descendants(proc.pid)
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in workers):
        time.sleep(0.1)


def measure(wl, ctx, args) -> int:
    stats = {"attempted": 0, "failed": 0}
    phases = {}
    t0 = time.perf_counter()
    wl.prepare()
    phases["prepare"] = time.perf_counter() - t0

    setups = []
    for i in range(SETUPS):
        setups.append(wl.setup())
        if i < SETUPS - 1:
            wl.teardown()
    phases["setups"] = time.perf_counter() - t0 - phases["prepare"]
    rss = WorkerRSS(wl.spark.sparkContext._gateway.proc.pid)

    t1 = time.perf_counter()
    for ops in wl.warmup_passes():
        run_pass(wl, ops, stats)
    phases["warmup"] = time.perf_counter() - t1
    ops = wl.ops()
    probe = None
    if args.trace:
        from perfbench.trace import SparkProbe

        probe = SparkProbe(wl.spark)
    ctl = wl.server.ctl if wl.server else None
    if ctl:
        ctl.call("BENCH.PEAK")
    plain: list[dict] = []
    traced: list[dict] = []
    counters: list[dict] = []
    busy0 = ctl.stats() if ctl else None
    t_start = time.perf_counter()
    while True:
        trace_this = probe is not None and len(plain) > len(traced)
        before = ctl.stats() if ctl else None
        res = run_pass(wl, ops, stats, probe if trace_this else None)
        (traced if trace_this else plain).append(res)
        if ctl and trace_this:
            after = ctl.stats()
            counters.append({k: after[k] - before[k] for k in
                             ("round_trips", "request_bytes", "reply_bytes", "commands")})
        n_ops = sum(len(p["times"]) for p in plain)
        done = time.perf_counter() - t_start >= args.seconds
        enough = len(plain) >= wl.min_passes and (
            len(traced) >= wl.min_passes if probe else n_ops > TAIL_BEYOND)
        if (done and enough) or time.perf_counter() - t_start > 3 * args.seconds + 60:
            break
    wall = phases["measure"] = time.perf_counter() - t_start
    busy = (ctl.stats()["busy_s"] - busy0["busy_s"]) / wall if ctl else 0.0
    peak_conns = ctl.call("BENCH.PEAK") if ctl else 0
    limit = max(1, ctx.nproc - 1)
    if peak_conns > limit:
        stats["failed"] += 1
        print(f"perfbench: {peak_conns} connections open at once, limit {limit}",
              file=sys.stderr)
    peak_rss = rss.stop()

    pass_times = [sum(p["times"].values()) for p in plain if len(p["times"]) == len(ops)]
    op_samples = [t for p in plain for t in p["times"].values()]
    per_op = {op.name: [p["times"][op.name] for p in plain if op.name in p["times"]]
              for op in ops}
    op_tail, pct = (tail(op_samples, wl.min_passes * len(ops))
                    if len(op_samples) > TAIL_BEYOND else (math.nan, math.nan))
    pass_s = statistics.median(pass_times) if pass_times else math.nan
    e2e = {
        "setup_s": statistics.median(sum(s.values()) for s in setups),
        "pass_s": pass_s,
        "op_tail_s": op_tail,
        "op_geomean_s": math.exp(statistics.fmean(
            math.log(statistics.median(v)) for v in per_op.values() if v))
        if all(per_op.values()) else math.nan,
        "keys_per_s": wl.keys_per_pass / pass_s,
        "worker_peak_rss_mb": peak_rss,
    }
    import duckdb
    import pyarrow
    import pyspark

    details = {
        "workload": wl.name, "seed": ctx.seed, "size": ctx.size,
        "host": {
            "nproc": ctx.nproc, "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "duckdb": duckdb.__version__, "python": platform.python_version(),
            "default_parallelism": wl.spark.sparkContext.defaultParallelism,
            "shuffle_partitions": wl.spark.conf.get("spark.sql.shuffle.partitions"),
            **wl.facts(),
        },
        "pass_times": pass_times, "traced_passes": len(traced), "op_samples": len(op_samples),
        "op_tail_percentile": pct, "keys_per_pass": wl.keys_per_pass,
        "setups": setups, "phase_s": phases,
        "error_rate": stats["failed"] / max(1, stats["attempted"]),
        "peak_connections": peak_conns, "op_median_s": {
            k: statistics.median(v) for k, v in per_op.items() if v},
    }
    if probe:
        tracer = probe.tracer
        direct_totals, direct_ops = wl.direct()
        layers = [attribute(tracer, t, direct_ops) for t in traced]
        facts = [spark_counts(t) for t in traced]
        med = {k: statistics.median(d[k] for d in layers) for k in layers[0]}
        med.update({k: statistics.median(d[k] for d in facts) for k in facts[0]})
        for part in setups[0]:
            med[part] = statistics.median(s[part] for s in setups)
        med.update(direct_totals)
        med["trace.overhead_s"] = med["trace.pass_s"] - pass_s
        if counters:
            keys = wl.keys_per_pass
            for k in ("round_trips", "request_bytes", "reply_bytes"):
                med[f"transport.{k}"] = statistics.median(c[k] for c in counters)
            med["transport.round_trips_per_1k_keys"] = 1e3 * med["transport.round_trips"] / keys
            med["transport.reply_bytes_per_key"] = med["transport.reply_bytes"] / keys
        med["server.busy_frac"] = busy
        med["connections.peak"] = peak_conns
        med["error_rate"] = details["error_rate"]
        named = sum(v for k, v in med.items() if k.startswith("self."))
        details["trace_coverage"] = named / med["trace.pass_s"]
        details["self_times"] = {k: v for k, v in med.items() if k.startswith("self.")}
        tracer.dump(os.path.join(ctx.work, f"spans-{wl.name}-{ctx.seed}.json"))
        probe.close()
        metrics = {k: {"value": med.get(k, 0.0), "unit": u}
                   for k, u in units("per_layer").items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in units("end_to_end").items()}
    print(json.dumps({"details": details}))
    ok = stats["failed"] == 0 and all(
        isinstance(m["value"], (int, float)) and math.isfinite(m["value"])
        for m in metrics.values())
    print(json.dumps({"correct": ok, "attempted": stats["attempted"],
                      "failed": stats["failed"], "metrics": metrics}))
    return 0


def spark_counts(traced: dict) -> dict[str, float]:
    stages = [s for _, g in traced["facts"]["groups"] for s in g["stages"]]
    return {
        "spark.jobs": sum(len(g["jobs"]) for _, g in traced["facts"]["groups"]),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["tasks"] for s in stages),
        "spark.python_stages": sum(
            ev["python_ops"] for _, evs in traced["facts"]["catalyst"] for ev in evs),
        "spark.executor_run_s": sum(s["run_s"] for s in stages),
        "spark.executor_cpu_s": sum(s["cpu_s"] for s in stages),
        "spark.shuffle_read_bytes": sum(s["shuffle_read"] for s in stages),
        "spark.shuffle_write_bytes": sum(s["shuffle_write"] for s in stages),
        "spark.spill_bytes": sum(s["spill"] for s in stages),
    }


if __name__ == "__main__":
    sys.exit(main())
