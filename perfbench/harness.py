"""Set-up repetitions, the closed loop, the output checks and the metrics.

A workload module provides:

- ``setup(ctx) -> state``: seeded inputs, registration and build, timed
  through ``ctx.phase``; ``BUILD_PHASES`` names the build phases;
- ``warmup(state)``: one execution of every operation;
- ``deck(state, pass_no) -> list[Op]``: the operations of one pass, and
  ``PASS_SECONDS``, the nominal time of one;
- ``observe(state, res)``: bookkeeping on a finished op (result rows);
- ``probe(state, op, df) -> dict``: traced-only per-layer counters;
- ``check(state, results) -> list[str]``: wrong outputs, found after the
  timed region;
- ``storage_ratio(state) -> float`` and ``layer_metrics(state, results)``.
"""

from __future__ import annotations

import contextlib
import dataclasses
import importlib
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict

import spans
from spans import Tracer, median

SETUP_REPS = 3
APP_NAME = "perfbench"

# every per-layer metric printed as JSON by a traced run. Each is defined on
# both workloads; counts and ratios of a layer one workload never enters
# read 0 there. Times that only one workload has (a REFRESH, an OPTIMIZE,
# the write path) are printed as report lines above the JSON.
LAYER_UNITS = {
    "session.start_s": "s",
    "sources.loaders.register_s": "s",
    "setup.build_s": "s",
    "setup.datagen_s": "s",
    "setup.warmup_s": "s",
    "session.peak_rss_mb": "MB",
    "engine.sql_ms": "ms",
    "exec.collect_ms": "ms",
    "engine.sql_ms.read": "ms",
    "exec.collect_ms.read": "ms",
    "engine.sql_share": "ratio",
    "engine.sql_share.write": "ratio",
    "exec.jobs_per_op": "count",
    "exec.stages_per_op": "count",
    "exec.tasks_per_op": "count",
    "exec.failed_tasks": "count",
    "sources.lake.files_read": "count",
    "sources.skipping.files_kept_ratio": "ratio",
    "sources.snapshots.versions": "count",
    "sources.snapshots.data_files": "count",
    "sources.snapshots.delete_files": "count",
    "sources.snapshots.metadata_bytes": "bytes",
    "sources.dml_sql.files_rewritten": "count",
    "sources.dml_sql.files_skipped": "count",
    "operators.matview.refresh_share": "ratio",
    "sources.snapshots.optimize_share": "ratio",
    "self_ms_per_op.engine.sql": "ms",
    "self_ms_per_op.exec.collect": "ms",
    "self_ms_per_op.op": "ms",
    "self_ms_per_op.perfbench.probe": "ms",
    "engine.sql_cpu_share.read": "ratio",
    "client.read_p50_ms": "ms",
    "client.ops_per_s": "1/s",
    "host.nproc": "count",
    "host.steal_pct": "%",
    "trace.overhead_pct": "%",
}
# Latency and throughput are gated as CPU time of the engine's processes,
# not wall time: on a shared 4-vCPU host, runs of the same code at 7-15% CPU
# steal had a wall p50 24-33% above that of runs under 3% steal, but a CPU
# time per op only 6-13% above. Wall figures are report lines and the
# ``client.*`` per-layer metrics.
END_TO_END_UNITS = {
    "setup_s": "s",
    "read_cpu_ms": "ms",
    "ops_per_cpu_s": "1/s",
    "bytes_per_user_byte": "ratio",
}


@dataclasses.dataclass
class Op:
    name: str  # template or statement kind
    kind: str  # "read" or "write"
    sql: str
    meta: dict = dataclasses.field(default_factory=dict)


@dataclasses.dataclass
class OpResult:
    op: Op
    pass_no: int
    traced: bool
    start: float
    latency_s: float
    sql_s: float
    collect_s: float
    cpu_start: float  # the engine's CPU seconds used so far, at the op's start
    cpu_s: float  # CPU seconds the op took, over every process of the engine
    sql_cpu_s: float  # of which inside ``Engine.sql``; traced ops only
    rows: list | None
    error: str | None = None
    probes: dict = dataclasses.field(default_factory=dict)


@dataclasses.dataclass
class Result:
    report: list[str]
    summary: dict


class Context:
    """One set-up repetition: its session, engine, directory and phase
    timings. ``phase`` times a named step always (set-up steps are few) and
    records a span when tracing."""

    def __init__(self, spark, eng, rep_dir, seed, tracer, phases):
        self.spark = spark
        self.eng = eng
        self.dir = rep_dir
        self.seed = seed
        self.tracer = tracer
        self.phases = phases

    @contextlib.contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        with self.tracer.span(name):
            yield
        self.phases[name].append(time.perf_counter() - t0)


def _steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat; (0, 0) where it is absent."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(v) for v in fh.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def cpu_seconds(root: int) -> float:
    """User plus system CPU seconds used so far by process ``root`` and its
    live descendants, with what each has collected from children it reaped.
    From the client process this covers the engine's Python side, the JVM
    and the JVM's Python workers."""
    stats = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while /proc was listed
            continue
        # ppid, then utime, stime, cutime, cstime in clock ticks
        stats[int(name)] = (int(fields[1]), sum(int(v) for v in fields[11:15]))
    children = defaultdict(list)
    for pid, (ppid, _) in stats.items():
        children[ppid].append(pid)
    ticks, stack = 0, [root]
    while stack:
        pid = stack.pop()
        ticks += stats.get(pid, (0, 0))[1]
        stack.extend(children[pid])
    return ticks / os.sysconf("SC_CLK_TCK")


def _hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _start_session(work: str, nproc: int):
    from oss_data_lake_spark.session import get_spark

    return get_spark(
        app_name=APP_NAME,
        cpus=nproc,
        warehouse_dir=os.path.join(work, "warehouse"),
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            # no perf-data file under the system temp dir
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def shutdown() -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        # closes py4j's sockets, so objects collected after the JVM is gone
        # send nothing
        gw.shutdown()
    if proc is not None:
        # the JVM's gateway server exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _setup(wl, seed, work, nproc, tracer, phases):
    """``SETUP_REPS`` set-ups in one session, each with a fresh engine,
    directory and inputs; the first also starts the session. The last one is
    kept, warmed up and used by the timed loop. Returns (ctx, state,
    per-repetition seconds, warm-up seconds)."""
    from oss_data_lake_spark.engine import Engine

    times = []
    ctx = state = spark = None
    for rep in range(SETUP_REPS):
        if ctx is not None:
            shutil.rmtree(ctx.dir, ignore_errors=True)
        rep_dir = os.path.join(work, f"rep{rep}")
        os.makedirs(rep_dir)
        os.environ["SPARK_GRAFT_LAKE_DIR"] = os.path.join(rep_dir, "lake")
        t0 = time.perf_counter()
        with tracer.span("setup"):
            if spark is None:
                with tracer.span("session.start"):
                    spark = _start_session(work, nproc)
                phases["session.start"].append(time.perf_counter() - t0)
            eng = Engine(spark, warehouse_dir=os.path.join(rep_dir, "warehouse"))
            ctx = Context(spark, eng, rep_dir, seed, tracer, phases)
            state = wl.setup(ctx)
        times.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    with ctx.phase("setup.warmup"):
        wl.warmup(state)
    return ctx, state, times, time.perf_counter() - t0


def _run_op(ctx, op: Op, pass_no: int, traced: bool, op_id: str):
    """Run one op; returns its ``OpResult`` and the DataFrame (for probes)."""
    tracer = ctx.tracer
    sql_s = collect_s = sql_cpu_s = 0.0
    rows = df = None
    error = None
    pid = os.getpid()
    cpu0 = cpu_seconds(pid)
    start = time.perf_counter()
    try:
        with tracer.span("op", op_id):
            with tracer.span("engine.sql", op_id):
                df = ctx.eng.sql(op.sql)
            t1 = time.perf_counter()
            sql_s = t1 - start
            if traced:
                sql_cpu_s = cpu_seconds(pid) - cpu0
            with tracer.span("exec.collect", op_id):
                rows = df.collect()
            collect_s = time.perf_counter() - t1
    except Exception as exc:  # a failed op is counted, the loop goes on
        error = f"{type(exc).__name__}: {exc}"
        print(f"[perfbench] {op.name} failed: {error}", file=sys.stderr)
    latency = time.perf_counter() - start
    cpu_s = cpu_seconds(pid) - cpu0
    return OpResult(op, pass_no, traced, start, latency, sql_s, collect_s,
                    cpu0, cpu_s, sql_cpu_s, rows, error), df


def _job_counts(sc, group: str) -> dict:
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else []):
            si = st.getStageInfo(s)
            if si is not None:
                stages += 1
                tasks += si.numTasks
                failed += si.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
            "failed_tasks": failed}


def _loop(wl, ctx, state, seconds, traced):
    """The closed loop: one op at a time, in whole passes. ``seconds`` sets
    the number of passes from the workload's nominal pass time rather than a
    deadline, so every run of a workload measures the same passes: with a
    deadline, a run slowed by the host would also measure fewer, less warm
    passes, which doubles the effect of the slowdown. When tracing, even
    passes run untraced and odd passes traced."""
    sc = ctx.spark.sparkContext
    results: list[OpResult] = []
    n = 0
    for pass_no in range(max(2, math.ceil(seconds / wl.PASS_SECONDS))):
        traced_pass = traced and pass_no % 2 == 1
        ctx.tracer.enabled = traced_pass
        for op in wl.deck(state, pass_no):
            op_id = f"op{n}"
            n += 1
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", op_id if traced_pass else None)
            res, df = _run_op(ctx, op, pass_no, traced_pass, op_id)
            if traced_pass and res.error is None:
                with ctx.tracer.span("perfbench.probe", op_id):
                    res.probes = _job_counts(sc, op_id)
                    res.probes.update(wl.probe(state, op, df))
            results.append(res)
            if res.error is None:
                wl.observe(state, res)
    ctx.tracer.enabled = traced
    return results


def run(workload, seed, seconds, traced, work, nproc, trace_out) -> Result:
    wl = importlib.import_module(workload)  # workload modules import Op
    tracer = Tracer(traced)
    phases: dict[str, list[float]] = defaultdict(list)
    steal0 = _steal_ticks()
    ctx, state, setup_times, warmup_s = _setup(wl, seed, work, nproc, tracer, phases)

    results = _loop(wl, ctx, state, seconds, traced)
    steal1 = _steal_ticks()
    peak_rss = _hwm_mb("self") + _hwm_mb(ctx.spark.sparkContext._gateway.proc.pid)

    problems = wl.check(state, results)
    failed_ops = sum(r.error is not None for r in results)
    for p in problems:
        print(f"[perfbench] wrong output: {p}", file=sys.stderr)

    done = [r for r in results if r.error is None]
    reads = [r.latency_s * 1000 for r in done if r.op.kind == "read"]
    writes = [r.latency_s * 1000 for r in done if r.op.kind == "write"]
    untraced = [r for r in done if not r.traced]
    e2e = {
        "setup_s": median(setup_times) + warmup_s,
        "read_cpu_ms": read_cpu_ms(untraced),
        "ops_per_cpu_s": _pass_rate(results, False, cpu=True),
        "bytes_per_user_byte": wl.storage_ratio(state),
    }
    d_steal, d_total = steal1[0] - steal0[0], steal1[1] - steal0[1]
    steal_pct = 100.0 * d_steal / d_total if d_total else 0.0
    report = [
        f"workload={workload} seed={seed} seconds={seconds} trace={int(traced)} "
        f"nproc={nproc} steal={steal_pct:.2f}% ops={len(results)} "
        f"reads={len(reads)} writes={len(writes)}",
        "set-up seconds per repetition: "
        + ", ".join(f"{t:.3f}" for t in setup_times)
        + f"; warm-up {warmup_s:.3f}",
    ]
    for label, samples in (("read", reads), ("write", writes)):
        if samples:
            t = spans.tail(samples)
            report.append(
                f"{label}_p50_ms={median(samples):.2f} "
                + (f"{label}_{t[0]}_ms={t[1]:.2f} " if t else "")
                + f"(n={len(samples)})"
            )
    for name in END_TO_END_UNITS:
        report.append(f"{name} = {e2e[name]:.6g} {END_TO_END_UNITS[name]}")
    attempted = len(results)
    failed = failed_ops + len(problems)
    report.append(f"ops_per_s = {_pass_rate(results, False):.6g} 1/s (wall)")
    report.append(f"error_rate = {failed / max(1, attempted):.4f} "
                  f"({failed} of {attempted})")

    if traced:
        layers, extra = _layers(wl, state, results, phases, tracer, peak_rss,
                                nproc, steal_pct)
        for name, unit in LAYER_UNITS.items():
            report.append(f"{name} = {layers[name]:.6g} {unit}")
        for name, value in extra.items():
            report.append(f"{name} = {value:.6g} {name.rsplit('_', 1)[1]}")
        os.makedirs(os.path.dirname(trace_out), exist_ok=True)
        tracer.write(trace_out)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    summary = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return Result(report, summary)


def _layers(wl, state, results, phases, tracer, peak_rss, nproc, steal_pct):
    """(per-layer JSON metrics, report-only extras named ``<what>_<unit>``)."""
    traced_ok = [r for r in results if r.traced and r.error is None]
    reads = [r for r in traced_ok if r.op.kind == "read"]
    writes = [r for r in traced_ok if r.op.kind == "write"]

    def med_ms(rs, attr):
        return median([getattr(r, attr) * 1000 for r in rs])

    def share(rs):
        return median([r.sql_s / r.latency_s for r in rs if r.latency_s])

    def mean_probe(key):
        vals = [r.probes.get(key, 0) for r in traced_ok]
        return statistics.fmean(vals) if vals else 0.0

    def phase_s(name):
        return median(phases.get(name, []))

    reps = len(phases["setup.datagen"])
    build = [sum(phases[p][i] for p in wl.BUILD_PHASES) for i in range(reps)]
    selfs = spans.self_time_by_name([s for s in tracer.spans if s["op"] is not None])
    n_traced = max(1, len(traced_ok))
    rate_u = _pass_rate(results, False, cpu=True)
    rate_t = _pass_rate(results, True, cpu=True)
    out = {
        "session.start_s": phase_s("session.start"),
        "sources.loaders.register_s": phase_s("sources.loaders.register"),
        "setup.build_s": median(build),
        "setup.datagen_s": phase_s("setup.datagen"),
        "setup.warmup_s": phase_s("setup.warmup"),
        "session.peak_rss_mb": peak_rss,
        "engine.sql_ms": med_ms(traced_ok, "sql_s"),
        "exec.collect_ms": med_ms(traced_ok, "collect_s"),
        "engine.sql_ms.read": med_ms(reads, "sql_s"),
        "exec.collect_ms.read": med_ms(reads, "collect_s"),
        "engine.sql_share": share(reads),
        "engine.sql_share.write": share(writes),
        "exec.jobs_per_op": mean_probe("jobs"),
        "exec.stages_per_op": mean_probe("stages"),
        "exec.tasks_per_op": mean_probe("tasks"),
        "exec.failed_tasks": float(sum(r.probes.get("failed_tasks", 0) for r in traced_ok)),
        # a share of sums: CPU time comes in 10 ms clock ticks, too coarse
        # for a time per op over the few traced ops
        "engine.sql_cpu_share.read": (sum(r.sql_cpu_s for r in reads)
                                      / (sum(r.cpu_s for r in reads) or 1.0)),
        "client.read_p50_ms": median([r.latency_s * 1000 for r in results
                                      if not r.traced and r.error is None
                                      and r.op.kind == "read"]),
        "client.ops_per_s": _pass_rate(results, False),
        "host.nproc": float(nproc),
        "host.steal_pct": steal_pct,
        "trace.overhead_pct": 100.0 * (rate_u / rate_t - 1.0) if rate_t else 0.0,
    }
    for name in ("engine.sql", "exec.collect", "op", "perfbench.probe"):
        out[f"self_ms_per_op.{name}"] = selfs.get(name, 0.0) * 1000 / n_traced
    out.update(wl.layer_metrics(state, results))
    for name in LAYER_UNITS:
        out.setdefault(name, 0.0)

    extra = {f"{p}_s": phase_s(p) for p in wl.BUILD_PHASES}
    if writes:
        extra["engine.sql.write_ms"] = med_ms(writes, "sql_s")
        extra["exec.collect.write_ms"] = med_ms(writes, "collect_s")
    for name in sorted({r.op.name for r in results}):
        extra[f"op.{name}.p50_ms"] = median(
            [r.latency_s * 1000 for r in results if r.op.name == name and r.error is None])
    setup_spans = [s for s in tracer.spans if s["op"] is None]
    counts = defaultdict(int)
    for s in setup_spans:
        counts[s["name"]] += 1
    for name, total in sorted(spans.self_time_by_name(setup_spans).items()):
        extra[f"setup.self.{name}_s"] = total / counts[name]
    return out, extra


def read_cpu_ms(results: list[OpResult]) -> float:
    """Geometric mean, over read templates, of each template's mean CPU
    milliseconds per execution: every template weighs the same, where
    ``ops_per_cpu_s`` is dominated by the dearest statements. A mean per
    template rather than a median, because CPU that background threads (JIT
    compiler, GC) spend lands in whichever op is running."""
    by_name = defaultdict(list)
    for r in results:
        if r.error is None and r.op.kind == "read":
            by_name[r.op.name].append(r.cpu_s * 1000)
    means = [statistics.fmean(v) for v in by_name.values()]
    return statistics.geometric_mean(means) if means else 0.0


def _pass_rate(results: list[OpResult], traced: bool, cpu: bool = False) -> float:
    """Completed ops per second of wall time (or of the engine's CPU time)
    over the traced (or untraced) passes, probes included: the throughput a
    client sees with tracing on (off), or the ops a CPU second serves. Every
    run has the same passes, so the rate compares across runs."""
    by_pass = defaultdict(list)
    for r in results:
        if r.traced == traced:
            by_pass[r.pass_no].append(r)
    if cpu:
        used = sum(rs[-1].cpu_start + rs[-1].cpu_s - rs[0].cpu_start
                   for rs in by_pass.values())
    else:
        used = sum(rs[-1].start + rs[-1].latency_s - rs[0].start
                   for rs in by_pass.values())
    done = sum(r.error is None for rs in by_pass.values() for r in rs)
    return done / used if used > 0 else 0.0
