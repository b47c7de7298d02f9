"""Benchmark entry point.

    python3 perfbench/run.py --workload nightly_etl --seed 1 --seconds 11 --trace 0

Run from the root of a checkout. One process, one client, closed loop, on
``local[nproc]``. The run derives its seeded inputs into a scratch
directory inside the checkout (excluded from every metric), sets up the
session three times (the first start is cold; the median is reported),
runs one untimed warm-up pass, then a fixed number of whole passes (about
``--seconds`` of them on a 4-core host), then checks every result against
its oracle on the same inputs.

Output: a report line (every metric under the names of the benchmark's
design, with units and sample counts, plus the failures by name), then,
last, the result line the benchmark contract defines. ``--trace 0``
reports the end-to-end metrics with tracing off; ``--trace 1`` turns on
Spark's JSON event log, the py4j counter, plan forcing and the status
tracker, reports the per-layer metrics and writes spans and per-operation
records to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import inputs
import measure
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "data_pipeline_foundations_spark"
SETUPS = 3
DRIVER_MEMORY = "1g"  # the JVM heap, fixed: -Xms equals it
WORKLOADS = ("nightly_etl", "stream_drain")
LAYERS = ("bench", "plans", "session.catalyst", "session.sched",
          "operators.caching", "runner", "sources", "streaming")


def declared(kind: str) -> list[str]:
    """Metric names BENCHMARK.json declares under ``kind``; the result line
    carries exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)[kind]]


class Operation:
    def __init__(self, ctx, op_id: str, name: str):
        self.ctx = ctx
        self.start = time.perf_counter()
        self.rec = {"op": op_id, "name": name, "status": "ok"}

    def done(self, samples: list[float] | None = None) -> None:
        """Mark the operation's result complete; its latency ends here
        (clean-up after it is not part of the latency)."""
        self.rec["latency_s"] = time.perf_counter() - self.start
        self.ctx.samples.extend(
            samples if samples is not None else [self.rec["latency_s"]])


class Context:
    def __init__(self, args, tmp: str):
        self.workload = args.workload
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.tmp = tmp
        self.tables_dir = os.path.join(tmp, "tables")
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        self.tracer = measure.Tracer()
        self.counter = measure.Py4JCounter() if self.trace else None
        self.samples: list[float] = []
        self.setup_parts: list[dict] = []
        self.ops: dict[str, dict] = {}
        self.failures: list[dict] = []
        self.attempted = 0
        self.rows_out: dict[str, int] = {}
        self.groups: dict[str, int] = {}         # job group -> span id
        self.stream_groups: dict[str, tuple[str, int]] = {}

    def forget_ops(self) -> None:
        """Drop the spans, samples and job groups of the warm-up pass, so
        every metric covers the measured passes only. Its failures stay."""
        self.tracer.spans.clear()
        self.samples.clear()
        self.ops.clear()
        self.groups.clear()
        self.stream_groups.clear()

    # -- package access (re-imported by every set-up) --------------------
    def pkg(self, module: str):
        return importlib.import_module(f"{PKG}.{module}")

    # -- spans ------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, *, jobs: bool = False,
             py4j: bool = False, **attrs):
        with self.tracer.span(name, op, **attrs) as s:
            sc = self.spark.sparkContext if self.trace and jobs else None
            if sc is not None:
                gid = f"{s.op}|{s.id}"
                self.groups[gid] = s.id
                sc.setLocalProperty("spark.jobGroup.id", gid)
            before = self.counter.count if self.trace and py4j else None
            try:
                yield s
            finally:
                if before is not None:
                    s.attrs["py4j"] = self.counter.count - before
                if sc is not None:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def operation(self, op_id: str, name: str, reraise: bool = False):
        """One operation of the closed loop. A failure is recorded by name
        and, unless ``reraise``, never stops the loop."""
        self.attempted += 1
        op = Operation(self, op_id, name)
        self.ops[op_id] = op.rec
        try:
            with self.span("bench.op", op_id):
                yield op
        except Exception as exc:
            op.rec["status"] = "failed"
            self.fail(op_id, "failed", exc)
            if reraise:
                raise

    def fail(self, what: str, status: str, exc: BaseException | None) -> None:
        self.failures.append({"op": what, "status": status,
                              "error": workloads.error_text(exc) if exc else None})

    # -- correctness ------------------------------------------------------
    @contextlib.contextmanager
    def check(self, name: str):
        self.attempted += 1
        try:
            yield
        except Exception as exc:  # every mismatch is reported by name
            self.fail(f"check:{name}", "wrong" if isinstance(exc, AssertionError)
                      else "failed", exc)

    def expect_equal(self, name: str, got, want) -> None:
        diff = workloads.frames_differ(got, want)
        if diff:
            raise AssertionError(f"{name}: {diff}")

    def plan_counts(self, df) -> dict:
        return measure.plan_counts(df._jdf.queryExecution().executedPlan().toString())


# ---------------------------------------------------------------------------
# Environment, set-up and shutdown
# ---------------------------------------------------------------------------
def configure_env(ctx: Context) -> None:
    """Host-fitting settings; every file Spark writes goes under ctx.tmp."""
    t = ctx.tmp
    for d in ("local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(t, d), exist_ok=True)
    conf = [
        f"spark.sql.warehouse.dir={t}/warehouse",
        f"spark.driver.extraJavaOptions=-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={t}/tmp "
        f"-Dderby.system.home={t}/tmp -XX:-UsePerfData",
        "spark.sql.streaming.numRecentProgressUpdates=1000",
    ]
    if ctx.trace:
        conf += ["spark.eventLog.enabled=true",
                 f"spark.eventLog.dir=file://{t}/eventlog",
                 "spark.eventLog.compress=false",
                 "spark.eventLog.rolling.enabled=false"]
    if any(";" in c for c in conf):
        raise SystemExit(f"scratch path {t!r} must not contain ';'")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(ctx.cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": f"{t}/local",
        "SPARK_GRAFT_EXTRA_CONF": ";".join(conf),
        "TMPDIR": f"{t}/tmp",
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={t}/tmp -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })


def setup(ctx: Context, tables: tuple[str, ...]) -> float:
    """Session start, registry import and warm-up, timed. A repeat stops
    the session and drops every package module first, so the import and
    the session start are paid again (the JVM itself stays up)."""
    parts = {}
    t0 = t = time.perf_counter()

    def part(name):
        nonlocal t
        now = time.perf_counter()
        parts[name] = now - t
        t = now

    if ctx.spark is not None:
        ctx.spark.stop()
        for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
            del sys.modules[name]
        part("stop")
    spark = ctx.pkg("session").get_spark("perfbench")
    ctx.spark = spark
    part("session")
    ctx.pkg("registry").all_queries()
    part("registry")
    load = ctx.pkg("tables").load
    for name in tables:  # as bench.py: touch every table the workload reads
        load(spark, ctx.tables_dir, name).count()
    part("tables")
    # ... and fork the Python worker pool with its pandas/Arrow imports
    (spark.range(0, 256, 1, ctx.cpus)
     .mapInPandas(lambda it: it, schema="id long")
     .write.mode("overwrite").format("noop").save())
    part("workers")
    ctx.setup_parts.append(parts)
    return time.perf_counter() - t0


def cpu_ticks() -> list[int]:
    """The host's aggregate CPU time counters (``cpu`` line of /proc/stat)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests (steal) in
    between two cpu_ticks() readings: host noise, not program time."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def jvm_pid(ctx: Context) -> int:
    return int(ctx.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def shutdown() -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    workers = measure.process_tree(proc.pid) - {proc.pid} if proc else set()
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        with contextlib.suppress(ProcessLookupError):
            if os.path.exists(f"/proc/{pid}"):
                os.kill(pid, signal.SIGKILL)


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------
def _pass_walls(ctx: Context) -> list[float]:
    return [s.end - s.start for s in ctx.tracer.spans if s.name == "bench.pass"]


def end_to_end(ctx: Context, wl, setups, warmup_s, peak_kb,
               cpu_s) -> tuple[dict, dict]:
    """(result-line metrics, report metrics) for a run with tracing off."""
    walls = _pass_walls(ctx)
    lat = measure.timing(ctx.samples)
    report = {
        "setup_s": {"value": statistics.median(setups), "unit": "s",
                    "n": len(setups), "samples": setups},
        "wall_s": {"value": statistics.median(walls), "unit": "s",
                   "n": len(walls), "samples": walls},
        "peak_rss_mb": {"value": peak_kb / 1024, "unit": "MB", "n": 1},
        "cpu_s": {"value": statistics.median(cpu_s), "unit": "s",
                  "n": len(cpu_s), "samples": cpu_s},
        "warmup_pass_s": {"value": warmup_s, "unit": "s", "n": 1},
    }
    # operation latency under the workload's own name: stage_* or batch_*
    report[f"{wl.kind}_p50_s"] = {"value": lat["p50"], "unit": "s", "n": lat["n"]}
    report[f"{wl.kind}_p90_s"] = {"value": lat["p90"], "unit": "s", "n": lat["n"]}
    if hasattr(wl, "warehouse_mb"):
        report["warehouse_mb"] = {"value": wl.warehouse_mb(), "unit": "MB", "n": 1}
    result = {k: {"value": report[k]["value"], "unit": report[k]["unit"]}
              for k in declared("end_to_end")}
    return result, report


def per_layer(ctx: Context, groups: dict[str, dict], status: dict) -> dict:
    """Per-layer metrics of a traced run, per pass (totals / passes)."""
    spans = [s for s in ctx.tracer.spans if s.op is not None]  # in the passes
    passes = len(_pass_walls(ctx))
    by_id = {s.id: s for s in spans}
    span_group = {}
    for gid, sid in ctx.groups.items():
        span_group.setdefault(sid, []).append(gid)
    for run_id, (_, sid) in ctx.stream_groups.items():
        span_group.setdefault(sid, []).append(run_id)

    def dur(name):
        return sum(s.end - s.start for s in spans if s.name == name)

    def attr(name, key):
        return sum(s.attrs.get(key) or 0 for s in spans if s.name == name)

    def ev(key, names=None, agg=sum):
        vals = [groups[g][key] for sid, gs in span_group.items() for g in gs
                if g in groups and (names is None or by_id[sid].name in names)]
        return agg(vals) if vals else 0

    def tracker(key, names=None):
        return sum(status[g][key] for sid, gs in span_group.items() for g in gs
                   if g in status and (names is None or by_id[sid].name in names))

    actions = ("sources.write", "sources.rebuild_warehouse", "streaming.drain")
    action_wall = sum(dur(n) for n in actions)
    cpu = ev("task_cpu_s")
    rows_read = ev("rows_read")
    rows_out = sum(ctx.rows_out.values())
    out = {
        "plans.build_s": dur("plans.build"),
        "plans.py4j_calls": attr("plans.build", "py4j"),
        "plans.eager_jobs": tracker("jobs", ("plans.build",)),
        "session.catalyst.plan_s": dur("session.catalyst.plan"),
        "session.catalyst.exchanges": attr("session.catalyst.plan", "exchanges"),
        "session.catalyst.python_nodes": attr("session.catalyst.plan", "python_nodes"),
        "session.sched.jobs": tracker("jobs"),
        "session.sched.stages": tracker("stages"),
        "session.sched.tasks": tracker("tasks"),
        "session.sched.wait_s": ev("sched_wait_s"),
        "operators.task_cpu_s": cpu,
        "operators.task_run_s": ev("task_run_s"),
        "operators.gc_s": ev("gc_s"),
        "operators.shuffle_write_mb": ev("shuffle_write_mb"),
        "operators.shuffle_read_mb": ev("shuffle_read_mb"),
        "operators.spill_mb": ev("spill_mb"),
        "operators.caching.released": attr("operators.caching.release", "released"),
        "operators.caching.release_s": dur("operators.caching.release"),
        "tables.rows_read": rows_read,
        "tables.bytes_read_mb": ev("bytes_read_mb"),
        "runner.overhead_s": dur("runner.run_dag") - dur("runner.stage"),
        "sources.write_s": dur("sources.write"),
        "sources.rows_written": ev("rows_written", ("sources.write",)),
        "sources.bytes_written_mb": ev("bytes_written_mb", ("sources.write",)),
        "sources.files_written": attr("sources.write", "files"),
        "sources.rebuild_s": dur("sources.rebuild_warehouse"),
        "sources.backup_mb": attr("sources.rebuild_warehouse", "backup_mb"),
    }
    dag = [s.attrs.get("status", {}) for s in spans if s.name == "runner.run_dag"]
    out["runner.stages_failed"] = sum(v == "failed" for d in dag for v in d.values())
    out["runner.stages_skipped"] = sum(v == "skipped" for d in dag for v in d.values())
    for stage in ("pl01", "pl02", "pl03", "pl04", "u01", "d11", "publish"):
        out[f"runner.stage_s.{stage}"] = sum(
            s.end - s.start for s in spans if s.name == "runner.stage"
            and ctx.ops.get(s.op, {}).get("name") == stage)
    out.update(streaming_metrics(ctx))
    per_pass = {k: v / passes for k, v in out.items()}
    per_pass["operators.peak_exec_mem_mb"] = ev("peak_exec_mem_mb", agg=max)
    per_pass["operators.cpu_busy_share"] = (
        cpu / (action_wall * ctx.cpus) if action_wall else 0.0)
    per_pass["tables.rows_read_per_row_out"] = (
        rows_read / passes / rows_out if rows_out else 0.0)
    carve = {sid: sum(groups[g]["sched_wait_s"] for g in gs if g in groups)
             for sid, gs in span_group.items()}
    layers = dict.fromkeys(LAYERS, 0.0) | measure.layer_self_times(spans, carve)
    for layer, secs in layers.items():
        per_pass[f"self_s.{layer}"] = secs / passes
    per_pass["trace.wall_s"] = sum(_pass_walls(ctx)) / passes
    return per_pass


def streaming_metrics(ctx: Context) -> dict:
    out = dict.fromkeys(
        ("streaming.batches", "streaming.input_rows", "streaming.add_batch_s",
         "streaming.planning_s", "streaming.wal_commit_s",
         "streaming.commit_offsets_s", "streaming.latest_offset_s",
         "streaming.state_rows", "streaming.state_mb",
         "streaming.state_commit_s", "streaming.late_rows_dropped"), 0)
    keys = {"streaming.add_batch_s": "addBatch",
            "streaming.planning_s": "queryPlanning",
            "streaming.wal_commit_s": "walCommit",
            "streaming.commit_offsets_s": "commitOffsets",
            "streaming.latest_offset_s": "latestOffset"}
    for rec in ctx.ops.values():
        progress = rec.get("progress") or []
        out["streaming.batches"] += len(progress)
        for p in progress:
            out["streaming.input_rows"] += p.get("numInputRows", 0)
            for name, key in keys.items():
                out[name] += p.get("durationMs", {}).get(key, 0) / 1e3
            for s in p.get("stateOperators", []):
                out["streaming.state_commit_s"] += s.get("commitTimeMs", 0) / 1e3
                out["streaming.late_rows_dropped"] += s.get(
                    "numRowsDroppedByWatermark", 0)
        if progress:  # state held at the end of the drain
            last = progress[-1].get("stateOperators", [])
            out["streaming.state_rows"] += sum(s.get("numRowsTotal", 0) for s in last)
            out["streaming.state_mb"] += sum(s.get("memoryUsedBytes", 0)
                                             for s in last) / 2**20
    return out


def status_counts(ctx: Context) -> dict[str, dict]:
    """Jobs, stages and tasks per job group, from the status tracker."""
    st = ctx.spark.sparkContext.statusTracker()
    out = {}
    for gid in [*ctx.groups, *ctx.stream_groups]:
        jobs = st.getJobIdsForGroup(gid)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                si = st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        out[gid] = {"jobs": len(jobs), "stages": stages, "tasks": tasks}
    return out


# ---------------------------------------------------------------------------
def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: no {PKG} package beside {HERE}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)

    tmp = os.path.join(ROOT, ".perfbench_tmp",
                       f"{args.workload}-{args.seed}-{os.getpid()}")
    ctx = Context(args, tmp)
    phases = {}
    clock = time.perf_counter()

    def phase(name):
        nonlocal clock
        now = time.perf_counter()
        phases[name] = now - clock
        clock = now

    try:
        wl = workloads.make(ctx, args.workload)
        inputs.derive_tables(ctx.tables_dir, args.seed, wl.tables)
        configure_env(ctx)
        wl.prepare()
        if ctx.counter:
            ctx.counter.install()
        phase("derive_s")
        setups = [setup(ctx, wl.tables) for _ in range(SETUPS)]
        phase("setup_s")

        pids = [os.getpid(), jvm_pid(ctx)]
        for pid in pids:
            measure.reset_peak_rss(pid)
        # One untimed warm-up pass: class loading, code generation and the
        # JIT of a cold JVM are paid here. Measured cold, wall_s and cpu_s
        # spread by a quarter or more over ten seeds on a shared 4-core host.
        warmup_s = time.perf_counter()
        wl.run_pass("w")
        warmup_s = time.perf_counter() - warmup_s
        ctx.forget_ops()
        phase("warmup_s")
        # A fixed number of passes. Pass times keep falling for several
        # passes while the JIT warms; passes counted by the clock would make
        # a slow host's median come from earlier, colder passes.
        ticks = cpu_ticks()
        passes = max(1, round(args.seconds / wl.pass_s))
        cpu_s = []
        for k in range(passes):
            cpu0 = measure.process_tree_cpu_s(os.getpid())
            with ctx.tracer.span("bench.pass", f"p{k}"):
                wl.run_pass(f"p{k}")
            cpu_s.append(measure.process_tree_cpu_s(os.getpid()) - cpu0)
        peak_kb = sum(measure.peak_rss_kb(pid) for pid in pids)
        steal = steal_share(ticks, cpu_ticks())
        phase("passes_s")
        status = status_counts(ctx) if ctx.trace else {}
        if ctx.trace:
            for s in ctx.tracer.spans:
                if s.name == "sources.write":
                    s.attrs["files"] = sum(f.endswith(".parquet") for _, _, fs
                                           in os.walk(s.attrs["output"]) for f in fs)
                elif s.name == "sources.rebuild_warehouse" and s.attrs.get("backup"):
                    backup = s.attrs["backup"].removeprefix("file:")
                    s.attrs["backup_mb"] = workloads.dir_mb(backup)
        wl.check()
        phase("check_s")

        if ctx.trace:
            app_id = ctx.spark.sparkContext.applicationId
            ctx.spark.stop()
            with open(os.path.join(tmp, "eventlog", app_id)) as f:
                groups = measure.parse_event_log(f)
            metrics = per_layer(ctx, groups, status)
            write_trace(ctx, groups, status, metrics)
            report = {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}
            result = {k: report[k] for k in declared("per_layer")}
        else:
            result, report = end_to_end(ctx, wl, setups, warmup_s, peak_kb,
                                        cpu_s)
    finally:
        if ctx.counter:
            ctx.counter.uninstall()
        shutdown()
        shutil.rmtree(tmp, ignore_errors=True)
        phase("shutdown_s")

    failed = len(ctx.failures)
    attempted = max(ctx.attempted, 1)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "passes": passes, "host_steal_share": steal, "phases": phases,
        "setup_parts": ctx.setup_parts, "metrics": report,
        "ops": {o["op"]: o.get("latency_s") for o in ctx.ops.values()},
        "failed_share": {"value": failed / attempted, "unit": "share",
                         "n": attempted},
        "failures": ctx.failures,
    }))
    print(json.dumps({"correct": not ctx.failures, "attempted": attempted,
                      "failed": failed, "metrics": result}))
    return 0


def unit_of(name: str) -> str:
    if name.endswith("_s") or "_s." in name:
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_share") or name.endswith("_per_row_out"):
        return "ratio"
    return "count"


def write_trace(ctx: Context, groups, status, metrics) -> None:
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    for rec in ctx.ops.values():
        rec.pop("progress", None)
        rec["groups"] = {g: {**groups.get(g, {}), **status.get(g, {})}
                         for g in [*ctx.groups, *ctx.stream_groups]
                         if g.startswith(rec["op"] + "|")
                         or ctx.stream_groups.get(g, ("",))[0] == rec["op"]}
    spans = [{"id": s.id, "name": s.name, "start": s.start, "end": s.end,
              "parent": s.parent, "op": s.op,
              "attrs": {k: v for k, v in s.attrs.items() if k != "output"}}
             for s in ctx.tracer.spans]
    path = os.path.join(out_dir, f"{ctx.workload}-seed{ctx.seed}-trace.json")
    with open(path, "w") as f:
        json.dump({"workload": ctx.workload, "seed": ctx.seed,
                   "metrics": metrics, "ops": list(ctx.ops.values()),
                   "spans": spans}, f)


if __name__ == "__main__":
    sys.exit(main())
