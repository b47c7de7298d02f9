"""Measurement arithmetic and tracing for the benchmark.

Everything here observes the program from outside: spans wrap the calls
the benchmark makes into each layer, and counts come only from what Spark
already exposes (Spark's JSON event log, the status tracker, streaming
progress, the physical plan) plus a counter around py4j's command send.
"""

from __future__ import annotations

import json
import math
import os
import re
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

TAIL_MIN = 10  # a percentile is reported only with this many samples beyond it


def percentile(values: list[float], q: float) -> float | None:
    """Nearest-rank percentile ``q`` (0 < q < 1), or None when fewer than
    TAIL_MIN samples lie beyond it."""
    n = len(values)
    if not n:
        return None
    rank = math.ceil(q * n)
    if n - rank < TAIL_MIN:
        return None
    return sorted(values)[rank - 1]


def timing(values: list[float]) -> dict:
    """Median and p90 of a list of seconds, with the sample count."""
    return {"p50": statistics.median(values) if values else None,
            "p90": percentile(values, 0.9), "n": len(values)}


# ---------------------------------------------------------------------------
# Spans and self time
# ---------------------------------------------------------------------------
@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    op: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        """The layer a span's self time belongs to: its name without the
        last dotted component (``plans.build`` -> ``plans``), except the
        benchmark's own ``bench.*`` spans."""
        head, _, _ = self.name.rpartition(".")
        return head or self.name


class Tracer:
    """In-memory span recorder. Spans nest by a stack (the benchmark is a
    single-threaded closed loop), carry the id of the operation they
    belong to, and are written out once at the end."""

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(len(self.spans), name, self.clock(),
                 parent=parent.id if parent else None, op=op, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Per span: its duration minus the part of it its children cover
    (children may overlap each other; the union is subtracted once)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {s.id: (s.end - s.start) - _covered(children[s.id], s.start, s.end)
            for s in spans}


def layer_self_times(spans: list[Span],
                     carve: dict[int, float] | None = None) -> dict[str, float]:
    """Self time summed per layer. ``carve`` moves part of a span's self
    time (capped at that self time) to the ``session.sched`` layer: the
    scheduler wait Spark spent inside an action."""
    own = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        moved = min(own[s.id], (carve or {}).get(s.id, 0.0))
        out[s.layer] += own[s.id] - moved
        if moved:
            out["session.sched"] += moved
    return dict(out)


# ---------------------------------------------------------------------------
# Peak resident memory
# ---------------------------------------------------------------------------
def reset_peak_rss(pid: int) -> None:
    """Reset VmHWM to the current RSS (Linux: ``5`` to clear_refs)."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def peak_rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


def _proc_stats() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, CPU ticks: user + system + reaped children)."""
    stats = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while listing
            continue
        # after the command: state ppid ... utime(12) stime(13) cutime(14) cstime(15)
        stats[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return stats


def process_tree(root: int, stats=None) -> set[int]:
    """``root`` and every live process below it."""
    stats = _proc_stats() if stats is None else stats
    tree, frontier = {root}, [root]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, _) in stats.items():
            if ppid == parent and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    return tree


def process_tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and every live process below it."""
    stats = _proc_stats()
    ticks = sum(stats[p][1] for p in process_tree(root, stats) if p in stats)
    return ticks / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# py4j command counter
# ---------------------------------------------------------------------------
_PY4J_RELEASE = "m\nd\n"  # py4j protocol: memory command, delete


class Py4JCounter:
    """Counts commands the Python side sends to the JVM by wrapping
    py4j's client-server ``send_command`` for as long as it is installed.
    Releases of JVM object references are not counted: Python's garbage
    collector sends them whenever it runs, so they would make the count
    differ between identical runs."""

    def __init__(self):
        self.count = 0
        self._orig = None

    def install(self) -> None:
        from py4j.clientserver import ClientServerConnection
        self._orig = orig = ClientServerConnection.send_command
        counter = self

        def send_command(conn, command):
            if not command.startswith(_PY4J_RELEASE):
                counter.count += 1
            return orig(conn, command)

        ClientServerConnection.send_command = send_command

    def uninstall(self) -> None:
        if self._orig is not None:
            from py4j.clientserver import ClientServerConnection
            ClientServerConnection.send_command = self._orig
            self._orig = None


# ---------------------------------------------------------------------------
# Physical plan counts
# ---------------------------------------------------------------------------
_EXCHANGE = re.compile(r"\b(?:Exchange|BroadcastExchange|ShuffleExchange)\b")
_PYTHON = re.compile(
    r"\b(?:ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow"
    r"|FlatMapGroupsInPandas\w*|FlatMapCoGroupsInPandas|AggregateInPandas"
    r"|WindowInPandas)\b")


def plan_counts(plan_text: str) -> dict[str, int]:
    """Exchanges and Python-evaluation nodes in a physical plan's text.
    ``ReusedExchange`` is not counted: it runs no shuffle."""
    return {"exchanges": len(_EXCHANGE.findall(plan_text)),
            "python_nodes": len(_PYTHON.findall(plan_text))}


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------
_TASK_SUMS = {
    "task_cpu_s": ("Executor CPU Time", 1e-9),
    "task_run_s": ("Executor Run Time", 1e-3),
    "gc_s": ("JVM GC Time", 1e-3),
    "spill_mb": ("Disk Bytes Spilled", 1 / 2**20),
}


def _zero_group() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "sched_wait_s": 0.0,
            "task_cpu_s": 0.0, "task_run_s": 0.0, "gc_s": 0.0,
            "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0,
            "spill_mb": 0.0, "peak_exec_mem_mb": 0.0,
            "rows_read": 0, "bytes_read_mb": 0.0, "rows_written": 0,
            "bytes_written_mb": 0.0}


def parse_event_log(lines) -> dict[str, dict]:
    """Aggregate a Spark JSON event log per job group.

    A task belongs to its stage, a stage to the job that submitted it and
    a job to the ``spark.jobGroup.id`` in its properties; jobs without a
    group land under ``""``. Per stage, the scheduler wait is the stage's
    wall (submission to completion) minus its longest task.
    """
    stage_group: dict[int, str] = {}
    stage_span: dict[int, tuple[int, int]] = {}
    longest_task: dict[int, int] = defaultdict(int)
    groups: dict[str, dict] = defaultdict(_zero_group)
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            groups[g]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                stage_span[info["Stage ID"]] = (info["Submission Time"],
                                                info["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            info = ev.get("Task Info", {})
            longest_task[sid] = max(longest_task[sid],
                                    info.get("Finish Time", 0)
                                    - info.get("Launch Time", 0))
            m = ev.get("Task Metrics")
            if not m:
                continue
            g = groups[stage_group.get(sid, "")]
            g["tasks"] += 1
            for key, (src, scale) in _TASK_SUMS.items():
                g[key] += m.get(src, 0) * scale
            sr = m.get("Shuffle Read Metrics", {})
            g["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0)) / 2**20
            sw = m.get("Shuffle Write Metrics", {})
            g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
            g["peak_exec_mem_mb"] = max(g["peak_exec_mem_mb"],
                                        m.get("Peak Execution Memory", 0) / 2**20)
            im = m.get("Input Metrics", {})
            g["rows_read"] += im.get("Records Read", 0)
            g["bytes_read_mb"] += im.get("Bytes Read", 0) / 2**20
            om = m.get("Output Metrics", {})
            g["rows_written"] += om.get("Records Written", 0)
            g["bytes_written_mb"] += om.get("Bytes Written", 0) / 2**20
    for sid, (lo, hi) in stage_span.items():
        g = groups[stage_group.get(sid, "")]
        g["stages"] += 1
        g["sched_wait_s"] += max(0, (hi - lo) - longest_task[sid]) / 1e3
    return dict(groups)
