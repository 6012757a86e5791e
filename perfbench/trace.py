"""Spans, layer wrappers, self times and event-log totals for the
traced run.

Spans are kept in memory (name, start, end, parent, context id) and
written out once at the end. Layer wrappers replace a module's public
function with a timing wrapper; they are installed before the query
modules are imported, so ``from module import fn`` binds the wrapper.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# (module, public function) pairs timed in the traced run
LAYER_FUNCTIONS = (
    ("hello_flink_spark.operators.graph", "connected_components"),
    ("hello_flink_spark.operators.banded_dedup", "banded_candidates"),
    ("hello_flink_spark.operators.scale", "spread_small_scan"),
    ("hello_flink_spark.sources.readers", "load_table"),
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    ctx: str
    jobs: int = 0


class Tracer:
    """In-memory span recorder. ``jobs_in_group``, once set, returns the
    Spark job ids of a job group, so each span also counts the jobs
    launched in the current group while it was open."""

    def __init__(self):
        self.spans: list[Span] = []
        self.enabled = False
        self.ctx = ""
        self.group = None
        self._stack: list[int] = []
        self.jobs_in_group = None

    def _jobs(self) -> set:
        if self.jobs_in_group is None or self.group is None:
            return set()
        return set(self.jobs_in_group(self.group))

    @contextmanager
    def span(self, name: str):
        """Record a span around the block and yield it (None while
        disabled); its ``end`` is set when the block exits."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        before = self._jobs()
        span = Span(name, time.perf_counter(), 0.0, parent, self.ctx)
        self.spans.append(span)
        self._stack.append(idx)
        try:
            yield span
        finally:
            self._stack.pop()
            span.end = time.perf_counter()
            span.jobs = len(self._jobs() - before)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        """Replace each ``module.fn`` with a timing wrapper. Must run
        before the query modules are imported."""
        import importlib

        for mod_name, fn_name in LAYER_FUNCTIONS:
            mod = importlib.import_module(mod_name)
            label = mod_name.removeprefix("hello_flink_spark.") + "." + fn_name
            setattr(mod, fn_name, self.wrap(getattr(mod, fn_name), label))

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, fh)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (children may overlap each other)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children[i]):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s.end - s.start) - covered)
    return out


def layer_totals(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per span name: calls, total seconds, self seconds and jobs."""
    selfs = self_times(spans)
    tot: dict[str, dict[str, float]] = defaultdict(
        lambda: {"calls": 0, "s": 0.0, "self_s": 0.0, "jobs": 0}
    )
    for s, self_s in zip(spans, selfs):
        t = tot[s.name]
        t["calls"] += 1
        t["s"] += s.end - s.start
        t["self_s"] += self_s
        t["jobs"] += s.jobs
    return dict(tot)


# SQL metrics of the Python exec nodes, as named among a task's
# accumulables in the event log, and the metric each adds to
PYTHON_ACCUMULABLES = {
    "data sent to Python workers": "python.bytes_to_worker",
    "data returned from Python workers": "python.bytes_from_worker",
    "time to run Python workers": "python.run_ms",
}


def eventlog_totals(path: str, groups: set[str]) -> dict[str, float]:
    """Sum task metrics from a Spark event log, restricted to jobs whose
    job group is in ``groups``.

    ``spark.task_skew`` is the median over stages (with >= 2 tasks) of
    the slowest task's run time over the median task's."""
    stage_group: dict[int, str | None] = {}
    stage_runs: dict[int, list[float]] = defaultdict(list)
    tot = defaultdict(float)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev.get("Stage IDs", ()):
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                sid = ev.get("Stage ID")
                if stage_group.get(sid) not in groups:
                    continue
                m = ev.get("Task Metrics") or {}
                run_ms = m.get("Executor Run Time", 0)
                stage_runs[sid].append(run_ms)
                tot["spark.executor_run_s"] += run_ms / 1000.0
                tot["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                sr = m.get("Shuffle Read Metrics") or {}
                tot["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = m.get("Shuffle Write Metrics") or {}
                tot["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                tot["spark.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                    metric = PYTHON_ACCUMULABLES.get(acc.get("Name"))
                    if metric:
                        tot[metric] += float(acc.get("Update") or 0)
    skews = [
        max(runs) / max(statistics.median(runs), 1.0)
        for runs in stage_runs.values()
        if len(runs) >= 2
    ]
    tot["spark.task_skew"] = statistics.median(skews) if skews else 1.0
    return dict(tot)
