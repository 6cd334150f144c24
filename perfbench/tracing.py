"""In-memory spans around calls into the program's public functions,
and the per-layer figures derived from them and from Spark's event log.

Spans are recorded from the benchmark's side only: ``Tracer.instrument``
swaps a module attribute (or class method) for a timing wrapper inside
the measuring process; the program's files are not touched. Spark's own
job, stage and task records come from the event log, which the traced
run switches on through launch settings.
"""

from __future__ import annotations

import functools
import importlib
import json
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

PKG = "finance_pipeline_spark"


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float
    parent: int | None
    pass_id: int


@dataclass
class Tracer:
    """Records spans while ``active``; a pass id groups them."""

    active: bool = False
    pass_id: int = -1
    spans: list[Span] = field(default_factory=list)
    counts: dict[tuple[int, str], float] = field(default_factory=dict)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, self._stack[-1] if self._stack else None, self.pass_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def count(self, name: str, value: float) -> None:
        if self.active:
            key = (self.pass_id, name)
            self.counts[key] = self.counts.get(key, 0.0) + value

    def instrument(self, targets: list[tuple[str, str, str]]) -> None:
        """``targets``: (module, attribute, span name); ``attribute`` may
        be ``Class.method``. Every loaded package module that imported
        the original function by name gets the wrapper too."""
        for mod_name, attr, span_name in targets:
            mod = importlib.import_module(mod_name)
            owner, _, leaf = attr.rpartition(".")
            holder = getattr(mod, owner) if owner else mod
            original = getattr(holder, leaf)
            wrapped = self._wrap(original, span_name)
            setattr(holder, leaf, wrapped)
            if owner:
                continue
            for name, m in list(sys.modules.items()):
                if name.startswith(PKG) and m is not None and getattr(m, leaf, None) is original:
                    setattr(m, leaf, wrapped)

    def _wrap(self, fn, span_name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(span_name):
                return fn(*args, **kwargs)

        return wrapper

    def to_json(self) -> dict:
        return {
            "spans": [s.__dict__ for s in self.spans],
            "counts": [[p, n, v] for (p, n), v in self.counts.items()],
        }


# -- reading Spark's event log -------------------------------------------

PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
SCAN_TIME = "scan time"


@dataclass
class Job:
    job_id: int
    start: float
    end: float
    stages: list[int]
    group: str | None


@dataclass
class Stage:
    stage_id: int
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: float = 0.0
    fetch_wait_ms: float = 0.0
    spill_bytes: float = 0.0
    acc: dict[str, float] = field(default_factory=dict)


def read_event_log(path: Path) -> tuple[list[Job], dict[int, Stage]]:
    """Jobs (with their stage ids and job group) and per-stage task sums.
    Task-level accumulator updates are summed by name, which is how SQL
    metrics such as the Python-worker timers reach the log."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], ev["Submission Time"] / 1000.0, 0.0,
                    list(ev.get("Stage IDs", [])), props.get("spark.jobGroup.id"),
                )
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
                st.tasks += 1
                m = ev.get("Task Metrics") or {}
                st.run_ms += m.get("Executor Run Time", 0)
                st.cpu_ns += m.get("Executor CPU Time", 0)
                st.gc_ms += m.get("JVM GC Time", 0)
                st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                st.fetch_wait_ms += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)
                for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                    name, upd = a.get("Name"), a.get("Update")
                    if name and isinstance(upd, (int, float, str)):
                        try:
                            st.acc[name] = st.acc.get(name, 0.0) + float(upd)
                        except ValueError:
                            pass
    return sorted(jobs.values(), key=lambda j: j.start), stages


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
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


def spark_pass_metrics(
    jobs: list[Job], stages: dict[int, Stage], lo: float, hi: float
) -> dict[str, float]:
    """Engine figures for one pass: the jobs submitted inside [lo, hi]
    (one client, so no other pass overlaps) and their stages."""
    mine = [j for j in jobs if lo <= j.start <= hi]
    # a stage reused by a later job is skipped there and has no tasks
    # of its own, but its id is listed by both jobs: count it once
    st = [stages[s] for s in sorted({s for j in mine for s in j.stages}) if s in stages]
    covered = covered_seconds([(j.start, j.end or hi) for j in mine], lo, hi)
    py = [s for s in st if s.acc.get(PY_BOOT, 0) + s.acc.get(PY_INIT, 0) + s.acc.get(PY_RUN, 0) > 0]
    tasks = [s.tasks for s in st]

    def acc(name: str) -> float:
        return sum(s.acc.get(name, 0.0) for s in st)

    return {
        "spark.jobs": len(mine),
        "spark.stages": len(st),
        "spark.tasks": sum(tasks),
        "spark.driver_gap_s": (hi - lo) - covered,
        "spark.job_covered_s": covered,
        "spark.single_task_stages": sum(1 for t in tasks if t == 1),
        "spark.tasks_per_stage_median": statistics.median(tasks) if tasks else 0.0,
        "spark.executor_run_s": sum(s.run_ms for s in st) / 1e3,
        "spark.executor_cpu_s": sum(s.cpu_ns for s in st) / 1e9,
        "spark.scan_s": acc(SCAN_TIME) / 1e3,
        "spark.shuffle_write_bytes": sum(s.shuffle_write_bytes for s in st),
        "spark.shuffle_fetch_wait_s": sum(s.fetch_wait_ms for s in st) / 1e3,
        "spark.gc_s": sum(s.gc_ms for s in st) / 1e3,
        "spark.spill_bytes": sum(s.spill_bytes for s in st),
        "python_worker.boot_s": acc(PY_BOOT) / 1e3,
        "python_worker.init_s": acc(PY_INIT) / 1e3,
        "python_worker.run_s": acc(PY_RUN) / 1e3,
        "python_worker.stages": len(py),
        "python_worker.arrow_bytes_in": acc(PY_SENT),
        "python_worker.arrow_bytes_out": acc(PY_RECV),
    }


def span_totals(spans: list[dict], pass_id: int) -> dict[str, float]:
    """Summed duration per span name within one pass."""
    out: dict[str, float] = {}
    for s in spans:
        if s["pass_id"] == pass_id:
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"])
    return out


def tail_percentile(values: list[float], beyond: int = 10) -> tuple[float | None, float | None]:
    """The highest percentile with at least ``beyond`` samples above it:
    (percentile, value) of the sorted sample at rank n - beyond - 1, or
    (None, None) when there are not more than ``beyond`` samples."""
    n = len(values)
    if n <= beyond:
        return None, None
    k = n - beyond - 1
    return 100.0 * (k + 1) / n, sorted(values)[k]
