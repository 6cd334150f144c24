"""The measuring process: one SparkSession, one client issuing passes in
a closed loop. Started by ``run.py`` with the path of a spec file; writes
its raw record (pass walls, spans, checks, peak RSS) next to it.

Set-up time runs from the moment ``run.py`` spawned this process to the
first timed job, less the snapshot restores (benchmark bookkeeping).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import workloads as W  # noqa: E402
from tracing import Tracer  # noqa: E402


def tree_peak_rss_kb(root: int, peaks: dict[int, int]) -> None:
    """Fold the current VmHWM of ``root`` and all its descendants (the
    JVM, the Python worker daemon and its workers) into ``peaks``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    todo = [root]
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peaks[pid] = max(peaks.get(pid, 0), int(line.split()[1]))
        except OSError:
            continue


def _comm(pid: int) -> str:
    try:
        return Path(f"/proc/{pid}/comm").read_text().strip()
    except OSError:
        return "exited"


def main(spec_path: str) -> int:
    spec = json.loads(Path(spec_path).read_text())
    spawned = spec["spawn_time"]
    out: dict = {"passes": [], "phases": {}}
    tracer = Tracer()
    outcome = W.Outcome()
    peaks: dict[int, int] = {}

    t = time.time()
    from finance_pipeline_spark import registry
    from finance_pipeline_spark.session import get_session

    out["phases"]["import_s"] = time.time() - t
    t = time.time()
    spark = get_session("perfbench")
    out["phases"]["session.start_s"] = time.time() - t
    t = time.time()
    registry.load_all()
    out["phases"]["registry.load_s"] = time.time() - t

    cls = W.ForexWorkload if spec["workload"] == "forex_day" else W.QueryWorkload
    workload = cls(spark, spec, tracer, outcome)
    if spec["trace"]:
        tracer.instrument(workload.spans())
    bookkeeping = 0.0
    t = time.time()
    workload.reset()
    bookkeeping += time.time() - t

    t = time.time()
    workload.warm_pass()
    workload.check()
    workload.inspect()
    workload.read_latencies.clear()
    out["phases"]["setup.warm_pass_s"] = time.time() - t
    t = time.time()
    workload.reset()
    bookkeeping += time.time() - t

    # timed loop: passes back to back, each followed by its (untimed)
    # checks and reads; a pass starts only when a typical cycle still
    # fits in the run's seconds. In a traced run, traced and untraced
    # passes alternate so their ratio is the tracing overhead.
    first = time.time()
    out["setup_s"] = first - spawned - bookkeeping
    min_passes = 2 if spec["trace"] else 1
    cycles: list[float] = []
    while True:
        pass_id = len(cycles)
        traced = bool(spec["trace"]) and pass_id % 2 == 0
        tracer.active, tracer.pass_id = traced, pass_id
        t0 = time.time()
        p0 = time.perf_counter()
        workload.timed_pass()
        wall = time.perf_counter() - p0
        t1 = time.time()
        workload.check()
        tracer.active = False
        workload.inspect()
        workload.reset()
        tree_peak_rss_kb(os.getpid(), peaks)
        out["passes"].append({"id": pass_id, "traced": traced, "start": t0, "end": t1, "wall_s": wall})
        cycles.append(time.time() - t0)
        if len(cycles) >= min_passes and time.time() + statistics.median(cycles) > first + spec["seconds"]:
            break

    out.update(workload.final())
    out["attempted"], out["failed"], out["errors"] = outcome.attempted, outcome.failed, outcome.errors
    out["trace"] = tracer.to_json()
    jvm = spark.sparkContext._jvm.java.lang.System
    out["java"] = f"{jvm.getProperty('java.vm.name')} {jvm.getProperty('java.version')}"
    tree_peak_rss_kb(os.getpid(), peaks)
    out["peak_rss_kb"] = {f"{_comm(k)}:{k}": v for k, v in peaks.items()}
    spark.stop()
    Path(spec["record"]).write_text(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1]))
