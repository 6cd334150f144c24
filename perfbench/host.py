"""The host record every run carries, so a run on a degraded machine can
be recognised from its own record: a fixed numpy calibration loop, the
CPU steal the kernel reported during the run, core count, heap size and
the software versions."""

from __future__ import annotations

import hashlib
import platform
import statistics
import subprocess
import time
from pathlib import Path


def calibration_s_per_iter(iters: int = 3) -> float:
    """``((q-c)**2).sum(axis=2)`` over (2000,500,64) float32, the loop the
    repository's host anchoring uses; ~0.125 s/iter on a healthy host.
    Median seconds per iteration."""
    import numpy as np

    rng = np.random.default_rng(0)
    q = rng.standard_normal((2000, 1, 64)).astype(np.float32)
    c = rng.standard_normal((1, 500, 64)).astype(np.float32)
    times = []
    for _ in range(iters):
        t = time.perf_counter()
        ((q - c) ** 2).sum(axis=2)
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def cpu_ticks() -> dict[str, int]:
    """Aggregate /proc/stat CPU ticks (steal is time the hypervisor gave
    this machine's vCPUs to someone else)."""
    fields = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    with open("/proc/stat") as f:
        vals = f.readline().split()[1:9]
    return dict(zip(fields, map(int, vals)))


def tick_delta(before: dict[str, int], after: dict[str, int]) -> dict[str, float]:
    d = {k: after[k] - before[k] for k in before}
    total = sum(d.values()) or 1
    return {"steal_ticks": d["steal"], "steal_share": d["steal"] / total, "total_ticks": total}


def versions(root: Path) -> dict[str, str | None]:
    """Spark, Python, git commit and package digest; the measuring process
    adds the Java version its JVM reports."""
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=30
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    digest = hashlib.sha256()
    for p in sorted((root / "finance_pipeline_spark").rglob("*.py")):
        digest.update(p.relative_to(root).as_posix().encode())
        digest.update(p.read_bytes())
    return {
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "git_commit": commit,
        "package_sha256": digest.hexdigest(),
    }
