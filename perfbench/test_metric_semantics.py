"""Pins what the benchmark's derived metrics mean.

    python3 -m pytest perfbench/test_metric_semantics.py -q

- ``BENCHMARK.json`` lists exactly the metrics ``run.py`` reports;
- the tail-percentile rule behind ``read_tail_s``;
- ``spark.driver_gap_s`` plus the job-covered time equals the pass wall;
- ``python_worker.init_s`` and ``python_worker.run_s``, measured on
  synthetic ``mapInPandas`` UDFs of known cost. Both are summed over
  tasks. ``run_s`` is the whole task in the worker, deserializing the
  function included; ``init_s`` is a fixed per-task set-up cost plus
  that same deserialization. The two overlap, so Python-worker busy
  time is ``run_s`` alone.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

import pytest

import run
import tracing

TASKS = 4
BATCHES = 4  # Arrow batches per task
INIT_S = 0.8  # deserializing the function, per task
RUN_S = 0.3  # per batch


def test_benchmark_json_lists_what_run_reports():
    spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_tail_is_highest_percentile_with_ten_samples_above():
    values = [float(i) for i in range(1, 101)]  # 1..100
    pct, v = tracing.tail_percentile(values)
    assert v == 90.0 and pct == 90.0
    assert sum(1 for x in values if x > v) == 10
    pct, v = tracing.tail_percentile(list(reversed(values[:21])))
    assert (pct, v) == (pytest.approx(100 * 11 / 21), 11.0)


def test_tail_needs_more_than_ten_samples():
    assert tracing.tail_percentile([1.0] * 10) == (None, None)


def test_covered_seconds_merges_and_clips():
    ivals = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (9.0, 12.0)]
    assert tracing.covered_seconds(ivals, 0.5, 10.0) == pytest.approx(1.5 + 1.0 + 1.0 + 1.0)


class _SlowToUnpickle:
    """Unpickles as ``time.sleep(seconds)``: a function closing over one
    costs that long to deserialize in every task's Python worker."""

    def __init__(self, seconds: float) -> None:
        self.seconds = seconds

    def __reduce__(self):
        return (time.sleep, (self.seconds,))


def _kernel(init_s: float, run_s: float):
    slow = _SlowToUnpickle(init_s)

    def kernel(batches):
        _ = slow
        for pdf in batches:
            time.sleep(run_s)
            yield pdf

    return kernel


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    """Engine metrics of three windows: a UDF that is slow to start, a
    UDF that is slow to run, and two jobs with driver work between."""
    from pyspark.sql import SparkSession

    logs = tmp_path_factory.mktemp("eventlog")
    spark = (
        SparkSession.builder.master(f"local[{TASKS}]")
        .appName("perfbench-metric-semantics")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.eventLog.dir", f"file://{logs}")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
        .getOrCreate()
    )
    df = spark.range(0, 2 * BATCHES * TASKS, numPartitions=TASKS)
    windows = {}
    for name, kernel in (
        ("slow_init", _kernel(INIT_S, 0.0)),
        ("slow_run", _kernel(0.0, RUN_S)),
    ):
        df.mapInPandas(kernel, "id long").write.format("noop").mode("overwrite").save()  # warm
        lo = time.time()
        df.mapInPandas(kernel, "id long").write.format("noop").mode("overwrite").save()
        windows[name] = (lo, time.time())
    lo = time.time()
    spark.range(10).collect()
    time.sleep(1.0)  # driver-side work between two jobs
    spark.range(10).collect()
    windows["gap"] = (lo, time.time())
    spark.stop()
    jobs, stages = tracing.read_event_log(next(logs.iterdir()))
    return {
        name: (tracing.spark_pass_metrics(jobs, stages, lo, hi), hi - lo)
        for name, (lo, hi) in windows.items()
    }


def test_driver_gap_plus_job_time_is_pass_wall(traced):
    for m, wall in traced.values():
        assert m["spark.driver_gap_s"] + m["spark.job_covered_s"] == pytest.approx(wall, abs=1e-6)
    m, _ = traced["gap"]
    assert m["spark.driver_gap_s"] >= 1.0
    assert m["spark.jobs"] == 2


def test_python_run_timer_is_the_whole_task_in_the_worker(traced):
    """run_s sums, over tasks, the time the worker spent on the task:
    deserializing the function AND processing every batch."""
    init, _ = traced["slow_init"]
    run, _ = traced["slow_run"]
    assert TASKS * INIT_S <= init["python_worker.run_s"] <= TASKS * INIT_S * 1.6
    assert TASKS * BATCHES * RUN_S <= run["python_worker.run_s"] <= TASKS * BATCHES * RUN_S * 1.4
    assert run["python_worker.run_s"] == pytest.approx(run["spark.executor_run_s"], rel=0.1)


def test_python_init_timer_holds_deserialization_not_batches(traced):
    """init_s sums, over tasks, a fixed worker set-up cost plus the
    function's deserialization, and none of the batch processing. The
    deserialization is counted in both timers, so init_s + run_s
    overcounts: the busy time of Python workers is run_s alone."""
    init, _ = traced["slow_init"]
    run, _ = traced["slow_run"]
    extra = init["python_worker.init_s"] - run["python_worker.init_s"]
    assert TASKS * INIT_S * 0.8 <= extra <= TASKS * INIT_S * 1.6
    assert run["python_worker.init_s"] < 0.5 * TASKS * BATCHES * RUN_S
    for m in (init, run):
        assert m["python_worker.stages"] == 1
        assert m["python_worker.arrow_bytes_in"] > 0 and m["python_worker.arrow_bytes_out"] > 0
