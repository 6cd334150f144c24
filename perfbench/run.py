"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Generates the workload's inputs from
the seed under ``.perfbench_work/`` (removed afterwards), starts one
measuring process (``worker.py``) on ``local[N]`` with N = the host's
core count, checks every output, and prints the run's metrics as the
last line of stdout. The full record (host calibration, steal, versions,
per-pass figures, check failures) goes to stderr as one JSON line and to
``.perfbench_work/records/``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs with
spans and Spark's event log on and reports the per-layer metrics.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(1, str(ROOT))

DRIVER_MEM = "2g"  # pinned heap; the program's default (48g) overcommits small hosts
YOUNG_GEN = "256m"
RUN_TIMEOUT_S = 160  # the whole run must end within 180 s
READ_TAIL_BEYOND = 10

# Fixed input sizes. Never derived from elapsed time.
WAREHOUSE_LINEITEM = 120_000
CURATION_DOCS = 1_000
CURATION_VECS = 1_000

WORKLOADS = {
    "forex_day": {},
    "warehouse_sql": {
        "read": {"table": "orders", "order": [["o_totalprice", "desc"], ["o_orderkey", "asc"]],
                 "key": "o_orderkey"},
    },
    "curation_kernels": {
        "read": {"table": "documents", "order": [["n_chars", "desc"], ["doc_id", "asc"]],
                 "key": "doc_id"},
    },
}

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "read_p50_s": "s", "read_tail_s": "s",
    "stored_bytes_per_row": "B/row", "success_ratio": "ratio", "peak_rss_mb": "MB",
}
OPERATOR_MODULES = (
    "aggregates", "relational", "temporal", "warehouse", "skew",
    "dedup", "similarity", "multimodal", "textops",
)
SPAN_METRICS = [
    "sources.csv_source.read_s", "sources.rest_source.fetch_s", "sources.scrape_source.parse_s",
    "pipelines.api_pipeline.run_s", "pipelines.csv_pipeline.run_s",
    "pipelines.scrape_pipeline.run_s", "pipelines.sync.sync_s",
    "sinks.keyed_writer.append_s", "sinks.txn_table.upsert_s", "sinks.csv_sink.write_s",
    "sinks.rest_sink.post_s", "sinks.keyed_writer.top_rows_s", "sinks.txn_table.read_s",
] + [f"operators.{m}.{k}" for m in OPERATOR_MODULES for k in ("plan_s", "exec_s")]
COUNT_METRICS = [
    "pipelines.sync.rows", "sinks.files_written", "sinks.table_files",
    "sinks.txn_table.files_rewritten",
]
SPARK_METRICS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_gap_s": "s", "spark.single_task_stages": "count",
    "spark.tasks_per_stage_median": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.scan_s": "s", "spark.shuffle_write_bytes": "B",
    "spark.shuffle_fetch_wait_s": "s", "spark.gc_s": "s", "spark.spill_bytes": "B",
    "python_worker.boot_s": "s", "python_worker.init_s": "s", "python_worker.run_s": "s",
    "python_worker.stages": "count", "python_worker.arrow_bytes_in": "B",
    "python_worker.arrow_bytes_out": "B",
}
PER_LAYER = {
    "session.start_s": "s", "registry.load_s": "s", "setup.warm_pass_s": "s",
    **{m: "s" for m in SPAN_METRICS},
    **{m: "count" for m in COUNT_METRICS},
    "sinks.keyed_writer.insert_ratio": "ratio",
    **SPARK_METRICS,
    "trace.overhead_ratio": "ratio",
}


def fail(msg: str, code: int = 2) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return code


# -- inputs ----------------------------------------------------------------


def make_inputs(workload: str, seed: int, inputs: Path) -> dict:
    """Writes the workload's inputs; returns what the measuring process
    needs to know about them (expected outcomes, query list, read)."""
    import numpy as np

    import inputs as gen
    import workloads as W

    rng = np.random.default_rng(seed)
    inputs.mkdir(parents=True)
    if workload == "forex_day":
        today = dt.datetime.now(dt.timezone.utc).date()
        return {"expect": gen.write_forex(inputs, rng, today)}
    if workload == "warehouse_sql":
        gen.write_warehouse(inputs, rng, WAREHOUSE_LINEITEM)
        names = W.WAREHOUSE_QUERIES
    else:
        gen.write_curation(inputs, rng, CURATION_DOCS, CURATION_VECS)
        names = W.CURATION_QUERIES
    read = dict(WORKLOADS[workload]["read"])
    order = ", ".join(f"{c} {d}" for c, d in read["order"])
    with duck(inputs) as con:
        read["top"] = [
            r[0] for r in con.execute(
                f"SELECT {read['key']} FROM {read['table']} ORDER BY {order} LIMIT 10"
            ).fetchall()
        ]
    return {"queries": names, "read": read}


@contextmanager
def duck(inputs: Path):
    """A DuckDB connection with one view per generated table."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for p in sorted(inputs.glob("*.parquet")):
            con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}/*.parquet')")
        yield con
    finally:
        con.close()


def oracle_checks(inputs: Path, names: list[str], results_path: Path) -> tuple[int, int, list[str]]:
    """Compares each warm-pass result with the query's DuckDB oracle on
    the same files. Returns (attempted, failed, errors)."""
    from canon import canon_rows, first_difference

    from finance_pipeline_spark import registry

    registry.load_all()
    got = json.loads(results_path.read_text()) if results_path.exists() else {}
    attempted = failed = 0
    errors = []
    with duck(inputs) as con:
        for name in names:
            if name not in got:
                continue  # the measuring process already counted the failure
            attempted += 1
            try:
                want = json.loads(json.dumps(canon_rows(con.execute(
                    registry.QUERIES[name].oracle_text()).fetchdf())))
                diff = first_difference(got[name], want)
            except Exception as e:  # noqa: BLE001 — an oracle error fails the check
                diff = f"oracle error: {e}"
            if diff is not None:
                failed += 1
                errors.append(f"{name}: spark vs oracle: {diff}"[:2000])
    return attempted, failed, errors


# -- the measuring process ---------------------------------------------------


def spark_env(work: Path, trace: bool, ncpu: int) -> dict[str, str]:
    env = dict(os.environ)
    local, tmp = work / "spark-local", work / "tmp"
    local.mkdir()
    tmp.mkdir()
    env.update({
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # few malloc arenas: the JVM's native peak (JIT compiler threads)
        # otherwise varies by hundreds of MB between identical runs
        "MALLOC_ARENA_MAX": "2",
    })
    # a fixed young generation keeps the JVM's peak RSS from following
    # the collector's adaptive sizing run to run
    confs = [f"spark.driver.extraJavaOptions=-Xmn{YOUNG_GEN}"]
    if trace:
        logs = work / "eventlog"
        logs.mkdir()
        confs += [
            "spark.eventLog.enabled=true", "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false", f"spark.eventLog.dir=file://{logs}",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {shlex.quote(c)}" for c in confs] + ["pyspark-shell"]
    )
    return env


def session_pids(sid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                if int(fields[3]) == sid and fields[0] != "Z":
                    out.append(int(d))
            except (OSError, IndexError, ValueError):
                continue
    return out


def stop_session(sid: int) -> None:
    """Ends every process the measuring process left behind (its JVM,
    Python workers) and waits until none remains."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        pids = session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + grace
        while session_pids(sid) and time.time() < deadline:
            time.sleep(0.1)


def run_worker(spec: dict, work: Path, env: dict, timeout: float) -> dict | None:
    spec_path = work / "spec.json"
    with open(work / "worker.log", "w") as log:
        spec["spawn_time"] = time.time()
        spec_path.write_text(json.dumps(spec))
        proc = subprocess.Popen(
            [sys.executable, str(HERE / "worker.py"), str(spec_path)],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            print("perfbench: measuring process timed out", file=sys.stderr)
        finally:
            stop_session(proc.pid)
            proc.wait()
    record = Path(spec["record"])
    if proc.returncode != 0 or not record.exists():
        tail = (work / "worker.log").read_text()[-4000:]
        print(f"perfbench: measuring process failed ({proc.returncode}):\n{tail}", file=sys.stderr)
        return None
    return json.loads(record.read_text())


# -- metrics -------------------------------------------------------------------


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(rec: dict, attempted: int, failed: int, stored: float) -> tuple[dict, dict]:
    from tracing import tail_percentile

    walls = [p["wall_s"] for p in rec["passes"]]
    reads = rec["read_latencies"]
    pct, tail = tail_percentile(reads, READ_TAIL_BEYOND)
    # no successful read means the run failed its checks; 0 keeps the
    # line valid JSON
    m = {
        "setup_s": rec["setup_s"],
        "pass_s": statistics.median(walls),
        "read_p50_s": statistics.median(reads) if reads else 0.0,
        "read_tail_s": tail if tail is not None else max(reads, default=0.0),
        "stored_bytes_per_row": stored,
        "success_ratio": (attempted - failed) / attempted,
        "peak_rss_mb": sum(rec["peak_rss_kb"].values()) / 1024.0,
    }
    notes = {
        "passes": len(walls), "read_samples": len(reads),
        "read_tail_percentile": pct if pct is not None else 100.0,
    }
    return {k: metric(v, END_TO_END[k]) for k, v in m.items()}, notes


def per_layer(rec: dict, work: Path) -> dict:
    import tracing

    traced = [p for p in rec["passes"] if p["traced"]]
    plain = [p["wall_s"] for p in rec["passes"] if not p["traced"]]
    logs = list((work / "eventlog").iterdir())
    jobs, stages = tracing.read_event_log(logs[0])
    per_pass: list[dict[str, float]] = []
    counts: dict[int, dict[str, float]] = {}
    for pid, name, v in rec["trace"]["counts"]:
        counts.setdefault(pid, {})[name] = v
    for p in traced:
        vals = {m: 0.0 for m in PER_LAYER}
        vals.update(tracing.span_totals(rec["trace"]["spans"], p["id"]))
        c = counts.get(p["id"], {})
        vals.update({k: v for k, v in c.items() if k in PER_LAYER})
        attempted = c.get("insert.attempted", 0.0)
        vals["sinks.keyed_writer.insert_ratio"] = c.get("insert.inserted", 0.0) / attempted if attempted else 0.0
        vals.update({k: v for k, v in tracing.spark_pass_metrics(jobs, stages, p["start"], p["end"]).items()
                     if k in PER_LAYER})
        per_pass.append(vals)
    out = {k: statistics.median(v[k] for v in per_pass) for k in PER_LAYER}
    out.update({k: rec["phases"][k] for k in ("session.start_s", "registry.load_s", "setup.warm_pass_s")})
    out["trace.overhead_ratio"] = statistics.median(p["wall_s"] for p in traced) / statistics.median(plain)
    return {k: metric(v, PER_LAYER[k]) for k, v in out.items()}


def stored_bytes_per_row(rec: dict, inputs: Path) -> float:
    """forex_day: the warehouse as the last pass left it. Query workloads
    write nothing; their figure is the stored size of the input tables
    they scan, per row."""
    if "stored_bytes_per_row" in rec:
        return rec["stored_bytes_per_row"]
    import pyarrow.parquet as pq

    files = sorted(inputs.glob("*.parquet/*.parquet"))
    return sum(f.stat().st_size for f in files) / sum(pq.ParquetFile(f).metadata.num_rows for f in files)


# -- main ------------------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.time()
    if not (ROOT / "finance_pipeline_spark" / "__init__.py").is_file():
        return fail(f"no finance_pipeline_spark package under {ROOT}; run from a full checkout")

    import host

    ncpu = len(os.sched_getaffinity(0))
    base = ROOT / ".perfbench_work"
    work = base / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        inputs = work / "inputs"
        info = make_inputs(args.workload, args.seed, inputs)
        calibration = host.calibration_s_per_iter()
        ticks0 = host.cpu_ticks()
        spec = {
            "workload": args.workload, "seconds": args.seconds, "trace": args.trace,
            "inputs": str(inputs), "work": str(work), "record": str(work / "worker.json"), **info,
        }
        env = spark_env(work, bool(args.trace), ncpu)
        rec = run_worker(spec, work, env, RUN_TIMEOUT_S - (time.time() - started))
        if rec is None:
            return 1
        ticks = host.tick_delta(ticks0, host.cpu_ticks())
        attempted, failed, errors = rec["attempted"], rec["failed"], list(rec["errors"])
        if "queries" in info:
            a, f, e = oracle_checks(inputs, info["queries"], work / "warm_results.json")
            attempted, failed, errors = attempted + a, failed + f, errors + e
        e2e, notes = end_to_end(rec, attempted, failed, stored_bytes_per_row(rec, inputs))
        metrics = per_layer(rec, work) if args.trace else e2e
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "client": "one client, closed loop",
            "end_to_end": e2e, **notes, "pass_walls_s": [p["wall_s"] for p in rec["passes"]],
            "read_latencies_s": rec["read_latencies"],
            "phases": rec["phases"], "peak_rss_kb": rec["peak_rss_kb"], "errors": errors[:20],
            "host": {
                "cores": ncpu, "master": f"local[{ncpu}]", "driver_heap": DRIVER_MEM,
                "calibration_s_per_iter": calibration, **ticks, **host.versions(ROOT),
                "java": rec["java"],
            },
            "noise_hygiene": {
                "driver_heap_pinned": DRIVER_MEM, "young_generation_pinned": YOUNG_GEN,
                "malloc_arena_max": 2,
                "fresh_spark_local_dirs_and_tmpdir": True,
                "readstream_queries_excluded": True,
                "input_sizes_fixed": {
                    "warehouse_lineitem": WAREHOUSE_LINEITEM,
                    "curation_docs": CURATION_DOCS, "curation_vecs": CURATION_VECS,
                },
                "forex_state_restored_before_every_pass": True,
            },
        }
        if args.trace:
            record["per_layer"] = metrics
            record["spans"] = rec["trace"]["spans"]
        line = json.dumps(record, default=str)
        print(line, file=sys.stderr)
        (base / "records").mkdir(exist_ok=True)
        (base / "records" / f"{work.name}.json").write_text(line)
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
