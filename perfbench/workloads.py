"""The three workloads, as seen from the measuring process: what one
pass does, what the untimed warm pass checks, and which public calls
get spans in a traced run.

Each workload object runs inside a live SparkSession and reports every
operation it attempts as correct or not; a failed check is recorded,
never raised, so ``success_ratio`` counts it.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

from canon import canon_rows

# One or two queries per operator module: a pass must stay short enough
# for every run, set-up included, to fit the benchmark's time budget.
WAREHOUSE_QUERIES = [
    "agg_pricing_summary", "win_rank_family", "u2_anti_join", "o1_topk_multikey",
    "join_asof", "merge_upsert_orders", "join_skew_enrich",
]
CURATION_QUERIES = ["ann_pq_topk", "mm_decode_jpeg", "dedup_ngram_jaccard", "text_bpe_encode"]

TXN_KEYS = ["currency", "timestamptz"]
P = "finance_pipeline_spark"
FOREX_SPANS = [
    (f"{P}.sources.csv_source", "read_csv", "sources.csv_source.read_s"),
    (f"{P}.sources.rest_source", "fetch_rates", "sources.rest_source.fetch_s"),
    (f"{P}.sources.scrape_source", "parse_page", "sources.scrape_source.parse_s"),
    (f"{P}.pipelines.api_pipeline", "run_api_process", "pipelines.api_pipeline.run_s"),
    (f"{P}.pipelines.csv_pipeline", "run_csv_loading_process", "pipelines.csv_pipeline.run_s"),
    (f"{P}.pipelines.scrape_pipeline", "run_web_scrapping_process", "pipelines.scrape_pipeline.run_s"),
    (f"{P}.pipelines.sync", "sync_data", "pipelines.sync.sync_s"),
    (f"{P}.sinks.keyed_writer", "idempotent_append", "sinks.keyed_writer.append_s"),
    (f"{P}.sinks.txn_table", "TxnKeyedTable.upsert", "sinks.txn_table.upsert_s"),
    (f"{P}.sinks.csv_sink", "write_append", "sinks.csv_sink.write_s"),
    (f"{P}.sinks.csv_sink", "write_overwrite", "sinks.csv_sink.write_s"),
    (f"{P}.sinks.csv_sink", "write_merge_dedup", "sinks.csv_sink.write_s"),
    (f"{P}.sinks.rest_sink", "post_records", "sinks.rest_sink.post_s"),
]


class Outcome:
    """Attempted/failed operation counts plus the first few failures."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, ok: bool, what: str, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(f"{what}: {detail}"[:2000])
            print(f"[perfbench] check failed: {what}: {detail}"[:2000], file=sys.stderr)
        return ok


def _job_group(spark, tracer, name: str) -> None:
    if tracer.active:
        spark.sparkContext.setJobGroup(f"pb{tracer.pass_id}:{name}", name)


READS_PER_PASS = 12


def _top_keys(spark, path: str, order: list[list[str]], key: str) -> list:
    """The reference's inspection query (top 10 by ``order``), collected."""
    from pyspark.sql import functions as F

    from finance_pipeline_spark.sinks.keyed_writer import top_rows

    cols = [getattr(F.col(c), direction)() for c, direction in order]
    return [r[key] for r in top_rows(spark, path, cols).collect()]


class QueryWorkload:
    """Every listed query once per pass, forced with a ``noop`` write;
    the warm pass collects each result for the oracle comparison. After
    each pass, outside its timer, the inspection read runs on the main
    input table: the read-latency sample of these workloads."""

    def __init__(self, spark, spec: dict, tracer, outcome: Outcome) -> None:
        from finance_pipeline_spark import registry

        self.spark, self.tracer, self.outcome = spark, tracer, outcome
        self.sf_dir = spec["inputs"]
        self.names = spec["queries"]
        self.specs = {n: registry.QUERIES[n] for n in self.names}
        streaming = [n for n, q in self.specs.items() if "readstream" in q.tags]
        if streaming:
            # they stage inputs under the checkout's .cache/ and sleep
            # between micro-batches: neither belongs in a timed pass
            raise ValueError(f"readstream queries cannot be benchmarked: {streaming}")
        self.results_path = Path(spec["work"]) / "warm_results.json"
        self.read = spec["read"]
        self.read_latencies: list[float] = []

    @staticmethod
    def spans() -> list:
        return []

    def warm_pass(self) -> None:
        results = {}
        for name in self.names:
            try:
                pdf = self.specs[name].fn(self.spark, self.sf_dir).toPandas()
                results[name] = canon_rows(pdf)
            except Exception:  # noqa: BLE001 — a failing query is a measured outcome
                self.outcome.record(False, name, traceback.format_exc(limit=3))
        # the oracle comparison happens in the orchestrator, which owns
        # DuckDB; it records one operation per query from this file
        self.results_path.write_text(json.dumps(results))

    def timed_pass(self) -> None:
        for name in self.names:
            module = self.specs[name].fn.__module__.rsplit(".", 1)[-1]
            _job_group(self.spark, self.tracer, name)
            try:
                with self.tracer.span(f"operators.{module}.plan_s"):
                    df = self.specs[name].fn(self.spark, self.sf_dir)
                with self.tracer.span(f"operators.{module}.exec_s"):
                    df.write.format("noop").mode("overwrite").save()
                self.outcome.record(True, name)
            except Exception:  # noqa: BLE001
                self.outcome.record(False, name, traceback.format_exc(limit=3))

    def check(self) -> None:
        pass

    def inspect(self) -> None:
        r = self.read
        for _ in range(READS_PER_PASS):
            t0 = time.perf_counter()
            try:
                got = _top_keys(self.spark, f"{self.sf_dir}/{r['table']}.parquet", r["order"], r["key"])
            except Exception:  # noqa: BLE001
                self.outcome.record(False, "inspection read", traceback.format_exc(limit=3))
                continue
            took = time.perf_counter() - t0
            if self.outcome.record(got == r["top"], "inspection read", f"{got} != {r['top']}"):
                self.read_latencies.append(took)

    def reset(self) -> None:
        pass

    def final(self) -> dict:
        return {"read_latencies": self.read_latencies}


class ForexWorkload:
    """One simulated day of the paper's ETL against a warehouse restored
    to the same seeded snapshot before every pass (outside the timer), so
    every pass does the same work: three keyed loads with their syncs,
    one transactional upsert, then the inspection reads."""

    def __init__(self, spark, spec: dict, tracer, outcome: Outcome) -> None:
        self.spark, self.tracer, self.outcome = spark, tracer, outcome
        self.inputs = Path(spec["inputs"])
        self.expect = spec["expect"]
        self.day = dt.date.fromisoformat(self.expect["date"])
        work = Path(spec["work"])
        self.live, self.processed, self.spool = work / "live", work / "processed", work / "spool"
        self.read_latencies: list[float] = []
        self.files_before: set[str] = set()
        self.stored_bytes_per_row = 0.0

    @staticmethod
    def spans() -> list:
        return FOREX_SPANS

    # -- state ---------------------------------------------------------

    def reset(self) -> None:
        """Restores the warehouse snapshot and empties the CSV and sync
        outputs, so the next pass starts from the same state."""
        for d in (self.live, self.processed, self.spool):
            shutil.rmtree(d, ignore_errors=True)
        shutil.copytree(self.inputs / "snapshot", self.live)
        self.processed.mkdir()
        self.spool.mkdir()
        self.files_before = set(self._data_files())

    def _data_files(self) -> list[str]:
        out = []
        for root in (self.live, self.processed):
            for dirpath, dirnames, files in os.walk(root):
                dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
                out += [
                    os.path.join(dirpath, f) for f in files
                    if f.endswith((".parquet", ".csv")) and not f.startswith((".", "_"))
                ]
        return out

    # -- one pass ------------------------------------------------------

    def warm_pass(self) -> None:
        self._run(record_reads=False)

    def timed_pass(self) -> None:
        self._run(record_reads=True)

    def _run(self, record_reads: bool) -> None:
        from finance_pipeline_spark.pipelines import (
            run_api_process,
            run_csv_loading_process,
            run_web_scrapping_process,
        )
        from finance_pipeline_spark.pipelines.config import PipelineConfig
        from finance_pipeline_spark.sinks.rest_sink import SpoolTransport
        from finance_pipeline_spark.sources.rest_source import file_fetcher

        o, e = self.outcome, self.expect
        o.record(_utc_today() == self.day, "run date", f"UTC date moved off {self.day}")
        conf = PipelineConfig(
            warehouse_dir=str(self.live),
            processed_dir=str(self.processed),
            raw_csv_path=str(self.inputs / "history.csv"),
            fetch_json=file_fetcher(self.inputs / "frankfurter.json"),
            fetch_html=file_fetcher(self.inputs / "xrates.html"),
            sync_transport=SpoolTransport(str(self.spool)),
        )
        for key, run in (
            ("api", run_api_process),
            ("scrape", run_web_scrapping_process),
            ("csv", run_csv_loading_process),
        ):
            _job_group(self.spark, self.tracer, key)
            stats = self._call(key, run, self.spark, conf)
            if stats is not None:
                got = {"inserted": stats.inserted, "skipped": stats.skipped}
                o.record(got == e[key], f"{key} load counts", f"{got} != {e[key]}")
                self.tracer.count("insert.inserted", stats.inserted)
                self.tracer.count("insert.attempted", stats.inserted + stats.skipped)
        _job_group(self.spark, self.tracer, "upsert")
        up = self._call("upsert", self._upsert)
        if up is not None:
            got = {"inserted": up.inserted, "updated": up.updated}
            want = {k: e["upsert"][k] for k in got}
            o.record(got == want, "upsert counts", f"{got} != {want}")
        for _ in range(READS_PER_PASS):
            _job_group(self.spark, self.tracer, "read")
            t0 = time.perf_counter()
            ok = self._call("inspection read", self._inspect) is True
            if record_reads and ok:
                self.read_latencies.append(time.perf_counter() - t0)

    def _call(self, what: str, fn, *args):
        try:
            return fn(*args)
        except Exception:  # noqa: BLE001 — a failing call is a measured outcome
            self.outcome.record(False, what, traceback.format_exc(limit=4))
            return None

    def _upsert(self):
        from finance_pipeline_spark.sinks.txn_table import TxnKeyedTable

        table = TxnKeyedTable(self.spark, str(self.live / "forex_rates_txn"), TXN_KEYS)
        return table.upsert(self.spark.read.parquet(str(self.inputs / "revisions.parquet")))

    def _inspect(self) -> bool:
        """The reference's top-10 query plus a date-bounded snapshot read
        of the transactional table, both collected: one inspection read."""
        from pyspark.sql import functions as F

        from finance_pipeline_spark.sinks.txn_table import TxnKeyedTable

        with self.tracer.span("sinks.keyed_writer.top_rows_s"):
            got_top = _top_keys(
                self.spark, str(self.live / "forex_rates_api"),
                [["timestamptz", "desc"], ["currency", "asc"]], "currency",
            )
        lo = self.day - dt.timedelta(days=6)
        with self.tracer.span("sinks.txn_table.read_s"):
            table = TxnKeyedTable(self.spark, str(self.live / "forex_rates_txn"), TXN_KEYS)
            rows = (
                table.read(bounds={"date": (lo, self.day)})
                .filter(F.col("date").between(lo, self.day))
                .select("currency", "date", "exchange_rate")
                .collect()
            )
        ok = self.outcome.record(got_top == self.expect["top_api"], "top rows", f"{got_top}")
        return self.outcome.record(
            len(rows) == self.expect["txn_read_rows"], "txn read rows", f"{len(rows)}"
        ) and ok

    # -- untimed checks and per-pass counts -----------------------------

    def inspect(self) -> None:
        pass  # the inspection reads are step 6 of the pass itself

    def check(self) -> None:
        """Checks the state one pass left behind. Runs outside the pass
        timer, before the snapshot is restored for the next pass."""
        import pyarrow.parquet as pq

        from finance_pipeline_spark.sinks.txn_table import TxnKeyedTable

        o, e = self.outcome, self.expect
        o.record(_utc_today() == self.day, "run date", f"UTC date moved off {self.day}")
        shipped: dict[str, list] = {}
        for f in self.spool.glob("*.jsonl"):
            for line in f.read_text().splitlines():
                r = json.loads(line)
                shipped.setdefault(r["source"], []).append(r)
        counts = {k: len(v) for k, v in sorted(shipped.items())}
        o.record(counts == e["sync"], "sync rows", f"{counts} != {e['sync']}")
        self.tracer.count("pipelines.sync.rows", sum(counts.values()))
        today = self.day.isoformat()
        o.record(
            all(str(r.get("date", ""))[:10] == today for v in shipped.values() for r in v),
            "sync rows are today's", "a spooled row is not dated today",
        )
        new_files = [f for f in self._data_files() if f not in self.files_before]
        self.tracer.count("sinks.files_written", len(new_files))
        txn = TxnKeyedTable(self.spark, str(self.live / "forex_rates_txn"), TXN_KEYS)
        last = txn.history()[-1]
        o.record(
            last["removes"] == e["upsert"]["files_rewritten"], "upsert files rewritten",
            f"{last['removes']}",
        )
        self.tracer.count("sinks.txn_table.files_rewritten", last["removes"])
        n_files = n_bytes = n_rows = 0
        for name, keys in (
            ("forex_rates_api", ["currency", "timestamptz"]),
            ("forex_rates_history", ["currency", "timestamptz"]),
            ("forex_rates_scraped", ["currency_name", "timestamptz"]),
            ("forex_rates_txn", TXN_KEYS),
        ):
            files = self.table_files(name)
            n_files += len(files)
            n_bytes += sum(os.path.getsize(f) for f in files)
            t = pq.ParquetDataset(files).read(columns=keys)
            n_rows += t.num_rows
            n_keys = len(set(zip(*(t.column(k).to_pylist() for k in keys))))
            o.record(
                t.num_rows == n_keys == e["live_rows"][name], f"{name} unique keys",
                f"{t.num_rows} rows, {n_keys} keys, want {e['live_rows'][name]}",
            )
        self.tracer.count("sinks.table_files", n_files)
        self.stored_bytes_per_row = n_bytes / n_rows

    def table_files(self, name: str) -> list[str]:
        from finance_pipeline_spark.sinks.txn_table import TxnKeyedTable

        if name == "forex_rates_txn":
            snap = TxnKeyedTable(self.spark, str(self.live / name), []).snapshot()
            return [str(self.live / name / "data" / f) for f in snap.files]
        return sorted(str(p) for p in (self.live / name).glob("*.parquet"))

    def final(self) -> dict:
        """Read latencies of the timed passes, and stored bytes per live
        row over the warehouse tables as the last pass left them."""
        return {
            "read_latencies": self.read_latencies,
            "stored_bytes_per_row": self.stored_bytes_per_row,
        }


def _utc_today() -> dt.date:
    return dt.datetime.now(dt.timezone.utc).date()
