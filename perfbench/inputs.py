"""Seeded input generation for the three benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed`` and writes plain files (parquet, CSV, JSON, HTML) into a
directory the program later reads; nothing here imports Spark or runs
the program. The same seed writes byte-identical files (the forex
inputs also depend on the run's UTC date, which is part of what they
describe). Value domains follow the fixture tables the DuckDB oracles
were written against (TPC-H-ish star schema, ``events``, ``documents``,
``embeddings``), so ``oracle_sql`` applies to the generated files.
"""

from __future__ import annotations

import datetime as dt
import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UTC_TS = pa.timestamp("us", tz="UTC")
NAIVE_TS = pa.timestamp("us")


def _write(
    table: pa.Table, path: Path, row_group_size: int | None = None, int96: bool = False
) -> None:
    """``int96`` writes timestamps the way Spark's default
    ``outputTimestampType`` does, so warehouse parts made here carry the
    same physical types (and the same absent timestamp statistics) as
    parts the program appends."""
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        table,
        path,
        row_group_size=row_group_size or max(1, table.num_rows),
        use_deprecated_int96_timestamps=int96,
    )


def _days(start: str, n: int, rng: np.random.Generator, size: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n, size)).astype("datetime64[us]")


# -- warehouse_sql: TPC-H-ish tables, one file with one row group each ------


def write_warehouse(out: Path, rng: np.random.Generator, n_lineitem: int) -> None:
    """lineitem/orders/customer/events at the fixture ratios (sf0.1 =
    600k lineitem, 150k orders, 15k customers, 100k events, 1.5k users)."""
    n_orders = n_lineitem // 4
    n_cust = max(10, n_lineitem // 40)
    n_events = n_lineitem // 6
    n_users = max(10, n_lineitem // 400)

    cust = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
            "c_mktsegment": pa.array(
                np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])[
                    rng.integers(0, 5, n_cust)
                ]
            ),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders).astype(np.int64)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_orders), 2)),
            "o_orderdate": pa.array(_days("1995-01-01", 2404, rng, n_orders), NAIVE_TS),
            "o_orderpriority": pa.array(
                np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                    rng.integers(0, 5, n_orders)
                ]
            ),
        }
    )
    n = n_lineitem
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, 20000, n).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, 1000, n).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
            "l_shipdate": pa.array(_days("1995-01-02", 2498, rng, n), NAIVE_TS),
        }
    )
    ev_offsets = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_events))
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + ev_offsets, NAIVE_TS),
            "user_id": pa.array(rng.integers(0, n_users, n_events).astype(np.int64)),
            "event_type": pa.array(
                np.array(["click", "error", "purchase", "signup", "view"])[
                    rng.integers(0, 5, n_events)
                ]
            ),
            "value": pa.array(np.round(np.minimum(rng.exponential(60.0, n_events), 560.21), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )
    for name, t in (
        ("customer", cust), ("orders", orders), ("lineitem", lineitem), ("events", events)
    ):
        _write(t, out / f"{name}.parquet" / "part-00000.parquet")


# -- curation_kernels: documents + embeddings, 8 parts x 4 row groups -------

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
PARTS = 8
ROW_GROUPS = 4


def _write_parts(table: pa.Table, out: Path) -> None:
    """The multi-file layout real ingest produces: PARTS files, each with
    ROW_GROUPS row groups, so the scan is already wide."""
    per_part = -(-table.num_rows // PARTS)
    for i in range(PARTS):
        part = table.slice(i * per_part, per_part)
        _write(part, out / f"part-{i:05d}.parquet", row_group_size=-(-part.num_rows // ROW_GROUPS))


def write_curation(out: Path, rng: np.random.Generator, n_docs: int, n_vecs: int) -> None:
    """Documents: 10-100 tokens over the fixture vocabulary, ~5% planted
    near-duplicates (an earlier document with a few tokens replaced and a
    ``dup`` marker). Embeddings: unit-norm 64-d float32, labels 0-9."""
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(2):
                toks[int(rng.integers(0, len(toks)))] = str(rng.choice(words))
            toks[int(rng.integers(0, len(toks)))] = "dup"
        else:
            toks = list(words[rng.integers(0, len(words), int(rng.integers(10, 101)))])
        texts.append(" ".join(toks))
    langs = np.array(["de", "en", "en", "es", "fr", "zh"])[rng.integers(0, 6, n_docs)]
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
        }
    )
    _write_parts(docs, out / "documents.parquet")
    _write_parts(emb, out / "embeddings.parquet")


# -- forex_day: one day of the paper's ETL against a deep warehouse ---------

CURRENCIES = [
    ("USD", "US Dollar"), ("GBP", "British Pound"), ("JPY", "Japanese Yen"),
    ("CHF", "Swiss Franc"), ("CAD", "Canadian Dollar"), ("AUD", "Australian Dollar"),
    ("NZD", "New Zealand Dollar"), ("CNY", "Chinese Yuan Renminbi"), ("HKD", "Hong Kong Dollar"),
    ("SGD", "Singapore Dollar"), ("SEK", "Swedish Krona"), ("NOK", "Norwegian Krone"),
    ("DKK", "Danish Krone"), ("PLN", "Polish Zloty"), ("CZK", "Czech Koruna"),
    ("HUF", "Hungarian Forint"), ("RON", "Romanian New Leu"), ("BGN", "Bulgarian Lev"),
    ("ISK", "Icelandic Krona"), ("TRY", "Turkish Lira"), ("INR", "Indian Rupee"),
    ("IDR", "Indonesian Rupiah"), ("KRW", "South Korean Won"), ("MYR", "Malaysian Ringgit"),
    ("PHP", "Philippine Peso"), ("THB", "Thai Baht"), ("ZAR", "South African Rand"),
    ("BRL", "Brazilian Real"), ("MXN", "Mexican Peso"), ("ILS", "Israeli New Shekel"),
    ("AED", "Emirati Dirham"), ("SAR", "Saudi Arabian Riyal"), ("QAR", "Qatari Riyal"),
    ("KWD", "Kuwaiti Dinar"), ("BHD", "Bahraini Dinar"), ("OMR", "Omani Rial"),
    ("EGP", "Egyptian Pound"), ("NGN", "Nigerian Naira"), ("KES", "Kenyan Shilling"),
    ("MAD", "Moroccan Dirham"), ("TND", "Tunisian Dinar"), ("GHS", "Ghanaian Cedi"),
    ("ARS", "Argentine Peso"), ("CLP", "Chilean Peso"), ("COP", "Colombian Peso"),
    ("PEN", "Peruvian Sol"), ("UYU", "Uruguayan Peso"), ("VND", "Vietnamese Dong"),
    ("PKR", "Pakistani Rupee"), ("BDT", "Bangladeshi Taka"), ("LKR", "Sri Lankan Rupee"),
    ("TWD", "Taiwan New Dollar"), ("RUB", "Russian Ruble"), ("UAH", "Ukrainian Hryvnia"),
    ("KZT", "Kazakhstani Tenge"), ("BWP", "Botswana Pula"), ("MUR", "Mauritian Rupee"),
    ("JOD", "Jordanian Dinar"), ("LBP", "Lebanese Pound"), ("IRR", "Iranian Rial"),
]
API_CURRENCIES = 30  # the Frankfurter feed quotes about half the list
HISTORY_YEARS = 2
# two months of daily cron appends; must cover the CSV pipeline's one-month
# window, or the expected load counts below no longer hold
SNAPSHOT_DAYS = 60
REVISED_DAYS = 3  # the upsert revises the last three published days
SCRAPE_DUP_ROWS = 2  # repeated table rows the scrape load must skip
TXN_KEYS = ["currency", "timestamptz"]
TXN_TABLE = "forex_rates_txn"


def _add_months(d: dt.date, months: int) -> dt.date:
    """Spark's ``add_months``: same day-of-month, clamped to month end."""
    y, m = divmod(d.year * 12 + d.month - 1 + months, 12)
    m += 1
    nxt = dt.date(y + (m == 12), m % 12 + 1, 1)
    return dt.date(y, m, min(d.day, (nxt - dt.timedelta(days=1)).day))


def _cet_16h_utc(d: dt.date) -> dt.datetime:
    """16:00 Europe/Paris on ``d`` in UTC (CET/CEST by the EU rule)."""
    def last_sunday(month: int) -> dt.date:
        x = dt.date(d.year, month, 31)
        return x - dt.timedelta(days=(x.weekday() + 1) % 7)

    summer = last_sunday(3) <= d < last_sunday(10)
    return dt.datetime(d.year, d.month, d.day, 14 if summer else 15)


def _rate_paths(rng: np.random.Generator, n_days: int) -> np.ndarray:
    """[n_days, n_currencies] positive daily rates: log random walks."""
    base = np.exp(rng.uniform(-2.0, 9.0, len(CURRENCIES)))
    steps = rng.normal(0.0, 0.004, (n_days, len(CURRENCIES)))
    return np.round(base * np.exp(np.cumsum(steps, axis=0)), 6)


def _write_part(cols: dict, created: dt.datetime, path: Path) -> None:
    """One daily warehouse part, stamped with its ingest time."""
    n = len(next(iter(cols.values())))
    table = pa.table({**cols, "created_at": pa.array([created] * n, UTC_TS)})
    _write(table, path, int96=True)


def write_forex(out: Path, rng: np.random.Generator, today: dt.date) -> dict:
    """Inputs for one simulated day ``today`` plus the warehouse snapshot
    every pass starts from. Returns the expected outcome of one pass."""
    n_days = HISTORY_YEARS * 365 + 1
    first = today - dt.timedelta(days=n_days - 1)
    days = [first + dt.timedelta(days=i) for i in range(n_days)]
    rates = _rate_paths(rng, n_days)
    codes = [c for c, _ in CURRENCIES]
    names = [n for _, n in CURRENCIES]

    # 1. history CSV, with the dirty rows the CSV pipeline must drop
    lines = ["currency,base_currency,currency_name,exchange_rate,date"]
    for i, d in enumerate(days):
        iso = d.isoformat()
        lines.extend(
            f"{c},EUR,{n},{r:.6f},{iso}" for c, n, r in zip(codes, names, rates[i])
        )
    window_lo = _add_months(today, -1)
    dirty = []
    pick = rng.integers(1, len(lines), 400)
    dirty += [lines[int(j)] for j in pick]  # exact duplicates
    for j in rng.integers(0, len(codes), 40):
        c, n = CURRENCIES[int(j)]
        d = days[-1 - int(rng.integers(0, 25))].isoformat()
        dirty += [
            f",EUR,{n},1.0,{d}",  # null currency
            f"{c},EUR,{n},,{d}",  # null rate
            f"{c},EUR,{n},n/a,{d}",  # unparseable rate
            f"{c},EUR,{n},-1.5,{d}",  # non-positive rate
            f"{c},EUR,{n},0.0,{d}",
            f"{c},EUR,{n},1.0,",  # null date
            f"{c},EUR,{n},1.0,{d[:5]}13-45",  # unparseable date
        ]
    # conflicting revisions of days already in the warehouse: same key,
    # another rate — counted as skipped, never inserted
    conflicts = set()
    for j in rng.integers(0, len(codes), 30):
        back = 1 + int(rng.integers(0, 20))
        conflicts.add((int(j), back))
    for j, back in sorted(conflicts):
        dirty.append(
            f"{codes[j]},EUR,{names[j]},{rates[-1 - back, j] * 1.01:.6f},{days[-1 - back].isoformat()}"
        )
    order = rng.permutation(len(dirty))
    body = lines[1:] + [dirty[int(k)] for k in order]
    (out / "history.csv").write_text("\n".join([lines[0]] + body) + "\n")
    in_window = {
        ln for ln in body
        if _clean_in_window(ln, window_lo, today)
    }

    # 2. Frankfurter JSON for today
    api_codes = codes[:API_CURRENCIES]
    payload = {
        "amount": 1.0, "base": "EUR", "date": today.isoformat(),
        "rates": {c: float(r) for c, r in zip(api_codes, rates[-1, :API_CURRENCIES])},
    }
    (out / "frankfurter.json").write_text(json.dumps(payload, indent=2))

    # 3. x-rates HTML for today, 06:00 UTC, with repeated and broken rows
    rows = [f"<tr><td>{n}</td><td>{r:.6f}</td><td>{1 / r:.6f}</td></tr>" for n, r in zip(names, rates[-1])]
    rows += rows[:SCRAPE_DUP_ROWS]
    rows += ["<tr><td>broken row</td></tr>", "<tr><td>Unparseable</td><td>n/a</td></tr>"]
    stamp = dt.datetime(today.year, today.month, today.day, 6, 0).strftime("%b %d, %Y %H:%M")
    (out / "xrates.html").write_text(
        "<html><body><span class=\"ratesTimestamp\">"
        f"{stamp} UTC</span>\n<table class=\"tablesorter ratesTable\"><tbody>\n"
        + "\n".join(rows) + "\n</tbody></table></body></html>\n"
    )

    # 4. the day's revisions for the transactional table
    rev_idx = list(range(n_days - 1 - REVISED_DAYS, n_days))
    rev = {k: [] for k in ("currency", "base_currency", "exchange_rate", "date", "timestamptz")}
    for i in rev_idx:
        for j, c in enumerate(codes):
            rev["currency"].append(c)
            rev["base_currency"].append("EUR")
            rev["exchange_rate"].append(float(rates[i, j]) * (1.0005 if i < n_days - 1 else 1.0))
            rev["date"].append(days[i])
            rev["timestamptz"].append(dt.datetime.combine(days[i], dt.time(10)))
    _write(
        pa.table({
            "currency": pa.array(rev["currency"]),
            "base_currency": pa.array(rev["base_currency"]),
            "exchange_rate": pa.array(rev["exchange_rate"]),
            "date": pa.array(rev["date"], pa.date32()),
            "timestamptz": pa.array(rev["timestamptz"], UTC_TS),
        }),
        out / "revisions.parquet",
    )

    # 5. the warehouse snapshot: one part file per day per table
    snap = out / "snapshot"
    txn_parts = []
    for i in range(n_days - 1 - SNAPSHOT_DAYS, n_days - 1):
        d = days[i]
        tag = d.strftime("%Y%m%d")
        created = dt.datetime.combine(d, dt.time(6, 5))
        ts10 = dt.datetime.combine(d, dt.time(10))
        ts_api = _cet_16h_utc(d)
        ts_scr = dt.datetime.combine(d, dt.time(6))
        date_arr = pa.array([d] * len(codes), pa.date32())
        _write_part({
            "currency": pa.array(api_codes), "base_currency": pa.array(["EUR"] * API_CURRENCIES),
            "exchange_rate": pa.array(rates[i, :API_CURRENCIES]),
            "date": date_arr.slice(0, API_CURRENCIES),
            "timestamptz": pa.array([ts_api] * API_CURRENCIES, UTC_TS),
        }, created, snap / "forex_rates_api" / f"day-{tag}.parquet")
        _write_part({
            "currency": pa.array(codes), "base_currency": pa.array(["EUR"] * len(codes)),
            "currency_name": pa.array(names), "exchange_rate": pa.array(rates[i]),
            "date": date_arr, "timestamptz": pa.array([ts10] * len(codes), UTC_TS),
        }, created, snap / "forex_rates_history" / f"day-{tag}.parquet")
        _write_part({
            "currency_name": pa.array(names), "base_currency": pa.array(["EUR"] * len(codes)),
            "exchange_rate": pa.array(rates[i]), "date": date_arr,
            "timestamptz": pa.array([ts_scr] * len(codes), UTC_TS),
        }, created, snap / "forex_rates_scraped" / f"day-{tag}.parquet")
        name = f"day-{tag}.parquet"
        _write_part({
            "currency": pa.array(codes), "base_currency": pa.array(["EUR"] * len(codes)),
            "exchange_rate": pa.array(rates[i]), "date": date_arr,
            "timestamptz": pa.array([ts10] * len(codes), UTC_TS),
        }, created, snap / TXN_TABLE / "data" / name)
        txn_parts.append(name)
    _write_txn_log(snap / TXN_TABLE, txn_parts)

    n_window = len(in_window)
    top = sorted(codes[:API_CURRENCIES])[:10]
    return {
        "date": today.isoformat(),
        "api": {"inserted": API_CURRENCIES, "skipped": 0},
        "csv": {"inserted": len(codes), "skipped": n_window - len(codes)},
        "scrape": {"inserted": len(codes), "skipped": SCRAPE_DUP_ROWS},
        "upsert": {"inserted": len(codes), "updated": REVISED_DAYS * len(codes),
                   "files_rewritten": REVISED_DAYS},
        "sync": {"api": API_CURRENCIES, "csv": len(codes), "web_scraper": len(codes)},
        "top_api": top,
        "txn_read_rows": 7 * len(codes),
        "live_rows": {
            "forex_rates_api": (SNAPSHOT_DAYS + 1) * API_CURRENCIES,
            "forex_rates_history": (SNAPSHOT_DAYS + 1) * len(codes),
            "forex_rates_scraped": (SNAPSHOT_DAYS + 1) * len(codes),
            TXN_TABLE: (SNAPSHOT_DAYS + 1) * len(codes),
        },
    }


def _clean_in_window(line: str, lo: dt.date, hi: dt.date) -> bool:
    """Would ``transform_history`` keep this CSV line? (coerce-to-null
    parse, window, non-null currency/rate/date, rate > 0)"""
    c, _, _, r, d = line.split(",")
    try:
        day = dt.date.fromisoformat(d)
        rate = float(r)
    except ValueError:
        return False
    return bool(c) and lo <= day <= hi and rate > 0


def _write_txn_log(table: Path, parts: list[str]) -> None:
    """One commit per daily part, written with the program's own commit
    writer and footer statistics, so the snapshot is exactly what a
    daily cron of ``TxnKeyedTable`` appends would leave behind."""
    from finance_pipeline_spark.sinks import txn_table as tt

    writer = tt.TxnKeyedTable(None, str(table), TXN_KEYS)
    data = table / "data"
    for v, name in enumerate(parts):
        path = [data / name]
        stats = tt._footer_stats(path)
        for col, b64 in tt._file_blooms(path, TXN_KEYS).get(name, {}).items():
            stats[name][f"bloom:{col}"] = b64
        n = pq.ParquetFile(path[0]).metadata.num_rows
        if not writer._try_commit(v, [name], n, stats=stats):
            raise RuntimeError(f"commit {v} of the txn snapshot already exists")
