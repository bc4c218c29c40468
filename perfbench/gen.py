"""Seeded input generators.

Two families of inputs, both a pure function of ``seed``:

* :func:`write_tables` writes the ten registry tables (``region`` ..
  ``embeddings``) as parquet with the physical types the registry reads
  (``schemas.TPCH``), so every registry query and its DuckDB oracle run over
  them unchanged.
* :class:`DailyFeed` yields the per-day DataFrame inputs of
  ``run_daily_update``: a universe snapshot with daily churn, a FIGI map,
  month-to-date ticks, tagged fundamental datapoints (9 duration + 7 instant
  concepts per quarter), filings and the trailing filing feed, and the
  trading calendar.  Day 0 is the bootstrap day (fundamental history for
  every symbol); later days are quiet (a small share of symbols file) or
  earnings days (a large share files).  A filer's datapoints come with its
  previous quarter again, and every day's feed re-delivers the last week's
  filings plus one late filing dated two days back, so idempotent appends
  are exercised on every day.

Nothing here imports Spark: everything lands as parquet, and the caller
reads it into DataFrames, so the program receives only generated inputs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "red", "small", "new", "hot", "large", "cold"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en"] * 5 + ["de", "es", "fr", "zh"]
DOC_WORDS = (
    "key agg scan slow table part a merge window order column join vector fast spark "
    "line small customer group row the query stream value hash batch sort data big filter"
).split()


def _ts(start: str, days):
    """Timestamps ``start + days`` as an arrow timestamp[us] array."""
    offsets = np.asarray(days, dtype=np.int64).astype("timedelta64[D]")
    return pa.array(np.datetime64(start, "us") + offsets, type=pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, sf: float) -> "dict[str, pa.Table]":
    """The ten registry tables at scale ``sf`` (1.0 = 150k customers)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_users = max(20, n_cust // 10)
    n_events = max(1000, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    span_days = (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, span_days + 1, n_ord)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lines_per = rng.integers(1, 8, n_ord)
    n_line = int(lines_per.sum())
    okey = np.repeat(np.arange(n_ord), lines_per)
    lnum = np.arange(n_line) - np.repeat(np.cumsum(lines_per) - lines_per, lines_per) + 1
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts("1995-01-02", rng.integers(0, span_days + 95, n_line)),
    })
    secs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_events))
    t["events"] = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + secs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(np.array(DOC_WORDS)[rng.integers(0, len(DOC_WORDS), int(rng.integers(10, 100)))])
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> "dict[str, dict]":
    """Write :func:`make_tables` as ``<out_dir>/<table>.parquet``; returns
    ``{table: {"rows": n, "mb": size}}``."""
    os.makedirs(out_dir, exist_ok=True)
    info = {}
    for name, table in make_tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        info[name] = {"rows": table.num_rows, "mb": os.path.getsize(path) / 1e6}
    return info


# ---------------------------------------------------------------------------
# daily_update inputs
# ---------------------------------------------------------------------------

DURATION = ["rev", "cor", "op_inc", "net_inc", "dna", "cfo", "capex", "inc_tax_exp", "ibt"]
INSTANT = ["std", "ltd", "cce", "ca", "cl", "ta", "te"]
_SENTENCES = [
    "Revenue grew strongly in the quarter.",
    "Litigation risk may be material to results.",
    "Operating margin improved on lower costs.",
    "The company recorded an impairment loss.",
    "Management expects demand to remain uncertain.",
    "Cash flow from operations increased.",
    "Adverse weather reduced shipments.",
    "The board approved a dividend increase.",
]

SCHEMAS = {
    "universe": pa.schema([("ticker", pa.string()), ("name", pa.string()),
                           ("etf", pa.string()), ("test_issue", pa.string())]),
    "figi": pa.schema([("symbol", pa.string()), ("figi", pa.string())]),
    "ticks": pa.schema([("security_id", pa.int64()), ("symbol", pa.string()),
                        ("timestamp", pa.date32()), ("close", pa.float64()), ("volume", pa.int64())]),
    "fundamentals": pa.schema([
        ("symbol", pa.string()), ("concept", pa.string()), ("tag", pa.string()),
        ("tag_priority", pa.int32()), ("value", pa.float64()), ("accn", pa.string()),
        ("form", pa.string()), ("filed", pa.date32()), ("start", pa.date32()),
        ("end", pa.date32()), ("frame", pa.string()),
    ]),
    "filings": pa.schema([("cik", pa.string()), ("accession_number", pa.string()),
                          ("filing_date", pa.date32()), ("filing_type", pa.string()),
                          ("text", pa.string())]),
    "calendar": pa.schema([("date", pa.date32())]),
}
SCHEMAS["feed"] = SCHEMAS["filings"]


def write_day(day: dict, out_dir: str) -> "dict[str, dict]":
    """Write one :meth:`DailyFeed.day` as parquet, one file per input;
    returns ``{input: {"path", "rows", "mb"}}`` for the non-empty inputs."""
    os.makedirs(out_dir, exist_ok=True)
    out = {}
    for name, schema in SCHEMAS.items():
        rows = day[name]
        if not rows:
            continue
        cols = list(zip(*rows))
        table = pa.table([pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema)
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        out[name] = {"path": path, "rows": len(rows), "mb": os.path.getsize(path) / 1e6}
    return out


# directory rows the universe filter must drop: an ETF, a preferred, a test issue
_DROPPED = [
    ("ETFX", "Broad Market ETF Trust Income", "Y", "N"),
    ("PRFA", "Alpha Corp Preferred Series A", "N", "N"),
    ("TSTZ", "Test Issue Common Stock", "N", "Y"),
]


def _quarter_end(y: int, q: int) -> dt.date:
    return dt.date(y, 3 * q, 28)


class DailyFeed:
    """Deterministic day-by-day inputs for ``run_daily_update``.

    ``n_symbols`` listed common stocks (plus a few rows the universe filter
    must drop), :data:`HISTORY_Q` quarters of fundamentals landed on the
    bootstrap day, then one trading day from :data:`START` per call to
    :meth:`day`.  Days must be requested in order (the filing pointer per
    symbol is state)."""

    HISTORY_Q = 5
    START = dt.date(2024, 4, 1)

    def __init__(self, seed: int, *, n_symbols: int, quiet_share: float, earnings_share: float):
        self.rng = np.random.default_rng([seed, 2])
        self.quiet_share, self.earnings_share = quiet_share, earnings_share
        pool = n_symbols * 2  # listed now + later IPOs
        letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
        seen = {t for t, *_ in _DROPPED}
        tickers: list = []
        while len(tickers) < pool:
            t = "".join(letters[self.rng.integers(0, 26, int(self.rng.integers(3, 5)))])
            if t not in seen:
                seen.add(t)
                tickers.append(t)
        self.tickers = tickers
        self.listed = list(range(n_symbols))  # indices into tickers
        self.next_ipo = n_symbols
        self.next_q = {i: self.HISTORY_Q for i in range(pool)}  # quarters already filed
        self.base_price = self.rng.uniform(5.0, 300.0, pool)
        self.vol = self.rng.uniform(0.01, 0.03, pool)
        self.filings_by_day: list = []
        self.last_rows: dict = {}  # symbol -> its latest quarter's rows
        self.index = 0

    # -- helpers ---------------------------------------------------------
    def _trading_date(self, i: int) -> dt.date:
        d, n = self.START, 0
        while True:
            if d.weekday() < 5:
                if n == i:
                    return d
                n += 1
            d += dt.timedelta(days=1)

    def _price(self, sym: int, d: dt.date) -> float:
        # a deterministic function of (symbol, date): re-landing a month
        # re-lands identical bars
        k = (d - dt.date(2024, 1, 1)).days
        wiggle = np.sin(k * 0.37 + sym) * self.vol[sym] * 3
        return round(float(self.base_price[sym] * (1.0 + wiggle)), 4)

    def _quarter(self, k: int) -> "tuple[int, int]":
        # quarter k counted from 2022Q1
        return 2022 + k // 4, k % 4 + 1

    def _fund_rows(self, sym: int, k: int, filed: dt.date) -> list:
        y, q = self._quarter(k)
        end = _quarter_end(y, q)
        start = dt.date(y, 3 * q - 2, 1)
        t = self.tickers[sym]
        rows = []
        for c in DURATION:
            rows.append((t, c, f"us-gaap:{c}", 1, round(float(self.rng.uniform(10, 1000)), 2),
                         f"{t}-{y}Q{q}", "10-Q", filed, start, end, f"CY{y}Q{q}"))
        for c in INSTANT:
            rows.append((t, c, f"us-gaap:{c}", 1, round(float(self.rng.uniform(100, 10000)), 2),
                         f"{t}-{y}Q{q}", "10-Q", filed, None, end, f"CY{y}Q{q}I"))
        return rows

    def _filing(self, sym: int, filed: dt.date, n: int) -> tuple:
        cik = f"{sym + 1:010d}"
        picks = self.rng.integers(0, len(_SENTENCES), int(self.rng.integers(20, 60)))
        text = " ".join(_SENTENCES[p] for p in picks)
        return (cik, f"{cik}-{filed.isoformat()}-{n}", filed, "10-Q", text)

    # -- one day ---------------------------------------------------------
    def day(self, kind: str) -> dict:
        """Inputs for the next trading day.  ``kind`` is ``bootstrap``,
        ``quiet`` or ``earnings``."""
        d = self._trading_date(self.index)
        self.index += 1
        if kind != "bootstrap":  # daily churn: one delisting, one IPO
            self.listed.pop(int(self.rng.integers(0, len(self.listed))))
            self.listed.append(self.next_ipo)
            self.next_ipo += 1
        listed = list(self.listed)
        universe = [(self.tickers[s], f"{self.tickers[s].title()} Corp Common Stock", "N", "N")
                    for s in listed]
        universe += _DROPPED
        figi = [(self.tickers[s], f"BBG{s:09d}") for s in range(self.next_ipo)]
        ticks = [
            (1001 + s, self.tickers[s], md, self._price(s, md),
             int(1000 + (s * 7919 + md.toordinal()) % 100_000))
            for md in self._month_dates(d) for s in listed
        ]
        fund, filings = [], []
        if kind == "bootstrap":
            for s in listed:
                for k in range(self.HISTORY_Q):
                    y, q = self._quarter(k)
                    self.last_rows[s] = self._fund_rows(s, k, _quarter_end(y, q) + dt.timedelta(days=35))
                    fund += self.last_rows[s]
            share = self.quiet_share
        else:
            share = self.earnings_share if kind == "earnings" else self.quiet_share
        n_file = max(1, int(round(share * len(listed))))
        filers = sorted(self.rng.choice(listed, n_file, replace=False).tolist())
        redelivered = []
        for j, s in enumerate(filers):
            if kind != "bootstrap":
                # a filer's fetch also returns its previous quarter, which is
                # already in the lake and must append nothing
                redelivered += self.last_rows.get(s, [])
                self.last_rows[s] = self._fund_rows(s, self.next_q[s], d)
                fund += self.last_rows[s]
                self.next_q[s] += 1
            filings.append(self._filing(s, d, j))
        fund += redelivered
        self.filings_by_day.append(filings)
        # trailing feed: the last week's filings (already landed, deduped by
        # the append) plus one late filing dated two days back
        feed = [f for day in self.filings_by_day[-6:] for f in day]
        feed.append(self._filing(int(self.rng.choice(listed)), d - dt.timedelta(days=2), 9000 + self.index))
        calendar = [(x,) for x in self._calendar(d)]
        return {
            "kind": kind,
            "date": d,
            "universe": universe,
            "figi": figi,
            "ticks": ticks,
            "fundamentals": fund,
            "fundamentals_new": len(fund) - len(redelivered),
            "filings": filings,
            "feed": feed,
            "calendar": calendar,
        }

    def _month_dates(self, d: dt.date) -> list:
        x, out = d.replace(day=1), []
        while x <= d:
            if x.weekday() < 5:
                out.append(x)
            x += dt.timedelta(days=1)
        return out

    def _calendar(self, d: dt.date) -> list:
        x, out = d - dt.timedelta(days=10), []
        while x <= d + dt.timedelta(days=10):
            if x.weekday() < 5:
                out.append(x)
            x += dt.timedelta(days=1)
        return out
