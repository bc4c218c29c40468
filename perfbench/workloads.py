"""The three workloads: their inputs, their ops and their output checks.

Each workload builds its inputs in :meth:`setup` (untimed, counted in
``setup_s``), hands the timed loop one list of ops per pass from
:meth:`ops`, and checks the program's final state in :meth:`finish`.  An op
is ``(name, run, prepare)``: ``prepare()`` builds the op's inputs outside
the timed window, ``run(inputs)`` is the timed call and returns ``(ok,
report)``.
"""

from __future__ import annotations

import os

import duckdb

from perfbench import gen
from tools.check_correctness import TABLES, frame_hash

SF = 0.01  # registry tables: 15k orders, ~60k lineitems

ANALYTIC_READS = [
    "tpch_q1_pricing_summary", "tpch_q3_shipping_priority", "tpch_q5_local_supplier_volume",
    "tpch_q9_product_type_profit", "tpch_q18_large_volume_customers", "tpch_q21_waiting_supplier",
    "asof_backward_join", "pit_interval_lookup", "derived_metrics_pipeline", "ttm_rolling_4q",
    "xsec_zscore_report", "factor_ic_decay", "vwap_daily", "hll_distinct_report",
]
# one op per snapshot-log path: a merge commit, maintenance, the pruned read
# path, and commits tailed through the snapshot feed by availableNow streams
LAKE_COMMITS = [
    "lake_merge_upsert_report", "lake_optimize_report", "lake_skipping_matrix_report",
    "streaming_from_snapshot_sink",
]


class RegistryWorkload:
    """Registry queries over seeded tables, each op timed to the noop sink.

    The untimed warm-up pass doubles as the output check: every query's
    collected result is hashed against its DuckDB ``oracle_sql`` over the
    same parquet.  A query that fails the check counts as failed on every
    timed run too; it is reported, never swapped out."""

    def __init__(self, ctx, names, max_passes=None):
        self.ctx, self.names, self.max_passes = ctx, names, max_passes
        self.sf_dir = os.path.join(ctx.run_dir, "tables")
        self.bad: dict = {}

    def setup(self) -> None:
        import __spark_entry__ as entry

        info = gen.write_tables(self.sf_dir, self.ctx.seed, SF)
        self.ctx.inputs = {"tables": info}
        self.input_mb = sum(t["mb"] for t in info.values())
        self.queries, oracles = entry.queries(), entry.oracle_sql()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        spark = self.ctx.spark
        for name in self.names:
            try:
                sdf = self.queries[name](spark, self.sf_dir)
                cols, rows = sdf.columns, [tuple(r) for r in sdf.collect()]
            except Exception as e:  # reported as a failed check, not fatal
                self.bad[name] = f"spark error: {type(e).__name__}: {e}"[:300]
                continue
            finally:
                spark.catalog.clearCache()
            res = con.execute(oracles[name])
            ocols, orows = [d[0] for d in res.description], res.fetchall()
            if len(rows) != len(orows) or sorted(cols) != sorted(ocols):
                self.bad[name] = f"shape spark={len(rows)}x{sorted(cols)} oracle={len(orows)}x{sorted(ocols)}"
            elif frame_hash(cols, rows) != frame_hash(ocols, orows):
                self.bad[name] = "value hash differs from the DuckDB oracle"
        con.close()

    def ops(self, pass_idx: int) -> list:
        return [(name, self._runner(name), lambda: None) for name in self.names]

    def _runner(self, name):
        def run(_inputs):
            tracer, spark = self.ctx.tracer, self.ctx.spark
            with tracer.span("plans", name):
                df = self.queries[name](spark, self.sf_dir)
            with tracer.span("spark", "noop_write"):
                df.write.format("noop").mode("overwrite").save()
            return name not in self.bad, None
        return run

    def pass_input_mb(self, ops) -> float:
        return self.input_mb

    def finish(self) -> list:
        return [f"{n}: {why}" for n, why in self.bad.items()]


class DailyUpdateWorkload:
    """``run_daily_update`` over a seeded feed.

    Set-up lands the bootstrap day, a full build of every symbol bucket.
    Each timed pass lands :data:`PASS`.  On a quiet day few symbols file, so
    the bucket-incremental rebuild prunes; on an earnings day many file and
    nearly every bucket is rebuilt.  Every day re-delivers data already
    landed, and its report must count only the new rows as appended."""

    # 400 symbols keep a day near its fixed per-day cost; the filing shares
    # reproduce the bucket pattern of a 3000-symbol universe at 1% / 25%:
    # a quiet day touches about 20 of the 64 symbol buckets, an earnings day
    # about 62
    N_SYMBOLS = 400
    QUIET_SHARE, EARNINGS_SHARE = 0.06, 0.6
    # one day per pass and one pass per run: a day costs 8 to 25 s as the
    # VM's speed drifts, and the benchmark's run budget affords the
    # bootstrap and one day on a slow VM; adding "earnings" times the bypass
    # case too
    PASS = ("quiet",)
    max_passes = 1

    def __init__(self, ctx):
        from us_equity_datalake_spark.equity.daily_job import LakePaths

        self.ctx = ctx
        self.feed = gen.DailyFeed(ctx.seed, n_symbols=self.N_SYMBOLS,
                                  quiet_share=self.QUIET_SHARE, earnings_share=self.EARNINGS_SHARE)
        self.lake = LakePaths(os.path.join(ctx.run_dir, "lake"))
        self.days: list = []  # (day dict, written inputs) in landing order
        self.ticks_last: dict = {}  # (year, month) -> rows of the last landed batch
        self.setup_problems: list = []

    # -- inputs ----------------------------------------------------------
    def _prepare(self, kind: str):
        day = self.feed.day(kind)
        files = gen.write_day(day, os.path.join(self.ctx.run_dir, "inputs", f"day{len(self.days):03d}"))
        self.days.append((day, files))
        read = self.ctx.spark.read.parquet
        frames = {k: read(v["path"]) for k, v in files.items()}
        return day, files, frames

    def _run_day(self, prepared):
        from us_equity_datalake_spark.equity import daily_job

        day, files, frames = prepared
        report = daily_job.run_daily_update(
            self.ctx.spark, self.lake,
            target_date=day["date"].isoformat(),
            universe_snapshot=frames.get("universe"), figi_map=frames.get("figi"),
            ticks_batch=frames.get("ticks"), fundamental_raw=frames.get("fundamentals"),
            filings=frames.get("filings"), filings_feed=frames.get("feed"),
            calendar=frames.get("calendar"),
        )
        d = day["date"]
        self.ticks_last[(d.year, d.month)] = len(day["ticks"])
        return report

    def _day_ok(self, day, report) -> bool:
        want = {
            "market_open": True,
            "ticks_landed": len(day["ticks"]),
            "fundamental_appended": day["fundamentals_new"],
            "filings_appended": len(day["filings"]),
            "late_filings_appended": 1,
        }
        return all(report.get(k) == v for k, v in want.items())

    # -- workload protocol -------------------------------------------------
    def setup(self) -> None:
        day, files, frames = self._prepare("bootstrap")
        first = self._run_day((day, files, frames))
        if not self._day_ok(day, first):
            self.setup_problems.append(f"bootstrap day: {first}")

    def ops(self, pass_idx: int) -> list:
        return [(kind, self._timed_day, lambda kind=kind: self._prepare(kind)) for kind in self.PASS]

    def _timed_day(self, prepared):
        report = self._run_day(prepared)
        return self._day_ok(prepared[0], report), report

    def pass_input_mb(self, ops) -> float:
        return sum(f["mb"] for _d, files in self.days[-len(ops):] for f in files.values())

    def finish(self) -> list:
        problems = self.setup_problems + self._recompute_check()
        self.ctx.inputs = {
            "days": len(self.days),
            "rows": sum(f["rows"] for _d, fs in self.days for f in fs.values()),
            "mb": sum(f["mb"] for _d, fs in self.days for f in fs.values()),
        }
        return problems

    def _recompute_check(self) -> list:
        """The final lake against a DuckDB recompute from the generated
        inputs: fundamental keys, TTM sums and ticks per month."""
        con = duckdb.connect()
        fund_files = [fs["fundamentals"]["path"] for _d, fs in self.days if "fundamentals" in fs]
        con.execute(f"CREATE VIEW raw AS SELECT DISTINCT * FROM read_parquet({fund_files!r})")

        def lake(path):
            return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"

        problems = []
        keys = "symbol, concept, frame, accn"
        for a, b, label in (("raw", lake(self.lake.fundamental), "missing from"),
                            (lake(self.lake.fundamental), "raw", "extra in")):
            n = con.execute(
                f"SELECT count(*) FROM (SELECT {keys} FROM {a} EXCEPT SELECT {keys} FROM {b})").fetchone()[0]
            if n:
                problems.append(f"{n} fundamental keys {label} the lake")
        rows, distinct = con.execute(
            f"SELECT count(*), count(DISTINCT ({keys})) FROM {lake(self.lake.fundamental)}").fetchone()
        if rows != distinct:
            problems.append(f"fundamental lake holds {rows - distinct} duplicate rows")
        durations = ", ".join(f"'{c}'" for c in gen.DURATION)
        expected = f"""
            SELECT symbol, concept, filed AS as_of_date, round(s, 2) AS v FROM (
              SELECT *, sum(value) OVER w AS s, count(*) OVER w AS n FROM raw
              WHERE concept IN ({durations})
              WINDOW w AS (PARTITION BY symbol, concept ORDER BY filed
                           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)) WHERE n = 4"""
        got = f"SELECT symbol, concept, as_of_date, round(value, 2) AS v FROM {lake(self.lake.ttm)}"
        for a, b, label in ((expected, got, "missing from"), (got, expected, "extra in")):
            n = con.execute(f"SELECT count(*) FROM ({a} EXCEPT {b})").fetchone()[0]
            if n:
                problems.append(f"{n} TTM rows {label} the lake")
        landed = dict(((y, m), c) for y, m, c in con.execute(
            f"SELECT year, month, count(*) FROM {lake(self.lake.ticks_daily)} GROUP BY ALL").fetchall())
        if landed != self.ticks_last:
            problems.append(f"ticks per month {landed} != last landed batches {self.ticks_last}")
        con.close()
        return problems


def make(name: str, ctx):
    if name == "analytic_reads":
        return RegistryWorkload(ctx, ANALYTIC_READS)
    if name == "lake_commits":
        return RegistryWorkload(ctx, LAKE_COMMITS, max_passes=2)
    if name == "daily_update":
        return DailyUpdateWorkload(ctx)
    raise KeyError(name)


WORKLOADS = ("analytic_reads", "lake_commits", "daily_update")
