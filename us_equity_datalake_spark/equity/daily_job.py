"""Daily incremental update — the reference's top entry point
(update/app.py:1053-1199 ``run_daily_update``) re-expressed as one idempotent
Spark batch over a partitioned lake.

Stage order mirrors §3.1: universe refresh + top-k → market-open gate → tick
re-land (I3 month overwrite) → fundamentals normalize + append (I4) → TTM →
metrics → sentiment score + append (I4).  Every write is either a dynamic
partition overwrite or an anti-join append, so re-running the job for the
same date is a no-op — the reference's resume/checkpoint machinery (I7)
collapses into idempotence.

All inputs are DataFrames (already landed by the ingest edge, sources.ingest);
this module is pure compute + lake writes — no network.
"""

from __future__ import annotations

import logging
import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from us_equity_datalake_spark.equity.fundamentals import normalize_fundamental
from us_equity_datalake_spark.operators._cache import materialize_once
from us_equity_datalake_spark.equity.metrics import compute_metrics_long
from us_equity_datalake_spark.equity.sentiment import aggregate_filing_sentiment, chunk_text_udf, score_chunks
from us_equity_datalake_spark.equity.ttm import compute_ttm_long
from us_equity_datalake_spark.equity.universe import filter_universe
from us_equity_datalake_spark.sources.lake import (
    _exists as _table_exists,
    overwrite_partition,
    read_check_append,
    write_partitioned,
)
from us_equity_datalake_spark.sources.ingest import read_json_state, write_json_state
from us_equity_datalake_spark.sources.registry import local_frame

_log = logging.getLogger(__name__)


@dataclass(frozen=True)
class LakePaths:
    root: str

    @property
    def ticks_daily(self) -> str:
        return os.path.join(self.root, "raw", "ticks", "daily")

    @property
    def fundamental(self) -> str:
        return os.path.join(self.root, "raw", "fundamental")

    @property
    def ttm(self) -> str:
        return os.path.join(self.root, "derived", "ttm")

    @property
    def metrics(self) -> str:
        return os.path.join(self.root, "derived", "metrics")

    @property
    def sentiment(self) -> str:
        return os.path.join(self.root, "derived", "sentiment")

    @property
    def top3000(self) -> str:
        return os.path.join(self.root, "symbols", "top3000")

    @property
    def universe_state(self) -> str:
        return os.path.join(self.root, "state", "prev_universe.json")

    @property
    def security_master(self) -> str:
        return os.path.join(self.root, "master", "security_master")


def _exists(path: str) -> bool:
    return os.path.exists(path)


def update_universe(spark: SparkSession, lake: LakePaths, snapshot: DataFrame, *, target_date: str) -> dict:
    """Stage 1 (app.py:976-1051 + security_master.update_from_sec): filter the
    raw directory snapshot, diff against yesterday's state, persist both.

    ``universe_changes`` counts the tickers that appeared or disappeared:
    the symmetric difference of yesterday's and today's ticker lists, both
    already on the driver, so the diff costs no Spark job."""
    cur = filter_universe(snapshot)
    tickers = sorted(r.ticker for r in cur.select("ticker").collect())
    prev_state = read_json_state(lake.universe_state)
    n_changes = len(set(prev_state["tickers"]) ^ set(tickers)) if prev_state else 0
    os.makedirs(os.path.dirname(lake.universe_state), exist_ok=True)
    write_json_state(lake.universe_state, {"asof": target_date, "tickers": tickers})
    return {"universe_size": len(tickers), "universe_changes": n_changes}


def update_top3000(lake: LakePaths, ticks_batch: DataFrame, *, k: int = 3000, min_adv: float = 1000.0) -> dict:
    """Stage 2 (A3 + T1, universe/manager.py:216-243): trailing dollar-volume
    ranking → top-k → parquet (the reference's txt list is a format detail)."""
    adv = ticks_batch.groupBy("symbol").agg(F.avg(F.col("close") * F.col("volume")).alias("adv"))
    top = adv.filter(F.col("adv") > min_adv).orderBy(F.desc("adv"), F.asc("symbol")).limit(k)
    top = top.persist()
    try:
        write_partitioned(top, lake.top3000, partition_by=[])
        return {"top_k": top.count()}  # served from cache, not a second ranking pass
    finally:
        top.unpersist()


def write_symbol_list_txt(
    df: DataFrame, path: str, *, col: str = "symbol", order_by: list | None = None
) -> int:
    """S10 text sink (reference publishers.py:846-904): newline-joined symbol
    list written as ONE text object.  The list is top-k bounded (3000 rows)
    by construction, so the driver-side write mirrors the reference's single
    put_object exactly and costs nothing at any lake scale — this is
    deliberately NOT a distributed write.

    Ordering contract (ADVICE r4): Spark only guarantees collect() order for
    sorted/limit plans (TakeOrderedAndProject); for anything else the row
    order is nondeterministic.  Pass ``order_by`` (a list of Columns) and the
    sort is applied HERE, immediately before the collect — or pass a
    DataFrame that is itself the direct result of orderBy()/limit()."""
    if order_by is not None:
        df = df.orderBy(*order_by)
    values = [r[0] for r in df.select(col).collect()]
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(str(v) for v in values))
        if values:
            fh.write("\n")
    return len(values)


def update_daily_ticks(spark: SparkSession, lake: LakePaths, ticks_batch: DataFrame) -> dict:
    """Stage 4 (I3, app.py:296-445): total re-land of the month-to-date slice,
    dynamic overwrite of exactly the (year, month) partitions present."""
    pt = ticks_batch.withColumn("year", F.year("timestamp")).withColumn("month", F.month("timestamp"))
    pt = pt.persist()
    try:
        if _exists(lake.ticks_daily):
            overwrite_partition(spark, pt, lake.ticks_daily, partition_by=["year", "month"])
        else:
            write_partitioned(pt, lake.ticks_daily, partition_by=["year", "month"])
        return {"ticks_landed": pt.count()}
    finally:
        pt.unpersist()


N_SYM_BUCKETS = 64  # derived-table partition count: pmod(hash(symbol), N)


def _sym_bucket(col: Column, n_buckets: int = N_SYM_BUCKETS) -> Column:
    return F.pmod(F.hash(col), F.lit(n_buckets))


def update_fundamentals(
    spark: SparkSession, lake: LakePaths, raw: DataFrame, *, incremental: bool = True,
    n_buckets: int = N_SYM_BUCKETS, report_counts: bool = True,
) -> dict:
    """Stage 7 (F1-F3 + I4 + W1 + metrics): normalize raw datapoints, append
    fresh rows, rebuild the derived TTM/metrics tables.

    ``incremental=True`` (the 100 TB shape): derived tables are partitioned
    by ``sym_bucket = pmod(hash(symbol), 64)``; only the buckets touched by
    today's appended symbols are recomputed and dynamic-overwritten — a day
    touching 1% of symbols reads ~1% of the fundamental lake (bucket filter
    pushes to the scan) and rewrites ~those buckets, instead of rebuilding
    the whole derived tier.  Falls back to a full rebuild on the first run
    (no derived tables yet) or when ``incremental=False``."""
    from us_equity_datalake_spark.sources.lake import read_table_metadata, write_table_metadata

    fund_long = normalize_fundamental(raw).withColumn(
        "sym_bucket", _sym_bucket(F.col("symbol"), n_buckets)
    )
    # fund_long has up to three consumers (the touched-buckets collect, the
    # append's anti-join probe, the append write) — materialize so the
    # normalize+dedup lineage runs once per day, not once per consumer
    # (ADVICE r5).  materialize_once, NOT a bare persist: the cache manager
    # compiles cached plans without AQE partition coalescing, so a persist
    # materialized the whole normalize chain at full shuffle width on a
    # day-sized batch; this runs it once through the normal AQE path and
    # the consumers read the day-sized blocks (cluster-safe fallback
    # inside the helper — ADVICE r12).
    fund_long = materialize_once(fund_long)
    # Pre-migration guard: a fundamental lake written before bucket
    # partitioning carries no sym_bucket column, and a lake written with a
    # DIFFERENT bucket count (ADVICE r4: pmod(hash,16) rows appended into a
    # pmod(hash,64) layout would silently corrupt the derived tier — the
    # 'touched' filter would prune the wrong partitions).  The bucket count
    # is therefore persisted in the lake's metadata sidecar on every write
    # and validated HERE: any mismatch (including a missing sidecar, which
    # means the layout's modulus is unknowable from the values alone — bucket
    # ids 0..15 are consistent with ANY modulus >= 16) self-heals by
    # rewriting the lake with the requested modulus and forcing a full
    # derived rebuild this run.
    import shutil

    base = lake.fundamental.rstrip("/")
    tmp, old = base + ".__migrate_tmp", base + ".__replaced"
    # Crash recovery for the migrate protocol below (deterministic names so a
    # restarted job can always finish or undo a half-done swap):
    #   - live missing + .__replaced present = crash between the two renames;
    #     restore the original and let the migration re-run from scratch
    #   - live present + .__replaced present = crash before the final cleanup;
    #     the swap completed, drop the retired copy
    #   - a leftover .__migrate_tmp is always safe to discard (never live)
    if not os.path.exists(lake.fundamental) and os.path.exists(old):
        os.rename(old, lake.fundamental)
    elif os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(tmp):
        shutil.rmtree(tmp)

    # The lake is listed ONCE per call (64 bucket directories put every
    # listing past Spark's parallel-discovery threshold: a Spark job each).
    # This one read serves the migration guard, the dedup probe inside the
    # append and — unioned with the appended rows — the derived rebuild.
    existing = (
        spark.read.parquet(lake.fundamental) if _table_exists(lake.fundamental) else None
    )
    if existing is not None:
        meta = read_table_metadata(lake.fundamental) or {}
        if "sym_bucket" not in existing.columns or meta.get("n_sym_buckets") != n_buckets:
            # Migrate via write-aside + two renames (NOT rmtree-then-rename:
            # a crash after the rmtree would lose the whole raw lake).  Every
            # intermediate state is recoverable by the preamble above.
            write_partitioned(
                existing.drop("sym_bucket").withColumn(
                    "sym_bucket", _sym_bucket(F.col("symbol"), n_buckets)
                ),
                tmp,
                partition_by=["sym_bucket"],
            )
            os.rename(lake.fundamental, old)
            os.rename(tmp, lake.fundamental)
            shutil.rmtree(old)
            incremental = False
            # the migration moved every file: the only second listing
            existing = spark.read.parquet(lake.fundamental)
    # the batch's touched buckets, computed ONCE: they prune both the dedup
    # probe inside the append (key = (symbol, ...) and bucket = f(symbol), so
    # keys outside these partitions cannot collide with the batch — the
    # existing_filter contract in read_check_append) and the derived rebuild.
    # Skipped on a fresh lake (nothing to probe, full rebuild anyway).
    touched: list | None = None
    if existing is not None:
        touched = sorted(
            r.sym_bucket for r in fund_long.select("sym_bucket").distinct().collect()
        )
    appended, fresh = read_check_append(
        spark, fund_long, lake.fundamental, keys=["symbol", "concept", "frame", "accn"],
        partition_by=["sym_bucket"],
        existing_filter=F.col("sym_bucket").isin(touched) if touched else None,
        existing=existing, return_fresh=True,
    )
    if existing is None and not appended:
        # empty fetch day on a fresh lake: nothing was ever written — skip the
        # derived rebuild instead of crashing on a missing path
        return {"fundamental_appended": 0, "ttm_rows": 0, "metric_rows": 0}
    # stamp the layout modulus the lake was (re)written with — the guard
    # above validates against this on every subsequent call
    write_table_metadata(spark, lake.fundamental, {"n_sym_buckets": n_buckets})

    do_incremental = (
        incremental and touched is not None and _exists(lake.ttm) and _exists(lake.metrics)
    )
    # the pre-append read plus the rows the append just landed (materialized
    # blocks) is exactly the post-append table, without listing it again
    full = fresh if existing is None else existing.unionByName(fresh)
    if do_incremental:
        report_buckets = len(touched)
        full = full.filter(F.col("sym_bucket").isin(touched))  # partition-pruned scan
    else:
        report_buckets = n_buckets

    duration = full.filter(~F.col("is_instant"))
    stock = full.filter(F.col("is_instant")).select("symbol", "as_of_date", "concept", "value")
    ttm = compute_ttm_long(duration).withColumn(
        "sym_bucket", _sym_bucket(F.col("symbol"), n_buckets)
    )
    # ttm has TWO consumers — the lake write and the metrics derivation — and
    # without materialization each re-runs the rolling-window chain over the
    # (pruned) fundamental scan: 2x the heaviest compute of the rebuild at
    # any scale.  materialize_once (same AQE-on-cache rationale as
    # fund_long above) materializes it once for both.
    ttm = materialize_once(ttm)
    metrics = compute_metrics_long(
        ttm.select("symbol", "as_of_date", "concept", "value"), stock
    ).withColumn("sym_bucket", _sym_bucket(F.col("symbol"), n_buckets))
    # The ttm write and the metrics derive+write are INDEPENDENT once ttm is
    # materialized (metrics reads ttm's blocks, both land at different
    # paths): submit them from two driver threads so the metrics plan build
    # + write overlaps the ttm write's tail instead of waiting it out
    # (guide §2.6).  The partitionOverwriteMode conf is session-wide, NOT
    # thread-local, so ONE dynamic-mode scope wraps both concurrent writes —
    # per-thread enter/exit could restore "static" mid-write and turn the
    # racing overwrite into a whole-table replace.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    from us_equity_datalake_spark.sources.lake import _partition_overwrite_dynamic

    @inheritable_thread_target
    def _land(df, path):
        # inheritable_thread_target: the worker thread inherits the caller's
        # JVM-thread-local properties (job description/group), so these jobs
        # stay attributable in the UI/event log
        write_partitioned(df, path, partition_by=["sym_bucket"])

    def _land_both():
        # pool INSIDE any conf scope: pool-exit joins both threads BEFORE the
        # scope restores the conf, so a failure in one write can never flip
        # the other, still-running overwrite back to static mid-flight
        with ThreadPoolExecutor(max_workers=2) as pool:
            futs = [pool.submit(_land, ttm, lake.ttm),
                    pool.submit(_land, metrics, lake.metrics)]
        # surface every failure: raise the first, and log the other (with its
        # traceback) and note it on the raised one, so neither is lost
        failed = [e for e in (f.exception() for f in futs) if e is not None]
        for other in failed[1:]:
            _log.error("concurrent derived write also failed", exc_info=other)
            failed[0].add_note(f"the concurrent derived write also failed: {other!r}")
        if failed:
            raise failed[0]

    if do_incremental:
        with _partition_overwrite_dynamic(spark):
            _land_both()
    else:
        _land_both()

    def _count(path: str) -> int:
        # a zero-row partitioned write leaves no schema-bearing files, so the
        # readback cannot infer a schema — that is simply 0 rows
        return spark.read.parquet(path).count() if _table_exists(path) else 0

    return {
        "fundamental_appended": appended,
        "derived_buckets_rebuilt": report_buckets,
        # readback counts are report-only (two extra read jobs); callers that
        # immediately re-read the lake anyway (the oracle-gated round-trip)
        # skip them
        "ttm_rows": _count(lake.ttm) if report_counts else -1,
        "metric_rows": _count(lake.metrics) if report_counts else -1,
    }


def update_security_master(
    spark: SparkSession,
    lake: LakePaths,
    current_symbols: list[str],
    figi_map: DataFrame,
    *,
    target_date: str,
    grace_period_days: int = 14,
) -> dict:
    """Stage 1b (reference update_no_wrds, security_master.py:1198-1410): apply
    the extend/rebrand/IPO/delist rules against the persisted master using the
    persisted prev-universe state, then re-land both.  First run bootstraps:
    the current universe becomes both the baseline state and (if no master
    exists) the initial one-row-per-symbol master.

    ``current_symbols`` is today's (filtered) universe as a list of symbols —
    the ticker list stage 1 already holds on the driver — so every use of it
    below is a local relation, not a re-derivation of the universe filter.
    The rule plan runs exactly once: one eager checkpoint, then one count
    over its blocks yields both the row and the new-row totals."""
    import datetime as _dt

    from us_equity_datalake_spark.equity.security_master import ID_BASE, update_universe as _apply

    symbols = sorted(set(current_symbols))
    state = read_json_state(lake.universe_state + ".master") or {}
    prev_syms, prev_date = state.get("tickers"), state.get("asof")

    if _exists(lake.security_master):
        master = spark.read.parquet(lake.security_master)
    else:
        # one row per symbol, sequential ids from ID_BASE + 1 in symbol order
        today = _dt.date.fromisoformat(target_date)
        master = local_frame(
            spark,
            [(ID_BASE + i, None, sym, "", None, None, today, today)
             for i, sym in enumerate(symbols, 1)],
            "security_id long, permno int, symbol string, company string, cik string, "
            "cusip string, start_date date, end_date date",
        )

    if prev_syms is None:
        updated = master.withColumn("__new", F.lit(False))  # bootstrap: no diff yet
    else:
        applied = _apply(
            master,
            local_frame(spark, [(s,) for s in prev_syms], "symbol string"),
            local_frame(spark, [(s,) for s in symbols], "symbol string"),
            figi_map,
            today=target_date,
            prev_date=prev_date,
            grace_period_days=grace_period_days,
        )
        # Crash-recovery idempotence: the master parquet (below) and the state
        # JSON land non-atomically; a crash between them replays today's diff
        # against an ALREADY-updated master on restart.  Appended rows are
        # exactly those not in master on (security_id, symbol, start_date) —
        # existing rows only ever change end_date, continuations reuse the id
        # with a new symbol, IPOs get fresh ids.  A replayed continuation is
        # bit-identical to a master row (kept, deduped below); a replayed IPO
        # re-mints a HIGHER id for a (symbol, start_date) master already
        # holds — drop it.  One join against the ids master holds per
        # (symbol, start_date) decides both, so the plan embeds _apply once.
        held = master.groupBy("symbol", "start_date").agg(
            F.collect_set("security_id").alias("__held_ids")
        )
        in_master = F.coalesce(F.array_contains("__held_ids", F.col("security_id")), F.lit(False))
        updated = (
            applied.join(held, ["symbol", "start_date"], "left")
            .filter(in_master | F.col("__held_ids").isNull())
            .select(*master.columns, (~in_master).alias("__new"))
            # a replayed continuation appears twice WITHIN the result (it and
            # the master row _apply passed through) — (security_id, symbol,
            # start_date) is the master's natural key, dedup on it
            .dropDuplicates(["security_id", "symbol", "start_date"])
        )

    # land via overwrite (the master is one logical partition, dimension-sized).
    # localCheckpoint severs lineage from the files being replaced — a plain
    # cache could recompute from the just-deleted parquet on block eviction
    updated = updated.localCheckpoint(eager=True)
    n_rows, n_changes = updated.agg(
        F.count(F.lit(1)), F.coalesce(F.sum(F.col("__new").cast("int")), F.lit(0))
    ).first()  # n_changes: rebrand continuations + IPOs
    updated.drop("__new").write.mode("overwrite").parquet(lake.security_master)
    # Stamp the export sidecar the way the reference stamps custom parquet
    # metadata on every master export (security_master.py:831-840:
    # crsp_end_date / export_timestamp / row_count) — the staleness check in
    # :func:`load_security_master` short-circuits on it.
    import time as _time

    from us_equity_datalake_spark.sources.lake import write_table_metadata

    write_table_metadata(
        spark,
        lake.security_master,
        {"asof": target_date, "export_timestamp": _time.time(), "row_count": n_rows},
    )
    os.makedirs(os.path.dirname(lake.universe_state), exist_ok=True)
    write_json_state(lake.universe_state + ".master", {"asof": target_date, "tickers": symbols})
    return {"master_rows": n_rows, "master_new_rows": n_changes}


def load_security_master(
    spark: SparkSession,
    lake: LakePaths,
    *,
    target_date: str,
    max_staleness_days: int = 7,
    rebuild=None,
):
    """The reference's S3 fast path (security_master.py:219-247): load the
    persisted master parquet IF its export sidecar says it is fresh enough
    for ``target_date``; otherwise invoke ``rebuild()`` (a callable returning
    the rebuilt DataFrame), land it, re-stamp, and return that.

    Freshness = sidecar exists, carries an ``asof``, and ``target_date`` is
    within ``max_staleness_days`` after it (an asof in the future relative to
    target_date also counts as fresh — the master already covers the date).
    Returns ``(df, "fast" | "rebuilt")``; raises if stale and no ``rebuild``
    was provided (matching the reference's hard failure when neither cache
    nor WRDS is reachable)."""
    import datetime as _dt

    from us_equity_datalake_spark.sources.lake import read_table_metadata, write_table_metadata

    meta = read_table_metadata(lake.security_master)
    if meta and meta.get("asof") and _exists(lake.security_master):
        age = (
            _dt.date.fromisoformat(target_date) - _dt.date.fromisoformat(meta["asof"])
        ).days
        if age <= max_staleness_days:
            return spark.read.parquet(lake.security_master), "fast"
    if rebuild is None:
        raise RuntimeError(
            f"security master at {lake.security_master} is missing or stale "
            f"(sidecar: {meta}) and no rebuild source was provided"
        )
    df = rebuild().localCheckpoint(eager=True)
    n = df.count()
    df.write.mode("overwrite").parquet(lake.security_master)
    import time as _time

    write_table_metadata(
        spark,
        lake.security_master,
        {"asof": target_date, "export_timestamp": _time.time(), "row_count": n},
    )
    return spark.read.parquet(lake.security_master), "rebuilt"


RELEVANT_FORMS = ["10-K", "10-Q", "10-K/A", "10-Q/A", "8-K"]


def recent_filings_window(filings: DataFrame, *, target_date: str, lookback_days: int = 7) -> DataFrame:
    """I2 (app.py:154-206 get_recent_edgar_filings): the late-data re-check —
    keep filings whose filing_date falls inside the trailing ``lookback_days``
    window and whose form type is relevant (10-K/10-Q/amendments/8-K).

    The reference polls EDGAR per CIK; data-plane equivalent here: the ingest
    edge lands the full submissions feed and this filter selects the re-check
    slice.  Rows already processed are deduped downstream by the I4 anti-join
    append, so re-landing the window is idempotent by construction.
    """
    cutoff = F.date_sub(F.lit(target_date).cast("date"), lookback_days)
    return filings.filter(
        (F.col("filing_date") >= cutoff)
        & (F.col("filing_date") <= F.lit(target_date).cast("date"))
        & F.col("filing_type").isin(RELEVANT_FORMS)
    )


def update_late_filings(
    spark: SparkSession,
    lake: LakePaths,
    filings: DataFrame,
    *,
    target_date: str,
    lookback_days: int = 7,
) -> dict:
    """Stage 9 (I2): re-process the trailing filing window.  A filing that
    arrived late (filed days ago, fetched today) flows through the same
    chunk→score→aggregate path; the anti-join append makes the overlap free."""
    window = recent_filings_window(filings, target_date=target_date, lookback_days=lookback_days)
    out = update_sentiment(spark, lake, window)
    return {"late_filings_appended": out["filings_appended"]}


def update_sentiment(spark: SparkSession, lake: LakePaths, filings: DataFrame) -> dict:
    """Stage 8 (N3/N4/A10-A12 + I4): chunk → score (per-executor model
    singleton) → filing-level aggregate → anti-join append on accession."""
    chunks = filings.select(
        "cik", "accession_number", F.explode(chunk_text_udf(F.col("text"))).alias("chunk")
    )
    scored = score_chunks(chunks)
    wide = aggregate_filing_sentiment(scored, filings)
    appended = read_check_append(spark, wide, lake.sentiment, keys=["cik", "accession_number"])
    return {"filings_appended": appended}


def run_daily_update(
    spark: SparkSession,
    lake: LakePaths,
    *,
    target_date: str,
    universe_snapshot: DataFrame | None = None,
    figi_map: DataFrame | None = None,
    ticks_batch: DataFrame | None = None,
    fundamental_raw: DataFrame | None = None,
    filings: DataFrame | None = None,
    filings_feed: DataFrame | None = None,
    lookback_days: int = 7,
    calendar: DataFrame | None = None,
) -> dict:
    """The full §3.1 sequence.  Stages with no input are skipped (the
    reference skips stages the same way on empty fetches)."""
    report: dict = {"target_date": target_date}
    if calendar is not None:
        is_open = calendar.filter(F.col("date") == F.lit(target_date).cast("date")).count() > 0
        report["market_open"] = is_open
        if not is_open:  # app.py:136-145: nothing to do on holidays
            return report
    if universe_snapshot is not None:
        report.update(update_universe(spark, lake, universe_snapshot, target_date=target_date))
        if figi_map is not None:
            # stage 1b: lifecycle rules against the persisted master — uses the
            # FILTERED universe (same common-stock gate as stage 1): the ticker
            # list stage 1 just collected and persisted, not a re-filter
            tickers = read_json_state(lake.universe_state)["tickers"]
            report.update(
                update_security_master(spark, lake, tickers, figi_map, target_date=target_date)
            )
    if ticks_batch is not None:
        report.update(update_top3000(lake, ticks_batch))
        report.update(update_daily_ticks(spark, lake, ticks_batch))
    if fundamental_raw is not None:
        report.update(update_fundamentals(spark, lake, fundamental_raw))
    if filings is not None:
        report.update(update_sentiment(spark, lake, filings))
    if filings_feed is not None:
        # I2: late-data lookback — re-land the trailing 7-day filing window;
        # overlap with already-processed filings is deduped by the I4 append
        report.update(
            update_late_filings(
                spark, lake, filings_feed, target_date=target_date, lookback_days=lookback_days
            )
        )
    return report
