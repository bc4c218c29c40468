"""The timed loop's pass rule, and spans, Spark event-log jobs and /proc
counters turned into metrics.

Everything here is pure Python over plain data, so it is unit-tested
without Spark:

* :func:`another_pass` -- how many passes a run times;
* :func:`tail_percentile` / :func:`op_tail` -- the percentile rule for
  ``op_tail_s``;
* :func:`parse_event_log` -- jobs, stages and tasks from a Spark event log;
* :func:`layer_metrics` -- the per-layer ledger of one traced pass.
"""

from __future__ import annotations

import json
import math
import os
import statistics

from perfbench.trace import outermost, self_time, union_length

# ---------------------------------------------------------------------------
# percentiles
# ---------------------------------------------------------------------------

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_BEYOND = 10


def tail_percentile(n: int) -> "float | None":
    """The highest percentile on :data:`TAIL_LADDER` that leaves at least
    :data:`TAIL_BEYOND` of ``n`` samples above it, or ``None`` if none does."""
    for p in TAIL_LADDER:
        if n - math.ceil(n * p / 100.0) >= TAIL_BEYOND:
            return p
    return None


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``% of
    the samples at or below it."""
    xs = sorted(values)
    k = max(1, math.ceil(len(xs) * p / 100.0))
    return xs[k - 1]


def op_tail(latencies) -> "dict | None":
    """``{"value", "percentile", "samples"}`` for ``op_tail_s``, or ``None``
    when there are too few samples for any percentile on the ladder."""
    p = tail_percentile(len(latencies))
    if p is None:
        return None
    return {"value": percentile(latencies, p), "percentile": p, "samples": len(latencies)}


def another_pass(elapsed: float, last: float, seconds: float, done: int, least: int,
                 most: "int | None" = None) -> bool:
    """Whether the timed loop starts another pass: until ``least`` passes
    are ``done``, then only while one more pass as long as the ``last`` is
    expected to end within ``seconds`` and fewer than ``most`` are done.
    Fitting whole passes keeps the pass count away from the threshold a
    pass-length-near-``seconds`` would sit on; ``most`` keeps it the same
    on a fast and a slow machine, which matters because ops get faster pass
    over pass while the JVM warms, so a run that fits one pass more would
    report a lower median."""
    return done < least or ((most is None or done < most) and elapsed + last <= seconds)


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def event_log_files(log_dir: str) -> list:
    out = []
    for root, _dirs, files in os.walk(log_dir):
        out += [os.path.join(root, f) for f in files if not f.startswith(".")]
    return sorted(out)


def parse_event_log(lines) -> dict:
    """Jobs (epoch-second intervals), completed stages and finished tasks
    from event-log JSON lines."""
    jobs: dict = {}
    stages, tasks = [], []
    for line in lines:
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {"start": ev["Submission Time"] / 1000.0, "end": None}
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if info.get("Completion Time"):
                stages.append({"end": info["Completion Time"] / 1000.0})
        elif kind == "SparkListenerTaskEnd":
            metrics = ev.get("Task Metrics") or {}
            shuffle = (metrics.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            tasks.append({"end": ev["Task Info"]["Finish Time"] / 1000.0, "shuffle_bytes": shuffle})
    finished = [j for j in jobs.values() if j["end"] is not None]
    return {"jobs": finished, "stages": stages, "tasks": tasks}


# ---------------------------------------------------------------------------
# the per-layer ledger
# ---------------------------------------------------------------------------

SNAPSHOT_KINDS = ("commit", "mutate", "maintain", "read", "feed")
STREAM_DURATIONS = {"addBatch": "add_batch", "getBatch": "get_batch",
                    "queryPlanning": "query_planning", "walCommit": "wal_commit"}
DAILY_STAGES = {
    "update_universe": "universe", "update_security_master": "security_master",
    "update_top3000": "top3000", "update_daily_ticks": "ticks",
    "update_fundamentals": "fundamentals", "update_sentiment": "sentiment",
    "update_late_filings": "late_filings",
}


def snapshot_kind(name: str) -> str:
    """Classify a ``sources/snapshots.py`` public function."""
    if name.startswith("commit") or name in ("recover_transactions", "abort_transaction"):
        return "commit"
    if name.startswith(("change_feed", "stage_", "log_replay", "incremental_rows")):
        return "feed"
    if name in ("optimize", "compact_files", "vacuum"):
        return "maintain"
    if name.startswith(("read_", "latest_", "history", "table_count", "version_asof")):
        return "read"
    return "mutate"


def layer_metrics(spans, ops, jobs_log, *, io_mb=(0.0, 0.0), input_mb=0.0) -> dict:
    """Per-layer metrics of one traced pass.

    ``spans``: every span recorded during the pass; ``ops``: the pass's
    ``{"id", "start", "end", "report"}`` records; ``jobs_log``: the parsed
    event log (jobs/stages/tasks are attributed to an op by its time window,
    since ops run one at a time); ``io_mb``: (write, read) MB moved by the
    driver and its JVM during the pass; ``input_mb``: generated input MB the
    pass consumed."""
    m: dict = {}
    by_id = {s.id: s for s in spans}

    plans = [s for s in spans if s.layer == "plans"]
    m["plans.build_s"] = sum(self_time(s, spans) for s in plans)
    m["plans.build_calls"] = len(plans)

    windows = [(o["start"], o["end"]) for o in ops]

    def in_window(t: float) -> bool:
        return any(a <= t <= b for a, b in windows)

    in_job = gap = 0.0
    jobs = [j for j in jobs_log["jobs"] if in_window(j["start"])]
    for a, b in windows:
        covered = union_length([(j["start"], j["end"]) for j in jobs], a, b)
        in_job += covered
        gap += (b - a) - covered
    tasks = [t for t in jobs_log["tasks"] if in_window(t["end"])]
    m["spark.action_s"] = sum(s.duration for s in spans if s.layer == "spark")
    m["spark.in_job_s"] = in_job
    m["spark.driver_gap_s"] = gap
    m["spark.jobs"] = len(jobs)
    m["spark.stages"] = sum(1 for s in jobs_log["stages"] if in_window(s["end"]))
    m["spark.tasks"] = len(tasks)
    m["spark.shuffle_write_mb"] = sum(t["shuffle_bytes"] for t in tasks) / 1e6

    snaps = [s for s in spans if s.layer == "snapshots"]
    for kind in SNAPSHOT_KINDS:
        m[f"snapshots.{kind}_s"] = 0.0
        m[f"snapshots.{kind}_calls"] = 0
    for s in outermost(snaps, "snapshots"):
        kind = snapshot_kind(s.name)
        m[f"snapshots.{kind}_s"] += s.duration
        m[f"snapshots.{kind}_calls"] += 1
    m["snapshots.commit_conflicts"] = sum(
        1 for s in snaps if snapshot_kind(s.name) == "commit" and s.error == "ConcurrentWriteError"
    )

    runs = [s for s in spans if s.layer == "streaming"]
    m["streaming.run_s"] = sum(s.duration for s in runs)
    m["streaming.runs"] = len(runs)
    m["streaming.batches"] = sum(s.attrs.get("batches", 0) for s in runs)
    m["streaming.input_rows"] = sum(s.attrs.get("input_rows", 0) for s in runs)
    for key in STREAM_DURATIONS.values():
        m[f"streaming.{key}_s"] = sum(s.attrs.get(key, 0.0) for s in runs) / 1000.0

    lake = outermost([s for s in spans if s.layer == "lake"], "lake")
    m["lake.write_s"] = sum(s.duration for s in lake)
    m["lake.write_calls"] = len(lake)

    for stage in DAILY_STAGES.values():
        m[f"daily_job.{stage}_s"] = 0.0
    for s in spans:  # stages called by run_daily_update, not nested ones
        parent = by_id.get(s.parent)
        if s.name in DAILY_STAGES and parent is not None and parent.name == "run_daily_update":
            m[f"daily_job.{DAILY_STAGES[s.name]}_s"] += s.duration
    reports = [o["report"] for o in ops if o.get("report")]
    m["daily_job.buckets_rebuilt"] = sum(r.get("derived_buckets_rebuilt", 0) for r in reports)
    m["daily_job.rows_appended"] = sum(
        r.get(k, 0) for r in reports
        for k in ("fundamental_appended", "filings_appended", "late_filings_appended")
    )

    cache = outermost([s for s in spans if s.layer == "cache"], "cache")
    m["cache.materialize_s"] = sum(s.duration for s in cache)
    m["cache.materialize_calls"] = len(cache)

    write_mb, read_mb = io_mb
    m["io.write_mb"] = write_mb
    m["io.read_mb"] = read_mb
    m["io.write_amp"] = write_mb / input_mb if input_mb else 0.0
    return m
