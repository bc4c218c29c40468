"""The op_tail_s percentile rule, event-log parsing and the ledger."""

import json

import pytest

from perfbench.ledger import (
    another_pass, layer_metrics, op_tail, parse_event_log, percentile, snapshot_kind, tail_percentile,
)
from perfbench.trace import Span


@pytest.mark.parametrize("n,expected", [
    (5, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
    (100, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9),
])
def test_tail_percentile_leaves_ten_samples_beyond(n, expected):
    p = tail_percentile(n)
    assert p == expected
    if p is not None:
        xs = list(range(n))
        assert sum(1 for x in xs if x > percentile(xs, p)) >= 10


def test_op_tail_is_omitted_with_too_few_samples():
    assert op_tail([1.0] * 19) is None
    got = op_tail([float(i) for i in range(1, 41)])
    assert got == {"value": 30.0, "percentile": 75.0, "samples": 40}


@pytest.mark.parametrize("elapsed,last,done,least,expected", [
    (10.5, 10.5, 1, 1, False),  # one pass longer than --seconds: stop
    (9.4, 9.4, 1, 1, False),    # a second pass would end past --seconds
    (4.0, 4.0, 1, 1, True),     # a second pass fits
    (8.0, 4.0, 2, 1, False),
    (12.0, 12.0, 1, 2, True),   # a traced run needs an untraced and a traced pass
    (24.0, 12.0, 2, 2, False),
])
def test_another_pass_fits_whole_passes(elapsed, last, done, least, expected):
    assert another_pass(elapsed, last, 10.0, done, least) is expected


@pytest.mark.parametrize("done,least,expected", [
    (1, 1, True),   # a second pass fits and is allowed
    (2, 1, False),  # a third would fit too, but two is the most
    (2, 3, True),   # least wins over most
])
def test_another_pass_stops_at_most(done, least, expected):
    assert another_pass(2.0 * done, 2.0, 30.0, done, least, most=2) is expected


def test_percentile_nearest_rank():
    assert percentile([3, 1, 2, 4], 50) == 2
    assert percentile([3, 1, 2, 4], 75) == 3
    assert percentile([5], 99.9) == 5


def _event(kind, **kw):
    return json.dumps({"Event": kind, **kw})


def test_parse_event_log_keeps_finished_jobs_stages_and_tasks():
    lines = [
        _event("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1000}),
        _event("SparkListenerTaskEnd", **{"Task Info": {"Finish Time": 1500},
                                          "Task Metrics": {"Shuffle Write Metrics": {"Shuffle Bytes Written": 2_000_000}}}),
        _event("SparkListenerStageCompleted", **{"Stage Info": {"Completion Time": 1600}}),
        _event("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 2000}),
        _event("SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 3000}),  # never ends
        "not json",
    ]
    log = parse_event_log(lines)
    assert log["jobs"] == [{"start": 1.0, "end": 2.0}]
    assert log["stages"] == [{"end": 1.6}]
    assert log["tasks"] == [{"end": 1.5, "shuffle_bytes": 2_000_000}]


@pytest.mark.parametrize("name,kind", [
    ("commit", "commit"), ("commit_with_retry", "commit"), ("recover_transactions", "commit"),
    ("merge_upsert", "mutate"), ("delete_where_dv", "mutate"), ("clone", "mutate"),
    ("optimize", "maintain"), ("vacuum", "maintain"),
    ("read_version_where", "read"), ("latest_version", "read"), ("history", "read"),
    ("change_feed_row_ids", "feed"), ("stage_change_feed_files", "feed"),
])
def test_snapshot_kinds(name, kind):
    assert snapshot_kind(name) == kind


def test_layer_metrics_attributes_jobs_by_op_window_and_splits_layers():
    ops = [{"id": 1, "start": 10.0, "end": 20.0, "report": None},
           {"id": 2, "start": 30.0, "end": 34.0,
            "report": {"derived_buckets_rebuilt": 5, "fundamental_appended": 7, "filings_appended": 1}}]
    spans = [
        Span(1, "plans", "q", 10.0, 15.0, op=1),
        Span(2, "snapshots", "merge_upsert", 11.0, 14.0, parent=1, op=1),
        Span(3, "snapshots", "commit", 12.0, 13.0, parent=2, op=1, error="ConcurrentWriteError"),
        Span(4, "spark", "noop_write", 15.0, 20.0, op=1),
        Span(5, "streaming", "awaitTermination", 16.0, 18.0, op=1,
             attrs={"batches": 2, "input_rows": 9, "add_batch": 500.0}),
        Span(6, "daily_job", "run_daily_update", 30.0, 34.0, op=2),
        Span(7, "daily_job", "update_late_filings", 31.0, 33.0, parent=6, op=2),
        Span(8, "daily_job", "update_sentiment", 31.5, 32.5, parent=7, op=2),
        Span(9, "lake", "read_check_append", 32.0, 32.5, parent=8, op=2),
    ]
    jobs = {"jobs": [{"start": 12.0, "end": 14.0}, {"start": 13.0, "end": 16.0},
                     {"start": 25.0, "end": 26.0}],  # between ops: not attributed
            "stages": [{"end": 14.0}, {"end": 26.0}],
            "tasks": [{"end": 14.0, "shuffle_bytes": 1_000_000}, {"end": 26.0, "shuffle_bytes": 5}]}
    m = layer_metrics(spans, ops, jobs, io_mb=(4.0, 2.0), input_mb=2.0)
    assert m["plans.build_s"] == pytest.approx(2.0) and m["plans.build_calls"] == 1
    assert m["spark.jobs"] == 2 and m["spark.stages"] == 1 and m["spark.tasks"] == 1
    assert m["spark.in_job_s"] == pytest.approx(4.0)
    assert m["spark.driver_gap_s"] == pytest.approx(6.0 + 4.0)
    assert m["spark.shuffle_write_mb"] == pytest.approx(1.0)
    assert m["spark.action_s"] == pytest.approx(5.0)
    assert m["snapshots.mutate_calls"] == 1 and m["snapshots.commit_calls"] == 0
    assert m["snapshots.mutate_s"] == pytest.approx(3.0)
    assert m["snapshots.commit_conflicts"] == 1
    assert m["streaming.runs"] == 1 and m["streaming.batches"] == 2
    assert m["streaming.add_batch_s"] == pytest.approx(0.5)
    assert m["daily_job.late_filings_s"] == pytest.approx(2.0)
    assert m["daily_job.sentiment_s"] == 0.0  # nested in late_filings, not a stage call
    assert m["daily_job.buckets_rebuilt"] == 5 and m["daily_job.rows_appended"] == 8
    assert m["lake.write_calls"] == 1 and m["cache.materialize_calls"] == 0
    assert m["io.write_amp"] == pytest.approx(2.0)


def test_layer_metrics_reports_zeros_for_bypassed_layers():
    m = layer_metrics([], [{"id": 1, "start": 0.0, "end": 1.0, "report": None}],
                      {"jobs": [], "stages": [], "tasks": []})
    assert all(v == 0 for k, v in m.items() if k != "spark.driver_gap_s")
    assert m["spark.driver_gap_s"] == pytest.approx(1.0)
