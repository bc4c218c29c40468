"""Incremental lake-write patterns: idempotent partition overwrite (I3),
read-check-append dedup upsert (I4), compaction (I5) — FIXTURES.md
invariant 5: re-running consolidation yields an identical table."""

import datetime as dt
import glob

import pytest
from pyspark.sql import Row, functions as F

from us_equity_datalake_spark.sources.lake import (
    compact_partition,
    overwrite_partition,
    read_check_append,
    read_table_metadata,
    write_partitioned,
    write_table_metadata,
)


def _ticks(spark, year, n=10, base=100.0):
    rows = [
        Row(security_id=1001, timestamp=dt.date(year, 1 + i % 12, 1 + i % 28),
            close=base + i, volume=1000 + i, year=year)
        for i in range(n)
    ]
    return spark.createDataFrame(rows)


def _snapshot(spark, path):
    return sorted(
        tuple(r) for r in spark.read.parquet(path).select("security_id", "timestamp", "close", "volume").collect()
    )


def test_overwrite_partition_idempotent(spark, tmp_path):
    path = str(tmp_path / "ticks")
    write_partitioned(_ticks(spark, 2023).unionByName(_ticks(spark, 2024)), path, partition_by=["year"])
    before = _snapshot(spark, path)

    # re-land 2024 with identical data: table unchanged (idempotent, I3)
    overwrite_partition(spark, _ticks(spark, 2024), path, partition_by=["year"])
    assert _snapshot(spark, path) == before

    # re-land 2024 with changed data: ONLY 2024 replaced
    overwrite_partition(spark, _ticks(spark, 2024, base=200.0), path, partition_by=["year"])
    after = spark.read.parquet(path)
    assert after.filter("year = 2023").agg(F.min("close")).first()[0] == 100.0
    assert after.filter("year = 2024").agg(F.min("close")).first()[0] == 200.0


def test_read_check_append_dedups_by_key(spark, tmp_path):
    path = str(tmp_path / "sentiment")
    first = spark.createDataFrame([Row(accession_number="a1", value=1.0), Row(accession_number="a2", value=2.0)])
    assert read_check_append(spark, first, path, keys=["accession_number"]) == 2
    again = spark.createDataFrame([Row(accession_number="a2", value=99.0), Row(accession_number="a3", value=3.0)])
    assert read_check_append(spark, again, path, keys=["accession_number"]) == 1  # only a3 fresh
    out = {r["accession_number"]: r["value"] for r in spark.read.parquet(path).collect()}
    assert out == {"a1": 1.0, "a2": 2.0, "a3": 3.0}  # a2 NOT clobbered (I4)


def test_compaction_preserves_data_and_reduces_files(spark, tmp_path):
    path = str(tmp_path / "ticks")
    df = _ticks(spark, 2023, n=40).repartition(8)
    # files_per_partition=None: this test MANUFACTURES a fragmented layout;
    # the default write clustering would coalesce it to one file per partition
    write_partitioned(df, path, partition_by=["year"], files_per_partition=None)
    before = _snapshot(spark, path)
    n_files_before = len(glob.glob(f"{path}/year=2023/*.parquet"))
    assert n_files_before > 1

    compact_partition(spark, path, partition_by=["year"], predicate="year = 2023", target_files=1)
    assert _snapshot(spark, path) == before  # byte-identical contents
    assert len(glob.glob(f"{path}/year=2023/*.parquet")) == 1


def test_table_metadata_sidecar(tmp_path):
    path = str(tmp_path / "master")
    write_table_metadata(None, path, {"crsp_end_date": "2024-12-31", "row_count": 50000})
    assert read_table_metadata(path)["row_count"] == 50000
    assert read_table_metadata(str(tmp_path / "nope")) is None


def test_consolidate_year_moves_hot_to_history_with_safeguard(spark, tmp_path):
    """Reference update/app.py:447-607: completed year moves from the hot
    monthly layout into history; re-consolidating the same year fails
    without force; force re-lands it idempotently; hot files are deleted."""
    import datetime as dt

    import pytest as _pytest
    from pyspark.sql import Row

    from us_equity_datalake_spark.sources.lake import consolidate_year, write_partitioned

    hot, hist = str(tmp_path / "hot"), str(tmp_path / "history")
    ticks = spark.createDataFrame(
        [
            Row(security_id=1, timestamp=dt.datetime(2024, m, 5, 15, 30), close=float(m), year=2024, month=m)
            for m in (1, 2, 3)
        ]
        + [Row(security_id=1, timestamp=dt.datetime(2025, 1, 6, 15, 30), close=99.0, year=2025, month=1)]
    )
    write_partitioned(ticks, hot, partition_by=["year", "month"])

    out = consolidate_year(spark, hot, hist, year=2024)
    assert out == {"rows": 3, "status": "consolidated"}
    assert spark.read.parquet(hist).filter("year = 2024").count() == 3
    import os as _os

    assert not _os.path.exists(_os.path.join(hot, "year=2024"))   # hot cleaned
    assert _os.path.exists(_os.path.join(hot, "year=2025"))       # other years untouched

    # safeguard: year already in history and no hot files -> skipped (no dir);
    # re-land the hot year to trigger the force check
    write_partitioned(ticks.filter("year = 2024"), hot, partition_by=["year", "month"], mode="append")
    with _pytest.raises(ValueError, match="force"):
        consolidate_year(spark, hot, hist, year=2024)
    out = consolidate_year(spark, hot, hist, year=2024, force=True)
    assert out["status"] == "consolidated"
    assert spark.read.parquet(hist).filter("year = 2024").count() == 3  # idempotent, no dupes


def test_read_hot_cold_router_after_consolidation(spark, tmp_path):
    """After consolidation, the hot+history union serves the full range and a
    year predicate prunes to one side's partitions."""
    import datetime as dt

    from pyspark.sql import Row

    from us_equity_datalake_spark.equity.ticks import read_hot_cold
    from us_equity_datalake_spark.sources.lake import consolidate_year, write_partitioned

    hot, hist = str(tmp_path / "hot2"), str(tmp_path / "history2")
    rows = [
        Row(security_id=1, timestamp=dt.datetime(2024, m, 5, 15, 30), close=float(m), year=2024, month=m)
        for m in (1, 2)
    ] + [Row(security_id=1, timestamp=dt.datetime(2025, 1, 6, 15, 30), close=9.0, year=2025, month=1)]
    write_partitioned(spark.createDataFrame(rows), hot, partition_by=["year", "month"])
    consolidate_year(spark, hot, hist, year=2024)

    all_rows = read_hot_cold(spark, hot, hist)
    assert all_rows.count() == 3
    q = all_rows.filter("year = 2024")
    assert q.count() == 2
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan  # year predicate reaches both scans


def test_small_file_report_flags_fragmented_partition(spark, tmp_path):
    """I5 policy: many tiny files in one partition -> needs_compaction; after
    compact_partition the flag clears."""
    from pyspark.sql import Row

    from us_equity_datalake_spark.sources.lake import (
        compact_partition,
        small_file_report,
        write_partitioned,
    )

    path = str(tmp_path / "frag")
    df = spark.createDataFrame([Row(k=i, year=2024) for i in range(100)]).repartition(10)
    # bypass the default write clustering — the fragmentation IS the fixture
    write_partitioned(df, path, partition_by=["year"], files_per_partition=None)

    rep = {r["partition"]: r for r in small_file_report(spark, path)}
    frag = rep["year=2024"]
    assert frag["n_files"] == 10 and frag["needs_compaction"]

    compact_partition(spark, path, partition_by=["year"], predicate="year = 2024", target_files=1)
    rep2 = {r["partition"]: r for r in small_file_report(spark, path)}
    assert rep2["year=2024"]["n_files"] == 1
    assert not rep2["year=2024"]["needs_compaction"]
    assert spark.read.parquet(path).count() == 100


def test_exists_answers_from_the_file_system(spark, tmp_path):
    """_exists is True only for a committed table, answered by a file-system
    walk: False for a missing path, a zero-row partitioned write (no
    schema-bearing file) and a crashed write's leftover _temporary/ part
    file, and no call starts a Spark job."""
    import os
    import shutil
    import time

    from us_equity_datalake_spark.sources.lake import _exists

    committed, empty = str(tmp_path / "committed"), str(tmp_path / "empty")
    write_partitioned(_ticks(spark, 2024), committed, partition_by=["year"])
    write_partitioned(_ticks(spark, 2024).limit(0), empty, partition_by=["year"])
    assert os.path.isdir(empty)
    crashed = tmp_path / "crashed" / "_temporary" / "0" / "task_0"
    crashed.mkdir(parents=True)
    shutil.copy(glob.glob(f"{committed}/year=2024/*.parquet")[0], crashed / "part-00000.parquet")

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("lake-exists-probe", "_exists calls")
        got = {name: _exists(str(tmp_path / name))
               for name in ("missing", "committed", "empty", "crashed")}
        # control: a Spark read in a later group; listener events arrive in
        # order, so once its job is visible any job _exists started is too
        sc.setJobGroup("lake-exists-control", "a Spark read")
        spark.read.parquet(committed).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup("lake-exists-control") and time.time() < deadline:
        time.sleep(0.1)
    assert tracker.getJobIdsForGroup("lake-exists-control")
    assert got == {"missing": False, "committed": True, "empty": False, "crashed": False}
    assert tracker.getJobIdsForGroup("lake-exists-probe") == []
