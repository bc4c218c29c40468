"""Lake layout + incremental write patterns (SURVEY.md §1.4, §2.12).

The reference manages one-file-per-entity objects with hand-rolled hot/cold
routing (storage/pipeline/publishers.py:246-302; update/app.py:447-607).  The
Spark redesign is one logical table per entity, Hive-partitioned:

    ticks_daily/   partitioned by year          (hot: + month at ingest)
    ticks_minute/  partitioned by year, month
    fundamental/   partitioned by concept bucket or plain

with Catalyst partition pruning replacing the reference's manual month-file
routing (clients/ticks.py:235-292) — and three incremental write patterns:

- I3 idempotent overwrite: total refetch of the hot partition, dynamic
  partition overwrite (exactly-once by rewrite; update/app.py:296-445).
- I4 read-check-append: existing ∪ (new ⟕anti existing) by key — the
  MERGE-less dedup upsert (update/app.py:877-958).
- I5 compaction: rewrite a year partition into few large files
  (the Jan-1 consolidation, update/app.py:447-607).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from us_equity_datalake_spark.operators._cache import materialize_once


def _cluster_for_write(df: DataFrame, partition_by: list[str], files_per_partition: int | None) -> DataFrame:
    """Co-locate each output partition's rows before a partitioned write.

    Without this, EVERY upstream task writes a file into EVERY partition it
    holds rows for — an UpstreamTasks × Partitions small-file explosion (the
    incremental-maintenance fixture measured 32 tasks × 16 buckets → up to
    512 files per write).  A repartition on the partition columns makes it
    one task (= ``files_per_partition`` files) per partition; AQE coalesces
    the tiny shuffle.  ``files_per_partition=None`` skips the shuffle for
    callers that pre-arranged their layout."""
    if not partition_by or files_per_partition is None:
        return df
    cols = [F.col(c) for c in partition_by]
    if files_per_partition > 1:
        # spray term: splits each partition's rows across N write tasks
        cols.append(F.monotonically_increasing_id() % files_per_partition)
    return df.repartition(*cols)


def write_partitioned(
    df: DataFrame, path: str, *, partition_by: list[str], mode: str = "overwrite",
    files_per_partition: int | None = 1,
) -> None:
    df = _cluster_for_write(df, partition_by, files_per_partition)
    df.write.mode(mode).partitionBy(*partition_by).parquet(path)


def overwrite_partition(
    spark: SparkSession, df: DataFrame, path: str, *, partition_by: list[str],
    files_per_partition: int | None = 1,
) -> None:
    """I3: dynamic partition overwrite — only partitions present in ``df`` are
    replaced; re-running with the same input is a no-op (idempotent upsert)."""
    df = _cluster_for_write(df, partition_by, files_per_partition)
    with _partition_overwrite_dynamic(spark):
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)


class _partition_overwrite_dynamic:
    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", self.prev)


def read_check_append(
    spark: SparkSession,
    new_rows: DataFrame,
    path: str,
    *,
    keys: list[str],
    partition_by: list[str] | None = None,
    cache_fresh: bool = True,
    existing_filter=None,
    existing: DataFrame | None = None,
    return_fresh: bool = False,
):
    """I4: append only rows whose key is absent (anti-join dedup upsert).
    Returns the number of appended rows, or ``(n, fresh)`` with
    ``return_fresh=True`` — the appended rows themselves (materialized
    blocks under ``cache_fresh``), so a caller that derives from the table
    can union them onto its pre-append read instead of listing it again.

    ``existing`` (optional) is the caller's own read of the table at
    ``path``: the dedup probe uses it instead of listing the table again.
    Without it the table is read here when it holds committed data.

    ``cache_fresh`` (default True) persists the fresh rows across the
    count + write pair: without it the upstream plan executes TWICE — once
    for the emptiness probe, once for the write.  When the upstream is an
    ingest-edge pipeline (normalize/derive chains — update_fundamentals) the
    double execution is the dominant cost at every scale; when the upstream
    is a bare scan/filter the cache materialization costs MORE than the
    recompute (measured ~1 s on the lake round-trip fixture), so such
    callers pass ``cache_fresh=False``.

    ``existing_filter`` (optional Column) prunes the EXISTING-keys scan of
    the anti-join.  When the lake is partitioned on a key-derived column
    (sym_bucket = pmod(hash(symbol), N)), rows outside the partitions the
    new batch hashes into cannot share a key with it — so the dedup probe
    only needs to read those partitions.  Without this, a 400-row daily
    append against a multi-TB lake pays a full keys scan just to dedup;
    with it, the probe is partition-pruned to the touched buckets.  The
    CALLER asserts the filter is key-complete (every new row's key falls
    inside the filtered partitions) — a wrong filter silently re-appends
    duplicates."""
    if existing is None and _exists(path):
        existing = spark.read.parquet(path)
    if existing is not None:
        if existing_filter is not None:
            existing = existing.filter(existing_filter)
        existing_keys = existing.select(*keys).distinct()
        fresh = new_rows.join(existing_keys, on=keys, how="left_anti")
    else:
        fresh = new_rows
    if cache_fresh:
        # materialize_once, not a bare persist: a cached plan materializes
        # WITHOUT AQE partition coalescing (full shuffle width on a
        # day-sized batch); this runs the upstream pipeline once through
        # the normal AQE path and both consumers read the blocks
        fresh = materialize_once(fresh)
    n = fresh.count()
    if n:
        out = _cluster_for_write(fresh, partition_by or [], 1)
        w = out.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
    return (n, fresh) if return_fresh else n


def compact_partition(spark: SparkSession, path: str, *, partition_by: list[str],
                      predicate: str, target_files: int = 1) -> None:
    """I5: rewrite the partitions selected by ``predicate`` into
    ``target_files`` files each (small-file compaction).  The read must
    resolve fully before the dynamic overwrite re-lands it."""
    part = spark.read.parquet(path).filter(predicate)
    compacted = part.repartition(target_files, *partition_by).cache()
    compacted.count()
    try:
        with _partition_overwrite_dynamic(spark):
            compacted.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    finally:
        compacted.unpersist()


def table_metadata_path(path: str) -> str:
    return os.path.join(path, "_table_metadata.json")


def write_table_metadata(spark: SparkSession, path: str, meta: dict) -> None:
    """The reference stashes custom parquet metadata on the security master
    (security_master.py:831-840); as a table-level sidecar here."""
    import json

    os.makedirs(path, exist_ok=True)
    with open(table_metadata_path(path), "w") as f:
        json.dump(meta, f, sort_keys=True)


def read_table_metadata(path: str) -> dict | None:
    import json

    p = table_metadata_path(path)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _hidden(name: str) -> bool:
    # Spark's file index skips these names: staging dirs of uncommitted
    # writes (_temporary), markers (_SUCCESS), checksums (.crc) — but not a
    # partition directory whose column name starts with "_" (it holds "=")
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _exists(path: str) -> bool:
    """True when ``path`` holds a committed parquet table: at least one
    ``.parquet`` file outside the entries Spark's file index skips.  A
    file-system walk that stops at the first hit — no Spark job, no schema
    inference.  False for a missing path, for a zero-row partitioned write
    (it leaves only ``_SUCCESS``, no schema-bearing file) and for a
    directory holding only a crashed write's ``_temporary/`` files."""
    for _root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        if any(f.endswith(".parquet") and not _hidden(f) for f in files):
            return True
    return False


def consolidate_year(
    spark: SparkSession,
    hot_path: str,
    history_path: str,
    *,
    year: int,
    force: bool = False,
) -> dict:
    """Jan-1 year consolidation (reference update/app.py:447-607
    ``consolidate_year``): move a completed year from the hot monthly layout
    into the consolidated history dataset, then drop the hot files.

    Reference steps re-expressed set-based (the per-symbol thread pool
    becomes ONE partition-pruned job over the whole universe):

    1. read the year's hot slice (partition-pruned on ``year``);
    2. safeguard — if history already holds that year and ``force`` is not
       set, raise (reference: 'Year N already exists... Use --force');
    3. land it into history via dynamic partition overwrite of exactly
       ``year=N`` (≡ reference's read-history / drop-year / append / rewrite,
       but without touching any other year's files);
    4. delete the hot ``year=N`` directory.

    Returns {'rows': n, 'status': 'consolidated' | 'skipped'}.
    """
    import shutil

    hot_year_dir = os.path.join(hot_path, f"year={year}")
    if not os.path.exists(hot_year_dir):
        return {"rows": 0, "status": "skipped"}
    year_df = spark.read.parquet(hot_path).filter(F.col("year") == year)

    if _exists(history_path):
        have = {r.year for r in spark.read.parquet(history_path).select("year").distinct().collect()}
        if year in have and not force:
            raise ValueError(
                f"Year {year} already exists in {history_path}. Use force=True to overwrite."
            )
        # sever lineage from the files the dynamic overwrite will replace
        staged = year_df.localCheckpoint(eager=True)
        n = staged.count()
        with _partition_overwrite_dynamic(spark):
            staged.write.mode("overwrite").partitionBy("year").parquet(history_path)
    else:
        staged = year_df.localCheckpoint(eager=True)
        n = staged.count()
        staged.write.mode("overwrite").partitionBy("year").parquet(history_path)

    shutil.rmtree(hot_year_dir, ignore_errors=True)
    return {"rows": n, "status": "consolidated"}


def small_file_report(
    spark: SparkSession, path: str, *, target_bytes: int = 128 * 1024 * 1024
) -> list[dict]:
    """Compaction advisor (the policy side of I5): per partition directory,
    file count / total bytes / average file size, flagging partitions whose
    average file is under ``target_bytes`` (the classic small-file problem a
    daily append workload accumulates).  Driver-side FS metadata walk — no
    data is read; at S3 scale this is one LIST per partition."""
    report = []
    for dirpath, _, files in os.walk(path):
        parts = [f for f in files if f.endswith(".parquet")]
        if not parts:
            continue
        sizes = [os.path.getsize(os.path.join(dirpath, f)) for f in parts]
        total = sum(sizes)
        rel = os.path.relpath(dirpath, path)
        report.append(
            {
                "partition": "" if rel == "." else rel,
                "n_files": len(parts),
                "total_bytes": total,
                "avg_bytes": total // len(parts),
                "needs_compaction": len(parts) > 1 and total // len(parts) < target_bytes,
            }
        )
    return sorted(report, key=lambda r: r["partition"])
