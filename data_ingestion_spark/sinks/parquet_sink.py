"""Columnar table sink — the rebuild's canonical target-table store.

Replaces the reference's Mongo ``insert_many`` (data_repo.rs:53-59) with an
append to a parquet table (native Spark format with pushdown + pruning).
Schema evolution across heterogeneous files of the same target table
(Mongo tolerated per-doc schemas natively) is handled with union-by-name +
nulls (SURVEY.md §1.3): parquet readers merge schemas, and appends with
``mergeSchema`` keep old files readable.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


class ParquetSink:
    def __init__(self, spark: SparkSession, warehouse_dir: str) -> None:
        self.spark = spark
        self.warehouse_dir = warehouse_dir

    def table_path(self, target_table: str) -> str:
        return os.path.join(self.warehouse_dir, target_table)

    def insert_documents(self, target_table: str, df: DataFrame) -> int:
        """Append df to the target table; returns the row count written
        (the reference returns inserted ids; counts are what its audit layer
        actually consumes — ingestion_service.rs:77).

        The count is an ``Observation`` on the write itself, so the input
        is read once. A zero-row frame writes nothing, creates no table
        directory and returns 0 (data_repo.rs:23-26): Spark would write a
        schema-only part file for it, which ``mergeSchema`` readers would
        fold into the table's columns. Two jobs per call, the ``isEmpty``
        probe and the write."""
        if not df.columns or df.isEmpty():
            return 0
        written = Observation()
        df.observe(written, F.count(F.lit(1)).alias("rows")).write.mode(
            "append"
        ).parquet(self.table_path(target_table))
        return written.get["rows"]

    def read_table(self, target_table: str) -> DataFrame:
        return self.spark.read.option("mergeSchema", True).parquet(
            self.table_path(target_table)
        )

    def table_exists(self, target_table: str) -> bool:
        """True once a write to the table committed. A write that fails
        mid-job leaves its directory behind, empty, so the directory alone
        says nothing; the committer's ``_SUCCESS`` marker does."""
        return os.path.exists(os.path.join(self.table_path(target_table), "_SUCCESS"))


def write_partitioned(
    df,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    dynamic: bool = True,
    sort_within: list[str] | None = None,
) -> None:
    """Hive-style partitioned parquet layout — the 100 TB table pattern:
    ``partition_cols`` become directory keys so downstream predicates on
    them are PRUNED at planning time (PartitionFilters, zero data read for
    excluded partitions).

    - ``dynamic=True`` sets partitionOverwriteMode=dynamic for this write:
      overwrite replaces ONLY the partitions present in ``df`` (the
      incremental-backfill semantics), never the whole table.
    - ``sort_within`` sorts within partitions before writing (clustered
      files -> better min/max page skipping for those columns).
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    if dynamic and mode == "overwrite":
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        if sort_within:
            df = df.sortWithinPartitions(*sort_within)
        df.write.mode(mode).partitionBy(*partition_cols).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    cluster_by: list[str] | None = None,
    n_files: int | None = None,
) -> dict:
    """Small-files compaction — rewrite a table directory into files sized
    for scan efficiency.

    Streaming/micro-batch appends (the ingest loop writes one batch per
    trigger) accumulate thousands of KB-scale files; at 100 TB that turns
    every scan into a file-listing + task-scheduling storm (one Spark task
    per tiny file) and wrecks HDFS/S3 metadata. Compaction is the standard
    counter-move: read the table, coalesce to ceil(bytes / target) files,
    rewrite atomically (write to a sibling temp dir, then swap) so readers
    never see a half-written table.

    ``cluster_by`` additionally range-partitions + sorts the rewrite on the
    given columns (one shuffle) so every future range/equality predicate on
    them page-skips via parquet min/max stats.

    ``n_files`` overrides the byte-target sizing with an explicit output
    count (deterministic layouts for tests/oracles).

    Returns {"files_before", "files_after", "bytes", "rows"}.
    """
    import math
    import shutil

    def _data_files(d: str) -> list[str]:
        out = []
        for root, _dirs, files in os.walk(d):
            out += [
                os.path.join(root, f)
                for f in files
                if not f.startswith((".", "_"))
            ]
        return out

    before = _data_files(path)
    total_bytes = sum(os.path.getsize(f) for f in before)
    if n_files is None:
        # footer-free planning: output count from on-disk bytes alone
        n_files = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    df = spark.read.option("mergeSchema", True).parquet(path)
    rows = df.count()
    tmp = path.rstrip("/") + ".compact_tmp"
    if cluster_by:
        # clustered rewrite: one range shuffle buys min/max page skipping
        # on cluster_by for every future scan of the compacted table
        out = df.repartitionByRange(n_files, *cluster_by).sortWithinPartitions(
            *cluster_by
        )
    else:
        # coalesce (not repartition): narrowing to n_files needs no shuffle
        out = df.coalesce(n_files)
    out.write.mode("overwrite").parquet(tmp)
    old = path.rstrip("/") + ".compact_old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return {
        "files_before": len(before),
        "files_after": len(_data_files(path)),
        "bytes": total_bytes,
        "rows": rows,
    }


def missing_partitions(
    path: str, partition_col: str, expected_values: list
) -> list[str]:
    """Which expected Hive partitions are ABSENT on disk — a directory
    listing against driver metadata (the expected calendar/key list), no
    data read. The detection half of incremental backfill: at 100 TB you
    ask "which of the 3,650 expected daily partitions is missing?" by
    listing ~3,650 names, never by scanning rows."""
    present = {
        name.split("=", 1)[1]
        for name in os.listdir(path)
        if name.startswith(partition_col + "=")
    }
    return sorted(str(v) for v in expected_values if str(v) not in present)


def backfill_partitions(
    source: DataFrame, path: str, partition_col: str, values: list[str]
) -> int:
    """Recompute ONLY the named partitions from ``source`` and write them
    via dynamic partition overwrite — untouched partitions are never
    rewritten (write_partitioned's dynamic mode), so a 2-day backfill on
    a 10-year table costs 2 days of compute and IO, not a table rewrite.
    Returns the number of partitions written."""
    if not values:
        return 0
    part = source.filter(
        F.col(partition_col).cast("string").isin([str(v) for v in values])
    )
    write_partitioned(part, path, [partition_col], mode="overwrite", dynamic=True)
    return len(values)
