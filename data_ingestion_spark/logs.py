"""Ingestion audit log (reference: src/domain/models.rs:17-29 and
src/infrastructure/mongodb/log_repo.rs).

Schema matches the reference's IngestionLog: file_name, start_time,
end_time (nullable), status ('Success' | 'Failed'), message (nullable),
plus the log_id primary key (the reference uses the Mongo ObjectId; the
rebuild generates a uuid4 up front — semantically equivalent, SURVEY.md §2.3
L1).

The log is an append-only event table: the start row (end_time NULL) and the
finalize row share a log_id; current status = latest row per log_id (a window
query, ``current_status``). At scale this is the standard
event-log-over-merge design — appends never contend, readers reconstruct.

Every append goes through ``IngestionLogWriter._append``: its rows become
a one-partition JVM local relation (``session.local_frame``), so an append
is one Spark job, one task and one parquet file, with no Python worker.
Each log_id is finalized at most once, which keeps the replay guard
(``successful_files``) a plain filter with no shuffle.
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime, timezone
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import local_frame

LOG_TABLE = "ingestion_logs"

LOG_SCHEMA = T.StructType(
    [
        T.StructField("log_id", T.StringType(), False),
        T.StructField("file_name", T.StringType(), False),
        T.StructField("start_time", T.TimestampType(), False),
        T.StructField("end_time", T.TimestampType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("message", T.StringType(), True),
    ]
)


def utcnow() -> datetime:
    """Naive UTC now: the log's timestamp convention."""
    return datetime.now(timezone.utc).replace(tzinfo=None)


def _open_row(log_id: str, file_name: str, now: datetime) -> tuple:
    return (log_id, file_name, now, None, "Success", None)


class IngestionLogWriter:
    """Append-only audit log writer over a parquet table."""

    def __init__(self, spark: SparkSession, warehouse_dir: str) -> None:
        self.spark = spark
        self.path = os.path.join(warehouse_dir, LOG_TABLE)

    def _append(self, rows: list[tuple]) -> None:
        local_frame(self.spark, rows, LOG_SCHEMA).write.mode("append").parquet(self.path)

    def insert_log(self, file_name: str) -> str:
        """Open a log entry; returns its log_id
        (reference: ingestion_service.rs:92-104 — status starts as the
        'Success' placeholder with end_time NULL)."""
        log_id = uuid.uuid4().hex
        self._append([_open_row(log_id, file_name, utcnow())])
        return log_id

    def finalize_log(self, log_id: Optional[str], file_name: str, start_time: datetime,
                     success: bool, message: Optional[str]) -> None:
        """Close a log entry (reference: ingestion_service.rs:119-124 /
        log_repo.rs:49-88 — a $set update; rebuilt as an append of the final
        state, reconstructed by ``current_status``). ``log_id=None`` means
        no open row exists yet: a new entry's open row and its final row
        are written in the same append."""
        now = utcnow()
        rows = []
        if log_id is None:
            log_id = uuid.uuid4().hex
            rows.append(_open_row(log_id, file_name, now))
        status = "Success" if success else "Failed"
        rows.append((log_id, file_name, start_time, now, status, message))
        self._append(rows)

    def log_failure(self, file_name: str, start_time: datetime, message: str) -> None:
        """Audit a file that failed before its ingest started: an open row
        plus its Failed finalize row, as ``current_status`` expects."""
        self.finalize_log(None, file_name, start_time, False, message)

    def read(self) -> DataFrame:
        return self.spark.read.schema(LOG_SCHEMA).parquet(self.path)

    def current_status(self) -> DataFrame:
        """Latest state per log_id (finalize row wins over the open row)."""
        w = W.partitionBy("log_id").orderBy(
            F.col("end_time").desc_nulls_last(), F.col("start_time").desc()
        )
        return (
            self.read()
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def successful_files(self) -> set:
        """File names with a finalized Success row — the replay guard for
        the streaming loops: a micro-batch re-offered after a crash must
        not re-ingest files that already completed (files are
        immutable-once-landed, the S3-event contract). Empty set when no
        log exists yet; a log that exists but cannot be read raises, since
        an empty guard would re-ingest every file of the batch.

        Invariant: each log_id has at most one row with end_time set,
        because every writer finalizes an entry once (``process_file``'s
        success or failure branch, ``log_failure``). So "the latest row per
        log_id is a finalized Success" (``current_status``) is the plain
        filter below: one job and no shuffle. Driver-side and bounded by
        the audit log."""
        if not os.path.isdir(self.path):
            return set()
        rows = (
            self.read()
            .filter((F.col("status") == "Success") & F.col("end_time").isNotNull())
            .select("file_name")
            .collect()
        )
        return {r["file_name"] for r in rows}
