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
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime, timezone
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


class IngestionLogWriter:
    """Append-only audit log writer over a parquet table."""

    def __init__(self, spark: SparkSession, warehouse_dir: str) -> None:
        self.spark = spark
        self.path = os.path.join(warehouse_dir, LOG_TABLE)

    def insert_log(self, file_name: str) -> str:
        """Open a log entry; returns its log_id
        (reference: ingestion_service.rs:92-104 — status starts as the
        'Success' placeholder with end_time NULL)."""
        log_id = uuid.uuid4().hex
        now = utcnow()
        row = [(log_id, file_name, now, None, "Success", None)]
        self.spark.createDataFrame(row, LOG_SCHEMA).write.mode("append").parquet(self.path)
        return log_id

    def finalize_log(self, log_id: str, file_name: str, start_time: datetime,
                     success: bool, message: Optional[str]) -> None:
        """Close a log entry (reference: ingestion_service.rs:119-124 /
        log_repo.rs:49-88 — a $set update; rebuilt as an append of the final
        state, reconstructed by ``current_status``)."""
        now = utcnow()
        status = "Success" if success else "Failed"
        row = [(log_id, file_name, start_time, now, status, message)]
        self.spark.createDataFrame(row, LOG_SCHEMA).write.mode("append").parquet(self.path)

    def log_failure(self, file_name: str, start_time: datetime, message: str) -> None:
        """Audit a file that failed before its ingest started: an open row
        plus its Failed finalize row, as ``current_status`` expects."""
        log_id = self.insert_log(file_name)
        self.finalize_log(log_id, file_name, start_time, False, message)

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
        """File names whose LATEST log row is a finalized Success — the
        replay guard for the streaming loops: a micro-batch re-offered
        after a crash must not re-ingest files that already completed
        (files are immutable-once-landed, the S3-event contract). Empty
        set when no log exists yet. Driver-side and bounded by the audit
        log; at corpus scale this check becomes a left-anti join against
        ``current_status()`` instead of a collected set."""
        import glob as _glob

        if not _glob.glob(os.path.join(self.path, "*.parquet")) and not os.path.isdir(
            self.path
        ):
            return set()
        try:
            rows = (
                self.current_status()
                .filter((F.col("status") == "Success") & F.col("end_time").isNotNull())
                .select("file_name")
                .collect()
            )
        except Exception:  # noqa: BLE001 — unreadable/absent log = no guard
            return set()
        return {r["file_name"] for r in rows}
