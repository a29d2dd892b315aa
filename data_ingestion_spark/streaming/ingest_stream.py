"""The reference's event loop on Structured Streaming.

Reference shape (src/ecs_service.rs:113-174): infinite loop → SQS
receive_message(max=10, wait=20s) → decode S3 ObjectCreated events →
process each file → delete message even on failure (at-most-once).

Spark-first rebuild: a ``binaryFile`` file-source stream over the landing
directory discovers new objects (replacing S3→SQS notification),
``maxFilesPerTrigger`` mirrors the ≤10-files-per-receive bound, and
``foreachBatch`` hands each micro-batch — one micro-batch ≈ one SQS
receive — to the per-receive step all three front doors share
(``receive.FrontDoor.ingest``: replay guard, audit rows for records that
name no file, ``IngestionPipeline.process_file`` per file). The two
stream front doors here also share ``start``/``run_available`` and differ
only in their source and decode. Only the ``path`` column is selected, so
the file source prunes ``content`` and the stream moves file *names*, not
bytes (the reference moves whole file bodies through RAM,
s3_adapter.rs:39-46).

Deliberate upgrades (SURVEY.md §3.4):
- at-most-once → exactly-once file discovery via the streaming checkpoint
  (a failed run re-offers the files of the incomplete batch on restart).
- one failing file no longer aborts the rest of its batch (the reference's
  ``?`` in process_message aborts remaining records of the message,
  ecs_service.rs:205); per-file failures are caught, audit-logged by the
  pipeline, and counted.
"""

from __future__ import annotations

import os
from typing import Optional
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamReader

from ..pipeline import FileToProcess, IngestionPipeline
from .receive import FrontDoor, Record, event_records
from .s3_events import s3_event_files

#: Fixed schema of the binaryFile source (streams can't infer at start).
BINARY_FILE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("modificationTime", T.TimestampType()),
        T.StructField("length", T.LongType()),
        T.StructField("content", T.BinaryType()),
    ]
)


class _StreamFrontDoor(FrontDoor):
    """A front door on Structured Streaming: one micro-batch is one
    receive, and ``maxFilesPerTrigger`` bounds it like the reference's
    ≤10-messages-per-receive. Subclasses give the source and the decode."""

    def __init__(
        self, pipeline: IngestionPipeline, checkpoint_dir: str, max_files_per_trigger: int
    ) -> None:
        super().__init__(pipeline)
        self.checkpoint_dir = checkpoint_dir
        self.max_files_per_trigger = max_files_per_trigger

    def _source(self, reader: DataStreamReader) -> DataFrame:
        """The stream to read, from a reader already capped per trigger."""
        raise NotImplementedError

    def _records(self, batch_df: DataFrame) -> list[Record]:
        """One micro-batch decoded into the records of one receive."""
        raise NotImplementedError

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        self.ingest(self._records(batch_df))

    def start(
        self,
        available_now: bool = True,
        processing_interval: Optional[str] = None,
    ):
        """Start the stream. ``available_now=True`` drains everything
        currently in the source and stops (Trigger.AvailableNow) — the
        test/backfill mode; a ``processing_interval`` (e.g. ``'20 seconds'``,
        mirroring the reference's long-poll cadence) runs forever."""
        reader = self.pipeline.spark.readStream.option(
            "maxFilesPerTrigger", str(self.max_files_per_trigger)
        )
        writer = (
            self._source(reader)
            .writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=processing_interval or "20 seconds")
        return writer.start()

    def run_available(self) -> list:
        """Drain the source synchronously; returns per-file results."""
        q = self.start(available_now=True)
        q.awaitTermination()
        return self.results


class IngestionStreamLoop(_StreamFrontDoor):
    """Continuously ingest files that land under ``{landing_dir}/{bucket}/...``.

    The first path segment under ``landing_dir`` is the bucket, the rest is
    the key — the same (bucket, key) pair the SQS event would carry
    (ecs_service.rs:193-196).
    """

    def __init__(
        self,
        pipeline: IngestionPipeline,
        landing_dir: str,
        checkpoint_dir: str,
        max_files_per_trigger: int = 10,
    ) -> None:
        super().__init__(pipeline, checkpoint_dir, max_files_per_trigger)
        self.landing_dir = os.path.abspath(landing_dir)

    def _source(self, reader: DataStreamReader) -> DataFrame:
        return (
            reader.format("binaryFile")
            .schema(BINARY_FILE_SCHEMA)
            .option("pathGlobFilter", "*.*")
            .option("recursiveFileLookup", "true")
            .load(self.landing_dir)
            .select("path")
        )

    def _records(self, batch_df: DataFrame) -> list[Record]:
        # Only `path` is collected: a micro-batch is a list of file names
        # (bounded by maxFilesPerTrigger), never file contents.
        paths = sorted(r.path for r in batch_df.select("path").collect())
        return [self._record(url) for url in paths]

    def _record(self, path_url: str) -> Record:
        """file:/... URL → the file's (bucket, key) — the rebuild's
        equivalent of the S3-event decode (ecs_service.rs:186-216). A file
        sitting DIRECTLY under landing_dir has no bucket segment — the
        (bucket, key) contract can't name it, so it becomes a failure
        record (its own audit row; its siblings still process), not a
        half-decoded FileToProcess with an empty key."""
        local = unquote(urlparse(path_url).path)
        rel = os.path.relpath(local, self.landing_dir)
        parts = rel.split(os.sep)
        if len(parts) < 2:
            return Record(
                name=os.path.basename(local),
                message=f"file landed outside a bucket directory: {rel!r} "
                "(expected {landing_dir}/{bucket}/{key...})",
            )
        return Record(FileToProcess(bucket=parts[0], key="/".join(parts[1:])))


class SqsFrontDoorLoop(_StreamFrontDoor):
    """The reference's ACTUAL front door, composed end to end on one
    stream: SQS message bodies → S3-event decode → per-file ingest → audit
    rows (src/ecs_service.rs:113-224 — receive_message → process_message →
    process_record; dev-test.sh drives exactly this path).

    The "queue" here is a text file-source stream over ``queue_dir`` (one
    message body per line — at scale, swap in the Kinesis/Kafka/SQS
    connector; everything downstream is unchanged because the decode is a
    DataFrame transform). Per micro-batch, ``s3_events.s3_event_files``
    decodes the bodies to (bucket, key, status) rows — a narrow JVM
    ``from_json`` projection, no Python in the parse — and
    ``receive.event_records`` turns them into the records of the shared
    step. Warn-status records (``missing_bucket_or_key`` / ``no_records`` /
    ``invalid_json``) become Failed AUDIT ROWS, tallied in ``self.warns``.

    Exactly-once message discovery comes from the streaming checkpoint
    (upgrade over the reference's delete-even-on-failure at-most-once,
    SURVEY.md §3.4). The per-batch collect is bounded by the trigger's
    message cap × records per event, never corpus-scale.
    """

    def __init__(
        self,
        pipeline: IngestionPipeline,
        queue_dir: str,
        checkpoint_dir: str,
        max_files_per_trigger: int = 10,
    ) -> None:
        super().__init__(pipeline, checkpoint_dir, max_files_per_trigger)
        self.queue_dir = queue_dir

    def _source(self, reader: DataStreamReader) -> DataFrame:
        return reader.format("text").load(self.queue_dir)

    def _records(self, batch_df: DataFrame) -> list[Record]:
        return event_records(s3_event_files(batch_df, "value").collect())
