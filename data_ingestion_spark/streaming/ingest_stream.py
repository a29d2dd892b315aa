"""The reference's event loop on Structured Streaming.

Reference shape (src/ecs_service.rs:113-174): infinite loop → SQS
receive_message(max=10, wait=20s) → decode S3 ObjectCreated events →
process each file → delete message even on failure (at-most-once).

Spark-first rebuild: a ``binaryFile`` file-source stream over the landing
directory discovers new objects (replacing S3→SQS notification),
``maxFilesPerTrigger`` mirrors the ≤10-files-per-receive bound, and
``foreachBatch`` runs the SAME per-file batch pipeline
(pipeline.IngestionPipeline.process_file) for each discovered file — one
micro-batch ≈ one SQS receive. Only the ``path`` column is selected, so the
file source prunes ``content`` and the stream moves file *names*, not bytes
(the reference moves whole file bodies through RAM, s3_adapter.rs:39-46).

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

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import types as T

from ..errors import IngestionError
from ..logs import utcnow
from ..pipeline import FileToProcess, IngestionPipeline

#: Fixed schema of the binaryFile source (streams can't infer at start).
BINARY_FILE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("modificationTime", T.TimestampType()),
        T.StructField("length", T.LongType()),
        T.StructField("content", T.BinaryType()),
    ]
)


class IngestionStreamLoop:
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
        self.pipeline = pipeline
        self.landing_dir = os.path.abspath(landing_dir)
        self.checkpoint_dir = checkpoint_dir
        self.max_files_per_trigger = max_files_per_trigger
        self.results: list = []  # IngestResult | (file_name, error) per file
        self.failures: list[tuple[str, str]] = []
        self.skipped: list[str] = []  # already-Success files seen on replay

    # ------------------------------------------------------------------
    def _decode(self, path_url: str) -> FileToProcess:
        """file:/... URL → FileToProcess(bucket, key) — the rebuild's
        equivalent of the S3-event decode (ecs_service.rs:186-216). A file
        sitting DIRECTLY under landing_dir has no bucket segment — the
        (bucket, key) contract can't name it, so it's an IngestionError
        (caught per-file in _process_batch → audit row), not a
        half-decoded FileToProcess with an empty key."""
        local = unquote(urlparse(path_url).path)
        rel = os.path.relpath(local, self.landing_dir)
        parts = rel.split(os.sep)
        if len(parts) < 2:
            raise IngestionError(
                f"file landed outside a bucket directory: {rel!r} "
                "(expected {landing_dir}/{bucket}/{key...})"
            )
        bucket, key = parts[0], "/".join(parts[1:])
        return FileToProcess(bucket=bucket, key=key)

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # Only `path` is collected: a micro-batch is a list of file names
        # (bounded by maxFilesPerTrigger), never file contents.
        paths = [r.path for r in batch_df.select("path").collect()]
        # Replay guard: after a mid-batch crash the checkpoint re-offers the
        # WHOLE incomplete batch; files that already finalized Success must
        # not re-ingest (files are immutable-once-landed), or the target
        # table would hold duplicates — this makes the sink effect
        # exactly-once, not just the discovery.
        done = self.pipeline.log.successful_files()
        for url in sorted(paths):
            try:
                file = self._decode(url)
            except IngestionError as ex:
                # bucket-less landing: fail THIS path only, audit it, and
                # keep processing the batch's siblings
                name = os.path.basename(unquote(urlparse(url).path))
                self.failures.append((name, str(ex)))
                self.pipeline.log.log_failure(name, utcnow(), str(ex))
                continue
            if file.file_name in done:
                self.skipped.append(file.file_name)
                continue
            try:
                self.results.append(self.pipeline.process_file(file))
            except IngestionError as ex:
                # upgrade: siblings in the batch still process (vs
                # ecs_service.rs:205 aborting the message on first failure)
                self.failures.append((file.file_name, str(ex)))

    # ------------------------------------------------------------------
    def start(
        self,
        available_now: bool = True,
        processing_interval: Optional[str] = None,
    ):
        """Start the stream. ``available_now=True`` drains everything
        currently in the landing dir and stops (Trigger.AvailableNow) —
        the test/backfill mode; a ``processing_interval`` (e.g. ``'20 seconds'``,
        mirroring the reference's long-poll cadence) runs forever."""
        spark: SparkSession = self.pipeline.spark
        reader = (
            spark.readStream.format("binaryFile")
            .schema(BINARY_FILE_SCHEMA)
            .option("pathGlobFilter", "*.*")
            .option("maxFilesPerTrigger", str(self.max_files_per_trigger))
            .option("recursiveFileLookup", "true")
            .load(self.landing_dir)
        )
        writer = (
            reader.select("path")
            .writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=processing_interval or "20 seconds")
        return writer.start()

    def run_available(self) -> list:
        """Drain the landing dir synchronously; returns per-file results."""
        q = self.start(available_now=True)
        q.awaitTermination()
        return self.results


class SqsFrontDoorLoop:
    """The reference's ACTUAL front door, composed end to end on one
    stream: SQS message bodies → S3-event decode → per-file ingest → audit
    rows (src/ecs_service.rs:113-224 — receive_message → process_message →
    process_record; dev-test.sh drives exactly this path).

    The "queue" here is a text file-source stream over ``queue_dir`` (one
    message body per line — at scale, swap in the Kinesis/Kafka/SQS
    connector; everything downstream is unchanged because the decode is a
    DataFrame transform). Per micro-batch (``maxFilesPerTrigger`` mirrors
    the ≤10-messages-per-receive bound):

    - ``s3_events.s3_event_files`` decodes bodies to (bucket, key, status)
      rows — a narrow JVM ``from_json`` projection, no Python in the parse;
    - ``ok`` records feed ``IngestionPipeline.process_file`` (same per-file
      batch pipeline as IngestionStreamLoop);
    - warn-status records (``missing_bucket_or_key`` / ``no_records`` /
      ``invalid_json`` — the reference's ``warn!`` lines,
      ecs_service.rs:212,218) become Failed AUDIT ROWS, not lost log text,
      and are tallied in ``self.warns``.

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
        self.pipeline = pipeline
        self.queue_dir = queue_dir
        self.checkpoint_dir = checkpoint_dir
        self.max_files_per_trigger = max_files_per_trigger
        self.results: list = []
        self.failures: list[tuple[str, str]] = []
        self.warns: dict[str, int] = {}
        self.skipped: list[str] = []  # already-Success files seen on replay

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from .s3_events import s3_event_files

        decoded = s3_event_files(batch_df, "value").collect()
        # same replay guard as IngestionStreamLoop: a re-offered batch must
        # not re-ingest files that already finalized Success
        done = self.pipeline.log.successful_files()
        for r in sorted(
            decoded, key=lambda r: (r["bucket"] or "", r["key"] or "")
        ):
            if r["status"] != "ok":
                self.warns[r["status"]] = self.warns.get(r["status"], 0) + 1
                # warn-as-audit-row: the reference logs and moves on; here
                # the skip is queryable next to the per-file Success rows
                name = (
                    f"{r['bucket']}/{r['key']}"
                    if r["bucket"] and r["key"]
                    else "<sqs-message>"
                )
                self.pipeline.log.log_failure(
                    name, utcnow(), f"s3-event: {r['status']}"
                )
                continue
            file = FileToProcess(bucket=r["bucket"], key=r["key"])
            if file.file_name in done:
                self.skipped.append(file.file_name)
                continue
            try:
                self.results.append(self.pipeline.process_file(file))
            except IngestionError as ex:
                self.failures.append((file.file_name, str(ex)))

    def start(self, available_now: bool = True, processing_interval: Optional[str] = None):
        spark: SparkSession = self.pipeline.spark
        reader = (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", str(self.max_files_per_trigger))
            .load(self.queue_dir)
        )
        writer = reader.writeStream.foreachBatch(self._process_batch).option(
            "checkpointLocation", self.checkpoint_dir
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=processing_interval or "20 seconds")
        return writer.start()

    def run_available(self) -> list:
        """Drain the queue dir synchronously; returns per-file results."""
        q = self.start(available_now=True)
        q.awaitTermination()
        return self.results
