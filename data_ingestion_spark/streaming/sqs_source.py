"""SQS receive/delete adapter — the reference's real front door (S1).

Reference behavior (src/ecs_service.rs:113-174): an infinite loop calls
``receive_message(max_number_of_messages=10, wait_time_seconds=20)``,
processes each message body as an S3 ObjectCreated event, and DELETES the
message even when processing failed (at-most-once delivery).

Spark-first rebuild: the same boto3-shaped client API behind an injectable
seam (the ``make_mongo_writer`` client-factory pattern,
sinks/document_sink.py) — tests drive a fake client; production passes
``boto3.client("sqs")`` or nothing and gets one lazily. Each receive batch
is decoded by the SAME ``s3_events.s3_event_files`` DataFrame transform the
streaming path uses (narrow JVM ``from_json``, no Python in the parse), and
the decoded records go through the SAME per-receive step as the stream
front doors (``receive.FrontDoor.ingest``: replay guard, poison audit,
per-file ``IngestionPipeline.process_file``); what stays here is the
receive and the per-message ack.

Deliberate upgrades over the reference (SURVEY.md §3.4):

- **delete-on-success, redeliver-on-failure**: a message is deleted only
  when every ingestible record in it finished (Success or already-Success
  replay skip). A message with a failed file stays on the queue and SQS
  redelivers it after the visibility timeout — at-least-once instead of the
  reference's at-most-once (ecs_service.rs:152-165 deletes unconditionally,
  silently dropping work on failure). The audit-log replay guard
  (``successful_files``) makes the redelivery idempotent: succeeded
  siblings of a failed file are skipped on the retry, so the combined
  effect is exactly-once per file.
- **poison messages are acked, not looped**: bodies that can never succeed
  (``invalid_json`` / ``no_records`` / ``missing_bucket_or_key``) become
  Failed AUDIT ROWS (queryable, not log text) and their message IS deleted
  — redelivering an unparseable body would retry forever. This matches the
  reference's observable behavior (it warns and deletes) while keeping the
  failure visible as data.

Scale: the receive loop moves message *bodies* (≤10 × ~1 KB per poll) on
the driver — bounded queue-control metadata, never file contents; the file
bytes flow executor-side through the pipeline's readers exactly as in the
batch path.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import types as T

from ..pipeline import IngestionPipeline
from ..session import local_frame
from .receive import FrontDoor, event_records
from .s3_events import s3_event_files

_BODIES = T.StructType(
    [T.StructField("msg_id", T.StringType()), T.StructField("body", T.StringType())]
)


def make_sqs_client(region_name: Optional[str] = None):
    """Production client factory: ``boto3.client('sqs')`` behind an
    import-try (boto3 is not in this container; tests inject a fake with
    the same two-method surface)."""
    try:
        import boto3  # noqa: F401
    except ImportError as ex:  # pragma: no cover - boto3 not installed here
        raise NotImplementedError(
            "boto3 is not installed; inject a client exposing "
            "receive_message(QueueUrl=, MaxNumberOfMessages=, "
            "WaitTimeSeconds=) and delete_message(QueueUrl=, ReceiptHandle=) "
            "— see tests/test_sqs_source.py::FakeSqsClient"
        ) from ex
    import boto3

    return boto3.client("sqs", region_name=region_name)  # pragma: no cover


class SqsIngestLoop(FrontDoor):
    """Receive → decode → per-file ingest → delete-on-success.

    ``client`` is any object with the boto3 SQS surface used here:
    ``receive_message(QueueUrl=..., MaxNumberOfMessages=...,
    WaitTimeSeconds=...) -> {"Messages": [{"MessageId", "Body",
    "ReceiptHandle"}, ...]}`` and ``delete_message(QueueUrl=...,
    ReceiptHandle=...)``. Omit it to get a lazy ``boto3.client("sqs")``.
    """

    def __init__(
        self,
        pipeline: IngestionPipeline,
        queue_url: str,
        client: Optional[object] = None,
        client_factory: Optional[Callable[[], object]] = None,
        max_messages: int = 10,
        wait_time_seconds: int = 20,
    ) -> None:
        super().__init__(pipeline)
        self.queue_url = queue_url
        self._client = client
        self._client_factory = client_factory or make_sqs_client
        self.max_messages = max_messages
        self.wait_time_seconds = wait_time_seconds
        self.deleted: int = 0  # messages acked
        self.redelivered: int = 0  # messages left on the queue for retry

    @property
    def client(self):
        if self._client is None:
            self._client = self._client_factory()
        return self._client

    def poll_once(self) -> int:
        """One receive → process → ack cycle; returns the number of
        messages received (0 = queue drained / long-poll timed out)."""
        resp = self.client.receive_message(
            QueueUrl=self.queue_url,
            MaxNumberOfMessages=self.max_messages,
            WaitTimeSeconds=self.wait_time_seconds,
        )
        messages = resp.get("Messages") or []
        if not messages:
            return 0

        bodies = local_frame(
            self.pipeline.spark,
            [(m["MessageId"], m.get("Body") or "") for m in messages],
            _BODIES,
        )
        # bounded collect: ≤ max_messages bodies × records per event —
        # queue-control metadata, never file contents
        decoded = s3_event_files(bodies, "body", keep=("msg_id",)).collect()
        by_msg: dict[str, list] = {m["MessageId"]: [] for m in messages}
        for r in decoded:
            by_msg[r["msg_id"]].append(r)

        # messages in receive order, each one's records sorted by (bucket, key)
        owned = [(m["MessageId"], rec) for m in messages
                 for rec in event_records(by_msg[m["MessageId"]])]
        settled = self.ingest([rec for _, rec in owned])
        # a message with a failed file stays for redelivery; poison records
        # are settled (audited), so their message is acked
        retry = {msg_id for (msg_id, _), ok in zip(owned, settled) if not ok}
        for m in messages:
            if m["MessageId"] in retry:
                self.redelivered += 1
            else:
                self.client.delete_message(
                    QueueUrl=self.queue_url, ReceiptHandle=m["ReceiptHandle"]
                )
                self.deleted += 1
        return len(messages)

    def run(self, max_polls: Optional[int] = None) -> list:
        """Poll until an empty receive (drain mode) or ``max_polls``
        cycles; returns per-file results. Production callers pass
        ``max_polls=None`` with a real long-polling client — an empty
        receive after ``wait_time_seconds`` of long-poll is the reference
        loop's own idle state (ecs_service.rs:170: sleep and re-poll), so
        callers wanting run-forever wrap this in their service loop.

        Drain termination leans on SQS visibility semantics: a received-
        but-not-deleted (failed) message is invisible until its visibility
        timeout lapses, so it cannot echo back within the same drain and
        spin this loop — it redelivers on a LATER drain (tests model this
        with FakeSqsClient.expire_visibility)."""
        polls = 0
        while max_polls is None or polls < max_polls:
            polls += 1
            if self.poll_once() == 0:
                break
        return self.results
