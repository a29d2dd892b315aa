"""One receive, ingested: the per-receive step all three front doors share.

Reference shape (src/ecs_service.rs:113-224): one loop receives up to 10
SQS messages, decodes each S3 event, processes each file and deletes the
message. The rebuild has three front doors — ``IngestionStreamLoop`` (a
landing-directory file stream), ``SqsFrontDoorLoop`` (a queue-directory
message stream) and ``SqsIngestLoop`` (boto3-shaped SQS receive/delete).
They differ only in their source and in how they decode one receive into
``Record``s; everything after the decode is ``FrontDoor.ingest``:

1. read the replay guard (``successful_files``) once per receive;
2. give every record that names no ingestible file (a poison S3-event
   status, a bucket-less landing) one Failed audit row and a tally entry;
3. skip files that already finalized Success, so a replayed micro-batch
   or a redelivered message does not re-ingest them;
4. run ``IngestionPipeline.process_file`` on every other file, a failure
   (raised, or a Failed result from the sink write) isolated to its file
   (upgrade over ecs_service.rs:205, where the first failing record aborts
   the rest of its message);
5. return the outcome per record, so the SQS door can ack per message.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from ..errors import IngestionError
from ..logs import utcnow
from ..pipeline import FileToProcess, IngestionPipeline


@dataclass(frozen=True)
class Record:
    """One decoded record of a receive: an ingestible ``file``, or, when
    ``file`` is None, the audit ``name`` and ``message`` of a record that
    names none. Such a record is tallied under ``warns[warn]`` when it
    carries an S3-event status in ``warn``, else in ``failures``."""

    file: Optional[FileToProcess] = None
    name: str = ""
    message: str = ""
    warn: Optional[str] = None


def event_records(rows) -> list[Record]:
    """``s3_events.s3_event_files`` rows → records, sorted by (bucket, key).
    A non-``ok`` status is the reference's ``warn!`` line
    (ecs_service.rs:212,218), kept as an audit row instead of log text."""
    out = []
    for r in sorted(rows, key=lambda r: (r["bucket"] or "", r["key"] or "")):
        if r["status"] == "ok":
            out.append(Record(FileToProcess(bucket=r["bucket"], key=r["key"])))
        else:
            name = f"{r['bucket']}/{r['key']}" if r["bucket"] and r["key"] else "<sqs-message>"
            out.append(Record(name=name, message=f"s3-event: {r['status']}", warn=r["status"]))
    return out


class FrontDoor:
    """The tallies of a front door and the step that fills them."""

    def __init__(self, pipeline: IngestionPipeline) -> None:
        self.pipeline = pipeline
        self.results: list = []  # IngestResult per processed file
        self.failures: list[tuple[str, str]] = []  # (file_name, error)
        self.warns: dict[str, int] = {}  # S3-event status tallies
        self.skipped: list[str] = []  # already-Success files seen on replay

    def ingest(self, records: list[Record]) -> list[bool]:
        """Ingest one receive's records in order. Returns, per record,
        whether it is settled: False where ``process_file`` raised or
        returned a non-Success result (a failed sink write), so a
        redelivery could still succeed."""
        log = self.pipeline.log
        done = log.successful_files()
        settled = []
        for rec in records:
            ok = True
            if rec.file is None:
                if rec.warn is None:
                    self.failures.append((rec.name, rec.message))
                else:
                    self.warns[rec.warn] = self.warns.get(rec.warn, 0) + 1
                log.log_failure(rec.name, utcnow(), rec.message)
            elif rec.file.file_name in done:
                self.skipped.append(rec.file.file_name)
            else:
                try:
                    result = self.pipeline.process_file(rec.file)
                except IngestionError as ex:
                    self.failures.append((rec.file.file_name, str(ex)))
                    ok = False
                else:
                    self.results.append(result)
                    if result.status != "Success":
                        self.failures.append((rec.file.file_name, result.message))
                        ok = False
            settled.append(ok)
        return settled
