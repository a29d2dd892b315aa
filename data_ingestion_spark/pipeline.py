"""The ingest pipeline: the reference's 5-step dataflow on Spark
(reference: src/application/ingestion_service.rs:36-127 — the steps are
numbered in its comments):

  1. config-rule match (longest-wins regex on the key)
  2. fetch       — implicit in Spark's readers (the reference buffers the
                   whole object, s3_adapter.rs:39-46; Spark streams/splits)
  3. type detect — extension after last '.'
  4. parse       — format dispatch (sources/)
  5. enrich + audit-log + sink

Cross-cutting semantics preserved (SURVEY.md §3.4):
- longest-pattern-wins rule tie-break
- enrichment adds file_name = "bucket/key" and log_id to every record
- audit-log: open row before insert, finalize row after, finalize errors
  swallowed (ingestion_service.rs:124)

Deliberate upgrades (each flagged):
- failures in steps 1-4 ARE logged (the reference only logs insert-phase
  failures — SURVEY.md §2.3 L3): every failed file has its Failed audit row
- CSV delimiter/has_headers honored (reference ignores them, §2.2 P4)
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .errors import FetchError, IngestionError, ParseError
from .logs import IngestionLogWriter, utcnow
from .rules import DEFAULT_RULES, RuleSet
from .sinks.parquet_sink import ParquetSink
from .sources.dispatch import extract_file_type, parse_file


@dataclass(frozen=True)
class FileToProcess:
    """Unit of work (reference: src/domain/models.rs:11-15)."""

    bucket: str
    key: str

    @property
    def file_name(self) -> str:
        # enrichment format "{bucket}/{key}" (ingestion_service.rs:81)
        return f"{self.bucket}/{self.key}"


@dataclass
class IngestResult:
    file_name: str
    target_table: str
    log_id: str
    rows: int
    status: str
    message: Optional[str] = None


class IngestionPipeline:
    """process_file() — entry point B of the reference (SURVEY.md §3.2).

    ``base_dir`` maps bucket names to directories: file bytes for
    ``FileToProcess(bucket, key)`` are read from ``{base_dir}/{bucket}/{key}``
    (the local stand-in for S3; on a real cluster pass ``s3a://`` URIs via
    ``path_for``).
    """

    def __init__(
        self,
        spark: SparkSession,
        warehouse_dir: str,
        rules: Optional[RuleSet] = None,
        base_dir: Optional[str] = None,
    ) -> None:
        self.spark = spark
        self.rules = rules if rules is not None else DEFAULT_RULES
        self.warehouse_dir = warehouse_dir
        self.base_dir = base_dir
        self.sink = ParquetSink(spark, warehouse_dir)
        self.log = IngestionLogWriter(spark, warehouse_dir)

    def path_for(self, file: FileToProcess) -> str:
        if self.base_dir is not None:
            return os.path.join(self.base_dir, file.bucket, file.key)
        return f"{file.bucket}/{file.key}"

    def process_file(self, file: FileToProcess) -> IngestResult:
        start = utcnow()
        try:
            # Step 1: config match (ingestion_service.rs:49-55)
            rule = self.rules.match_or_raise(file.key)
            # Step 2: existence check — the fetch itself is lazy inside the
            # Spark reader (upgrade over whole-buffer s3_adapter.rs:39-46)
            path = self.path_for(file)
            if self.base_dir is not None and not os.path.exists(path):
                raise FetchError(f"Failed to fetch file: {file.file_name}")
            # Step 3: type detect (ingestion_service.rs:149-158)
            ftype = extract_file_type(file.key)
            # Step 4: parse (parser_adapter.rs:32-58 dispatch)
            try:
                df = parse_file(self.spark, path, ftype, rule.parser_config)
            except IngestionError:
                raise
            except Exception as ex:  # noqa: BLE001
                # executor-side parser errors surface as Py4J exceptions —
                # normalize so failures are loggable and typed
                raise ParseError(f"Failed to parse {file.file_name}: {ex}") from ex
        except IngestionError as ex:
            # upgrade: early failures get a log row too (vs §2.3 L3 gap)
            self.log.log_failure(file.file_name, start, str(ex))
            raise

        # Step 5: enrich + log + insert (ingestion_service.rs:79-116)
        log_id = self.log.insert_log(file.file_name)
        enriched = df.withColumn("file_name", F.lit(file.file_name)).withColumn(
            "log_id", F.lit(log_id)
        )
        rows, error = 0, None
        try:
            rows = self.sink.insert_documents(rule.target_table, enriched)
        except Exception as ex:  # noqa: BLE001 — sink failures → Failed log
            error = str(ex)
        finally:
            # CSV parse caches itself so slack-column detection and the sink
            # share one file scan — release after the write either way.
            cache = getattr(df, "_csv_cache", None)
            if cache is not None:
                cache.unpersist()
        try:
            self.log.finalize_log(log_id, file.file_name, start, error is None, error)
        except Exception:  # noqa: BLE001,S110
            pass  # finalize errors swallowed (ingestion_service.rs:124)
        status = "Success" if error is None else "Failed"
        return IngestResult(file.file_name, rule.target_table, log_id, rows, status, error)

    def process_key(self, bucket: str, key: str) -> IngestResult:
        return self.process_file(FileToProcess(bucket, key))
