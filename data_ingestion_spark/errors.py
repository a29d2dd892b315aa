"""Error hierarchy mirroring the reference's IngestionError variants
(reference: src/domain/errors.rs — Config / Fetch / Parse / Database)."""

from __future__ import annotations


class IngestionError(Exception):
    """Base class for all ingestion failures."""


class ConfigError(IngestionError):
    """No config rule matched, or the rule store is unreadable
    (reference: ingestion_service.rs:49-55)."""


class FetchError(IngestionError):
    """Input file missing/unreadable (reference: s3_adapter.rs:19-50)."""


class ParseError(IngestionError):
    """Parser-level failure, including the unsupported-file-type rejection
    (reference: parser_adapter.rs:54-57, xml_parser.rs:66-69)."""

