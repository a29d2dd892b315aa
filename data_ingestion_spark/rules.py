"""Config-rule routing: regex-on-key → (target_table, parser_config).

Reference semantics (SURVEY.md §2.1 S4):
- a rule is ``{pattern, target_table, parser_config}``
  (src/domain/models.rs:4-9)
- ALL rules are tested against the incoming key; among matches the rule with
  the LONGEST pattern string wins — "most specific" tie-break
  (src/infrastructure/mongodb/config_repo.rs:73-77, unit-tested in
  src/tests/config_matching_tests.rs:27-47). The CouchDB/DocumentDB variants
  use first-match; the rebuild standardizes on the tested longest-wins.

Anti-pattern NOT ported (SURVEY.md §4.2): the reference re-reads the whole
rule collection and recompiles every regex per file. Here rules are loaded
once and patterns compiled once; `RuleSet` is cheap to broadcast if matching
ever moves executor-side.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from typing import Any, Optional

from .errors import ConfigError


@dataclass(frozen=True)
class IngestionConfigRule:
    """One routing rule (reference: src/domain/models.rs:4-9)."""

    pattern: str
    target_table: str
    parser_config: Optional[dict] = None

    def __post_init__(self) -> None:
        object.__setattr__(self, "_regex", re.compile(self.pattern))

    def matches(self, key: str) -> bool:
        return self._regex.search(key) is not None  # type: ignore[attr-defined]


@dataclass
class RuleSet:
    rules: list[IngestionConfigRule] = field(default_factory=list)

    def match(self, key: str) -> Optional[IngestionConfigRule]:
        """Longest-pattern-wins over all matching rules; None if no match."""
        candidates = [r for r in self.rules if r.matches(key)]
        if not candidates:
            return None
        return max(candidates, key=lambda r: len(r.pattern))

    def match_or_raise(self, key: str) -> IngestionConfigRule:
        rule = self.match(key)
        if rule is None:
            raise ConfigError(f"No configuration found for file: {key}")
        return rule


def rules_from_dicts(rows: list[dict[str, Any]]) -> RuleSet:
    out = []
    for row in rows:
        cfg = row.get("parser_config")
        if isinstance(cfg, str):  # DocumentDB stores it as a JSON string
            cfg = json.loads(cfg)  # (reference: documentdb/config_repo.rs:42-43)
        out.append(
            IngestionConfigRule(
                pattern=row["pattern"],
                target_table=row["target_table"],
                parser_config=cfg,
            )
        )
    return RuleSet(out)


#: The reference's seed rules (migration.js:5-51), kept as the default so the
#: out-of-the-box routing behavior matches the shipped system.
DEFAULT_RULES = RuleSet(
    [
        IngestionConfigRule(r".*\.csv$", "csv_data", {"delimiter": ",", "has_headers": True}),
        IngestionConfigRule(r".*\.json$", "json_data"),
        IngestionConfigRule(r"reports/.*\.xlsx?$", "excel_reports"),
        IngestionConfigRule(r"logs/.*\.txt$", "text_logs"),
        IngestionConfigRule(r".*\.xml$", "xml_data"),
        IngestionConfigRule(r".*\.xlsx?$", "excel_data"),
        IngestionConfigRule(
            r".*test_no_headers\.csv$",
            "csv_no_headers_data",
            {"headers": ["name", "age", "email", "city"]},
        ),
        # Rebuild extensions (columnar + Avro landings; no reference rule —
        # its parser menu stops at xlsx, parser_adapter.rs:32-58)
        IngestionConfigRule(r".*\.orc$", "orc_data"),
        IngestionConfigRule(r".*\.avro$", "avro_data"),
        # Compressed text landings: same target tables, the readers
        # decompress .gz transparently (dispatch strips the suffix)
        IngestionConfigRule(
            r".*\.csv\.gz$", "csv_data", {"delimiter": ",", "has_headers": True}
        ),
        IngestionConfigRule(r".*\.json\.gz$", "json_data"),
        IngestionConfigRule(r"logs/.*\.txt\.gz$", "text_logs"),
    ]
)
