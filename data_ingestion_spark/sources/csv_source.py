"""CSV source (reference: src/infrastructure/parsers/csv_parser.rs).

Reference semantics reproduced exactly (SURVEY.md §2.2 P1-P4):

- P1: first row = headers, each data row → one record, ALL values strings
  (csv_parser.rs:55 emits Value::String for every field).
- P2: ``parser_config.headers`` (list of names) ⇒ the file has NO header row
  and columns take the provided names (csv_parser.rs:14-22).
- P3: rows with MORE fields than headers keep the extras as ``column_{i}``
  where i is the 0-based overall field index (csv_parser.rs:52-55; unit test
  csv_parser_tests.rs:30-38 expects column_2/column_3).
- P4 (deliberate fidelity deviation, documented in SURVEY.md §2.2): the
  reference *ignores* the ``delimiter``/``has_headers`` keys its own seed
  rules carry (csv_parser.rs:14-17 reads only ``headers``); the rebuild
  honors them.

Spark design:
- Spark's CSV reader sizes rows to the first record and silently drops extra
  fields — so raggedness is handled by reading with an explicit schema WIDER
  than the header list (``ragged_extra_columns`` slack slots) and dropping
  the all-null tail afterwards.
- Spark's univocity parser nulls EVERY empty unquoted field before the
  ``nullValue`` option applies, so present-but-empty vs missing-trailing is
  reconstructed positionally: CSV fields are contiguous, so a null at
  position i with any non-null at a later position was present-but-empty →
  restored to ``""`` (what the reference's csv crate yields); trailing nulls
  (beyond the row's field count) stay NULL, matching the reference's
  missing-key semantics for short rows. The one undetectable corner is an
  empty field in the final position of a short row. ``nullValue`` is still
  pinned to an unmatchable sentinel so QUOTED empty fields survive as ``""``.
- The scan is fully parallel (splittable CSV, no multiLine); only the header
  line is fetched eagerly, via a LIMIT-1 text read.
"""

from __future__ import annotations

import csv as _csv
import io
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import ParseError
from .files import first_path

#: Sentinel that never appears in real data: with this as nullValue, empty
#: CSV fields stay "" and only absent trailing fields become NULL.
_NULL_SENTINEL = "\u0000"

DEFAULT_RAGGED_EXTRA = 16


def _read_header_line(spark: SparkSession, path: str, delimiter: str) -> list[str]:
    """Fetch and CSV-parse only the first line of the file (quote-aware).

    Known limit (documented): a QUOTED header cell containing an embedded
    newline is not reassembled by the LIMIT-1 line read — headers must be
    single-line (true of every reference fixture; the reference's csv crate
    shares the assumption for its header row)."""
    header_file = first_path(spark, path)
    if header_file is None:
        raise ParseError(f"No CSV files at: {path}")
    # A directory's header comes from its lexicographically first file
    # (deterministic; the text reader alone would pick an arbitrary one).
    first = spark.read.text(header_file).limit(1).collect()
    if not first:
        raise ParseError(f"Empty CSV file: {path}")
    reader = _csv.reader(io.StringIO(first[0]["value"]), delimiter=delimiter)
    return next(reader)


def read_csv(
    spark: SparkSession,
    path: str,
    parser_config: Optional[dict[str, Any]] = None,
) -> DataFrame:
    """Parse a CSV file into an all-string DataFrame with reference semantics."""
    cfg = parser_config or {}
    delimiter = cfg.get("delimiter", ",")
    custom_headers = cfg.get("headers")
    # Reference: has_headers is implied by the absence of custom headers
    # (csv_parser.rs:19); an explicit has_headers key is honored when custom
    # headers are not given (P4 upgrade).
    if custom_headers is not None:
        headers = [str(h) for h in custom_headers]
        has_header_row = False
    else:
        headers = _read_header_line(spark, path, delimiter)
        has_header_row = True
        if cfg.get("has_headers") is False:
            # header row is data: name columns positionally
            headers = [f"column_{i}" for i in range(len(headers))]
            has_header_row = False

    extra = int(cfg.get("ragged_extra_columns", DEFAULT_RAGGED_EXTRA))
    width = len(headers) + extra
    schema = T.StructType(
        [T.StructField(f"_f{i}", T.StringType(), True) for i in range(width)]
    )
    df = (
        spark.read.schema(schema)
        .option("header", has_header_row)
        .option("delimiter", delimiter)
        .option("nullValue", _NULL_SENTINEL)
        # RFC 4180 dialect (what the reference's Rust csv crate speaks):
        # quotes escape by doubling; backslash is a LITERAL character.
        # Spark's default escape='\' would silently eat backslashes.
        .option("escape", '"')
        .option("mode", "PERMISSIVE")
        .csv(path)
    )

    # Restore present-but-empty fields: null at position i with a non-null
    # anywhere after it was an empty field, not a missing one. Pure codegen
    # expressions — no UDF. (greatest() needs ≥2 args — width 1 has no
    # later position, so _last is just the 0/-1 presence marker.)
    pos_marks = [
        F.when(F.col(f"_f{i}").isNotNull(), F.lit(i)).otherwise(F.lit(-1))
        for i in range(width)
    ]
    last_idx = F.greatest(*pos_marks) if width > 1 else pos_marks[0]
    df = df.withColumn("_last", last_idx).select(
        *[
            F.when(
                F.col(f"_f{i}").isNull() & (F.lit(i) < F.col("_last")), F.lit("")
            )
            .otherwise(F.col(f"_f{i}"))
            .alias(f"_f{i}")
            for i in range(width)
        ]
    )

    # Which slack columns actually carry data? The live-extras aggregate
    # needs one full pass, and the caller's consumption is a second — so the
    # parsed frame is persisted (memory-and-disk) and BOTH read the cache:
    # one file scan total. The cache handle rides on the returned DataFrame
    # (`_csv_cache`); IngestionPipeline unpersists it after the sink write.
    extra_cols = [f"_f{i}" for i in range(len(headers), width)]
    cached = None
    if extra_cols:
        cached = df.persist()
        counts = cached.agg(
            *[F.count(F.col(c)).alias(c) for c in extra_cols]
        ).collect()[0]
        live_extras = [c for c in extra_cols if counts[c] > 0]
        df = cached
    else:
        live_extras = []

    select: list = []
    for i, name in enumerate(headers):
        select.append(F.col(f"_f{i}").alias(name))
    for c in live_extras:
        idx = int(c[2:])
        # reference keys overflow fields column_{overall 0-based index}
        select.append(F.col(c).alias(f"column_{idx}"))
    out = df.select(*select)
    if cached is not None:
        out._csv_cache = cached  # type: ignore[attr-defined]
    return out
