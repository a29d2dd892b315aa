"""TXT source (reference: src/infrastructure/parsers/txt_parser.rs).

Reference semantics (SURVEY.md §2.2 P6): UTF-8 decode (hard error on invalid
bytes); one document per line, shaped ``{"line_number": <1-based int>,
"content": <line>}`` (txt_parser.rs:18-23).

Spark design: deterministic line numbers need a total order per file, which
``spark.read.text`` doesn't guarantee across splits. Two modes, picked
automatically by file size (``mode="auto"``, the default):

- ``wholefile`` — each file read with ``wholetext`` (one row per file,
  mirroring the reference's whole-buffer parse, s3_adapter.rs:39-46) and
  split with ``posexplode``: exact 0-based positions JVM-side, no UDF, no
  shuffle. Right answer for the reference's many-small-files ingest shape;
  a multi-GB file would become one JVM string (the same 512 MB-class
  ceiling the reference had), hence the auto-switch.
- ``distributed`` — splittable text reader + per-file ordering key: scales
  to arbitrarily large single files at the cost of one window shuffle.

The trailing-newline trim (the reference's ``lines()`` iterator never emits
a final empty line) is computed PER FILE as a narrow array expression before
the explode — no driver collect, and short files in a multi-file directory
are trimmed independently (round-1 used one global max-position job, which
both added a scan and mis-kept empty last lines on shorter files).
"""

from __future__ import annotations

from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .files import list_files

#: Above this single-file size, auto mode switches to the distributed reader
#: (whole-file rows stop being cheap around the split size anyway).
DEFAULT_WHOLEFILE_MAX_BYTES = 128 * 1024 * 1024


def read_txt(
    spark: SparkSession,
    path: str,
    parser_config: Optional[dict[str, Any]] = None,
) -> DataFrame:
    """Parse text file(s) into (line_number bigint, content string)."""
    cfg = parser_config or {}
    mode = cfg.get("mode", "auto")
    if mode == "auto":
        limit = int(cfg.get("wholefile_max_bytes", DEFAULT_WHOLEFILE_MAX_BYTES))
        biggest = max((n for _, n in list_files(spark, path)), default=0)
        mode = "distributed" if biggest > limit else "wholefile"

    if mode == "distributed":
        # Scalable path: per-file ordering key from a monotonic id within
        # input order. Spark's text source preserves offset order within a
        # split, and splits of one file keep offset order across partition
        # ids (FilePartition packing sorts by length DESC — equal-size
        # chunks of a single file are stable-sorted, the short tail chunk
        # sorts last), so ids are ordered per file. Pinned by
        # tests/test_json_txt_sources.py::test_txt_distributed_multisplit.
        df = spark.read.text(path).select(
            F.input_file_name().alias("_file"),
            F.monotonically_increasing_id().alias("_mid"),
            F.col("value"),
        )
        w = W.partitionBy("_file").orderBy("_mid")
        return df.select(
            F.row_number().over(w).cast("long").alias("line_number"),
            F.col("value").alias("content"),
        )

    whole = spark.read.text(path, wholetext=True)
    # Split per file, then drop a trailing empty element (= trailing newline)
    # per file — narrow expressions only.
    arr = F.split(F.col("value"), "\n", -1)
    trimmed = F.when(
        F.element_at(arr, -1) == "",
        F.slice(arr, F.lit(1), F.greatest(F.size(arr) - 1, F.lit(0))),
    ).otherwise(arr)
    lines = whole.select(trimmed.alias("_lines")).select(
        F.posexplode(F.col("_lines")).alias("pos", "content")
    )
    return lines.select(
        (F.col("pos") + 1).cast("long").alias("line_number"),
        F.col("content"),
    )
