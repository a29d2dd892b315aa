"""Excel source (reference: src/infrastructure/parsers/excel_parser.rs).

Reference semantics reproduced exactly (SURVEY.md §2.2 P8):
- XLSX only — the reference opens even ``.xls`` files with an Xlsx reader
  (excel_parser.rs:9), so real legacy ``.xls`` binaries fail there too
- sheet 0 only (excel_parser.rs:16); the ``sheet_index`` config the seed
  rules carry is ignored by the shipped code (parser_adapter.rs:49-52)
- first row = header names (excel_parser.rs:19-24)
- every cell stringified (excel_parser.rs:33)
- cells BEYOND the header count are DROPPED (excel_parser.rs:31-35 —
  contrast CSV's column_{i} keep)
- empty sheet → empty result, not an error (excel_parser.rs:26-29)

Spark design: there is no native Spark Excel reader and this container has
no openpyxl, so the workbook decode is a minimal stdlib XLSX reader
(zipfile + ElementTree over sheet XML + sharedStrings — the public
ECMA-376/OOXML format). Each workbook decodes whole on an executor through
``files.decode_files``, so a directory of workbooks scales horizontally.
Workbooks are inherently whole-file (a zip), matching the reference's
whole-buffer parse.
"""

from __future__ import annotations

import io
import re
import xml.etree.ElementTree as ET
import zipfile
from typing import Any, Iterator, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..errors import ParseError
from .files import decode_files, first_file

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_CELL_REF = re.compile(r"([A-Z]+)([0-9]+)")


def _col_index(ref: str) -> int:
    """A→0, B→1, …, AA→26 (cell reference column letters)."""
    m = _CELL_REF.match(ref)
    if not m:
        return 0
    idx = 0
    for ch in m.group(1):
        idx = idx * 26 + (ord(ch) - ord("A") + 1)
    return idx - 1


def read_xlsx_rows(data: bytes, sheet_index: int = 0) -> list[list[str]]:
    """Decode one sheet of an xlsx workbook to rows of stringified cells.

    Minimal OOXML reader: shared strings + inline strings + raw numeric
    values, all emitted as strings (the reference stringifies every cell).
    """
    try:
        zf = zipfile.ZipFile(io.BytesIO(data))
    except zipfile.BadZipFile as ex:
        raise ParseError(f"Failed to open Excel file: {ex}") from ex

    shared: list[str] = []
    if "xl/sharedStrings.xml" in zf.namelist():
        root = ET.fromstring(zf.read("xl/sharedStrings.xml"))
        for si in root.findall(f"{_NS}si"):
            shared.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))

    sheets = sorted(
        n
        for n in zf.namelist()
        if re.fullmatch(r"xl/worksheets/sheet[0-9]+\.xml", n)
    )
    if sheet_index >= len(sheets):
        raise ParseError(f"Sheet index {sheet_index} out of range ({len(sheets)} sheets)")
    root = ET.fromstring(zf.read(sheets[sheet_index]))

    rows: list[list[str]] = []
    for row_el in root.iter(f"{_NS}row"):
        row: list[str] = []
        for c in row_el.findall(f"{_NS}c"):
            idx = _col_index(c.get("r", ""))
            ctype = c.get("t", "n")
            if ctype == "inlineStr":
                is_el = c.find(f"{_NS}is")
                val = (
                    "".join(t.text or "" for t in is_el.iter(f"{_NS}t"))
                    if is_el is not None
                    else ""
                )
            else:
                v = c.find(f"{_NS}v")
                raw = v.text if v is not None and v.text is not None else ""
                val = shared[int(raw)] if ctype == "s" and raw != "" else raw
            while len(row) < idx:
                row.append("")
            row.append(str(val))
        rows.append(row)
    return rows


def rows_to_documents(rows: list[list[str]]) -> tuple[list[str], list[list[str]]]:
    """Apply the reference's header/overflow semantics to raw sheet rows."""
    if not rows:
        return [], []  # empty sheet → empty result (excel_parser.rs:26-29)
    headers = [str(h) for h in rows[0]]
    out = []
    for row in rows[1:]:
        # overflow cells dropped; short rows padded with "" for a fixed schema
        vals = [row[i] if i < len(row) else "" for i in range(len(headers))]
        out.append(vals)
    return headers, out


def read_excel(
    spark: SparkSession,
    path: str,
    parser_config: Optional[dict[str, Any]] = None,
) -> DataFrame:
    """Parse xlsx workbook(s) at ``path`` into one all-string DataFrame.

    Header discovery needs one driver-side peek at the lexicographically
    first workbook (the file CSV takes its header from); the row decode
    itself runs distributed over every workbook.
    """
    cfg = parser_config or {}
    # Reference ignores sheet_index (parser_adapter.rs:49-52); honoring it is
    # the same documented upgrade as CSV's delimiter (SURVEY.md §2.2 P4).
    sheet_index = int(cfg.get("sheet_index", 0))

    first = first_file(spark, path)
    if first is None:
        raise ParseError(f"No Excel files at: {path}")
    headers, _ = rows_to_documents(read_xlsx_rows(first, sheet_index))
    # Duplicate header names collapse to ONE column (the reference's
    # map-insert makes the last duplicate win per row) — keep first
    # occurrence order, unique names only.
    headers = list(dict.fromkeys(headers))
    if not headers:
        return spark.createDataFrame([], "__empty string").drop("__empty")

    def decode(data: bytes) -> Iterator[list[str]]:
        hdrs, rows = rows_to_documents(read_xlsx_rows(data, sheet_index))
        for row in rows:
            # last-wins per row on duplicate headers (reference map-insert
            # semantics), then one value per global header — missing → ""
            rowmap = dict(zip(hdrs, row))
            yield [rowmap.get(h, "") for h in headers]

    schema = T.StructType([T.StructField(h, T.StringType()) for h in headers])
    return decode_files(spark, path, decode, schema)
