"""XML source (reference: src/infrastructure/parsers/xml_parser.rs).

Reference semantics reproduced exactly (SURVEY.md §2.2 P7):
- only elements named ``record`` start a document (xml_parser.rs:22-23)
- attributes of ``<record>`` become string fields (xml_parser.rs:24-33)
- each child element's text becomes a string field keyed by its tag;
  repeated tags OVERWRITE (map insert — xml_parser.rs:38-45)
- ``</record>`` emits the document (xml_parser.rs:46-55)
- zero records in the file is a parse error (xml_parser.rs:66-69)

Spark design: no external spark-xml jar — each file is decoded whole on an
executor by ``files.decode_files`` using stdlib
``xml.etree.ElementTree.iterparse`` (streaming, no DOM — same event-based
shape as the reference's quick-xml scan), so a directory of XML files scales
horizontally; per-record schemas are dynamic, so records are emitted as a
``map<string,string>`` column and expanded to real columns with one
JVM-side key-discovery pass.
"""

from __future__ import annotations

import io
import xml.etree.ElementTree as ET
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..errors import ParseError
from .files import decode_files


def _strip_ns(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def parse_xml_records(data: bytes) -> list[dict[str, str]]:
    """Event-based extraction of ``<record>`` documents from one XML file.

    Mirrors the reference's quick-xml loop: attribute fields on start,
    child-text fields keyed by tag (later repeats overwrite), emit on end.
    """
    docs: list[dict[str, str]] = []
    current: Optional[dict[str, str]] = None
    child_tag: Optional[str] = None
    try:
        for event, elem in ET.iterparse(io.BytesIO(data), events=("start", "end")):
            tag = _strip_ns(elem.tag)
            if event == "start":
                if tag == "record":
                    current = {k: str(v) for k, v in elem.attrib.items()}
                    child_tag = None
                elif current is not None:
                    child_tag = tag
            else:  # end
                if tag == "record" and current is not None:
                    docs.append(current)
                    current = None
                    elem.clear()
                elif current is not None and child_tag == tag:
                    if elem.text is not None:
                        current[tag] = elem.text
                    child_tag = None
    except ET.ParseError as ex:
        raise ParseError(f"Failed to parse XML: {ex}") from ex
    return docs


def read_xml(
    spark: SparkSession,
    path: str,
    parser_config: Optional[dict[str, Any]] = None,
) -> DataFrame:
    """Parse XML file(s) at ``path`` into one all-string DataFrame."""
    docs = decode_files(spark, path, lambda data: [(d,) for d in parse_xml_records(data)],
                        "doc map<string,string>")
    # Key discovery: union of record keys, JVM-side, one small shuffle.
    keys = [
        r[0]
        for r in docs.select(F.explode(F.map_keys("doc")).alias("k"))
        .distinct()
        .orderBy("k")
        .collect()
    ]
    if not keys:
        # reference: zero <record> elements → parse error (xml_parser.rs:66-69)
        raise ParseError(f"No records found in XML file: {path}")
    return docs.select(*[F.col("doc").getItem(k).alias(k) for k in keys])
