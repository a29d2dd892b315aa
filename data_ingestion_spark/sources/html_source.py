"""HTML main-content extraction source — the web-crawl parser tier an
LLM-corpus pipeline needs in front of every text operator.

Reference parity note: like PDF, HTML is outside the reference's shipped
parser menu (src/infrastructure/parser_adapter.rs:39-57 stops at xlsx), so
callers opt in with ``dispatch.parser_registered("html", read_html)`` (or
``register_parser`` for the whole process) — the default pipeline keeps
rejecting ``.html`` exactly like the reference.

Extraction tier (pure stdlib ``html.parser``, no lxml dependency):

- block segmentation: text accumulates into the current block; a new
  block opens at every block-level tag (p, div, h1-h6, li, td, blockquote,
  pre, title, article, section, nav, header, footer); inline tags (a, b,
  span, …) do NOT break blocks;
- ``script`` / ``style`` / ``noscript`` / ``template`` contents are
  skipped entirely;
- per block: whitespace-normalized text, char count, anchor-char count
  (chars emitted inside any ``<a>``), and link density in integer BASIS
  POINTS (anchor_chars·10000 / chars — integers so the oracle replays the
  boilerplate decision exactly, the repo-wide micro-unit rule);
- boilerplate gate (readability-lite, the content-extraction heuristic
  from Kohlschütter et al.'s boilerplate work): a block is KEPT iff
  link_density ≤ 50% and it has ≥ ``min_chars`` characters — nav bars and
  link farms drop, prose stays. Both kept and dropped blocks are emitted
  (``kept`` flag) so the decision is auditable, like the warn-as-data
  status rows elsewhere in the pipeline;
- entities/charrefs decode via ``convert_charrefs`` (stdlib, spec-exact).

Scale shape: one ``files.decode_files`` pass (each file decoded whole on
an executor, bytes never on the driver) — shared with the xlsx/PDF readers.
A full readability library plugs in the same way: register a parser that
calls ``decode_files`` with its own extractor and ``HTML_SCHEMA``.
"""

from __future__ import annotations

from html.parser import HTMLParser
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession

from .files import decode_files

BLOCK_TAGS = frozenset(
    "p div h1 h2 h3 h4 h5 h6 li td th blockquote pre title article section "
    "nav header footer".split()
)
SKIP_TAGS = frozenset("script style noscript template".split())

#: HTML output row shape (all parsers return a fixed schema, SURVEY §1.2).
HTML_SCHEMA = (
    "block_number int, tag string, content string, n_chars int, "
    "link_density_bp int, kept boolean"
)

DEFAULT_MIN_CHARS = 10


class _BlockParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[str, str, int, int]] = []
        self._tag = "body"
        self._parts: list[str] = []
        self._chars = 0
        self._anchor_chars = 0
        self._anchor_depth = 0
        self._skip_depth = 0

    def _flush(self, next_tag: str) -> None:
        text = " ".join("".join(self._parts).split())
        if text:
            self.blocks.append(
                (self._tag, text, self._chars, self._anchor_chars)
            )
        self._tag = next_tag
        self._parts = []
        self._chars = 0
        self._anchor_chars = 0

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in SKIP_TAGS:
            self._skip_depth += 1
        elif tag == "a":
            self._anchor_depth += 1
        elif tag in BLOCK_TAGS:
            self._flush(tag)
        elif tag == "br":
            self._parts.append(" ")

    def handle_endtag(self, tag: str) -> None:
        if tag in SKIP_TAGS:
            self._skip_depth = max(0, self._skip_depth - 1)
        elif tag == "a":
            self._anchor_depth = max(0, self._anchor_depth - 1)
        elif tag in BLOCK_TAGS:
            self._flush("body")

    def handle_data(self, data: str) -> None:
        if self._skip_depth:
            return
        self._parts.append(data)
        n = len(" ".join(data.split()))
        self._chars += n
        if self._anchor_depth:
            self._anchor_chars += n


def html_extract_blocks(
    data: bytes, min_chars: int = DEFAULT_MIN_CHARS
) -> list[tuple[int, str, str, int, int, bool]]:
    """bytes → [(block_number 1-based, tag, text, n_chars,
    link_density_bp, kept)] — see module docstring for the gate."""
    parser = _BlockParser()
    parser.feed(data.decode("utf-8", errors="replace"))
    parser._flush("body")
    out = []
    for i, (tag, text, chars, anchor) in enumerate(parser.blocks, start=1):
        n = len(text)
        bp = (anchor * 10000) // chars if chars else 0
        kept = bp <= 5000 and n >= min_chars
        out.append((i, tag, text, n, bp, kept))
    return out


def html_main_text(data: bytes, min_chars: int = DEFAULT_MIN_CHARS) -> str:
    """The kept blocks joined by newline — the document a downstream
    dedup/quality operator would consume."""
    return "\n".join(
        t for _, _, t, _, _, kept in html_extract_blocks(data, min_chars) if kept
    )


def read_html(
    spark: SparkSession,
    path: str,
    parser_config: Optional[dict[str, Any]] = None,
) -> DataFrame:
    """Parse HTML file(s) at ``path`` to block rows (``HTML_SCHEMA``)."""
    return decode_files(spark, path, html_extract_blocks, HTML_SCHEMA)
