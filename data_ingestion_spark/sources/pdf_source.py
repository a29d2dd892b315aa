"""PDF text-extraction source — the opt-in parser tier the reference asked
for but never shipped.

Reference parity note: the reference's own prompt lists PDF among the
formats to support (instructions.md:8), but the shipped parser menu stops
at xlsx and rejects it (src/infrastructure/parser_adapter.rs:54-57), and
its seed rules route nothing to a pdf table (migration.js:5-51). This
module EXCEEDS that fidelity while preserving the out-of-the-box behavior:
the extractor is NOT in the default dispatch registry — callers opt in with
``dispatch.parser_registered("pdf", read_pdf)`` (or ``register_parser`` for
the whole process), so an unconfigured pipeline still rejects ``.pdf``
exactly like the reference.

Extraction tier (pure stdlib: zlib + re, public ISO 32000 / PDF 1.4 spec):

- object scan (``N G obj … endobj``), trailer ``/Root`` → Catalog →
  ``/Pages`` → ``/Kids`` page-tree walk (nested tree nodes supported), per
  page ``/Contents`` (single ref or array);
- content streams: no filter or ``/FlateDecode`` (zlib); anything else —
  encryption, object streams holding the catalog, exotic filters — raises
  ValueError; a full extractor (pdfminer etc.) plugs in as its own ``pdf``
  parser over ``files.decode_files`` with ``PDF_SCHEMA``;
- text operators: ``BT``/``ET`` blocks; ``Tj``/``'``/``"`` show-string,
  ``TJ`` arrays (kern numbers ignored, strings concatenated); ``Td``/
  ``TD``/``T*`` start a new line; literal strings with all spec escapes
  (nested parens, ``\\ddd`` octal, line continuations) and ``<hex>``
  strings. Bytes decode as latin-1 — no CMap/ToUnicode mapping (register a
  full extractor for that; documented limitation, not silent corruption).

Output shape mirrors the TXT parser with a page axis: one row per text
line, ``(page_number 1-based, line_number 1-based within page, content)``.

If the page tree is unresolvable but the file is otherwise parseable (e.g.
cross-reference streams compress the catalog), the extractor falls back to
treating every text-bearing content stream as a page, in object order —
disclosed via the ``page_tree`` flag in ``pdf_metadata``.
"""

from __future__ import annotations

import re
import zlib
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession

from .files import decode_files

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b(.*?)endobj", re.DOTALL)
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)endstream", re.DOTALL)
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")

#: PDF output row shape (all parsers return a fixed schema, SURVEY §1.2).
PDF_SCHEMA = "page_number int, line_number int, content string"


def _scan_objects(data: bytes) -> dict[int, bytes]:
    """objnum → object body bytes (dict + optional stream), last-wins for
    incremental updates (later definitions override, per spec)."""
    objs: dict[int, bytes] = {}
    for m in _OBJ_RE.finditer(data):
        objs[int(m.group(1))] = m.group(3)
    return objs


def _dict_of(body: bytes) -> bytes:
    """The top-level << … >> dictionary bytes of an object body."""
    start = body.find(b"<<")
    if start < 0:
        return b""
    depth = 0
    i = start
    while i < len(body) - 1:
        if body[i : i + 2] == b"<<":
            depth += 1
            i += 2
        elif body[i : i + 2] == b">>":
            depth -= 1
            i += 2
            if depth == 0:
                return body[start:i]
        else:
            i += 1
    return body[start:]


def _ref_after(d: bytes, key: bytes) -> Optional[int]:
    m = re.search(re.escape(key) + rb"\s+(\d+)\s+\d+\s+R", d)
    return int(m.group(1)) if m else None


def _stream_bytes(body: bytes) -> Optional[bytes]:
    """Decoded stream payload of an object body (None if no stream)."""
    m = _STREAM_RE.search(body)
    if not m:
        return None
    raw = m.group(1)
    d = _dict_of(body)
    if b"/Filter" not in d:
        return raw
    if b"/FlateDecode" in d:
        # spec allows trailing EOL before endstream; zlib ignores garbage
        # after the deflate terminator
        return zlib.decompress(raw)
    raise ValueError("unsupported PDF stream filter — register a full extractor")


def _parse_literal_string(b: bytes, i: int) -> tuple[bytes, int]:
    """Parse a ( … ) literal string starting at b[i] == '('. Returns
    (decoded bytes, index past the closing paren)."""
    assert b[i] == 0x28
    i += 1
    depth = 1
    out = bytearray()
    n = len(b)
    while i < n and depth:
        c = b[i]
        if c == 0x5C:  # backslash escape
            i += 1
            if i >= n:
                break
            e = b[i]
            if e == 0x6E:
                out.append(10)
            elif e == 0x72:
                out.append(13)
            elif e == 0x74:
                out.append(9)
            elif e == 0x62:
                out.append(8)
            elif e == 0x66:
                out.append(12)
            elif e in (0x28, 0x29, 0x5C):
                out.append(e)
            elif 0x30 <= e <= 0x37:  # \ddd octal, up to 3 digits
                val = 0
                k = 0
                while k < 3 and i < n and 0x30 <= b[i] <= 0x37:
                    val = val * 8 + (b[i] - 0x30)
                    i += 1
                    k += 1
                out.append(val & 0xFF)
                continue  # i already advanced past the digits
            elif e in (0x0A, 0x0D):  # line continuation: \<EOL> vanishes
                if e == 0x0D and i + 1 < n and b[i + 1] == 0x0A:
                    i += 1
            else:  # unknown escape: the char stands for itself (spec)
                out.append(e)
            i += 1
        elif c == 0x28:
            depth += 1
            out.append(c)
            i += 1
        elif c == 0x29:
            depth -= 1
            if depth:
                out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    return bytes(out), i


def _parse_hex_string(b: bytes, i: int) -> tuple[bytes, int]:
    """Parse a < … > hex string starting at b[i] == '<'."""
    j = b.index(b">", i)
    hx = re.sub(rb"\s", b"", b[i + 1 : j])
    if len(hx) % 2:
        hx += b"0"  # spec: odd final digit implies trailing 0
    return bytes.fromhex(hx.decode("ascii")), j + 1


_TOKEN_RE = re.compile(rb"[^\s()<>\[\]{}/%]+")


def _content_text_lines(content: bytes) -> list[str]:
    """Text lines of one content stream (see module docstring for the
    operator subset)."""
    lines: list[str] = []
    cur: list[str] = []
    strings: list[str] = []  # operand stack of decoded strings

    def flush() -> None:
        if cur:
            lines.append("".join(cur))
            cur.clear()

    i, n = 0, len(content)
    while i < n:
        c = content[i]
        if c == 0x28:  # (
            s, i = _parse_literal_string(content, i)
            strings.append(s.decode("latin-1"))
        elif c == 0x3C:  # < or <<
            if content[i : i + 2] == b"<<":
                i += 2
            else:
                s, i = _parse_hex_string(content, i)
                strings.append(s.decode("latin-1"))
        elif c == 0x25:  # % comment to EOL
            j = content.find(b"\n", i)
            i = n if j < 0 else j + 1
        elif c in (0x5B, 0x5D, 0x7B, 0x7D, 0x3E, 0x2F):  # [ ] { } > /name
            if c == 0x2F:
                m = _TOKEN_RE.match(content, i + 1)
                i = m.end() if m else i + 1
            else:
                i += 1
        else:
            m = _TOKEN_RE.match(content, i)
            if not m:
                i += 1
                continue
            tok = m.group(0)
            i = m.end()
            if tok == b"Tj":
                if strings:
                    cur.append(strings[-1])
                strings.clear()
            elif tok == b"TJ":
                cur.append("".join(strings))
                strings.clear()
            elif tok in (b"'", b'"'):
                flush()
                if strings:
                    cur.append(strings[-1])
                strings.clear()
            elif tok in (b"Td", b"TD", b"T*"):
                flush()
                strings.clear()
            elif tok in (b"BT", b"ET"):
                flush()
                strings.clear()
    flush()
    return lines


def _page_content_objects(data: bytes, objs: dict[int, bytes]) -> list[list[int]]:
    """Content-object numbers per page, in page-tree order; [] signals the
    tree was unresolvable (caller falls back to stream order)."""
    m = None
    for m in re.finditer(rb"trailer(.*?)(?:startxref|\Z)", data, re.DOTALL):
        pass  # last trailer wins (incremental updates)
    root = _ref_after(m.group(1), b"/Root") if m else None
    if root is None or root not in objs:
        return []
    catalog = _dict_of(objs[root])
    pages_ref = _ref_after(catalog, b"/Pages")
    if pages_ref is None or pages_ref not in objs:
        return []

    pages: list[list[int]] = []

    def walk(num: int) -> None:
        d = _dict_of(objs.get(num, b""))
        if b"/Kids" in d:
            km = re.search(rb"/Kids\s*\[(.*?)\]", d, re.DOTALL)
            if km:
                for ref in _REF_RE.finditer(km.group(1)):
                    walk(int(ref.group(1)))
        elif b"/Page" in d:
            cm = re.search(rb"/Contents\s*(\[(?:.*?)\]|\d+\s+\d+\s+R)", d, re.DOTALL)
            if cm:
                pages.append([int(r.group(1)) for r in _REF_RE.finditer(cm.group(1))])
            else:
                pages.append([])

    walk(pages_ref)
    return pages


def pdf_metadata(data: bytes) -> dict | None:
    """(version, n_pages, page_tree, encrypted) or None if not a PDF."""
    if not data.startswith(b"%PDF-"):
        return None
    version = data[5 : data.find(b"\n", 0, 16) if b"\n" in data[:16] else 8]
    objs = _scan_objects(data)
    pages = _page_content_objects(data, objs)
    return {
        "version": version.rstrip(b"\r").decode("latin-1", "replace"),
        "n_pages": len(pages) if pages else sum(
            1 for b in objs.values() if b"/Page" in _dict_of(b) and b"/Pages" not in _dict_of(b)
        ),
        "page_tree": bool(pages),
        "encrypted": b"/Encrypt" in data,
    }


def pdf_extract_text_lines(data: bytes) -> list[tuple[int, int, str]]:
    """Extract text lines from a PDF: [(page_number, line_number, content)],
    both 1-based, line numbers per page. Raises ValueError for shapes the
    stdlib tier can't do faithfully (see module docstring)."""
    if not data.startswith(b"%PDF-"):
        raise ValueError("not a PDF (missing %PDF- header)")
    if b"/Encrypt" in data:
        raise ValueError("encrypted PDF — register a full extractor")
    objs = _scan_objects(data)
    page_objs = _page_content_objects(data, objs)
    page_streams: list[list[bytes]]
    if page_objs:
        page_streams = []
        for content_nums in page_objs:
            streams = []
            for num in content_nums:
                s = _stream_bytes(objs.get(num, b""))
                if s is not None:
                    streams.append(s)
            page_streams.append(streams)
    else:
        # fallback: every text-bearing stream is a page, object order
        page_streams = []
        for num in sorted(objs):
            s = _stream_bytes(objs[num])
            if s is not None and b"BT" in s:
                page_streams.append([s])
    out: list[tuple[int, int, str]] = []
    for pno, streams in enumerate(page_streams, start=1):
        lineno = 0
        for s in streams:
            for line in _content_text_lines(s):
                lineno += 1
                out.append((pno, lineno, line))
    return out


# ---------------------------------------------------------------------------
# Fixture/test encoder: a valid single-font PDF 1.4 writer (FlateDecode
# content streams, correct xref offsets) — the round-trip partner of the
# extractor, like png_encode for png_decode.
# ---------------------------------------------------------------------------
def _escape_pdf_string(s: str) -> bytes:
    out = s.encode("latin-1", "replace")
    return out.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")


def pdf_encode_simple(pages: list[list[str]]) -> bytes:
    """Encode pages of text lines as a minimal valid PDF (Helvetica 12pt,
    one FlateDecode content stream per page)."""
    objs: list[bytes] = []  # bodies, object number = index + 1
    n_pages = len(pages)
    # 1 Catalog, 2 Pages, 3 Font, then per page: Page (4+2i), Contents (5+2i)
    kids = " ".join(f"{4 + 2 * i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    for i, lines in enumerate(pages):
        objs.append(
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                f"/Resources << /Font << /F1 3 0 R >> >> "
                f"/Contents {5 + 2 * i} 0 R >>"
            ).encode()
        )
        parts = [b"BT /F1 12 Tf 72 720 Td"]
        for j, line in enumerate(lines):
            if j:
                parts.append(b"0 -14 Td")
            parts.append(b"(" + _escape_pdf_string(line) + b") Tj")
        parts.append(b"ET")
        payload = zlib.compress(b"\n".join(parts))
        objs.append(
            b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
            % (len(payload), payload)
        )
    buf = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for num, body in enumerate(objs, start=1):
        offsets.append(len(buf))
        buf += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    xref_at = len(buf)
    buf += b"xref\n0 %d\n" % (len(objs) + 1)
    buf += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        buf += b"%010d 00000 n \n" % off
    buf += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref_at)
    )
    return bytes(buf)


# ---------------------------------------------------------------------------
# Spark reader (opt-in: see the module docstring)
# ---------------------------------------------------------------------------
def read_pdf(
    spark: SparkSession,
    path: str,
    parser_config: Optional[dict[str, Any]] = None,
) -> DataFrame:
    """Parse PDF file(s) at ``path`` to (page_number, line_number, content)
    rows, each file decoded whole on an executor (bytes never hit the
    driver). Extraction errors raise when the rows are computed; the
    pipeline's per-file audit catches them."""
    return decode_files(spark, path, pdf_extract_text_lines, PDF_SCHEMA)
