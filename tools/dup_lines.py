"""Count hand-copied lines in the package: the repeated 6-line windows.

Counting rule: take every ``*.py`` file under the package, files in sorted
path order. Strip each line, and drop blank lines and lines that start
with ``#``. A line is *redundant* when it falls inside a 6-line window
whose text also appears earlier in the package (earliest occurrence
first). Windows never span two files.

Also printed: *code lines*, the non-blank lines left after comments and
docstrings are taken out.

Usage: python tools/dup_lines.py [package_dir]
"""

from __future__ import annotations

import ast
import os
import sys

WINDOW = 6
PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "data_ingestion_spark")


def package_files(root: str) -> list[str]:
    """Every ``*.py`` under ``root`` as a path relative to it, sorted."""
    out = []
    for d, _dirs, files in os.walk(root):
        for name in files:
            if name.endswith(".py"):
                out.append(os.path.relpath(os.path.join(d, name), root))
    return sorted(out)


def kept_lines(text: str) -> list[str]:
    """Stripped lines with blanks and ``#`` lines dropped."""
    return [s for s in (line.strip() for line in text.splitlines())
            if s and not s.startswith("#")]


def redundant_counts(sources: dict[str, str]) -> dict[str, int]:
    """``{file: redundant line count}`` over ``sources`` (``{path: text}``),
    scanned in sorted path order."""
    seen: set[tuple[str, ...]] = set()
    counts = {}
    for path in sorted(sources):
        lines = kept_lines(sources[path])
        marked = [False] * len(lines)
        for i in range(len(lines) - WINDOW + 1):
            key = tuple(lines[i:i + WINDOW])
            if key in seen:
                for j in range(i, i + WINDOW):
                    marked[j] = True
            else:
                seen.add(key)
        counts[path] = sum(marked)
    return counts


def code_lines(text: str) -> int:
    """Non-blank lines that are neither comments nor docstrings."""
    drop: set[int] = set()
    for node in ast.walk(ast.parse(text)):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)) and node.body:
            first = node.body[0]
            if (isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                drop.update(range(first.lineno, first.end_lineno + 1))
    n = 0
    for i, line in enumerate(text.splitlines(), 1):
        s = line.strip()
        if s and not s.startswith("#") and i not in drop:
            n += 1
    return n


def read_package(root: str) -> dict[str, str]:
    out = {}
    for rel in package_files(root):
        with open(os.path.join(root, rel), encoding="utf-8") as fh:
            out[rel] = fh.read()
    return out


def main(argv: list[str]) -> int:
    root = argv[0] if argv else PKG
    sources = read_package(root)
    red = redundant_counts(sources)
    code = {p: code_lines(t) for p, t in sources.items()}
    print(f"{'file':<40} {'redundant':>9} {'code':>7}")
    for p in sorted(sources, key=lambda p: (-red[p], p)):
        if red[p]:
            print(f"{p:<40} {red[p]:>9} {code[p]:>7}")
    print(f"{'total':<40} {sum(red.values()):>9} {sum(code.values()):>7}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
