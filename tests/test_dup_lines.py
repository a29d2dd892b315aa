"""tools/dup_lines.py: the repeated-window count, pinned on a tiny tree,
and a ratchet that keeps hand-copied shapes out of the query registries.

A line is redundant when it falls inside a 6-line window (stripped,
blank and ``#`` lines dropped) whose text appeared earlier in the
package, files in sorted path order. The registries once held 593 such
lines; shared builders took them down, and the ratchets below fail when
a copy comes back, in the registries or anywhere in the package. Lower
``REGISTRY_MAX`` / ``PACKAGE_MAX`` when a change removes more.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import dup_lines  # noqa: E402

REGISTRY_MAX = 58
PACKAGE_MAX = 154

SIX = "\n".join(f"x{i} = {i}" for i in range(6)) + "\n"


def test_counting_rule_on_a_synthetic_tree(tmp_path):
    (tmp_path / "pkg").mkdir()
    (tmp_path / "a.py").write_text(SIX + "unique_a = 1\n")
    # same six lines, split by blanks and comments, and extended by one
    # more shared line: windows 0 and 1 both repeat -> 7 lines
    (tmp_path / "b.py").write_text(
        "  x0 = 0\n\n# note\nx1 = 1\nx2 = 2\nx3 = 3\nx4 = 4\nx5 = 5\nunique_a = 1\n"
    )
    # five shared lines are below the window: nothing counts
    (tmp_path / "pkg" / "c.py").write_text("\n".join(f"x{i} = {i}" for i in range(5)) + "\n")
    # a copy inside one file counts only its second occurrence
    (tmp_path / "pkg" / "d.py").write_text("".join(f"y{i}\n" for i in range(6)) * 2)
    counts = dup_lines.redundant_counts(dup_lines.read_package(str(tmp_path)))
    assert counts == {"a.py": 0, "b.py": 7, "pkg/c.py": 0, "pkg/d.py": 6}


def test_code_lines_skip_comments_and_docstrings():
    src = '"""Module doc."""\n\n# c\ndef f():\n    """Doc\n    more."""\n    return 1  # x\n'
    assert dup_lines.code_lines(src) == 2


def test_registry_copies_do_not_come_back():
    counts = dup_lines.redundant_counts(dup_lines.read_package(dup_lines.PKG))
    registry = sum(n for p, n in counts.items() if os.path.basename(p).startswith("registry"))
    assert registry <= REGISTRY_MAX, {p: n for p, n in counts.items() if n}


def test_package_copies_do_not_come_back():
    counts = dup_lines.redundant_counts(dup_lines.read_package(dup_lines.PKG))
    assert sum(counts.values()) <= PACKAGE_MAX, {p: n for p, n in counts.items() if n}
