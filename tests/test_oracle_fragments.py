"""Static guard: a DuckDB oracle fragment shared by two queries is
defined once (a ``_*_CTE`` constant or an ``_*_sql()`` helper in the
suite module of its family), never pasted into a second oracle.

The scan reads every multi-line string literal in ``suite/*.py``
(docstrings excluded; an f-string's placeholders count as text, so
``{_SIG_CTE}`` is one line) and fails when the same run of ``WINDOW``
non-blank lines, compared with indentation stripped, occurs inside two
different literals. A window never spans two literals.
"""

from __future__ import annotations

import ast
import pathlib
from collections import defaultdict

SUITE = (
    pathlib.Path(__file__).resolve().parent.parent
    / "nhl_data_warehouse_spark"
    / "suite"
)
WINDOW = 8


def _text(node: ast.AST) -> str | None:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    if isinstance(node, ast.JoinedStr):
        return "".join(
            v.value if isinstance(v, ast.Constant) else "{" + ast.unparse(v.value) + "}"
            for v in node.values
        )
    return None


def _literals(path: pathlib.Path):
    """(line, stripped non-blank lines) of each multi-line literal."""
    tree = ast.parse(path.read_text())
    skip = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Expr):  # docstrings and bare strings
            skip.add(id(node.value))
        if isinstance(node, ast.JoinedStr):  # the parts of an f-string
            skip.update(id(v) for v in ast.walk(node) if v is not node)
    for node in ast.walk(tree):
        text = _text(node)
        if text is None or id(node) in skip or node.lineno == node.end_lineno:
            continue
        yield node.lineno, [ln.strip() for ln in text.splitlines() if ln.strip()]


def test_no_oracle_fragment_is_copied():
    where = defaultdict(set)
    for path in sorted(SUITE.glob("*.py")):
        for lineno, lines in _literals(path):
            for i in range(len(lines) - WINDOW + 1):
                where[tuple(lines[i : i + WINDOW])].add(f"{path.name}:{lineno}")
    copies = {w: sorted(locs) for w, locs in where.items() if len(locs) > 1}
    report = "\n".join(
        f"{', '.join(locs)}: {' / '.join(w[:2])} ..." for w, locs in copies.items()
    )
    assert not copies, (
        f"{len(copies)} runs of {WINDOW} lines appear in two string literals "
        f"(share them as a _*_CTE constant or _*_sql() helper):\n{report}"
    )
