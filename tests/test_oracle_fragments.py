"""Static guards: a fragment two queries or operators share is defined
once, never pasted into a second site.

``test_no_oracle_fragment_is_copied`` covers the DuckDB side: the scan
reads every multi-line string literal in ``suite/*.py`` (docstrings
excluded; an f-string's placeholders count as text, so ``{_SIG_CTE}`` is
one line) and fails when the same run of ``WINDOW`` non-blank lines,
compared with indentation stripped, occurs inside two different
literals. A window never spans two literals.

``test_no_spark_fragment_is_copied`` covers the Spark side with the same
window scan over the function-body code of every package module: each
line is stripped of indentation, comments and string-literal interiors
(a literal reads as ``""``), and ``def`` signatures, decorators, imports
and docstrings are left out. It fails when a run of ``CODE_WINDOW``
such lines occurs at two sites. A window never spans two top-level
functions. A run shorter than ``CODE_MIN_CHARS`` characters, or one
repeated line (a builder chain), is not counted: below that length the
matches are shared idioms such as a count-plus-sum aggregate with
different columns, not copied fragments.
"""

from __future__ import annotations

import ast
import io
import pathlib
import tokenize
from collections import defaultdict

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "nhl_data_warehouse_spark"
SUITE = PACKAGE / "suite"
WINDOW = 8
CODE_WINDOW = 6
CODE_MIN_CHARS = 100


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


def _code_text(source: str) -> list[str]:
    """The source's lines with comments dropped and each string
    literal (f-strings whole) reduced to ``""`` on its first line."""
    lines = source.splitlines()
    spans, depth = [], 0
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        name = tokenize.tok_name[tok.type]
        if name == "FSTRING_START":
            depth += 1
            if depth == 1:
                start = tok.start
        elif name == "FSTRING_END":
            depth -= 1
            if depth == 0:
                spans.append((start, tok.end, '""'))
        elif depth == 0 and name in ("STRING", "COMMENT"):
            spans.append((tok.start, tok.end, '""' if name == "STRING" else ""))
    for (sr, sc), (er, ec), text in reversed(spans):
        head, tail = lines[sr - 1][:sc], lines[er - 1][ec:]
        lines[sr - 1 : er] = [head + text + tail] + [""] * (er - sr)
    return lines


def _function_bodies(path: pathlib.Path):
    """(function name, [(line, stripped code)]) of each top-level
    function or method, nested ``def`` signatures and decorators,
    imports and docstrings left out."""
    source = path.read_text()
    tree = ast.parse(source)
    code = _code_text(source)
    funcs = (ast.FunctionDef, ast.AsyncFunctionDef)
    skip = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            skip.update(range(node.lineno, node.end_lineno + 1))
        if isinstance(node, (*funcs, ast.ClassDef)):
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            skip.update(range(first, node.body[0].lineno))
            if ast.get_docstring(node, clean=False) is not None:
                doc = node.body[0]
                skip.update(range(doc.lineno, doc.end_lineno + 1))

    def outermost(nodes):
        for node in nodes:
            if isinstance(node, funcs):
                yield node
            elif isinstance(node, ast.ClassDef):
                yield from outermost(node.body)

    for fn in outermost(tree.body):
        body = [
            (i, code[i - 1].strip())
            for i in range(fn.body[0].lineno, fn.end_lineno + 1)
            if i not in skip and code[i - 1].strip()
        ]
        yield fn.name, body


def test_no_spark_fragment_is_copied():
    where = defaultdict(set)
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for name, body in _function_bodies(path):
            for i in range(len(body) - CODE_WINDOW + 1):
                run = tuple(text for _, text in body[i : i + CODE_WINDOW])
                if sum(map(len, run)) >= CODE_MIN_CHARS and len(set(run)) > 1:
                    where[run].add(f"{rel}:{body[i][0]} ({name})")
    copies = {w: sorted(locs) for w, locs in where.items() if len(locs) > 1}
    report = "\n".join(
        f"{', '.join(locs)}: {' / '.join(w[:2])} ..." for w, locs in copies.items()
    )
    assert not copies, (
        f"{len(copies)} runs of {CODE_WINDOW} code lines appear at two sites "
        f"(keep one private helper in the module of the family):\n{report}"
    )
