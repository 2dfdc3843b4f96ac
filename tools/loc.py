"""Count the package's code lines: per file and in total.

A code line is a source line that holds at least one token other than a
comment, a newline or indentation, and that is not part of a docstring
(the string literal that opens a module, class or function body).
Blank lines, comment-only lines and docstrings are left out, so a
simplification is measured by the code it removes, not by the prose.

    python tools/loc.py [package_dir]

``package_dir`` defaults to ``fluent_plugin_sql_spark`` next to this
script's parent directory.  Prints one ``<lines>  <path>`` row per file,
sorted by path, then the total.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

_NON_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            continue
        body = node.body
        if (
            body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    """Number of code lines in one module's source text."""
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NON_CODE:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - _docstring_lines(ast.parse(source)))


def main(argv: list[str]) -> int:
    root = Path(__file__).resolve().parent.parent
    pkg = Path(argv[1]) if len(argv) > 1 else root / "fluent_plugin_sql_spark"
    total = 0
    for path in sorted(pkg.rglob("*.py")):
        n = code_lines(path.read_text(encoding="utf-8"))
        total += n
        print(f"{n:7,d}  {path.relative_to(pkg.parent)}")
    print(f"{total:7,d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
