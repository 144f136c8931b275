"""Count code lines under each given path: python scripts/code_lines.py <path>...

A code line is a physical line of a `.py` file that holds at least one
token other than a comment or a NL / NEWLINE / INDENT / DEDENT token,
and that is not part of a module, class or function docstring. Blank
lines, comment-only lines and docstrings therefore do not count; a
multi-line string or call counts every line it spans.

Prints one `<name> <lines>` line per path, where <name> is the path's
last component (`crypto_lakehouse_spark/streaming` prints `streaming`).
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_LAYOUT = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
    tokenize.ENCODING,
}
_SCOPES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def _docstring_lines(tree: ast.Module) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, _SCOPES) or not node.body:
            continue
        first = node.body[0]
        if (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Constant)
            and isinstance(first.value.value, str)
        ):
            lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def file_code_lines(path: str) -> int:
    with open(path, "rb") as f:
        source = f.read()
    lines: set[int] = set()
    for tok in tokenize.tokenize(io.BytesIO(source).readline):
        if tok.type not in _LAYOUT:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    docstrings = _docstring_lines(ast.parse(source, path))
    return len(lines - docstrings)


def code_lines(path: str) -> int:
    if os.path.isfile(path):
        return file_code_lines(path)
    return sum(
        file_code_lines(os.path.join(root, name))
        for root, _dirs, names in os.walk(path)
        for name in names
        if name.endswith(".py")
    )


def main(paths: list[str]) -> int:
    if not paths:
        print(__doc__.splitlines()[0], file=sys.stderr)
        return 2
    for p in paths:
        print(os.path.basename(os.path.normpath(p)), code_lines(p))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
