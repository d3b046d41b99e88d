"""Count code lines in Python sources: no blank lines, no comment-only
lines, no docstrings (module, class and function).

Usage: python tools/code_lines.py PATH [PATH ...]

Each PATH is a ``.py`` file or a directory, searched recursively for
``.py`` files. Prints one line per PATH and a total.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_SKIP = {
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
        if not isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        first = node.body[0] if node.body else None
        if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant) and isinstance(first.value.value, str):
            lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def file_code_lines(path: str) -> int:
    with open(path, encoding="utf-8") as fh:
        src = fh.read()
    docs = _docstring_lines(ast.parse(src))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _SKIP:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - docs)


def code_lines(path: str) -> int:
    if os.path.isfile(path):
        return file_code_lines(path)
    return sum(
        file_code_lines(os.path.join(d, f))
        for d, _, names in os.walk(path)
        for f in names
        if f.endswith(".py")
    )


def main(paths: list[str]) -> int:
    if not paths:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for p in paths:
        n = code_lines(p)
        total += n
        print(f"{n:8d}  {p}")
    print(f"{total:8d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
