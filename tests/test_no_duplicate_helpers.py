"""Guard against copied helpers: no two top-level functions of the
package, in one module or in two, may have the same body. Shared code
lives once in operators/ (or functions/) and is imported —
plans/provenance.py follows imports transitively, so importing costs no
fingerprint precision and copying buys nothing."""

from __future__ import annotations

import ast
from collections import defaultdict

from etl_from_s3_to_postgresql_template_spark.plans import provenance

#: bodies shorter than this (def line included, docstring excluded) are
#: one-liners whose coincidental equality is not a copy worth flagging
MIN_LINES = 4


def _function_bodies(tree: ast.Module):
    """(name, body dump, line count) per top-level function, docstring
    stripped. The dump omits names of the function itself and line
    numbers, so a verbatim copy under another name matches."""
    for node in tree.body:
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        body, lines = node.body, node.end_lineno - node.lineno + 1
        if (
            isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            lines -= body[0].end_lineno - body[0].lineno + 1
            body = body[1:]
        if body:
            yield node.name, ast.dump(ast.Module(body=body, type_ignores=[])), lines


def duplicate_groups(pkg_root) -> list[list[tuple[str, str]]]:
    groups: dict[str, list[tuple[str, str, int]]] = defaultdict(list)
    for path in sorted(pkg_root.rglob("*.py")):
        rel = str(path.relative_to(pkg_root))
        for name, dump, lines in _function_bodies(ast.parse(path.read_text())):
            groups[dump].append((rel, name, lines))
    return [
        [(rel, name) for rel, name, _ in defs]
        for defs in groups.values()
        if len(defs) > 1 and max(n for *_, n in defs) >= MIN_LINES
    ]


def test_no_function_body_is_defined_in_two_modules():
    dups = duplicate_groups(provenance._pkg_root(None))
    assert not dups, f"identical top-level function bodies: {dups}"


def test_guard_detects_a_renamed_copy(tmp_path):
    body = '    """doc"""\n    x = 1\n    y = x + 1\n    return y\n'
    (tmp_path / "a.py").write_text("def f():\n" + body)
    (tmp_path / "b.py").write_text("def g():\n" + body.replace('"""doc"""', '"""other"""'))
    (tmp_path / "c.py").write_text("def h():\n    return 1\n")
    same = "    x = 2\n    y = x * 3\n    return y\n"
    (tmp_path / "d.py").write_text("def p():\n" + same + "\n\ndef q():\n" + same)
    assert duplicate_groups(tmp_path) == [
        [("a.py", "f"), ("b.py", "g")],
        [("d.py", "p"), ("d.py", "q")],
    ]
