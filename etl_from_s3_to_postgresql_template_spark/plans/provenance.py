"""Plan-source fingerprints: verified-status that auto-invalidates on edit.

The external driver's correctness gate checks a bounded PREFIX of the
registry each round, so plans/__init__ rotates not-yet-verified queries to
the front. "Verified" used to be a hardcoded name list — which silently kept
a query out of the re-check window even after its plan was rewritten (the
exact hazard ADVICE.md r3 flagged). Here verified status is keyed on a
FINGERPRINT of the query's source instead: sha256 over the defining plan
module's text plus the text of every in-package module it imports,
followed TRANSITIVELY to a fixed point (plan -> streaming/bloom_state ->
operators/bloom is two levels; a one-level scan missed such edits).
Any edit to the plan, its oracle SQL (inline in the module), or any
module it reaches changes the fingerprint, drops the query from the verified set,
and rotates it back into the driver's checked prefix automatically.
That is why shared helpers live once in operators/ (or functions/) and
are imported, never copied: the import itself carries every dependent
query's re-check.

Everything is TEXT-based (imports are read with ``ast``, never executed),
so tools/stamp_verified.py can compute fingerprints for an arbitrary git
snapshot — stamps are generated from the tree the driver actually verified,
not from whatever the working tree has mutated into since.
"""

from __future__ import annotations

import ast
import hashlib
import json
import re
from pathlib import Path

_PKG = "etl_from_s3_to_postgresql_template_spark"
# In-package import statements, top-level or function-local, including
# parenthesized multi-line name lists; each match parses on its own.
_IMPORT_RE = re.compile(
    rf"^[ \t]*((?:from {_PKG}[\w.]* import (?:\([^)]*\)|[^\n]*))|import {_PKG}[\w.]*[^\n]*)",
    re.MULTILINE,
)
# Matches @query registration sites (the only registration mechanism).
# NB: this module lives in plans/ and is scanned by query_module_map too,
# so no text here may look like a real registration call — a literal
# example in this comment once produced a phantom registry entry.
_QUERY_RE = re.compile(r"@query\(\s*\n?\s*[\"']([A-Za-z0-9_]+)[\"']")

STAMPS_FILE = Path(__file__).with_name("_verified_stamps.json")
#: provenance ledger beside the stamps ({name: {kind, ref, file,
#: driver_round}} — see tools/stamp_verified.py). Shared constant so the
#: writer (stamp_verified) and the reader (plans/__init__'s vintage
#: rotation) cannot drift apart on the filename.
META_FILE = STAMPS_FILE.with_name("_verified_stamps_meta.json")


def _pkg_root(root: str | Path | None = None) -> Path:
    if root is None:
        return Path(__file__).resolve().parents[1]
    return Path(root) / _PKG


def query_module_map(root: str | Path | None = None) -> dict[str, Path]:
    """name -> plan-module path, by scanning @query sites in plans/*.py."""
    out: dict[str, Path] = {}
    for f in sorted((_pkg_root(root) / "plans").glob("*.py")):
        for name in _QUERY_RE.findall(f.read_text()):
            out[name] = f
    return out


def _module_file(root: Path, parts: list[str]) -> Path | None:
    """The source file of in-package module ``parts`` (``["operators",
    "bloom"]``), or None if ``parts`` names no module."""
    if not parts:
        return None
    mod = root.joinpath(*parts)
    for cand in (mod.with_suffix(".py"), mod / "__init__.py"):
        if cand.exists():
            return cand
    return None


def _direct_deps(module_path: Path, root: Path) -> set[Path]:
    """In-package modules ``module_path`` imports, top-level or
    function-local: ``from pkg.sub.mod import name``, ``from pkg.sub
    import mod`` (a submodule) and ``import pkg.sub.mod``. Only the
    import statements are parsed (a whole-package ``ast.parse`` costs
    ~15x more, paid on every ``plans`` import)."""
    deps: set[Path] = set()
    stmts = "\n".join(m.group(1) for m in _IMPORT_RE.finditer(module_path.read_text()))
    for node in ast.walk(ast.parse(stmts)):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            parts = node.module.split(".")
            if parts[0] != _PKG:
                continue
            for alias in node.names:
                dep = _module_file(root, [*parts[1:], alias.name]) or _module_file(
                    root, parts[1:]
                )
                if dep is not None:
                    deps.add(dep)
        elif isinstance(node, ast.Import):
            for alias in node.names:
                parts = alias.name.split(".")
                if parts[0] == _PKG and (dep := _module_file(root, parts[1:])):
                    deps.add(dep)
    deps.discard(module_path)
    return deps


def _dep_files(
    module_path: Path, root: Path, cache: dict[Path, set[Path]] | None = None
) -> list[Path]:
    """Every in-package module ``module_path`` reaches through imports,
    followed to a fixed point (cycles terminate). ``cache`` holds each
    module's direct imports so one sweep parses every file once."""
    cache = {} if cache is None else cache
    seen: set[Path] = set()
    todo = [module_path]
    while todo:
        mod = todo.pop()
        if mod not in cache:
            cache[mod] = _direct_deps(mod, root)
        for dep in cache[mod] - seen:
            if dep != module_path:
                seen.add(dep)
                todo.append(dep)
    return sorted(seen)


def fingerprint_all(root: str | Path | None = None) -> dict[str, str]:
    """name -> sha256 fingerprint for every registered query in the tree."""
    pkg = _pkg_root(root)
    mod_map = query_module_map(root)
    text_cache: dict[Path, str] = {}

    def text(p: Path) -> str:
        if p not in text_cache:
            text_cache[p] = p.read_text()
        return text_cache[p]

    dep_cache: dict[Path, set[Path]] = {}
    fp_cache: dict[Path, str] = {}
    out: dict[str, str] = {}
    for name, mod in mod_map.items():
        if mod not in fp_cache:
            h = hashlib.sha256(text(mod).encode())
            for dep in _dep_files(mod, pkg, dep_cache):
                h.update(b"\0")
                h.update(text(dep).encode())
            fp_cache[mod] = h.hexdigest()
        out[name] = fp_cache[mod]
    return out


def verified_names() -> frozenset[str]:
    """Names whose stamped fingerprint matches the CURRENT source — i.e.
    driver-verified and untouched since. Edited or new queries drop out."""
    if not STAMPS_FILE.exists():
        return frozenset()
    stamps: dict[str, str] = json.loads(STAMPS_FILE.read_text())
    current = fingerprint_all()
    return frozenset(n for n, fp in stamps.items() if current.get(n) == fp)
