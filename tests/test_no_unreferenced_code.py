"""Dead-code guard: every public top-level function, class or UPPER_CASE
constant of the package must be referenced somewhere — in the package
itself, ``tests/``, ``scripts/``, ``perfbench/``, ``bench*.py`` or
``__spark_entry__.py``.

A reference is any identifier use in the syntax tree (a name that is read,
an attribute access or an imported name), so the scan needs no Spark; the
assignment that defines a constant is not a use of it. A name used in
an unrelated module still counts, which keeps the guard free of false
alarms at the price of missing a dead function that shares its name with
something live."""

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = "calendar_event_entity_extraction_spark"


def _sources(root: pathlib.Path):
    yield from sorted((root / PACKAGE).rglob("*.py"))
    for d in ("tests", "scripts", "perfbench"):
        yield from sorted((root / d).rglob("*.py"))
    yield from sorted(root.glob("bench*.py"))
    yield root / "__spark_entry__.py"


def _identifiers(tree: ast.AST):
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, ast.alias):
            yield node.name.rsplit(".", 1)[-1]


def _defined_names(tree: ast.Module):
    """Public top-level defs and classes, and public UPPER_CASE names
    assigned at module level."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            yield node.name
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                if isinstance(t, ast.Name) and re.fullmatch(r"[A-Z][A-Z0-9_]*", t.id):
                    yield t.id


def unreferenced(root: pathlib.Path = ROOT) -> list[str]:
    """``module:name`` of every public top-level def, class or constant
    of the package that no scanned file references."""
    defined, used = [], set()
    for path in _sources(root):
        tree = ast.parse(path.read_text(), str(path))
        used.update(_identifiers(tree))
        if path.is_relative_to(root / PACKAGE):
            module = path.relative_to(root).with_suffix("").as_posix()
            defined += [
                (module, name)
                for name in _defined_names(tree)
                if not name.startswith("_")
            ]
    return sorted(f"{m}:{name}" for m, name in defined if name not in used)


def test_no_unreferenced_public_code():
    assert unreferenced() == []
