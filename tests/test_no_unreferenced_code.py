"""Dead-code guard: every public top-level function or class of the
package must be referenced somewhere — in the package itself, ``tests/``,
``scripts/``, ``perfbench/``, ``bench*.py`` or ``__spark_entry__.py``.

A reference is any identifier use in the syntax tree (a name, an attribute
access or an imported name), so the scan needs no Spark. A name used in
an unrelated module still counts, which keeps the guard free of false
alarms at the price of missing a dead function that shares its name with
something live."""

import ast
import pathlib

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
        if isinstance(node, ast.Name):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, ast.alias):
            yield node.name.rsplit(".", 1)[-1]


def unreferenced(root: pathlib.Path = ROOT) -> list[str]:
    """``module:name`` of every public top-level def or class of the
    package that no scanned file references."""
    defined, used = [], set()
    for path in _sources(root):
        tree = ast.parse(path.read_text(), str(path))
        used.update(_identifiers(tree))
        if path.is_relative_to(root / PACKAGE):
            module = path.relative_to(root).with_suffix("").as_posix()
            defined += [
                (module, node.name)
                for node in tree.body
                if isinstance(node, (ast.FunctionDef, ast.ClassDef))
                and not node.name.startswith("_")
            ]
    return sorted(f"{m}:{name}" for m, name in defined if name not in used)


def test_no_unreferenced_public_code():
    assert unreferenced() == []
