"""Policy guard for the "one home per policy" invariant: each policy
below lives in exactly one place in the package. A source scan, no Spark:

* lineages materialize only in ``sources/tables.materialize`` (the only
  ``.localCheckpoint(`` / ``.checkpoint(`` calls);
* text tokenizes only through ``functions/text.py``: the Java ``\\s``
  class literal and the ``.strip(" ").lower()`` of the kernels' Python
  tokenizer appear nowhere else, and the Column tokenizer
  ``F.split(F.lower(F.trim(`` is written only in ``tokens_col``;
* stage data is written only by ``sources/manifest.write_stage`` (the only
  ``_SUCCESS``-marker option), stage directories are cleared only there
  (the only ``shutil.rmtree(``), no write sets a partition-overwrite mode
  (a stage is rewritten whole, never per partition), and no code changes
  the session conf (a write takes per-write options);
* jobs run on a second thread only in ``plans/pipeline.run_pipeline``,
  through ``InheritableThread``, which carries the caller's job group and
  description; a plain ``threading.Thread`` would launch jobs outside it.

A row whose home is ``None`` names a needle that appears nowhere."""

import ast
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "calendar_event_entity_extraction_spark"
TEXT = "functions/text.py"
MANIFEST = "sources/manifest.py"

# (needle, module that may hold it — or None, function it must sit in — or None)
HOMES = [
    (".localCheckpoint(", "sources/tables.py", "materialize"),
    (".checkpoint(", "sources/tables.py", "materialize"),
    (r"[ \t\n\x0B\f\r]", TEXT, None),
    ('.strip(" ").lower()', TEXT, None),
    ("F.split(F.lower(F.trim(", TEXT, "tokens_col"),
    ("partitionOverwriteMode", None, None),
    ("shutil.rmtree(", MANIFEST, "write_stage"),
    (".option(*_NO_SUCCESS_MARKER)", MANIFEST, "write_stage"),
    ("conf.set(", None, None),
    ("InheritableThread(", "plans/pipeline.py", "run_pipeline"),
    ("threading.Thread(", None, None),
]


def _function_lines(source: str, name: str) -> range:
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.FunctionDef) and node.name == name:
            return range(node.lineno, node.end_lineno + 1)
    return range(0)


@pytest.mark.parametrize("needle, home, func", HOMES)
def test_policy_has_one_home(needle, home, func):
    stray = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        source = path.read_text()
        lines = source.splitlines()
        if rel != home:
            allowed = range(0)
        elif func:
            allowed = _function_lines(source, func)
        else:
            allowed = range(1, len(lines) + 1)
        stray += [
            f"{rel}:{i}"
            for i, line in enumerate(lines, 1)
            if needle in line and i not in allowed
        ]
    assert stray == [], f"{needle!r} outside {home or 'nowhere'} {func or ''}: {stray}"
