"""No module defines a top-level function or class name twice: Python
binds the last definition, so the first is dead code that still reads
as live (and a fix applied to it silently does nothing)."""

import ast
import collections
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent


def _sources():
  for pkg in ('blueprint_oss_spark', 'scripts'):
    yield from sorted((ROOT / pkg).rglob('*.py'))
  yield ROOT / 'bench.py'
  yield ROOT / '__spark_entry__.py'


def test_no_top_level_name_defined_twice():
  dupes = []
  for path in _sources():
    tree = ast.parse(path.read_text(), filename=str(path))
    counts = collections.Counter(
        node.name for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)))
    dupes += [f'{path.relative_to(ROOT)}: {name} x{n}'
              for name, n in counts.items() if n > 1]
  assert not dupes, dupes
