"""Top-level definitions are live code.

No module defines a top-level function or class name twice: Python
binds the last definition, so the first is dead code that still reads
as live (and a fix applied to it silently does nothing).  And no
top-level function, class or constant of the program is unreferenced:
a definition nothing names is dead code with the same risk."""

import ast
import collections
import io
import pathlib
import re
import tokenize

ROOT = pathlib.Path(__file__).resolve().parent.parent
_IDENT = re.compile(r'[A-Za-z_]\w*')


def _program():
  for pkg in ('blueprint_oss_spark', 'scripts'):
    yield from sorted((ROOT / pkg).rglob('*.py'))
  yield ROOT / 'bench.py'
  yield ROOT / '__spark_entry__.py'


def _sources():
  yield from _program()
  yield from sorted((ROOT / 'tests').rglob('*.py'))


def _top_level_names(tree):
  for node in tree.body:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                         ast.ClassDef)):
      yield node.name
    elif isinstance(node, (ast.Assign, ast.AnnAssign)):
      targets = node.targets if isinstance(node, ast.Assign) \
          else [node.target]
      yield from (t.id for t in targets if isinstance(t, ast.Name))


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


def _docstring_spans(tree):
  """(start, end) positions of the module, class and function
  docstrings."""
  for node in ast.walk(tree):
    if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                         ast.AsyncFunctionDef)) and node.body:
      first = node.body[0]
      if isinstance(first, ast.Expr) \
          and isinstance(first.value, ast.Constant) \
          and isinstance(first.value.value, str):
        yield ((first.lineno, first.col_offset),
               (first.end_lineno, first.end_col_offset))


def test_no_unreferenced_top_level_definition():
  # A reference is any occurrence of the name as a code identifier or
  # inside a string literal (getattr / registry lookups) in any of the
  # repo's .py files; comments and docstrings do not count.
  uses = collections.Counter()
  for path in ROOT.rglob('*.py'):
    rel = path.relative_to(ROOT).parts
    if any(p.startswith('.') or p == 'spark-warehouse' for p in rel):
      continue
    source = path.read_text()
    docstrings = list(_docstring_spans(ast.parse(source)))
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
      if tok.type == tokenize.NAME:
        uses[tok.string] += 1
      elif tok.type == tokenize.STRING and not any(
          start <= tok.start and tok.end <= end
          for start, end in docstrings):
        uses.update(_IDENT.findall(tok.string))
  defs = collections.defaultdict(list)
  for path in _program():
    tree = ast.parse(path.read_text(), filename=str(path))
    for name in _top_level_names(tree):
      if not (name.startswith('__') and name.endswith('__')):
        defs[name].append(str(path.relative_to(ROOT)))
  dead = [f'{where[0]}: {name}' for name, where in sorted(defs.items())
          if uses[name] <= len(where)]
  assert not dead, dead
