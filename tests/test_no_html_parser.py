"""HTML is tokenized once, in ops/html_events.py.

No other module of the package imports `html.parser` (or its base
module `_markupbase`) or subclasses `HTMLParser`: each such parser is a
second tokenizer that can drift from the one the extractors share, and
it brings back the per-call cost html_events exists to avoid.  Read
HTML through `ops.html_events.html_events`."""

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent \
    / 'blueprint_oss_spark'
TOKENIZER = PACKAGE / 'ops' / 'html_events.py'
PARSER_MODULES = {'html.parser', '_markupbase'}


def _parser_uses(path: pathlib.Path):
  """(line, what) for every html.parser import or HTMLParser subclass
  in `path`."""
  tree = ast.parse(path.read_text(), filename=str(path))
  for node in ast.walk(tree):
    if isinstance(node, ast.Import):
      for alias in node.names:
        if alias.name in PARSER_MODULES:
          yield node.lineno, f'import {alias.name}'
    elif isinstance(node, ast.ImportFrom):
      if node.module in PARSER_MODULES or (
          node.module == 'html'
          and any(a.name == 'parser' for a in node.names)):
        yield node.lineno, f'from {node.module} import ...'
    elif isinstance(node, ast.ClassDef):
      for base in node.bases:
        name = getattr(base, 'id', getattr(base, 'attr', None))
        if name == 'HTMLParser':
          yield node.lineno, f'class {node.name}(HTMLParser)'


def test_no_html_parser_outside_the_tokenizer():
  found = [f'{path.relative_to(PACKAGE)}:{line}: {what} — use '
           f'ops.html_events.html_events'
           for path in sorted(PACKAGE.rglob('*.py')) if path != TOKENIZER
           for line, what in _parser_uses(path)]
  assert not found, found


def test_guard_sees_the_tokenizer_import():
  # the tokenizer itself reuses html.parser's patterns: the detector
  # must report that, or the guard above proves nothing
  assert list(_parser_uses(TOKENIZER))
