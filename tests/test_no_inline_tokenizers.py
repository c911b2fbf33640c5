r"""Tokenization is defined once, in ops/common.py.

No module under ops/ other than common.py splits text on the word
separators ' ' or r'\s+' itself, either as an `F.split` call or as a
`filter(split(...))` inside SQL text: each such copy is a second
definition of `words` / `normalized_words` that can drift from the
Python twins and the oracle SQL (heavy_hitters' Arrow pass once split
on every whitespace character while its verify pass split on ' ').
A split with another meaning is allowlisted below with its reason;
character (''), line ('\n') and WARC ('\r\n\r\n') splits do not match
the word separators."""

import ast
import pathlib
import re

OPS = pathlib.Path(__file__).resolve().parent.parent \
    / 'blueprint_oss_spark' / 'ops'
WORD_SEPARATORS = {' ', r'\s+'}
SQL_WORDS = re.compile(r'filter\(\s*split\(')

#: (module, top-level function) -> why its word-separator split is not
#: the tokenization contract
ALLOWED = {
    ('curation.py', 'c4_line_clean'):
        "the C4 rule size(split(line, ' ')) >= 3 counts raw split slots",
    ('multimodal.py', 'caption_pairs'):
        r"caption windows take raw \s+ slots of the trimmed text, and "
        'a NULL text must stay a NULL caption',
}


def _splits():
  """(module, top-level function, line, what) for every word-separator
  split outside common.py."""
  for path in sorted(OPS.glob('*.py')):
    if path.name == 'common.py':
      continue
    tree = ast.parse(path.read_text(), filename=str(path))
    for top in tree.body:
      owner = getattr(top, 'name', '<module>')
      for node in ast.walk(top):
        if (isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == 'split'
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == 'F'
            and len(node.args) >= 2
            and isinstance(node.args[1], ast.Constant)
            and node.args[1].value in WORD_SEPARATORS):
          yield path.name, owner, node.lineno, 'F.split'
        elif (isinstance(node, ast.Constant)
              and isinstance(node.value, str)
              and SQL_WORDS.search(node.value)):
          yield path.name, owner, node.lineno, 'SQL filter(split(...))'


def test_no_inline_word_split_under_ops():
  found = [f'{mod}:{line} in {fn}: {what} — use ops.common.words / '
           f'normalized_words / word_ngrams'
           for mod, fn, line, what in _splits()
           if (mod, fn) not in ALLOWED]
  assert not found, found


def test_allowlist_has_no_stale_entries():
  live = {(mod, fn) for mod, fn, _, _ in _splits()}
  assert set(ALLOWED) <= live, set(ALLOWED) - live
