"""ops/html_events is the stdlib html.parser, event for event.

The tokenizer's events must equal the handler calls that
`HTMLParser(convert_charrefs=True)` makes on `feed(doc); close()`, and
the three extractors built on it (extract_main_content, justext_page,
parse_hocr) must equal HTMLParser-driven copies of the classes they
replaced, kept below as the oracle.  Inputs: every boilerplate page of
300 doc ids x 3 variants, every HTML literal of the extractor tests,
and 1,000 documents of the tag-dense grammar in tests/html_grammar.py.
"""

from __future__ import annotations

import ast
import pathlib
import random
from html.parser import HTMLParser
from typing import List, Optional
from unittest import mock

from hypothesis import given, settings

from blueprint_oss_spark.ops import html_extract
from blueprint_oss_spark.ops.html_events import html_events
from blueprint_oss_spark.ops.html_extract import (
    JUSTEXT_GATE_STOPLIST, extract_main_content, justext_page,
    wrap_in_boilerplate,
)
from blueprint_oss_spark.spark.sources import _HOCR_BBOX, parse_hocr
from tests.html_grammar import html_documents

TESTS = pathlib.Path(__file__).resolve().parent


class _Recorder(HTMLParser):
  def __init__(self):
    super().__init__(convert_charrefs=True)
    self.events = []

  def handle_starttag(self, tag, attrs):
    self.events.append(('starttag', tag, attrs))

  def handle_endtag(self, tag):
    self.events.append(('endtag', tag, None))

  def handle_startendtag(self, tag, attrs):
    self.events.append(('startendtag', tag, attrs))

  def handle_data(self, data):
    self.events.append(('data', data, None))


def _recorded(doc: str):
  """HTMLParser's calls on doc, and the error it raised, if any."""
  p = _Recorder()
  try:
    p.feed(doc)
    p.close()
  except AssertionError as e:
    return p.events, repr(e)
  return p.events, None


def _tokenized(doc: str, attrs_of=None):
  events = []
  try:
    for e in html_events(doc, attrs_of):
      events.append(e)
  except AssertionError as e:
    return events, repr(e)
  return events, None


def _outcome(fn, *args):
  try:
    return 'ok', fn(*args)
  except Exception as e:  # noqa: BLE001 — the error is the outcome
    return 'raise', repr(e)


# ---------------------------------------------------------------------------
# The oracle: the HTMLParser-driven extractors the tokenizer replaced.
# ---------------------------------------------------------------------------

class _OracleBlocks(HTMLParser):
  def __init__(self):
    super().__init__(convert_charrefs=True)
    self._skip = 0
    self._link = 0
    self._stack: List[int] = []
    self._next_id = 0
    self.weight = {}
    self.blocks: List[List] = []
    self._open_block()

  def _open_block(self, tag: str = '', attrs=()):
    cid = self._next_id
    self._next_id += 1
    parent = self._stack[-1] if self._stack else None
    hints = ' '.join([tag] + [v for k, v in attrs
                              if k in ('class', 'id') and v])
    if (parent is not None
        and self.weight.get(parent, 1.0) == html_extract._NEG_WEIGHT):
      w = html_extract._NEG_WEIGHT
    elif html_extract._NEG_HINT.search(hints):
      w = html_extract._NEG_WEIGHT
    elif html_extract._POS_HINT.search(hints):
      w = html_extract._POS_WEIGHT
    else:
      w = 1.0
    self.weight[cid] = w
    self._stack.append(cid)
    self.blocks.append([cid, [], []])

  def handle_starttag(self, tag, attrs):
    if tag in html_extract._SKIP_SUBTREE:
      self._skip += 1
      return
    if self._skip:
      return
    if tag == 'a':
      self._link += 1
    elif tag in html_extract._BLOCK_TAGS:
      self._open_block(tag, attrs)

  def handle_endtag(self, tag):
    if tag in html_extract._SKIP_SUBTREE:
      self._skip = max(0, self._skip - 1)
      return
    if self._skip:
      return
    if tag == 'a':
      self._link = max(0, self._link - 1)
    elif tag in html_extract._BLOCK_TAGS and len(self._stack) > 1:
      self._stack.pop()
      self.blocks.append([self._stack[-1], [], []])

  def handle_data(self, data):
    if self._skip or not data.strip():
      return
    self.blocks[-1][0] = self._stack[-1]
    self.blocks[-1][1].append(data)
    if self._link:
      self.blocks[-1][2].append(data)


def _oracle_main_content(html: str) -> str:
  p = _OracleBlocks()
  try:
    p.feed(html)
    p.close()
  except AssertionError:  # extract_main_content reads this as ''
    return ''
  best_cid, best_score = None, -1.0
  per_container: dict = {}
  for cid, texts, links in p.blocks:
    if not texts:
      continue
    t = ''.join(texts)
    lt = ''.join(links)
    entry = per_container.setdefault(cid, [0, 0, []])
    entry[0] += len(t.strip())
    entry[1] += len(lt.strip())
    entry[2].append(t)
  for cid, (n, nl, texts) in per_container.items():
    if n == 0:
      continue
    score = n * (1.0 - nl / n) ** 2 * p.weight.get(cid, 1.0)
    if score > best_score:
      best_score, best_cid = score, cid
  if best_cid is None:
    return ''
  return ' '.join(''.join(per_container[best_cid][2]).split())


class _OracleJxBlocks(HTMLParser):
  def __init__(self):
    super().__init__()
    self.blocks: List[tuple] = []
    self._text: List[str] = []
    self._link: List[str] = []
    self._skip = 0
    self._a = 0

  def _flush(self):
    t = ' '.join(''.join(self._text).split())
    if t:
      self.blocks.append((t, ' '.join(''.join(self._link).split())))
    self._text, self._link = [], []

  def handle_starttag(self, tag, attrs):
    if tag in html_extract._JX_SKIP:
      self._skip += 1
      return
    if self._skip:
      return
    if tag in html_extract._JX_BLOCK_TAGS:
      self._flush()
    elif tag == 'a':
      self._a += 1

  def handle_endtag(self, tag):
    if tag in html_extract._JX_SKIP:
      self._skip = max(0, self._skip - 1)
      return
    if self._skip:
      return
    if tag in html_extract._JX_BLOCK_TAGS:
      self._flush()
    elif tag == 'a':
      self._a = max(0, self._a - 1)

  def handle_data(self, data):
    if self._skip:
      return
    self._text.append(data)
    if self._a:
      self._link.append(data)


def _oracle_jx_blocks(html: str) -> List[tuple]:
  p = _OracleJxBlocks()
  p.feed(html)
  p.close()
  p._flush()
  return p.blocks


def _oracle_justext(html: str) -> dict:
  with mock.patch.object(html_extract, '_jx_blocks', _oracle_jx_blocks):
    return justext_page(html, JUSTEXT_GATE_STOPLIST)


class _OracleHocr(HTMLParser):
  def __init__(self):
    super().__init__(convert_charrefs=True)
    self.pages: List[dict] = []
    self._word_bbox: Optional[tuple] = None
    self._word_parts: List[str] = []
    self._depth = 0

  def _finish_word(self):
    textv = ' '.join(''.join(self._word_parts).split())
    if textv and self._word_bbox is not None:
      x0, y0, x1, y1 = self._word_bbox
      self.pages[-1]['words'].append(
          (textv, float(x0), float(x1), float(y0), float(y1)))
    self._word_bbox = None
    self._word_parts = []
    self._depth = 0

  def handle_starttag(self, tag, attrs):
    a = dict(attrs)
    classes = (a.get('class') or '').split()
    if self._word_bbox is not None:
      self._depth += 1
      return
    m = _HOCR_BBOX.search(a.get('title') or '')
    if 'ocr_page' in classes:
      bbox = tuple(map(int, m.groups())) if m else None
      self.pages.append({
          'page_number': len(self.pages) + 1,
          'width': float(bbox[2] - bbox[0]) if bbox else 0.0,
          'height': float(bbox[3] - bbox[1]) if bbox else 0.0,
          'words': []})
    elif 'ocrx_word' in classes and m and self.pages:
      self._word_bbox = tuple(map(int, m.groups()))
      self._word_parts = []
      self._depth = 0

  def handle_startendtag(self, tag, attrs):
    if tag == 'br' and self._word_bbox is not None:
      self._word_parts.append(' ')

  def handle_data(self, data):
    if self._word_bbox is not None:
      self._word_parts.append(data)

  def handle_endtag(self, tag):
    if self._word_bbox is not None:
      if self._depth:
        self._depth -= 1
      else:
        self._finish_word()

  def close(self):
    super().close()
    if self._word_bbox is not None and self.pages:
      self._finish_word()
    for pg in self.pages:
      if (pg['width'] == 0.0 or pg['height'] == 0.0) and pg['words']:
        pg['width'] = max(w[2] for w in pg['words'])
        pg['height'] = max(w[4] for w in pg['words'])


def _oracle_hocr(text: str) -> List[dict]:
  p = _OracleHocr()
  p.feed(text)
  p.close()
  return p.pages


# ---------------------------------------------------------------------------


def _check(doc: str) -> None:
  events, error = _recorded(doc)
  assert _tokenized(doc) == (events, error)
  # attrs_of only empties the attributes of the other tags
  want = {'div', 'p'}
  blanked = [(k, t, a if a is None or t in want else [])
             for k, t, a in events]
  assert _tokenized(doc, want) == (blanked, error)
  assert extract_main_content(doc) == _oracle_main_content(doc)
  assert (_outcome(justext_page, doc, JUSTEXT_GATE_STOPLIST)
          == _outcome(_oracle_justext, doc))
  assert _outcome(parse_hocr, doc) == _outcome(_oracle_hocr, doc)


def test_boilerplate_pages():
  rng = random.Random(17)
  vocab = ('scan column a the & <b> "q" \'s\' &amp; 5 > 3 café — '
           'line\nbreak').split(' ')
  for doc_id in range(300):
    text = ' '.join(rng.choice(vocab) for _ in range(rng.randint(5, 80)))
    for variant in range(3):
      _check(wrap_in_boilerplate(str(doc_id), text, variant))
      _check(wrap_in_boilerplate(
          str(doc_id), f'Document {doc_id} part 0. {text}', variant))


class _Literals(ast.NodeVisitor):
  """Every string a test file builds from literals: constants, f-strings
  and '+' / '*' expressions over them, each name or formatted value
  standing for a short text run with an entity."""
  FILL = 'lorem &amp; ipsum dolor'

  def __init__(self):
    self.found = set()

  def value(self, node) -> str:
    if isinstance(node, ast.Constant):
      return node.value if isinstance(node.value, str) else ''
    if isinstance(node, ast.JoinedStr):
      return ''.join(self.value(v) for v in node.values)
    if isinstance(node, ast.BinOp) and isinstance(node.op, ast.Add):
      return self.value(node.left) + self.value(node.right)
    if (isinstance(node, ast.BinOp) and isinstance(node.op, ast.Mult)
        and isinstance(node.right, ast.Constant)
        and isinstance(node.right.value, int)):
      return self.value(node.left) * node.right.value
    return self.FILL

  def generic_visit(self, node):
    if isinstance(node, (ast.Constant, ast.JoinedStr, ast.BinOp)):
      s = self.value(node)
      if isinstance(s, str) and '<' in s:
        self.found.add(s)
    super().generic_visit(node)


def test_html_literals_of_the_extractor_tests():
  v = _Literals()
  for name in ('test_html_extract.py', 'test_justext.py',
               'test_hocr.py'):
    v.visit(ast.parse((TESTS / name).read_text()))
  assert len(v.found) > 30
  for doc in sorted(v.found):
    _check(doc)


@settings(max_examples=1000, deadline=None)
@given(html_documents())
def test_tag_dense_grammar(doc):
  _check(doc)
