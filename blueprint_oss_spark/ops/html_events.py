"""The package's one HTML tokenizer: the event stream of the stdlib
`html.parser`, without its per-call overhead.

Contract: for a whole document, `html_events(doc)` yields exactly the
handler calls that `html.parser.HTMLParser(convert_charrefs=True)` makes
on `feed(doc); close()` under the running interpreter, in order, as
3-tuples:

  (STARTTAG, tag, attrs)      handle_starttag(tag, attrs)
  (ENDTAG, tag, None)         handle_endtag(tag)
  (STARTENDTAG, tag, attrs)   handle_startendtag(tag, attrs)   <br/>
  (DATA, text, None)          handle_data(text)

with the same data chunking (one chunk per run of text between two
'<', charrefs converted; a stray '<' is a chunk of its own) and the
same CDATA handling of script/style bodies (raw, up to the matching
end tag; an unterminated body is dropped).  Comments, declarations and
processing instructions are consumed without an event.  Where
html.parser raises (an `<![` marked section without a name, or with a
keyword it does not know), `html_events` raises the same
AssertionError after the same events.  A consumer that wants HTMLParser's default
`handle_startendtag` treats STARTENDTAG as STARTTAG then ENDTAG.

Where the speed comes from:
  * no line/offset bookkeeping (html.parser's `updatepos` counts the
    newlines of every token) and no re-buffering for incremental feeds;
  * one compiled pattern, `_TOKEN`, takes a text run, an end tag, or a
    start tag of the common shape in one match (below);
  * attributes are parsed only for the tags in `attrs_of`.
Every other '<' takes `_markup`, a transcription of html.parser's
branch for it that reuses html.parser's own module-level patterns, so
the tolerant cases stay exact by construction.

Why `_TOKEN`'s start tags give html.parser's events: its tag name
([a-zA-Z][-.:_a-zA-Z0-9]*) and attribute names
([a-zA-Z_:][-.:_a-zA-Z0-9]*) can only be followed by one of
' \\t\\n\\r\\f=/>', and html.parser's tolerant name patterns stop at
exactly those characters; separators are ASCII whitespace, which
html.parser's `\\s` also takes; a value is '='-introduced and either
quoted (the same quoted alternatives as html.parser) or bare, where a
bare value is html.parser's bare pattern (`[^>\\s]+`) minus a leading
'=' (html.parser reads '==x' as '=' runs then 'x').  Anything else
(e.g. a NUL or a U+00A0 after a tag name, `a=b=c`, `<a/b>`) fails the
pattern and takes the transcribed branch.

tests/test_html_events.py holds the tokenizer to the recorded
HTMLParser calls on the benchmark pages, every HTML literal of the
extractor tests and a tag-dense Hypothesis grammar; the AST guard
tests/test_no_html_parser.py keeps html.parser out of every other
module of the package.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import (
    attrfind_tolerant, endtagfind, locatestarttagend_tolerant, piclose,
    starttagopen, tagfind_tolerant,
)
from typing import Container, Iterator, Optional

# html.parser's declaration helpers live in its base module
from _markupbase import (  # noqa: I100
    _commentclose, _declname_match, _markedsectionclose,
    _msmarkedsectionclose,
)

STARTTAG, ENDTAG, STARTENDTAG, DATA = (
    'starttag', 'endtag', 'startendtag', 'data')

_ATTR = (r'''[ \t\n\r\f]+[a-zA-Z_:][-.:_a-zA-Z0-9]*'''
         r'''(?:[ \t\n\r\f]*=[ \t\n\r\f]*'''
         r'''(?:"[^"]*"|'[^']*'|(?!['"=])[^>\s]+))?''')
_TOKEN = re.compile(
    r'([^<]+)'                                    # 1: text run
    r'|</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>'       # 2: end tag (endtagfind)
    r'|<([a-zA-Z][-.:_a-zA-Z0-9]*)'               # 3: start tag name
    r'((?:' + _ATTR + r')*)'                      # 4: its attributes
    r'[ \t\n\r\f]*(/?)>'                          # 5: '/' of '/>'
    r'|(<)')                                      # 6: any other '<'
# One attribute of a `_TOKEN` start tag, its value split by quoting.
_ATTR_PARTS = re.compile(
    r'''[ \t\n\r\f]+([a-zA-Z_:][-.:_a-zA-Z0-9]*)'''
    r'''(?:[ \t\n\r\f]*=[ \t\n\r\f]*'''
    r'''(?:"([^"]*)"|'([^']*)'|((?!['"=])[^>\s]+)))?''')

# html.parser's CDATA_CONTENT_ELEMENTS and the end pattern its
# set_cdata_mode compiles for each
_CDATA_END = {tag: re.compile(r'</\s*%s\s*>' % tag, re.I)
              for tag in ('script', 'style')}
_MARKED_CLOSE = dict.fromkeys(
    ('temp', 'cdata', 'ignore', 'include', 'rcdata'), _markedsectionclose)
_MARKED_CLOSE.update(dict.fromkeys(('if', 'else', 'endif'),
                                   _msmarkedsectionclose))
# check_for_whole_start_tag: a start tag cut off before one of these
# is incomplete
_INCOMPLETE_AT = ('abcdefghijklmnopqrstuvwxyz=/'
                  'ABCDEFGHIJKLMNOPQRSTUVWXYZ')


def html_events(doc: str,
                attrs_of: Optional[Container[str]] = None) -> Iterator:
  """HTMLParser(convert_charrefs=True)'s handler calls on
  `feed(doc); close()`, as (kind, tag or text, attrs or None) tuples
  (module docstring).  `attrs_of`: the tags whose attributes a consumer
  reads (None: every tag); the other tags carry an empty list."""
  i, n = 0, len(doc)
  while i < n:
    # `_TOKEN` matches at every position, so its matches tile the text
    # until a '<' it does not take or a script/style body
    for m in _TOKEN.finditer(doc, i):
      g = m.lastindex
      if g == 1:
        text = m[1]
        yield DATA, unescape(text) if '&' in text else text, None
      elif g == 2:
        yield ENDTAG, m[2].lower(), None
      elif g == 5:
        tag = m[3].lower()
        raw = m[4]
        attrs = (_attrs(raw) if raw and (attrs_of is None or tag in attrs_of)
                 else [])
        if m[5]:
          yield STARTENDTAG, tag, attrs
        else:
          yield STARTTAG, tag, attrs
          if tag in _CDATA_END:
            i = yield from _cdata(doc, m.end(), tag)
            break
      else:
        events, i, cdata = _markup(doc, m.start(), attrs_of)
        yield from events
        if cdata is not None:
          i = yield from _cdata(doc, i, cdata)
        break
    else:
      return


def _attrs(raw: str) -> list:
  """The (name, value) list of a `_TOKEN` start tag's attribute text,
  as html.parser builds it: names lowered, quotes stripped, a non-empty
  value unescaped, None for a name without '='."""
  out = []
  for m in _ATTR_PARTS.finditer(raw):
    g = m.lastindex  # 1: no value; 2, 3, 4: "-quoted, '-quoted, bare
    value = m.group(g) if g > 1 else None
    if value:
      value = unescape(value)
    out.append((m.group(1).lower(), value))
  return out


def _cdata(doc: str, i: int, tag: str):
  """The body of a script/style element from `i`: raw text up to its
  end tag, as html.parser's CDATA mode cuts it.  Returns where normal
  parsing resumes (the end of `doc` when the body is unterminated,
  whose text html.parser drops)."""
  end = _CDATA_END[tag]
  while True:
    m = end.search(doc, i)
    if m is None:
      return len(doc)
    j = m.start()
    if i < j:
      yield DATA, doc[i:j], None
    gt = doc.find('>', j + 1) + 1
    e = endtagfind.match(doc, j)
    if e is not None and e.group(1).lower() == tag:
      yield ENDTAG, tag, None
      return gt
    yield DATA, doc[j:gt], None
    i = gt


def _markup(doc: str, i: int, attrs_of):
  """html.parser's goahead step at a '<' that `_TOKEN` does not take,
  as at close() (a construct cut off by the end of `doc` becomes
  text).  Returns (events, where parsing resumes, the script/style tag
  whose body follows or None)."""
  events, cdata = [], None
  if starttagopen.match(doc, i):
    k, events, cdata = _starttag(doc, i, attrs_of)
  elif doc.startswith('</', i):
    k, events = _endtag(doc, i)
  elif doc.startswith('<!--', i):
    m = _commentclose.search(doc, i + 4)
    k = m.end() if m else -1
  elif doc.startswith('<?', i):
    m = piclose.search(doc, i + 2)
    k = m.end() if m else -1
  elif doc.startswith('<!', i):
    k = _declaration(doc, i)
  else:
    # a stray '<' (at the very end, close() flushes it as the same text)
    return [(DATA, '<', None)], i + 1, None
  if k < 0:
    k = doc.find('>', i + 1)
    if k < 0:
      k = doc.find('<', i + 1)
      if k < 0:
        k = i + 1
    else:
      k += 1
    return [(DATA, unescape(doc[i:k]), None)], k, None
  return events, k, cdata


def _starttag(doc: str, i: int, attrs_of):
  """html.parser's check_for_whole_start_tag + parse_starttag."""
  j = locatestarttagend_tolerant.match(doc, i).end()
  nxt = doc[j:j + 1]
  if nxt == '>':
    endpos = j + 1
  elif nxt == '/':
    if not doc.startswith('/>', j):
      return -1, [], None
    endpos = j + 2
  elif not nxt or nxt in _INCOMPLETE_AT:
    return -1, [], None
  else:
    endpos = j
  m = tagfind_tolerant.match(doc, i + 1)
  k = m.end()
  tag = m.group(1).lower()
  attrs = []
  while k < endpos:
    m = attrfind_tolerant.match(doc, k)
    if not m:
      break
    name, rest, value = m.group(1, 2, 3)
    if not rest:
      value = None
    elif value[:1] == '\'' == value[-1:] or value[:1] == '"' == value[-1:]:
      value = value[1:-1]
    if value:
      value = unescape(value)
    attrs.append((name.lower(), value))
    k = m.end()
  end = doc[k:endpos].strip()
  if end not in ('>', '/>'):
    return endpos, [(DATA, doc[i:endpos], None)], None
  if attrs_of is not None and tag not in attrs_of:
    attrs = []
  if end.endswith('/>'):
    return endpos, [(STARTENDTAG, tag, attrs)], None
  return (endpos, [(STARTTAG, tag, attrs)],
          tag if tag in _CDATA_END else None)


def _endtag(doc: str, i: int):
  """html.parser's parse_endtag outside CDATA mode, for an end tag that
  `_TOKEN` (whose end tags are html.parser's `endtagfind`) did not
  take."""
  if doc.find('>', i + 1) < 0:
    return -1, []
  m = tagfind_tolerant.match(doc, i + 2)
  if not m:
    if doc.startswith('</>', i):
      return i + 3, []
    return _bogus_comment(doc, i), []
  return doc.find('>', m.end()) + 1, [(ENDTAG, m.group(1).lower(), None)]


def _declaration(doc: str, i: int) -> int:
  """html.parser's parse_html_declaration after '<!' (not '<!--')."""
  if doc.startswith('<![', i):
    # _markupbase's parse_marked_section and _scan_name
    j = i + 3
    if j == len(doc):
      return -1
    m = _declname_match(doc, j)
    if not m:
      raise AssertionError(f'expected name token at {doc[i:i + 20]!r}')
    if m.end() == len(doc):
      return -1
    close = _MARKED_CLOSE.get(m.group().strip().lower())
    if close is None:
      raise AssertionError('unknown status keyword %r in marked section'
                           % doc[j:m.end()])
    m = close.search(doc, j)
    return m.end() if m else -1
  if doc[i:i + 9].lower() == '<!doctype':
    gt = doc.find('>', i + 9)
    return -1 if gt < 0 else gt + 1
  return _bogus_comment(doc, i)


def _bogus_comment(doc: str, i: int) -> int:
  pos = doc.find('>', i + 2)
  return -1 if pos < 0 else pos + 1
