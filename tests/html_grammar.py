"""A Hypothesis grammar of tag-dense HTML for the tokenizer tests.

Documents are runs of fragments that hit every branch of the stdlib
`html.parser`: mixed-case tags; attributes quoted, unquoted, valueless,
duplicated and holding entities; self-closing tags and `</ p>`-style end
tags; terminated and unterminated comments; `<!DOCTYPE`, `<?pi>` and
`<![` sections; script/style bodies that hold `</div>` and `<a>`; stray
'<' and '&'; named and numeric charrefs, one of them cut off at the end
of the document; and text-only documents.  A third kind of document
is hOCR-shaped (ocr_page / ocrx_word tags, markup and <br/> inside
words) so that the hOCR parser sees pages and words."""

from __future__ import annotations

from hypothesis import strategies as st

_TAGS = ['div', 'DiV', 'p', 'P', 'a', 'A', 'span', 'b', 'br', 'BR', 'li',
         'ul', 'nav', 'body', 'main', 'article', 'h3', 'td', 'aside',
         'script', 'SCRIPT', 'style', 'x-y', 'my:tag', 'iframe', 'head']
_ATTR_NAMES = ['class', 'CLASS', 'id', 'title', 'href', 'hidden', 'data-x',
               'x:y', '_u']
_VALUES = ['ocr_page', 'ocrx_word', 'ocrx_word extra', 'comment', 'content',
           'main', 'bbox 1 2 30 40', 'x_wconf 9; bbox 3 4 50 60', '',
           'a&amp;b', '&lt;tag&gt;', '&#65;&#x42;', '&copy', 'a b', '/x/',
           'v>w', "it's", 'say "hi"']
_SPACE = st.sampled_from([' ', '  ', '\n', '\t', '\r\n', '\f', '\x0b',
                          '\xa0', ''])
_TEXT = st.text(alphabet='ab yz\n\t<>&;#/="\'![]?-\x00\xa0\x0b', max_size=12)
_CHARREFS = ['&amp;', '&lt;', '&gt', '&#65;', '&#x41;', '&#1114112;',
             '&copy', '&nbsp;', '&notin;', '&am', '&#', '&#x', '&', '&&',
             '& ', '&#9;x']


@st.composite
def _attribute(draw) -> str:
  name = draw(st.sampled_from(_ATTR_NAMES))
  value = draw(st.sampled_from(_VALUES))
  form = draw(st.sampled_from(['"', "'", 'bare', 'none', 'spaced', '==',
                               'empty']))
  if form == 'none':
    return name
  if form == 'bare':
    return f'{name}={value.replace(" ", "_")}'
  if form == 'spaced':
    return f'{name} = "{value}"'
  if form == '==':
    return f'{name}=="{value}"'
  if form == 'empty':
    return f'{name}='
  if form == "'" and "'" in value:
    form = '"'
  if form == '"' and '"' in value:
    form = "'"
  return f'{name}={form}{value}{form}'


@st.composite
def _start_tag(draw) -> str:
  tag = draw(st.sampled_from(_TAGS))
  attrs = draw(st.lists(_attribute(), max_size=4))
  # a repeated attribute is kept twice by html.parser
  if attrs and draw(st.booleans()):
    attrs.append(attrs[0])
  seps = [draw(_SPACE) or ' ' for _ in attrs]
  body = ''.join(s + a for s, a in zip(seps, attrs))
  close = draw(st.sampled_from(['>', '/>', ' />', ' >', '/ >', '', '>']))
  return f'<{tag}{body}{draw(_SPACE) if close == "" else ""}{close}'


@st.composite
def _end_tag(draw) -> str:
  tag = draw(st.sampled_from(_TAGS))
  return draw(st.sampled_from([
      f'</{tag}>', f'</ {tag}>', f'</{tag} >', f'</{tag.upper()}>',
      f'</{tag} junk="x">', '</>', '</ >', f'</{tag}', '</1>']))


_CDATA_BODY = st.sampled_from([
    'var a = "</div><a href=x>";', '.c{x:1} <a>', '</scrip></ div>',
    'if (a < b && c > d) {}', '</STYLE >', '<!-- x -->', '&amp;', ''])


@st.composite
def _raw_element(draw) -> str:
  tag = draw(st.sampled_from(['script', 'style', 'SCRIPT', 'Style']))
  end = draw(st.sampled_from([f'</{tag}>', f'</{tag.lower()} >',
                              f'</ {tag}\n>', '']))
  return f'<{tag}>{draw(_CDATA_BODY)}{draw(_CDATA_BODY)}{end}'


_MARKUP = st.sampled_from([
    '<!-- c -->', '<!---->', '<!-- a -- b --\n>', '<!-- open', '<!--',
    '<!DOCTYPE html>', '<!doctype html', '<!dOcTyPe x>', '<?pi x?>',
    '<?php', '<![CDATA[ x < y ]]>', '<![CDATA[ open', '<![cdata[x]>y]]>',
    '<![if gte mso 9]>x<![endif]>', '<![foo x]]>', '<![ x', '<!x>',
    '<!>', '<!', '<?', '<', '< a', '<1>', '<<p>', 'a < b', '<a', '<div class="x"', '<br/',
    '<p\x00>', '<p\xa0class="x">',
])


_PAGE = "<div class='ocr_page' title='image \"a.png\"; bbox 0 0 120 160'>"
_HOCR = st.sampled_from([
    _PAGE,
    '<DIV CLASS=ocr_page>',
    "<span class='ocrx_word' title='bbox 1 2 30 40'>",
    '<span class="ocrx_word extra" title="x_wconf 9; bbox 3 4 50 60">',
    '<span class=ocrx_word title="bbox 5 6 70 80"/>',
    '<span class=ocrx_word>',
])


def html_documents():
  """Tag-dense HTML documents, and text-only ones."""
  fragment = st.one_of(_start_tag(), _end_tag(), _raw_element(), _MARKUP,
                       _HOCR, _TEXT, st.sampled_from(_CHARREFS))
  tagged = st.builds(lambda parts, tail: ''.join(parts) + tail,
                     st.lists(fragment, max_size=30),
                     st.sampled_from(['', '', '&am', '&#6', '&#x4', '&',
                                      '<', '<p', 'x &copy']))
  hocr_part = st.one_of(_HOCR, st.sampled_from(
      ['<br/>', '<BR />', '<strong>', '</span>', 'word', 'a b', '&amp;']),
                        _TEXT, _end_tag())
  # most start on a page, as a real hOCR file does
  hocr = st.builds(lambda head, parts: head + ''.join(parts),
                   st.sampled_from([_PAGE, _PAGE, '']),
                   st.lists(hocr_part, max_size=30))
  return st.one_of(tagged, hocr, st.text(max_size=60))
