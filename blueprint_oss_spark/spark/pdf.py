"""PDF layout parsing (north rule: "PDF/layout parse") — stdlib-only.

Scope, honestly stated: the parser handles the self-contained subset a
text-first PDF producer emits — PDF 1.4 page trees, content streams
(raw or FlateDecode, inflated with stdlib zlib), and the text-line
operator state machine: Tf (size), Td/TD (line moves), TL (leading),
T* (next line), plain `(text) Tj`, next-line shows `'` / `"`, and
kerned `[(a) -120 (b)] TJ` arrays (kern numbers are thousandths of
the font size subtracted from the advance, per the spec) — with
standard string escapes and many runs / multi-line text per BT..ET
block.  That covers the files `write_simple_pdf` produces and
comparable simple generators; fonts with custom encodings / CIDs,
rotated text matrices (Tm), and image XObjects are out of scope — a
page using them yields whatever plain text runs it contains.

Geometry: PDF y grows upward; words are emitted in the engine's
page-local convention (y down from the page top):
    bbox = (x, x + 0.6·size·len(text), top, top + size),
    top  = page_height − y − size
0.6·size is the fixed advance of the built-in Courier metrics the
writer uses, so parse(write(words)) round-trips geometry EXACTLY.
"""

from __future__ import annotations

import re
import zlib
from typing import Dict, List, Optional, Sequence, Tuple

# (text, x0, x1, y0, y1) in page coordinates, y down — the same word
# tuple the OCR parsers in spark/sources.py emit.
Word = Tuple[str, float, float, float, float]

CHAR_ADVANCE = 0.6  # Courier advance per char, in units of font size


def _escape_pdf_string(s: str) -> str:
  return s.replace('\\', r'\\').replace('(', r'\(').replace(')', r'\)')


def _unescape_pdf_string(s: str) -> str:
  out = []
  i = 0
  while i < len(s):
    c = s[i]
    if c == '\\' and i + 1 < len(s):
      n = s[i + 1]
      if n in '()\\':
        out.append(n)
        i += 2
        continue
      if n == 'n':
        out.append('\n')
        i += 2
        continue
    out.append(c)
    i += 1
  return ''.join(out)


def write_simple_pdf(pages: Sequence[Dict], *,
                     compress: bool = True) -> bytes:
  """pages: [{'width': w, 'height': h, 'words': [(text,x0,x1,y0,y1)]}]
  (y down) → a valid single-font PDF whose text layout parses back to
  exactly these words via parse_pdf.  Font size per word = its bbox
  height; x0 is the pen position; x1 must equal
  x0 + 0.6·size·len(text) (the writer asserts it)."""
  objs: List[bytes] = []

  def add(obj: bytes) -> int:
    objs.append(obj)
    return len(objs)  # 1-based object number

  n_pages = len(pages)
  # object layout: 1 catalog, 2 pages, then per page (page, contents),
  # last: font
  font_num = 3 + 2 * n_pages
  kids = ' '.join(f'{3 + 2 * i} 0 R' for i in range(n_pages))
  add(b'<< /Type /Catalog /Pages 2 0 R >>')
  add(f'<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>'.encode())
  for i, pg in enumerate(pages):
    w, h = pg['width'], pg['height']
    content_num = 4 + 2 * i
    add((f'<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {w:g} {h:g}] '
         f'/Contents {content_num} 0 R '
         f'/Resources << /Font << /F1 {font_num} 0 R >> >> >>')
        .encode())
    runs = []
    for (text, x0, x1, y0, y1) in pg['words']:
      size = y1 - y0
      expect_x1 = x0 + CHAR_ADVANCE * size * len(text)
      assert abs(expect_x1 - x1) < 1e-9, \
          (text, x1, expect_x1, 'x1 must match Courier advance')
      y_pdf = h - y0 - size  # convert y-down top to PDF baseline-ish
      runs.append(f'BT /F1 {size:g} Tf {x0:g} {y_pdf:g} Td '
                  f'({_escape_pdf_string(text)}) Tj ET')
    stream = '\n'.join(runs).encode('latin-1')
    filt = b''
    if compress:
      stream = zlib.compress(stream)
      filt = b'/Filter /FlateDecode '
    add(b'<< ' + filt + f'/Length {len(stream)} >>'.encode()
        + b'\nstream\n' + stream + b'\nendstream')
  add(b'<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>')

  buf = bytearray(b'%PDF-1.4\n')
  offsets = [0]
  for i, obj in enumerate(objs, start=1):
    offsets.append(len(buf))
    buf += f'{i} 0 obj\n'.encode() + obj + b'\nendobj\n'
  xref_at = len(buf)
  buf += f'xref\n0 {len(objs) + 1}\n'.encode()
  buf += b'0000000000 65535 f \n'
  for off in offsets[1:]:
    buf += f'{off:010d} 00000 n \n'.encode()
  buf += (f'trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n'
          f'startxref\n{xref_at}\n%%EOF\n').encode()
  return bytes(buf)


_OBJ_RE = re.compile(rb'(\d+) 0 obj(.*?)endobj', re.S)
_STREAM_HEAD_RE = re.compile(rb'<<(.*?)>>\s*stream\r?\n', re.S)
_STREAM_TAIL_RE = re.compile(rb'(.*?)\r?\nendstream', re.S)
# /Length N, or an indirect /Length N G R (group 2 = generation)
_LENGTH_RE = re.compile(rb'/Length\s+(\d+)(?:\s+(\d+)\s+R)?\b')
_INT_OBJ_RE = re.compile(rb'\s*(\d+)\s*')
_MEDIABOX_RE = re.compile(
    rb'/MediaBox\s*\[\s*([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)'
    rb'\s+([\d.+-]+)\s*\]')
_CONTENTS_RE = re.compile(rb'/Contents\s+(\d+) 0 R')
_KIDS_RE = re.compile(rb'/Kids\s*\[(.*?)\]', re.S)
_REF_RE = re.compile(rb'(\d+) 0 R')
# Content-stream tokens: PDF string | array (may contain strings) |
# name | number | operator.
_TOK_RE = re.compile(
    r'(?P<str>\((?:\\.|[^()\\])*\))'
    r'|(?P<arr>\[(?:\((?:\\.|[^()\\])*\)|[^\[\]])*\])'
    r'|(?P<name>/[^\s\[\]()<>/]+)'
    r'|(?P<num>[+-]?(?:\d+\.?\d*|\.\d+))'
    r'|(?P<op>[A-Za-z\'"*]+)')
# TJ array items: a PDF string or a kern number (thousandths of the
# font size, SUBTRACTED from the advance per the PDF spec)
_TJ_ITEM_RE = re.compile(
    r'\(((?:\\.|[^()\\])*)\)|([+-]?\d+(?:\.\d+)?)')


def _words_from_content(text: str, h: float) -> List[Word]:
  """Interpret a content stream's text operators sequentially: Tf
  (font size), Td/TD (line moves), TL (leading), T* (next line),
  Tj / ' / " (show string), TJ (kerned array).  Positions track the
  PDF text-line state machine, so one BT..ET block may carry many
  runs and multi-line text; malformed operands skip their operator
  instead of aborting the page."""
  words: List[Word] = []
  size, leading = 12.0, 0.0
  line_x = line_y = x = y = 0.0
  stack: List[Tuple[str, str]] = []  # (token_kind, raw_text)

  def fnum(tok) -> float:
    return float(tok[1])

  def emit(t: str) -> None:
    nonlocal x
    if t:
      top = h - y - size
      x1 = x + CHAR_ADVANCE * size * len(t)
      words.append((t, x, x1, top, top + size))
      x = x1

  def emit_tj(arr_body: str) -> None:
    nonlocal x
    for item in _TJ_ITEM_RE.finditer(arr_body):
      if item.group(1) is not None:
        emit(_unescape_pdf_string(item.group(1)))
      else:
        x -= float(item.group(2)) / 1000.0 * size

  def newline() -> None:
    nonlocal line_y, x, y
    line_y -= leading
    x, y = line_x, line_y

  for m in _TOK_RE.finditer(text):
    kind = m.lastgroup
    tok = m.group()
    if kind != 'op':
      stack.append((kind, tok))
      continue
    try:
      if tok == 'BT':
        line_x = line_y = x = y = 0.0
      elif tok == 'Tf' and stack and stack[-1][0] == 'num':
        size = fnum(stack[-1])
      elif tok == 'TL' and stack and stack[-1][0] == 'num':
        leading = fnum(stack[-1])
      elif tok in ('Td', 'TD') and len(stack) >= 2 \
          and stack[-1][0] == stack[-2][0] == 'num':
        tx, ty = fnum(stack[-2]), fnum(stack[-1])
        line_x += tx
        line_y += ty
        x, y = line_x, line_y
        if tok == 'TD':
          leading = -ty
      elif tok == 'T*':
        newline()
      elif tok == 'Tj' and stack and stack[-1][0] == 'str':
        emit(_unescape_pdf_string(stack[-1][1][1:-1]))
      elif tok in ("'", '"'):
        # ' = T* + show; " = set spacing (ignored: fixed metrics) + same
        if stack and stack[-1][0] == 'str':
          newline()
          emit(_unescape_pdf_string(stack[-1][1][1:-1]))
      elif tok == 'TJ' and stack and stack[-1][0] == 'arr':
        emit_tj(stack[-1][1][1:-1])
    except (ValueError, IndexError):
      pass
    stack.clear()
  return words


def _stream_length(lm, objs: Dict[int, bytes]) -> Optional[int]:
  """The byte count a `_LENGTH_RE` match names: the number itself, or
  for an indirect reference the integer body of that (generation-0)
  object; None when there is no /Length or the reference does not
  resolve to an integer."""
  if lm is None:
    return None
  if lm.group(2) is None:
    return int(lm.group(1))
  im = (_INT_OBJ_RE.fullmatch(objs.get(int(lm.group(1)), b''))
        if lm.group(2) == b'0' else None)
  return int(im.group(1)) if im else None


def parse_pdf(payload: bytes) -> List[dict]:
  """PDF bytes → the OCR-parser page format
  [{'page_number', 'width', 'height', 'words': [(t,x0,x1,y0,y1)]}].

  Stream extraction honors the dict's /Length (the spec-authoritative
  byte count) and only falls back to the `...\\r?\\nendstream` scan
  when /Length is absent or inconsistent.  An indirect /Length
  (`/Length 7 0 R`) is resolved to object 7's integer.  The round-5
  sf1 stress found why this matters: FlateDecode data ending in byte
  0x0D (\\r — ~1/256 of real compressed streams; first hit at 8-digit
  doc ids) had its last byte eaten by the terminator's optional \\r,
  producing 'incomplete or truncated stream' on an entirely valid PDF.
  The /Length slice is also taken from the RAW payload at the object's
  absolute offset, so compressed bytes that happen to contain 'endobj'
  cannot truncate the object body either."""
  spans: Dict[int, Tuple[int, int]] = {
      int(m.group(1)): (m.start(2), m.end(2))
      for m in _OBJ_RE.finditer(payload)}
  objs: Dict[int, bytes] = {
      n: payload[a:b] for n, (a, b) in spans.items()}

  # page order from the /Pages /Kids array when present, else object
  # order of /Type /Page objects
  page_nums: List[int] = []
  for body in objs.values():
    if b'/Type /Pages' in body or b'/Type/Pages' in body:
      km = _KIDS_RE.search(body)
      if km:
        page_nums = [int(r.group(1)) for r in
                     _REF_RE.finditer(km.group(1))]
      break
  if not page_nums:
    page_nums = [n for n, b in sorted(objs.items())
                 if re.search(rb'/Type\s*/Page\b', b)]

  pages = []
  for pno, obj_num in enumerate(page_nums, start=1):
    body = objs.get(obj_num, b'')
    mb = _MEDIABOX_RE.search(body)
    if not mb:
      continue
    x0, y0, x1, y1 = (float(mb.group(i)) for i in range(1, 5))
    w, h = x1 - x0, y1 - y0
    words: List[Word] = []
    cm = _CONTENTS_RE.search(body)
    if cm:
      cs = spans.get(int(cm.group(1)))
      hm = (_STREAM_HEAD_RE.search(payload, cs[0], cs[1])
            if cs else None)
      if hm:
        head = hm.group(1)
        dstart = hm.end()
        data = None
        n_bytes = _stream_length(_LENGTH_RE.search(head), objs)
        if n_bytes is not None:
          tail = payload[dstart + n_bytes:dstart + n_bytes + 12]
          # trust /Length only when the slice is actually followed by
          # the endstream keyword (malformed writers lie about Length;
          # a lying Length falls back to the scan below)
          if re.match(rb'\r?\n?endstream', tail):
            data = payload[dstart:dstart + n_bytes]
        if data is None:
          tm = _STREAM_TAIL_RE.match(payload, dstart)
          data = tm.group(1) if tm else b''
        if b'FlateDecode' in head:
          data = zlib.decompress(data)
        text = data.decode('latin-1', errors='replace')
        words.extend(_words_from_content(text, h))
    pages.append({'page_number': pno, 'width': w, 'height': h,
                  'words': words})
  return pages
