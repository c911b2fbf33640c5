"""OCR source loaders: Google Cloud Vision JSON, IBOCR JSON, hOCR → the
engine's page/word structure, the file format → entity pool table
(`POOL_BUILDERS`, adding PDF and reference doc JSON), and the
binaryFile reader that turns a file collection into extraction input.

Semantics mirror the reference loaders:
  Google Vision  bp/google_ocr_file.py:16-59 (blocks→paragraphs→words,
                 vertices[0].x/[1].x and [0].y/[2].y span the bbox)
  IBOCR          bp/ibocr_file.py:16-57 (first blob's lines + metadata
                 layouts)
  hOCR           bp/hocr_file.py (via the hocr_parser lib there; here a
                 minimal parser of ocr_page / ocrx_word nodes over the
                 ops/html_events stream)

Pages are emitted with page-local word coordinates; vertical stacking
happens in the engine (bp/build_document.py:49-69 semantics).
"""

from __future__ import annotations

import json
import re
from itertools import chain
from typing import Any, Dict, List, Optional

from ..engine.doc_json import pool_from_doc_json
from ..engine.docmodel import DocPool
from ..engine.entity_gen import build_doc_pool
from ..ops.html_events import DATA, STARTENDTAG, STARTTAG, html_events


def parse_google_ocr(raw: Dict[str, Any]) -> List[dict]:
  pages = []
  for page_number, page in enumerate(raw['fullTextAnnotation']['pages']):
    words = []
    for block in page['blocks']:
      for paragraph in block['paragraphs']:
        for word in paragraph['words']:
          v = word['boundingBox']['vertices']
          if len(v) != 4:
            raise ValueError(f'invalid vertices {v}, must be length 4')
          x0, x1 = sorted([v[0]['x'], v[1]['x']])
          y0, y1 = sorted([v[0]['y'], v[2]['y']])
          text = ''.join(s['text'] for s in word['symbols'])
          words.append((text, float(x0), float(x1), float(y0),
                        float(y1)))
    pages.append({'page_number': page_number + 1,
                  'width': float(page['width']),
                  'height': float(page['height']),
                  'words': words})
  return pages


def parse_ibocr(raw: Any) -> List[dict]:
  blob = raw[0]
  layouts = blob['metadata_list']
  all_words = list(chain.from_iterable(blob['lines']))
  pages = []
  for page_number in range(len(layouts)):
    layout = layouts[page_number]['layout']
    words = [(w['word'],
              float(min(w['start_x'], w['end_x'])),
              float(max(w['start_x'], w['end_x'])),
              float(min(w['start_y'], w['end_y'])),
              float(max(w['start_y'], w['end_y'])))
             for w in all_words if w['page'] == page_number]
    pages.append({'page_number': page_number + 1,
                  'width': float(layout['width']),
                  'height': float(layout['height']),
                  'words': words})
  return pages


_HOCR_BBOX = re.compile(r'bbox (\d+) (\d+) (\d+) (\d+)')


def parse_hocr(text: str) -> List[dict]:
  """General-Tesseract hOCR parser (reference loader:
  bp/hocr_file.py:38-80 via the hocr_parser lib).

  Handles the full format, not just the MIDV-2020 subset:
    * multi-class attributes (`class="ocrx_word highlight"`);
    * arbitrary block nesting (ocr_carea / ocr_par / ocr_line wrappers
      are transparent — only pages and words carry geometry we need);
    * markup INSIDE a word (`<span class=ocrx_word>a<strong>b</strong>
      c</span>` → one word "abc", tracked by tag depth); a self-closing
      tag there does not close the word, and `<br/>` is one space;
    * entity references;
    * a word with no bbox in its title is skipped (the reference
      raises; for a bulk 100 TB ingest a malformed word must not kill
      the file);
    * a page with no bbox gets its extent from its words' hull.

  Reads the file through ops/html_events, whose events equal, event for
  event, the running interpreter's `html.parser`
  (HTMLParser(convert_charrefs=True)); a file html.parser cannot
  tokenize raises its AssertionError.
  """
  pages: List[dict] = []
  word_bbox: Optional[tuple] = None   # the open ocrx_word's bbox
  parts: List[str] = []               # and its text so far
  depth = 0                           # tags open inside that word
  for kind, tag, attrs in html_events(text):
    if word_bbox is not None:
      if kind == DATA:
        parts.append(tag)
      elif kind == STARTENDTAG:
        if tag == 'br':
          parts.append(' ')
      elif kind == STARTTAG:
        depth += 1
      elif depth:
        depth -= 1
      else:
        _add_hocr_word(pages[-1], word_bbox, parts)
        word_bbox, parts = None, []
    elif kind == STARTTAG:
      a = dict(attrs)
      classes = (a.get('class') or '').split()
      m = _HOCR_BBOX.search(a.get('title') or '')
      if 'ocr_page' in classes:
        bbox = tuple(map(int, m.groups())) if m else None
        pages.append({
            'page_number': len(pages) + 1,
            'width': float(bbox[2] - bbox[0]) if bbox else 0.0,
            'height': float(bbox[3] - bbox[1]) if bbox else 0.0,
            'words': []})
      elif 'ocrx_word' in classes and m and pages:
        word_bbox, parts, depth = tuple(map(int, m.groups())), [], 0
  if word_bbox is not None:
    _add_hocr_word(pages[-1], word_bbox, parts)  # truncated file
  for pg in pages:
    if (pg['width'] == 0.0 or pg['height'] == 0.0) and pg['words']:
      pg['width'] = max(w[2] for w in pg['words'])
      pg['height'] = max(w[4] for w in pg['words'])
  return pages


def _add_hocr_word(page: dict, bbox: tuple, parts: List[str]) -> None:
  """Append an hOCR word with a non-blank text to `page`."""
  textv = ' '.join(''.join(parts).split())
  if textv:
    x0, y0, x1, y1 = bbox
    page['words'].append((textv, float(x0), float(x1), float(y0),
                          float(y1)))


def _parse_pdf_bytes(b: bytes):
  from .pdf import parse_pdf
  return parse_pdf(b)


PARSERS = {
    'google': lambda b: parse_google_ocr(
        json.loads(b.decode('utf-8', errors='ignore'))),
    'ibocr': lambda b: parse_ibocr(json.loads(b.decode('utf-8'))),
    'hocr': lambda b: parse_hocr(b.decode('utf-8', errors='ignore')),
    'pdf': _parse_pdf_bytes,
}


def _pool_from_pages(parse):
  def build(doc_id: str, content: bytes) -> DocPool:
    return build_doc_pool(doc_id, parse(content))
  return build


def _pool_from_doc_json(doc_id: str, content: bytes) -> DocPool:
  pool = pool_from_doc_json(json.loads(content.decode('utf-8')))
  pool.name = doc_id
  return pool


# file format → (doc_id, file bytes) → entity pool
POOL_BUILDERS = {fmt: _pool_from_pages(parse)
                 for fmt, parse in PARSERS.items()}
POOL_BUILDERS['docjson'] = _pool_from_doc_json


def read_files(spark, path_glob: str):
  """binaryFile scan → (doc_id, content) rows, one per file; doc_id is
  the file name.  Feed it to extract_documents / run_extraction_job
  with the matching ocr_format."""
  from pyspark.sql import functions as F
  return (spark.read.format('binaryFile').load(path_glob)
          .select(F.substring_index('path', '/', -1).alias('doc_id'),
                  'content'))
