"""Run a compiled blueprint on interleaved span documents.

Input contract (driver BASELINE.json input_hint):
  (doc_id: string,
   spans: array<struct<kind:string, text:string, media_ref:string,
                       offset:int32>>)

Span-geometry convention
------------------------
`offset` is the span's position in the document's interleave order AND a
packed layout code (FIXTURES.md §1: "offset gives the deterministic layout
order from which synthetic bboxes are derived", mirroring the reference's
mock-doc harness, blueprint/integration_tests/mock_doc.py:37-80):

    offset = page * 2**20 + line * 2**8 + col        (all nonnegative)

so ordering by offset is reading order, and for kind='text' spans the word
geometry is
    x ∈ [col, col + len(text)],  y ∈ [line, line + 1]  (page-local)
exactly the mock-doc synthesis (char column → x, line number → y).  Page
dims derive from the spans: width = max(col + len(text)), height =
max(line) + 1; pages stack vertically, left-aligned
(reference: bp/build_document.py:49-69).

kind='media' spans are opaque: they carry media_ref, occupy an interleave
position, and round-trip unchanged (the reference has no media type — they
must not influence extraction).

Output convention (canonical extraction span sequence)
------------------------------------------------------
For the best extraction {field -> entity}:
  rows 0..k-1: (kind='text', text=<entity text>, media_ref='', order=i)
               for fields in sorted order,
  rows k..:    the input media spans, in input interleave order, with
               order continuing k, k+1, ...
Both this engine and the test oracle serialize through this function, so
span-sequence equality (kind, text, media_ref, order) is checked
end-to-end against the reference engine's best extraction.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence, Tuple

from ..model.nodes import Node
from .docmodel import DocPool
from .entity_gen import build_doc_pool
from .solver import best_extraction

PAGE_SHIFT = 2 ** 20
LINE_SHIFT = 2 ** 8


def pack_offset(page: int, line: int, col: int) -> int:
  if not (0 <= col < LINE_SHIFT):
    raise ValueError(f'col {col} out of range')
  if not (0 <= line < PAGE_SHIFT // LINE_SHIFT):
    raise ValueError(f'line {line} out of range')
  return page * PAGE_SHIFT + line * LINE_SHIFT + col


def unpack_offset(offset: int) -> Tuple[int, int, int]:
  page, rem = divmod(int(offset), PAGE_SHIFT)
  line, col = divmod(rem, LINE_SHIFT)
  return page, line, col


def spans_to_pages(spans: Sequence[Tuple[str, str, str, int]]) \
    -> List[dict]:
  """Decode (kind, text, media_ref, offset) rows into page word lists for
  build_doc_pool.  Media spans are skipped (pass-through)."""
  per_page: Dict[int, List[Tuple[str, float, float, float, float]]] = {}
  page_w: Dict[int, float] = {}
  page_h: Dict[int, float] = {}
  for (kind, text, media_ref, offset) in spans:
    page, line, col = unpack_offset(offset)
    if kind != 'text':
      # media spans still witness their page so empty pages keep dims
      page_w.setdefault(page, 0.0)
      page_h[page] = max(page_h.get(page, 0.0), line + 1.0)
      continue
    per_page.setdefault(page, []).append(
        (text, float(col), float(col + len(text)), float(line),
         float(line + 1)))
    page_w[page] = max(page_w.get(page, 0.0), float(col + len(text)))
    page_h[page] = max(page_h.get(page, 0.0), float(line + 1))
  pages = []
  for page in sorted(page_w):
    pages.append({
        'page_number': page + 1,
        'width': page_w[page],
        'height': page_h[page],
        'words': per_page.get(page, []),
    })
  return pages


def canonical_out_spans(
    fields_to_text: Dict[str, str],
    in_spans: Sequence[Tuple[str, str, str, int]]) \
    -> List[Tuple[str, str, str, int]]:
  """The canonical extraction span sequence (see module docstring)."""
  out: List[Tuple[str, str, str, int]] = []
  k = 0
  for f in sorted(fields_to_text):
    out.append(('text', fields_to_text[f], '', k))
    k += 1
  for (kind, text, media_ref, offset) in sorted(in_spans,
                                                key=lambda s: s[3]):
    if kind == 'media':
      out.append(('media', '', media_ref, k))
      k += 1
  return out


def run_doc(doc_id: str,
            spans: Sequence[Tuple[str, str, str, int]],
            root: Node, pre_optimized: bool = False) -> dict:
  """Run one document end-to-end: spans → entity pool → solve → canonical
  output rows."""
  pool = build_doc_pool(doc_id, spans_to_pages(spans))
  return extract_pool(doc_id, pool, spans, root, pre_optimized)


def extract_pool(doc_id: str, pool: DocPool,
                 spans: Sequence[Tuple[str, str, str, int]],
                 root: Node, pre_optimized: bool = False) -> dict:
  """Solve a built entity pool and assemble the canonical output rows.
  `spans` supplies the media spans that pass through (empty for
  documents loaded from OCR / PDF / doc-JSON files)."""
  assign, _, score = best_extraction(root, pool, pre_optimized)
  fields_to_text = {f: pool.etext[e] for f, e in assign.items()}
  return {
      'doc_id': doc_id,
      'out_spans': canonical_out_spans(fields_to_text, spans),
      'fields': fields_to_text,
      'score': float(score),
      'n_entities': pool.n_entities,
      'n_words': pool.n_words,
  }
