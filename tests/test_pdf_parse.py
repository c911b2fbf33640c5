"""PDF layout parse (north rule: "PDF/layout parse"): write→parse
geometry round-trips exactly (raw and FlateDecode streams, multi-page,
escaped strings), the text operators place words by the spec
formulas, and PDF files run through the extraction job."""

import pytest

from blueprint_oss_spark.engine.entity_gen import build_doc_pool
from blueprint_oss_spark.engine.runner import spans_to_pages
from blueprint_oss_spark.engine.solver import best_extraction
from blueprint_oss_spark.fixtures import readme_corpus
from blueprint_oss_spark.spark.pdf import (
    CHAR_ADVANCE, parse_pdf, write_simple_pdf)


def _word(text, x, top, size=1.0):
  return (text, x, x + CHAR_ADVANCE * size * len(text), top, top + size)


def _pdf_pages_from_spans(spans):
  """Mock-grid pages → PDF-representable pages (x scaled by the Courier
  advance so widths obey x1 = x0 + 0.6·size·len)."""
  pages = []
  for pg in spans_to_pages(spans):
    words = [(t, x0 * CHAR_ADVANCE,
              x0 * CHAR_ADVANCE + CHAR_ADVANCE * len(t), y0, y1)
             for (t, x0, x1, y0, y1) in pg['words']]
    pages.append({'page_number': pg['page_number'],
                  'width': pg['width'] * CHAR_ADVANCE,
                  'height': pg['height'], 'words': words})
  return pages


@pytest.mark.parametrize('compress', [False, True])
def test_pdf_geometry_round_trip(compress):
  pages = [
      {'width': 200.0, 'height': 100.0, 'words': [
          _word('Hello', 10, 5), _word('(paren)', 20, 5),
          _word('back\\slash', 10, 8, size=2.0)]},
      {'width': 300.0, 'height': 50.0, 'words': [
          _word('page-two', 1.5, 0.25, size=0.5)]},
  ]
  blob = write_simple_pdf(pages, compress=compress)
  assert blob.startswith(b'%PDF-1.4')
  got = parse_pdf(blob)
  assert len(got) == 2
  for want, have in zip(pages, got):
    assert have['width'] == want['width']
    assert have['height'] == want['height']
    assert len(have['words']) == len(want['words'])
    for (t, x0, x1, y0, y1), (t2, gx0, gx1, gy0, gy1) in zip(
        want['words'], have['words']):
      assert t2 == t
      assert (gx0, gx1, gy0, gy1) == \
          pytest.approx((x0, x1, y0, y1), abs=1e-9)
  assert got[1]['page_number'] == 2


def test_pdf_cli_source(spark, tmp_path):
  from blueprint_oss_spark.fixtures import readme_blueprint
  from blueprint_oss_spark.spark.pipeline import extract_documents
  from blueprint_oss_spark.spark.sources import read_files

  docs = readme_corpus(4, seed=314, with_media=False)
  for doc_id, spans in docs:
    (tmp_path / f'{doc_id}.pdf').write_bytes(
        write_simple_pdf(_pdf_pages_from_spans(spans)))
  out = extract_documents(
      read_files(spark, str(tmp_path / '*.pdf')), readme_blueprint(),
      ocr_format='pdf').collect()
  assert len(out) == 4
  assert all(r['error'] is None for r in out)
  for r in out:
    spans = dict(docs)[r['doc_id'].removesuffix('.pdf')]
    pool = build_doc_pool(r['doc_id'],
                          parse_pdf(write_simple_pdf(
                              _pdf_pages_from_spans(spans))))
    assign, _, score = best_extraction(readme_blueprint(), pool)
    assert dict(r['fields']) == {f: pool.etext[e]
                                 for f, e in assign.items()}


def test_tj_array_with_kerning():
  """Kerned [(a) k (b)] TJ arrays: each string item becomes a word at
  the running x; kern numbers (thousandths of font size) subtract from
  the advance — exact geometry per the spec formula."""
  from blueprint_oss_spark.spark.pdf import CHAR_ADVANCE, parse_pdf

  stream = (b'BT /F1 10 Tf 50 700 Td '
            b'[(Hello) -200 (World) 150 (!)] TJ ET')
  doc = (b'%PDF-1.4\n1 0 obj\n<< /Type /Pages /Kids [2 0 R] >>\n'
         b'endobj\n2 0 obj\n<< /Type /Page /MediaBox [0 0 612 792] '
         b'/Contents 3 0 R >>\nendobj\n3 0 obj\n<< /Length 0 >>\n'
         b'stream\n' + stream + b'\nendstream\nendobj\n')
  pages = parse_pdf(doc)
  assert len(pages) == 1
  words = pages[0]['words']
  assert [w[0] for w in words] == ['Hello', 'World', '!']

  size = 10.0
  x = 50.0
  h = 792.0
  top = h - 700.0 - size
  # Hello
  x1 = x + CHAR_ADVANCE * size * 5
  assert words[0][1:] == (x, x1, top, top + size)
  # kern -200 -> x ADVANCES by +2.0 (subtracting a negative)
  x = x1 - (-200.0) / 1000.0 * size
  x1 = x + CHAR_ADVANCE * size * 5
  assert abs(words[1][1] - x) < 1e-9 and abs(words[1][2] - x1) < 1e-9
  # kern 150 -> x pulls BACK by 1.5
  x = x1 - 150.0 / 1000.0 * size
  assert abs(words[2][1] - x) < 1e-9

  # mixed content: a Tj run and a TJ run in the same stream both parse
  stream2 = (b'BT /F1 12 Tf 36 100 Td (plain) Tj ET\n'
             b'BT /F1 12 Tf 36 80 Td [(kerned)] TJ ET')
  doc2 = doc.replace(stream, stream2)
  ws = parse_pdf(doc2)[0]['words']
  assert [w[0] for w in ws] == ['plain', 'kerned']


def test_multiline_bt_block_with_leading():
  """One BT..ET block carrying multiple lines via TL/T*/'/TD — the
  text-line state machine: line starts accumulate Td moves, T* drops
  by the leading, ' shows on the next line."""
  from blueprint_oss_spark.spark.pdf import parse_pdf

  stream = (b'BT /F1 10 Tf 14 TL 50 700 Td (line1) Tj '
            b"T* (line2) Tj (line3) ' "
            b'0 -20 TD (line4) Tj T* (line5) Tj ET')
  doc = (b'%PDF-1.4\n1 0 obj\n<< /Type /Pages /Kids [2 0 R] >>\n'
         b'endobj\n2 0 obj\n<< /Type /Page /MediaBox [0 0 612 792] '
         b'/Contents 3 0 R >>\nendobj\n3 0 obj\n<< /Length 0 >>\n'
         b'stream\n' + stream + b'\nendstream\nendobj\n')
  words = parse_pdf(doc)[0]['words']
  assert [w[0] for w in words] == ['line1', 'line2', 'line3',
                                   'line4', 'line5']
  size, h = 10.0, 792.0
  # PDF y per line: 700, 686 (T*), 672 ('), 652 (TD -20 from line
  # start 672), 632 (T* with leading rebound to 20 via TD)
  ys = [700.0, 686.0, 672.0, 652.0, 632.0]
  for w, y_pdf in zip(words, ys):
    assert abs(w[3] - (h - y_pdf - size)) < 1e-9, (w, y_pdf)
  assert all(abs(w[1] - 50.0) < 1e-9 for w in words)  # line x fixed
