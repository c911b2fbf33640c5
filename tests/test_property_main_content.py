"""Property-based robustness for the main-content spans pipeline and
the PDF parser: arbitrary span sequences (duplicate offsets, missing
texts, unknown-ish kinds limited to the contract set, adversarial HTML)
must preserve the interleave contract, and random byte soup must never
crash or hang parse_pdf.

These run the per-doc Python kernels directly (the exact code
mapInPandas executes per row) — Spark adds only Arrow transport, which
the Spark-side tests in test_html_extract.py already cover."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from blueprint_oss_spark.ops.html_extract import (
    extract_main_content, main_content_doc,
)
from blueprint_oss_spark.spark.pdf import parse_pdf
from tests.html_grammar import html_documents

_SETTINGS = dict(max_examples=200, deadline=None)


def _run_doc(spans):
  out, _n_html = main_content_doc(spans)
  return [(s['kind'], s['text'], s['media_ref'], s['order'])
          for s in out]


_span = st.fixed_dictionaries({
    'kind': st.sampled_from(['html', 'media', 'text', 'pdf']),
    'text': st.one_of(st.none(), st.text(max_size=400)),
    'media_ref': st.one_of(st.none(), st.text(max_size=20)),
    'offset': st.integers(min_value=-10, max_value=10),
})


@settings(**_SETTINGS)
@given(st.lists(_span, max_size=12))
def test_interleave_contract(spans):
  out = _run_doc(spans)
  # 1) length preserved; 2) order is dense 0..n-1; 3) media spans pass
  # through with their refs in offset order; 4) text rows never carry a
  # media_ref and media rows never carry text
  assert len(out) == len(spans)
  assert [o[3] for o in out] == list(range(len(spans)))
  media_in = [s['media_ref'] for s in
              sorted(spans, key=lambda s: s['offset'])
              if s['kind'] == 'media']
  media_out = [o[2] for o in out if o[0] == 'media']
  assert media_out == media_in
  for kind, text, ref, _ in out:
    if kind == 'media':
      assert text is None
    else:
      assert ref is None and isinstance(text, str)


@settings(**_SETTINGS)
@given(st.text(max_size=2000))
def test_extract_main_content_total(html):
  # never raises, output is whitespace-normalized
  got = extract_main_content(html)
  assert got == ' '.join(got.split())


@settings(**_SETTINGS)
@given(html_documents())
def test_extract_main_content_total_on_tag_dense_html(html):
  # the same totality on input full of tags, which st.text almost
  # never forms
  got = extract_main_content(html)
  assert got == ' '.join(got.split())


@settings(**_SETTINGS)
@given(st.binary(max_size=2000))
def test_parse_pdf_random_bytes(payload):
  # random byte soup: [] or parsed pages, or a clean exception a
  # caller can catch — never a hang (deadline would flag it)
  try:
    pages = parse_pdf(payload)
  except Exception:
    return
  assert isinstance(pages, list)


@settings(**_SETTINGS)
@given(st.binary(max_size=1500))
def test_parse_pdf_pdfish_bytes(payload):
  # byte soup dressed as a PDF with an (uncompressed) content stream
  # skeleton — exercises the object/stream regex paths
  doc = (b'%PDF-1.4\n1 0 obj\n<< /Type /Pages /Kids [2 0 R] >>\n'
         b'endobj\n2 0 obj\n<< /Type /Page /MediaBox [0 0 612 792] '
         b'/Contents 3 0 R >>\nendobj\n3 0 obj\n<< >>\nstream\n'
         + payload + b'\nendstream\nendobj\n')
  try:
    pages = parse_pdf(doc)
  except Exception:
    return
  assert isinstance(pages, list)
  for p in pages:
    for (t, x0, x1, y0, y1) in p['words']:
      assert isinstance(t, str)
