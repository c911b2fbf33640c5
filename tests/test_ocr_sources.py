"""OCR source loaders vs the reference loaders, on the reference's own
sample OCR files, end to end through both engines with the full paystubs
model."""

import json
import pathlib

import pytest

from blueprint_oss_spark.engine.entity_gen import build_doc_pool
from blueprint_oss_spark.engine.solver import best_extraction
from blueprint_oss_spark.spark.sources import parse_google_ocr

from .refshim import load_reference_example

SAMPLES = sorted(pathlib.Path(
    '/root/reference/examples/paystubs/ocr').glob('*.json'))


def test_google_ocr_words_match_reference():
  from bp.google_ocr_file import generate_doc_from_google_ocr_json
  for path in SAMPLES:
    raw = json.loads(path.read_text(errors='ignore'))
    pages = parse_google_ocr(raw)
    ref_doc = generate_doc_from_google_ocr_json(raw, path.stem)
    pool = build_doc_pool(path.stem, pages)
    ref_rows = sorted(
        (type(e).__name__, e.entity_text, round(e.bbox.ix.a, 6),
         round(e.bbox.iy.a, 6))
        for e in ref_doc.entities if type(e).__name__ != 'Page')
    our_rows = sorted(
        (pool.etype[i], pool.etext[i], round(float(pool.ex0[i]), 6),
         round(float(pool.ey0[i]), 6))
        for i in range(pool.n_entities))
    assert our_rows == ref_rows
    assert pool.median_line_height == pytest.approx(
        ref_doc.median_line_height())


def test_google_ocr_paystub_extraction_matches_reference():
  """The reference's own sample paystubs through the full paystubs model
  at its production config (README.md:108-113, num_samples=100): the
  exhaustive best must score >= the reference's best-of-100 and match it
  when scores agree."""
  from bp.google_ocr_file import generate_doc_from_google_ocr_json
  from bp.run import run_model
  from bp.config import Config

  ns = load_reference_example(
      '/root/reference/examples/paystubs/paystubs.py')
  ref_root = ns['root']
  from blueprint_oss_spark.bp_examples.paystubs import root as our_root

  for path in SAMPLES:
    raw = json.loads(path.read_text(errors='ignore'))
    ref_doc = generate_doc_from_google_ocr_json(raw, path.stem)
    res = run_model(ref_doc, ref_root,
                    Config(num_samples=100, timeout=-1))
    tops = res.root.top_20_extractions
    best_score = tops[0].score
    ref_best_fields = []
    for se in tops:
      if se.score != best_score:
        break
      ref_best_fields.append(
          {p.field: (p.entity.entity_text or '')
           for p in se.extraction.points()})

    pool = build_doc_pool(path.stem, parse_google_ocr(raw))
    assign, _, score = best_extraction(our_root, pool)
    ours = {f: pool.etext[e] for f, e in assign.items()}
    assert score >= best_score - 1e-9, (path.stem, ours,
                                        ref_best_fields[0])
    if abs(score - best_score) <= 1e-9 and len(ref_best_fields) == 1:
      # unique reference argmax → fields must match exactly; with ties
      # the reference's top-20 list may truncate the tied set, so exact
      # score equality (16 significant digits) is the parity signal
      assert ours == ref_best_fields[0], (path.stem, ours,
                                          ref_best_fields[0])


# ---------------------------------------------------------------------------
# hOCR: the reference's own samples (format hardening: test_hocr.py)
# ---------------------------------------------------------------------------


def test_parse_hocr_midv_samples_still_parse():
  """The reference's own MIDV-2020 hOCR samples keep parsing (breadth
  regression guard for the generalized parser)."""
  import glob

  from blueprint_oss_spark.spark.sources import parse_hocr
  paths = sorted(glob.glob(
      '/root/reference/examples/passports/hocr/*.hocr'))[:3]
  assert paths
  for path in paths:
    with open(path, encoding='utf-8', errors='ignore') as f:
      pages = parse_hocr(f.read())
    assert pages and pages[0]['words']
