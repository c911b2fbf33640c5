"""PDF layout parse (north rule: "PDF/layout parse"): write→parse
geometry round-trips exactly (raw and FlateDecode streams, multi-page,
escaped strings), and extraction over PDF-parsed layout agrees with
the reference engine run on the SAME geometry."""

import pytest

from blueprint_oss_spark.engine.entity_gen import build_doc_pool
from blueprint_oss_spark.engine.solver import best_extraction
from blueprint_oss_spark.fixtures import readme_corpus
from blueprint_oss_spark.spark.pdf import parse_pdf, write_simple_pdf

from .refshim import reference_doc_from_pages
from .test_pdf_parse import _pdf_pages_from_spans


def test_pdf_extraction_matches_reference_on_same_layout():
  # single-word fields: the PDF's Courier x-metric (0.6 advance)
  # changes interword gaps, so phrase-built fields can legitimately go
  # unassigned — single-word text/dollar fields stay extractable and
  # make the parity check non-vacuous
  from bp.config import Config
  from bp.run import run_model
  from bp.rules.semantic import is_dollar_amount as ref_is_dollar
  from bp.rules.spatial import top_down as ref_top_down
  from bp.rules.textual import text_equals as ref_text_equals
  from bp.tree import extract as ref_extract

  from blueprint_oss_spark.model.nodes import extract
  from blueprint_oss_spark.model.rules import (
      is_dollar_amount, text_equals, top_down)

  root_ref = ref_extract(
      ref_text_equals('Annual')('hdr'),
      ref_is_dollar('amt'),
      ref_top_down('hdr', 'amt'))
  ours_root = extract(
      text_equals('Annual')('hdr'),
      is_dollar_amount('amt'),
      top_down('hdr', 'amt'))
  n_nontrivial = 0
  for doc_id, spans in readme_corpus(8, seed=313, with_media=False):
    pdf_pages = _pdf_pages_from_spans(spans)
    blob = write_simple_pdf(pdf_pages)
    parsed = parse_pdf(blob)

    pool = build_doc_pool(doc_id, parsed)
    assign, _, score = best_extraction(ours_root, pool)
    ours = {f: pool.etext[e] for f, e in assign.items()}

    ref_doc = reference_doc_from_pages(doc_id, parsed)
    res = run_model(ref_doc, root_ref,
                    Config(num_samples=-1, timeout=-1))
    tops = res.root.top_20_extractions
    ref_fields = {p.field: (p.entity.entity_text or '')
                  for p in tops[0].extraction.points()}
    assert score == pytest.approx(tops[0].score, abs=1e-12), doc_id
    assert ours == ref_fields, (doc_id, ours, ref_fields)
    n_nontrivial += bool(ours)
  assert n_nontrivial >= 1

