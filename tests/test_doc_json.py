"""Doc JSON round-trip parity (SURVEY.md §2.A "Doc JSON load/save";
reference surface bp/document.py:188-207 + bp/instantiate.py:10-155).

Directions covered:
  1. reference dump → our load: pool bit-equal to building from spans.
  2. our save → reference load: the reference engine runs on our JSON and
     produces its native extraction.
  3. our save → our load: exact round trip.
  4. Spark source: extraction over a directory of doc JSON files equals
     the spans pipeline.
"""

import json

import pytest

from blueprint_oss_spark.engine.doc_json import (
    doc_json_from_pool, pool_from_doc_json,
)
from blueprint_oss_spark.engine.entity_gen import build_doc_pool
from blueprint_oss_spark.engine.runner import spans_to_pages
from blueprint_oss_spark.fixtures import labelvalue_corpus, readme_corpus

from .refshim import reference_doc_from_spans
from .test_entity_gen import _our_entity_rows


def _pool_rows(pool):
  return _our_entity_rows(pool)


CORPORA = [
    ('readme', readme_corpus(6, seed=521)),
    ('labelvalue', labelvalue_corpus(6, seed=531)),
]


@pytest.mark.parametrize('name,docs', CORPORA, ids=[c[0] for c in CORPORA])
def test_reference_dump_to_our_load(name, docs):
  from bp.document import dump_to_json
  for doc_id, spans in docs:
    ref_doc = reference_doc_from_spans(doc_id, spans)
    loaded = pool_from_doc_json(json.loads(dump_to_json(ref_doc)))
    built = build_doc_pool(doc_id, spans_to_pages(spans))
    assert _pool_rows(loaded) == _pool_rows(built)
    assert loaded.median_line_height == pytest.approx(
        ref_doc.median_line_height(), abs=1e-12)
    assert sorted(loaded.page_number) == sorted(built.page_number)
    assert (loaded.dx0, loaded.dx1, loaded.dy0, loaded.dy1) == \
        (built.dx0, built.dx1, built.dy0, built.dy1)


@pytest.mark.parametrize('name,docs', CORPORA, ids=[c[0] for c in CORPORA])
def test_our_save_to_reference_load(name, docs):
  from bp.document import load_doc_from_json
  for doc_id, spans in docs:
    pool = build_doc_pool(doc_id, spans_to_pages(spans))
    ref_doc = load_doc_from_json(doc_json_from_pool(pool))
    assert ref_doc.name == doc_id
    # entity pools agree with a natively-built reference document
    native = reference_doc_from_spans(doc_id, spans)
    def rows(doc):
      out = []
      for e in doc.entities:
        t = type(e).__name__
        if t == 'Page':
          continue
        out.append((t, e.entity_text,
                    round(e.bbox.ix.a, 9), round(e.bbox.ix.b, 9),
                    round(e.bbox.iy.a, 9), round(e.bbox.iy.b, 9)))
      return sorted(out)
    assert rows(ref_doc) == rows(native)
    assert ref_doc.median_line_height() == pytest.approx(
        native.median_line_height(), abs=1e-12)


def test_reference_runs_model_on_our_json():
  """End-to-end: the reference engine extracts from a document we saved
  exactly what it extracts from its natively-built document."""
  from bp.config import Config
  from bp.document import load_doc_from_json
  from bp.run import run_model
  from .refshim import ref_readme_blueprint

  docs = readme_corpus(4, seed=541)
  root = ref_readme_blueprint()
  for doc_id, spans in docs:
    pool = build_doc_pool(doc_id, spans_to_pages(spans))
    ours = load_doc_from_json(doc_json_from_pool(pool))
    native = reference_doc_from_spans(doc_id, spans)

    def best_fields(doc):
      res = run_model(doc, root, Config(num_samples=-1, timeout=-1))
      tops = res.root.top_20_extractions
      return ({p.field: (p.entity.entity_text or '')
               for p in tops[0].extraction.points()},
              tops[0].score)
    f1, s1 = best_fields(ours)
    f2, s2 = best_fields(native)
    assert f1 == f2
    assert s1 == pytest.approx(s2, abs=1e-12)


def test_registry_only_entity_types_round_trip():
  """Number/Integer/Time/NamedEntity/PersonName/Address entities —
  registry-only in the reference (never produced by build_document) —
  must load AND re-save: the saved JSON loads through the reference's
  own typed loader, preserving text, geometry, and likeness (the
  parsed `value`s are not retained by DocPool and re-save as null)."""
  from blueprint_oss_spark.engine.doc_json import (
      doc_json_from_pool, pool_from_doc_json)

  def word(text, x0, x1, y0, y1):
    return {'type': 'Word', 'text': text, 'origin': None,
            'bbox': {'ix': {'a': x0, 'b': x1}, 'iy': {'a': y0, 'b': y1}}}

  def bbox(x0, x1, y0, y1):
    return {'ix': {'a': x0, 'b': x1}, 'iy': {'a': y0, 'b': y1}}

  txt = {'type': 'Text', 'text': 'Jane Roe', 'bbox': bbox(0, 8, 0, 1),
         'words': [word('Jane', 0, 4, 0, 1), word('Roe', 5, 8, 0, 1)],
         'maximality_score': 1.0, 'ocr_score': 0.9}
  blob = {
      'name': 'exotic',
      'bbox': bbox(0, 30, 0, 10),
      'entities': [
          {'type': 'Page', 'page_number': 1, 'bbox': bbox(0, 30, 0, 10)},
          {'type': 'Number', 'bbox': bbox(0, 3, 2, 3), 'value': 42.0,
           'words': [word('42', 0, 3, 2, 3)]},
          {'type': 'Integer', 'bbox': bbox(4, 6, 2, 3), 'value': 7,
           'words': [word('7', 4, 6, 2, 3)]},
          {'type': 'Time', 'bbox': bbox(7, 12, 2, 3), 'value': 930,
           'likeness_score': 0.8,
           'words': [word('9:30', 7, 12, 2, 3)]},
          {'type': 'NamedEntity', 'bbox': bbox(0, 8, 4, 5),
           'text': 'Acme Co', 'value': 'ACME', 'label': 'ORG',
           'words': [word('Acme', 0, 4, 4, 5), word('Co', 5, 8, 4, 5)]},
          {'type': 'PersonName', 'bbox': bbox(0, 8, 0, 1),
           'text': 'Jane Roe', 'likeness_score': 0.7,
           'name_parts': [txt]},
          {'type': 'Address', 'bbox': bbox(0, 12, 6, 7),
           'text': '12 Oak St', 'likeness_score': 0.6,
           'address_parts': [],
           'lines': [{'type': 'Text', 'text': '12 Oak St',
                      'bbox': bbox(0, 12, 6, 7),
                      'words': [word('12', 0, 2, 6, 7),
                                word('Oak', 3, 6, 6, 7),
                                word('St', 7, 12, 6, 7)],
                      'maximality_score': None, 'ocr_score': None}]},
      ],
  }

  pool = pool_from_doc_json(blob)
  types = sorted(pool.etype)
  assert types == ['Address', 'Integer', 'NamedEntity', 'Number',
                   'PersonName', 'Time']
  # PersonName's leaf words come through name_parts
  pn = pool.etype.index('PersonName')
  assert len(pool.ewords[pn]) == 2

  saved = doc_json_from_pool(pool)

  # the reference's own typed loader accepts the re-saved JSON
  from bp.document import load_doc_from_json
  ref_doc = load_doc_from_json(json.loads(json.dumps(saved)))
  by_type = {e.type: e for e in ref_doc.entities}
  assert by_type['Number'].value is None  # value lossy by design
  assert by_type['Time'].likeness_score == 0.8
  assert by_type['NamedEntity'].text == 'Acme Co'
  assert by_type['PersonName'].text == 'Jane Roe'
  assert [w.text for w in by_type['PersonName'].entity_words()] == \
      ['Jane', 'Roe']
  assert by_type['Address'].likeness_score == 0.6

  # and our loader round-trips the re-save to the same pool
  rt = pool_from_doc_json(json.loads(json.dumps(saved)))
  assert sorted(rt.etype) == types
  assert sorted(rt.etext) == sorted(pool.etext)
