"""Custom-predicate (UDF) surface parity: the reference's
examples/checks/checks.py custom predicates (EmptyLineAbove,
IsOrientedHorizontally) re-expressed through custom_predicate /
custom_unimpinged must score identically."""

import random

import pytest

from blueprint_oss_spark.engine.entity_gen import build_doc_pool
from blueprint_oss_spark.engine.kernels import score_predicate
from blueprint_oss_spark.engine.runner import spans_to_pages
from blueprint_oss_spark.fixtures import labelvalue_corpus, readme_corpus

from .refshim import reference_doc_from_spans
from .test_custom_predicate_blueprint import (
    empty_line_above, is_oriented_horizontally)
from .test_predicate_parity import _match_entities


def _ref_customs():
  """The reference-side custom predicates, defined the reference way
  (Predicate subclassing)."""
  from dataclasses import dataclass
  from typing import Optional, Tuple

  from bp.document import DocRegion, Document
  from bp.entity import Entity
  from bp.geometry import BBox, Interval
  from bp.rule import AtomScore, Degree1Predicate
  from bp.rules.impingement import BoxUnimpinged
  from bp.rules.spatial import Orientation as RefOrientation

  @dataclass(frozen=True)
  class EmptyLineAbove(BoxUnimpinged):
    def __init__(self, name: str = 'empty_line_above'):
      super().__init__(name=name, degree_=1,
                       direction=RefOrientation.VERTICAL)

    def doc_region_getter(self, doc: Document, *Es: Entity) \
        -> Optional[DocRegion]:
      (E,) = Es
      return DocRegion.build(doc, BBox.build(
          E.bbox.ix,
          Interval(E.bbox.iy.a - doc.median_line_height(), E.bbox.iy.a)))

  @dataclass(frozen=True)
  class IsOrientedHorizontally(Degree1Predicate):
    def __init__(self, name: str = 'is_oriented_horizontally'):
      super().__init__(name=name, uuid='test')

    def score(self, entities: Tuple[Entity, ...], doc: Document) \
        -> AtomScore:
      (E,) = entities
      if E.bbox.iy.length > E.bbox.ix.length * 1.5:
        return AtomScore(0)
      return AtomScore(1)

  return EmptyLineAbove(), IsOrientedHorizontally()


def test_custom_predicates_match_reference_subclasses():
  ref_ela, ref_ioh = _ref_customs()
  rng = random.Random(7)
  docs = readme_corpus(4, seed=201) + labelvalue_corpus(4, seed=202)
  checked = 0
  for doc_id, spans in docs:
    ref_doc = reference_doc_from_spans(doc_id, spans)
    pool = build_doc_pool(doc_id, spans_to_pages(spans))
    matched = _match_entities(pool, ref_doc)
    for _ in range(25):
      our_id, ref_e = matched[rng.randrange(len(matched))]
      assert score_predicate(empty_line_above, pool, (our_id,)) == \
          pytest.approx(ref_ela.score((ref_e,), ref_doc).score, abs=1e-12)
      assert score_predicate(is_oriented_horizontally, pool,
                             (our_id,)) == \
          pytest.approx(ref_ioh.score((ref_e,), ref_doc).score, abs=1e-12)
      checked += 1
  assert checked == 200

