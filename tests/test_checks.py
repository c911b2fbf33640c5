"""Parity for the checks example model — our DSL port
(bp_examples/checks.py) vs the reference's own examples/checks/checks.py
(the 4th and last reference example program, and the custom-Predicate
showcase).

Layers (mirroring test_paystubs_parity):
  1. Custom-predicate kernel parity: IsInPixelPageRegion and
     EntityStringsAreDisjoint scored against the reference's own
     subclasses on matched entities (incl. TALL pages where the
     800/1000-pixel cutoffs actually bite; EmptyLineAbove /
     IsOrientedHorizontally are covered in test_custom_predicates).
  2. Sub-blueprint exhaustive parity: every layout family exhausted in
     both engines; our best out-span sequence must be in the
     reference's tied-best set.
  3. Full-root comparison at the model's production config
     (Config(num_samples=100), examples/checks/checks.py:450): our
     global best must dominate the reference's best-of-100, with
     tie-set membership when scores agree.
"""

import random

import pytest

from blueprint_oss_spark.engine.entity_gen import build_doc_pool
from blueprint_oss_spark.engine.kernels import score_predicate
from blueprint_oss_spark.engine.runner import (
    canonical_out_spans, run_doc, spans_to_pages)
from blueprint_oss_spark.engine.solver import best_extraction

from .refshim import (
    load_reference_example, reference_best_set, reference_doc_from_spans)
from .test_checks_model import DOCS
from .test_predicate_parity import _match_entities


@pytest.fixture(scope='module')
def ref_ns():
  return load_reference_example('/root/reference/examples/checks/checks.py')


def test_pixel_page_region_and_string_disjoint_parity(ref_ns):
  from blueprint_oss_spark.bp_examples.checks import (
      entity_strings_are_disjoint, is_in_pixel_page_region)
  from blueprint_oss_spark.model.rules import Direction

  ref_dir = ref_ns['Direction']
  cases = [
      (is_in_pixel_page_region(800, Direction.TOP_DOWN),
       ref_ns['is_in_pixel_page_region'](800, ref_dir.TOP_DOWN), 1),
      (is_in_pixel_page_region(1000, Direction.BOTTOM_UP),
       ref_ns['is_in_pixel_page_region'](1000, ref_dir.BOTTOM_UP), 1),
      (entity_strings_are_disjoint(),
       ref_ns['entity_strings_are_disjoint'](), 2),
  ]
  rng = random.Random(11)
  checked = 0
  for doc_id, spans in DOCS:
    ref_doc = reference_doc_from_spans(doc_id, spans)
    pool = build_doc_pool(doc_id, spans_to_pages(spans))
    matched = _match_entities(pool, ref_doc)
    for _ in range(30):
      for ours, theirs, deg in cases:
        picks = [matched[rng.randrange(len(matched))] for _ in range(deg)]
        our_ids = tuple(p[0] for p in picks)
        ref_es = tuple(p[1] for p in picks)
        assert score_predicate(ours, pool, our_ids) == pytest.approx(
            theirs.score(ref_es, ref_doc).score, abs=1e-12), \
            (doc_id, ours.name, our_ids)
        checked += 1
  assert checked == len(DOCS) * 30 * len(cases)


SUBTREES = [
    'ltr_amount', 'top_down_amount', 'no_label_amount',
    'ltr_date', 'top_down_date', 'bottom_up_date', 'no_label_date',
    'ltr_check_number', 'top_down_check_number',
    'bottom_up_check_number', 'no_label_check_number',
    'check_anchor_node', 'long_tail_date', 'long_tail_amount',
    'long_tail_check_number', 'long_tail_pay_details',
]


@pytest.mark.parametrize('name', SUBTREES)
def test_checks_subtree_parity(ref_ns, name):
  import blueprint_oss_spark.bp_examples.checks as ours_mod
  ref_root = ref_ns[name]
  our_root = getattr(ours_mod, name)
  for doc_id, spans in DOCS:
    ref_fields, ref_score, ref_outs = reference_best_set(
        doc_id, spans, ref_root)
    result = run_doc(doc_id, spans, our_root)
    assert result['out_spans'] in ref_outs, (
        name, doc_id, result['fields'], ref_fields, result['score'],
        ref_score)


def test_checks_full_root_vs_reference_production_config(ref_ns):
  from blueprint_oss_spark.bp_examples.checks import root as our_root
  ref_root = ref_ns['root']
  for doc_id, spans in DOCS:
    ref_fields, ref_score, ref_outs = reference_best_set(
        doc_id, spans, ref_root, num_samples=100)
    pool = build_doc_pool(doc_id, spans_to_pages(spans))
    assign, _, score = best_extraction(our_root, pool)
    ours = {f: pool.etext[e] for f, e in assign.items()}
    # Our solver exhausts; the reference pumps 100 best-first samples.
    assert score >= ref_score - 1e-9, (doc_id, ours, ref_fields)
    if abs(score - ref_score) <= 1e-9:
      assert canonical_out_spans(ours, spans) in ref_outs, (
          doc_id, ours, ref_fields)

