"""Stage-C parity: randomized predicate score matrix vs the reference
(FIXTURES.md §3).  Every predicate kind in SURVEY §2.C is scored on random
entity (pairs) of a fixture doc and must equal reference predicate.score
to float tolerance."""

import math
import random

import pytest

from blueprint_oss_spark.engine.entity_gen import build_doc_pool
from blueprint_oss_spark.engine.kernels import score_predicate
from blueprint_oss_spark.engine.runner import spans_to_pages
from blueprint_oss_spark.fixtures import (
    labelvalue_corpus, multipage_corpus, readme_corpus)
from blueprint_oss_spark.model import rules as M

from .refshim import reference_doc_from_spans


def _match_entities(pool, ref_doc):
  """Map our entity ids ↔ reference entity objects by
  (type, text, bbox)."""
  ref_by_key = {}
  for e in ref_doc.entities:
    t = type(e).__name__
    if t == 'Page':
      continue
    key = (t, e.entity_text, round(e.bbox.ix.a, 9), round(e.bbox.ix.b, 9),
           round(e.bbox.iy.a, 9), round(e.bbox.iy.b, 9))
    ref_by_key.setdefault(key, []).append(e)
  pairs = []
  used = {}
  for i in range(pool.n_entities):
    key = (pool.etype[i], pool.etext[i],
           round(float(pool.ex0[i]), 9), round(float(pool.ex1[i]), 9),
           round(float(pool.ey0[i]), 9), round(float(pool.ey1[i]), 9))
    lst = ref_by_key.get(key, [])
    j = used.get(key, 0)
    if j < len(lst):
      pairs.append((i, lst[j]))
      used[key] = j + 1
  return pairs


def _ref_predicates():
  from bp.rules import impingement as RI
  from bp.rules import logical as RL
  from bp.rules import numeric as RN
  from bp.rules import semantic as RS
  from bp.rules import spatial as RSp
  from bp.rules import textual as RT
  AL = RSp.AlignmentLine
  D = RSp.Direction
  F = RT.TextComparisonFlags

  ours_al = M.AlignmentLine
  ours_d = M.Direction

  cases = []
  # spatial deg-2
  for anchors_r, anchors_o in [(AL.LEFT_SIDES, ours_al.LEFT_SIDES),
                               (AL.RIGHT_SIDES, ours_al.RIGHT_SIDES),
                               (AL.TOPS, ours_al.TOPS),
                               (AL.BOTTOMS, ours_al.BOTTOMS),
                               (AL.HORIZONTAL_MIDLINES,
                                ours_al.HORIZONTAL_MIDLINES),
                               (AL.VERTICAL_MIDLINES,
                                ours_al.VERTICAL_MIDLINES)]:
    cases.append((RSp.AreAligned(anchors_r, 0.7, 1.3),
                  M.are_aligned(anchors_o, 0.7, 1.3), 2))
  for dr, do in [(D.TOP_DOWN, ours_d.TOP_DOWN),
                 (D.LEFT_TO_RIGHT, ours_d.LEFT_TO_RIGHT),
                 (D.BOTTOM_UP, ours_d.BOTTOM_UP),
                 (D.RIGHT_TO_LEFT, ours_d.RIGHT_TO_LEFT)]:
    cases.append((RSp.AreArranged(dr, 0.8, 0.2, 3.0),
                  M.are_arranged(do, 0.8, 0.2, 3.0), 2))
  cases.append((RSp.AreOnSamePage(0, 1), M.are_on_same_page(0, 1), 2))
  cases.append((RSp.IsInRegion((0.1, 0.8), (0.0, 0.5), False),
                M.is_in_doc_region((0.1, 0.8), (0.0, 0.5)), 1))
  cases.append((RSp.IsInRegion((0.2, 1.0), None, True),
                M.is_in_page_region((0.2, 1.0), None), 1))
  cases.append((RSp.PageNumberIs({1: 0.2, 2: 1.0, 4: 0.1}),
                M.page_number_is({1: 0.2, 2: 1.0, 4: 0.1}), 1))
  # textual
  cases.append((RT.TextEquals(('Annual $', 'Total'), F.NONE, 1, 2),
                M.text_is_one_of(('Annual $', 'Total'),
                                 M.TextComparisonFlags.NONE, 1, 2), 1))
  cases.append((RT.TextEquals(('neil patel',), F.CASE_SENSITIVE, 2, 3),
                M.text_is_one_of(('neil patel',),
                                 M.TextComparisonFlags.CASE_SENSITIVE,
                                 2, 3), 1))
  cases.append((RT.TextHasSubstring('nnual', F.NONE, 1, 1),
                M.text_has_substring('nnual'), 1))
  cases.append((RT.TextMatchesPattern('$D,DDD', {'D': '0123456789'},
                                      0, 3),
                M.text_matches_pattern('$D,DDD', {'D': '0123456789'},
                                       0, 3), 1))
  cases.append((RT.TextMatchesPattern('DD/DD/DD', {'D': '0123456789'},
                                      1, None),
                M.text_matches_pattern('DD/DD/DD', {'D': '0123456789'},
                                       1, None), 1))
  cases.append((RT.TextPropertiesAre(
      {'at_least': 3, 'at_most': 8}, '$0123456789,.', None,
      [{'chars': ',', 'proportion': 0.2}], None,
      [{'chars': '$', 'count': 1}], 1, None),
      M.text_properties_are(
          length={'at_least': 3, 'at_most': 8},
          legal_chars='$0123456789,.',
          max_char_proportions=[{'chars': ',', 'proportion': 0.2}],
          max_char_counts=[{'chars': '$', 'count': 1}],
          tolerance=1, taper=None), 1))
  cases.append((RT.WordCountIs({1: 0.4, 2: 1.0, 3: 0.0}),
                M.word_count_is({1: 0.4, 2: 1.0, 3: 0.0}), 1))
  cases.append((RT.LineCountIs({1: 1.0, 2: 0.0}),
                M.line_count_is({1: 1.0, 2: 0.0}), 1))
  cases.append((RT.HaveUnequalText(), M.have_unequal_text, 2))
  # numeric
  cases.append((RN.sum_is_approximately(100, [1, 1], 5, 10),
                M.sum_is_approximately(100, [1, 1], 5, 10), 2))
  cases.append((RN.sum_is_approximately(0, [1, -1], 0.5, 0.5, True,
                                        True),
                M.sum_is_approximately(0, [1, -1], 0.5, 0.5, True, True),
                2))
  cases.append((RN.sum_is_at_least(50, [1, 1], True, False, True),
                M.sum_is_at_least(50, [1, 1], True, False, True), 2))
  cases.append((RN.greater_than, M.greater_than, 2))
  # logical wrappers
  cases.append((RL.negate(RSp.BottomAligned()),
                M.negate(M.bottom_aligned_pair()), 2))
  cases.append((RL.penalize(RSp.LeftAligned(), 0.6),
                M.penalize(M.left_aligned_pair(), 0.6), 2))
  cases.append((RL.non_fatal(RSp.RightAligned(), 0.4),
                M.non_fatal(M.right_aligned_pair(), 0.4), 2))
  cases.append((RL.all_hold(RSp.TopDown(), RSp.LeftAligned()),
                M.all_hold(M.top_down_pair(), M.left_aligned_pair()), 2))
  cases.append((RL.any_holds(RSp.TopDown(), RSp.LeftAligned()),
                M.any_holds(M.top_down_pair(), M.left_aligned_pair()), 2))
  cases.append((RL.AreDisjoint(), M.are_disjoint, 2))
  cases.append((RL.Nop(), M.nop, 2))
  # semantic
  from bp.rules.semantic import (
      is_date as r_is_date, is_dollar_amount as r_is_dollar,
      is_entire_phrase as r_is_phrase, is_person_name as r_is_person)
  cases.append((r_is_date, M.is_date, 1))
  cases.append((r_is_dollar, M.is_dollar_amount, 1))
  cases.append((r_is_phrase, M.is_entire_phrase, 1))
  cases.append((r_is_person, M.is_person_name, 1))
  # impingement
  cases.append((RI.nothing_between_horizontally,
                M.nothing_between_horizontally, 2))
  cases.append((RI.nothing_between_vertically,
                M.nothing_between_vertically, 2))
  cases.append((RI.no_words_between_horizontally,
                M.no_words_between_horizontally, 2))
  cases.append((RI.no_words_between_vertically,
                M.no_words_between_vertically, 2))
  cases.append((RI.nothing_between_vertically_custom(True, 'xyz', 0.4),
                M.nothing_between_vertically_custom(True, 'xyz', 0.4), 2))
  cases.append((RI.nothing_between_left_edge,
                M.nothing_between_left_edge, 1))
  cases.append((RI.nothing_between_right_edge,
                M.nothing_between_right_edge, 1))
  cases.append((RI.nothing_between_top_edge,
                M.nothing_between_top_edge, 1))
  cases.append((RI.nothing_between_bottom_edge,
                M.nothing_between_bottom_edge, 1))
  # tabular composite predicates
  from bp.rules.tabular import (
      heads_tabular_entry as r_hte, is_immediate_header as r_iih,
      is_tabular_header as r_ith)
  cases.append((r_ith, M.is_tabular_header, 2))
  cases.append((r_iih, M.is_immediate_header, 2))
  cases.append((r_hte, M.heads_tabular_entry, 2))
  # label composites
  from bp.rules.label import (
      is_left_to_right_label_value_pair as r_lr,
      is_top_down_label_value_pair as r_td)
  cases.append((r_lr, M.is_left_to_right_label_value_pair, 2))
  cases.append((r_td, M.is_top_down_label_value_pair, 2))
  return cases


def test_predicate_scores_match_reference():
  rng = random.Random(1234)
  docs = (readme_corpus(3, seed=91) + labelvalue_corpus(3, seed=92)
          + multipage_corpus(2, seed=93))
  cases = _ref_predicates()
  checked = 0
  for doc_id, spans in docs:
    ref_doc = reference_doc_from_spans(doc_id, spans)
    pool = build_doc_pool(doc_id, spans_to_pages(spans))
    matched = _match_entities(pool, ref_doc)
    assert len(matched) == pool.n_entities
    for (ref_pred, our_pred, deg) in cases:
      for _ in range(12):
        picks = [matched[rng.randrange(len(matched))]
                 for _ in range(deg)]
        our_ids = tuple(p[0] for p in picks)
        ref_es = tuple(p[1] for p in picks)
        try:
          ref_score = ref_pred.score(ref_es, ref_doc).score
        except TypeError:
          continue  # reference raises for wrong entity type; we skip
        except AssertionError:
          # latent reference bug: are_on_same_page computes a negative
          # error when both entities straddle the same page boundary
          # (bp/rules/spatial.py:614-626) — undefined behavior, skip
          continue
        got = score_predicate(our_pred, pool, our_ids)
        assert got == pytest.approx(ref_score, abs=1e-12), (
            doc_id, our_pred.name, our_pred.kind,
            [pool.etext[i] for i in our_ids], got, ref_score)
        checked += 1
  assert checked > 2000

