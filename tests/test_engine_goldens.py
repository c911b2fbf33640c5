"""End-to-end engine outputs pinned without a reference checkout.

The reference-parity suites (tests/refshim.py) need the reference
engine's source tree.  Where it is absent, these digests stand in for
them: they were recorded at commit b7f8d90, the last commit whose
parity suites passed against the reference, so a digest match means
the engine still produces those reference-equal outputs bit for bit.

  * `run_doc` (fields, repr(score), out_spans) over the five fixture
    corpora with their blueprints, the paystubs model and the checks
    model (custom predicates), each also with OCR-like noise: the clean
    corpora's winning extractions score text and pair predicates at
    exactly 0 or 1, so only the noisy copies pin the fractional
    arithmetic of the text kernels and the pair merge;
  * `run_doc` over the table corpus with a left-aligned table
    blueprint: `table()`'s columns ask for left AND right alignment
    (see `model.rules.column`), which the table fixture's ragged
    amounts do not satisfy, so the `table` digests pin only the empty
    result; `table_left` pins a non-empty one;
  * the paystubs top-20 extraction lists (the materializing,
    non-pruned solve path);
  * the vectorized leaf path against the scalar kernel;
  * the pickle contract: solving leaves a blueprint's compiled payload
    unchanged.
"""

import dataclasses
import hashlib
import pickle
import random

import pytest

from blueprint_oss_spark import fixtures
from blueprint_oss_spark.bp_examples import checks, paystubs
from blueprint_oss_spark.bp_examples.check_fixtures import check_corpus
from blueprint_oss_spark.bp_examples.paystub_fixtures import paystub_corpus
from blueprint_oss_spark.engine.entity_gen import build_doc_pool
from blueprint_oss_spark.engine.kernels import score_predicate
from blueprint_oss_spark.engine.runner import run_doc, spans_to_pages
from blueprint_oss_spark.engine.solver import (
    MINIMUM_FIELD_SCORE, best_extraction, leaf_candidates, top_extractions)
from blueprint_oss_spark.fixtures import (
    labelvalue_corpus, readme_corpus, table_corpus)
from blueprint_oss_spark.model.nodes import extract, pick_best
from blueprint_oss_spark.model.rules import (
    any_holds, is_date, is_dollar_amount, is_entire_phrase,
    is_in_doc_region, is_one_line, left_aligned_column, non_fatal,
    penalize, row, text_equals, text_has_substring, text_matches_pattern,
    text_properties_are)
from blueprint_oss_spark.spark.pipeline import compile_blueprint

# sha256 prefix per document set, recorded at b7f8d90
_RUN_DOC_DIGESTS = {
    'readme': 'b960677c2d6ffd2b',
    'readme+noise': '5c5de1a281915c0f',
    'labelvalue': '1f85fc8c81215830',
    'labelvalue+noise': '731200eeeccdb105',
    'table': '98af6c7e79c6c712',
    'table+noise': '98af6c7e79c6c712',
    'multipage': 'ade660732af93e35',
    'multipage+noise': 'd9750cacc089fe43',
    'adversarial': '0be7328befb86e37',
    'adversarial+noise': '01509f269e9400c3',
    'paystubs': '2946124f00c9e57b',
    'paystubs+noise': 'f304bda8f5cd81b1',
    'checks': '1ef5c1d8230adf21',
    'checks+noise': '9bb3bb4efca8cccf',
    # recorded at 3131222
    'table_left': '9705c422b8e6671b',
    'table_left+noise': '13d9fa12fcc095e4',
}
_TOP_EXTRACTIONS_DIGEST = '80cea36d8e9b6241'


def _noisy(docs):
  """`docs` with a character of some words replaced and some words
  moved 1-4 columns right."""
  rng = random.Random(5)
  out = []
  for doc_id, spans in docs:
    noisy = []
    for kind, text, media_ref, offset in spans:
      if kind == 'text':
        if len(text) > 3 and rng.random() < 0.3:
          i = rng.randrange(len(text))
          text = text[:i] + rng.choice('oOl1I.') + text[i + 1:]
        if rng.random() < 0.3:
          offset += rng.randrange(1, 5)
      noisy.append((kind, text, media_ref, offset))
    out.append((doc_id, noisy))
  return out


def _table_left_blueprint():
  """table_blueprint's fields, laid out with `row` per row and
  `left_aligned_column` per column instead of `table`."""
  return extract(
      text_equals('current')('cur_label'),
      text_equals('ytd')('ytd_label'),
      text_equals('gross')('gross_label'),
      text_equals('net')('net_label'),
      is_dollar_amount('gross_cur'),
      is_dollar_amount('gross_ytd'),
      is_dollar_amount('net_cur'),
      is_dollar_amount('net_ytd'),
      row('cur_label', 'ytd_label'),
      row('gross_label', 'gross_cur', 'gross_ytd'),
      row('net_label', 'net_cur', 'net_ytd'),
      left_aligned_column('gross_label', 'net_label'),
      left_aligned_column('cur_label', 'gross_cur', 'net_cur'),
      left_aligned_column('ytd_label', 'gross_ytd', 'net_ytd'))


def _run_doc_sets():
  for name, n in (('readme', 60), ('labelvalue', 40), ('table', 30),
                  ('multipage', 30), ('adversarial', 30)):
    yield (name, getattr(fixtures, f'{name}_corpus')(n),
           getattr(fixtures, f'{name}_blueprint')())
  yield 'table_left', table_corpus(30), _table_left_blueprint()
  yield 'paystubs', paystub_corpus(20), paystubs.root
  yield 'checks', check_corpus(12), checks.root


def test_run_doc_digests():
  got = {}
  for name, docs, root in _run_doc_sets():
    for key, corpus in ((name, docs), (f'{name}+noise', _noisy(docs))):
      h = hashlib.sha256()
      for doc_id, spans in corpus:
        out = run_doc(doc_id, spans, root)
        h.update(repr((doc_id, sorted(out['fields'].items()),
                       repr(out['score']), out['out_spans'])).encode())
      got[key] = h.hexdigest()[:16]
  assert got == _RUN_DOC_DIGESTS


def test_table_left_extracts_non_empty_fields():
  """The table_left digests pin real extractions, not the empty
  result the `table` digests pin."""
  for doc_id, spans in table_corpus(30):
    out = run_doc(doc_id, spans, _table_left_blueprint())
    if out['fields'] and out['score'] > 0:
      return
  raise AssertionError('no table_left document extracts a field')


def test_paystubs_top_extractions_digest():
  h = hashlib.sha256()
  for doc_id, spans in paystub_corpus(6):
    pool = build_doc_pool(doc_id, spans_to_pages(spans))
    top = top_extractions(paystubs.root, pool, k=20)
    h.update(repr((doc_id, [(sorted(assign.items()), repr(score))
                            for assign, score in top])).encode())
  assert h.hexdigest()[:16] == _TOP_EXTRACTIONS_DIGEST


_DIGITS = {'D': '0123456789'}


def test_leaf_batch_scoring_equals_scalar_bruteforce():
  """The vectorized leaf path (score_predicate_batch + progressive
  cutoff in leaf_candidates) must reproduce the scalar definition
  bit-for-bit: per entity, the product of per-atom scalar
  score_predicate calls in atom order, strict 0.1 cutoff, stable
  score-descending sort."""
  leaf_specs = [
      ('Text', (text_equals('Total due'), is_entire_phrase)),
      ('Text', (any_holds(text_equals('Issue date'),
                          text_equals('Name:')),
                is_in_doc_region((0.0, 0.8), (0.0, 1.0)))),
      ('Text', (non_fatal(text_has_substring('tot'), 0.4),
                is_one_line,
                text_properties_are(length={'at_least': 2}))),
      ('Text', (text_matches_pattern('DD/DD/DD', _DIGITS, tolerance=3),)),
      ('Date', (is_date, penalize(is_in_doc_region((0, 1), (0, 0.7)),
                                  0.9))),
      ('Date', (non_fatal(text_matches_pattern('DD/DD/DD', _DIGITS), 0.5),
                is_date)),
      ('DollarAmount', (is_dollar_amount,)),
      ('Text', ()),  # empty atom set: every entity at score 1.0
  ]
  docs = readme_corpus(4, seed=71) + labelvalue_corpus(4, seed=72) \
      + table_corpus(4, seed=73)
  checked = 0
  for doc_id, spans in docs:
    pool = build_doc_pool(doc_id, spans_to_pages(spans))
    for etype, preds in leaf_specs:
      atoms = tuple(p(f'f{i}') for i, p in enumerate(preds))
      got = leaf_candidates(pool, etype, atoms, {})
      # unpickled copies carry no text memo, so the scalar scores are
      # computed afresh, not read back from what the batch path stored
      fresh = [pickle.loads(pickle.dumps(a.predicate)) for a in atoms]
      expect = []
      for e in pool.entities_of_type(etype):
        e = int(e)
        score = 1.0
        scores = {}
        for a, pred in zip(atoms, fresh):
          s = score_predicate(pred, pool, (e,))
          scores[a.rid] = s
          score *= s
        if score > MINIMUM_FIELD_SCORE:
          expect.append((e, score, scores))
      expect.sort(key=lambda c: -c[1])
      assert got == expect, (doc_id, etype,
                             [p.name for p in preds])
      checked += len(expect)
  assert checked > 200


def test_pick_best_rules_must_be_pushed_down():
  """The solve rescores a PickBest node's candidates without a rule
  pass, so a tree passed as pre-optimized with rules still on a
  PickBest node is refused rather than solved without them."""
  root = pick_best(fixtures.readme_blueprint(),
                   fixtures.labelvalue_blueprint())
  unpushed = root.with_extra_rules(is_entire_phrase('name_value'))
  doc_id, spans = labelvalue_corpus(1)[0]
  pool = build_doc_pool(doc_id, spans_to_pages(spans))
  with pytest.raises(ValueError, match='PickBest'):
    best_extraction(unpushed, pool, pre_optimized=True)
  assert best_extraction(unpushed, pool)[2] > 0


def _specs(obj, seen):
  """Every spec reachable from `obj` through dataclass fields, tuples,
  lists and dicts (predicate params nest predicates)."""
  if id(obj) in seen:
    return
  seen.add(id(obj))
  if dataclasses.is_dataclass(obj):
    yield obj
    children = [getattr(obj, f.name) for f in dataclasses.fields(obj)]
  elif isinstance(obj, (tuple, list)):
    children = obj
  elif isinstance(obj, dict):
    children = obj.values()
  else:
    return
  for child in children:
    yield from _specs(child, seen)


def test_solving_leaves_the_compiled_blueprint_unchanged():
  """Values derived from a spec (cached hashes and field sets, text
  memos, ordered trees) are per-process: solving documents must not
  change what a blueprint pickles to, and every spec of an unpickled
  tree holds its dataclass fields only."""
  for root, docs in ((checks.root, check_corpus(12)),
                     (paystubs.root, paystub_corpus(12))):
    before = compile_blueprint(root)
    for doc_id, spans in docs:
      run_doc(doc_id, spans, root)
    after = compile_blueprint(root)
    assert after == before, (len(before), len(after))
    specs = list(_specs(pickle.loads(after), set()))
    assert len(specs) > 100
    for spec in specs:
      fields = {f.name for f in dataclasses.fields(spec)}
      assert vars(spec).keys() == fields, (spec, vars(spec).keys() - fields)
