"""Targets-file parity (SURVEY.md §2.A "Targets files"; reference
bp/targets.py + bp/synthesis/targets.py:26-70) and distributed accuracy
scoring."""

import json

import pytest

from blueprint_oss_spark.engine.entity_gen import build_doc_pool
from blueprint_oss_spark.engine.runner import spans_to_pages
from blueprint_oss_spark.fixtures import readme_corpus
from blueprint_oss_spark.model.targets import (
    DocTargets, Entry, TargetAssignment, TargetValue, TargetWord, Targets,
    generate_target_extraction, load_targets_from_json, targets_to_json,
)

from .refshim import reference_doc_from_spans  # noqa: F401 (loads bp)

SCHEMA = (Entry('patel_label', 'Text', True),
          Entry('patel_revenue', 'DollarAmount', False))


def _targets_with_geometry(pool, fields_to_eid):
  """Build DocTargets whose words carry percentage-space geometry for
  the given pool entities (the reference's labeled-doc shape)."""
  doc_w = pool.dx1 - pool.dx0
  doc_h = pool.dy1 - pool.dy0
  assignments = []
  for f, eid in sorted(fields_to_eid.items()):
    words = tuple(
        TargetWord(pool.word_text[w],
                   (pool.wx0[w] - pool.dx0) / doc_w,
                   (pool.wx1[w] - pool.dx0) / doc_w,
                   (pool.wy0[w] - pool.dy0) / doc_h,
                   (pool.wy1[w] - pool.dy0) / doc_h)
        for w in pool.ewords[eid])
    assignments.append(TargetAssignment(
        f, TargetValue(text=pool.etext[eid], words=words,
                       geometry_validated=True)))
  return DocTargets('doc-0', tuple(assignments))


def _example_targets(pool):
  eids = {}
  for want_type, f in (('Text', 'patel_label'),
                       ('DollarAmount', 'patel_revenue')):
    for eid in range(pool.n_entities):
      if pool.etype[eid] == want_type and len(pool.ewords[eid]) >= 2:
        eids[f] = eid
        break
    else:
      for eid in range(pool.n_entities):
        if pool.etype[eid] == want_type:
          eids[f] = eid
          break
  return Targets((_targets_with_geometry(pool, eids),), SCHEMA), eids


def _pool():
  doc_id, spans = readme_corpus(1, seed=601)[0]
  return build_doc_pool(doc_id, spans_to_pages(spans)), spans


def test_round_trip_through_reference():
  """our save → reference parse → reference save → our load.

  Parses with bp.instantiate directly: the reference's own
  `validate` (bp/targets.py:244-247) tests `field not in
  targets.schema` — a str against a Tuple[Entry, ...] — so it
  rejects EVERY targets file whose docs have assignments; the format
  itself is what has parity."""
  from dataclasses import asdict

  from bp.instantiate import instantiate
  from bp.targets import Targets as RefTargets

  pool, _ = _pool()
  targets, _ = _example_targets(pool)
  blob = targets_to_json(targets)
  ref_targets = instantiate(RefTargets, blob)
  assert tuple(dt.doc_name for dt in ref_targets.doc_targets) == ('doc-0',)
  assert ref_targets.schema[0].field == 'patel_label'
  assert ref_targets.schema[0].is_label is True

  back = load_targets_from_json(json.loads(json.dumps(asdict(ref_targets))))
  assert back == targets


def test_validation_parity():
  from bp.targets import load_targets_from_json as ref_load

  pool, _ = _pool()
  targets, _ = _example_targets(pool)
  dt = targets.doc_targets[0]
  bad = Targets((DocTargets(dt.doc_name, dt.assignments,
                            doc_tags=('mystery',)),), SCHEMA)
  blob = targets_to_json(bad)
  with pytest.raises(ValueError, match='unrecognized doc tag'):
    load_targets_from_json(blob)
  with pytest.raises(ValueError, match='unrecognized doc tag'):
    ref_load(blob, silent=True)


def test_generate_target_extraction_parity():
  """Entity resolution agrees with bp/synthesis/targets.py:26-70 on the
  same document + targets."""
  from bp.document import load_doc_from_json
  from bp.instantiate import instantiate
  from bp.synthesis.targets import (
      generate_target_extraction as ref_generate)
  from bp.targets import Targets as RefTargets

  from blueprint_oss_spark.engine.doc_json import doc_json_from_pool

  pool, _ = _pool()
  targets, eids = _example_targets(pool)
  ours = generate_target_extraction(targets.doc_targets[0],
                                    targets.schema, pool)
  assert ours is not None
  assert {f: pool.etext[e] for f, e in ours.items()} == {
      f: pool.etext[e] for f, e in eids.items()}

  ref_targets = instantiate(RefTargets, targets_to_json(targets))
  ref_doc = load_doc_from_json(doc_json_from_pool(pool))
  ref_ex = ref_generate(ref_targets.doc_targets[0], ref_targets.schema,
                        ref_doc)
  assert ref_ex is not None
  ref_fields = {p.field: (p.entity.entity_text or '')
                for p in ref_ex.points()}
  assert ref_fields == {f: pool.etext[e] for f, e in ours.items()}

  # unresolvable targets → None in both engines
  missing = DocTargets('doc-0', (TargetAssignment(
      'patel_label', TargetValue(text='nope')),))
  assert generate_target_extraction(missing, targets.schema, pool) is None
  assert ref_generate(missing, ref_targets.schema, ref_doc) is None

