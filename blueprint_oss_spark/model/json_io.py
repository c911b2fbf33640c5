"""Blueprint model JSON (de)serialization, wire-compatible with the
reference's closed registry (bp/model.py:59-159).

The JSON schema is the reference's `dataclasses.asdict` dump:
  node: {type: pattern|merge|pick_best, rules: [...], uuid, name,
         fields: {field: entity_type} (pattern), children: [...] }
  rule: {type: atom, fields: [...], predicate: {...}, uuid, name}
      | {type: conjunction|disjunction, rules: [...], uuid, name}
  predicate: resolved by `name` from the closed registry:
      text_equals, bottom_aligned, left_aligned, right_aligned,
      left_to_right, top_down, are_on_same_page,
      nothing_between_horizontally, nothing_between_vertically,
      no_words_between_horizontally, no_words_between_vertically,
      is_date, is_dollar_amount, is_address, is_person_name,
      is_entire_phrase
"""

from __future__ import annotations

import json
import uuid as uuid_mod
from pathlib import Path
from typing import Any, Dict

from . import rules as R
from .nodes import MergeNode, Node, PatternNode, PickBestNode


def _load_predicate(blob: Dict[str, Any]) -> R.Predicate:
  name = blob['name']
  if name == 'text_equals':
    return R.text_is_one_of(
        tuple(blob['texts']),
        int(blob.get('text_comparison_flags', 0)),
        blob.get('tolerance', 1), blob.get('taper', 1))
  if name == 'bottom_aligned':
    return R.bottom_aligned_pair(blob.get('tolerance', 0.5),
                                 blob.get('taper', 0.5))
  if name == 'left_aligned':
    return R.left_aligned_pair(blob.get('tolerance', 1),
                               blob.get('taper', 1))
  if name == 'right_aligned':
    return R.right_aligned_pair(blob.get('tolerance', 1),
                                blob.get('taper', 1))
  if name == 'left_to_right':
    return R.left_to_right_pair(blob.get('taper', 0.5),
                                blob.get('min_distance', 0),
                                blob.get('max_distance'))
  if name == 'top_down':
    return R.top_down_pair(blob.get('taper', 0.5),
                           blob.get('min_distance', 0),
                           blob.get('max_distance'))
  if name == 'are_on_same_page':
    return R.are_on_same_page(blob.get('tolerance', 0),
                              blob.get('taper', 1))
  if name == 'nothing_between_horizontally':
    return R.nothing_between_horizontally_custom(
        blob.get('spanning', False), blob.get('illegal_characters'),
        blob.get('maximum_impingement', 1.0))
  if name == 'nothing_between_vertically':
    return R.nothing_between_vertically_custom(
        blob.get('spanning', False), blob.get('illegal_characters'),
        blob.get('maximum_impingement', 1.0))
  if name == 'no_words_between_horizontally':
    return R.no_words_between_horizontally_custom(
        blob.get('spanning', False),
        blob.get('illegal_characters', R.LETTERS),
        blob.get('maximum_impingement', 0.5))
  if name == 'no_words_between_vertically':
    return R.no_words_between_vertically_custom(
        blob.get('spanning', False),
        blob.get('illegal_characters', R.LETTERS),
        blob.get('maximum_impingement', 0.5))
  if name == 'is_date':
    return R.is_date
  if name == 'is_dollar_amount':
    return R.is_dollar_amount
  if name == 'is_address':
    return R.is_address
  if name == 'is_person_name':
    return R.is_person_name
  if name == 'is_entire_phrase':
    return R.is_entire_phrase
  raise ValueError(f'predicate {name} not in the model-JSON registry')


def _load_rule(blob: Dict[str, Any]) -> R.Rule:
  t = blob['type']
  if t == 'atom':
    return R.Atom(fields=tuple(blob['fields']),
                  predicate=_load_predicate(blob['predicate']))
  subs = tuple(_load_rule(r) for r in blob['rules'])
  if t == 'conjunction':
    return R.Conjunction(rules=subs, name=blob.get('name'))
  if t == 'disjunction':
    return R.Disjunction(rules=subs, name=blob.get('name'))
  raise ValueError(f'unknown rule type {t}')


def load_model_from_json(blob: Dict[str, Any]) -> Node:
  t = blob['type']
  rules = tuple(_load_rule(r) for r in blob.get('rules', ()))
  name = blob.get('name')
  if t == 'pattern':
    return PatternNode(rules=rules, name=name,
                       fields=tuple(sorted(blob['fields'].items())))
  if t == 'merge':
    return MergeNode(rules=rules, name=name, children=tuple(
        load_model_from_json(c) for c in blob['children']))
  if t == 'pick_best':
    return PickBestNode(rules=rules, name=name, children=tuple(
        load_model_from_json(c) for c in blob['children']))
  raise ValueError(f'unknown node type {t}')


def load_model(path: Path) -> Node:
  with Path(path).open() as f:
    return load_model_from_json(json.load(f))


# ---------------------------------------------------------------------------
# Save (emit reference-loadable JSON for the registry subset).
# ---------------------------------------------------------------------------

def _dump_predicate(p: R.Predicate) -> Dict[str, Any]:
  u = str(uuid_mod.uuid4())
  if p.kind == 'text_equals':
    return {'name': 'text_equals', 'uuid': u,
            'texts': list(p.p('texts')),
            'text_comparison_flags': p.p('flags'),
            'tolerance': p.p('tolerance'), 'taper': p.p('taper')}
  if p.kind == 'are_aligned':
    by_anchor = {'BOTTOMS': 'bottom_aligned',
                 'LEFT_SIDES': 'left_aligned',
                 'RIGHT_SIDES': 'right_aligned'}
    name = by_anchor.get(p.p('anchors'))
    if name is None:
      raise ValueError(
          f'anchors {p.p("anchors")} not in the model-JSON registry')
    return {'name': name, 'uuid': u, 'anchors': p.p('anchors'),
            'tolerance': p.p('tolerance'), 'taper': p.p('taper')}
  if p.kind == 'are_arranged':
    by_dir = {'LEFT_TO_RIGHT': 'left_to_right', 'TOP_DOWN': 'top_down'}
    name = by_dir.get(p.p('direction'))
    if name is None:
      raise ValueError(
          f'direction {p.p("direction")} not in the model-JSON registry')
    return {'name': name, 'uuid': u, 'direction': p.p('direction'),
            'taper': p.p('taper'), 'min_distance': p.p('min_distance'),
            'max_distance': p.p('max_distance')}
  if p.kind == 'are_on_same_page':
    return {'name': 'are_on_same_page', 'uuid': u,
            'tolerance': p.p('tolerance'), 'taper': p.p('taper')}
  if p.kind == 'box_unimpinged':
    region = p.p('region')
    illegal = p.p('illegal_characters')
    base = {'between_h': 'between_horizontally',
            'between_v': 'between_vertically'}.get(region)
    if base is None:
      raise ValueError(
          f'impingement region {region} not in the model-JSON registry')
    name = ('no_words_' if illegal is not None else 'nothing_') + base
    return {'name': name, 'uuid': u,
            'direction': p.p('direction'),
            'degree_': 2, 'spanning': p.p('spanning', False),
            'illegal_characters': illegal,
            'maximum_impingement': p.p('maximum_impingement', 1.0)}
  if p.kind in ('is_date', 'is_dollar_amount', 'is_address',
                'is_person_name', 'is_entire_phrase'):
    return {'name': p.kind, 'uuid': u}
  raise ValueError(f'predicate kind {p.kind} not in the model-JSON '
                   'registry')


def _dump_rule(r: R.Rule) -> Dict[str, Any]:
  u = str(uuid_mod.uuid4())
  if isinstance(r, R.Atom):
    return {'type': 'atom', 'fields': list(r.fields),
            'predicate': _dump_predicate(r.predicate), 'uuid': u,
            'name': None, 'document': None}
  t = 'conjunction' if isinstance(r, R.Conjunction) else 'disjunction'
  return {'type': t, 'rules': [_dump_rule(x) for x in r.rules],
          'uuid': u, 'name': r.name, 'document': None}


def dump_model(node: Node) -> Dict[str, Any]:
  u = str(uuid_mod.uuid4())
  rules = [_dump_rule(r) for r in node.rules]
  if isinstance(node, PatternNode):
    return {'type': 'pattern', 'fields': dict(node.fields),
            'rules': rules, 'uuid': u, 'name': node.name}
  if isinstance(node, MergeNode):
    return {'type': 'merge', 'rules': rules, 'uuid': u,
            'name': node.name,
            'children': [dump_model(c) for c in node.children]}
  if isinstance(node, PickBestNode):
    return {'type': 'pick_best', 'rules': rules, 'uuid': u,
            'name': node.name,
            'children': [dump_model(c) for c in node.children]}
  raise ValueError(
      f'node type {type(node).__name__} not in the model-JSON registry')


def save_model(node: Node, path: Path) -> None:
  with Path(path).open('w') as f:
    f.write(json.dumps(dump_model(node), indent=2, sort_keys=True) + '\n')
