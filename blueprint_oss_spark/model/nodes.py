"""Extraction-tree node specs and the plan-level DSL.

From-scratch re-expression of the reference's logical plan layer
(blueprint-oss `blueprint/py/bp/tree.py`).  Nodes are pure specs; binding to
a document (per-doc join ordering + search) happens in
`blueprint_oss_spark.engine.solver`, inside the Spark grouped UDF.
"""

from __future__ import annotations

import dataclasses
import itertools
from dataclasses import dataclass, field as dc_field
from functools import cached_property, reduce
from typing import Dict, FrozenSet, Iterable, Optional, Tuple, Union

from .rules import Atom, Field, Rule, Spec, are_disjoint


@dataclass(frozen=True)
class Node(Spec):
  rules: Tuple[Rule, ...] = tuple()
  name: Optional[str] = None

  @cached_property
  def legal_fields(self) -> FrozenSet[Field]:
    """Cached — recomputed recursively otherwise, and the per-doc planner
    calls this in hot loops."""
    return self._legal_fields_impl()

  def _legal_fields_impl(self) -> FrozenSet[Field]:
    raise NotImplementedError

  @property
  def child_nodes(self) -> Tuple['Node', ...]:
    return tuple()

  def is_decidable(self, rule: Rule) -> bool:
    return rule.fieldset <= self.legal_fields

  def with_rules(self, rules: Tuple[Rule, ...]) -> 'Node':
    return dataclasses.replace(self, rules=rules)

  def with_extra_rules(self, *rules: Rule) -> 'Node':
    return self.with_rules(tuple(itertools.chain(self.rules, rules)))

  def with_name(self, name: str) -> 'Node':
    return dataclasses.replace(self, name=name)

  def validate(self) -> None:
    for rule in self.rules:
      if not rule.fieldset <= self.legal_fields:
        raise ValueError(
            f'rule {rule} refers to fields '
            f'{rule.fieldset - self.legal_fields} not found in '
            f'{type(self).__name__}')


@dataclass(frozen=True)
class EmptyNode(Node):
  """reference: bp/tree.py:160-195."""

  def _legal_fields_impl(self) -> FrozenSet[Field]:
    return frozenset()


@dataclass(frozen=True)
class LeafNode(Node):
  """reference: bp/tree.py:198-273."""
  field: Field = ''
  entity_type: str = 'Text'

  def _legal_fields_impl(self) -> FrozenSet[Field]:
    return frozenset({self.field})


@dataclass(frozen=True)
class PatternNode(Node):
  """A node whose combine-tree is rebuilt per document
  (reference: bp/tree.py:276-423).

  Its rules are flattened to atoms before the tree is built
  (engine/solver.py `_flatten_rules`): a Conjunction contributes its
  atoms, and so does a Disjunction, which inside a pattern therefore
  acts as the conjunction of its atoms."""
  fields: Tuple[Tuple[Field, str], ...] = tuple()  # (field, entity_type)

  @property
  def field_types(self) -> Dict[Field, str]:
    return dict(self.fields)

  def _legal_fields_impl(self) -> FrozenSet[Field]:
    return frozenset(f for f, _ in self.fields)

  @property
  def public_fields(self) -> FrozenSet[Field]:
    """Fields visible to parents; '_'-prefixed fields are private
    (reference: bp/bound_tree.py:150-153)."""
    return frozenset(f for f in self.legal_fields if f and f[0] != '_')


@dataclass(frozen=True)
class CombineNode(Node):
  """Theta-join of two sub-extractions (reference: bp/tree.py:476-560)."""
  node1: Node = EmptyNode()
  node2: Node = EmptyNode()
  all_or_nothing: bool = False

  def _legal_fields_impl(self) -> FrozenSet[Field]:
    return self.node1.legal_fields | self.node2.legal_fields

  @property
  def child_nodes(self) -> Tuple[Node, ...]:
    return (self.node1, self.node2)

  def validate(self) -> None:
    super().validate()
    both = self.node1.legal_fields & self.node2.legal_fields
    if both:
      raise ValueError(f'fields {both} appear in both combine children')


@dataclass(frozen=True)
class MergeNode(Node):
  """N-ary combine (reference: bp/tree.py:426-473)."""
  children: Tuple[Node, ...] = tuple()

  def _legal_fields_impl(self) -> FrozenSet[Field]:
    return frozenset(itertools.chain.from_iterable(
        c.legal_fields for c in self.children))

  @property
  def child_nodes(self) -> Tuple[Node, ...]:
    return self.children

  def validate(self) -> None:
    super().validate()
    seen: set = set()
    for c in self.children:
      overlap = seen & c.legal_fields
      if overlap:
        raise ValueError(
            f'fields {overlap} appear in multiple merge children')
      seen |= c.legal_fields


@dataclass(frozen=True)
class PickBestNode(Node):
  """Best extraction from any of several alternative layouts
  (reference: bp/tree.py:563-616)."""
  children: Tuple[Node, ...] = tuple()

  def _legal_fields_impl(self) -> FrozenSet[Field]:
    if not self.children:
      return frozenset()
    return frozenset.union(*(c.legal_fields for c in self.children))

  @property
  def child_nodes(self) -> Tuple[Node, ...]:
    return self.children


def extract(*rules: Rule,
            field_types: Optional[Dict[Field, str]] = None) -> Node:
  """The `extract(...)` primitive; infers field entity-types from
  is_date / is_dollar_amount / is_entire_phrase atoms
  (reference: bp/tree.py:635-698)."""
  if field_types is None:
    fields = frozenset(
        itertools.chain.from_iterable(rule.fields for rule in rules))
    atoms = tuple(r for r in rules if isinstance(r, Atom))

    def has_type_rule(field: Field, kind: str) -> bool:
      return any(a.predicate.kind == kind and a.fields == (field,)
                 for a in atoms)

    dates = frozenset(f for f in fields if has_type_rule(f, 'is_date'))
    dollars = frozenset(
        f for f in fields if has_type_rule(f, 'is_dollar_amount'))
    phrases = frozenset(
        f for f in fields if has_type_rule(f, 'is_entire_phrase'))
    clash = dates & dollars | dates & phrases | dollars & phrases
    if clash:
      raise TypeError(f'fields {clash} cannot be multiple types')

    def field_type(f: Field) -> str:
      if f in dates:
        return 'Date'
      if f in dollars:
        return 'DollarAmount'
      return 'Text'

    field_types = {f: field_type(f) for f in fields}

  return PatternNode(
      rules=tuple(rules),
      fields=tuple(sorted(field_types.items())))


def combine(*nodes: Node, all_or_nothing: bool = False,
            allowed_to_overlap: Iterable[Iterable[Field]] = tuple()) -> Node:
  """Combine extraction trees, injecting pairwise AreDisjoint rules across
  subtrees (reference: bp/tree.py:701-746)."""
  if len(nodes) == 0:
    return EmptyNode()
  allowed = frozenset(frozenset(p) for p in allowed_to_overlap)
  for pair in allowed:
    if len(pair) != 2:
      raise ValueError(
          f'allowed_to_overlap entries must be pairs of fields, not {pair}')
  disjoint_rules = tuple(itertools.chain.from_iterable(
      (Atom(fields=(f1, f2), predicate=are_disjoint)
       for f1, f2 in itertools.product(n1.legal_fields, n2.legal_fields)
       if frozenset({f1, f2}) not in allowed)
      for n1, n2 in itertools.combinations(nodes, 2)))
  root = reduce(
      lambda a, b: CombineNode(node1=a, node2=b,
                               all_or_nothing=all_or_nothing), nodes)
  root = root.with_extra_rules(*disjoint_rules)
  root.validate()
  return root


def pick_best(*nodes: Node) -> Node:
  node = PickBestNode(children=tuple(nodes))
  node.validate()
  return node


def optimize_rule_distribution(node: Node,
                               rules: Tuple[Rule, ...] = tuple()) -> Node:
  """Push every rule to the lowest node where it is decidable
  (reference: bp/tree.py:805-862).  Rules with at least one atom decidable
  in a child are also copied into that child (they contribute atom-score
  caching and upper-bound early exits there)."""
  rules = tuple(itertools.chain(rules, node.rules))

  def remake_child(child: Node) -> Node:
    def has_decidable_atom(rule: Rule) -> bool:
      return any(child.is_decidable(a) for a in rule.atoms)
    child_rules = tuple(r for r in rules if has_decidable_atom(r))
    return optimize_rule_distribution(child, child_rules)

  if isinstance(node, (CombineNode, MergeNode)):
    children = node.child_nodes
    spanning = tuple(
        r for r in rules
        if not any(c.is_decidable(r) for c in children))
    if isinstance(node, CombineNode):
      return dataclasses.replace(
          node, node1=remake_child(node.node1),
          node2=remake_child(node.node2), rules=spanning)
    return dataclasses.replace(
        node, children=tuple(remake_child(c) for c in children),
        rules=spanning)

  if isinstance(node, PickBestNode):
    return dataclasses.replace(
        node, children=tuple(remake_child(c) for c in node.children),
        rules=tuple())

  # Leaf / Pattern / Empty: keep all rules here.
  return node.with_rules(rules)
