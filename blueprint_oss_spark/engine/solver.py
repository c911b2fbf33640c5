"""Per-document extraction solver.

Re-implements the execution semantics of blueprint-oss's bound tree
(bp/tree.py, bp/bound_tree.py, bp/scoring.py) as materialized candidate
lists with exact merge scoring.  The solver returns the *best* extraction —
the same result as the reference pumped to exhaustion
(run_model with Config(num_samples=-1), bp/run.py:50-67).

Replicated reference quirks (intentional, for output parity):
  * PatternNode flattens connective rules to atoms, so a Disjunction inside
    a pattern behaves conjunctively (bp/tree.py:340-341).
  * Leaf-level connective rules act as validity filters only; their scores
    are discarded (BoundLeafNode yields the pre-merge extraction,
    bp/bound_tree.py:112-129).
  * MergeNode's own spanning rules are never scored
    (BoundMergeNode.__next__ passes the child through,
    bp/bound_tree.py:197-199).
  * Leaf candidate counting for join ordering uses the pattern's original
    atoms with field-set == {field}; the final bound leaves use the
    flattened atoms (bp/tree.py:324-338 vs 761-802).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from functools import reduce
from typing import Dict, FrozenSet, List, Optional, Sequence, Tuple

from ..model.nodes import (
    CombineNode, EmptyNode, LeafNode, MergeNode, Node, PatternNode,
    PickBestNode, combine, optimize_rule_distribution,
)
from ..model.rules import Atom, Disjunction, Field, Rule, derived
from .docmodel import DocPool
from .kernels import score_predicate

MINIMUM_FIELD_SCORE = 0.1  # strict lower bound (bp/scoring.py:196-200)

# Safety valve for candidate-list materialization (the reference has a 45 s
# per-doc SIGALRM instead, bp/cli/run_model.py:32).
MAX_PAIRS_PER_COMBINE = 4_000_000

# Matches the message of either pair-budget trip (_bind_combine's product
# over MAX_PAIRS_PER_COMBINE, or a component with no pairable edges), so
# the job lineage can count them apart from the other budget errors.
PAIR_BUDGET_MESSAGE = (r'(combine product \d+x\d+ exceeds budget'
                       r'|component .* has no pairable edges)')


class SolverBudgetError(RuntimeError):
  pass


class SolverTimeoutError(RuntimeError):
  pass


# Per-document wall-clock deadline (reference: 45 s SIGALRM per doc,
# bp/cli/run_model.py:32 + bp/timeout.py — executors can't use signals, so
# the hot loops poll time.monotonic() instead).  Thread-local, not a
# module global: the threaded Studio server solves concurrent requests
# in one process, and one request's deadline must not cancel another's.
import threading as _threading

_DEADLINE_TLS = _threading.local()


def set_deadline(t: Optional[float]) -> None:
  _DEADLINE_TLS.t = t


def _check_deadline() -> None:
  t = getattr(_DEADLINE_TLS, 't', None)
  if t is not None:
    import time
    if time.monotonic() > t:
      raise SolverTimeoutError()


@dataclass(slots=True)
class SE:
  """A scored extraction (reference: bp/scoring.py:44-171)."""
  assign: Dict[Field, int]          # field -> entity id (assigned only)
  field_scores: Dict[Field, float]  # may include 0.0 for absent fields
  rule_scores: Dict[int, float]     # rid -> score cache
  mass: int
  score: float

  @property
  def is_empty(self) -> bool:
    return not self.assign

  def valid(self) -> bool:
    for f in self.assign:
      if not self.field_scores[f] > MINIMUM_FIELD_SCORE:
        return False
    return True


class _ScoreCache:
  """Per-document (predicate, entity-ids) → score memo.  Scores are pure
  functions of (predicate, entities, doc), so cross-merge caching cannot
  change semantics — it only avoids recomputing e.g. impingement sweeps
  for the same entity pair under different partial assignments."""

  __slots__ = ('doc', 'memo')

  def __init__(self, doc: DocPool):
    self.doc = doc
    self.memo: Dict = {}

  def atom_score(self, atom: Atom, eids: Tuple[int, ...]) -> float:
    # keyed by predicate object identity — the tree is fixed for the
    # lifetime of the cache, and id() avoids re-hashing large predicate
    # param tuples in the hot loop
    key = (id(atom.predicate), eids)
    got = self.memo.get(key)
    if got is None:
      got = score_predicate(atom.predicate, self.doc, eids)
      self.memo[key] = got
    return got


def _rule_score(rule: Rule, assign: Dict[Field, int],
                sc: _ScoreCache) -> float:
  """Score a rule against an assignment; atoms with missing fields score 1
  (bp/rule.py:249-256, conjunction/disjunction bp/rule.py:306-321)."""
  if isinstance(rule, Atom):
    if any(f not in assign for f in rule.fields):
      return 1.0
    return sc.atom_score(rule, tuple(assign[f] for f in rule.fields))
  if isinstance(rule, Disjunction):
    return max(_rule_score(r, assign, sc) for r in rule.rules)
  # Conjunction
  s = 1.0
  for r in rule.rules:
    s *= _rule_score(r, assign, sc)
  return s


# ---------------------------------------------------------------------------
# Leaf candidate generation (bp/tree.py:68-96, 228-262).
# ---------------------------------------------------------------------------

def leaf_candidates(doc: DocPool, etype: str,
                    atom_rules: Sequence[Atom],
                    memo: Dict) \
    -> List[Tuple[int, float, Dict[int, float]]]:
  """Scored (entity, field_score, atom_scores) candidates of one leaf,
  sorted by score descending (stable), validity-cutoff applied.

  Memoized per (predicate multiset, type) — the reference's lru-cached
  `assignments()` (bp/tree.py:68-96)."""
  key = (tuple(a.predicate for a in atom_rules), etype)
  got = memo.get(key)
  if got is None:
    import numpy as np

    from .kernels import predicate_scores_bounded_01, \
        score_predicate_batch

    cur = doc.entities_of_type(etype)
    score = np.ones(len(cur))
    per_atom: List[Tuple[int, np.ndarray]] = []
    # Progressive cutoff: predicate scores live in [0,1] (unless a
    # custom predicate is present), so the running product only shrinks
    # — entities at or below MINIMUM_FIELD_SCORE after any atom can be
    # dropped immediately.  The per-atom multiply order matches the
    # reference exactly (1.0·s₁·s₂·…), so survivors' floats are
    # bit-identical to the scalar path.
    can_mask = all(predicate_scores_bounded_01(a.predicate)
                   for a in atom_rules)
    for a in atom_rules:
      if len(cur) == 0:
        per_atom.append((a.rid, np.zeros(0)))
        continue
      s = score_predicate_batch(a.predicate, doc, cur)
      score = score * s
      if can_mask:
        keep = score > MINIMUM_FIELD_SCORE
        if not keep.all():
          cur = cur[keep]
          score = score[keep]
          s = s[keep]
          per_atom = [(rid, arr[keep]) for rid, arr in per_atom]
      per_atom.append((a.rid, s))
    if not can_mask and len(cur):
      keep = score > MINIMUM_FIELD_SCORE
      cur = cur[keep]
      score = score[keep]
      per_atom = [(rid, arr[keep]) for rid, arr in per_atom]
    cands = [
        (int(cur[i]), float(score[i]),
         {rid: float(arr[i]) for rid, arr in per_atom})
        for i in range(len(cur))]
    cands.sort(key=lambda c: -c[1])  # stable
    memo[key] = cands
    got = cands
  return got


# ---------------------------------------------------------------------------
# Bound nodes with materialized candidate lists.
# ---------------------------------------------------------------------------

@dataclass(slots=True)
class Bound:
  legal_fields: FrozenSet[Field]
  mass: int
  cands: List[SE]  # sorted score-descending; includes/ends with the empty SE


def _empty_se(fields: FrozenSet[Field], atom_rules: Sequence[Atom],
              mass: int) -> SE:
  # Leaf empty extraction carries 0.0 field scores and 1.0 atom scores
  # (bp/scoring.py:287-307 with assignment None).
  return SE({}, {f: 0.0 for f in fields},
            {a.rid: 1.0 for a in atom_rules}, mass, 0.0)


def bind_node(node: Node, doc: DocPool, memo: Dict,
              need_all: bool = True) -> Bound:
  if isinstance(node, EmptyNode):
    return Bound(frozenset(), 1, [])
  return _continue_bind(node, doc, memo, need_all)

def _score_cache(doc: DocPool, memo: Dict) -> _ScoreCache:
  sc = memo.get('_score_cache')
  if sc is None:
    sc = _ScoreCache(doc)
    memo['_score_cache'] = sc
  return sc


def _continue_bind(node: Node, doc: DocPool, memo: Dict,
                   need_all: bool = True) -> Bound:
  sc = _score_cache(doc, memo)

  if isinstance(node, LeafNode):
    atoms = [r for r in node.rules if isinstance(r, Atom)]
    others = [r for r in node.rules if not isinstance(r, Atom)]
    raw = leaf_candidates(doc, node.entity_type, atoms, memo)
    cands: List[SE] = []
    for (e, score, scores) in raw:
      if others:
        # Validity-only connective check; score discarded
        # (bp/bound_tree.py:112-129).
        v = score
        for r in others:
          v *= _rule_score(r, {node.field: e}, sc)
        if not v > MINIMUM_FIELD_SCORE:
          continue
      cands.append(SE({node.field: e}, {node.field: score}, dict(scores),
                      1, score))
    cands.append(_empty_se(node.legal_fields, atoms, 1))
    return Bound(node.legal_fields, 1, cands)

  if isinstance(node, CombineNode):
    b1 = bind_node(node.node1, doc, memo)
    b2 = bind_node(node.node2, doc, memo)
    if not need_all:
      return _bind_combine_best(b1, b2, node.rules, node.all_or_nothing, sc)
    return _bind_combine(b1, b2, node.rules, node.all_or_nothing, sc)

  if isinstance(node, MergeNode):
    # MergeNode executes as a fresh combine chain; its own spanning rules
    # are never scored (bp/tree.py:455-461, bp/bound_tree.py:197-199).
    return bind_node(combine(*node.children), doc, memo, need_all)

  if isinstance(node, PickBestNode):
    if node.rules:
      # Rule pushdown always empties PickBest rules (bp/tree.py:854-858);
      # the rescoring below has no rule pass, so rules left here would
      # be dropped silently.
      raise ValueError('PickBest node has rules at bind time; solve the '
                       'tree after optimize_rule_distribution')
    children = [bind_node(c, doc, memo, need_all) for c in node.children]
    mass = max(c.mass for c in children)
    legal = frozenset().union(*(c.legal_fields for c in children))
    if need_all:
      out = []
      for c in children:
        for se in c.cands:
          m = _renormalized(se, mass)
          if m.valid():
            out.append(m)
    else:
      # Renormalization sum(fs)/mass is order-preserving within each
      # (sorted) child list, so the argmax over the children's heads is
      # the argmax over the whole union, and each child only needs its
      # own best (need=1 propagates).
      out = [_renormalized(c.cands[0], mass) for c in children if c.cands]
    out.sort(key=lambda s: -s.score)
    return Bound(legal, mass, out)

  if isinstance(node, PatternNode):
    return bind_pattern(node, doc, memo)

  raise TypeError(f'unknown node type {type(node)}')


def _renormalized(se: SE, mass: int) -> SE:
  """`se` rescored over a PickBest node's mass: the reference's merge
  (bp/scoring.py:217-264) of one extraction under no node rules."""
  field_scores = dict(se.field_scores)
  return SE(dict(se.assign), field_scores, dict(se.rule_scores), mass,
            sum(field_scores.values()) / mass)


def _merge_plan(rules: Sequence[Rule], akeys: FrozenSet[Field],
                bkeys: FrozenSet[Field]) -> List[tuple]:
  """Precompute, for one (assigned-fields-of-a, assigned-fields-of-b)
  bucket, the pair-invariant work of _merge_pair_planned: which rules
  are decidable, which side supplies each atom field, which undecidable
  connectives get their decidable atoms cached + an upper-bound check.
  Candidate lists contain only a handful of distinct assigned-field sets
  (full or empty under all_or_nothing), so this hoists the per-pair
  field-membership scans out of the O(|a|·|b|) loop.  Ops keep rule
  order, preserving the extra-atom-cache accumulation the upper bound
  sees (bp/scoring.py:234-261)."""
  union = akeys | bkeys
  plan: List[tuple] = []
  for rule in rules:
    is_atom = isinstance(rule, Atom)
    if rule.fieldset <= union:
      src = tuple((f in akeys, f) for f in rule.fields) if is_atom \
          else None
      plan.append(('d', rule, rule.rid, is_atom, src))
    elif not is_atom:
      cached_atoms = tuple(
          (atom, atom.rid, tuple((f in akeys, f) for f in atom.fields))
          for atom in rule.atoms if atom.fieldset <= union)
      touches = bool(rule.fieldset & union)
      plan.append(('p', rule, cached_atoms, touches))
  return plan


def _merge_pair_planned(a: SE, b: SE, plan: Sequence[tuple], mass: int,
                        sc: _ScoreCache) -> Optional[SE]:
  """The 2-way merge of a and b under node rules, with the
  bucket-invariant work precomputed by _merge_plan; the output dicts are
  built only when the pair survives.  Exactly bp/scoring.py:217-264 for
  pairs that survive; pairs returning None are exactly the ones the
  reference's merge would produce as invalid (a decidable rule scored
  0, a 0-upper-bound early exit touched an assigned field, or a field
  score fell to <= 0.1).  Decidable connectives are recomputed from
  their atoms, as the reference does (bp/scoring.py:243-247)."""
  a_assign = a.assign
  b_assign = b.assign
  a_rs = a.rule_scores
  b_rs = b.rule_scores

  decidable: List = []
  # one growing dict across ops: _bound_fast only reads it, and each
  # upper bound sees the atoms cached by the ops before it
  extra_atom_scores: Dict[int, float] = {}

  for op in plan:
    if op[0] == 'd':
      _, rule, rid, is_atom, src = op
      s = a_rs.get(rid)
      if s is None:
        s = b_rs.get(rid)
      if s is None:
        if is_atom:
          s = sc.atom_score(rule, tuple(
              a_assign[f] if fa else b_assign[f] for fa, f in src))
        else:
          s = _connective_score(rule, a_assign, b_assign, sc)
        extra_atom_scores[rid] = s
      if s == 0.0:
        return None
      decidable.append((rule, s))
    else:
      _, rule, cached_atoms, touches = op
      for (atom, rid, src) in cached_atoms:
        s = a_rs.get(rid)
        if s is None:
          s = b_rs.get(rid)
        if s is None:
          s = sc.atom_score(atom, tuple(
              a_assign[f] if fa else b_assign[f] for fa, f in src))
        extra_atom_scores[rid] = s
      bound = _bound_fast(rule, a_assign, b_assign, a_rs, b_rs,
                          extra_atom_scores)
      if bound == 0.0 and touches:
        return None

  field_scores = {**a.field_scores, **b.field_scores}
  for (rule, s) in decidable:
    if s != 1.0:
      for f in rule.fields:
        field_scores[f] *= s

  assign = {**a_assign, **b_assign}
  for f in assign:
    if not field_scores[f] > MINIMUM_FIELD_SCORE:
      return None

  rule_scores = {**a_rs, **b_rs}
  for rid, s in extra_atom_scores.items():
    if rid not in rule_scores:
      rule_scores[rid] = s
  for (rule, s) in decidable:
    rule_scores[rule.rid] = s

  score = sum(field_scores.values()) / mass
  return SE(assign, field_scores, rule_scores, mass, score)


def _connective_score(rule: Rule, a_assign: Dict[Field, int],
                      b_assign: Dict[Field, int], sc: _ScoreCache) \
    -> float:
  if isinstance(rule, Atom):
    for f in rule.fields:
      if f not in a_assign and f not in b_assign:
        return 1.0
    return sc.atom_score(rule, tuple(
        a_assign[f] if f in a_assign else b_assign[f]
        for f in rule.fields))
  if isinstance(rule, Disjunction):
    return max(_connective_score(r, a_assign, b_assign, sc)
               for r in rule.rules)
  s = 1.0
  for r in rule.rules:
    s *= _connective_score(r, a_assign, b_assign, sc)
  return s


def _bound_fast(rule: Rule, a_assign, b_assign, a_rs, b_rs,
                extra: Dict[int, float]) -> float:
  got = extra.get(rule.rid)
  if got is None:
    got = a_rs.get(rule.rid)
  if got is None:
    got = b_rs.get(rule.rid)
  if got is not None:
    return got
  if isinstance(rule, Atom):
    return 1.0  # decidable atoms were cached above
  if isinstance(rule, Disjunction):
    subs = [_bound_fast(r, a_assign, b_assign, a_rs, b_rs, extra)
            for r in rule.rules]
    return max(subs) if subs else 1.0
  s = 1.0
  for r in rule.rules:
    s *= _bound_fast(r, a_assign, b_assign, a_rs, b_rs, extra)
  return s


def _bind_combine_best(b1: Bound, b2: Bound, rules: Sequence[Rule],
                       all_or_nothing: bool, sc: _ScoreCache) -> Bound:
  """Exact best-only combine via branch-and-bound over the sorted child
  lists.  The merged score is bounded by
      (a.score·a.mass + b.score·b.mass) / mass
  since node rules only multiply field scores by values ≤ 1, so pairs
  whose bound cannot exceed the best-so-far are skipped.  Pairs are
  visited in the materializing path's (i, j) order with strictly-better
  replacement, so the tie-winner is identical to sorting the full list
  and taking the head."""
  legal = b1.legal_fields | b2.legal_fields
  mass = b1.mass + b2.mass
  gate_aon = all_or_nothing and b1.legal_fields and b2.legal_fields
  n_legal = len(legal)
  m1, m2 = b1.mass, b2.mass
  bkeys_of = [frozenset(b.assign) for b in b2.cands]
  plans: Dict[Tuple[FrozenSet[Field], FrozenSet[Field]], List[tuple]] = {}
  best: Optional[SE] = None
  for a in b1.cands:
    _check_deadline()
    a_sum = a.score * m1
    if best is not None and b2.cands \
        and (a_sum + b2.cands[0].score * m2) / mass <= best.score:
      break  # b1 sorted desc → no later a can beat best either
    a_assign = a.assign
    a_empty = not a_assign
    na = len(a_assign)
    akeys = frozenset(a_assign)
    for j, b in enumerate(b2.cands):
      if best is not None \
          and (a_sum + b.score * m2) / mass <= best.score:
        break  # b2 sorted desc
      if gate_aon:
        if a_empty != (not b.assign):
          continue
        if not a_empty and na + len(b.assign) != n_legal:
          continue
      pkey = (akeys, bkeys_of[j])
      plan = plans.get(pkey)
      if plan is None:
        plan = _merge_plan(rules, akeys, bkeys_of[j])
        plans[pkey] = plan
      m = _merge_pair_planned(a, b, plan, mass, sc)
      if m is None:
        continue
      if all_or_nothing and not m.is_empty \
          and len(m.assign) != n_legal:
        continue
      if best is None or m.score > best.score:
        best = m
  return Bound(legal, mass, [best] if best is not None else [])


def _bind_combine(b1: Bound, b2: Bound, rules: Sequence[Rule],
                  all_or_nothing: bool, sc: _ScoreCache) -> Bound:
  legal = b1.legal_fields | b2.legal_fields
  mass = b1.mass + b2.mass
  if len(b1.cands) * len(b2.cands) > MAX_PAIRS_PER_COMBINE:
    raise SolverBudgetError(
        f'combine product {len(b1.cands)}x{len(b2.cands)} exceeds budget')
  gate_aon = all_or_nothing and b1.legal_fields and b2.legal_fields
  n_legal = len(legal)
  bkeys_of = [frozenset(b.assign) for b in b2.cands]
  plans: Dict[Tuple[FrozenSet[Field], FrozenSet[Field]], List[tuple]] = {}
  out: List[SE] = []
  for a in b1.cands:
    _check_deadline()
    a_assign = a.assign
    a_empty = not a_assign
    na = len(a_assign)
    akeys = frozenset(a_assign)
    for j, b in enumerate(b2.cands):
      if gate_aon:
        # full-or-empty gate before any scoring work
        if a_empty != (not b.assign):
          continue
        if not a_empty and na + len(b.assign) != n_legal:
          continue
      pkey = (akeys, bkeys_of[j])
      plan = plans.get(pkey)
      if plan is None:
        plan = _merge_plan(rules, akeys, bkeys_of[j])
        plans[pkey] = plan
      m = _merge_pair_planned(a, b, plan, mass, sc)
      if m is None:
        continue
      if all_or_nothing and not m.is_empty \
          and len(m.assign) != n_legal:
        continue
      out.append(m)
  out.sort(key=lambda s: -s.score)  # stable; ties keep (i, j) order
  return Bound(legal, mass, out)


# ---------------------------------------------------------------------------
# Pattern binding: per-document join ordering (bp/tree.py:302-423, 761-802).
# ---------------------------------------------------------------------------

def _flatten_rules(rules: Sequence[Rule]) -> List[Atom]:
  """Connectives → their atoms (bp/tree.py:340-341)."""
  return [a for r in rules for a in r.atoms]


def _components(atoms: Sequence[Atom]) -> List[FrozenSet[Field]]:
  """Connected components of the field multigraph
  (bp/graphs.py:81-102)."""
  parent: Dict[Field, Field] = {}

  def find(x: Field) -> Field:
    while parent[x] != x:
      parent[x] = parent[parent[x]]
      x = parent[x]
    return x

  for a in atoms:
    for f in a.fields:
      parent.setdefault(f, f)
    fs = list(a.fields)
    for f in fs[1:]:
      ra, rb = find(fs[0]), find(f)
      if ra != rb:
        parent[rb] = ra

  comps: Dict[Field, set] = {}
  for f in parent:
    comps.setdefault(find(f), set()).add(f)
  return [frozenset(v) for v in comps.values()]


def bind_pattern(node: PatternNode, doc: DocPool, memo: Dict) -> Bound:
  field_types = node.field_types
  fields = node.legal_fields

  # Leaf-candidate counts for ordering (bp/tree.py:324-338): original
  # pattern rules with field-set == {f}, atoms only, plus the empty.
  counts: Dict[Field, int] = {}
  for f in fields:
    f_only = frozenset((f,))
    leaf_rules = [r for r in node.rules if r.fieldset == f_only]
    atoms = [r for r in leaf_rules if isinstance(r, Atom)]
    counts[f] = len(leaf_candidates(doc, field_types[f], atoms, memo)) + 1

  flat = _flatten_rules(node.rules)
  comps = _components(flat)

  # Weighted multigraphs per component (bp/tree.py:348-373).
  graphs = []
  for comp in comps:
    edges: Dict[Tuple[Field, Field], List[float]] = {}
    for a in flat:
      if not comp.issuperset(a.fields):
        continue
      if len(a.fields) == 1:
        edge = (a.fields[0], a.fields[0])
      elif len(a.fields) == 2:
        v1, v2 = a.fields
        edge = (v1, v2) if v1 < v2 else (v2, v1)
      else:
        continue  # no ≥3-ary base predicates get graph edges
      edges.setdefault(edge, []).append(a.predicate.leniency())
    graphs.append((comp, edges))

  def estimated_valid(comp: FrozenSet[Field],
                      edges: Dict[Tuple[Field, Field], List[float]]) \
      -> float:
    leniency = 1.0
    for ws in edges.values():
      for w in ws:
        leniency *= w
    total = 1.0
    for f in comp:
      total *= counts[f]
    return total * leniency

  graphs.sort(key=lambda g: (estimated_valid(*g), tuple(sorted(g[0]))))

  # The ordered tree depends on the pattern and the per-field candidate
  # counts only; documents with identical counts share it (a per-process
  # cache derived on the pattern node — the tree objects are immutable).
  ordered_trees = derived(node, '_ordered_trees', dict)
  counts_key = ('counts', tuple(sorted(counts.items())))
  root = ordered_trees.get(counts_key)
  if root is not None:
    return _pattern_public(node, bind_node(root, doc, memo))

  def plan_tree(comp: FrozenSet[Field],
                edges: Dict[Tuple[Field, Field], List[float]]) \
      -> Tuple[Tuple[Field, Field], ...]:
    """Greedy min-cost pairing (bp/tree.py:761-802), scalar phase only:
    returns the (survivor, absorbed) merge steps.  The (cheap) pairing
    depends on the per-doc candidate counts; the (expensive) Node
    construction + rule pushdown depend only on these steps, so they are
    cached by step signature across documents whose counts differ but
    pair identically."""
    def prod_weight(ws: List[float]) -> float:
      p = 1.0
      for w in ws:
        p *= w
      return p

    vertex_w: Dict[Field, float] = {
        f: counts[f] * (prod_weight(edges[(f, f)]) if (f, f) in edges
                        else 1.0)
        for f in comp}
    cur_edges = dict(edges)
    vertices = set(comp)
    steps: List[Tuple[Field, Field]] = []

    def edge_key(e: Tuple[Field, Field]) -> float:
      return vertex_w[e[0]] * vertex_w[e[1]] * prod_weight(cur_edges[e])

    while len(vertices) > 1:
      nonself = [e for e in sorted(cur_edges) if e[0] != e[1]]
      if not nonself:
        raise SolverBudgetError(
            f'component {sorted(vertices)} has no pairable edges')
      best = min(nonself, key=edge_key)
      w = edge_key(best)
      steps.append(best)
      vertex_w[best[0]] = w
      # collapse best[1] into best[0] (bp/graphs.py:144-162)
      u, old = best[0], best[1]
      new_edges: Dict[Tuple[Field, Field], List[float]] = {}
      for (a, b), ws in cur_edges.items():
        a2 = u if a == old else a
        b2 = u if b == old else b
        e2 = (a2, b2) if (a2 <= b2) else (b2, a2)
        if e2 in new_edges:
          new_edges[e2] = ws + new_edges[e2]
        else:
          new_edges[e2] = ws
      cur_edges = new_edges
      vertices.discard(old)

    return tuple(steps)

  if not graphs:
    # A pattern with no rules yields only the empty extraction.
    return Bound(node.public_fields, max(1, len(node.public_fields)),
                 [SE({}, {}, {}, 1, 0.0)])

  plans = [(comp, plan_tree(comp, edges)) for comp, edges in graphs]

  # Second-level cache: counts differ across documents far more often
  # than the pairing they induce does, so the realized + rule-pushed
  # tree is keyed by the merge-step signature.
  steps_key = ('steps', tuple((tuple(sorted(comp)), steps)
                              for comp, steps in plans))
  root = ordered_trees.get(steps_key)
  if root is None:
    def realize(comp: FrozenSet[Field],
                steps: Tuple[Tuple[Field, Field], ...]) -> Node:
      nodes: Dict[Field, Node] = {
          f: LeafNode(field=f, entity_type=field_types[f]) for f in comp}
      for (u, old) in steps:
        nodes[u] = combine(nodes[u], nodes[old], all_or_nothing=True)
      remaining = set(comp) - {old for _, old in steps}
      return nodes[next(iter(remaining))]

    trees = [realize(comp, steps) for comp, steps in plans]
    root = reduce(lambda a, b: combine(a, b, all_or_nothing=True), trees)
    root = optimize_rule_distribution(root, tuple(flat))
    if len(ordered_trees) > 4096:
      ordered_trees.clear()
    ordered_trees[steps_key] = root
  # The steps_key-hit path inserts here too, so the cap must also guard
  # this insert — many distinct count profiles can map to few pairings.
  if len(ordered_trees) > 4096:
    ordered_trees.clear()
  ordered_trees[counts_key] = root
  return _pattern_public(node, bind_node(root, doc, memo))


def _pattern_public(node: PatternNode, child: Bound) -> Bound:
  """Filter the pattern child's extractions to public fields
  (bp/bound_tree.py:150-175)."""
  public = node.public_fields
  mass = len(public)
  out: List[SE] = []
  for se in child.cands:
    out.append(SE(
        {f: e for f, e in se.assign.items() if f in public},
        {f: s for f, s in se.field_scores.items() if f in public},
        se.rule_scores, mass, se.score))
  return Bound(public, mass, out)


# ---------------------------------------------------------------------------
# Entry point.
# ---------------------------------------------------------------------------

def best_extraction(root: Node, doc: DocPool,
                    pre_optimized: bool = False) \
    -> Tuple[Dict[Field, int], Dict[Field, float], float]:
  """Best extraction of the optimized tree on one document — matches the
  reference pumped to exhaustion (first strictly-better kept,
  bp/bound_tree.py:61-65).

  Returns (assignment field→entity id, field scores, score)."""
  if pre_optimized:
    optimized = root
  else:
    optimized = optimize_rule_distribution(root)
    optimized.validate()
  memo: Dict = {}
  bound = bind_node(optimized, doc, memo, need_all=False)
  if not bound.cands:
    return {}, {}, 0.0
  best = bound.cands[0]  # lists are sorted desc, stable
  return dict(best.assign), dict(best.field_scores), best.score


def top_extractions(root: Node, doc: DocPool, k: int = 20) \
    -> List[Tuple[Dict[Field, int], float]]:
  """Top-k extractions of the optimized tree (the reference results sink
  records top-20 per node, bp/results.py:57-68).  Runs the full
  materializing path (no need-1 pruning)."""
  optimized = optimize_rule_distribution(root)
  optimized.validate()
  memo: Dict = {}
  bound = bind_node(optimized, doc, memo, need_all=True)
  return [(dict(se.assign), se.score) for se in bound.cands[:k]]
