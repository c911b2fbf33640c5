"""Rule model: predicates, atoms, connectives, and the rule DSL.

This is a from-scratch, data-oriented re-expression of the blueprint rule
surface (reference: blueprint-oss `blueprint/py/bp/rule.py`,
`blueprint/py/bp/rules/*.py`).  Predicates here are *pure specs* — frozen,
hashable, JSON-serializable dataclasses.  All scoring lives in
`blueprint_oss_spark.engine.kernels`, which dispatches on `Predicate.kind`
and evaluates vectorized over candidate arrays.

Public DSL parity (the user-facing constructors keep the reference's names
and signatures so a blueprint author can switch engines):

  text_equals, text_is_one_of, text_has_substring,
  text_does_not_contain_substring, text_matches_pattern,
  text_properties_are, line_count_is, word_count_is, have_unequal_text,
  are_aligned, are_arranged, bottom_aligned, left_aligned, right_aligned,
  top_down, left_to_right, *_pair presets, is_in_doc_region,
  is_in_page_region, page_number_is, are_on_same_page, one_line_above,
  one_to_two_lines_above, all_hold, any_holds, negate, penalize, non_fatal,
  nop, are_disjoint, is_date, is_dollar_amount, is_entire_phrase,
  is_address, is_person_name, sum_is_* / is_* numeric sugar,
  nothing_between_* / no_words_between_* impingement rules,
  tabular/label composites (see tabular.py / label.py siblings).
"""

from __future__ import annotations

import dataclasses
import itertools
from dataclasses import dataclass, field as dc_field
from functools import cached_property
from typing import (
    Any, Callable, Dict, FrozenSet, Iterable, Optional, Tuple, TypeVar, Union,
)

Field = str

# Leniency constants (reference: bp/rule.py:27-34).
LENIENCE_LOW = 0.1
LENIENCE_MEDIUM = 0.3
LENIENCE_HIGH = 0.5
LENIENCE_NOT_APPLICABLE = 1.0

# Predicate kinds that subclass Degree1Predicate in the reference and hence
# report leniency NOT_APPLICABLE (bp/rule.py:176-190).
_DEGREE1_KINDS = frozenset({
    'is_in_region', 'page_number_is', 'line_count_is', 'word_count_is',
    'text_equals', 'text_has_substring', 'text_matches_pattern',
    'text_properties_are', 'is_date', 'is_dollar_amount', 'is_entire_phrase',
    'is_address', 'is_person_name',
})

# kind → leniency for non-degree-1 kinds (reference: rules/spatial.py:127-128,
# 254-255; rules/impingement.py:80-81; everything else Predicate default
# MEDIUM, bp/rule.py:140-147).
_LENIENCY_BY_KIND = {
    'are_aligned': LENIENCE_LOW,
    'are_arranged': LENIENCE_HIGH,
    'box_unimpinged': LENIENCE_LOW,
}


_rule_counter = itertools.count(1)


def _next_rule_id() -> int:
  return next(_rule_counter)


class Spec:
  """Base of the frozen spec dataclasses: predicates, rules and nodes.

  A spec caches values derived from its fields in its instance dict:
  the model's as `functools.cached_property`, the engine's through
  `derived`.  Every such value is per-process and never pickled: cached
  hashes depend on PYTHONHASHSEED, and so does frozenset iteration
  order (which feeds e.g. `Connective.fields`), so an unpickled value
  would disagree with the same value built in the receiving process —
  breaking the hash/eq contract for value-keyed containers.  Pickles
  therefore carry the dataclass fields only, and unpickled specs
  rebuild their derived values lazily.
  """

  def __getstate__(self) -> Dict[str, Any]:
    return {f.name: self.__dict__[f.name]
            for f in dataclasses.fields(self)}

  def __setstate__(self, state: Dict[str, Any]) -> None:
    if 'rid' in state:
      # Rule ids must be unique within a PROCESS, not within a pickle:
      # rules created after unpickling (e.g. AreDisjoint atoms injected
      # during per-document binding) draw from this process's counter,
      # which restarts at 1 in a fresh executor — colliding rids
      # cross-wire the rid-keyed rule-score caches and mis-score
      # extractions.  Intra-pickle sharing is preserved because pickle
      # memoizes shared objects.
      state = {**state, 'rid': _next_rule_id()}
    self.__dict__.update(state)


T = TypeVar('T')


def derived(spec: Spec, key: str, build: Callable[[], T]) -> T:
  """The engine-side derived value `key` of `spec`: built by `build()`
  on first use in this process, then kept on the spec (and, like every
  derived value, left out of its pickles)."""
  got = spec.__dict__.get(key)
  if got is None:
    got = spec.__dict__[key] = build()
  return got


def _freeze(v: Any) -> Any:
  """Make a parameter value hashable (dicts → sorted item tuples)."""
  if isinstance(v, dict):
    return tuple(sorted((k, _freeze(x)) for k, x in v.items()))
  if isinstance(v, (list, tuple)):
    return tuple(_freeze(x) for x in v)
  if isinstance(v, set) or isinstance(v, frozenset):
    return tuple(sorted(_freeze(x) for x in v))
  return v


@dataclass(frozen=True)
class Predicate(Spec):
  """A scoring function spec over `degree` entities → [0, 1].

  kind: dispatch key for the scoring kernel.
  degree: positive int, or 'ANY'.
  params: kind-specific parameters, hashable.
  """
  kind: str
  degree: Union[int, str]
  params: Tuple[Tuple[str, Any], ...] = tuple()
  name: str = ''

  @cached_property
  def _pd(self) -> Dict[str, Any]:
    # p() runs in the solver's hottest loops (hundreds of thousands of
    # calls per document batch)
    return dict(self.params)

  def p(self, key: str, default: Any = None) -> Any:
    return self._pd.get(key, default)

  def leniency(self) -> float:
    """Reference parity: bp/rule.py:140-147,176-190 and per-kind overrides."""
    if self.kind == 'custom':
      return self.p('leniency', LENIENCE_MEDIUM)
    if self.kind in _LENIENCY_BY_KIND:
      return _LENIENCY_BY_KIND[self.kind]
    if self.kind in _DEGREE1_KINDS:
      return LENIENCE_NOT_APPLICABLE
    return LENIENCE_MEDIUM

  def __call__(self, *fields: Field) -> 'Atom':
    if self.degree != 'ANY' and len(fields) != self.degree:
      raise ValueError(
          f'cannot bind {len(fields)} fields to degree-{self.degree} '
          f'predicate {self.kind}')
    return Atom(fields=tuple(fields), predicate=self)

  @cached_property
  def _hash(self) -> int:
    # params tuples can be large (e.g. text_equals vocabularies), and
    # predicates are hashed in hot loops
    return hash((self.kind, self.degree, self.params))

  def __hash__(self) -> int:
    return self._hash

  def __str__(self) -> str:
    return self.name or self.kind


def _pred(kind: str, degree: Union[int, str], name: str = '',
          **params: Any) -> Predicate:
  return Predicate(
      kind=kind, degree=degree,
      params=tuple(sorted((k, _freeze(v)) for k, v in params.items())),
      name=name or kind)


# ---------------------------------------------------------------------------
# Rules: Atom / Conjunction / Disjunction.
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Atom(Spec):
  """A predicate applied to fields (reference: bp/rule.py:202-267)."""
  fields: Tuple[Field, ...]
  predicate: Predicate
  rid: int = dc_field(default_factory=_next_rule_id)

  @cached_property
  def _ah(self) -> int:
    # atoms key the solver's score caches and are hashed millions of
    # times per document batch
    return hash((self.fields, self.predicate))

  def __hash__(self) -> int:
    return self._ah

  def __eq__(self, other: Any) -> bool:
    if not isinstance(other, Atom):
      return False
    return (self.fields, self.predicate) == (other.fields, other.predicate)

  @cached_property
  def fieldset(self) -> FrozenSet[Field]:
    """frozenset(self.fields) — decidability checks build this in
    per-document hot loops."""
    return frozenset(self.fields)

  @property
  def atoms(self) -> Tuple['Atom', ...]:
    return (self,)

  def __str__(self) -> str:
    return '[{}] {}'.format(', '.join(self.fields), self.predicate)


@dataclass(frozen=True)
class Connective(Spec):
  rules: Tuple['Rule', ...]
  name: Optional[str] = None
  rid: int = dc_field(default_factory=_next_rule_id)

  @cached_property
  def fieldset(self) -> FrozenSet[Field]:
    """Union of sub-rule fields (hot in decidability checks)."""
    return frozenset(
        itertools.chain.from_iterable(r.fields for r in self.rules))

  @property
  def fields(self) -> Tuple[Field, ...]:
    return tuple(self.fieldset)

  @cached_property
  def atoms(self) -> Tuple[Atom, ...]:
    return tuple(itertools.chain.from_iterable(r.atoms for r in self.rules))


@dataclass(frozen=True)
class Conjunction(Connective):
  """Score = product of sub-rule scores (bp/rule.py:306-312)."""
  kind: str = 'conjunction'


@dataclass(frozen=True)
class Disjunction(Connective):
  """Score = max of sub-rule scores (bp/rule.py:315-321)."""
  kind: str = 'disjunction'


Rule = Union[Atom, Conjunction, Disjunction]


def all_rules_hold(*rules: Rule) -> Rule:
  return Conjunction(tuple(rules))


def any_rule_holds(*rules: Rule) -> Rule:
  return Disjunction(tuple(rules))


def _pairs(xs: Tuple) -> Iterable[Tuple]:
  return itertools.combinations(xs, 2)


def _build_connective(fields: Tuple[Field, ...], predicate: Predicate,
                      conjunction: bool) -> Rule:
  """Pairwise expansion of an n-ary rule constructor
  (reference: bp/rule.py:335-349)."""
  if len(fields) < 2:
    raise ValueError(
        f'rule constructor for {predicate.kind} needs at least 2 fields')
  if len(fields) == 2:
    return Atom(tuple(fields), predicate)
  atoms = tuple(Atom(tuple(pair), predicate) for pair in _pairs(tuple(fields)))
  cls = Conjunction if conjunction else Disjunction
  return cls(rules=atoms, name=predicate.name)


# ---------------------------------------------------------------------------
# Spatial predicates (reference: bp/rules/spatial.py).
# ---------------------------------------------------------------------------

class Direction:
  TOP_DOWN = 'TOP_DOWN'
  LEFT_TO_RIGHT = 'LEFT_TO_RIGHT'
  BOTTOM_UP = 'BOTTOM_UP'
  RIGHT_TO_LEFT = 'RIGHT_TO_LEFT'


class AlignmentLine:
  LEFT_SIDES = 'LEFT_SIDES'
  BOTTOMS = 'BOTTOMS'
  HORIZONTAL_MIDLINES = 'HORIZONTAL_MIDLINES'
  RIGHT_SIDES = 'RIGHT_SIDES'
  TOPS = 'TOPS'
  VERTICAL_MIDLINES = 'VERTICAL_MIDLINES'


class Orientation:
  HORIZONTAL = 'HORIZONTAL'
  VERTICAL = 'VERTICAL'


def are_aligned(anchors: str, tolerance: float,
                taper: Optional[float] = None, name: str = 'are_aligned') \
    -> Predicate:
  """reference: bp/rules/spatial.py:80-203."""
  if tolerance is None or tolerance < 0:
    raise ValueError(f'tolerance must be nonnegative; got {tolerance}')
  if taper is None:
    taper = tolerance
  if taper < 0:
    raise ValueError(f'taper must be nonnegative; got {taper}')
  return _pred('are_aligned', 2, name=name,
               anchors=anchors, tolerance=tolerance, taper=taper)


def are_arranged(direction: str, taper: float = 1, min_distance: float = 0,
                 max_distance: Optional[float] = None,
                 name: str = 'are_arranged') -> Predicate:
  """reference: bp/rules/spatial.py:206-423."""
  return _pred('are_arranged', 2, name=name, direction=direction,
               taper=taper, min_distance=min_distance,
               max_distance=max_distance)


def bottom_aligned_pair(tolerance: float = 0.5, taper: float = 0.5) \
    -> Predicate:
  return are_aligned(AlignmentLine.BOTTOMS, tolerance, taper,
                     name='bottom_aligned')


def left_aligned_pair(tolerance: float = 1, taper: float = 1) -> Predicate:
  return are_aligned(AlignmentLine.LEFT_SIDES, tolerance, taper,
                     name='left_aligned')


def right_aligned_pair(tolerance: float = 1, taper: float = 1) -> Predicate:
  return are_aligned(AlignmentLine.RIGHT_SIDES, tolerance, taper,
                     name='right_aligned')


def left_to_right_pair(taper: float = 0.5, min_distance: float = 0,
                       max_distance: Optional[float] = None) -> Predicate:
  return are_arranged(Direction.LEFT_TO_RIGHT, taper, min_distance,
                      max_distance, name='left_to_right')


def top_down_pair(taper: float = 0.5, min_distance: float = 0,
                  max_distance: Optional[float] = None) -> Predicate:
  return are_arranged(Direction.TOP_DOWN, taper, min_distance, max_distance,
                      name='top_down')


def left_aligned(*fields: Field) -> Rule:
  return _build_connective(tuple(fields), left_aligned_pair(), True)


def bottom_aligned(*fields: Field) -> Rule:
  return _build_connective(tuple(fields), bottom_aligned_pair(), True)


def right_aligned(*fields: Field) -> Rule:
  return _build_connective(tuple(fields), right_aligned_pair(), True)


def top_down(*fields: Field) -> Rule:
  return _build_connective(tuple(fields), top_down_pair(), True)


def left_to_right(*fields: Field) -> Rule:
  return _build_connective(tuple(fields), left_to_right_pair(), True)


def is_in_region(x_range: Optional[Tuple[float, float]],
                 y_range: Optional[Tuple[float, float]],
                 limit_to_page: bool) -> Predicate:
  """reference: bp/rules/spatial.py:426-510."""
  return _pred('is_in_region', 1, name='is_in_region',
               x_range=x_range, y_range=y_range, limit_to_page=limit_to_page)


def is_in_doc_region(x_range: Optional[Tuple[float, float]],
                     y_range: Optional[Tuple[float, float]]) -> Predicate:
  return is_in_region(x_range, y_range, limit_to_page=False)


def is_in_page_region(x_range: Optional[Tuple[float, float]] = None,
                      y_range: Optional[Tuple[float, float]] = None) \
    -> Predicate:
  return is_in_region(x_range, y_range, limit_to_page=True)


def page_number_is(score_dict: Dict[int, float]) -> Predicate:
  """reference: bp/rules/spatial.py:513-571."""
  return _pred('page_number_is', 1, name='page_number_is',
               score_dict=score_dict)


def are_on_same_page(tolerance: int = 0, taper: int = 1) -> Predicate:
  """reference: bp/rules/spatial.py:574-626."""
  return _pred('are_on_same_page', 2, name='are_on_same_page',
               tolerance=tolerance, taper=taper)


# Presets (reference: bp/rules/spatial.py:783-791).
one_line_above = are_arranged(Direction.TOP_DOWN, max_distance=0.5, taper=0.5)
one_to_two_lines_above = are_arranged(
    Direction.TOP_DOWN, max_distance=1.5, taper=0.5)


# ---------------------------------------------------------------------------
# Textual predicates (reference: bp/rules/textual.py).
# ---------------------------------------------------------------------------

class TextComparisonFlags:
  NONE = 0
  CASE_SENSITIVE = 1
  NO_WHITESPACE = 2
  ALPHABETICAL = 4
  NUMERICAL = 8
  ALPHANUMERICAL = 4 | 8


def text_is_one_of(texts: Tuple[str, ...],
                   text_comparison_flags: int = TextComparisonFlags.NONE,
                   tolerance: int = 1, taper: int = 1) -> Predicate:
  """reference: bp/rules/textual.py:192-289."""
  return _pred('text_equals', 1, name='text_equals',
               texts=tuple(texts), flags=int(text_comparison_flags),
               tolerance=tolerance, taper=taper)


def text_equals(text: str,
                text_comparison_flags: int = TextComparisonFlags.NONE,
                tolerance: int = 1, taper: int = 1) -> Predicate:
  return text_is_one_of((text,), text_comparison_flags, tolerance, taper)


def text_has_substring(text: str,
                       text_comparison_flags: int = TextComparisonFlags.NONE,
                       tolerance: int = 1, taper: int = 1) -> Predicate:
  """reference: bp/rules/textual.py:292-351."""
  return _pred('text_has_substring', 1, name='text_has_substring',
               text=text, flags=int(text_comparison_flags),
               tolerance=tolerance, taper=taper)


def text_does_not_contain_substring(
    text: str, text_comparison_flags: int = TextComparisonFlags.NONE,
    intolerance: int = 0, taper: int = 0) -> Predicate:
  """reference: bp/rules/textual.py:354-373."""
  return negate(
      text_has_substring(text, text_comparison_flags, intolerance, taper))


def text_matches_pattern(pattern: str, stands_for: Dict[str, str],
                         tolerance: int = 1,
                         taper: Optional[int] = None) -> Predicate:
  """reference: bp/rules/textual.py:376-454."""
  return _pred('text_matches_pattern', 1, name='text_matches_pattern',
               pattern=pattern, stands_for=stands_for, tolerance=tolerance,
               taper=taper)


def text_properties_are(length: Optional[Dict] = None,
                        legal_chars: Optional[str] = None,
                        min_char_proportions: Optional[list] = None,
                        max_char_proportions: Optional[list] = None,
                        min_char_counts: Optional[list] = None,
                        max_char_counts: Optional[list] = None,
                        tolerance: int = 1,
                        taper: Optional[int] = None) -> Predicate:
  """reference: bp/rules/textual.py:457-565."""
  return _pred('text_properties_are', 1, name='text_properties_are',
               length=length, legal_chars=legal_chars,
               min_char_proportions=min_char_proportions,
               max_char_proportions=max_char_proportions,
               min_char_counts=min_char_counts,
               max_char_counts=max_char_counts,
               tolerance=tolerance, taper=taper)


def line_count_is(score_dict: Dict[int, float]) -> Predicate:
  """reference: bp/rules/textual.py:85-137."""
  return _pred('line_count_is', 1, name='line_count_is',
               score_dict=score_dict)


def word_count_is(score_dict: Dict[int, float]) -> Predicate:
  """reference: bp/rules/textual.py:148-189."""
  return _pred('word_count_is', 1, name='word_count_is',
               score_dict=score_dict)


have_unequal_text = _pred('have_unequal_text', 2, name='have_unequal_text')

is_one_line = line_count_is({0: 0, 1: 1, 2: 0})
is_two_lines = line_count_is({1: 0, 2: 1, 3: 0})
is_three_lines = line_count_is({2: 0, 3: 1, 4: 0})
is_four_lines = line_count_is({3: 0, 4: 1, 5: 0})
is_one_word = word_count_is({0: 0, 1: 1, 2: 0})
is_two_words = word_count_is({1: 0, 2: 1, 3: 0})


# ---------------------------------------------------------------------------
# Logical combinators (reference: bp/rules/logical.py).
# ---------------------------------------------------------------------------

def _combined_degree(predicates: Tuple[Predicate, ...]) -> Union[int, str]:
  degrees = {p.degree for p in predicates if p.degree != 'ANY'}
  if len(degrees) > 1:
    raise ValueError(
        f'all input predicates must have same degree; got {degrees}')
  return next(iter(degrees)) if degrees else 'ANY'


def all_hold(*predicates: Predicate) -> Predicate:
  """Product of sub-scores (reference: bp/rules/logical.py:40-95)."""
  return _pred('all_hold', _combined_degree(predicates),
               name='all_hold({})'.format(
                   ', '.join(sorted(str(p) for p in predicates))),
               predicates=tuple(predicates))


def any_holds(*predicates: Predicate) -> Predicate:
  """Max of sub-scores (reference: bp/rules/logical.py:98-154)."""
  return _pred('any_holds', _combined_degree(predicates),
               name='any_holds({})'.format(
                   ', '.join(sorted(str(p) for p in predicates))),
               predicates=tuple(predicates))


are_disjoint = _pred('are_disjoint', 2, name='are_disjoint')
nop = _pred('nop', 'ANY', name='nop')


def penalize(wrapped: Predicate, max_score: float = 0.7) -> Predicate:
  """min(score, max_score) (reference: bp/rules/logical.py:218-253)."""
  return _pred('penalize', wrapped.degree, name='penalize',
               predicate=wrapped, max_score=max_score)


def non_fatal(wrapped: Predicate, min_score: float = 0.5) -> Predicate:
  """max(score, min_score) (reference: bp/rules/logical.py:256-286)."""
  return _pred('non_fatal', wrapped.degree, name='non_fatal',
               predicate=wrapped, min_score=min_score)


def negate(wrapped: Predicate) -> Predicate:
  """1 - score (reference: bp/rules/logical.py:289-315)."""
  return _pred('negate', wrapped.degree, name='negate', predicate=wrapped)


# ---------------------------------------------------------------------------
# Semantic predicates (reference: bp/rules/semantic.py).
# ---------------------------------------------------------------------------

is_address = _pred('is_address', 1, name='is_address')
is_date = _pred('is_date', 1, name='is_date')
is_dollar_amount = _pred('is_dollar_amount', 1, name='is_dollar_amount')
is_entire_phrase = _pred('is_entire_phrase', 1, name='is_entire_phrase')
is_person_name = _pred('is_person_name', 1, name='is_person_name')


# ---------------------------------------------------------------------------
# Numeric predicates (reference: bp/rules/numeric.py).
# ---------------------------------------------------------------------------

def sum_is_approximately(amount: float, coefficients: Iterable[float],
                         tolerance: float = 0.5, taper: float = 0.5,
                         period_as_delimiter: bool = False,
                         force_dollar_decimal: bool = False) -> Predicate:
  """reference: bp/rules/numeric.py:64-168."""
  if tolerance < 0:
    raise ValueError(f'tolerance must be nonnegative, not {tolerance}')
  if taper < 0:
    raise ValueError(f'taper must be nonnegative, not {taper}')
  coefficients = tuple(coefficients)
  return _pred('sum_is_approximately', len(coefficients),
               name='sum_is_approximately', amount=amount,
               coefficients=coefficients, tolerance=tolerance, taper=taper,
               period_as_delimiter=period_as_delimiter,
               force_dollar_decimal=force_dollar_decimal)


def sum_is_near_zero(coefficients: Iterable[float], tolerance: float = 0.5,
                     taper: float = 0.5, period_as_delimiter: bool = False,
                     force_dollar_decimal: bool = False) -> Predicate:
  return sum_is_approximately(0, coefficients, tolerance, taper,
                              period_as_delimiter, force_dollar_decimal)


def sum_is_zero(coefficients: Iterable[float],
                period_as_delimiter: bool = False,
                force_dollar_decimal: bool = False) -> Predicate:
  return sum_is_near_zero(coefficients, tolerance=0, taper=0,
                          period_as_delimiter=period_as_delimiter,
                          force_dollar_decimal=force_dollar_decimal)


def sum_is_at_least(lower_bound: float, coefficients: Iterable[float],
                    strict: bool = True, period_as_delimiter: bool = False,
                    force_dollar_decimal: bool = False) -> Predicate:
  """reference: bp/rules/numeric.py:248-337."""
  coefficients = tuple(coefficients)
  return _pred('sum_is_at_least', len(coefficients), name='sum_is_at_least',
               lower_bound=lower_bound, coefficients=coefficients,
               strict=strict, period_as_delimiter=period_as_delimiter,
               force_dollar_decimal=force_dollar_decimal)


def sum_is_positive(coefficients: Iterable[float], strict: bool = True,
                    period_as_delimiter: bool = False,
                    force_dollar_decimal: bool = False) -> Predicate:
  return sum_is_at_least(0, coefficients, strict, period_as_delimiter,
                         force_dollar_decimal)


def is_nearly_equal_to(amount: float, tolerance: float = 0.5,
                       taper: float = 0.5, period_as_delimiter: bool = False,
                       force_dollar_decimal: bool = False) -> Predicate:
  return sum_is_approximately(amount, [1], tolerance, taper,
                              period_as_delimiter, force_dollar_decimal)


def is_equal_to(amount: float) -> Predicate:
  return is_nearly_equal_to(amount, tolerance=0, taper=0)


def is_greater_than(amount: float, strict: bool = True,
                    period_as_delimiter: bool = False,
                    force_dollar_decimal: bool = False) -> Predicate:
  return sum_is_at_least(amount, [1], strict, period_as_delimiter,
                         force_dollar_decimal)


def is_less_than(amount: float, strict: bool = True,
                 period_as_delimiter: bool = False,
                 force_dollar_decimal: bool = False) -> Predicate:
  return sum_is_at_least(-amount, [-1], strict, period_as_delimiter,
                         force_dollar_decimal)


are_equal = sum_is_zero([1, -1])
greater_than = sum_is_positive([1, -1])
greater_than_or_equal_to = sum_is_positive([1, -1], strict=False)
less_than = sum_is_positive([-1, 1])
less_than_or_equal_to = sum_is_positive([-1, 1], strict=False)
is_zero = is_equal_to(0)
is_positive = is_greater_than(0)
is_negative = is_less_than(0)
is_nonnegative = is_greater_than(0, strict=False)


# ---------------------------------------------------------------------------
# Impingement predicates (reference: bp/rules/impingement.py).
# ---------------------------------------------------------------------------

LETTERS = 'ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz'


def _unimpinged(region: str, direction: str, degree: int,
                spanning: bool = False,
                illegal_characters: Optional[str] = None,
                maximum_impingement: float = 1.0,
                name: str = 'box_unimpinged') -> Predicate:
  """BoxUnimpinged family (reference: bp/rules/impingement.py:30-129).

  region selects the doc-region getter:
    'between_h' / 'between_v'  — gap box between two entities
    'left_edge' / 'right_edge' / 'top_edge' / 'bottom_edge' — entity↔page edge
    'tabular_header' / 'immediate_header' / 'tabular_entry' — tabular spans
  """
  return _pred('box_unimpinged', degree, name=name, region=region,
               direction=direction, spanning=spanning,
               illegal_characters=illegal_characters,
               maximum_impingement=maximum_impingement)


def nothing_between_horizontally_custom(
    spanning: bool = False, illegal_characters: Optional[str] = None,
    maximum_impingement: float = 1.0) -> Predicate:
  return _unimpinged('between_h', Orientation.HORIZONTAL, 2, spanning,
                     illegal_characters, maximum_impingement,
                     name='nothing_between_horizontally')


def nothing_between_vertically_custom(
    spanning: bool = False, illegal_characters: Optional[str] = None,
    maximum_impingement: float = 1.0) -> Predicate:
  return _unimpinged('between_v', Orientation.VERTICAL, 2, spanning,
                     illegal_characters, maximum_impingement,
                     name='nothing_between_vertically')


def no_words_between_horizontally_custom(
    spanning: bool = False, illegal_characters: str = LETTERS,
    maximum_impingement: float = 0.5) -> Predicate:
  return _unimpinged('between_h', Orientation.HORIZONTAL, 2, spanning,
                     illegal_characters, maximum_impingement,
                     name='no_words_between_horizontally')


def no_words_between_vertically_custom(
    spanning: bool = False, illegal_characters: str = LETTERS,
    maximum_impingement: float = 0.5) -> Predicate:
  return _unimpinged('between_v', Orientation.VERTICAL, 2, spanning,
                     illegal_characters, maximum_impingement,
                     name='no_words_between_vertically')


nothing_between_horizontally = nothing_between_horizontally_custom()
nothing_between_vertically = nothing_between_vertically_custom()
no_words_between_horizontally = no_words_between_horizontally_custom()
no_words_between_vertically = no_words_between_vertically_custom()

nothing_between_left_edge = _unimpinged(
    'left_edge', Orientation.HORIZONTAL, 1, maximum_impingement=0.5,
    name='nothing_between_left_edge')
nothing_between_right_edge = _unimpinged(
    'right_edge', Orientation.HORIZONTAL, 1, maximum_impingement=0.5,
    name='nothing_between_right_edge')
nothing_between_top_edge = _unimpinged(
    'top_edge', Orientation.VERTICAL, 1, maximum_impingement=0.5,
    name='nothing_between_top_edge')
nothing_between_bottom_edge = _unimpinged(
    'bottom_edge', Orientation.VERTICAL, 1, maximum_impingement=0.5,
    name='nothing_between_bottom_edge')


# Tabular box-unimpinged specializations (reference: bp/rules/tabular.py).
tabular_header_box_unimpinged = _unimpinged(
    'tabular_header', Orientation.HORIZONTAL, 2,
    name='tabular_header_box_unimpinged')
immediate_header_box_unimpinged = _unimpinged(
    'immediate_header', Orientation.HORIZONTAL, 2,
    name='immediate_header_box_unimpinged')
tabular_entry_box_unimpinged = _unimpinged(
    'tabular_entry', Orientation.HORIZONTAL, 2,
    name='tabular_entry_box_unimpinged')


# ---------------------------------------------------------------------------
# Custom predicates — the user-defined-rule surface (reference:
# bp/rule.py:99-173, users subclass Predicate and override score();
# real examples: examples/checks/checks.py:27-90).
# ---------------------------------------------------------------------------

def custom_predicate(score_fn, degree: Union[int, str],
                     name: str = 'custom',
                     leniency: float = LENIENCE_MEDIUM) -> Predicate:
  """Wrap a scoring callable as a predicate.

  score_fn(doc, eids) -> float in [0, 1], where doc is the engine's
  DocPool (bbox arrays ex0/ex1/ey0/ey1, etext, median_line_height,
  pages_of_entity, wordset) and eids the assigned entity ids in field
  order.  The callable must be importable/picklable (module level) so it
  broadcasts to executors.
  """
  return _pred('custom', degree, name=name, fn=score_fn,
               leniency=leniency)


def custom_unimpinged(region_fn, direction: str, degree: int = 1,
                      illegal_characters: Optional[str] = None,
                      maximum_impingement: float = 1.0,
                      name: str = 'custom_unimpinged') -> Predicate:
  """Custom BoxUnimpinged: region_fn(doc, eids) -> (x0, x1, y0, y1) or
  None; the standard impingement sweep applies (reference:
  bp/rules/impingement.py:30-129 subclassing, e.g. EmptyLineAbove in
  examples/checks/checks.py:27-46)."""
  return _pred('box_unimpinged', degree, name=name, region='custom',
               region_fn=region_fn, direction=direction,
               illegal_characters=illegal_characters,
               maximum_impingement=maximum_impingement)


# ---------------------------------------------------------------------------
# Tabular composites (reference: bp/rules/tabular.py:62-326).
# ---------------------------------------------------------------------------

is_tabular_header = all_hold(top_down_pair(), tabular_header_box_unimpinged)
is_immediate_header = all_hold(one_to_two_lines_above,
                               immediate_header_box_unimpinged)
heads_tabular_entry = all_hold(top_down_pair(), tabular_entry_box_unimpinged)


def row(*fields: Field, ordered: bool = True) -> Rule:
  """reference: bp/rules/tabular.py:170-185."""
  if len(fields) < 2:
    raise ValueError('row must take at least 2 fields')
  alignment = bottom_aligned(*fields)
  if ordered:
    return Conjunction(rules=(alignment, left_to_right(*fields)))
  return alignment


def left_aligned_column(*fields: Field, ordered: bool = True) -> Rule:
  if len(fields) < 2:
    raise ValueError('left_aligned_column must take at least 2 fields')
  alignment = left_aligned(*fields)
  if ordered:
    return Conjunction(rules=(alignment, top_down(*fields)))
  return alignment


def right_aligned_column(*fields: Field, ordered: bool = True) -> Rule:
  if len(fields) < 2:
    raise ValueError('right_aligned_column must take at least 2 fields')
  alignment = right_aligned(*fields)
  if ordered:
    return Conjunction(rules=(alignment, top_down(*fields)))
  return alignment


def column(*fields: Field, ordered: bool = True) -> Rule:
  """Fields stacked in a column, left- or right-aligned, top-down when
  `ordered`.

  Inside a pattern (an `extract`), the solver pushes a Disjunction as
  the conjunction of its atoms (engine/solver.py `_flatten_rules`), so
  there this rule asks for left AND right alignment: only cells of
  equal width satisfy it.  Use `left_aligned_column` or
  `right_aligned_column` for ragged columns."""
  if len(fields) < 2:
    raise ValueError('column must take at least 2 fields')
  alignment = Disjunction(
      rules=(left_aligned(*fields), right_aligned(*fields)))
  if ordered:
    return Conjunction(rules=(alignment, top_down(*fields)))
  return alignment


def table(rows_: Iterable[Iterable[Optional[Field]]]) -> Rule:
  """A `row` per grid row and a `column` per grid column (None cells
  skipped).  Inside a pattern each column's left-or-right Disjunction
  is pushed as the conjunction of its atoms (see `column`), so every
  column must be left AND right aligned.

  reference: bp/rules/tabular.py:245-288."""
  grid = tuple(tuple(r) for r in rows_)
  lens = {len(r) for r in grid}
  if len(lens) > 1:
    raise ValueError('table rows must all have the same length')

  def build_row(r: Tuple[Optional[Field], ...]) -> Rule:
    return row(*(f for f in r if f is not None))

  def build_column(c: Tuple[Optional[Field], ...]) -> Rule:
    return column(*(f for f in c if f is not None))

  return Conjunction(tuple(itertools.chain(
      (build_row(r) for r in grid),
      (build_column(c) for c in zip(*grid)))))


def tabular_row(*fields: Field) -> Rule:
  """reference: bp/rules/tabular.py:291-302."""
  return Conjunction(tuple(itertools.chain(
      (no_words_between_horizontally(fields[0], f) for f in fields[1:]),
      (row(*fields),))))


def tabular_column(*fields: Field) -> Rule:
  """reference: bp/rules/tabular.py:305-326."""
  header_pred = all_hold(
      is_tabular_header, heads_tabular_entry, no_words_between_vertically,
      are_aligned(AlignmentLine.VERTICAL_MIDLINES, tolerance=0.5, taper=10))
  return Conjunction(tuple(itertools.chain(
      (header_pred(fields[0], f) for f in fields[1:]),
      ((column(*fields[1:]),) if len(fields) > 2 else tuple()))))


# ---------------------------------------------------------------------------
# Label composites (reference: bp/rules/label.py).
# ---------------------------------------------------------------------------

is_left_to_right_label_value_pair = all_hold(
    left_to_right_pair(), bottom_aligned_pair(), nothing_between_horizontally)

_TD_ALIGN_TOL = 1
_TD_ALIGN_TAPER = 3.5

is_top_down_label_value_pair = all_hold(
    are_arranged(Direction.TOP_DOWN, max_distance=2, taper=1),
    nothing_between_vertically,
    any_holds(
        are_aligned(AlignmentLine.RIGHT_SIDES, tolerance=_TD_ALIGN_TOL,
                    taper=_TD_ALIGN_TAPER),
        are_aligned(AlignmentLine.LEFT_SIDES, tolerance=_TD_ALIGN_TOL,
                    taper=_TD_ALIGN_TAPER),
        are_aligned(AlignmentLine.VERTICAL_MIDLINES, tolerance=_TD_ALIGN_TOL,
                    taper=_TD_ALIGN_TAPER)))
