"""Predicate scoring kernels.

Dispatches on Predicate.kind and scores candidate entity tuples against a
DocPool.  Semantics replicate blueprint-oss's predicate layer exactly:
  spatial    bp/rules/spatial.py
  textual    bp/rules/textual.py + bp/string_algos.py + bp/text_properties.py
  numeric    bp/rules/numeric.py
  logical    bp/rules/logical.py
  semantic   bp/rules/semantic.py
  impingement bp/rules/impingement.py + bp/impingement.py

Two taper variants exist in the reference and both are kept:
  float taper  (spatial.py:21-31):   1 - min(1, err/taper)
  int taper    (textual.py:49-59):   1 - min(1, err/(taper+1))
"""

from __future__ import annotations

import re
from bisect import bisect
from collections import Counter
from functools import lru_cache
from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np

from ..model.rules import Predicate, derived
from .docmodel import DocPool, TYPE_DATE, TYPE_DOLLAR, TYPE_TEXT
from .entity_gen import edit_distance_capped as _edit_distance_capped_raw

# Hot kernel memoized: blueprints compare fixed label vocabularies
# against recurring entity texts, so (s1, s2) pairs repeat heavily both
# within and across documents in a worker.
edit_distance_capped = lru_cache(maxsize=200_000)(
    _edit_distance_capped_raw)

_DIGITS = '0123456789'


# ---------------------------------------------------------------------------
# Shared helpers.
# ---------------------------------------------------------------------------

def taper_error_float(raw: float, tolerance: float, taper: float) -> float:
  """reference: bp/rules/spatial.py:21-31."""
  error = max(0.0, raw - tolerance)
  if error == 0.0:
    return 1.0
  if taper == 0.0:
    return 0.0
  return abs(1.0 - min(1.0, error / taper))


def taper_error_int(raw: int, tolerance: int, taper: int) -> float:
  """reference: bp/rules/textual.py:49-59 (note the /(taper+1))."""
  error = max(0, raw - tolerance)
  if error == 0:
    return 1.0
  if taper == 0:
    return 0.0
  return abs(1.0 - min(1.0, error / (taper + 1)))


def count_score(score_dict: Dict[int, float], count: int) -> float:
  """Lerped count-score table (reference: bp/rules/textual.py:62-82)."""
  if count in score_dict:
    return score_dict[count]
  counts = sorted(score_dict.keys())
  i = bisect(counts, count)
  if i == len(counts):
    return score_dict[counts[-1]]
  if i == 0:
    return score_dict[counts[0]]
  t = (count - counts[i - 1]) / (counts[i] - counts[i - 1])
  return score_dict[counts[i - 1]] + \
      (score_dict[counts[i]] - score_dict[counts[i - 1]]) * t


# Text comparison massaging (reference: bp/rules/textual.py:22-46).
_F_CASE = 1
_F_NOWS = 2
_F_ALPHA = 4
_F_NUM = 8


@lru_cache(maxsize=200_000)
def massage(flags: int, s: str) -> str:
  if not (flags & _F_CASE):
    s = s.upper()
  if flags & _F_NOWS:
    s = re.sub(r'\s', '', s)
  if (flags & (_F_ALPHA | _F_NUM)) == (_F_ALPHA | _F_NUM):
    s = re.sub('[^a-zA-Z0-9]', '', s)
  elif flags & _F_ALPHA:
    s = re.sub('[^a-zA-Z]', '', s)
  elif flags & _F_NUM:
    s = re.sub('[^0-9]', '', s)
  return s


def substring_edit_distance(s: str, t: str) -> int:
  """Min edits to make t a substring of s
  (reference: bp/string_algos.py:57-85)."""
  if not s:
    return len(t)
  if not t:
    return 0
  prev = list(range(len(t) + 1))
  best = prev[len(t)]
  for i in range(1, len(s) + 1):
    cur = [0] * (len(t) + 1)
    ci = s[i - 1]
    for j in range(1, len(t) + 1):
      cost = 0 if ci == t[j - 1] else 1
      cur[j] = min(1 + prev[j], 1 + cur[j - 1], cost + prev[j - 1])
    best = min(best, cur[len(t)])
    prev = cur
  return best


def pattern_edit_distance(s: str, pattern: str,
                          stands_for: Dict[str, str]) -> int:
  """reference: bp/string_algos.py:88-137."""
  if not s:
    return len(pattern)
  if not pattern:
    return len(s)
  prev = list(range(len(pattern) + 1))
  for i in range(1, len(s) + 1):
    cur = [i] + [0] * len(pattern)
    ci = s[i - 1]
    for j in range(1, len(pattern) + 1):
      pj = pattern[j - 1]
      if pj in stands_for:
        cost = 0 if ci in stands_for[pj] else 1
      else:
        cost = 0 if ci == pj else 1
      cur[j] = min(1 + prev[j], 1 + cur[j - 1], cost + prev[j - 1])
    prev = cur
  return prev[len(pattern)]


def numeric_coerce(s: Optional[str], period_as_delimiter: bool,
                   force_dollar_decimal: bool) -> str:
  """Text→digit-string coercion (reference: bp/rules/numeric.py:16-43).

  Quirks replicated: scans right-to-left; minus kept only at position 0;
  only the rightmost period kept (when period_as_delimiter); lone '.' →
  empty; optional forced .cc cents insertion."""
  result = ''
  if s is None:
    return result
  drop_remaining_periods = not period_as_delimiter
  for i in range(len(s) - 1, -1, -1):
    c = s[i]
    if c in _DIGITS:
      result += c
    if c == '-':
      if i == 0:
        result += c
    if not drop_remaining_periods and c == '.':
      result += c
      drop_remaining_periods = True
  if len(result) == 1 and result == '.':
    result = ''
  result = ''.join(reversed(result))
  if force_dollar_decimal:
    if '.' not in result and len(result) > 2:
      result = result[:-2] + '.' + result[-2:]
  return result


def numeric_sum(texts: Sequence[Optional[str]],
                coefficients: Sequence[float], period_as_delimiter: bool,
                force_dollar_decimal: bool) -> Optional[float]:
  """reference: bp/rules/numeric.py:12-61."""
  ss = [numeric_coerce(t, period_as_delimiter, force_dollar_decimal)
        for t in texts]
  if not all(ss):
    return None
  try:
    fs = [float(x) for x in ss]
  except ValueError:
    return None
  return sum(f * c for f, c in zip(fs, coefficients))


# ---------------------------------------------------------------------------
# Impingement (reference: bp/impingement.py + bp/rules/impingement.py).
# ---------------------------------------------------------------------------

def _integrate_pointwise_max(a: float, b: float,
                             items: List[Tuple[float, float, float]]) \
    -> float:
  """Integral over [a,b] of the pointwise max opacity of overlapping
  sub-intervals (base opacity 0).  Equivalent to the reference's
  subdivision accumulator (bp/impingement.py:21-61)."""
  if not items:
    return 0.0
  pts = {a, b}
  for (ia, ib, _) in items:
    ia, ib = max(ia, a), min(ib, b)
    if ia < ib:
      pts.add(ia)
      pts.add(ib)
  xs = sorted(pts)
  total = 0.0
  for k in range(len(xs) - 1):
    lo, hi = xs[k], xs[k + 1]
    mid = 0.5 * (lo + hi)
    op = 0.0
    for (ia, ib, o) in items:
      if ia <= mid <= ib and o > op:
        op = o
    total += op * (hi - lo)
  return total


def _erode_if_possible(a: float, b: float, amount: float) \
    -> Tuple[float, float]:
  """reference: bp/rules/impingement.py:132-136 (keep original if the
  eroded interval would be empty)."""
  ea, eb = a + amount, b - amount
  if eb - ea > 0:
    return ea, eb
  return a, b


def _erode_strict(a: float, b: float, amount: float) \
    -> Optional[Tuple[float, float]]:
  """Interval.eroded (reference: bp/geometry.py:63-65) — None if empty."""
  ea, eb = a + amount, b - amount
  if eb - ea > 0:
    return ea, eb
  return None


def _get_opacity(text: str, illegal: Optional[str]) -> float:
  """reference: bp/rules/impingement.py:91-96."""
  if not text:
    return 0.0
  if illegal is None:
    return 1.0
  return sum(1 for c in text if c in illegal) / len(text)


def _entity_page(doc: DocPool, eid: int) -> int:
  pages = doc.pages_of_entity(eid)
  if not pages:
    raise ValueError('entity intersects no page')
  return pages[0]


def _impingement_region(doc: DocPool, region: str, spanning: bool,
                        eids: Tuple[int, ...]) \
    -> Optional[Tuple[float, float, float, float]]:
  """Doc region for the BoxUnimpinged family; None means "no region"
  (score 1).  reference: bp/rules/impingement.py:139-215,
  bp/rules/tabular.py:37-153."""
  mlh = doc.median_line_height
  small = 0.25 * mlh

  if region in ('between_v', 'between_h'):
    e1, e2 = eids
    if region == 'between_v':
      if spanning:
        ix = (min(doc.ex0[e1], doc.ex0[e2]), max(doc.ex1[e1], doc.ex1[e2]))
      else:
        a = max(doc.ex0[e1], doc.ex0[e2])
        b = min(doc.ex1[e1], doc.ex1[e2])
        if a > b:
          return None
        ix = (a, b)
      iy = (doc.ey1[e1], doc.ey0[e2])
      ix = _erode_if_possible(ix[0], ix[1], small)
      iy = _erode_if_possible(iy[0], iy[1], small)
      return (ix[0], ix[1], iy[0], iy[1])
    else:
      if spanning:
        iy = (min(doc.ey0[e1], doc.ey0[e2]), max(doc.ey1[e1], doc.ey1[e2]))
      else:
        a = max(doc.ey0[e1], doc.ey0[e2])
        b = min(doc.ey1[e1], doc.ey1[e2])
        if a > b:
          return None
        iy = (a, b)
      ix = (doc.ex1[e1], doc.ex0[e2])
      ix = _erode_if_possible(ix[0], ix[1], small)
      iy = _erode_if_possible(iy[0], iy[1], small)
      return (ix[0], ix[1], iy[0], iy[1])

  if region in ('top_edge', 'bottom_edge', 'left_edge', 'right_edge'):
    (e,) = eids
    p = _entity_page(doc, e)
    if region == 'top_edge':
      return (doc.ex0[e], doc.ex1[e], doc.py0[p], doc.ey0[e])
    if region == 'bottom_edge':
      return (doc.ex0[e], doc.ex1[e], doc.ey1[e], doc.py1[p])
    iy = _erode_if_possible(doc.ey0[e], doc.ey1[e], small)
    if region == 'left_edge':
      return (doc.px0[p], doc.ex0[e], iy[0], iy[1])
    # right edge: reference uses page.bbox.width as the right bound
    # (bp/rules/impingement.py:208-215)
    return (doc.ex1[e], doc.px1[p] - doc.px0[p], iy[0], iy[1])

  large = 1.0 * mlh
  e1, e2 = eids
  if region == 'tabular_header':
    ix = _erode_strict(min(doc.ex0[e1], doc.ex0[e2]),
                       max(doc.ex1[e1], doc.ex1[e2]), large)
    iy = _erode_strict(doc.ey0[e1], doc.ey1[e1], small)
    if ix is None or iy is None:
      return None
    return (ix[0], ix[1], iy[0], iy[1])
  if region == 'immediate_header':
    ix = _erode_strict(min(doc.ex0[e1], doc.ex0[e2]),
                       max(doc.ex1[e1], doc.ex1[e2]), large)
    iy = _erode_strict(min(doc.ey0[e1], doc.ey0[e2]),
                       max(doc.ey0[e1], doc.ey0[e2]), 0.33 * mlh)
    if ix is None or iy is None:
      return None
    return (ix[0], ix[1], iy[0], iy[1])
  if region == 'tabular_entry':
    ix = _erode_strict(min(doc.ex0[e1], doc.ex0[e2]),
                       max(doc.ex1[e1], doc.ex1[e2]), large)
    iy = _erode_strict(doc.ey0[e2], doc.ey1[e2], small)
    if ix is None or iy is None:
      return None
    return (ix[0], ix[1], iy[0], iy[1])

  raise ValueError(f'unknown impingement region {region}')


def _score_box_unimpinged(pred: Predicate, doc: DocPool,
                          eids: Tuple[int, ...]) -> float:
  """reference: bp/rules/impingement.py:98-129."""
  region_kind = pred.p('region')
  if region_kind == 'custom':
    region = pred.p('region_fn')(doc, eids)
  else:
    region = _impingement_region(
        doc, region_kind, bool(pred.p('spanning', False)), eids)
  if region is None:
    return 1.0
  x0, x1, y0, y1 = region
  if not (x1 - x0 > 0 and y1 - y0 > 0):
    return 1.0

  vertical = pred.p('direction') == 'VERTICAL'
  proj = (x0, x1) if vertical else (y0, y1)

  defining: set = set()
  for e in eids:
    defining |= doc.wordset(e)

  illegal = pred.p('illegal_characters')
  items: List[Tuple[float, float, float]] = []
  for we in doc.single_word_text_ids():
    # bbox intersect with region (closed intervals)
    if doc.ex1[we] < x0 or x1 < doc.ex0[we] \
        or doc.ey1[we] < y0 or y1 < doc.ey0[we]:
      continue
    wid = doc.ewords[we][0]
    if wid in defining:
      continue
    if vertical:
      items.append((float(doc.ex0[we]), float(doc.ex1[we]),
                    _get_opacity(doc.etext[we], illegal)))
    else:
      items.append((float(doc.ey0[we]), float(doc.ey1[we]),
                    _get_opacity(doc.etext[we], illegal)))

  total = _integrate_pointwise_max(proj[0], proj[1], items) \
      / (proj[1] - proj[0])
  if total > pred.p('maximum_impingement', 1.0):
    return 0.0
  return 1.0 - total


# ---------------------------------------------------------------------------
# Main dispatch.
# ---------------------------------------------------------------------------

# Text-score memo: the four textual kinds below score a pure function of
# the entity TEXT, which repeats heavily (sub-phrases across documents,
# label words).  Each caches raw text → score in one dict derived on the
# predicate ('_tm'): keyed by the raw text only, no tuple allocation or
# predicate hash in the hottest scalar loop.  Like every derived value
# it stays out of pickles, so unpickled copies never alias stale entries.


def _text_equals_compiled(pred: Predicate):
  # The massaged vocabulary and constants never change, and text_equals
  # dominates the call profile (label vocabularies scored per entity).
  texts = pred.p('texts')
  flags = pred.p('flags')
  tol, tap = pred.p('tolerance'), pred.p('taper')
  mtexts = tuple((massage(flags, t), len(massage(flags, t)))
                 for t in texts or ())
  return (mtexts, flags, tol, tap, tol + tap)


def _text_equals_score(pred: Predicate, raw: str) -> float:
  mtexts, flags, tol, tap, cutoff = derived(
      pred, '_te', lambda: _text_equals_compiled(pred))
  if not mtexts:
    return 1.0
  etext = massage(flags, raw)
  le = len(etext)
  best = None
  for (t, lt) in mtexts:
    if abs(lt - le) > cutoff:
      ms = 0.0
    else:
      # any distance >= tol+tap+1 scores 0 under taper_error_int, so
      # the cap is lossless and prunes the DP for far strings
      ms = taper_error_int(
          edit_distance_capped(t, etext, cutoff + 1), tol, tap)
    if best is None or best < ms:
      best = ms
    if best == 1:
      best = 1.0
      break
  return best or 0.0


def _substring_score(pred: Predicate, raw: str) -> float:
  """text_has_substring score for one raw text (substring DP dominates
  label-heavy models: the checks model scans 57 state + 12 street + 9
  stop words per candidate)."""
  flags = pred.p('flags')
  t = massage(flags, pred.p('text'))
  et = massage(flags, raw)
  tol = pred.p('tolerance')
  tap = pred.p('taper')
  if t in et:
    # distance 0 without the DP (C-speed find); exact same score
    return taper_error_int(0, tol, tap)
  # character-multiset lower bound: every needle-char occurrence
  # missing from the haystack costs >= 1 edit, and score is
  # EXACTLY 0.0 whenever distance > tolerance + taper
  # (taper_error_int), so far strings skip the O(|s||t|) DP —
  # the text_does_not_contain_substring sugar (tol=taper=0) makes
  # this the checks model's hot case: 78 stop/street/state scans
  # per candidate, almost all far
  need = derived(pred, '_tneed', lambda: tuple(Counter(t).items()))
  cutoff = tol + tap
  lb = 0
  for c, k in need:
    have = et.count(c)
    if have < k:
      lb += k - have
      if lb > cutoff:
        return 0.0
  return taper_error_int(substring_edit_distance(et, t), tol, tap)


def _pattern_score(pred: Predicate, raw: str) -> float:
  """text_matches_pattern score for one raw text."""
  pattern = pred.p('pattern')
  taper = pred.p('taper')
  if taper is None:
    taper = max(len(raw), len(pattern)) // 2
  sf = dict(pred.p('stands_for') or ())
  return taper_error_int(
      pattern_edit_distance(raw, pattern, sf),
      pred.p('tolerance'), taper)


def _text_properties_score(pred: Predicate, s: str) -> float:
  """text_properties_are score for one raw text."""
  taper = pred.p('taper')
  if taper is None:
    taper = len(s) // 2
  error = 0.0
  length = pred.p('length')
  if length is not None:
    d = dict(length)
    if 'at_most' in d:
      error += max(0, len(s) - d['at_most'])
    if 'at_least' in d:
      error += max(0, d['at_least'] - len(s))
    if 'exactly' in d:
      error += abs(d['exactly'] - len(s))
  legal = pred.p('legal_chars')
  if legal is not None:
    error += sum(1 for c in s if c not in legal)
  for key, sign in (('min_char_proportions', 1),
                    ('max_char_proportions', -1)):
    lst = pred.p(key)
    if lst is not None:
      for item in lst:
        d = dict(item)
        cnt = sum(1 for c in s if c in d['chars'])
        if sign > 0:
          error += max(0, len(s) * d['proportion'] - cnt)
        else:
          error += max(0, cnt - len(s) * d['proportion'])
  for key, sign in (('min_char_counts', 1), ('max_char_counts', -1)):
    lst = pred.p(key)
    if lst is not None:
      for item in lst:
        d = dict(item)
        cnt = sum(1 for c in s if c in d['chars'])
        if sign > 0:
          error += max(0, d['count'] - cnt)
        else:
          error += max(0, cnt - d['count'])
  return taper_error_int(error, pred.p('tolerance'), taper)


#: kind → (raw-text scorer, text_only): a text_only kind scores 0 on an
#: entity that is not of type Text; text_equals scores any entity's text.
_TEXT_SCORERS = {
    'text_equals': (_text_equals_score, False),
    'text_has_substring': (_substring_score, True),
    'text_matches_pattern': (_pattern_score, True),
    'text_properties_are': (_text_properties_score, True),
}


def _memo_miss(pred: Predicate, scorer, memo: Dict[str, float],
               raw: str) -> float:
  got = scorer(pred, raw)
  if len(memo) > 200_000:
    memo.clear()
  memo[raw] = got
  return got


def score_predicate(pred: Predicate, doc: DocPool,
                    eids: Tuple[int, ...]) -> float:
  """Score one predicate against concrete entity ids.  All entity ids are
  assigned (None-assignment handling lives in the solver)."""
  k = pred.kind

  if k == 'are_aligned':
    e1, e2 = eids
    anchors = pred.p('anchors')
    if anchors == 'LEFT_SIDES':
      r1, r2 = doc.ex0[e1], doc.ex0[e2]
    elif anchors == 'RIGHT_SIDES':
      r1, r2 = doc.ex1[e1], doc.ex1[e2]
    elif anchors == 'BOTTOMS':
      r1, r2 = doc.ey1[e1], doc.ey1[e2]
    elif anchors == 'TOPS':
      r1, r2 = doc.ey0[e1], doc.ey0[e2]
    elif anchors == 'HORIZONTAL_MIDLINES':
      r1 = (doc.ey0[e1] + doc.ey1[e1]) / 2
      r2 = (doc.ey0[e2] + doc.ey1[e2]) / 2
    else:  # VERTICAL_MIDLINES
      r1 = (doc.ex0[e1] + doc.ex1[e1]) / 2
      r2 = (doc.ex0[e2] + doc.ex1[e2]) / 2
    mlh = doc.median_line_height
    return taper_error_float(abs(float(r1 - r2)),
                             pred.p('tolerance') * mlh,
                             pred.p('taper') * mlh)

  if k == 'are_arranged':
    e1, e2 = eids
    d = pred.p('direction')
    if d == 'LEFT_TO_RIGHT':
      i1b, i2a = doc.ex1[e1], doc.ex0[e2]
    elif d == 'RIGHT_TO_LEFT':
      i1b, i2a = doc.ex1[e2], doc.ex0[e1]
    elif d == 'TOP_DOWN':
      i1b, i2a = doc.ey1[e1], doc.ey0[e2]
    else:  # BOTTOM_UP
      i1b, i2a = doc.ey1[e2], doc.ey0[e1]
    mlh = doc.median_line_height
    min_d = pred.p('min_distance') or 0
    left_err = max(0.0, (i1b + min_d * mlh) - i2a)
    max_d = pred.p('max_distance')
    right_err = max(0.0, i2a - (i1b + max_d * mlh)) \
        if max_d is not None else 0.0
    return taper_error_float(max(left_err, right_err), 0.0,
                             pred.p('taper') * mlh)

  if k == 'is_in_region':
    (e,) = eids
    if pred.p('limit_to_page'):
      p = _entity_page(doc, e)
      bx0, bx1 = doc.px0[p], doc.px1[p]
      by0, by1 = doc.py0[p], doc.py1[p]
    else:
      bx0, bx1, by0, by1 = doc.dx0, doc.dx1, doc.dy0, doc.dy1
    xr = pred.p('x_range')
    yr = pred.p('y_range')

    def contains_pct(la: float, lb: float, a: float, b: float) -> float:
      # Interval.contains_percentage_of (bp/geometry.py:56-61)
      if b - a == 0:
        return 1.0 if la <= a <= lb else 0.0
      ia, ib = max(la, a), min(lb, b)
      return (ib - ia) / (b - a) if ia <= ib else 0.0

    xp = 1.0
    if xr:
      la = bx0 + xr[0] * (bx1 - bx0)
      lb = bx1 - (1 - xr[1]) * (bx1 - bx0)
      xp = contains_pct(la, lb, float(doc.ex0[e]), float(doc.ex1[e]))
    yp = 1.0
    if yr:
      la = by0 + yr[0] * (by1 - by0)
      lb = by1 - (1 - yr[1]) * (by1 - by0)
      yp = contains_pct(la, lb, float(doc.ey0[e]), float(doc.ey1[e]))
    return xp * yp

  if k == 'page_number_is':
    (e,) = eids
    sd = dict(pred.p('score_dict'))
    return max(count_score(sd, doc.page_number[p])
               for p in doc.pages_of_entity(e))

  if k == 'are_on_same_page':
    e1, e2 = eids
    p1 = [doc.page_number[p] for p in doc.pages_of_entity(e1)]
    p2 = [doc.page_number[p] for p in doc.pages_of_entity(e2)]
    if min(p1) >= max(p2):
      error = min(p1) - max(p2)
    else:
      error = min(p2) - max(p1)
    # int-taper variant with taper+1 (spatial.py:625 uses
    # _taper_error(error, tolerance, taper+1) with the FLOAT taper fn)
    return taper_error_float(error, pred.p('tolerance'),
                             pred.p('taper') + 1)

  text_scorer = _TEXT_SCORERS.get(k)
  if text_scorer is not None:
    (e,) = eids
    scorer, text_only = text_scorer
    if text_only and doc.etype[e] != TYPE_TEXT:
      return 0.0
    raw = doc.etext[e]
    memo = derived(pred, '_tm', dict)
    got = memo.get(raw)
    return got if got is not None else _memo_miss(pred, scorer, memo, raw)

  if k == 'line_count_is':
    # Our pool has no Cluster/Address entities → line count is 1
    # (reference: textual.py:129-137).
    return count_score(dict(pred.p('score_dict')), 1)

  if k == 'word_count_is':
    (e,) = eids
    if doc.etype[e] != TYPE_TEXT:
      raise TypeError('WordCountIs only works with Text entities')
    return count_score(dict(pred.p('score_dict')), len(doc.ewords[e]))

  if k == 'have_unequal_text':
    e1, e2 = eids
    return 1.0 if doc.etext[e1] != doc.etext[e2] else 0.0

  if k == 'all_hold':
    score = 1.0
    for sub in pred.p('predicates'):
      score *= score_predicate(sub, doc, eids)
    return score

  if k == 'any_holds':
    return max(score_predicate(sub, doc, eids)
               for sub in pred.p('predicates'))

  if k == 'negate':
    return 1.0 - score_predicate(pred.p('predicate'), doc, eids)

  if k == 'penalize':
    return min(score_predicate(pred.p('predicate'), doc, eids),
               pred.p('max_score'))

  if k == 'non_fatal':
    return max(score_predicate(pred.p('predicate'), doc, eids),
               pred.p('min_score'))

  if k == 'nop':
    return 1.0

  if k == 'are_disjoint':
    e1, e2 = eids
    return 1.0 if not (doc.wordset(e1) & doc.wordset(e2)) else 0.0

  if k == 'is_date':
    (e,) = eids
    return float(doc.likeness[e]) if doc.etype[e] == TYPE_DATE else 0.0

  if k == 'is_dollar_amount':
    (e,) = eids
    return float(doc.likeness[e]) if doc.etype[e] == TYPE_DOLLAR else 0.0

  if k == 'is_entire_phrase':
    (e,) = eids
    if doc.etype[e] != TYPE_TEXT:
      return 0.0
    m = float(doc.maximality[e])
    return m if m == m else 0.0  # NaN → 0

  if k in ('is_address', 'is_person_name'):
    # Not generated by the entity pool (reference: entity.py registry-only,
    # SURVEY §2.B) → score 0 unless such entities exist.
    return 0.0

  if k in ('sum_is_approximately',):
    s = numeric_sum([doc.etext[e] for e in eids], pred.p('coefficients'),
                    pred.p('period_as_delimiter'),
                    pred.p('force_dollar_decimal'))
    if s is None:
      return 0.0
    error = max(0.0, abs(s - pred.p('amount')) - pred.p('tolerance'))
    taper = pred.p('taper')
    if taper == 0:
      return 1.0 if error == 0 else 0.0
    return 1 - min(1.0, error / taper)

  if k == 'sum_is_at_least':
    s = numeric_sum([doc.etext[e] for e in eids], pred.p('coefficients'),
                    pred.p('period_as_delimiter'),
                    pred.p('force_dollar_decimal'))
    if s is None:
      return 0.0
    lb = pred.p('lower_bound')
    if s > lb or (not pred.p('strict') and s == lb):
      return 1.0
    return 0.0

  if k == 'box_unimpinged':
    return _score_box_unimpinged(pred, doc, eids)

  if k == 'custom':
    return float(pred.p('fn')(doc, eids))

  raise ValueError(f'unknown predicate kind {k}')


# ---------------------------------------------------------------------------
# Batched degree-1 scoring (SURVEY §7: leaf scoring vectorized across
# the candidate entity arrays inside the Arrow-batch UDF).
# ---------------------------------------------------------------------------

def predicate_scores_bounded_01(pred: Predicate) -> bool:
  """True when every score this predicate can produce is in [0, 1] —
  the precondition for the solver's progressive leaf cutoff (a running
  product of [0,1] factors is non-increasing).  Custom predicates are
  user code and unbounded."""
  k = pred.kind
  if k == 'custom':
    return False
  if k in ('all_hold', 'any_holds'):
    return all(predicate_scores_bounded_01(s)
               for s in pred.p('predicates'))
  if k in ('negate', 'penalize', 'non_fatal'):
    return predicate_scores_bounded_01(pred.p('predicate'))
  if k == 'box_unimpinged' and pred.p('region') == 'custom':
    return False  # custom region_fn could misbehave; stay conservative
  return True


def _none_contains_fused(pred: Predicate):
  """An all_hold predicate's subs split for the fused none-contains scan:
  ((flags, massaged words) per flags value, the other subs, and an empty
  raw text → 0/1 memo)."""
  words_by_flags: Dict[int, list] = {}
  others = []
  for sub in pred.p('predicates'):
    inner = sub.p('predicate') if sub.kind == 'negate' else None
    if (inner is not None and inner.kind == 'text_has_substring'
        and inner.p('tolerance') == 0 and inner.p('taper') == 0):
      words_by_flags.setdefault(inner.p('flags'), []).append(
          massage(inner.p('flags'), inner.p('text')))
    else:
      others.append(sub)
  return (tuple((f, tuple(ws)) for f, ws in words_by_flags.items()),
          tuple(others), {})


def score_predicate_batch(pred: Predicate, doc: DocPool,
                          ents: np.ndarray) -> np.ndarray:
  """Vectorized score_predicate over a HOMOGENEOUS-type entity-id array
  (the shape leaf batches have: doc.entities_of_type output).

  Bit-exactness contract: every fast path performs the same IEEE-754
  operations in the same per-element order as the scalar kernel, so
  parity suites see identical floats.  Kinds without a fast path fall
  back to the scalar kernel per entity (never wrong, just slower)."""
  n = len(ents)
  if n == 0:
    return np.zeros(0)
  k = pred.kind
  bt = doc.etype[int(ents[0])]  # homogeneous batch type

  if k == 'is_date':
    return doc.likeness[ents].copy() if bt == TYPE_DATE else np.zeros(n)

  if k == 'is_dollar_amount':
    return doc.likeness[ents].copy() if bt == TYPE_DOLLAR \
        else np.zeros(n)

  if k in ('is_address', 'is_person_name'):
    return np.zeros(n)

  if k == 'is_entire_phrase':
    if bt != TYPE_TEXT:
      return np.zeros(n)
    m = doc.maximality[ents]
    return np.where(np.isnan(m), 0.0, m)

  if k == 'nop':
    return np.ones(n)

  if k == 'all_hold':
    # fused none-contains scan: subs of the form
    # negate(text_has_substring(w, tolerance=0, taper=0)) score
    # EXACTLY 0.0 or 1.0 (taper_error_int at tol=taper=0), so their
    # product collapses to the indicator "no word is a substring" —
    # one memoized any(w in text) per entity instead of |words|
    # batch passes.  0/1 factors commute exactly under float
    # multiplication, so hoisting them after the other subs is
    # bit-identical.  The checks model's 57-stop-word scan is the
    # motivating case (measured 16% of the whole solve).
    groups, others, fmemo = derived(
        pred, '_fused_nc', lambda: _none_contains_fused(pred))
    if not groups:
      score = np.ones(n)
      for sub in others:
        score = score * score_predicate_batch(sub, doc, ents)
      return score
    score = np.ones(n)
    for sub in others:
      score = score * score_predicate_batch(sub, doc, ents)
    etext, etype = doc.etext, doc.etype
    out = np.empty(n)
    mget = fmemo.get
    for i in range(n):
      e = int(ents[i])
      if etype[e] != TYPE_TEXT:
        out[i] = 1.0  # text_has_substring is 0 off-TEXT → negate 1
        continue
      raw = etext[e]
      v = mget(raw)
      if v is None:
        v = 1.0
        for flags, words in groups:
          et = massage(flags, raw)
          if any(w in et for w in words):
            v = 0.0
            break
        if len(fmemo) > 200_000:
          fmemo.clear()
        fmemo[raw] = v
      out[i] = v
    return score * out

  if k == 'any_holds':
    best = None
    for sub in pred.p('predicates'):
      s = score_predicate_batch(sub, doc, ents)
      best = s if best is None else np.maximum(best, s)
    return best if best is not None else np.zeros(n)

  if k == 'negate':
    return 1.0 - score_predicate_batch(pred.p('predicate'), doc, ents)

  if k == 'penalize':
    return np.minimum(
        score_predicate_batch(pred.p('predicate'), doc, ents),
        pred.p('max_score'))

  if k == 'non_fatal':
    return np.maximum(
        score_predicate_batch(pred.p('predicate'), doc, ents),
        pred.p('min_score'))

  if k == 'is_in_region' and not pred.p('limit_to_page'):
    bx0, bx1, by0, by1 = doc.dx0, doc.dx1, doc.dy0, doc.dy1
    xr = pred.p('x_range')
    yr = pred.p('y_range')

    def contains_pct_vec(la: float, lb: float, a, b):
      width = b - a
      with np.errstate(divide='ignore', invalid='ignore'):
        ia = np.maximum(la, a)
        ib = np.minimum(lb, b)
        pct = np.where(ia <= ib, (ib - ia) / width, 0.0)
      return np.where(width == 0.0,
                      np.where((la <= a) & (a <= lb), 1.0, 0.0), pct)

    out = np.ones(n)
    if xr:
      la = bx0 + xr[0] * (bx1 - bx0)
      lb = bx1 - (1 - xr[1]) * (bx1 - bx0)
      out = out * contains_pct_vec(la, lb, doc.ex0[ents], doc.ex1[ents])
    if yr:
      la = by0 + yr[0] * (by1 - by0)
      lb = by1 - (1 - yr[1]) * (by1 - by0)
      out = out * contains_pct_vec(la, lb, doc.ey0[ents], doc.ey1[ents])
    return out

  text_scorer = _TEXT_SCORERS.get(k)
  if text_scorer is not None:
    # memo lookup hoisted out of the loop: a hit is one dict get per
    # element, the scorer runs only on a miss
    scorer, text_only = text_scorer
    etext, etype = doc.etext, doc.etype
    memo = derived(pred, '_tm', dict)
    mget = memo.get
    out = np.empty(n)
    for i in range(n):
      e = int(ents[i])
      if text_only and etype[e] != TYPE_TEXT:
        out[i] = 0.0
        continue
      raw = etext[e]
      v = mget(raw)
      if v is None:
        v = _memo_miss(pred, scorer, memo, raw)
      out[i] = v
    return out

  # fallback: scalar kernel per entity — correct for every kind
  return np.fromiter(
      (score_predicate(pred, doc, (int(e),)) for e in ents),
      np.float64, n)
