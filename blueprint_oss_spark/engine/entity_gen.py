"""Entity generation: words → phrases → typed entities.

Re-implements the semantics of blueprint-oss's scan-side compute:
  - phrase clustering       (bp/entity_gen/clustering.py:131-329)
  - date typer              (bp/entity_gen/dates.py, type_scoring.py:6-50)
  - dollar-amount typer     (bp/entity_gen/dollar_amounts.py,
                             type_scoring.py:53-125)
  - document assembly       (bp/build_document.py:46-170)

The pool is array-based (no object DAG, no quadtree): per-doc candidate
sets are small, so brute-force interval checks replace the reference's
EZBox spatial index.  Building it is scalar Python over list copies of
the word geometry: a phrase tuple touches 1-6 words, where numpy's
fancy indexing costs more than it saves.  Every float sum runs left to
right, the order numpy uses for arrays that short, so scores are
bit-identical to the array formulation.  Edit distance, in the date
typer and the solver's text rules alike, is bit-parallel (Myers 1999 /
Hyyrö 2001): a DP column is a dozen Python-int operations.  The date
typer matches against masks of the six date patterns built once at
import, and memoizes its score on the canonical text.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np

from .docmodel import (
    DocPool, TYPE_DATE, TYPE_DOLLAR, TYPE_PAGE, TYPE_TEXT,
    median_word_height,
)

MAX_WORDS_PER_PHRASE = 6  # reference: clustering.py:231
PHRASE_SCORE_CUTOFF = 0.5  # reference: clustering.py:327
DATE_MIN_SCORE = 0.7       # reference: entity_gen/dates.py:8
DOLLAR_MIN_SCORE = 0.5     # reference: entity_gen/dollar_amounts.py:9


# ---------------------------------------------------------------------------
# Phrase (OCR) score — reference: clustering.py:244-329.
# ---------------------------------------------------------------------------

def _score_deviation(deviation: float, tolerance: float,
                     taper_dist: float) -> float:
  return max(0.0, 1.0 - max(0.0, deviation - tolerance) / taper_dist)


def _score_consistency(vals: Sequence[float], tolerance: float,
                       taper_dist: float) -> float:
  return _score_deviation(max(vals) - min(vals), tolerance, taper_dist)


class _Words:
  """Word geometry for one page as Python lists (absolute document
  coordinates).  Scoring reads 1–6 words per phrase tuple, where scalar
  Python is cheaper than numpy's fancy indexing."""

  def __init__(self, texts: List[str], x0: List[float], x1: List[float],
               y0: List[float], y1: List[float]):
    self.texts = texts
    self.x0 = x0
    self.x1 = x1
    self.y0 = y0
    self.y1 = y1
    self.height = [b - a for a, b in zip(y0, y1)]
    self.lens = [float(len(t)) for t in texts]


def compute_ocr_score(w: _Words, tup: Tuple[int, ...]) -> float:
  """Phrase plausibility score (reference: clustering.py:255-329)."""
  if len(tup) == 1:
    return 1.0
  heights = [w.height[i] for i in tup]
  baselines = [w.y1[i] for i in tup]

  # length-weighted sums, accumulated left to right (the order numpy
  # sums arrays this short in, so the scores stay bit-identical)
  total_len = weighted_h = weighted_b = 0.0
  for i, h, b in zip(tup, heights, baselines):
    n = w.lens[i]
    total_len += n
    weighted_h += n * h
    weighted_b += n * b
  # weighted average char height (clustering.py:277-284)
  mu = weighted_h / total_len
  # entity baseline: length-weighted mean of word baselines
  # (clustering.py:399-408)
  baseline = weighted_b / total_len

  interword = [w.x0[tup[i + 1]] - w.x1[tup[i]]
               for i in range(len(tup) - 1)]
  baseline_devs = [abs(b - baseline) for b in baselines]

  min_iw = 0.0 * mu
  dev_from_min = [max(0.0, min_iw - d) for d in interword]
  max_iw = 0.8 * mu
  dev_from_max = [max(0.0, d - max_iw) for d in interword]

  s_height = _score_consistency(heights, 0.3 * mu, 0.5 * mu)
  s_baseline = _score_deviation(max(baseline_devs), 0.1 * mu, 0.3 * mu)
  s_iw_consistency = _score_consistency(interword, 0.3 * mu, 0.8 * mu)
  s_iw_min = _score_deviation(max(dev_from_min), 0.0 * mu, 1.0 * mu)
  s_iw_max = _score_deviation(max(dev_from_max), 0.0 * mu, 1.0 * mu)

  score = (s_height * s_baseline * s_iw_consistency * s_iw_max * s_iw_min)
  return score if score > PHRASE_SCORE_CUTOFF else 0.0


# ---------------------------------------------------------------------------
# Clustering — reference: clustering.py:131-241.
# ---------------------------------------------------------------------------

def build_phrases(w: _Words) -> List[Tuple[Tuple[int, ...], float, float]]:
  """Build all phrase tuples for one page.

  Returns [(word_index_tuple, maximality_score, ocr_score)] in the
  reference's output order (sorted by tuple length, stable).

  Algorithm parity with clustering.py:131-204 / 227-241: words processed in
  x-ascending order; a word extends every existing tuple whose bbox meets
  the 6-word-height look-back bounder, provided every suffix extension has
  positive phrase score; maximality marking demotes the prefix and suffix
  of every longer tuple.
  """
  n = len(w.texts)
  order = sorted(range(n), key=w.x0.__getitem__)  # stable

  tups: List[Tuple[int, ...]] = []
  # per-tuple bbox (x0, x1, y0, y1): a tuple extended by word e has the
  # union of its bbox and e's, so each new bbox is O(1)
  boxes: List[Tuple[float, float, float, float]] = []

  score_cache: Dict[Tuple[int, ...], float] = {}

  def tup_score(tup: Tuple[int, ...]) -> float:
    s = score_cache.get(tup)
    if s is None:
      s = compute_ocr_score(w, tup)
      score_cache[tup] = s
    return s

  for e in order:
    ex0, ex1 = w.x0[e], w.x1[e]
    ey0, ey1 = w.y0[e], w.y1[e]
    h = w.height[e]
    # phrase bounder: x ∈ [x - 6h, x], y = word's iy (clustering.py:232-237)
    bx0, bx1 = ex0 - 6.0 * h, ex0

    new_tups: List[Tuple[int, ...]] = [(e,)]
    new_boxes = [(ex0, ex1, ey0, ey1)]
    for t in range(len(tups)):
      # bbox intersect test (closed intervals, geometry.py:42-43)
      tx0, tx1, ty0, ty1 = boxes[t]
      if tx1 < bx0 or bx1 < tx0 or ty1 < ey0 or ey1 < ty0:
        continue
      tup = tups[t]
      if len(tup) + 1 > MAX_WORDS_PER_PHRASE:
        continue
      ok = True
      for s in range(len(tup)):
        if tup_score(tup[s:] + (e,)) <= 0:
          ok = False
          break
      if ok:
        new_tups.append(tup + (e,))
        new_boxes.append((min(tx0, ex0), max(tx1, ex1),
                          min(ty0, ey0), max(ty1, ey1)))
    tups.extend(new_tups)
    boxes.extend(new_boxes)

  # Maximality marking (clustering.py:189-204).
  ordered = sorted(tups, key=len)  # stable
  maximality: Dict[Tuple[int, ...], float] = {}
  ocr: Dict[Tuple[int, ...], float] = {}
  for tup in ordered:
    maximality.setdefault(tup, 1.0)
    ocr[tup] = tup_score(tup)
    if len(tup) > 1:
      if tup[1:] in maximality:
        maximality[tup[1:]] = 0.0
      maximality[tup[:-1]] = 0.0

  return [(tup, maximality[tup], ocr[tup]) for tup in ordered]


# ---------------------------------------------------------------------------
# Date typer — reference: type_scoring.py:6-50, dates.py.
# ---------------------------------------------------------------------------

_LONG_MONTHS = ('JANUARY', 'FEBRUARY', 'MARCH', 'APRIL', 'MAY', 'JUNE',
                'JULY', 'AUGUST', 'SEPTEMBER', 'OCTOBER', 'NOVEMBER',
                'DECEMBER')
_SHORT_MONTHS = ('JAN', 'FEB', 'MAR', 'APR', 'MAY', 'JUN', 'JUL', 'AUG',
                 'SEP', 'OCT', 'NOV', 'DEC')
_DATE_PATTERNS = ('JAN-99-99', 'JAN-99TH-99', '99-JAN-99', '99TH-JAN-99',
                  '99-99-99', '99JAN99')


def edit_distance(s1: str, s2: str) -> int:
  """Levenshtein distance (reference: bp/string_algos.py:11-41)."""
  if not s1:
    return len(s2)
  if not s2:
    return len(s1)
  prev = list(range(len(s2) + 1))
  for i in range(1, len(s1) + 1):
    cur = [i] + [0] * len(s2)
    c1 = s1[i - 1]
    for j in range(1, len(s2) + 1):
      cost = 0 if c1 == s2[j - 1] else 1
      cur[j] = min(1 + prev[j], 1 + cur[j - 1], cost + prev[j - 1])
    prev = cur
  return prev[len(s2)]


def _match_masks(s: str) -> Dict[str, int]:
  """Character → bit mask of its positions in s (bit i set iff s[i] is
  that character): the pattern side of the bit-parallel distance."""
  masks: Dict[str, int] = {}
  bit = 1
  for c in s:
    masks[c] = masks.get(c, 0) | bit
    bit <<= 1
  return masks


def _bit_parallel_distance(masks: Dict[str, int], m: int, t: str) -> int:
  """Levenshtein distance between t and the m-char string whose match
  masks are `masks` (m >= 1).  Myers' (1999) bit-vector algorithm in
  Hyyrö's (2001) edit-distance form: one DP column of t is the pair of
  m-bit vertical delta vectors (vp, vn) in a Python int, so a column
  costs a dozen word operations instead of m cell updates."""
  full = (1 << m) - 1
  last = 1 << (m - 1)
  vp, vn, d = full, 0, m
  for c in t:
    eq = masks.get(c, 0)
    xv = eq | vn
    xh = (((eq & vp) + vp) ^ vp) | eq
    hp = vn | (~(xh | vp) & full)
    hn = vp & xh
    if hp & last:
      d += 1
    elif hn & last:
      d -= 1
    # row 0 of the DP grows by one per column: shift a 1 into hp
    hp = ((hp << 1) | 1) & full
    hn = (hn << 1) & full
    vp = hn | (~(xv | hp) & full)
    vn = hp & xv
  return d


def edit_distance_capped(s1: str, s2: str, cap: int) -> int:
  """min(edit_distance(s1, s2), cap) — EXACT below the cap.

  Bit-parallel over the longer string (any length: Python ints have no
  word size), one loop step per character of the shorter.  Strings
  whose lengths differ by >= cap skip the scan.  Callers use it where
  every distance >= cap maps to the same score (taper hits 0), so the
  cap is lossless."""
  if abs(len(s1) - len(s2)) >= cap:
    return cap
  if len(s1) < len(s2):
    s1, s2 = s2, s1
  if not s2:
    return len(s1)
  d = _bit_parallel_distance(_match_masks(s1), len(s1), s2)
  return d if d < cap else cap


def date_likeness(text: str) -> float:
  """reference: type_scoring.py:6-50.  Canonicalize then min relative edit
  distance against the six date patterns (iteration order preserved —
  str.replace chains match the reference exactly)."""
  if len(text) > 20:
    return 0.0
  text = text.upper()
  for m in _LONG_MONTHS:
    text = text.replace(m, 'JAN')
  for m in _SHORT_MONTHS:
    text = text.replace(m, 'JAN')
  for digit in '012345678':
    text = text.replace(digit, '9')
  text = text.replace('/', '-')
  text = text.replace('9.9', '9-9')
  text = text.replace('.', ' ')
  text = text.replace(',', ' ')
  text = '99'.join(text.rsplit('9999', 1))
  text = '-'.join(text.split())
  return _canonical_date_likeness(text)


# (length, match masks) of each date pattern, built once
_DATE_PATTERN_MASKS = tuple((len(p), _match_masks(p))
                            for p in _DATE_PATTERNS)


@lru_cache(maxsize=1 << 16)
def _canonical_date_likeness(text: str) -> float:
  """date_likeness of an already canonical text.  Canonical texts repeat
  heavily (every digit is '9', every month 'JAN'), hence the memo.

  Capped distances are lossless here: a pattern capped at
  cap > 0.3·maxlen contributes likeness 1 - cap/maxlen < 0.7, which can
  neither cross the DATE_MIN_SCORE=0.7 keep-floor nor beat an exact
  >= 0.7 max — kept entities get the bit-exact reference value
  (asserted by tests/test_entity_gen.py's pool bit-equality), and the
  cap keeps every value equal to the scalar DP's
  (tests/test_entity_gen_kernels.py)."""
  n = len(text)
  best = 0.0  # every pattern scores > 0: cap <= 0.3·m + 2 < m (m >= 7)
  for lp, masks in _DATE_PATTERN_MASKS:
    m = max(lp, n)
    cap = int(0.3 * m) + 2
    if abs(lp - n) >= cap:
      d = cap
    else:
      d = min(_bit_parallel_distance(masks, lp, text), cap)
    v = 1 - d / m
    if v > best:
      best = v
  return best


# ---------------------------------------------------------------------------
# Dollar typer — reference: type_scoring.py:53-125, dollar_amounts.py.
# ---------------------------------------------------------------------------

_DIGITS = '0123456789'
_SEPS = ',. '
_SYMBOLS = '$'
_OTHER_LEGAL = '*'
_LEGAL = _DIGITS + _SEPS + _SYMBOLS + _OTHER_LEGAL


def dollar_amount_likeness(text: str) -> float:
  """reference: type_scoring.py:53-125."""
  if text == '.00':
    return 1.0
  if len(text) > 15:
    return 0.0

  num_digits = sum(1 for c in text if c in _DIGITS)
  num_seps = sum(1 for c in text if c in _SEPS)
  num_symbols = sum(1 for c in text if c in _SYMBOLS)
  num_other = sum(1 for c in text if c in _OTHER_LEGAL)
  num_legal = num_digits + num_seps + num_symbols + num_other

  if num_digits > 14 or len(text) < 3:
    return 0.0

  prefix_trash = 0
  for c in text:
    if c in _LEGAL:
      break
    prefix_trash += 1
  suffix_trash = 0
  for c in reversed(text):
    if c in _LEGAL:
      break
    suffix_trash += 1

  trimmed = text[prefix_trash:len(text) - suffix_trash]

  cents_trash = 0
  if len(trimmed) > 0 and trimmed[-1] not in _DIGITS:
    cents_trash += 1
  if len(trimmed) > 1 and trimmed[-2] not in _DIGITS:
    cents_trash += 1
  if len(trimmed) > 2 and trimmed[-3] not in _SEPS:
    cents_trash += 1

  min_num_digits = 3
  max_num_seps = int(0.25 * (num_legal - num_symbols))
  max_num_symbols = 1

  error = len(trimmed) - num_legal
  error += max(0, min_num_digits - num_digits)
  error += max(0, num_seps - max_num_seps)
  error += max(0, num_symbols - max_num_symbols)
  error += prefix_trash + suffix_trash + cents_trash

  # taper_error(error, 0, 0.5*len(text)) — type_scoring.py:112-125.
  # NOTE reference taper uses len of the *trimmed* text (text was rebound).
  tol, taper = 0.0, 0.5 * len(trimmed)
  err = max(0.0, error - tol)
  if err == 0.0:
    return 1.0
  if taper == 0.0:
    return 0.0
  return abs(1.0 - min(1.0, err / taper))


def dollar_score(words: Sequence[str]) -> float:
  """reference: dollar_amounts.py:26-47, over a phrase's word texts.
  The children are the contiguous word subsequences
  (dollar_amounts.py:12-23), joined only once the phrase scores."""
  n = len(words)
  score = dollar_amount_likeness(' '.join(words))
  score = min(1.0, max(0.0, score - 0.01 + 0.01 * n / 10))
  if score == 0:
    return 0.0
  best = 0.0
  for i in range(n):
    for j in range(i + 1, n + 1):
      cs = dollar_amount_likeness(' '.join(words[i:j]))
      v = cs + (1 - cs) * score
      if v > best:
        best = v
  return best


# ---------------------------------------------------------------------------
# Document assembly — reference: build_document.py:46-170.
# ---------------------------------------------------------------------------

def build_doc_pool(
    name: str,
    pages: List[dict],
) -> DocPool:
  """Build the entity pool for one document.

  Args:
    name: document name (doc_id).
    pages: list of dicts with keys:
      'page_number' (int, 1-based), 'width', 'height' (page dims),
      'words': list of (text, x0, x1, y0, y1) in PAGE-LOCAL coordinates.
      Pages are stacked vertically, left-aligned; y-offsets equal the sum
      of prior page heights (reference: build_document.py:49-69).
  """
  pool = DocPool(name=name)

  # Pages + words with y-offsets.
  all_word_text: List[str] = []
  awx0, awx1, awy0, awy1 = [], [], [], []
  page_word_ranges: List[Tuple[int, int]] = []
  ppx0, ppx1, ppy0, ppy1 = [], [], [], []
  offset = 0.0
  for pg in pages:
    pool.page_number.append(int(pg['page_number']))
    ppx0.append(0.0)
    ppx1.append(float(pg['width']))
    ppy0.append(offset)
    ppy1.append(offset + float(pg['height']))
    start = len(all_word_text)
    for (t, x0, x1, y0, y1) in pg['words']:
      if not t:
        continue  # empty text discarded (build_document.py:94-96)
      all_word_text.append(t)
      awx0.append(float(x0))
      awx1.append(float(x1))
      awy0.append(float(y0) + offset)
      awy1.append(float(y1) + offset)
    page_word_ranges.append((start, len(all_word_text)))
    offset += float(pg['height'])

  pool.word_text = all_word_text
  pool.wx0 = np.asarray(awx0, dtype=np.float64)
  pool.wx1 = np.asarray(awx1, dtype=np.float64)
  pool.wy0 = np.asarray(awy0, dtype=np.float64)
  pool.wy1 = np.asarray(awy1, dtype=np.float64)
  pool.px0 = np.asarray(ppx0, dtype=np.float64)
  pool.px1 = np.asarray(ppx1, dtype=np.float64)
  pool.py0 = np.asarray(ppy0, dtype=np.float64)
  pool.py1 = np.asarray(ppy1, dtype=np.float64)

  # Phrases per page.
  etype: List[str] = []
  etext: List[str] = []
  ewords: List[Tuple[int, ...]] = []
  ex0: List[float] = []
  ex1: List[float] = []
  ey0: List[float] = []
  ey1: List[float] = []
  emax: List[float] = []
  eocr: List[float] = []
  elik: List[float] = []

  def add_entity(t: str, words: Tuple[int, ...], text: str,
                 maximality: float, ocr: float, lik: float) -> int:
    etype.append(t)
    etext.append(text)
    ewords.append(words)
    if words:
      ex0.append(min(awx0[i] for i in words))
      ex1.append(max(awx1[i] for i in words))
      ey0.append(min(awy0[i] for i in words))
      ey1.append(max(awy1[i] for i in words))
    else:
      ex0.append(0.0); ex1.append(0.0); ey0.append(0.0); ey1.append(0.0)
    emax.append(maximality)
    eocr.append(ocr)
    elik.append(lik)
    return len(etype) - 1

  text_entity_ids: List[int] = []
  for (pstart, pend) in page_word_ranges:
    rng = list(range(pstart, pend))
    w = _Words(all_word_text[pstart:pend],
               awx0[pstart:pend], awx1[pstart:pend],
               awy0[pstart:pend], awy1[pstart:pend])
    for (tup, maximality, ocr) in build_phrases(w):
      gtup = tuple(rng[i] for i in tup)
      # phrase text = ' '.join of words in tuple (x-sorted) order
      # (reference: entity.py:158-168)
      text = ' '.join(all_word_text[i] for i in gtup)
      eid = add_entity(TYPE_TEXT, gtup, text, maximality, ocr, float('nan'))
      text_entity_ids.append(eid)

  # Dollar amounts and dates over the full entity pool
  # (reference: build_document.py:160-165).
  for eid in text_entity_ids:
    gtup = ewords[eid]
    s = dollar_score([all_word_text[k] for k in gtup])
    if s >= DOLLAR_MIN_SCORE:
      add_entity(TYPE_DOLLAR, gtup, etext[eid], float('nan'), float('nan'), s)

  for eid in text_entity_ids:
    s = date_likeness(etext[eid])
    if s >= DATE_MIN_SCORE:
      add_entity(TYPE_DATE, ewords[eid], etext[eid], float('nan'),
                 float('nan'), s)

  pool.etype = etype
  pool.etext = etext
  pool.ewords = ewords
  pool.ex0 = np.asarray(ex0, dtype=np.float64)
  pool.ex1 = np.asarray(ex1, dtype=np.float64)
  pool.ey0 = np.asarray(ey0, dtype=np.float64)
  pool.ey1 = np.asarray(ey1, dtype=np.float64)
  pool.maximality = np.asarray(emax, dtype=np.float64)
  pool.ocr_score = np.asarray(eocr, dtype=np.float64)
  pool.likeness = np.asarray(elik, dtype=np.float64)

  # Median line height: multiset of word heights contributed by every
  # entity's word list (reference: bp/document.py:58-78 — entity_words are
  # chained across ALL entities, so a word is counted once per containing
  # entity).
  word_heights = [b - a for a, b in zip(awy0, awy1)]
  heights = [word_heights[wi] for tup in ewords for wi in tup]
  pool.median_line_height = median_word_height(heights)

  # Document bbox = union over pages and entities.
  if len(etype):
    pool.dx0 = min(float(pool.ex0.min()), float(pool.px0.min()))
    pool.dx1 = max(float(pool.ex1.max()), float(pool.px1.max()))
    pool.dy0 = min(float(pool.ey0.min()), float(pool.py0.min()))
    pool.dy1 = max(float(pool.ey1.max()), float(pool.py1.max()))
  elif len(pool.page_number):
    pool.dx0 = float(pool.px0.min()); pool.dx1 = float(pool.px1.max())
    pool.dy0 = float(pool.py0.min()); pool.dy1 = float(pool.py1.max())

  return pool


# ---------------------------------------------------------------------------
# Line segmentation + multiline cluster scoring (reference:
# clustering.py:82-123 `sort_word_cluster`, 332-391
# `compute_multiline_cluster_score`, 394-416 baselines).
#
# The reference's LIVE path never calls these — multiline clusters are
# disabled upstream (build_document.py:143-144) and sort_word_cluster
# serves only synthesis — but they complete the SURVEY §2 operator
# inventory and are parity-tested against the reference's own functions
# (tests/test_entity_gen.py).  A word here is the flat tuple
# (text, x0, x1, y0, y1).
# ---------------------------------------------------------------------------

WordBox = Tuple[str, float, float, float, float]


def sort_word_cluster(boxes: Sequence[Tuple[float, float, float, float]],
                      valid_eps: float = 0.1) -> List[List[int]]:
  """Top-down, left-to-right line segmentation over (x0, x1, y0, y1)
  boxes; returns index lines (reference: clustering.py:82-123 —
  iteratively take the topmost box, form a ±valid_eps·height y-band,
  sweep left-to-right)."""
  remaining = sorted(range(len(boxes)), key=lambda i: boxes[i][0])
  lines: List[List[int]] = []
  while remaining:
    tl = min(remaining, key=lambda i: boxes[i][2])
    c = valid_eps * (boxes[tl][3] - boxes[tl][2])
    ra, rb = boxes[tl][2] - c, boxes[tl][3] + c

    def in_band(i: int) -> bool:
      cy = (boxes[i][2] + boxes[i][3]) / 2
      return ra <= cy <= rb

    lines.append([i for i in remaining if in_band(i)])
    remaining = [i for i in remaining if not in_band(i)]
  return lines


def entity_baseline(words: Sequence[WordBox]) -> float:
  """Text-length-weighted mean of word baselines (bottom y)
  (reference: clustering.py:399-409)."""
  baselines = [w[4] for w in words]
  if len(baselines) == 1:
    return baselines[0]
  lengths = [len(w[0]) for w in words]
  return sum(n * b for n, b in zip(lengths, baselines)) / sum(lengths)


def compute_multiline_cluster_score(words: Sequence[WordBox]) -> float:
  """reference: clustering.py:332-391 (exact formulas, statistics.mean
  included, 0.5 cutoff)."""
  import statistics

  if len(words) == 1:
    return 1.0
  assert len(words) >= 2

  line_heights = [w[4] - w[3] for w in words]
  baseline_separations = [
      abs(entity_baseline([words[i]]) - entity_baseline([words[i + 1]]))
      for i in range(len(words) - 1)]
  average_x = statistics.mean([w[1] for w in words])
  x_deviations = [abs(w[1] - average_x) for w in words]
  average_char_widths = [(w[2] - w[1]) / len(w[0]) for w in words]

  mu = statistics.mean(line_heights)

  min_bs = 1.0 * mu
  dev_from_min = [max(0, min_bs - bs) for bs in baseline_separations]
  max_bs = 1.5 * mu
  dev_from_max = [max(0, bs - max_bs) for bs in baseline_separations]

  s = _score_consistency(line_heights, 0.1 * mu, 0.1 * mu) \
      * _score_consistency(baseline_separations, 0.3 * mu, 0.3 * mu) \
      * _score_deviation(max(x_deviations), 0.5 * mu, 0.5 * mu) \
      * _score_consistency(average_char_widths, 0.4 * mu, 0.5 * mu) \
      * _score_deviation(max(dev_from_max), 0.0 * mu, 0.5 * mu) \
      * _score_deviation(max(dev_from_min), 0.0 * mu, 0.2 * mu)
  return s if s > 0.5 else 0
