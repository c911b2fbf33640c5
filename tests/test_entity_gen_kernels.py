"""Entity-generation kernels against plain-Python oracles, with no
reference checkout needed:

  * edit_distance_capped (bit-parallel) ≡ min(edit_distance, cap) for
    any lengths, the plain DP being the oracle;
  * date_likeness ≡ the capped-DP formulation it replaced;
  * build_doc_pool's every field over the fixture corpora hashes to
    digests recorded from the scalar-DP / numpy implementation, so
    pools stay bit-identical.
"""

import hashlib

import numpy as np
from hypothesis import given, settings, strategies as st

from blueprint_oss_spark import fixtures
from blueprint_oss_spark.bp_examples.check_fixtures import check_corpus
from blueprint_oss_spark.bp_examples.paystub_fixtures import paystub_corpus
from blueprint_oss_spark.engine.entity_gen import (
    DATE_MIN_SCORE, build_doc_pool, date_likeness, edit_distance,
    edit_distance_capped,
)
from blueprint_oss_spark.engine.runner import spans_to_pages

_SETTINGS = dict(max_examples=400, deadline=None)
# small alphabets → dense matches; lengths past 64 cross a machine word
_TEXT = st.text(alphabet='ab9 .$-X', max_size=12) | \
    st.text(alphabet='abc', min_size=50, max_size=140) | \
    st.text(max_size=30)


@settings(**_SETTINGS)
@given(_TEXT, _TEXT, st.integers(min_value=-1, max_value=160))
def test_edit_distance_capped_is_min_of_plain_dp(s1, s2, cap):
  assert edit_distance_capped(s1, s2, cap) == \
      min(edit_distance(s1, s2), cap)


_DATE_PATTERNS = ('JAN-99-99', 'JAN-99TH-99', '99-JAN-99', '99TH-JAN-99',
                  '99-99-99', '99JAN99')
_MONTHS = ('JANUARY', 'FEBRUARY', 'MARCH', 'APRIL', 'MAY', 'JUNE', 'JULY',
           'AUGUST', 'SEPTEMBER', 'OCTOBER', 'NOVEMBER', 'DECEMBER',
           'JAN', 'FEB', 'MAR', 'APR', 'MAY', 'JUN', 'JUL', 'AUG', 'SEP',
           'OCT', 'NOV', 'DEC')


def _dp_capped(s1, s2, cap):
  """The row-minimum early-exit DP edit_distance_capped used to be."""
  if abs(len(s1) - len(s2)) >= cap:
    return cap
  if not s1 or not s2:
    return min(max(len(s1), len(s2)), cap)
  prev = list(range(len(s2) + 1))
  for i in range(1, len(s1) + 1):
    cur = [i] + [0] * len(s2)
    row_min = i
    for j in range(1, len(s2) + 1):
      v = min(1 + prev[j], 1 + cur[j - 1],
              (s1[i - 1] != s2[j - 1]) + prev[j - 1])
      cur[j] = v
      row_min = min(row_min, v)
    if row_min >= cap:
      return cap
    prev = cur
  return min(prev[len(s2)], cap)


def _dp_date_likeness(text):
  """date_likeness as the capped-DP formulation computed it."""
  if len(text) > 20:
    return 0.0
  text = text.upper()
  for m in _MONTHS:
    text = text.replace(m, 'JAN')
  for digit in '012345678':
    text = text.replace(digit, '9')
  text = text.replace('/', '-').replace('9.9', '9-9')
  text = text.replace('.', ' ').replace(',', ' ')
  text = '99'.join(text.rsplit('9999', 1))
  text = '-'.join(text.split())
  best, first = 0.0, True
  for p in _DATE_PATTERNS:
    m = max(len(p), len(text))
    v = 1 - _dp_capped(p, text, int(0.3 * m) + 2) / m
    if first or v > best:
      best, first = v, False
  return best


_DATE_PIECES = st.sampled_from(
    ['0', '1', '7', '9', '12', '2024', '/', '-', '.', ',', ' ', 'th',
     'TH', 'Jan', 'june', 'SEPT', 'Oct', 'x', '$', '9.9', '19999'])


@settings(**_SETTINGS)
@given(st.lists(_DATE_PIECES, max_size=10).map(''.join) | st.text(
    max_size=24))
def test_date_likeness_matches_capped_dp(text):
  got, want = date_likeness(text), _dp_date_likeness(text)
  assert (got >= DATE_MIN_SCORE) == (want >= DATE_MIN_SCORE)
  assert got == want


def test_date_likeness_kept_dates():
  for text in ('12/31/2024', 'Jan 5, 2024', '5th March 99', '07-04-1999'):
    assert date_likeness(text) == _dp_date_likeness(text) >= DATE_MIN_SCORE


_POOL_FIELDS = (
    'name', 'word_text', 'wx0', 'wx1', 'wy0', 'wy1', 'page_number', 'px0',
    'px1', 'py0', 'py1', 'etype', 'etext', 'ewords', 'ex0', 'ex1', 'ey0',
    'ey1', 'maximality', 'ocr_score', 'likeness', 'median_line_height',
    'dx0', 'dx1', 'dy0', 'dy1')

# sha256 prefix over every pool field of every document, per corpus,
# recorded from the scalar-DP / numpy-indexing implementation
_POOL_DIGESTS = {
    'readme-1': '209e959d7b7e1217',
    'readme-2': '6b95eeb0c8f80de4',
    'readme-3': '6c5d3e168d32f1f9',
    'labelvalue-1': 'fa2ceef823994976',
    'labelvalue-2': '96b4fd3b1429d934',
    'labelvalue-3': '7c5eab7e8a3db6f8',
    'table-1': '3f7845865b0f08a6',
    'table-2': '44bb102760b681e6',
    'table-3': 'ed0e364872e421f0',
    'multipage-1': 'c7f91e212e20c848',
    'multipage-2': '7ddf0a6a0cbc091d',
    'multipage-3': '8c7c1f48a464ef35',
    'adversarial-1': '9a69d2e3303a8c54',
    'adversarial-2': '512c54fb1f9bb2c8',
    'adversarial-3': '1dc040ccd2faef7b',
    'paystub': 'd0695fbf05c63828',
    'check': '1463262ee24d9eb7',
}


def _corpora():
  for name in ('readme', 'labelvalue', 'table', 'multipage',
               'adversarial'):
    make = getattr(fixtures, f'{name}_corpus')
    for seed in (1, 2, 3):
      yield f'{name}-{seed}', make(200, seed=seed)
  yield 'paystub', paystub_corpus(60)
  yield 'check', check_corpus(40)


def _pool_digest(pool):
  h = hashlib.sha256()
  for f in _POOL_FIELDS:
    v = getattr(pool, f)
    if isinstance(v, np.ndarray):
      h.update(str(v.dtype).encode())
      h.update(v.tobytes())
    else:
      h.update(repr(v).encode())
    h.update(b'|')
  return h.hexdigest()


def test_build_doc_pool_digests():
  got = {}
  for name, docs in _corpora():
    h = hashlib.sha256()
    for doc_id, spans in docs:
      pool = build_doc_pool(doc_id, spans_to_pages(spans))
      h.update(_pool_digest(pool).encode())
    got[name] = h.hexdigest()[:16]
  assert got == _POOL_DIGESTS
