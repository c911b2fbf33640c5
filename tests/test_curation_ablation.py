"""curation_ablation / curation_ablation_report — the per-filter
ablation table (Dolma / RefinedWeb / Gopher appendix style): marginal
removal counts, first-failure funnel attribution in the fixed
production order, and the pairwise-overlap redundancy matrix.

Verified by: a FULL pure-python recomputation of every verdict column
over the sf0.001 corpus (quality ints, planted-PII regex counts, md5
dup groups, 8-gram decon overlap — the exact formulas the operator's
DuckDB oracle uses), the same recomputation with the dup-swarm plant
enabled, report-vs-verdict accounting invariants, and a plan pin (one
window exchange for the dup verdict; the report adds only one global
combinable aggregate).
"""

import hashlib
import re

import duckdb

from blueprint_oss_spark.ops.curation import (
    ABLATION_FILTERS,
    curation_ablation,
    curation_ablation_report,
)

SF_DIR = '/root/testdata/sf0.001'

EMAIL = re.compile(r'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')
PHONE = re.compile(r'\b\d{3}-\d{4}-\d{4}\b')
IPV4 = re.compile(r'\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')

from blueprint_oss_spark.ops.textops import STOPWORDS_EN as STOP
from blueprint_oss_spark.spark.sources import documents


def _load_docs():
  return duckdb.sql(
      f"SELECT doc_id, text FROM '{SF_DIR}/documents.parquet' "
      'ORDER BY doc_id').fetchall()


def _plant(doc_id, text):
  if doc_id % 41 == 3:
    return 'planted duplicate alpha the block'
  if doc_id % 43 == 5:
    return 'planted duplicate beta the block'
  return text


def _quality_fail(text):
  toks = [t for t in text.split(' ') if t]
  n = len(toks)
  sum_len = sum(len(t) for t in toks)
  n_chars = len(text)
  n_alpha = len(re.sub('[^a-zA-Z]', '', text))
  n_stop = sum(1 for t in toks if t in STOP)
  ok = (n >= 5 and n <= 100_000 and sum_len >= 2 * n
        and sum_len <= 12 * n and n_stop >= 1
        and 2 * n_alpha >= n_chars)
  return 0 if ok else 1


def _pii_text(doc_id, text):
  t = text
  if doc_id % 5 == 0:
    t += f' contact u{doc_id}@example.com'
  if doc_id % 7 == 0:
    t += f' call 555-{doc_id % 10000:04d}-0199'
  if doc_id % 11 == 0:
    t += f' from 10.{doc_id % 256}.0.{doc_id % 100}'
  return t


def _grams8(text):
  toks = [t for t in text.lower().strip().split() if t]
  return {' '.join(toks[i:i + 8]) for i in range(len(toks) - 7)}


def _expected(planted, eval_mod=4):
  docs = [(d, _plant(d, t) if planted else t) for d, t in _load_docs()]
  by_md5 = {}
  for d, t in docs:
    by_md5.setdefault(hashlib.md5(t.encode()).hexdigest(), []).append(d)
  dup_min = {h: min(ids) for h, ids in by_md5.items()}
  eval_grams = set()
  for d, t in docs:
    if d % eval_mod == 0:
      eval_grams |= _grams8(t)
  out = {}
  for d, t in docs:
    pt = _pii_text(d, t)
    n_pii = (len(EMAIL.findall(pt)) + len(PHONE.findall(pt))
             + len(IPV4.findall(pt)))
    h = hashlib.md5(t.encode()).hexdigest()
    n_shared = (0 if d % eval_mod == 0
                else len(_grams8(t) & eval_grams))
    flags = {
        'eval': 1 if d % eval_mod == 0 else 0,
        'quality': _quality_fail(t),
        'exact_dup': 0 if dup_min[h] == d else 1,
        'pii': 1 if n_pii > 0 else 0,
        'decon': 1 if n_shared > 0 else 0,
    }
    first = next((f for f in ABLATION_FILTERS if flags[f]), None)
    out[d] = (flags, n_pii, n_shared, first)
  return out


def _check_verdicts(rows, planted):
  exp = _expected(planted)
  assert len(rows) == len(exp)
  for r in rows:
    flags, n_pii, n_shared, first = exp[r['doc_id']]
    assert r['f_eval'] == flags['eval'], r
    assert r['f_quality'] == flags['quality'], r
    assert r['f_dup'] == flags['exact_dup'], r
    assert r['f_pii'] == flags['pii'], r
    assert r['f_decon'] == flags['decon'], r
    assert r['n_pii'] == n_pii, r
    assert r['n_shared'] == n_shared, r
    assert r['first_fail'] == first, r


def test_verdicts_full_recomputation(spark):
  rows = curation_ablation(documents(spark, SF_DIR)).collect()
  _check_verdicts(rows, planted=False)


def test_verdicts_full_recomputation_planted(spark):
  rows = curation_ablation(documents(spark, SF_DIR),
                           plant_for_verification=True).collect()
  _check_verdicts(rows, planted=True)
  # the plant actually creates dup swarms: every planted id except the
  # two swarm minima carries f_dup=1
  planted = [r for r in rows
             if r['doc_id'] % 41 == 3 or r['doc_id'] % 43 == 5]
  assert len(planted) >= 4
  alpha = [r['doc_id'] for r in planted if r['doc_id'] % 41 == 3]
  beta = [r['doc_id'] for r in planted
          if r['doc_id'] % 43 == 5 and r['doc_id'] % 41 != 3]
  for r in planted:
    expect = 0 if r['doc_id'] in (min(alpha), min(beta)) else 1
    assert r['f_dup'] == expect, r


def test_report_accounting(spark):
  v = curation_ablation(documents(spark, SF_DIR),
                        plant_for_verification=True)
  rows = curation_ablation_report(v).collect()
  funnel = {r['filter_a']: r for r in rows if r['section'] == 'funnel'}
  overlap = {(r['filter_a'], r['filter_b']): r['n_both']
             for r in rows if r['section'] == 'overlap'}
  total = funnel['corpus']['n_remaining']
  assert total == 500
  # stage accounting: remaining decreases by exactly the attribution
  prev = total
  for name in ABLATION_FILTERS:
    r = funnel[name]
    assert r['n_attributed'] <= r['n_marginal']
    assert r['n_remaining'] == prev - r['n_attributed']
    prev = r['n_remaining']
  # survivors = docs with no failing filter, cross-checked on verdicts
  survivors = v.where('first_fail IS NULL').count()
  assert prev == survivors
  # the overlap matrix is the full upper triangle and bounded by the
  # marginals
  names = list(ABLATION_FILTERS)
  assert len(overlap) == len(names) * (len(names) - 1) // 2
  for (a, b), n_both in overlap.items():
    assert n_both <= min(funnel[a]['n_marginal'],
                         funnel[b]['n_marginal'])
  # planted swarms make the dup column non-vacuous
  assert funnel['exact_dup']['n_marginal'] > 0


def test_report_matches_python_recomputation(spark):
  exp = _expected(planted=False)
  rows = curation_ablation_report(
      curation_ablation(documents(spark, SF_DIR))).collect()
  funnel = {r['filter_a']: r for r in rows if r['section'] == 'funnel'}
  overlap = {(r['filter_a'], r['filter_b']): r['n_both']
             for r in rows if r['section'] == 'overlap'}
  names = list(ABLATION_FILTERS)
  for i, name in enumerate(names):
    marg = sum(1 for fl, *_ in exp.values() if fl[name])
    attr = sum(1 for *_, first in exp.values() if first == name)
    assert funnel[name]['n_marginal'] == marg
    assert funnel[name]['n_attributed'] == attr
    for b in names[i + 1:]:
      n_both = sum(1 for fl, *_ in exp.values()
                   if fl[name] and fl[b])
      assert overlap[(name, b)] == n_both


def test_plan_shape(spark):
  # ONE window exchange (the md5 dup partition) on the verdict side
  # and, for the report, one global aggregate on top — no Python
  # stages anywhere.
  v = curation_ablation(documents(spark, SF_DIR))
  plan = v._jdf.queryExecution().executedPlan().toString()
  assert 'InMemoryTableScan' not in plan
  assert 'BatchEvalPython' not in plan and 'ArrowEval' not in plan
  assert plan.count('Window') == 1
  r = curation_ablation_report(v)
  rplan = r._jdf.queryExecution().executedPlan().toString()
  assert 'BatchEvalPython' not in rplan and 'ArrowEval' not in rplan
