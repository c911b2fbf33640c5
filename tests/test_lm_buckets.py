"""CCNet head/middle/tail buckets (Wenzek et al. 2020 §4.3) over
lm_score: sampled per-lang nearest-rank tercile cut points + broadcast
comparison — never a per-language global sort.

Verification: full python recomputation of the sample, the cut points
and every label; tercile balance and ordering properties at full
sample; the lang-absent-from-sample NULL contract; repartition
stability; broadcast plan pin.
"""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from blueprint_oss_spark.ops import textops as T
from blueprint_oss_spark.spark.sources import documents

SF1 = '/root/testdata/sf0.001'
SF2 = '/root/testdata/sf0.01'

FULL = 'f' * 32
HALF = '8' + '0' * 31


def _py_labels(rows, threshold):
  """rows: [(doc_id, lang, lm_score)] -> {doc_id: (t_lo, t_hi, bucket)}"""
  sample = {}
  for did, lang, s in rows:
    if hashlib.md5(str(did).encode()).hexdigest() < threshold:
      sample.setdefault(lang, []).append(s)
  cuts = {}
  for lang, vs in sample.items():
    vs = sorted(vs)
    n = len(vs)
    cuts[lang] = (vs[math.ceil(n / 3) - 1], vs[math.ceil(2 * n / 3) - 1])
  out = {}
  for did, lang, s in rows:
    if lang not in cuts:
      out[did] = (None, None, None)
      continue
    lo, hi = cuts[lang]
    b = 'head' if s > hi else ('middle' if s > lo else 'tail')
    out[did] = (lo, hi, b)
  return out


@pytest.mark.parametrize('sf,threshold', [(SF1, FULL), (SF1, HALF),
                                          (SF2, HALF)])
def test_matches_python_recomputation(spark, sf, threshold):
  got = T.lm_buckets(documents(spark, sf), threshold=threshold).collect()
  exp = _py_labels([(r['doc_id'], r['lang'], r['lm_score'])
                    for r in got], threshold)
  assert len(got) == spark.read.parquet(f'{sf}/documents.parquet') \
      .where(F.length(F.trim('text')) > 0).count()
  for r in got:
    assert (r['lm_t_lo'], r['lm_t_hi'], r['lm_bucket']) \
        == exp[r['doc_id']], r['doc_id']


def test_terciles_are_balanced_and_ordered(spark):
  out = T.lm_buckets(documents(spark, SF2), threshold=FULL).toPandas()
  for lang, g in out.groupby('lang'):
    counts = g['lm_bucket'].value_counts()
    n = len(g)
    # nearest-rank cuts: each bucket holds n/3 +- ties
    for b in ('head', 'middle', 'tail'):
      assert counts.get(b, 0) >= n // 3 - 2, (lang, b, counts)
    # ordering: min(head) > max-boundary of middle etc.
    h = g[g['lm_bucket'] == 'head']['lm_score']
    m = g[g['lm_bucket'] == 'middle']['lm_score']
    t = g[g['lm_bucket'] == 'tail']['lm_score']
    if len(h) and len(m):
      assert h.min() > m.max() or h.min() >= m.max()
      assert h.min() > g['lm_t_hi'].iloc[0]
    if len(m) and len(t):
      assert m.min() > g['lm_t_lo'].iloc[0] >= t.max() \
          or m.min() > t.max()


def test_lang_absent_from_sample_gets_null(spark):
  out = T.lm_buckets(documents(spark, SF1), threshold='0' * 32).toPandas()
  assert len(out) > 0
  assert out['lm_bucket'].isna().all()
  assert out['lm_t_lo'].isna().all()


def test_stable_under_repartition(spark):
  base = T.lm_buckets(documents(spark, SF1)).toPandas()
  docs = spark.read.parquet(f'{SF1}/documents.parquet') \
      .repartition(13, 'doc_id')
  re = T.lm_buckets(docs).toPandas() \
      .sort_values('doc_id').reset_index(drop=True)
  assert re.equals(base.sort_values('doc_id').reset_index(drop=True))


def test_cut_points_ride_a_broadcast(spark):
  plan = T.lm_buckets(documents(spark, SF1))._jdf.queryExecution() \
      .executedPlan().toString()
  assert 'BroadcastHashJoin' in plan
  # assignment adds no window / global sort over the corpus
  assert 'Window' not in plan
