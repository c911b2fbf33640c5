"""DSIR-style importance selection (dsir_importance_select): planted
target-distinctive vocabulary, the production target_docs= seam, a
sequential python recomputation at sf0.001, and the plan shape."""

from collections import Counter

import pytest
from blueprint_oss_spark.spark.sources import documents


def _h(s, m=64):
  acc = 0
  for ch in s:
    acc = (acc * 31 + ord(ch)) % 2147483647
  return acc % m


def _feats(text):
  w = [t for t in text.split(' ') if t]
  return w + [f'{a} {b}' for a, b in zip(w, w[1:])]


def _ref(docs, target_ids, m=64):
  """Sequential recomputation: target side counted from target_ids
  rows of the same pool (the default lang-based shape)."""
  cnt_r, cnt_t = Counter(), Counter()
  per_doc = {}
  for d, lang, text in docs:
    bs = [_h(f, m) for f in _feats(text)]
    per_doc[d] = bs
    for b in bs:
      cnt_r[b] += 1
      if d in target_ids:
        cnt_t[b] += 1
  n_r = sum(cnt_r.values())
  n_t = sum(cnt_t.values())
  out = []
  for d, lang, text in sorted(docs):
    sc = sum(cnt_t[b] * n_r - cnt_r[b] * n_t for b in per_doc[d])
    out.append((d, lang, len(per_doc[d]), sc, int(sc > 0)))
  return out


def _write(spark, tmp_path, docs):
  from pyspark.sql import functions as F
  spark.createDataFrame(docs, 'doc_id long, lang string, text string') \
      .withColumn('source', F.lit('t')) \
      .write.mode('overwrite') \
      .parquet(str(tmp_path / 'documents.parquet'))


def test_planted_target_vocabulary(spark, tmp_path):
  # 'en' docs use a disjoint vocabulary -> en docs score > 0, rest < 0
  docs = ([(i, 'en', 'alpha beta gamma delta alpha beta')
           for i in range(6)]
          + [(10 + i, 'de', 'eins zwei drei vier eins zwei')
             for i in range(6)])
  _write(spark, tmp_path, docs)
  from blueprint_oss_spark.ops.curation import dsir_importance_select
  got = [tuple(r) for r in
         dsir_importance_select(documents(spark, str(tmp_path))).collect()]
  assert got == _ref(docs, {d for d, l, _ in docs if l == 'en'})
  assert all(sel == 1 for d, l, nf, sc, sel in got if l == 'en')
  assert all(sel == 0 for d, l, nf, sc, sel in got if l == 'de')


def test_empty_and_single_token_docs(spark, tmp_path):
  docs = [(0, 'en', ''), (1, 'en', 'solo'), (2, 'de', 'x y z')]
  _write(spark, tmp_path, docs)
  from blueprint_oss_spark.ops.curation import dsir_importance_select
  got = [tuple(r) for r in
         dsir_importance_select(documents(spark, str(tmp_path))).collect()]
  assert got == _ref(docs, {0, 1})
  assert got[0] == (0, 'en', 0, 0, 0)  # no features -> neutral
  assert got[1][2] == 1                # unigram only, no bigram


def test_target_docs_seam(spark, tmp_path):
  """Production shape: target distribution from a SEPARATE fixed
  corpus; raw pool counts must exclude the target table's rows."""
  pool = [(0, 'xx', 'alpha beta alpha'), (1, 'xx', 'eins zwei eins')]
  _write(spark, tmp_path, pool)
  from blueprint_oss_spark.ops.curation import dsir_importance_select
  target = spark.createDataFrame([('alpha beta alpha beta',)],
                                 'text string')
  got = {r.doc_id: r for r in
         dsir_importance_select(documents(spark, str(tmp_path)),
                                target_docs=target).collect()}
  # doc 0 shares the target's vocabulary, doc 1 shares nothing
  assert got[0].selected == 1 and got[0].score > 0
  assert got[1].selected == 0 and got[1].score < 0
  # recompute exactly: raw counts from pool only, target counts from
  # the separate table
  cnt_r, cnt_t = Counter(), Counter()
  for d, l, t in pool:
    for f in _feats(t):
      cnt_r[_h(f)] += 1
  for f in _feats('alpha beta alpha beta'):
    cnt_t[_h(f)] += 1
  n_r, n_t = sum(cnt_r.values()), sum(cnt_t.values())
  for d, l, t in pool:
    sc = sum(cnt_t[_h(f)] * n_r - cnt_r[_h(f)] * n_t for f in _feats(t))
    assert got[d].score == sc


def test_sf0001_matches_python(spark):
  import duckdb
  docs = duckdb.sql(
      "SELECT doc_id, lang, text FROM "
      "'/root/testdata/sf0.001/documents.parquet' ORDER BY doc_id"
  ).fetchall()
  from blueprint_oss_spark.ops.curation import dsir_importance_select
  got = [tuple(r) for r in
         dsir_importance_select(documents(spark, '/root/testdata/sf0.001'))
         .collect()]
  assert got == _ref(docs, {d for d, l, _ in docs if l == 'en'})
  # the selection must actually lean toward the target language
  rate = {}
  for d, l, nf, sc, sel in got:
    rate.setdefault(l, [0, 0])
    rate[l][0] += sel
    rate[l][1] += 1
  en = rate['en'][0] / rate['en'][1]
  others = [v[0] / v[1] for k, v in rate.items() if k != 'en']
  assert en > max(others)


def test_plan_shape(spark):
  from blueprint_oss_spark.ops.curation import dsir_importance_select
  df = dsir_importance_select(documents(spark, '/root/testdata/sf0.001'))
  plan = df._jdf.queryExecution().executedPlan().toString()
  assert 'Python' not in plan
  # the m-row weight table broadcasts onto the per-doc bucket counts
  assert 'BroadcastExchange' in plan
  # bucket-count aggregations do map-side partial aggregation
  assert 'partial_count' in plan or 'HashAggregate' in plan
