"""lm_score: distributed add-one bigram LM quality scoring,
cross-checked against a sequential pure-Python recomputation (same
pinned fold order), plus hand-computed OOV behaviour through the
train_docs seam and short-doc edges."""

from __future__ import annotations

from blueprint_oss_spark.ops.textops import lm_score
from blueprint_oss_spark.spark.sources import documents

SF = '/root/testdata/sf0.001'


def _ref(score_docs, train_docs):
  """Sequential recomputation: add-one bigram LM, mean token
  probability, left-to-right sum in position order."""
  uni: dict = {}
  bi: dict = {}
  for _, text in train_docs:
    t = [w for w in text.split(' ') if w]
    for w in t:
      uni[w] = uni.get(w, 0) + 1
    for i in range(len(t) - 1):
      g = f'{t[i]} {t[i + 1]}'
      bi[g] = bi.get(g, 0) + 1
  v = len(uni)
  tt = sum(uni.values())
  out = {}
  for doc_id, text in score_docs:
    t = [w for w in text.split(' ') if w]
    if not t:
      continue
    total = (uni.get(t[0], 0) + 1) / (tt + v)
    for i in range(len(t) - 1):
      g = f'{t[i]} {t[i + 1]}'
      total += (bi.get(g, 0) + 1) / (uni.get(t[i], 0) + v)
    out[doc_id] = (len(t), total / len(t))
  return out


def test_matches_sequential_python(spark):
  docs = [(r['doc_id'], r['text']) for r in
          spark.read.parquet(f'{SF}/documents.parquet')
          .select('doc_id', 'text').collect()]
  exp = _ref(docs, docs)
  out = lm_score(documents(spark, SF)).collect()
  assert len(out) == len(exp)
  for r in out:
    n, score = exp[r['doc_id']]
    assert r['n_scored'] == n
    # operator output is rounded to 6 dp; half-a-ulp-of-rounding slack
    assert abs(r['lm_score'] - score) <= 5.001e-7, (r, score)


def test_train_seam_and_oov(spark):
  """Train on one corpus, score another: a fully-OOV doc scores the
  smoothing floor exactly — first token (0+1)/(T+V), every bigram
  (0+1)/(0+V) — and an in-vocab doc reproduces hand arithmetic."""
  train = spark.createDataFrame(
      [(100, 'a b a b c')], 'doc_id long, text string')
  score = spark.createDataFrame(
      [(1, 'a b c'),       # all seen
       (2, 'x y'),         # fully OOV
       (3, 'a')],          # single token: p0 only
      'doc_id long, text string')
  out = {r['doc_id']: r for r in
         lm_score(score, train_docs=train).collect()}
  # model: uni a=2 b=2 c=1 (V=3, T=5); bi 'a b'=2 'b a'=1 'b c'=1
  p1 = ((2 + 1) / (5 + 3) + (2 + 1) / (2 + 3) + (1 + 1) / (2 + 3)) / 3
  p2 = ((0 + 1) / (5 + 3) + (0 + 1) / (0 + 3)) / 2
  p3 = (2 + 1) / (5 + 3)
  assert abs(out[1]['lm_score'] - p1) <= 5.001e-7
  assert abs(out[2]['lm_score'] - p2) <= 5.001e-7
  assert abs(out[3]['lm_score'] - p3) <= 5.001e-7
  assert (out[1]['n_scored'], out[2]['n_scored'],
          out[3]['n_scored']) == (3, 2, 1)


def test_tokenless_docs_absent_and_no_cartesian(spark):
  d = spark.createDataFrame(
      [(1, 'a b'), (2, ''), (3, '   ')], 'doc_id long, text string')
  out = lm_score(d, train_docs=d).collect()
  assert [r['doc_id'] for r in out] == [1]
  plan = lm_score(documents(spark, SF))._jdf.queryExecution() \
      .executedPlan().toString()
  assert 'CartesianProduct' not in plan
