"""incremental_dedup: new-batch-vs-corpus dedup verdicts cross-checked
against a sequential pure-Python recomputation (hash set + exact
shingle-Jaccard scan), plus hand-built verdict/tie-break cases via the
batch/corpus frames and the max_shingle_df corpus posting-list cap."""

from __future__ import annotations

from pyspark.sql import functions as F

from blueprint_oss_spark.ops.textops import (increment_split,
                                             incremental_dedup)
from blueprint_oss_spark.spark.sources import documents

SF = '/root/testdata/sf0.001'


def _shingles(text: str, k: int = 3) -> set:
  t = [w for w in text.split(' ') if w]
  return {' '.join(t[i:i + k]) for i in range(len(t) - k + 1)}


def _ref(batch, corpus, *, threshold=0.5, k=3):
  """Sequential recomputation: exact hash lookup, then best exact
  Jaccard over the full corpus (max jaccard, tie -> lowest cid)."""
  by_text: dict = {}
  for cid, text in corpus:
    by_text.setdefault(text, []).append(cid)
  csh = [(cid, _shingles(text, k)) for cid, text in corpus]
  out = {}
  for doc_id, text in batch:
    if text in by_text:
      out[doc_id] = ('exact', min(by_text[text]), None)
      continue
    s = _shingles(text, k)
    best = None
    for cid, cs in csh:
      inter = len(s & cs)
      if not inter:
        continue
      jac = inter / (len(s) + len(cs) - inter)
      if jac >= threshold and (best is None or jac > best[0]
                               or (jac == best[0] and cid < best[1])):
        best = (jac, cid)
    out[doc_id] = (('near', best[1], round(best[0], 4)) if best
                   else ('new', None, None))
  return out


def test_matches_sequential_python(spark):
  rows = documents(spark, SF).select('doc_id', 'text').collect()
  batch = [(r['doc_id'], r['text']) for r in rows if r['doc_id'] % 10 == 0]
  corpus = [(r['doc_id'], r['text']) for r in rows if r['doc_id'] % 10 != 0]
  exp = _ref(batch, corpus)
  out = incremental_dedup(
      *increment_split(documents(spark, SF))).collect()
  assert len(out) == len(exp) == len(batch)
  assert {r['verdict'] for r in out} >= {'near', 'new'}  # real signal
  for r in out:
    assert (r['verdict'], r['match_id'], r['jac_r']) == exp[r['doc_id']], r


def test_verdicts_and_tie_break(spark):
  """Hand-built increment: an exact dup (lowest cid wins among two
  identical corpus docs), a near dup with two equal-Jaccard corpus
  matches (lowest cid wins), a genuinely new doc, and a doc too short
  to shingle (no grams -> new, not a crash)."""
  text_a = 'alpha beta gamma delta epsilon zeta'
  # token-disjoint from text_a so the exact twins never tie with it
  near_b = 'red orange yellow green blue'
  corpus = [(100, text_a), (50, text_a),          # exact twins
            (200, near_b + ' indigo'), (201, near_b + ' indigo'),
            (300, 'totally unrelated words here again')]
  batch = [(1, text_a),          # exact -> min(50, 100) = 50
           (2, near_b),          # near: equal jac to 200 and 201 -> 200
           (3, 'nothing in common with anything stored'),
           (4, 'xy')]            # < shingle width
  b = spark.createDataFrame(batch, 'doc_id long, text string')
  c = spark.createDataFrame(corpus, 'doc_id long, text string')
  out = {r['doc_id']: r for r in
         incremental_dedup(b, c, threshold=0.3).collect()}
  assert (out[1]['verdict'], out[1]['match_id']) == ('exact', 50)
  assert (out[2]['verdict'], out[2]['match_id']) == ('near', 200)
  exp = _ref(batch, corpus, threshold=0.3)
  assert out[2]['jac_r'] == exp[2][2]
  assert out[3]['verdict'] == 'new' and out[3]['match_id'] is None
  assert out[4]['verdict'] == 'new'


def test_max_shingle_df_caps_hot_postings(spark):
  """A stopword-ish shingle shared by every corpus doc fans each batch
  probe out |corpus| ways; with the cap it is dropped from the join
  while sizes keep full counts, so Jaccard only undercounts."""
  hot = 'the quick brown'   # one hot 3-gram, planted everywhere
  corpus = [(i, f'{hot} filler{i} filler{i} unique{i} tokens{i} x{i}')
            for i in range(20)]
  # batch doc nearly identical to corpus doc 7
  batch = [(1, f'{hot} filler7 filler7 unique7 tokens7 y')]
  b = spark.createDataFrame(batch, 'doc_id long, text string')
  c = spark.createDataFrame(corpus, 'doc_id long, text string')
  exact = {r['doc_id']: r for r in incremental_dedup(
      b, c, threshold=0.3).collect()}
  capped = {r['doc_id']: r for r in incremental_dedup(
      b, c, threshold=0.3, max_shingle_df=5).collect()}
  assert exact[1]['verdict'] == 'near' and exact[1]['match_id'] == 7
  assert capped[1]['verdict'] == 'near' and capped[1]['match_id'] == 7
  assert capped[1]['jac_r'] <= exact[1]['jac_r']  # undercount only


def test_seam_validation_and_plan_shape(spark):
  import pytest
  batch, corpus = increment_split(documents(spark, SF))
  with pytest.raises(TypeError):  # the corpus is not optional
    incremental_dedup(batch)
  # scale pin: no cartesian product anywhere; every join is keyed
  plan = incremental_dedup(batch, corpus)._jdf.queryExecution() \
      .executedPlan().toString()
  assert 'CartesianProduct' not in plan
  assert 'BroadcastNestedLoopJoin' not in plan


def test_fuzz_corpus_vs_sequential(spark):
  """Seeded fuzz: 120 adversarial docs (empty, whitespace-only,
  sub-shingle-width, exact-dup swarms, shared-prefix near-dups,
  unicode) split batch/corpus, one Spark pass vs the sequential
  recomputation."""
  import random
  rng = random.Random(4242)
  vocab = ['tok%d' % i for i in range(30)] + ['ü', '∂', 'x']
  rows = []
  for i in range(120):
    kind = rng.randrange(6)
    if kind == 0:
      text = ''
    elif kind == 1:
      text = '   '
    elif kind == 2:
      text = ' '.join(rng.choices(vocab, k=rng.randrange(1, 3)))
    elif kind == 3:           # exact-dup swarm material
      text = 'dup swarm body alpha beta gamma'
    elif kind == 4:           # shared prefix, varying tail
      text = ('common prefix run one two three four ' +
              ' '.join(rng.choices(vocab, k=rng.randrange(0, 4))))
    else:
      text = ' '.join(rng.choices(vocab, k=rng.randrange(3, 25)))
    rows.append((i, text))
  batch = [(i, t) for i, t in rows if i % 4 == 0]
  corpus = [(i, t) for i, t in rows if i % 4 != 0]
  b = spark.createDataFrame(batch, 'doc_id long, text string')
  c = spark.createDataFrame(corpus, 'doc_id long, text string')
  out = incremental_dedup(b, c, threshold=0.4).collect()
  exp = _ref(batch, corpus, threshold=0.4)
  assert len(out) == len(batch)
  for r in out:
    assert (r['verdict'], r['match_id'], r['jac_r']) == \
        exp[r['doc_id']], (r, exp[r['doc_id']])
