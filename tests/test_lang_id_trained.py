"""Trained char-bigram NB language identification (lang_id_trained):
full sequential python replica (synthesis, training counts, pinned-fold
posteriors, argmax) with bit-exact doubles, held-out accuracy, and the
plan shape (broadcast model, no Python stages)."""

import hashlib
from decimal import ROUND_HALF_UP, Decimal

from blueprint_oss_spark.ops.textops import (
    LANGID_LANGS, LANGID_POOLS, lang_id_trained,
)
from blueprint_oss_spark.spark.sources import documents

SF1 = '/root/testdata/sf0.001'


def _round6(x: float) -> float:
  return float(Decimal(repr(x)).quantize(Decimal('0.000001'),
                                         ROUND_HALF_UP))


def _replica(doc_ids, n_words=16, pool_size=12, eval_mod=5):
  def word(i, j):
    lang = LANGID_LANGS[i % len(LANGID_LANGS)]
    h = hashlib.md5(f'{i}:{j}'.encode()).hexdigest()
    return lang, LANGID_POOLS[lang][int(h[:8], 16) % pool_size]

  def grams(i):
    out = []
    for j in range(n_words):
      _, w = word(i, j)
      p = f'<{w}>'
      for k in range(len(p) - 1):
        out.append((j * 64 + k, p[k:k + 2]))
    return out

  counts: dict = {}
  totals = {lang: 0 for lang in LANGID_LANGS}
  for i in doc_ids:
    if i % eval_mod == 0:
      continue
    lang = LANGID_LANGS[i % len(LANGID_LANGS)]
    for _, g in grams(i):
      counts.setdefault(g, {l: 0 for l in LANGID_LANGS})[lang] += 1
      totals[lang] += 1
  v = len(counts)

  rows = []
  for i in sorted(doc_ids):
    tlang = LANGID_LANGS[i % len(LANGID_LANGS)]
    gs = sorted(grams(i))
    s = {lang: 0.0 for lang in LANGID_LANGS}
    for _, g in gs:
      c = counts.get(g, {l: 0 for l in LANGID_LANGS})
      ps = {lang: (c[lang] + 1) / (totals[lang] + v)
            for lang in LANGID_LANGS}
      tot = sum(ps[lang] for lang in LANGID_LANGS)
      for lang in LANGID_LANGS:
        s[lang] += ps[lang] / tot
    pred = LANGID_LANGS[-1]
    for idx in range(len(LANGID_LANGS) - 2, -1, -1):
      lang = LANGID_LANGS[idx]
      if all(s[lang] >= s[o] for o in LANGID_LANGS[idx + 1:]):
        pred = lang
    n = len(gs)
    rows.append((i, tlang, int(i % eval_mod == 0), n,
                 *[_round6(s[lang] / n) for lang in LANGID_LANGS],
                 pred, int(pred == tlang)))
  return rows


def test_matches_sequential_replica_bit_exact(spark):
  import duckdb
  ids = [r[0] for r in duckdb.sql(
      f"SELECT doc_id FROM '{SF1}/documents.parquet'").fetchall()]
  got = [tuple(r) for r in lang_id_trained(documents(spark, SF1)).collect()]
  assert got == _replica(ids)


def test_heldout_accuracy_and_both_splits(spark):
  rows = lang_id_trained(documents(spark, SF1)).collect()
  ev = [r for r in rows if r['lid_is_eval'] == 1]
  tr = [r for r in rows if r['lid_is_eval'] == 0]
  assert ev and tr
  # the pools are distinctive enough that the NB should be near-
  # perfect on HELD-OUT docs — the real signal langid must deliver
  assert sum(r['lid_correct'] for r in ev) / len(ev) >= 0.95
  # all four languages appear as predictions
  assert {r['pred_lang'] for r in rows} == set(LANGID_LANGS)


def test_posteriors_normalized(spark):
  for r in lang_id_trained(documents(spark, SF1)).collect():
    tot = r['q_de'] + r['q_en'] + r['q_es'] + r['q_fr']
    assert abs(tot - 1.0) < 1e-4  # rounded to 6dp, 4 terms


def test_docs_seam_and_eval_mod(spark):
  d = spark.range(40).withColumnRenamed('id', 'doc_id')
  rows = lang_id_trained(d, eval_mod=4).collect()
  assert len(rows) == 40
  assert sum(r['lid_is_eval'] for r in rows) == 10


def test_plan_shape(spark):
  plan = lang_id_trained(documents(spark, SF1)) \
      ._jdf.queryExecution().executedPlan().toString()
  assert 'Python' not in plan
  assert 'BroadcastHashJoin' in plan   # model join is broadcast
  assert 'SortMergeJoin' not in plan
