"""corpus_split_mix: stable split/shard/order assignment + exact
greedy token-budget mixture prefix, cross-checked against a sequential
pure-Python recomputation (md5 hashes + per-source greedy walk), plus
seam and scale-shape pins (the bucket acceleration must equal the
naive global greedy exactly, and the window must only ever see the
crossing bucket's rows)."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from blueprint_oss_spark.ops.curation import corpus_split_mix
from blueprint_oss_spark.spark.sources import documents

SF = '/root/testdata/sf0.001'


def _h(salt: str, doc_id) -> int:
  return int(hashlib.md5(f'{salt}:{doc_id}'.encode()).hexdigest()[:8],
             16)


def _ref(docs, *, budget=800, train_pct=90, valid_pct=5, n_shards=8):
  """Sequential recomputation: per-source greedy prefix over the full
  (order_key, doc_id) order — no bucketing."""
  rows = {}
  by_src: dict = {}
  for doc_id, source, text in docs:
    n = len([t for t in text.split(' ') if t])
    sh = _h('split', doc_id) % 100
    split = ('train' if sh < train_pct
             else 'valid' if sh < train_pct + valid_pct else 'test')
    rows[doc_id] = {
        'source': source, 'n_tokens': n, 'split': split,
        'shard': _h('shard', doc_id) % n_shards,
        'order_key': _h('order', doc_id),
    }
    by_src.setdefault(source, []).append(doc_id)
  for source, ids in by_src.items():
    ids.sort(key=lambda d: (rows[d]['order_key'], d))
    cum = 0
    for d in ids:
      rows[d]['mix_keep'] = 1 if cum < budget else 0
      cum += rows[d]['n_tokens']
  return rows


def test_matches_sequential_python(spark):
  docs = [(r['doc_id'], r['source'], r['text']) for r in
          spark.read.parquet(f'{SF}/documents.parquet').collect()]
  exp = _ref(docs)
  out = corpus_split_mix(documents(spark, SF)).collect()
  assert len(out) == len(exp)
  for r in out:
    e = exp[r['doc_id']]
    got = {k: r[k] for k in ('source', 'n_tokens', 'split', 'shard',
                             'order_key', 'mix_keep')}
    assert got == e, (r['doc_id'], got, e)


def test_greedy_budget_property(spark):
  """The crossing doc is included: per source, kept token mass is >=
  the budget whenever the source has enough supply, and dropping the
  LAST kept doc (by order) brings it back under budget (minimality)."""
  out = corpus_split_mix(documents(spark, SF)).collect()
  by_src: dict = {}
  for r in out:
    by_src.setdefault(r['source'], []).append(r)
  for source, rows in by_src.items():
    total = sum(r['n_tokens'] for r in rows)
    kept = [r for r in rows if r['mix_keep']]
    kept_toks = sum(r['n_tokens'] for r in kept)
    if total >= 800:
      assert kept_toks >= 800, source
      last = max(kept, key=lambda r: (r['order_key'], r['doc_id']))
      assert kept_toks - last['n_tokens'] < 800, source
    else:
      assert kept_toks == total, source  # keep everything


def test_docs_seam_and_bucket_edges(spark):
  """Hand-built corpus hitting the bucket-acceleration edges: a source
  whose budget crosses mid-bucket, a source that never reaches the
  budget (sentinel: keep all), and a source whose first doc alone
  crosses (crossing bucket == first nonempty bucket)."""
  rows = []
  # 'small': 3 docs of 10 tokens — total 30 < 35 budget → all kept
  for i in range(3):
    rows.append((1000 + i, 'small', ' '.join(['w'] * 10)))
  # 'big': first doc in order crosses a 35-token budget alone
  rows.append((2000, 'big', ' '.join(['w'] * 50)))
  rows.append((2001, 'big', ' '.join(['w'] * 50)))
  # 'many': 20 docs of 10 tokens → greedy keeps exactly 4 (cum 30<35)
  for i in range(20):
    rows.append((3000 + i, 'many', ' '.join(['w'] * 10)))
  d = spark.createDataFrame(rows, 'doc_id long, source string, '
                                  'text string')
  out = corpus_split_mix(d, per_source_tokens=35) \
      .collect()
  exp = _ref([tuple(r) for r in rows], budget=35)
  for r in out:
    assert r['mix_keep'] == exp[r['doc_id']]['mix_keep'], r
  kept_small = [r for r in out if r['source'] == 'small'
                and r['mix_keep']]
  assert len(kept_small) == 3
  kept_big = sorted((r for r in out if r['source'] == 'big'
                     and r['mix_keep']),
                    key=lambda r: (r['order_key'], r['doc_id']))
  assert len(kept_big) == 1
  kept_many = [r for r in out if r['source'] == 'many'
               and r['mix_keep']]
  assert len(kept_many) == 4
  assert sum(r['n_tokens'] for r in kept_many) == 40


def test_split_stability_and_independence(spark):
  """Split assignment is a pure function of doc_id: unchanged when the
  corpus is subset (no doc migrates between train and test), and the
  three salted hashes are pairwise distinct (independent axes)."""
  full = {r['doc_id']: r
          for r in corpus_split_mix(documents(spark, SF)).collect()}
  d = spark.read.parquet(f'{SF}/documents.parquet') \
      .where(F.col('doc_id') % 3 == 0)
  sub = corpus_split_mix(d).collect()
  assert sub and all(full[r['doc_id']]['split'] == r['split']
                     and full[r['doc_id']]['shard'] == r['shard']
                     and full[r['doc_id']]['order_key'] == r['order_key']
                     for r in sub)
  some = next(iter(full))
  assert len({_h('split', some), _h('shard', some),
              _h('order', some)}) == 3


def test_plan_window_only_on_crossing_bucket(spark):
  """Scale-shape pin: the one Window in the plan sits above a Filter
  selecting bucket == cb (the crossing bucket), i.e. the running sum
  never runs over a full source partition; all other branches are
  window-free map passes over the broadcast-joined base."""
  plan = corpus_split_mix(documents(spark, SF))._jdf.queryExecution() \
      .optimizedPlan().toString()
  assert plan.count('Window') == 1, plan
  win_at = plan.index('Window')
  after = plan[win_at:]
  # the bucket == cb restriction may survive as a Filter or be folded
  # into the broadcast join condition (bucket#N = cast(cb#M as bigint))
  import re
  assert re.search(r'bucket#\d+L? = (cast\()?cb#', after), plan
  # mixture limits ride a broadcast, never a shuffled join
  assert 'SortMergeJoin' not in corpus_split_mix(documents(spark, SF)) \
      ._jdf.queryExecution().executedPlan().toString()
