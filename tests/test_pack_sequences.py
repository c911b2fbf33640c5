"""Sequence packing (concat-and-chunk): cross-checked against a
sequential pure-Python recomputation per shard, plus the scale-shape
pin (one window shuffle, partitioned by shard)."""

from __future__ import annotations

from blueprint_oss_spark.ops.textops import pack_sequences
from blueprint_oss_spark.spark.sources import documents

SF = '/root/testdata/sf0.001'


def test_matches_sequential_python(spark):
  out = {r['doc_id']: r
         for r in pack_sequences(documents(spark, SF)).collect()}
  docs = sorted(
      (r['doc_id'], r['text']) for r in
      spark.read.parquet(f'{SF}/documents.parquet').collect())
  assert len(out) == len(docs)

  max_tokens, shards = 256, 8
  cum = {s: 0 for s in range(shards)}
  for doc_id, text in docs:  # doc_id order == per-shard order
    n = len([t for t in text.split(' ') if t])
    shard = doc_id % shards
    before = cum[shard]
    cum[shard] += n
    r = out[doc_id]
    assert r['shard'] == shard and r['n_tokens'] == n
    assert r['tokens_before'] == before
    assert r['chunk_first'] == before // max_tokens
    last = (cum[shard] - 1) // max_tokens if n > 0 \
        else before // max_tokens
    assert r['chunk_last'] == last, (doc_id, r)
    assert r['n_chunks'] == last - r['chunk_first'] + 1

  # the corpus actually exercises straddling docs
  assert any(r['n_chunks'] > 1 for r in out.values())


def test_plan_one_window_shuffle(spark):
  plan = pack_sequences(documents(spark, SF))._jdf.queryExecution() \
      .executedPlan().toString()
  # exactly one hash shuffle: the per-shard window (the trailing
  # orderBy renders as a range Exchange at the sink, which is
  # presentation-only)
  n_hash = len({ln.split('[plan_id')[0].strip()
                for ln in plan.splitlines()
                if 'Exchange hashpartitioning' in ln})
  assert n_hash == 1, plan
