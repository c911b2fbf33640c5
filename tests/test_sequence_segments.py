"""sequence_segments — the dataloader-side inversion of
pack_sequences: per (shard, chunk) training sequence, the ordered
(doc_id, start_in_chunk, seg_len, doc_offset) segment map used for
attention-mask / position-id construction at document boundaries.

Verified by: a FULL pure-python recomputation of every chunk's segment
list over sf0.001 (same per-shard running-sum arithmetic), tiling
invariants (sorted, gap-free, overlap-free, full chunks except each
shard's last), per-document reconstruction (segments across chunks
cover [0, n_tokens) contiguously), a zero-token-doc contract, and a
plan pin (no Python stages; one window + one aggregate shuffle beyond
the scan)."""

import duckdb

from blueprint_oss_spark.ops.textops import (
    pack_sequences,
    sequence_segments,
)
from blueprint_oss_spark.spark.sources import documents

SF_DIR = '/root/testdata/sf0.001'
MAX_TOKENS = 256
SHARDS = 8


def _expected():
  rows = duckdb.sql(
      f"SELECT doc_id, len(list_filter(string_split(text, ' '), "
      f"x -> len(x) > 0)) FROM '{SF_DIR}/documents.parquet' "
      'ORDER BY doc_id').fetchall()
  cum = {s: 0 for s in range(SHARDS)}
  chunks = {}
  for doc_id, n in rows:
    if n == 0:
      continue
    shard = doc_id % SHARDS
    before = cum[shard]
    cum[shard] = before + n
    c0, c1 = before // MAX_TOKENS, (before + n - 1) // MAX_TOKENS
    for c in range(c0, c1 + 1):
      start = max(before, c * MAX_TOKENS)
      end = min(before + n, (c + 1) * MAX_TOKENS)
      chunks.setdefault((shard, c), []).append(
          (doc_id, start - c * MAX_TOKENS, end - start, start - before))
  return {k: sorted(v, key=lambda s: s[1]) for k, v in chunks.items()}


def test_full_python_recomputation(spark):
  exp = _expected()
  rows = sequence_segments(pack_sequences(documents(spark, SF_DIR))).collect()
  assert len(rows) == len(exp)
  for r in rows:
    want = exp[(r['shard'], r['chunk'])]
    got = [(s['doc_id'], s['start_in_chunk'], s['seg_len'],
            s['doc_offset']) for s in r['segments']]
    assert got == want, (r['shard'], r['chunk'])
    assert r['n_docs'] == len(want)
    assert r['fill_tokens'] == sum(s[2] for s in want)


def test_tiling_invariants(spark):
  rows = sequence_segments(pack_sequences(documents(spark, SF_DIR))).collect()
  last_chunk = {}
  for r in rows:
    last_chunk[r['shard']] = max(last_chunk.get(r['shard'], -1),
                                 r['chunk'])
  for r in rows:
    segs = r['segments']
    # sorted, gap-free, overlap-free tiling from position 0
    assert segs[0]['start_in_chunk'] == 0
    for a, b in zip(segs, segs[1:]):
      assert b['start_in_chunk'] == a['start_in_chunk'] + a['seg_len']
    assert all(s['seg_len'] > 0 for s in segs)
    # every chunk is full except possibly the shard's last
    if r['chunk'] != last_chunk[r['shard']]:
      assert r['fill_tokens'] == MAX_TOKENS, r
    else:
      assert 0 < r['fill_tokens'] <= MAX_TOKENS


def test_document_reconstruction(spark):
  frame = pack_sequences(documents(spark, SF_DIR))
  packed = {r['doc_id']: r for r in frame.collect()}
  by_doc = {}
  for r in sequence_segments(frame).collect():
    for s in r['segments']:
      by_doc.setdefault(s['doc_id'], []).append(
          (r['chunk'], s['doc_offset'], s['seg_len']))
  for doc_id, p in packed.items():
    if p['n_tokens'] == 0:
      assert doc_id not in by_doc  # zero-token docs emit no segments
      continue
    segs = sorted(by_doc[doc_id])
    assert len(segs) == p['n_chunks']
    # contiguous coverage of [0, n_tokens)
    assert segs[0][1] == 0
    pos = 0
    for _, off, ln in segs:
      assert off == pos
      pos += ln
    assert pos == p['n_tokens']


def test_packed_seam_and_plan(spark):
  # a materialized packed frame yields the same result as the lazy
  # composition
  p = pack_sequences(documents(spark, SF_DIR))
  a = sequence_segments(p.localCheckpoint()).collect()
  b = sequence_segments(p).collect()
  assert a == b
  plan = sequence_segments(p) \
      ._jdf.queryExecution().executedPlan().toString()
  assert 'BatchEvalPython' not in plan and 'ArrowEval' not in plan
  assert plan.count('Window') == 1
