"""Interleaved multimodal sequence packing: pack_sequences' contract
at span granularity with heterogeneous costs (text = exact whitespace
tokens, media = fixed budget) over the north-rule main-content output.

Verification: full python recomputation of shards, running offsets and
chunk spans from the collected span sequences; media-straddle
accounting; interleave preservation; hand-built spans with overridden
costs; single-window plan pin.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from blueprint_oss_spark.ops import textops as T
from blueprint_oss_spark.ops.html_extract import (interleaved_html_table,
                                                  main_content_from_spans)

SF1 = '/root/testdata/sf0.001'


def _gate_packed(spark):
  return T.pack_interleaved_sequences(
      main_content_from_spans(interleaved_html_table(spark, SF1)))


def _shard(doc_id: str, shards: int = 8) -> int:
  return int(hashlib.md5(f'shard:{doc_id}'.encode()).hexdigest()[:8],
             16) % shards


def _py_pack(span_rows, max_tokens=256, media_cost=64):
  """span_rows: [(doc_id, order, kind, text, media_ref)] ->
  {(doc_id, order): (n_tokens, shard, tokens_before, cf, cl)}"""
  costed = []
  for did, order, kind, text, ref in span_rows:
    n = media_cost if kind == 'media' else len((text or '').split())
    costed.append((did, order, kind, ref, n, _shard(did)))
  out, cum = {}, {}
  for did, order, kind, ref, n, sh in sorted(
      costed, key=lambda r: (r[5], r[0], r[1])):
    before = cum.get(sh, 0)
    after = before + n
    cf = before // max_tokens
    cl = (after - 1) // max_tokens if n > 0 else cf
    out[(did, order)] = (n, sh, before, cf, cl)
    cum[sh] = after
  return out


def test_matches_python_recomputation(spark):
  mc = main_content_from_spans(interleaved_html_table(spark, SF1))
  span_rows = [(r['doc_id'], s['order'], s['kind'], s['text'],
                s['media_ref'])
               for r in mc.collect() for s in r['out_spans']]
  exp = _py_pack(span_rows)
  got = _gate_packed(spark).collect()
  assert len(got) == len(exp)
  for r in got:
    n, sh, before, cf, cl = exp[(r['doc_id'], r['order'])]
    assert (r['n_tokens'], r['shard'], r['tokens_before'],
            r['chunk_first'], r['chunk_last'],
            r['n_chunks']) == (n, sh, before, cf, cl, cl - cf + 1), r


def test_media_straddle_is_accounted(spark):
  out = _gate_packed(spark).toPandas()
  media = out[out['kind'] == 'media']
  assert (media['n_tokens'] == 64).all()
  straddling = media[media['n_chunks'] > 1]
  assert len(straddling) > 0  # 64-token media over 256 windows: some do
  # straddle spans cross exactly the boundary they report
  for _, r in straddling.iterrows():
    assert r['tokens_before'] // 256 == r['chunk_first']
    assert (r['tokens_before'] + r['n_tokens'] - 1) // 256 \
        == r['chunk_last'] > r['chunk_first']


def test_interleave_preserved_per_doc(spark):
  out = _gate_packed(spark).toPandas()
  for did, g in out.groupby('doc_id'):
    g = g.sort_values('order')
    assert list(g['order']) == list(range(len(g)))
    # the synthesized layout: text, media, text [, media][, text]
    assert list(g['kind'])[:3] == ['text', 'media', 'text']
    # offsets are contiguous within a shard's stream per doc? not
    # globally — but chunk_first must be monotone in order per shard
  for (_, sh), g in out.groupby(['doc_id', 'shard']):
    g = g.sort_values('order')
    assert g['tokens_before'].is_monotonic_increasing


def test_spans_seam_and_cost_overrides(spark):
  from blueprint_oss_spark.spark.pipeline import OUT_SPAN_STRUCT
  from pyspark.sql.types import (ArrayType, StringType, StructField,
                                 StructType)
  schema = StructType([StructField('doc_id', StringType()),
                       StructField('out_spans',
                                   ArrayType(OUT_SPAN_STRUCT))])
  rows = [('a', [{'kind': 'text', 'text': 'x y z', 'media_ref': None,
                  'order': 0},
                 {'kind': 'media', 'text': None, 'media_ref': 'm/0',
                  'order': 1},
                 {'kind': 'text', 'text': '', 'media_ref': None,
                  'order': 2}])]
  df = spark.createDataFrame(rows, schema)
  out = {r['order']: r for r in
         T.pack_interleaved_sequences(
             df, max_tokens=4, media_token_cost=3).collect()}
  assert out[0]['n_tokens'] == 3 and out[0]['chunk_first'] == 0
  assert out[1]['n_tokens'] == 3
  assert (out[1]['chunk_first'], out[1]['chunk_last']) == (0, 1)
  # zero-cost span: stays in the chunk it starts in
  assert out[2]['n_tokens'] == 0
  assert out[2]['chunk_first'] == out[2]['chunk_last'] == 1


def test_single_window_plan(spark):
  plan = _gate_packed(spark)._jdf \
      .queryExecution().executedPlan().toString()
  assert plan.count('Window') == 1, plan
