"""Ingest validation / quarantine over the interleaved spans table:
fixed-order first-failure taxonomy, clean gate corpus passes
everything, planted doc_id % 7 corruption matches a pure-arithmetic
DuckDB oracle, and the verdict is one shuffle-free zero-Python
projection (pinned).
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from blueprint_oss_spark.ops.ingest import (
    corrupt_interleaved, validate_interleaved,
)
from blueprint_oss_spark.spark.pipeline import SPANS_SCHEMA

SF1 = '/root/testdata/sf0.001'

# verdicts + span counts from doc_id arithmetic alone: the corruption
# grid (m = doc_id % 7) and the synthesis span-count formula
# (3 base spans + second media for %3==0 + pdf for %2==0)
ORACLE = """
WITH d AS (
  SELECT doc_id,
         doc_id % 7 AS m,
         3 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
           + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS n_base
  FROM documents)
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       CAST(CASE WHEN m = 6 THEN 0
                 WHEN m IN (1, 4, 5) THEN n_base + 1
                 ELSE n_base END AS INT) AS n_spans,
       CAST(CASE WHEN m = 0 THEN 1 ELSE 0 END AS INT) AS valid,
       CASE m WHEN 6 THEN 'empty_spans'
              WHEN 1 THEN 'bad_kind'
              WHEN 2 THEN 'text_missing'
              WHEN 3 THEN 'media_ref_missing'
              WHEN 4 THEN 'offset_dup'
              WHEN 5 THEN 'offset_neg'
              ELSE NULL END AS reason
FROM d ORDER BY CAST(doc_id AS VARCHAR)
"""


def test_clean_gate_corpus_is_all_valid(spark):
  got = validate_interleaved(spark, SF1).toPandas()
  assert (got.valid == 1).all()
  assert got.reason.isna().all()
  assert (got.n_spans >= 3).all()


def test_planted_corruption_matches_oracle(spark):
  con = duckdb.connect()
  con.execute(f"CREATE VIEW documents AS SELECT * FROM "
              f"read_parquet('{SF1}/documents.parquet')")
  oracle = con.execute(ORACLE).df()
  got = (validate_interleaved(spark, SF1, plant_corruptions=True)
         .orderBy('doc_id').toPandas())
  assert list(got.columns) == ['doc_id', 'n_spans', 'valid', 'reason']
  for c in got.columns:
    oracle[c] = oracle[c].astype(got[c].dtype)
  assert got.reset_index(drop=True).equals(oracle.reset_index(drop=True))
  # all six defect classes present at gate scale (non-vacuity)
  assert set(got.reason.dropna()) == {
      'empty_spans', 'bad_kind', 'text_missing', 'media_ref_missing',
      'offset_dup', 'offset_neg'}


def _frame(spark, rows):
  return spark.createDataFrame(rows, SPANS_SCHEMA)


def _span(kind='html', text='ok', media_ref=None, offset=0):
  return {'kind': kind, 'text': text, 'media_ref': media_ref,
          'offset': offset}


def test_taxonomy_rules_and_first_failure_order(spark):
  rows = [
      (None, [_span()]),                                  # null_doc_id
      ('', [_span()]),                                    # null_doc_id
      ('a', None),                                        # empty_spans
      ('b', []),                                          # empty_spans
      ('c', [_span(kind='blob'),
             _span(offset=0)]),       # bad_kind wins over offset_dup
      ('d', [_span(text=None)]),                          # text_missing
      ('e', [_span(text='')]),                            # text_missing
      ('f', [_span(kind='media', text=None,
                   media_ref=None)]),              # media_ref_missing
      ('g', [_span(offset=1), _span(text='y', offset=1),
             _span(text='z', offset=-1)]),  # offset_dup beats offset_neg
      ('h', [_span(offset=-1)]),                          # offset_neg
      ('i', [_span(), _span(kind='media', text=None,
                            media_ref='m/1', offset=1),
             _span(kind='pdf', text='%PDF', offset=2),
             _span(kind='text', text='t', offset=3)]),    # valid
  ]
  got = {r['doc_id']: r for r in
         validate_interleaved(spark, SF1, spans=_frame(spark, rows))
         .collect()}
  assert got[None].reason == 'null_doc_id'
  assert got[''].reason == 'null_doc_id'
  assert got['a'].reason == 'empty_spans' and got['a'].n_spans == 0
  assert got['b'].reason == 'empty_spans'
  assert got['c'].reason == 'bad_kind'
  assert got['d'].reason == 'text_missing'
  assert got['e'].reason == 'text_missing'
  assert got['f'].reason == 'media_ref_missing'
  assert got['g'].reason == 'offset_dup'
  assert got['h'].reason == 'offset_neg'
  assert got['i'].reason is None and got['i'].valid == 1
  assert got['i'].n_spans == 4


def test_media_span_without_text_is_legal(spark):
  rows = [('m', [_span(kind='media', text=None, media_ref='x/0')])]
  row = validate_interleaved(
      spark, SF1, spans=_frame(spark, rows)).collect()[0]
  assert row.valid == 1


def test_quarantine_split_is_a_filter(spark):
  v = validate_interleaved(spark, SF1, plant_corruptions=True)
  n_all = v.count()
  n_bad = v.where(F.col('valid') == 0).count()
  n_ok = v.where(F.col('valid') == 1).count()
  assert n_bad + n_ok == n_all and n_bad > 0 and n_ok > 0


def test_verdict_plan_is_shuffle_free_and_python_free(spark):
  rows = [('a', [_span()])]
  plan = (validate_interleaved(spark, SF1, spans=_frame(spark, rows))
          ._jdf.queryExecution().executedPlan().toString())
  assert 'Exchange' not in plan
  assert 'ArrowEvalPython' not in plan and 'BatchEvalPython' not in plan
  # corruption is Catalyst columns too, not a Python stage
  plan2 = (validate_interleaved(
      spark, SF1, spans=corrupt_interleaved(_frame(spark, rows)))
      ._jdf.queryExecution().executedPlan().toString())
  assert 'Exchange' not in plan2
  assert 'EvalPython' not in plan2


def test_streaming_validation_matches_batch(spark, tmp_path,
                                           uncommit_last_batch):
  """The validation front door as a continuous job: file-source stream
  -> inline verdict projection -> clean + quarantine sinks equals the
  batch operator, a second availableNow trigger with the same
  checkpoint emits nothing new (exactly-once resume), and a batch
  replayed after a crash before its commit rewrites its rows instead
  of appending them again."""
  from blueprint_oss_spark.ops.html_extract import interleaved_html_table
  from blueprint_oss_spark.spark.streaming import start_validation_stream

  inp, clean, quar, ckpt = (str(tmp_path / d) for d in
                            ('in', 'clean', 'quar', 'ckpt'))
  src = corrupt_interleaved(
      interleaved_html_table(spark, SF1).limit(50)).cache()
  src.write.parquet(inp)

  q = start_validation_stream(spark, inp, clean, quar, ckpt,
                              trigger_once=True)
  assert q.awaitTermination(120)

  batch = validate_interleaved(spark, SF1, spans=src).toPandas()
  got_clean = spark.read.parquet(clean).toPandas()
  got_quar = spark.read.parquet(quar).toPandas()
  assert set(got_clean.doc_id) \
      == set(batch[batch.valid == 1].doc_id)
  bad = batch[batch.valid == 0].set_index('doc_id')
  assert len(got_quar) == len(bad)
  for r in got_quar.itertuples():
    assert bad.loc[r.doc_id].reason == r.reason
    assert bad.loc[r.doc_id].n_spans == r.n_spans
  # clean sink keeps the full spans payload
  assert 'spans' in got_clean.columns
  assert got_clean.spans.map(len).min() >= 3

  q2 = start_validation_stream(spark, inp, clean, quar, ckpt,
                               trigger_once=True)
  assert q2.awaitTermination(120)
  assert len(spark.read.parquet(clean).collect()) == len(got_clean)
  assert len(spark.read.parquet(quar).collect()) == len(got_quar)

  uncommit_last_batch(ckpt)
  q3 = start_validation_stream(spark, inp, clean, quar, ckpt,
                               trigger_once=True)
  assert q3.awaitTermination(120)
  for path, before in ((clean, got_clean), (quar, got_quar)):
    after = spark.read.parquet(path).toPandas()
    assert sorted(after.doc_id) == sorted(before.doc_id), path
  src.unpersist()
