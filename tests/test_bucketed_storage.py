"""Bucketed storage layout: the co-located doc_id join must run with
ZERO Exchange and ZERO Sort (the 100 TB contract — the shuffle is paid
once at write time, not by every downstream job), and produce exactly
the rows the shuffled join produces."""

from __future__ import annotations

import contextlib

import pytest

from pyspark.sql import functions as F

from blueprint_oss_spark.ops.textops import doc_quality, doc_token_stats
from blueprint_oss_spark.spark.storage import (
    co_located_join, write_bucketed,
)
from blueprint_oss_spark.spark.sources import documents

SF = '/root/testdata/sf0.001'


@contextlib.contextmanager
def _no_broadcast(spark):
  """Force a merge join so the Exchange-free plan is the layout's
  doing, not a broadcast's."""
  old = spark.conf.get('spark.sql.autoBroadcastJoinThreshold')
  old_aqe = spark.conf.get('spark.sql.adaptive.autoBroadcastJoinThreshold',
                           None)
  spark.conf.set('spark.sql.autoBroadcastJoinThreshold', '-1')
  spark.conf.set('spark.sql.adaptive.autoBroadcastJoinThreshold', '-1')
  try:
    yield
  finally:
    spark.conf.set('spark.sql.autoBroadcastJoinThreshold', old)
    if old_aqe is not None:
      spark.conf.set('spark.sql.adaptive.autoBroadcastJoinThreshold',
                     old_aqe)


@pytest.fixture()
def bucketed_pair(spark, tmp_path):
  q = doc_quality(documents(spark, SF))
  t = doc_token_stats(documents(spark, SF)).select('doc_id', 'n_tokens')
  write_bucketed(q, 'bq_quality', bucket_by='doc_id', n_buckets=4,
                 path=str(tmp_path / 'q'))
  write_bucketed(t, 'bq_tokens', bucket_by='doc_id', n_buckets=4,
                 path=str(tmp_path / 't'))
  yield 'bq_quality', 'bq_tokens'
  spark.sql('DROP TABLE IF EXISTS bq_quality')
  spark.sql('DROP TABLE IF EXISTS bq_tokens')


def test_join_has_no_exchange(spark, bucketed_pair):
  left, right = bucketed_pair
  with _no_broadcast(spark):
    j = co_located_join(spark, left, right, 'doc_id')
    plan = j._jdf.queryExecution().executedPlan().toString()
    rows = j.collect()
  assert 'Exchange' not in plan, plan
  assert 'SortMergeJoin' in plan, plan
  # and the result is the real join, not an artifact of the layout
  exp = (doc_quality(documents(spark, SF))
         .join(doc_token_stats(documents(spark, SF))
               .select('doc_id', 'n_tokens'),
               'doc_id').collect())
  assert sorted(map(tuple, rows)) == sorted(map(tuple, exp))


def test_sort_elided_with_ordering_flag(spark, bucketed_pair):
  """Since SPARK-28583 the scan no longer advertises per-bucket sort
  order by default; spark.sql.legacy.bucketedTableScan.outputOrdering
  restores it (sound here: write_bucketed guarantees one sorted file
  per bucket).  With it, the merge join runs with no Sort either."""
  left, right = bucketed_pair
  flag = 'spark.sql.legacy.bucketedTableScan.outputOrdering'
  spark.conf.set(flag, 'true')
  try:
    with _no_broadcast(spark):
      j = co_located_join(spark, left, right, 'doc_id')
      plan = j._jdf.queryExecution().executedPlan().toString()
      rows = j.collect()
  finally:
    spark.conf.set(flag, 'false')
  assert 'Exchange' not in plan, plan
  assert 'Sort ' not in plan.replace('SortMergeJoin', ''), plan
  assert len(rows) == doc_quality(documents(spark, SF)).count()


def test_unbucketed_baseline_does_shuffle(spark):
  """Control: the same join over plain parquet pays two Exchanges —
  the cost the bucketed layout amortizes away."""
  with _no_broadcast(spark):
    j = doc_quality(documents(spark, SF)).join(
        doc_token_stats(documents(spark, SF)).select('doc_id', 'n_tokens'),
        'doc_id')
    plan = j._jdf.queryExecution().executedPlan().toString()
  assert 'Exchange' in plan


def test_write_validation(spark):
  with pytest.raises(ValueError):
    write_bucketed(doc_quality(documents(spark, SF)), 'nope',
                   bucket_by='doc_id', n_buckets=0)
