"""Length-bucketed varlen batching: from-scratch DuckDB recomputation
(md5 shard, edge-inclusive bucket rule, (n_tokens, doc_id) fill order,
per-batch max/waste) at two scales; padding-accounting invariants;
ascending-fill beats a shuffled fill on waste (the reason for the
sort); partial trailing batches; handed-in docs frames; two-window plan shape.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from blueprint_oss_spark.ops import textops as T
from blueprint_oss_spark.spark.sources import documents

SF1 = '/root/testdata/sf0.001'
SF2 = '/root/testdata/sf0.01'

_ORACLE = """
WITH base AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % {ns} AS shard,
         CAST(len(list_filter(string_split(text, ' '),
                              x -> len(x) > 0)) AS INT) AS n_tokens
  FROM read_parquet('{sf}/documents.parquet')
), bucketed AS (
  SELECT *, CASE WHEN n_tokens <= 32 THEN 0
                 WHEN n_tokens <= 64 THEN 1
                 WHEN n_tokens <= 128 THEN 2
                 ELSE 3 END AS bucket
  FROM base
), placed AS (
  SELECT *, CAST((row_number() OVER (PARTITION BY shard, bucket
               ORDER BY n_tokens, doc_id) - 1) // {bs} AS BIGINT)
             AS batch_id,
            CAST((row_number() OVER (PARTITION BY shard, bucket
               ORDER BY n_tokens, doc_id) - 1) % {bs} AS INT)
             AS pos_in_batch
  FROM bucketed
)
SELECT doc_id, shard, n_tokens, bucket, batch_id, pos_in_batch,
       CAST(COUNT(*) OVER wb AS BIGINT) AS batch_docs,
       CAST(MAX(n_tokens) OVER wb AS INT) AS batch_max,
       CAST(MAX(n_tokens) OVER wb * COUNT(*) OVER wb
            - SUM(n_tokens) OVER wb AS BIGINT) AS pad_waste
FROM placed
WINDOW wb AS (PARTITION BY shard, bucket, batch_id)
ORDER BY shard, bucket, batch_id, pos_in_batch
"""


@pytest.mark.parametrize('sf', [SF1, SF2])
def test_matches_duckdb_from_scratch(spark, sf):
  got = [tuple(r) for r in
         T.length_bucket_batches(documents(spark, sf)).collect()]
  exp = duckdb.sql(_ORACLE.format(sf=sf, ns=8, bs=8)).fetchall()
  assert got == exp


def test_accounting_invariants(spark):
  rows = T.length_bucket_batches(documents(spark, SF1)).collect()
  assert sum(1 for _ in rows) == 500
  by_batch = {}
  for r in rows:
    by_batch.setdefault((r['shard'], r['bucket'], r['batch_id']),
                        []).append(r)
  edges = (32, 64, 128)
  for key, batch in by_batch.items():
    lens = [r['n_tokens'] for r in batch]
    assert len(batch) == batch[0]['batch_docs'] <= 8
    assert batch[0]['batch_max'] == max(lens)
    assert batch[0]['pad_waste'] == max(lens) * len(lens) - sum(lens)
    assert sorted(r['pos_in_batch'] for r in batch) == \
        list(range(len(batch)))
    b = key[1]
    for ln in lens:
      if b < len(edges):
        assert ln <= edges[b]
      if b > 0:
        assert ln > edges[b - 1]
  # partial trailing batches exist and are accounted
  assert any(len(b) < 8 for b in by_batch.values())


def test_sorted_fill_minimizes_waste_vs_shuffled(spark):
  """The reason for the (n_tokens, doc_id) order: per-bucket ascending
  fill must not waste more than a hash-ordered fill."""
  # shuffled control: same buckets, order by md5(doc_id)
  ctl = duckdb.sql(f"""
    WITH base AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                   1, 8)) AS BIGINT) % 8 AS shard,
             len(list_filter(string_split(text, ' '),
                             x -> len(x) > 0)) AS n
      FROM read_parquet('{SF2}/documents.parquet')
    ), b2 AS (
      SELECT *, CASE WHEN n <= 32 THEN 0 WHEN n <= 64 THEN 1
                     WHEN n <= 128 THEN 2 ELSE 3 END AS bucket,
             (row_number() OVER (PARTITION BY shard,
                CASE WHEN n <= 32 THEN 0 WHEN n <= 64 THEN 1
                     WHEN n <= 128 THEN 2 ELSE 3 END
                ORDER BY md5(CAST(doc_id AS VARCHAR))) - 1) // 8
               AS batch_id
      FROM base)
    SELECT SUM(w) FROM (
      SELECT MAX(n) * COUNT(*) - SUM(n) AS w
      FROM b2 GROUP BY shard, bucket, batch_id)""").fetchone()[0]
  total_sorted = duckdb.sql(_ORACLE.format(sf=SF2, ns=8, bs=8) \
      .replace('ORDER BY shard, bucket, batch_id, pos_in_batch', '')) \
      .df()
  per_batch = total_sorted.drop_duplicates(
      ['shard', 'bucket', 'batch_id'])['pad_waste'].sum()
  assert per_batch <= ctl


def test_docs_seam_and_plan(spark):
  d = spark.createDataFrame(
      [(i, ' '.join(['w'] * (5 + i))) for i in range(40)],
      'doc_id long, text string')
  out = T.length_bucket_batches(d, n_shards=2, batch_size=4)
  rows = out.collect()
  assert len(rows) == 40
  plan = out._jdf.queryExecution().executedPlan().toString()
  assert 'SortMergeJoin' not in plan  # no self-join anywhere
  assert plan.count('Window') <= 4
