"""Inverted-index postings materialization: bucketed skew-proof
layout (bounded groups regardless of term hotness), global-order
reconstruction by bucket concatenation, df/cf conservation, DuckDB
oracle at two scales, and the three-shuffle plan bound.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from blueprint_oss_spark.ops import textops as T
from blueprint_oss_spark.spark.sources import documents

SF1 = '/root/testdata/sf0.001'
SF2 = '/root/testdata/sf0.01'

ORACLE = """
WITH w AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                    x -> len(x) > 0)) AS term
  FROM documents
), tf AS (
  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
  FROM w GROUP BY term, doc_id
), b AS (
  SELECT term, doc_id // {bucket} AS bucket, doc_id, tf,
         CAST(row_number() OVER (PARTITION BY term, doc_id // {bucket}
                                 ORDER BY doc_id) - 1 AS INT) AS pos
  FROM tf
), tot AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df,
         CAST(sum(tf) AS BIGINT) AS cf
  FROM tf GROUP BY term
), dfb AS (
  SELECT term, bucket, CAST(count(*) AS BIGINT) AS df_bucket
  FROM b GROUP BY term, bucket
)
SELECT b.term, b.bucket, dfb.df_bucket, b.pos, b.doc_id, b.tf,
       tot.df, tot.cf
FROM b JOIN tot USING (term) JOIN dfb USING (term, bucket)
ORDER BY b.term, b.bucket, b.pos
"""


def _exploded(spark, sf, **kw):
  return (T.build_postings(documents(spark, sf), **kw)
          .select('term', 'bucket', 'df_bucket',
                  F.posexplode('postings').alias('pos', 'p'),
                  'df', 'cf')
          .select('term', 'bucket', 'df_bucket', 'pos',
                  F.col('p.doc_id').alias('doc_id'),
                  F.col('p.tf').alias('tf'), 'df', 'cf')
          .orderBy('term', 'bucket', 'pos'))


@pytest.mark.parametrize('sf,bucket', [(SF1, 128), (SF2, 100)])
def test_matches_duckdb_oracle(spark, sf, bucket):
  con = duckdb.connect()
  con.execute(f"CREATE VIEW documents AS SELECT * FROM "
              f"read_parquet('{sf}/documents.parquet')")
  oracle = con.execute(ORACLE.format(bucket=bucket)).df()
  got = _exploded(spark, sf, doc_bucket=bucket).toPandas()
  assert list(got.columns) == list(oracle.columns)
  for c in got.columns:
    oracle[c] = oracle[c].astype(got[c].dtype)
  assert got.reset_index(drop=True).equals(oracle.reset_index(drop=True))
  # multiple buckets per term at these widths (non-vacuity)
  assert got.groupby('term').bucket.nunique().max() > 1


def test_groups_bounded_regardless_of_hotness(spark):
  # 'scan' appears in ~half of all docs (hot); with doc_bucket=4 every
  # posting row still holds at most 4 entries
  got = T.build_postings(documents(spark, SF1), doc_bucket=4).toPandas()
  assert got.df_bucket.max() <= 4
  assert (got.postings.map(len) == got.df_bucket).all()
  hot = got[got.term == 'scan']
  assert len(hot) > 50          # the hot term is spread across buckets


def test_bucket_concatenation_restores_global_order(spark):
  got = (T.build_postings(documents(spark, SF1), doc_bucket=64,
                          terms=('scan',)).toPandas()
         .sort_values('bucket'))
  ids = [p['doc_id'] for _, row in got.iterrows()
         for p in row.postings]
  assert ids == sorted(ids)
  assert got.df.iloc[0] == len(ids) == got.df_bucket.sum()


def test_df_cf_conservation_and_terms_seam(spark):
  full = T.build_postings(documents(spark, SF1)).toPandas()
  sub = T.build_postings(documents(spark, SF1),
                         terms=('scan', 'the')).toPandas()
  assert set(sub.term) == {'scan', 'the'}
  for t in ('scan', 'the'):
    assert sub[sub.term == t].df.iloc[0] \
        == full[full.term == t].df.iloc[0]
    assert sub[sub.term == t].cf.iloc[0] \
        == full[full.term == t].cf.iloc[0]
  # cf counts every occurrence, df distinct docs: cf >= df everywhere
  assert (full.cf >= full.df).all()


def test_rollup_reads_materialized_buckets_not_the_corpus(spark):
  # collect_list is non-deterministic to Catalyst, so without the
  # materialization the df/cf rollup branch re-runs the whole corpus
  # subtree (no exchange reuse).  With it, the final plan holds ONE
  # term-keyed rollup exchange over bucket rows and zero file scans.
  plan = (T.build_postings(documents(spark, SF1))
          ._jdf.queryExecution().executedPlan().toString())
  assert plan.count('FileScan') == 0
  assert plan.count('hashpartitioning') <= 1
  assert 'EvalPython' not in plan
  # the lazy composition path keeps the documented 3-shuffle-shape
  # per subtree (2 corpus aggregations + the term rollup)
  lazy = (T.build_postings(documents(spark, SF1), materialize=False)
          ._jdf.queryExecution().executedPlan().toString())
  assert 'EvalPython' not in lazy


def test_doc_bucket_must_be_positive(spark):
  with pytest.raises(ValueError):
    T.build_postings(documents(spark, SF1), doc_bucket=0)

