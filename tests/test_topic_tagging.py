"""Lexicon-based topic tagging: one codegen projection, deterministic
first-max argmax, bit-equal DuckDB oracle.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from blueprint_oss_spark.ops import textops as T
from blueprint_oss_spark.spark.sources import documents

SF1 = '/root/testdata/sf0.001'
SF2 = '/root/testdata/sf0.01'

_LEX_SQL = {
    'db': "('table','query','join','sort','merge','filter','group','agg')",
    'infra': "('spark','batch','stream','window','shuffle','partition')",
    'data': "('data','row','column','key','value','hash')",
}

ORACLE = f"""
WITH c AS (
  SELECT doc_id,
         CAST(len(list_filter(list_filter(string_split(text, ' '),
                                          x -> len(x) > 0),
                              x -> x IN {_LEX_SQL['db']})) AS INT)
           AS n_db,
         CAST(len(list_filter(list_filter(string_split(text, ' '),
                                          x -> len(x) > 0),
                              x -> x IN {_LEX_SQL['infra']})) AS INT)
           AS n_infra,
         CAST(len(list_filter(list_filter(string_split(text, ' '),
                                          x -> len(x) > 0),
                              x -> x IN {_LEX_SQL['data']})) AS INT)
           AS n_data
  FROM documents
)
SELECT doc_id, n_db, n_infra, n_data,
       CASE WHEN greatest(n_db, n_infra, n_data) = 0 THEN 'none'
            WHEN n_db >= n_infra AND n_db >= n_data THEN 'db'
            WHEN n_infra >= n_data THEN 'infra'
            ELSE 'data' END AS topic,
       CAST(greatest(n_db, n_infra, n_data) AS BIGINT) AS n_topic_hits
FROM c ORDER BY doc_id
"""


@pytest.mark.parametrize('sf', [SF1, SF2])
def test_matches_duckdb_oracle(spark, sf):
  con = duckdb.connect()
  con.execute(f"CREATE VIEW documents AS SELECT * FROM "
              f"read_parquet('{sf}/documents.parquet')")
  oracle = con.execute(ORACLE).df()
  got = T.topic_tagging(documents(spark, sf)).toPandas()
  assert list(got.columns) == list(oracle.columns)
  for c in got.columns:
    oracle[c] = oracle[c].astype(got[c].dtype)
  assert got.reset_index(drop=True).equals(oracle.reset_index(drop=True))
  # corpus vocabulary guarantees non-vacuity: every topic fires
  assert set(got.topic) >= {'db', 'infra', 'data'}


def test_tie_break_and_none(spark):
  docs = spark.createDataFrame(
      [(1, 'table spark'),        # db=1, infra=1 -> first lexicon wins
       (2, 'zzz yyy xxx'),        # no hits -> none
       (3, 'spark spark table')], # infra=2 > db=1
      'doc_id long, text string')
  out = {r['doc_id']: r for r in
         T.topic_tagging(docs).collect()}
  assert out[1]['topic'] == 'db'
  assert out[2]['topic'] == 'none' and out[2]['n_topic_hits'] == 0
  assert out[3]['topic'] == 'infra' and out[3]['n_topic_hits'] == 2


def test_zero_shuffle_zero_python_plan(spark):
  df = T.topic_tagging(documents(spark, SF1))
  plan = df._jdf.queryExecution().explainString(
      spark._jvm.org.apache.spark.sql.execution.ExplainMode
      .fromString('simple'))
  body = plan.split('AdaptiveSparkPlan')[-1]
  assert body.count('Exchange') <= 1, plan   # presentation sort only
  assert 'Python' not in body and 'Join' not in body, plan
