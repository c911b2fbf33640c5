"""Exact two-pass φ-heavy hitters: Arrow-batch local candidates (a
no-false-negative superset by the average argument) + exact verify of
the bounded candidate set.

Verification: bit-equality with a from-scratch DuckDB word count +
threshold at two scales; output invariance under adversarial
partitioning (the candidate set varies, the verified answer cannot);
a planted thin-spread hot term that no single document makes locally
heavy; φ edge semantics (>= threshold, cross-multiplied integers);
broadcast-verify plan pin.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from blueprint_oss_spark.ops import textops as T
from blueprint_oss_spark.spark.sources import documents

SF1 = '/root/testdata/sf0.001'
SF2 = '/root/testdata/sf0.01'


def _oracle(sf, phi_num=1, phi_den=29):
  con = duckdb.connect()
  return con.execute(f"""
    WITH t AS (SELECT unnest(list_filter(string_split(text, ' '),
                             x -> len(x) > 0)) AS tok
               FROM read_parquet('{sf}/documents.parquet')),
    n AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM t),
    c AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
          FROM t GROUP BY tok)
    SELECT tok, c, nt FROM c, n
    WHERE c * {phi_den} >= nt * {phi_num}
    ORDER BY tok""").fetchall()


@pytest.mark.parametrize('sf', [SF1, SF2])
def test_matches_duckdb_exactly(spark, sf):
  got = [(r['term'], r['count'], r['n_total'])
         for r in T.heavy_hitters(documents(spark, sf)).collect()]
  exp = _oracle(sf)
  assert got == exp
  assert 0 < len(got) < 31  # φ=1/29 splits the vocabulary


def test_output_invariant_under_partitioning(spark):
  base = [(r['term'], r['count'])
          for r in T.heavy_hitters(documents(spark, SF2)).collect()]
  docs = spark.read.parquet(f'{SF2}/documents.parquet') \
      .repartition(64)  # many tiny batches -> different candidate set
  re = [(r['term'], r['count'])
        for r in T.heavy_hitters(docs).collect()]
  assert re == base


def test_thin_spread_hot_term_is_never_missed(spark):
  # 'hot' is 1/10 of every doc's tokens — never locally dominant in
  # any one doc, globally well above phi = 1/5 only when... it is NOT
  # heavy at 1/5, and IS heavy at 1/11: check both sides exactly
  rows = [(i, ('hot ' + 'w%d ' % i * 9).strip()) for i in range(200)]
  docs = spark.createDataFrame(rows, 'doc_id long, text string') \
      .repartition(32)
  heavy = {r['term'] for r in
           T.heavy_hitters(docs, phi_num=1, phi_den=11).collect()}
  assert 'hot' in heavy and len(heavy) == 1
  not_heavy = {r['term'] for r in
               T.heavy_hitters(docs, phi_num=1, phi_den=5).collect()}
  assert not_heavy == set()


def test_threshold_is_inclusive_cross_multiplied(spark):
  # 4 tokens, 'a' appears exactly 2 = (1/2)*4: >= keeps it
  docs = spark.createDataFrame([(0, 'a a b c')],
                               'doc_id long, text string')
  got = {r['term']: r['count'] for r in
         T.heavy_hitters(docs, phi_num=1, phi_den=2).collect()}
  assert got == {'a': 2}


def test_words_keep_non_space_whitespace_and_skip_null_text(spark,
                                                           tmp_path):
  # words split on ' ' only: 'a\nb', 'd\te' and 'g\xa0h' are single
  # words in the verify pass and the oracle, so the candidate pass must
  # not split them (str.split() did, and missed all three) nor count a
  # NULL text as the word 'None'
  rows = ([(i, 'a\nb a\nb c') for i in range(4)]
          + [(10 + i, 'd\te d\te f') for i in range(4)]
          + [(20 + i, 'g\xa0h g\xa0h') for i in range(4)]
          + [(30 + i, None) for i in range(3)])
  pd.DataFrame(rows, columns=['doc_id', 'text']) \
      .to_parquet(tmp_path / 'documents.parquet', index=False)
  docs = spark.read.parquet(str(tmp_path / 'documents.parquet')) \
      .repartition(3)
  got = [(r['term'], r['count'], r['n_total']) for r in
         T.heavy_hitters(docs, phi_num=1, phi_den=5).collect()]
  assert got == _oracle(str(tmp_path), 1, 5)
  assert got == [('a\nb', 8, 32), ('d\te', 8, 32), ('g\xa0h', 8, 32)]


def test_verify_pass_is_candidate_broadcast(spark):
  plan = T.heavy_hitters(documents(spark, SF1))._jdf.queryExecution() \
      .executedPlan().toString()
  assert 'BroadcastHashJoin' in plan
