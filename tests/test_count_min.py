"""Count-Min Sketch term frequencies: fixed-memory frequency
estimation with the classic never-undercount guarantee, md5-hashed so
a from-scratch DuckDB oracle reproduces every cell and estimate.
"""

from __future__ import annotations

import duckdb
import pytest

from blueprint_oss_spark.ops import textops as T
from blueprint_oss_spark.spark.sources import documents

SF1 = '/root/testdata/sf0.001'
SF2 = '/root/testdata/sf0.01'


def _oracle_sql(width: int = 256, depth: int = 4) -> str:
  mins = ',\n           '.join(
      f"coalesce((SELECT cell FROM cells WHERE j = {j} AND pos = "
      f"CAST(('0x' || substring(md5('cms{j}:' || term), 1, 8)) "
      f"AS BIGINT) % {width}), 0)" for j in range(depth))
  return rf"""
    WITH occ AS (
      SELECT unnest(list_filter(string_split(text, ' '),
                                x -> len(x) > 0)) AS tok
      FROM documents),
    cells AS (
      SELECT j.j AS j,
             CAST(('0x' || substring(md5('cms' || CAST(j.j AS VARCHAR)
                   || ':' || tok), 1, 8)) AS BIGINT) % {width} AS pos,
             count(*) AS cell
      FROM occ, (SELECT unnest(generate_series(0, {depth - 1})) AS j) j
      GROUP BY 1, 2),
    q AS (SELECT tok AS term, CAST(count(*) AS BIGINT) AS true_count
          FROM occ GROUP BY tok),
    est AS (
      SELECT term, true_count, least({mins}) AS cms_est FROM q)
    SELECT term, true_count, CAST(cms_est AS BIGINT) AS cms_est,
           CAST(cms_est - true_count AS BIGINT) AS overcount
    FROM est ORDER BY term
  """


@pytest.mark.parametrize('sf', [SF1, SF2])
def test_matches_duckdb_oracle(spark, sf):
  con = duckdb.connect()
  con.execute(f"CREATE VIEW documents AS SELECT * FROM "
              f"read_parquet('{sf}/documents.parquet')")
  oracle = con.execute(_oracle_sql()).df()
  got = T.count_min_terms(documents(spark, sf)).toPandas()
  assert list(got.columns) == ['term', 'true_count', 'cms_est',
                               'overcount']
  assert len(got) == len(oracle)
  assert got.reset_index(drop=True).equals(oracle.reset_index(drop=True))


def test_collisions_overcount_never_undercount(spark, tmp_path):
  """width=4 over a 120-term vocabulary forces hash collisions: the
  guarantee is est >= true for EVERY term while collisions make some
  estimates strictly larger."""
  rows = [(i, ' '.join(f'w{j}' for j in range(i % 40, i % 40 + 80)),
           'en', 's', 0) for i in range(30)]
  df = spark.createDataFrame(
      rows, 'doc_id long, text string, lang string, source string, '
            'n_chars long')
  df.write.parquet(str(tmp_path / 'documents.parquet'))
  out = T.count_min_terms(documents(spark, str(tmp_path)), width=4,
                          depth=2).toPandas()
  assert (out['overcount'] >= 0).all()          # never undercount
  assert (out['overcount'] > 0).any()           # collisions happened
  assert (out['cms_est'] >= out['true_count']).all()


def test_terms_seam_candidate_queries(spark):
  cand = spark.createDataFrame(
      [('the',), ('nonexistent-term',)], 'term string')
  out = {r['term']: r for r in
         T.count_min_terms(documents(spark, SF1), terms=cand).collect()}
  assert set(out) == {'the', 'nonexistent-term'}
  assert out['the']['cms_est'] > 0
  assert out['the']['true_count'] is None       # candidates: est only
  # absent terms may only overcount via collisions, never invent mass
  # beyond a cell's total — with width 256 over a 31-term corpus the
  # cell is empty
  assert out['nonexistent-term']['cms_est'] == 0


def test_build_shuffle_is_bounded(spark):
  plan = T.count_min_terms(documents(spark, SF1))._jdf.queryExecution() \
      .executedPlan().toString()
  # map-side partial aggregation before the cells exchange: the
  # shuffle carries <= depth*width rows per map task
  assert 'partial_count' in plan or 'HashAggregate' in plan, plan
