"""Corpus snapshot diff (added/removed/changed/unchanged verdicts):
deterministic synthesized second version, bit-equal DuckDB oracle.
"""

from __future__ import annotations

import duckdb
import pytest

from blueprint_oss_spark.ops import textops as T
from blueprint_oss_spark.spark.sources import documents

SF1 = '/root/testdata/sf0.001'
SF2 = '/root/testdata/sf0.01'

ORACLE = """
WITH old AS (SELECT doc_id, text FROM documents),
newv AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0 THEN text || ' updated v2'
              ELSE text END AS text
  FROM old WHERE doc_id % 13 <> 0
  UNION ALL
  SELECT doc_id + 10000000, text || ' added'
  FROM old WHERE doc_id % 17 = 0
),
o AS (SELECT doc_id, md5(text) AS old_hash FROM old),
n AS (SELECT doc_id, md5(text) AS new_hash FROM newv)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.old_hash IS NULL THEN 'added'
            WHEN n.new_hash IS NULL THEN 'removed'
            WHEN o.old_hash <> n.new_hash THEN 'changed'
            ELSE 'unchanged' END AS verdict,
       o.old_hash, n.new_hash
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
ORDER BY doc_id
"""


@pytest.mark.parametrize('sf', [SF1, SF2])
def test_matches_duckdb_oracle(spark, sf):
  con = duckdb.connect()
  con.execute(f"CREATE VIEW documents AS SELECT * FROM "
              f"read_parquet('{sf}/documents.parquet')")
  oracle = con.execute(ORACLE).df()
  old = documents(spark, sf)
  got = T.corpus_diff(old, T.corpus_next_version(old)).toPandas()
  assert list(got.columns) == list(oracle.columns)
  assert len(got) == len(oracle)
  for c in got.columns:
    a = got[c].reset_index(drop=True)
    b = oracle[c].reset_index(drop=True)
    eq = (a.isna() & b.isna()) | (a == b)
    assert eq.all(), (c, got[~eq.values].head(), oracle[~eq.values].head())


def test_verdict_semantics(spark):
  old = documents(spark, SF1)
  got = T.corpus_diff(old, T.corpus_next_version(old)).toPandas()
  by = dict(zip(got.doc_id, got.verdict))
  n = 500  # sf0.001 corpus size
  for d in range(n):
    if d % 13 == 0:
      assert by[d] == 'removed', d
    elif d % 11 == 0:
      assert by[d] == 'changed', d
    else:
      assert by[d] == 'unchanged', d
    if d % 17 == 0:
      assert by[d + 10_000_000] == 'added', d
  # hash presence matches verdicts
  assert got[got.verdict == 'added'].old_hash.isna().all()
  assert got[got.verdict == 'removed'].new_hash.isna().all()
  ch = got[got.verdict == 'changed']
  assert (ch.old_hash != ch.new_hash).all()


def test_explicit_snapshots_seam(spark):
  old = spark.createDataFrame(
      [(1, 'a'), (2, 'b'), (3, 'c')], 'doc_id long, text string')
  new = spark.createDataFrame(
      [(2, 'b'), (3, 'c2'), (4, 'd')], 'doc_id long, text string')
  out = {r['doc_id']: r['verdict'] for r in
         T.corpus_diff(old, new).collect()}
  assert out == {1: 'removed', 2: 'unchanged', 3: 'changed', 4: 'added'}
