"""Paragraph-level exact dedup (Dolma/Gopher repeated-passage rule):
deterministic synthesized paragraph structure + planted boilerplate,
canonical-first-occurrence keep rule, bit-equal DuckDB oracle.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from blueprint_oss_spark.ops import textops as T
from blueprint_oss_spark.spark.sources import documents

SF1 = '/root/testdata/sf0.001'
SF2 = '/root/testdata/sf0.01'

_BOILER_SQL = (
    "(['subscribe to our newsletter for weekly updates and exclusive"
    " offers', 'all rights reserved copyright terms of service privacy"
    " policy apply', 'share this article on social media and join the"
    " discussion below'])")

ORACLE = f"""
WITH base AS (
  SELECT doc_id, list_filter(string_split(text, ' '),
                             x -> len(x) > 0) AS words
  FROM documents
), lined AS (
  SELECT doc_id,
         list_transform(
           range(0, CAST(ceil(len(words) / 10.0) AS INT)),
           j -> CASE WHEN (doc_id * 13 + j * 7) % 9 = 0
                     THEN {_BOILER_SQL}[CAST(doc_id % 3 AS INT) + 1]
                     ELSE array_to_string(
                            words[j * 10 + 1 : j * 10 + 10], ' ')
                END) AS paras
  FROM base
), occ AS (
  SELECT doc_id, CAST(i.i - 1 AS INT) AS pos, paras[i.i] AS para
  FROM lined, (SELECT unnest(generate_series(1, 4096)) AS i) i
  WHERE i.i <= len(paras)
), ranked AS (
  SELECT doc_id, pos, para,
         row_number() OVER (PARTITION BY md5(para)
                            ORDER BY doc_id, pos) AS rnk
  FROM occ
), kept AS (SELECT * FROM ranked WHERE rnk = 1),
reb AS (
  SELECT doc_id,
         string_agg(para, chr(10) ORDER BY pos) AS clean_text,
         CAST(count(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY doc_id)
SELECT l.doc_id, CAST(len(l.paras) AS BIGINT) AS n_paras,
       coalesce(r.n_kept, 0) AS n_kept,
       CAST(len(l.paras) AS BIGINT) - coalesce(r.n_kept, 0)
         AS n_removed,
       coalesce(r.clean_text, '') AS clean_text
FROM lined l LEFT JOIN reb r USING (doc_id)
ORDER BY l.doc_id
"""


@pytest.mark.parametrize('sf', [SF1, SF2])
def test_matches_duckdb_oracle(spark, sf):
  con = duckdb.connect()
  con.execute(f"CREATE VIEW documents AS SELECT * FROM "
              f"read_parquet('{sf}/documents.parquet')")
  oracle = con.execute(ORACLE).df()
  got = T.dedup_paragraphs(documents(spark, sf)).toPandas()
  assert list(got.columns) == ['doc_id', 'n_paras', 'n_kept',
                               'n_removed', 'clean_text']
  for c in got.columns:
    oracle[c] = oracle[c].astype(got[c].dtype)
  assert got.reset_index(drop=True).equals(oracle.reset_index(drop=True))
  # the planted boilerplate guarantees the dedup is not vacuous
  assert got.n_removed.sum() > 0


def test_canonical_first_occurrence_wins(spark):
  # two docs with identical text: every paragraph of the higher doc_id
  # is a non-first duplicate, so it loses everything; the lower doc_id
  # keeps everything.  doc_ids 101/110 both have 4*d % 9 == 8, so the
  # boilerplate injection ((d*13 + j*7) % 9 == 0 needs 4d%9 in
  # {0,2,4} for j<3) never fires and the two span sets are identical.
  text = ' '.join(f'w{i}' for i in range(25))  # 3 paragraphs (10/10/5)
  docs = spark.createDataFrame(
      [(101, text), (110, text)], 'doc_id long, text string')
  out = {r['doc_id']: r for r in
         T.dedup_paragraphs(docs).collect()}
  assert out[101]['n_kept'] == out[101]['n_paras'] == 3
  assert out[101]['n_removed'] == 0
  assert out[110]['n_kept'] == 0
  assert out[110]['clean_text'] == ''
  assert out[110]['n_removed'] == out[110]['n_paras'] == 3


def test_counts_reconcile_and_kept_paragraph_count(spark):
  got = T.dedup_paragraphs(documents(spark, SF1)).toPandas()
  assert (got.n_kept + got.n_removed == got.n_paras).all()
  n_text_paras = got.clean_text.map(
      lambda t: len(t.split('\n')) if t else 0)
  assert (n_text_paras == got.n_kept).all()


def test_boilerplate_kept_exactly_once_corpuswide(spark):
  got = T.dedup_paragraphs(documents(spark, SF1)).toPandas()
  all_kept = [p for t in got.clean_text for p in (t.split('\n') if t
                                                  else [])]
  for b in T.BOILERPLATE_PARAS:
    assert all_kept.count(b) == 1, b
