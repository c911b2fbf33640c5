"""C4 three-sentence-span dedup (Raffel et al. §2.2 keep-one rule):
synthesized sentence structure + planted boilerplate triples,
canonical-first keep, bit-equal DuckDB oracle.
"""

from __future__ import annotations

import duckdb
import pytest

from blueprint_oss_spark.ops import textops as T
from blueprint_oss_spark.spark.sources import documents

SF1 = '/root/testdata/sf0.001'
SF2 = '/root/testdata/sf0.01'


def _triples_sql():
  return ', '.join(
      '[%s]' % ', '.join(f"'{s}'" for s in t)
      for t in T.BOILERPLATE_SENTS)


ORACLE = f"""
WITH base AS (
  SELECT doc_id, list_filter(string_split(text, ' '),
                             x -> len(x) > 0) AS words
  FROM documents
), sented AS (
  SELECT doc_id,
         list_transform(
           range(0, CAST(ceil(len(words) / 8.0) AS INT)),
           j -> CASE WHEN (doc_id * 13 + (j // 3) * 7) % 9 = 0
                     THEN ([{_triples_sql()}])
                          [CAST(doc_id % 3 AS INT) + 1]
                          [CAST(j % 3 AS INT) + 1]
                     ELSE array_to_string(
                            words[j * 8 + 1 : j * 8 + 8], ' ')
                END) AS sents
  FROM base
), occ AS (
  SELECT doc_id, CAST(i.i - 1 AS INT) AS pos,
         sents[i.i] || ' ' || sents[i.i + 1] || ' ' || sents[i.i + 2]
           AS span
  FROM sented, (SELECT unnest(generate_series(1, 4096)) AS i) i
  WHERE i.i <= len(sents) - 2
), firsts AS (
  SELECT md5(span) AS h,
         min(doc_id * 1000000 + pos) AS firstkey,
         count(*) AS n_occ
  FROM occ GROUP BY md5(span) HAVING count(*) >= 2
), cov AS (
  SELECT DISTINCT o.doc_id, o.pos + k.k AS spos
  FROM occ o JOIN firsts f ON md5(o.span) = f.h,
       (SELECT unnest(generate_series(0, 2)) AS k) k
  WHERE o.doc_id * 1000000 + o.pos <> f.firstkey
), srows AS (
  SELECT doc_id, sents[i.i] AS sent, CAST(i.i - 1 AS INT) AS spos
  FROM sented, (SELECT unnest(generate_series(1, 4096)) AS i) i
  WHERE i.i <= len(sents)
), kept AS (
  SELECT sr.doc_id, sr.sent, sr.spos
  FROM srows sr LEFT JOIN cov c
    ON sr.doc_id = c.doc_id AND sr.spos = c.spos
  WHERE c.spos IS NULL
), reb AS (
  SELECT doc_id, string_agg(sent, ' ' ORDER BY spos) AS clean_text,
         CAST(count(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY doc_id)
SELECT s.doc_id, CAST(len(s.sents) AS BIGINT) AS n_sents,
       coalesce(r.n_kept, 0) AS n_kept,
       CAST(len(s.sents) AS BIGINT) - coalesce(r.n_kept, 0)
         AS n_removed,
       coalesce(r.clean_text, '') AS clean_text
FROM sented s LEFT JOIN reb r USING (doc_id)
ORDER BY s.doc_id
"""


@pytest.mark.parametrize('sf', [SF1, SF2])
def test_matches_duckdb_oracle(spark, sf):
  con = duckdb.connect()
  con.execute(f"CREATE VIEW documents AS SELECT * FROM "
              f"read_parquet('{sf}/documents.parquet')")
  oracle = con.execute(ORACLE).df()
  got = T.c4_span_dedup(documents(spark, sf)).toPandas()
  assert list(got.columns) == ['doc_id', 'n_sents', 'n_kept',
                               'n_removed', 'clean_text']
  for c in got.columns:
    oracle[c] = oracle[c].astype(got[c].dtype)
  assert got.reset_index(drop=True).equals(oracle.reset_index(drop=True))
  assert got.n_removed.sum() > 0  # planted triples make it non-vacuous


def test_counts_reconcile(spark):
  got = T.c4_span_dedup(documents(spark, SF1)).toPandas()
  assert (got.n_kept + got.n_removed == got.n_sents).all()
  # removals come in whole 3-sentence spans (possibly overlapping, so
  # any count >= 3 per affected doc) and some docs stay untouched
  touched = got[got.n_removed > 0]
  assert len(touched) > 0 and (touched.n_removed >= 3).all()
  assert (got.n_removed == 0).any()


def test_triple_span_kept_exactly_once(spark):
  got = T.c4_span_dedup(documents(spark, SF1)).toPandas()
  # the canonical first occurrence of each planted triple survives;
  # every other occurrence loses its three sentences
  all_text = ' '.join(got.clean_text)
  for t in T.BOILERPLATE_SENTS:
    span = ' '.join(t)
    assert all_text.count(span) == 1, span
