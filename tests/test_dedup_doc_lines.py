"""Within-document repeated-line removal (Gopher A.1.1 duplicate-line
rule, doc-local scope): deterministic synthesized line structure with
planted in-doc boilerplate repeats, first-in-doc-occurrence keep rule,
bit-equal DuckDB oracle, zero-shuffle plan pin, and a cross-document
scope check (corpus-wide duplicates survive — that is
dedup_paragraphs' job, not this operator's).
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
                             x -> len(x) > 0) AS w
  FROM documents
), lined AS (
  SELECT doc_id,
         CASE WHEN len(w) = 0 THEN CAST([] AS VARCHAR[])
              ELSE list_transform(
                range(0, CAST(ceil(len(w) / 6.0) AS INT)),
                j -> CASE WHEN (doc_id * 5 + j) % 3 = 0
                          THEN {_BOILER_SQL}[CAST(doc_id % 3 AS INT) + 1]
                          ELSE array_to_string(
                                 w[j * 6 + 1 : j * 6 + 6], ' ')
                     END)
         END AS lines
  FROM base
), occ AS (
  SELECT doc_id, CAST(i.i - 1 AS INT) AS pos, lines[i.i] AS line
  FROM lined, (SELECT unnest(generate_series(1, 4096)) AS i) i
  WHERE i.i <= len(lines)
), ranked AS (
  SELECT doc_id, pos, line,
         row_number() OVER (PARTITION BY doc_id, line
                            ORDER BY pos) AS rnk
  FROM occ
), kept AS (SELECT * FROM ranked WHERE rnk = 1),
reb AS (
  SELECT doc_id,
         string_agg(line, chr(10) ORDER BY pos) AS clean_text,
         CAST(count(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY doc_id)
SELECT l.doc_id, CAST(len(l.lines) AS BIGINT) AS n_lines,
       coalesce(r.n_kept, 0) AS n_kept,
       CAST(len(l.lines) AS BIGINT) - coalesce(r.n_kept, 0)
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
  got = (T.dedup_doc_lines(documents(spark, sf)).orderBy('doc_id')).toPandas()
  assert list(got.columns) == ['doc_id', 'n_lines', 'n_kept',
                               'n_removed', 'clean_text']
  for c in got.columns:
    oracle[c] = oracle[c].astype(got[c].dtype)
  assert got.reset_index(drop=True).equals(oracle.reset_index(drop=True))
  # the planted in-doc boilerplate repeats guarantee non-vacuity
  assert got.n_removed.sum() > 0


def test_planted_in_doc_repeat_removed(spark):
  # doc_id % 3 == 0 plants the SAME boilerplate at j = 0 and j = 3,
  # so every such doc with >= 4 lines must lose at least one line
  got = (T.dedup_doc_lines(documents(spark, SF1))
         .where((F.col('doc_id') % 3 == 0) & (F.col('n_lines') >= 4))
         .toPandas())
  assert len(got) > 0
  assert (got.n_removed >= 1).all()


def test_first_occurrence_survives_in_order(spark):
  docs = spark.createDataFrame(
      [(1, 'a b c d e f a b c d e f x y z p q r a b c d e f')],
      'doc_id long, text string')
  # doc 1: lines j=0..3; plants at (5 + j) % 3 == 0 -> j = 1 only.
  # natural lines: j0 = 'a b c d e f', j2 = 'x y z p q r',
  # j3 = 'a b c d e f' (repeat of j0 -> removed)
  row = T.dedup_doc_lines(docs).collect()[0]
  assert row.n_lines == 4 and row.n_kept == 3 and row.n_removed == 1
  lines = row.clean_text.split('\n')
  assert lines[0] == 'a b c d e f'
  assert lines[-1] == 'x y z p q r'
  assert 'subscribe' in lines[1] or 'rights' in lines[1] \
      or 'share' in lines[1]


def test_cross_document_duplicates_survive(spark):
  # the same natural line in two different docs is kept in BOTH —
  # in-doc scope only (corpus-wide is dedup_paragraphs' contract).
  # doc_ids chosen so no plant lands on the single line (j = 0 plants
  # iff doc_id * 5 % 3 == 0 iff doc_id % 3 == 0)
  docs = spark.createDataFrame(
      [(1, 'q w e r t y'), (2, 'q w e r t y')],
      'doc_id long, text string')
  got = T.dedup_doc_lines(docs).toPandas()
  assert (got.n_removed == 0).all()
  assert (got.clean_text == 'q w e r t y').all()


def test_empty_and_whitespace_docs(spark):
  docs = spark.createDataFrame(
      [(1, ''), (2, '   '), (4, 'a  b   c  d  e  f')],
      'doc_id long, text string')
  got = (T.dedup_doc_lines(docs)
         .orderBy('doc_id').toPandas())
  assert got.n_lines.tolist()[:2] == [0, 0]
  assert got.clean_text.tolist()[:2] == ['', '']
  # irregular whitespace tokenizes on the empty-filtered stream
  # (doc 4: doc_id % 3 == 1, j = 0 plants iff 20 % 3 == 0 -> no plant)
  assert got.clean_text.tolist()[2] == 'a b c d e f'


def test_plan_is_one_shuffle_free_scan(spark):
  plan = (T.dedup_doc_lines(documents(spark, SF1))
          ._jdf.queryExecution().executedPlan().toString())
  assert 'Exchange' not in plan
  assert 'ArrowEvalPython' not in plan and 'BatchEvalPython' not in plan


def test_words_per_line_must_be_positive(spark):
  with pytest.raises(ValueError):
    T.dedup_doc_lines(documents(spark, SF1), words_per_line=0)
