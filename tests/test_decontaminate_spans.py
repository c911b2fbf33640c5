"""Span-level decontamination: remove only the token positions covered
by an eval-shared n-gram, keep the rest of the document — the surgical
alternative to whole-doc flagging.  DuckDB-oracled from scratch at
sf0.001 AND sf0.01 plus planted-contamination property tests.
"""

from __future__ import annotations

import duckdb
import pytest

from blueprint_oss_spark.ops import curation as C
from blueprint_oss_spark.spark.sources import documents

SF1 = '/root/testdata/sf0.001'
SF2 = '/root/testdata/sf0.01'


def _oracle_sql(n: int = 8, eval_mod: int = 4) -> str:
  return rf"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
      FROM documents),
    occ AS (
      SELECT doc_id, CAST(i.i - 1 AS BIGINT) AS pos,
             array_to_string(w[i.i:i.i+{n - 1}], ' ') AS gram
      FROM t, (SELECT unnest(generate_series(1, 4096)) AS i) i
      WHERE i.i <= len(w) - {n - 1}),
    ev AS (SELECT DISTINCT gram FROM occ
           WHERE doc_id % {eval_mod} = 0),
    tr_occ AS (SELECT doc_id, pos, gram FROM occ
               WHERE doc_id % {eval_mod} <> 0),
    cov AS (
      SELECT DISTINCT doc_id, pos + j.j AS pos
      FROM tr_occ JOIN ev USING (gram),
           (SELECT unnest(generate_series(0, {n - 1})) AS j) j),
    toks AS (
      SELECT doc_id, CAST(i.i - 1 AS BIGINT) AS pos, w[i.i] AS tok
      FROM t, (SELECT unnest(generate_series(1, 4096)) AS i) i
      WHERE doc_id % {eval_mod} <> 0 AND i.i <= len(w)),
    kept AS (
      SELECT toks.* FROM toks
      LEFT JOIN cov USING (doc_id, pos)
      WHERE cov.pos IS NULL),
    rebuilt AS (
      SELECT doc_id,
             array_to_string(list(tok ORDER BY pos), ' ') AS clean_text,
             CAST(count(*) AS BIGINT) AS n_kept
      FROM kept GROUP BY doc_id)
    SELECT t.doc_id,
           COALESCE(rebuilt.clean_text, '') AS clean_text,
           CAST(len(t.w) AS BIGINT) AS n_tokens,
           CAST(len(t.w) - COALESCE(rebuilt.n_kept, 0) AS BIGINT)
             AS n_removed
    FROM t LEFT JOIN rebuilt USING (doc_id)
    WHERE t.doc_id % {eval_mod} <> 0
    ORDER BY t.doc_id
  """


@pytest.mark.parametrize('sf', [SF1, SF2])
def test_matches_duckdb_oracle(spark, sf):
  con = duckdb.connect()
  con.execute(f"CREATE VIEW documents AS SELECT * FROM "
              f"read_parquet('{sf}/documents.parquet')")
  oracle = con.execute(_oracle_sql()).df()
  got = C.decontaminate_spans(documents(spark, sf)).toPandas()
  assert list(got.columns) == ['doc_id', 'clean_text', 'n_tokens',
                               'n_removed']
  assert len(got) == len(oracle)
  assert got.reset_index(drop=True).equals(oracle.reset_index(drop=True))


def test_planted_contamination_surgical(spark, tmp_path):
  """A train doc quoting one eval 8-gram loses exactly those 8 tokens
  (plus run extension if adjacent grams also match — not here); clean
  docs pass through verbatim; a fully-contaminated doc empties."""
  eval_text = 'alpha bravo charlie delta echo foxtrot golf hotel'
  rows = [
      (4, eval_text + ' india juliet', 'en', 's', 0),       # eval doc
      (1, 'xx yy ' + eval_text + ' zz ww', 'en', 's', 0),   # quotes it
      (2, 'totally unrelated words here nothing shared at all mate',
       'en', 's', 0),                                       # clean
      (3, eval_text, 'en', 's', 0),                         # fully eval
  ]
  df = spark.createDataFrame(
      rows, 'doc_id long, text string, lang string, source string, '
            'n_chars long')
  df.write.parquet(str(tmp_path / 'documents.parquet'))
  out = {r['doc_id']: r for r in
         C.decontaminate_spans(documents(spark, str(tmp_path))).collect()}
  assert set(out) == {1, 2, 3}
  assert out[1]['clean_text'] == 'xx yy zz ww'
  assert out[1]['n_removed'] == 8
  assert out[2]['clean_text'].startswith('totally unrelated')
  assert out[2]['n_removed'] == 0
  assert out[3]['clean_text'] == '' and out[3]['n_removed'] == 8


def test_explicit_eval_texts(spark):
  docs = spark.read.parquet(f'{SF1}/documents.parquet')
  ev = docs.where('doc_id % 10 = 0').select('text')
  out = C.decontaminate_spans(documents(spark, SF1), eval_texts=ev).toPandas()
  # all docs are train side in this shape; eval docs self-contaminate
  n_docs = docs.count()
  assert len(out) == n_docs
  self_hit = out.merge(
      docs.select('doc_id').where('doc_id % 10 = 0').toPandas(),
      on='doc_id')
  long_docs = self_hit[self_hit['n_tokens'] >= 8]
  assert (long_docs['n_removed'] == long_docs['n_tokens']).all()


def test_min_run_tokens_threshold(spark, tmp_path):
  """Length-threshold mode (the remove_duplicated_spans round-5
  mechanism on the eval-gram surgeon): an 8-token covered run survives
  min_run_tokens=10 but a 16-token run (two adjacent quoted eval
  grams) is stripped."""
  ev1 = 'alpha bravo charlie delta echo foxtrot golf hotel'
  ev2 = 'india juliet kilo lima mike november oscar papa'
  rows = [
      (4, f'{ev1} {ev2} extra tail', 'en', 's', 0),            # eval
      (1, f'aa {ev1} bb cc dd ee ff gg hh ii', 'en', 's', 0),  # 8-run
      (2, f'aa {ev1} {ev2} bb', 'en', 's', 0),                 # 16-run
  ]
  df = spark.createDataFrame(
      rows, 'doc_id long, text string, lang string, source string, '
            'n_chars long')
  df.write.parquet(str(tmp_path / 'documents.parquet'))
  out = {r['doc_id']: r for r in
         C.decontaminate_spans(documents(spark, str(tmp_path)),
                               min_run_tokens=10).collect()}
  # doc 1's 8-token covered run is UNDER the threshold -> kept whole
  assert out[1]['n_removed'] == 0
  assert out[1]['clean_text'].startswith(f'aa {ev1} bb')
  # doc 2's contiguous 16-token covered run crosses it -> stripped.
  # (ev1's last 7 tokens + ev2's first 7 also form covering grams, so
  # the run is exactly the 16 quoted tokens)
  assert out[2]['n_removed'] == 16
  assert out[2]['clean_text'] == 'aa bb'
  # default (None) strips both, unchanged behavior
  out0 = {r['doc_id']: r for r in
          C.decontaminate_spans(documents(spark, str(tmp_path))).collect()}
  assert out0[1]['n_removed'] == 8 and out0[2]['n_removed'] == 16
