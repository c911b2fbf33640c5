"""WARC ingest: deterministic ISO-28500-style response records over
the documents corpus, parsed with pure JVM column expressions;
bit-exact DuckDB oracle re-synthesizes and re-parses from scratch.
"""

from __future__ import annotations

import duckdb
import pytest

from blueprint_oss_spark.ops import warc as W
from blueprint_oss_spark.spark.sources import documents

SF1 = '/root/testdata/sf0.001'
SF2 = '/root/testdata/sf0.01'


def _records(spark, sf):
  return W.parse_warc_records(W.synth_warc_records(documents(spark, sf)))

ORACLE = r"""
WITH w AS (
  SELECT doc_id, text,
         CASE WHEN doc_id % 29 = 0
              THEN '<html><body>Not Found</body></html>'
              ELSE '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
                   || '</title></head><body><p>' || text
                   || '</p></body></html>' END AS payload
  FROM documents
), hb AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 29 = 0 THEN 'HTTP/1.1 404 Not Found'
               ELSE 'HTTP/1.1 200 OK' END)
         || e'\r\n' || 'Content-Type: text/html; charset=utf-8'
         || e'\r\n' || 'Content-Length: '
         || CAST(length(payload) AS VARCHAR)
         || e'\r\n\r\n' || payload AS http_block
  FROM w
), recs AS (
  SELECT doc_id,
         'WARC/1.0' || e'\r\n' || 'WARC-Type: response' || e'\r\n'
         || 'WARC-Record-ID: <urn:uuid:' || CAST(doc_id AS VARCHAR)
         || '>' || e'\r\n' || 'WARC-Date: 2026-01-01T00:00:00Z'
         || e'\r\n' || 'WARC-Target-URI: https://site'
         || CAST(doc_id % 53 AS VARCHAR) || '.com/p'
         || CAST(doc_id AS VARCHAR) || e'\r\n'
         || 'Content-Type: application/http; msgtype=response'
         || e'\r\n' || 'Content-Length: '
         || CAST(length(http_block) AS VARCHAR)
         || e'\r\n\r\n' || http_block AS rec0
  FROM hb
), trunc AS (
  SELECT doc_id,
         CASE WHEN doc_id % 37 = 0
              THEN substr(rec0, 1, length(rec0) - 20)
              ELSE rec0 END AS record
  FROM recs
), parsed AS (
  SELECT doc_id,
         string_split_regex(record, '\r\n\r\n') AS parts
  FROM trunc
)
SELECT doc_id,
       regexp_extract(parts[1], 'WARC-Target-URI: (\S+)', 1)
         AS target_uri,
       regexp_extract(parts[1], 'WARC-Type: (\S+)', 1) AS warc_type,
       CAST(NULLIF(regexp_extract(parts[2], 'HTTP/1\.1 ([0-9]+)', 1),
                   '') AS INT) AS status,
       regexp_extract(parts[2], 'Content-Type: ([^\r]+)', 1)
         AS content_type,
       CAST(NULLIF(regexp_extract(parts[2],
                                  'Content-Length: ([0-9]+)', 1),
                   '') AS BIGINT) AS declared_len,
       CAST(length(coalesce(parts[3], '')) AS BIGINT) AS body_len,
       CASE WHEN regexp_extract(parts[2],
                                'Content-Length: ([0-9]+)', 1) <> ''
            THEN CAST(length(coalesce(parts[3], ''))
                      = CAST(regexp_extract(
                          parts[2], 'Content-Length: ([0-9]+)', 1)
                          AS BIGINT) AS INT)
            ELSE 0 END AS length_ok,
       trim(regexp_replace(regexp_replace(coalesce(parts[3], ''),
                                          '<[^>]*>', ' ', 'g'),
                           '\s+', ' ', 'g')) AS main_text
FROM parsed ORDER BY doc_id
"""


@pytest.mark.parametrize('sf', [SF1, SF2])
def test_matches_duckdb_oracle(spark, sf):
  con = duckdb.connect()
  con.execute(f"CREATE VIEW documents AS SELECT * FROM "
              f"read_parquet('{sf}/documents.parquet')")
  oracle = con.execute(ORACLE).df()
  got = _records(spark, sf).toPandas()
  assert list(got.columns) == list(oracle.columns)
  for c in got.columns:
    a = got[c].reset_index(drop=True)
    b = oracle[c].astype(got[c].dtype).reset_index(drop=True)
    eq = (a.isna() & b.isna()) | (a == b)
    assert eq.all(), (c, got[~eq.values].head(), oracle[~eq.values].head())


def test_parse_semantics(spark):
  got = _records(spark, SF1).toPandas()
  ok = got[(got.doc_id % 29 != 0) & (got.doc_id % 37 != 0)]
  # clean 200s: declared length matches, main_text recovers the
  # original text (whitespace-normalized == original: no extra ws)
  assert (ok.status == 200).all()
  assert (ok.length_ok == 1).all()
  import duckdb
  con = duckdb.connect()
  texts = dict(con.execute(
      f"SELECT doc_id, text FROM "
      f"read_parquet('{SF1}/documents.parquet')").fetchall())
  for r in ok.head(20).itertuples():
    assert r.main_text == f'Doc {r.doc_id} {texts[r.doc_id]}'
  # 404 plant parses with its error body
  nf = got[(got.doc_id % 29 == 0) & (got.doc_id % 37 != 0)]
  assert (nf.status == 404).all()
  assert (nf.main_text == 'Not Found').all()
  # truncation plant: declared length no longer matches
  tr = got[got.doc_id % 37 == 0]
  assert (tr.length_ok == 0).all()
  assert (tr.body_len == tr.declared_len - 20).all()
  assert len(ok) and len(nf) and len(tr)


def test_zero_shuffle_zero_python_plan(spark):
  df = _records(spark, SF1)
  plan = df._jdf.queryExecution().explainString(
      spark._jvm.org.apache.spark.sql.execution.ExplainMode
      .fromString('simple'))
  body = plan.split('AdaptiveSparkPlan')[-1]
  # presentation sort is the only exchange; no Python anywhere
  assert body.count('Exchange') <= 1, plan
  assert 'Python' not in body and 'MapInPandas' not in body, plan
