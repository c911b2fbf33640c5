"""Overlapping per-document token windows (RAG-indexing / eval-window
chunking) — zero-shuffle scan, DuckDB-oracled from scratch at sf0.001
AND sf0.01, with coverage/overlap reconstruction properties.
"""

from __future__ import annotations

import duckdb
import pytest

from blueprint_oss_spark.ops import textops as T
from blueprint_oss_spark.spark.sources import documents

SF1 = '/root/testdata/sf0.001'
SF2 = '/root/testdata/sf0.01'


def _oracle_sql(chunk: int = 64, overlap: int = 16) -> str:
  step = chunk - overlap
  return rf"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
      FROM documents),
    n AS (
      SELECT doc_id, w, len(w) AS n FROM t WHERE len(w) > 0),
    c AS (
      SELECT doc_id,
             CAST(i.i AS INT) AS chunk_no,
             CAST(i.i * {step} AS INT) AS start_tok,
             CAST(least(n - i.i * {step}, {chunk}) AS INT) AS n_tokens,
             array_to_string(
               w[i.i * {step} + 1 : i.i * {step} + {chunk}], ' ')
               AS chunk_text
      FROM n, (SELECT unnest(generate_series(0, 4096)) AS i) i
      WHERE i.i < 1 + floor((greatest(n - {chunk}, 0) + {step} - 1)
                            / {step}))
    SELECT doc_id, chunk_no, start_tok, n_tokens, chunk_text
    FROM c ORDER BY doc_id, chunk_no
  """


@pytest.mark.parametrize('sf', [SF1, SF2])
def test_matches_duckdb_oracle(spark, sf):
  con = duckdb.connect()
  con.execute(f"CREATE VIEW documents AS SELECT * FROM "
              f"read_parquet('{sf}/documents.parquet')")
  oracle = con.execute(_oracle_sql()).df()
  got = T.chunk_documents(documents(spark, sf)).toPandas()
  assert list(got.columns) == ['doc_id', 'chunk_no', 'start_tok',
                               'n_tokens', 'chunk_text']
  assert len(got) == len(oracle)
  assert got.reset_index(drop=True).equals(oracle.reset_index(drop=True))


def test_coverage_and_overlap_properties(spark):
  chunk, overlap = 16, 4
  step = chunk - overlap
  docs = spark.read.parquet(f'{SF1}/documents.parquet')
  out = T.chunk_documents(documents(spark, SF1), chunk_tokens=chunk,
                          overlap=overlap).toPandas()
  texts = {r['doc_id']: r['text'] for r in docs.collect()}
  seen = set(out['doc_id'])
  for did, text in texts.items():
    toks = [w for w in text.split(' ') if w]
    if not toks:
      assert did not in seen
      continue
    grp = out[out['doc_id'] == did].sort_values('chunk_no')
    # every token covered, in order, reconstructing the doc exactly
    recon = []
    for _, r in grp.iterrows():
      ct = r['chunk_text'].split(' ')
      assert len(ct) == r['n_tokens']
      assert ct == toks[r['start_tok']:r['start_tok'] + r['n_tokens']]
      recon.extend(ct[overlap:] if r['chunk_no'] > 0 else ct)
    assert recon == toks, did
    # consecutive chunks share exactly `overlap` tokens (full chunks)
    rows = list(grp.itertuples())
    for a, b in zip(rows, rows[1:]):
      assert b.start_tok - a.start_tok == step
  # short docs produce exactly one chunk
  short = out.groupby('doc_id').size()
  for did, text in texts.items():
    nt = len([w for w in text.split(' ') if w])
    if 0 < nt <= chunk:
      assert short[did] == 1


def test_invalid_overlap_raises(spark):
  with pytest.raises(ValueError):
    T.chunk_documents(documents(spark, SF1), chunk_tokens=16, overlap=16)


def test_plan_zero_shuffle_scan(spark):
  plan = T.chunk_documents(documents(spark, SF1))._jdf.queryExecution() \
      .executedPlan().toString()
  # pure map: Generate over the scan; the only exchange is the
  # presentation orderBy's range partitioning
  assert 'Exchange hashpartitioning' not in plan, plan
  assert 'Generate' in plan
