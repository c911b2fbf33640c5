"""T5 span-corruption prep: from-scratch DuckDB recomputation (same
md5 start-rank, run-merge and sentinel-numbering window arithmetic,
full input/target strings) at two scales; reconstruction property
(input with sentinels expanded by target == original text); masking
accounting; single-exchange plan; handed-in frame determinism.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from blueprint_oss_spark.ops import textops as T
from blueprint_oss_spark.spark.sources import documents

SF1 = '/root/testdata/sf0.001'
SF2 = '/root/testdata/sf0.01'

_ORACLE = """
WITH tok AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), x -> len(x) > 0))
           AS n,
         unnest(list_filter(string_split(text, ' '), x -> len(x) > 0))
           AS token,
         generate_subscripts(list_filter(string_split(text, ' '),
                             x -> len(x) > 0), 1) - 1 AS pos
  FROM read_parquet('{sf}/documents.parquet')
), st AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
              ORDER BY md5(CAST(doc_id AS VARCHAR) || ':'
                           || CAST(pos AS VARCHAR)), pos)
            <= greatest(1, (n * 3) // 60) AS INT)
            AS is_start
  FROM tok
), mk AS (
  SELECT *, MAX(is_start) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS masked
  FROM st
), rs AS (
  SELECT *, CAST(masked = 1 AND coalesce(
              lag(masked) OVER (PARTITION BY doc_id ORDER BY pos), 0)
              = 0 AS INT) AS run_start
  FROM mk
), kk AS (
  SELECT *, SUM(run_start) OVER (PARTITION BY doc_id ORDER BY pos)
            - run_start AS k
  FROM rs
), pieces AS (
  SELECT doc_id, n, pos, masked, run_start AS t5rs,
         CASE WHEN masked = 0 THEN token
              WHEN run_start = 1
                THEN '<extra_id_' || CAST(k AS VARCHAR) || '>' END
           AS inp,
         CASE WHEN run_start = 1
                THEN '<extra_id_' || CAST(k AS VARCHAR) || '> '
                     || token
              WHEN masked = 1 THEN token END AS tgt
  FROM kk
)
SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_tokens,
       CAST(SUM(masked) AS BIGINT) AS n_masked,
       CAST(SUM(t5rs) AS BIGINT) AS n_runs,
       string_agg(inp, ' ' ORDER BY pos) FILTER (inp IS NOT NULL)
         AS input_text,
       string_agg(tgt, ' ' ORDER BY pos) FILTER (tgt IS NOT NULL)
         AS target_text
FROM pieces GROUP BY doc_id ORDER BY doc_id
"""


@pytest.mark.parametrize('sf', [SF1, SF2])
def test_matches_duckdb_from_scratch(spark, sf):
  got = [tuple(r)
         for r in T.t5_span_corruption(documents(spark, sf)).collect()]
  exp = duckdb.sql(_ORACLE.format(sf=sf)).fetchall()
  assert got == exp


def test_reconstruction_property(spark):
  """Expanding each input sentinel with its target run reproduces the
  original token sequence exactly — the denoising objective's
  lossless-split contract."""
  import re
  rows = T.t5_span_corruption(documents(spark, SF1)).collect()
  texts = {r['doc_id']: r['text'] for r in
           spark.read.parquet(f'{SF1}/documents.parquet')
           .select('doc_id', 'text').collect()}
  for r in rows[:100]:
    tgt_runs = {}
    cur = None
    for w in r['target_text'].split(' '):
      m = re.fullmatch(r'<extra_id_(\d+)>', w)
      if m:
        cur = int(m.group(1))
        tgt_runs[cur] = []
      else:
        tgt_runs[cur].append(w)
    out = []
    for w in r['input_text'].split(' '):
      m = re.fullmatch(r'<extra_id_(\d+)>', w)
      out.extend(tgt_runs[int(m.group(1))] if m else [w])
    orig = [w for w in texts[r['doc_id']].split(' ') if w]
    assert out == orig, r['doc_id']
    assert sorted(tgt_runs) == list(range(r['n_runs']))


def test_masking_accounting(spark):
  rows = T.t5_span_corruption(documents(spark, SF1)).collect()
  assert len(rows) == 500
  for r in rows:
    n, m, runs = r['n_tokens'], r['n_masked'], r['n_runs']
    n_spans = max(1, (n * 3) // 60)
    assert 1 <= runs <= n_spans
    assert runs <= m <= n_spans * 3
    assert len(r['input_text'].split(' ')) == n - m + runs
    assert len(r['target_text'].split(' ')) == m + runs


def test_plan_single_exchange_and_seam(spark):
  d = spark.read.parquet(f'{SF1}/documents.parquet').repartition(7)
  out = T.t5_span_corruption(d)
  base = {r['doc_id']: r['input_text'] for r in
          T.t5_span_corruption(documents(spark, SF1)).collect()}
  got = {r['doc_id']: r['input_text'] for r in out.collect()}
  assert got == base  # partitioning-independent
  plan = T.t5_span_corruption(documents(spark, SF1))._jdf.queryExecution() \
      .executedPlan().toString()
  # token rows cross the wire once: every window and the final
  # assembly share the doc_id partitioning
  assert plan.count('Exchange hashpartitioning') == 1, plan
