"""T5-style temperature mixture sampling (Raffel et al. 2020 §3.5.3):
examples-proportional weights with limit K, temperature via sqrt
chains (T ∈ {1,2,4}) so the allocation is transcendental-free and a
from-scratch DuckDB oracle reproduces budgets AND per-doc verdicts
bit-for-bit.

The greedy per-source prefix rides the shared bucket-accelerated
machinery (`_bucketed_greedy_prefix`) — same scale shape as
corpus_split_mix: a bounded sources×256 collect, a broadcast join,
and a window over only each source's crossing hash range.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from blueprint_oss_spark.ops import curation as C
from blueprint_oss_spark.spark.sources import documents

SF1 = '/root/testdata/sf0.001'
SF2 = '/root/testdata/sf0.01'


def _oracle_sql(cap: int = 2000, budget: int = 3000) -> str:
  return rf"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(list_filter(string_split(text, ' '),
                      x -> len(x) > 0)) AS BIGINT) AS n_tokens,
             CAST(('0x' || substring(
                 md5('order:' || CAST(doc_id AS VARCHAR)), 1, 8))
                 AS BIGINT) AS order_key
      FROM documents),
    tot AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS n_s
            FROM t GROUP BY source),
    r AS (SELECT source, n_s,
                 sqrt(CAST(least(n_s, {cap}) AS DOUBLE)) AS w FROM tot),
    s AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                          list(w ORDER BY source)),
                             (a, b) -> a + b) AS wsum FROM r),
    b AS (SELECT source, n_s AS src_tokens,
                 CAST(floor({budget} * (w / s.wsum)) AS BIGINT)
                   AS src_budget
          FROM r, s),
    o AS (SELECT t.*, COALESCE(SUM(n_tokens) OVER (
             PARTITION BY source ORDER BY order_key, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS prec
          FROM t)
    SELECT o.doc_id, o.source, o.n_tokens, b.src_tokens, b.src_budget,
           CAST(o.prec < b.src_budget AS INT) AS mix_keep
    FROM o JOIN b USING (source)
    ORDER BY o.doc_id
  """


@pytest.mark.parametrize('sf', [SF1, SF2])
def test_matches_duckdb_oracle(spark, sf):
  con = duckdb.connect()
  con.execute(f"CREATE VIEW documents AS SELECT * FROM "
              f"read_parquet('{sf}/documents.parquet')")
  oracle = con.execute(_oracle_sql()).df()
  got = C.temperature_mix(documents(spark, sf)).toPandas()
  assert list(got.columns) == ['doc_id', 'source', 'n_tokens',
                               'src_tokens', 'src_budget', 'mix_keep']
  assert len(got) == len(oracle)
  assert got.reset_index(drop=True).equals(oracle.reset_index(drop=True))


def test_greedy_prefix_property(spark):
  out = C.temperature_mix(documents(spark, SF1)).toPandas()
  for src, grp in out.groupby('source'):
    budget = grp['src_budget'].iloc[0]
    # recompute the prefix sequentially in stable order
    g = grp.copy()
    import hashlib
    g['order_key'] = g['doc_id'].map(lambda d: int(
        hashlib.md5(f'order:{d}'.encode()).hexdigest()[:8], 16))
    g = g.sort_values(['order_key', 'doc_id'])
    cum, expect = 0, []
    for n in g['n_tokens']:
      expect.append(1 if cum < budget else 0)
      cum += n
    assert list(g['mix_keep']) == expect, src
    kept = g[g['mix_keep'] == 1]['n_tokens'].sum()
    if budget <= g['n_tokens'].sum():
      assert kept >= budget  # crossing doc included: mass >= budget


def test_temperature_flattens_skewed_sources(spark):
  # giant source A vs tiny source B: raising T must raise B's share
  rows = ([(i, 'A', 'tok ' * 50) for i in range(200)]
          + [(1000 + i, 'B', 'tok ' * 50) for i in range(4)])
  docs = spark.createDataFrame(rows, 'doc_id long, source string, '
                               'text string')
  b1 = C.temperature_mix(docs, temperature=1, cap_tokens=10**9,
                         total_budget_tokens=1000) \
      .where("source = 'B'").select('src_budget').first()['src_budget']
  b2 = C.temperature_mix(docs, temperature=2, cap_tokens=10**9,
                         total_budget_tokens=1000) \
      .where("source = 'B'").select('src_budget').first()['src_budget']
  b4 = C.temperature_mix(docs, temperature=4, cap_tokens=10**9,
                         total_budget_tokens=1000) \
      .where("source = 'B'").select('src_budget').first()['src_budget']
  assert b1 < b2 < b4, (b1, b2, b4)


def test_cap_limits_giant_sources(spark):
  # with cap << giant source size, A and equal-sized C weigh the same
  rows = ([(i, 'A', 'tok ' * 50) for i in range(100)]
          + [(1000 + i, 'C', 'tok ' * 50) for i in range(100)]
          + [(2000 + i, 'B', 'tok ' * 50) for i in range(400)])
  docs = spark.createDataFrame(rows, 'doc_id long, source string, '
                               'text string')
  out = C.temperature_mix(docs, temperature=2, cap_tokens=100,
                          total_budget_tokens=900).toPandas()
  budgets = out.groupby('source')['src_budget'].first()
  assert budgets['A'] == budgets['C'] == budgets['B']


def test_invalid_temperature_raises(spark):
  with pytest.raises(ValueError):
    C.temperature_mix(documents(spark, SF1), temperature=3)


def test_plan_window_only_on_crossing_bucket(spark):
  plan = C.temperature_mix(documents(spark, SF1))._jdf.queryExecution() \
      .executedPlan().toString()
  assert plan.count('Window') == 1, plan
