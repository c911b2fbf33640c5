"""UniMax source sampling (Chung et al. 2023): uniform-with-epoch-caps
token budgets — ascending-size allocation where a capped source's
unspent budget re-spreads over the remaining larger sources, all
integer-exact so a from-scratch DuckDB oracle (recursive-CTE walk)
reproduces budgets AND per-doc verdicts bit-for-bit.

The greedy per-source prefix rides the shared bucket-accelerated
machinery (`_bucketed_greedy_prefix`) — same scale shape as
corpus_split_mix / temperature_mix: a bounded sources×256 collect, a
broadcast join, and a window over only each source's crossing hash
range.
"""

from __future__ import annotations

import hashlib

import duckdb
import pytest
from pyspark.sql import functions as F

from blueprint_oss_spark.ops import curation as C
from blueprint_oss_spark.spark.sources import documents

SF1 = '/root/testdata/sf0.001'
SF2 = '/root/testdata/sf0.01'


def _py_budgets(totals: dict, epoch_cap: int, budget: int) -> dict:
  order = sorted(totals.items(), key=lambda kv: (kv[1], kv[0]))
  b_rem, out = budget, {}
  for i, (s, n) in enumerate(order):
    fair = b_rem // (len(order) - i)
    out[s] = min(epoch_cap * n, fair)
    b_rem -= out[s]
  return out


def _oracle_sql(epoch_cap: int = 1, budget: int = 24000) -> str:
  return rf"""
    WITH RECURSIVE t AS (
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
                 CAST(ROW_NUMBER() OVER (ORDER BY n_s, source)
                      AS BIGINT) AS rn
          FROM tot),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n_src FROM r),
    alloc AS (
      SELECT CAST(0 AS BIGINT) AS i, CAST({budget} AS BIGINT) AS b_rem,
             CAST(NULL AS VARCHAR) AS source,
             CAST(NULL AS BIGINT) AS alloc,
             CAST(NULL AS BIGINT) AS n_s
      UNION ALL
      SELECT a.i + 1,
             a.b_rem - least({epoch_cap} * u.n_s,
                             a.b_rem // (n.n_src - a.i)),
             u.source,
             least({epoch_cap} * u.n_s, a.b_rem // (n.n_src - a.i)),
             u.n_s
      FROM alloc a CROSS JOIN nn n JOIN r u ON u.rn = a.i + 1
      WHERE a.i < n.n_src),
    b AS (SELECT source, n_s AS src_tokens, alloc AS src_budget
          FROM alloc WHERE source IS NOT NULL),
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
  got = C.unimax_mix(documents(spark, sf)).toPandas()
  assert list(got.columns) == ['doc_id', 'source', 'n_tokens',
                               'src_tokens', 'src_budget', 'mix_keep']
  assert len(got) == len(oracle)
  assert got.reset_index(drop=True).equals(oracle.reset_index(drop=True))


def test_budgets_match_python_walk(spark):
  out = C.unimax_mix(documents(spark, SF2)).toPandas()
  totals = out.groupby('source')['src_tokens'].first().to_dict()
  exp = _py_budgets(totals, 1, 24000)
  got = out.groupby('source')['src_budget'].first().to_dict()
  assert got == exp
  # conservation: the walk never over-spends, and whatever remains is
  # only what every source's epoch cap left unspendable
  assert sum(got.values()) <= 24000
  capped = {s for s in got if got[s] == totals[s]}
  if len(capped) < len(got):
    # some source got a fair share -> the budget is (nearly) exhausted
    # up to integer-floor remainders (< number of sources)
    assert 24000 - sum(got.values()) < len(got)


def test_cap_redistributes_to_large_sources(spark):
  # tiny source hits its 1-epoch cap; its leftover must flow to the
  # two big sources (uniform among them), never be lost
  rows = ([(i, 'big_a', 'tok ' * 50) for i in range(100)]
          + [(1000 + i, 'big_b', 'tok ' * 50) for i in range(100)]
          + [(2000, 'tiny', 'tok ' * 10)])
  docs = spark.createDataFrame(rows, 'doc_id long, source string, '
                               'text string')
  out = C.unimax_mix(docs, epoch_cap=1, total_budget_tokens=3000).toPandas()
  budgets = out.groupby('source')['src_budget'].first()
  assert budgets['tiny'] == 10            # capped at 1 epoch
  assert budgets['big_a'] == budgets['big_b'] == (3000 - 10) // 2


def test_epoch_cap_scales_tiny_allocation(spark):
  rows = ([(i, 'big', 'tok ' * 50) for i in range(100)]
          + [(2000, 'tiny', 'tok ' * 10)])
  docs = spark.createDataFrame(rows, 'doc_id long, source string, '
                               'text string')
  for cap in (1, 2, 4):
    out = C.unimax_mix(docs, epoch_cap=cap,
                       total_budget_tokens=2000).toPandas()
    budgets = out.groupby('source')['src_budget'].first()
    assert budgets['tiny'] == 10 * cap
    assert budgets['big'] == 2000 - 10 * cap


def test_greedy_prefix_property(spark):
  out = C.unimax_mix(documents(spark, SF1)).toPandas()
  for src, grp in out.groupby('source'):
    budget = grp['src_budget'].iloc[0]
    g = grp.copy()
    g['order_key'] = g['doc_id'].map(lambda d: int(
        hashlib.md5(f'order:{d}'.encode()).hexdigest()[:8], 16))
    g = g.sort_values(['order_key', 'doc_id'])
    cum, expect = 0, []
    for n in g['n_tokens']:
      expect.append(1 if cum < budget else 0)
      cum += n
    assert list(g['mix_keep']) == expect, src


def test_stable_under_repartition(spark):
  base = C.unimax_mix(documents(spark, SF1)).toPandas()
  docs = spark.read.parquet(f'{SF1}/documents.parquet') \
      .repartition(13, 'doc_id')
  re = C.unimax_mix(docs).toPandas() \
      .sort_values('doc_id').reset_index(drop=True)
  assert re.equals(base.sort_values('doc_id').reset_index(drop=True))


def test_plan_window_only_on_crossing_bucket(spark):
  plan = C.unimax_mix(documents(spark, SF1))._jdf.queryExecution() \
      .executedPlan().toString()
  assert plan.count('Window') == 1, plan
