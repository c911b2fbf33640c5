"""HyperLogLog distinct-count sketch (transcendental-free variant):
md5-hashed 64-register HLL whose raw estimate is bit-reproducible in
DuckDB (2^-r as exact powers of two, pinned-order fold).
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from blueprint_oss_spark.ops import profiling as P

SF1 = '/root/testdata/sf0.001'
SF2 = '/root/testdata/sf0.01'

ORACLE = r"""
WITH d AS (
  SELECT lang AS grp, text AS v FROM documents),
h AS (
  SELECT grp, v,
         CAST(('0x' || substring(md5(v), 1, 15)) AS BIGINT) AS h
  FROM d),
rr AS (
  SELECT grp, h % 64 AS bucket,
         CASE WHEN (h >> 6) = 0 THEN 55
              ELSE 55 - length(bin(h >> 6)) END AS rho
  FROM h),
regs AS (
  SELECT grp, bucket, max(rho) AS r FROM rr GROUP BY grp, bucket),
gb AS (
  SELECT g.grp, b.b AS bucket
  FROM (SELECT DISTINCT grp FROM d) g
  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) b),
filled AS (
  SELECT gb.grp, gb.bucket, coalesce(regs.r, 0) AS r
  FROM gb LEFT JOIN regs
    ON regs.grp = gb.grp AND regs.bucket = gb.bucket),
folded AS (
  SELECT grp,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(CAST(1.0 AS DOUBLE) / CAST((1::BIGINT << r) AS DOUBLE)
                  ORDER BY bucket)),
             (a, x) -> a + x) AS denom,
         CAST(sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_zero_regs
  FROM filled GROUP BY grp),
stats AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT v) AS BIGINT) AS true_distinct
  FROM d GROUP BY grp)
SELECT stats.grp AS lang, n_rows, true_distinct, n_zero_regs,
       round(0.709 * 64.0 * 64.0 / denom, 6) AS hll_est
FROM stats JOIN folded USING (grp)
ORDER BY lang
"""


@pytest.mark.parametrize('sf', [SF1, SF2])
def test_matches_duckdb_oracle(spark, sf):
  con = duckdb.connect()
  con.execute(f"CREATE VIEW documents AS SELECT * FROM "
              f"read_parquet('{sf}/documents.parquet')")
  oracle = con.execute(ORACLE).df()
  got = P.hll_distinct(spark, sf).toPandas()
  assert list(got.columns) == ['lang', 'n_rows', 'true_distinct',
                               'n_zero_regs', 'hll_est']
  assert len(got) == len(oracle)
  assert got.reset_index(drop=True).equals(oracle.reset_index(drop=True))


def test_accuracy_large_cardinality(spark):
  # 6000 distinct values, registers saturated: raw HLL standard error
  # is 1.04/sqrt(64) ~ 13%; allow 3 sigma
  docs = spark.range(8000).select(
      F.lit('g').alias('lang'),
      F.concat(F.lit('value-'), (F.col('id') % 6000).cast('string'))
      .alias('text'))
  out = P.hll_distinct(spark, '', docs=docs).collect()[0]
  assert out['true_distinct'] == 6000
  assert out['n_zero_regs'] == 0
  rel = abs(out['hll_est'] - 6000) / 6000
  assert rel < 0.4, (out['hll_est'], rel)


def test_register_shuffle_is_bounded(spark):
  # the registers aggregation partials map-side: per (group, map task)
  # at most 64 rows reach the exchange
  plan = P.hll_distinct(spark, SF1)._jdf.queryExecution() \
      .executedPlan().toString()
  assert 'partial_max' in plan, plan
