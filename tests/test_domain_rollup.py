"""Domain-granularity quality rollup (RefinedWeb/Dolma decision
grain): from-scratch DuckDB recomputation (URL-grid synthesis + Gopher
verdicts + exact totals) at two scales; cross-multiplied verdict edge
semantics; urls= seam; shuffle-count plan pin on the seam path.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from blueprint_oss_spark.ops import curation as C
from blueprint_oss_spark.spark.sources import documents

SF1 = '/root/testdata/sf0.001'
SF2 = '/root/testdata/sf0.01'

# the quality_keep_expr replica + deterministic URL-grid domain,
# entirely in DuckDB SQL — synthesis and operator cannot drift
_ORACLE = """
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
  FROM read_parquet('{sf}/documents.parquet')
), k AS (
  SELECT doc_id,
         CAST((len(toks) >= 5 AND len(toks) <= 100000
           AND list_sum(list_transform(toks, x -> len(x))) >= 2 * len(toks)
           AND list_sum(list_transform(toks, x -> len(x))) <= 12 * len(toks)
           AND len(list_filter(toks, x -> x IN ('the','a','of','and','to',
               'in','is','it','for','on','with','as','at','by'))) >= 1
           AND 2 * length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
               >= length(text)) AS INT) AS keep,
         CAST(len(toks) AS BIGINT) AS n_toks,
         CAST(length(text) AS BIGINT) AS n_chars,
         'site' || CAST((doc_id % 350) % 53 AS VARCHAR)
           || (['.com', '.org', '.net', '.io', '.edu'])
              [CAST((doc_id % 350) % 5 + 1 AS INT)] AS domain
  FROM t
)
SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(keep) AS BIGINT) AS n_keep,
       CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       CAST(SUM(keep) * {kd} >= COUNT(*) * {kn}
            AND COUNT(*) >= {md} AS INT) AS domain_keep
FROM k GROUP BY domain ORDER BY domain
"""


@pytest.mark.parametrize('sf,kn,kd,md', [(SF1, 1, 2, 1),
                                         (SF2, 1, 1, 1),
                                         (SF2, 1, 2, 2)])
def test_matches_duckdb_from_scratch(spark, sf, kn, kd, md):
  got = [tuple(r) for r in
         C.domain_quality_rollup(documents(spark, sf), keep_num=kn,
                                 keep_den=kd, min_docs=md).collect()]
  exp = duckdb.sql(_ORACLE.format(sf=sf, kn=kn, kd=kd, md=md)).fetchall()
  assert got == exp
  if sf == SF2 and kn == kd:
    # the strict config must exercise BOTH verdicts corpus-wide
    verdicts = {r[5] for r in got}
    assert verdicts == {0, 1}


def test_urls_seam(spark):
  docs = documents(spark, SF1)
  urls = docs.select('doc_id',
                     (F.col('doc_id') % 3).cast('string').alias('domain'))
  got = {r['domain']: r['n_docs'] for r in
         C.domain_quality_rollup(docs, urls=urls).collect()}
  total = docs.count()
  assert sum(got.values()) == total
  assert set(got) == {'0', '1', '2'}


def test_verdict_edge_is_cross_multiplied(spark):
  # 2 of 3 docs keep -> n_keep*den == n_docs*num at 2/3: >= keeps
  rows = [(0, 'the cat sat on a mat'),     # keep
          (1, 'the dog ran in a park'),    # keep
          (2, 'zz9 !!! ### $$$ %%% ^^^')]  # fail (alpha ratio)
  d = spark.createDataFrame(rows, 'doc_id long, text string')
  u = d.select('doc_id', F.lit('only.com').alias('domain'))
  out = C.domain_quality_rollup(d, urls=u, keep_num=2,
                                keep_den=3).collect()
  assert len(out) == 1 and out[0]['n_keep'] == 2
  assert out[0]['domain_keep'] == 1
  out2 = C.domain_quality_rollup(d, urls=u, keep_num=3,
                                 keep_den=4).collect()
  assert out2[0]['domain_keep'] == 0


def test_seam_plan_no_window_no_smj(spark):
  docs = documents(spark, SF1)
  urls = docs.select('doc_id',
                     (F.col('doc_id') % 5).cast('string').alias('domain'))
  plan = C.domain_quality_rollup(docs, urls=urls) \
      ._jdf.queryExecution().executedPlan().toString()
  assert 'Window' not in plan
  assert 'SortMergeJoin' not in plan  # AQE broadcasts the URL side


def test_duplicate_doc_id_in_urls_raises(spark):
  import pytest
  rows = [(0, 'the cat sat on a mat'), (1, 'the dog ran in a park')]
  d = spark.createDataFrame(rows, 'doc_id long, text string')
  # doc 0 appears under TWO urls/domains — the 1:1 contract guard
  # must throw instead of double-counting doc 0 in both domains
  u = spark.createDataFrame(
      [(0, 'a.com'), (0, 'b.com'), (1, 'c.com')],
      'doc_id long, domain string')
  with pytest.raises(Exception, match='duplicate doc_id'):
    C.domain_quality_rollup(d, urls=u).collect()
