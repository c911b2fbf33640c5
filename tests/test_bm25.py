"""BM25 ranked retrieval (Robertson & Walker 1994) over
corpus-synthesized two-term queries.

Verification: bit-equality with a from-scratch DuckDB recomputation at
two scales (the rounded score included — every arithmetic step is a
correctly-rounded double op with mirrored parenthesization, the
two-term sum is a single commutative IEEE addition, and avgdl is one
double division both engines repeat on the same exact integers); a
full sequential python recomputation; repartition determinism;
saturation + length-normalization sanity on a planted corpus; and a
plan pin (query-side joins broadcast, ONE window).
"""

from __future__ import annotations

import collections

import duckdb
import pytest
from pyspark.sql import functions as F

from blueprint_oss_spark.ops import textops as T
from blueprint_oss_spark.spark.sources import documents

SF1 = '/root/testdata/sf0.001'
SF2 = '/root/testdata/sf0.01'


def _oracle(sf, n_queries=8, k=5):
  con = duckdb.connect()
  return con.execute(f"""
    WITH d AS (SELECT doc_id, text
               FROM read_parquet('{sf}/documents.parquet')),
    toks AS (SELECT doc_id,
                    unnest(list_filter(string_split(text, ' '),
                                       x -> len(x) > 0)) AS term
             FROM d),
    dl AS (SELECT d.doc_id,
                  CAST(coalesce(t.c, 0) AS BIGINT) AS dl
           FROM d LEFT JOIN (SELECT doc_id, count(*) AS c
                             FROM toks GROUP BY doc_id) t
                  ON d.doc_id = t.doc_id),
    const AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
              FROM dl),
    ranked_terms AS (
      SELECT term,
             ROW_NUMBER() OVER (ORDER BY count(*) DESC, term) AS rn
      FROM toks GROUP BY term),
    qterms AS (SELECT CAST((rn - 1) // 2 AS INT) AS query_id, term
               FROM ranked_terms WHERE rn <= 2 * {n_queries}),
    qnames AS (SELECT query_id,
                      string_agg(term, ' ' ORDER BY term) AS query
               FROM qterms GROUP BY query_id),
    tfq AS (SELECT t.doc_id, t.term, q.query_id,
                   CAST(count(*) AS BIGINT) AS tf
            FROM toks t JOIN qterms q ON t.term = q.term
            GROUP BY t.doc_id, t.term, q.query_id),
    dfq AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
            FROM tfq GROUP BY term),
    scored AS (
      SELECT tfq.query_id, tfq.doc_id,
             SUM(((CAST(const.n AS DOUBLE) - dfq.df + 0.5)
                  / (dfq.df + 0.5))
                 * ((CAST(tfq.tf AS DOUBLE) * 2.2)
                    / (CAST(tfq.tf AS DOUBLE)
                       + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE)
                                               / const.avgdl)))))
               AS score,
             MIN(dl.dl) AS dl
      FROM tfq JOIN dfq ON tfq.term = dfq.term
               JOIN dl ON tfq.doc_id = dl.doc_id
               CROSS JOIN const
      GROUP BY tfq.query_id, tfq.doc_id)
    SELECT s.query_id, q.query, s.doc_id, s.dl,
           ROUND(s.score, 6) AS score_r, s.rnk
    FROM (SELECT *, CAST(ROW_NUMBER() OVER (
              PARTITION BY query_id
              ORDER BY score DESC, doc_id) AS INT) AS rnk
          FROM scored) s
    JOIN qnames q ON s.query_id = q.query_id
    WHERE s.rnk <= {k}
    ORDER BY s.query_id, s.rnk""").fetchall()


def _rows(df):
  return [(r['query_id'], r['query'], r['doc_id'], r['dl'],
           r['score_r'], r['rnk']) for r in df.collect()]


@pytest.mark.parametrize('sf', [SF1, SF2])
def test_matches_duckdb_exactly(spark, sf):
  got = _rows(T.bm25_topk(documents(spark, sf)))
  exp = [tuple(r) for r in _oracle(sf)]
  assert got == exp
  assert len(got) == 8 * 5


def test_python_recomputation(spark):
  import pandas as pd
  docs = pd.read_parquet(f'{SF1}/documents.parquet')[['doc_id', 'text']]
  toks = {r.doc_id: [t for t in str(r.text).split(' ') if t]
          for r in docs.itertuples()}
  cnt = collections.Counter()
  for ts in toks.values():
    cnt.update(ts)
  top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:16]
  n = len(docs)
  avgdl = sum(len(v) for v in toks.values()) / n
  exp = []
  for qid in range(8):
    qts = [top[2 * qid][0], top[2 * qid + 1][0]]
    dfq = {t: sum(1 for v in toks.values() if t in v) for t in qts}
    scores = {}
    for did, ts in toks.items():
      s, hit = 0.0, False
      for t in qts:
        tf = ts.count(t)
        if tf == 0:
          continue
        hit = True
        idf = (float(n) - dfq[t] + 0.5) / (dfq[t] + 0.5)
        norm = 1.2 * (0.25 + 0.75 * (float(len(ts)) / avgdl))
        s += idf * ((float(tf) * 2.2) / (float(tf) + norm))
      if hit:
        scores[did] = (s, len(ts))
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1][0], kv[0]))[:5]
    exp.extend((qid, ' '.join(sorted(qts)), did, dl, round(s, 6), r)
               for r, (did, (s, dl)) in enumerate(ranked, 1))
  assert _rows(T.bm25_topk(documents(spark, SF1))) == exp


def test_repartition_determinism(spark):
  base = _rows(T.bm25_topk(documents(spark, SF1)))
  docs = spark.read.parquet(f'{SF1}/documents.parquet').repartition(64)
  assert _rows(T.bm25_topk(docs)) == base


def test_saturation_and_length_norm(spark):
  # planted corpus: same query-term hits, shorter doc wins; and tf
  # saturates — 50 repetitions cannot push a score past (k1+1)·idf
  # distinct filler words so the top-2 query terms are apple + banana
  rows = [(1, 'apple banana pad'),
          (2, 'apple banana w1 w2 w3 w4'),
          (3, ' '.join(['apple'] * 50) + ' banana')]
  docs = spark.createDataFrame(rows, 'doc_id int, text string')
  out = T.bm25_topk(docs, n_queries=1, k=3)
  got = {r['doc_id']: (r['rnk'], r['score_r']) for r in out.collect()}
  assert set(got) == {1, 2, 3}
  assert got[1][0] < got[2][0]  # shorter doc ranks above longer twin
  # idf here: both terms in all 3 docs -> (3-3+0.5)/3.5 per term; the
  # saturating tf factor is < k1+1 = 2.2, so even 50 repetitions stay
  # under 2 * 2.2 * idf
  idf = (3.0 - 3 + 0.5) / 3.5
  assert got[3][1] < 2 * 2.2 * idf


def test_empty_corpus(spark):
  docs = spark.createDataFrame([], 'doc_id int, text string')
  out = T.bm25_topk(docs)
  assert out.count() == 0
  assert out.columns == ['query_id', 'query', 'doc_id', 'dl',
                         'score_r', 'rnk']


def test_plan_shape(spark):
  plan = T.bm25_topk(documents(spark, SF1))._jdf.queryExecution() \
      .executedPlan().toString()
  # the SCORING plan reads the corpus exactly once: dl and the
  # query-term hits ride the same staged tokenization (the query
  # synthesis pass is a separate, already-collected job)
  assert plan.count('FileScan parquet') == 1
  # two windows: candidate-sized df count + the per-query top-k
  assert plan.count('Window [') == 2
  # query-side joins (qterms in, qnames back) are broadcast
  assert 'BroadcastHashJoin' in plan
  assert 'SortMergeJoin' not in plan
