"""fastText-style hashed-bag-of-words quality classifier, trained
in-job on weak labels (the GPT-3/CCNet/FineWeb curation pattern).

Checks:
  1. Bit-exact equality with a from-scratch DuckDB recomputation
     (weak labels, md5 bucket hashing, add-one NB posteriors, pinned
     pos-order fold) at sf0.001 AND sf0.01.
  2. The learned model actually separates: pred agrees with the weak
     label on a clear majority of labeled docs (it was trained on
     them — disagreement bounded by hash collisions + smoothing).
  3. Explicit `labels=` path (curated seed set): train on half the
     corpus, score all of it.
  4. quality_keep_expr == quality_filter.keep column-for-column (the
     inline-label refactor preserves the oracled semantics).
  5. Plan audit: the default path has NO join in the training subplan
     (weak label inline on the scan) and exactly two substantive
     shuffles (bucket counts, per-doc re-agg).
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from blueprint_oss_spark.ops import curation as C
from blueprint_oss_spark.ops.textops import (
    STOPWORDS_EN, quality_filter, quality_keep_expr,
)
from blueprint_oss_spark.spark.sources import documents

SF1 = '/root/testdata/sf0.001'
SF2 = '/root/testdata/sf0.01'


def _oracle_sql(n_buckets: int = 4096) -> str:
  stop = ','.join(f"'{s}'" for s in STOPWORDS_EN)
  return rf"""
    WITH t AS (
      SELECT doc_id, text,
             list_filter(string_split(text, ' '), x -> len(x) > 0) AS t
      FROM documents),
    q AS (
      SELECT doc_id,
             (len(t) >= 5 AND len(t) <= 100000
              AND list_sum(list_transform(t, x -> len(x))) >= 2*len(t)
              AND list_sum(list_transform(t, x -> len(x))) <= 12*len(t)
              AND len(list_filter(t, x -> x IN ({stop}))) >= 1
              AND 2*len(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                  >= len(text))::INT AS label
      FROM t),
    tok AS (
      SELECT doc_id, CAST(i.i - 1 AS BIGINT) AS pos,
             CAST(('0x' || substring(md5('qc:' || t[i.i]), 1, 8))
                  AS BIGINT) % {n_buckets} AS bkt
      FROM t, (SELECT unnest(generate_series(1, 4096)) AS i) i
      WHERE i.i <= len(t)),
    cnt AS (
      SELECT bkt, label, count(*) AS c
      FROM tok JOIN q USING (doc_id) GROUP BY bkt, label),
    tot AS (
      SELECT coalesce(sum(c) FILTER (label = 0), 0) AS t0,
             coalesce(sum(c) FILTER (label = 1), 0) AS t1 FROM cnt),
    post AS (
      SELECT doc_id, pos,
             ((coalesce(c1.c, 0) + 1) / (tot.t1 + {n_buckets})) /
             (((coalesce(c1.c, 0) + 1) / (tot.t1 + {n_buckets}))
              + ((coalesce(c0.c, 0) + 1) / (tot.t0 + {n_buckets})))
               AS q
      FROM tok
      LEFT JOIN (SELECT bkt, c FROM cnt WHERE label = 1) c1 USING (bkt)
      LEFT JOIN (SELECT bkt, c FROM cnt WHERE label = 0) c0 USING (bkt)
      CROSS JOIN tot),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                      list(q ORDER BY pos)),
                         (acc, x) -> acc + x) AS q_sum
      FROM post GROUP BY doc_id)
    SELECT doc_id, n_scored,
           round(q_sum / n_scored, 6) AS nb_posterior,
           CAST(q_sum * 2 > n_scored AS INT) AS pred
    FROM agg ORDER BY doc_id
  """


@pytest.mark.parametrize('sf', [SF1, SF2])
def test_matches_duckdb_oracle(spark, sf):
  con = duckdb.connect()
  con.execute(f"CREATE VIEW documents AS SELECT * FROM "
              f"read_parquet('{sf}/documents.parquet')")
  oracle = con.execute(_oracle_sql()).df()
  got = C.quality_classifier(documents(spark, sf)).toPandas()
  assert list(got.columns) == ['doc_id', 'n_scored', 'nb_posterior',
                               'pred']
  assert len(got) == len(oracle)
  assert got.reset_index(drop=True).equals(oracle.reset_index(drop=True))


def test_pred_agrees_with_weak_labels(spark):
  d = spark.read.parquet(f'{SF1}/documents.parquet')
  lab = {r['doc_id']: r['k'] for r in d.select(
      'doc_id', quality_keep_expr(F.col('text')).alias('k')).collect()}
  pred = {r['doc_id']: r['pred']
          for r in C.quality_classifier(documents(spark, SF1)).collect()}
  agree = sum(1 for did, p in pred.items() if p == lab[did])
  assert agree / len(pred) > 0.7, (
      f'classifier failed to fit its own training labels: '
      f'{agree}/{len(pred)}')


def test_explicit_labels_seed_set(spark):
  d = spark.read.parquet(f'{SF1}/documents.parquet')
  seed = d.where('doc_id % 2 = 0').select(
      'doc_id', (F.col('doc_id') % 4 == 0).cast('int').alias('label'))
  out = C.quality_classifier(documents(spark, SF1), labels=seed).toPandas()
  # every doc with tokens is scored, trained only on the seed half
  n_docs = d.where(
      "size(filter(split(text, ' '), x -> length(x) > 0)) > 0").count()
  assert len(out) == n_docs
  assert set(out.columns) == {'doc_id', 'n_scored', 'nb_posterior',
                              'pred'}
  assert out['nb_posterior'].between(0, 1).all()


def test_keep_expr_equals_quality_filter(spark):
  d = spark.read.parquet(f'{SF2}/documents.parquet')
  a = d.select('doc_id', quality_keep_expr(F.col('text')).alias('k')) \
      .toPandas().set_index('doc_id')['k'].sort_index()
  b = quality_filter(documents(spark, SF2)).toPandas() \
      .set_index('doc_id')['keep'].sort_index()
  assert (a == b).all()


def test_plan_no_train_join_one_scoring_shuffle(spark):
  # the returned plan is the SCORING side only (training ran once at
  # model collect time): broadcast model join + per-doc re-agg; the
  # sole hash exchange is the doc_id re-aggregation
  plan = C.quality_classifier(documents(spark, SF1))._jdf.queryExecution() \
      .executedPlan().toString()
  assert 'SortMergeJoin' not in plan, plan
  assert 'BroadcastHashJoin' in plan, plan
  n_hash_exchanges = plan.count('Exchange hashpartitioning')
  assert n_hash_exchanges == 1, (n_hash_exchanges, plan)
  # the training subplan (groupBy bkt over the corpus) must NOT be in
  # the scoring plan — the model is a literal local relation
  assert plan.count('Scan parquet') == 1, plan
