"""Curation operators: stratified sampling, table profiling, TF-IDF.
Semantics are gate-checked against DuckDB (scripts/check_correctness.py);
these tests pin the physical-plan promises (no shuffle where none is
needed, no Python in the plan) and the determinism/rate properties.
"""

import collections

import pandas as pd
from blueprint_oss_spark.spark.sources import documents

SF = '/root/testdata/sf0.01'


def test_stratified_sample_deterministic_and_shuffle_free(spark):
  from blueprint_oss_spark.ops.profiling import stratified_sample
  a = stratified_sample(spark, SF).collect()
  b = stratified_sample(spark, SF).collect()
  assert a == b and len(a) > 0
  # scan + filter only: no Exchange anywhere in the physical plan
  # (orderBy is presentation for the gate; check the filtered frame)
  from pyspark.sql import functions as F
  d = spark.read.parquet(f'{SF}/documents.parquet')
  h = F.md5(F.col('doc_id').cast('string'))
  plan = d.where(h < F.lit('80000000000000000000000000000000')) \
      ._jdf.queryExecution().executedPlan().toString()
  assert 'Exchange' not in plan


def test_stratified_sample_rates(spark):
  from blueprint_oss_spark.ops.profiling import stratified_sample
  docs = spark.read.parquet(f'{SF}/documents.parquet') \
      .groupBy('lang').count().collect()
  totals = {r['lang']: r['count'] for r in docs}
  kept = collections.Counter(
      r['lang'] for r in stratified_sample(spark, SF).collect())
  want = {'en': 0.5, 'es': 0.25, 'de': 0.25, 'fr': 0.125}
  for lang, rate in want.items():
    if totals.get(lang, 0) < 40:
      continue
    got = kept[lang] / totals[lang]
    # binomial noise at n>=40: allow +/-0.18 absolute
    assert abs(got - rate) < 0.18, (lang, got, rate)


def test_table_profile_matches_pandas(spark):
  from blueprint_oss_spark.ops.profiling import table_profile
  got = {r['lang']: r.asDict() for r in table_profile(spark, SF).collect()}
  pdf = pd.read_parquet(f'{SF}/documents.parquet')
  for lang, g in pdf.groupby('lang'):
    row = got[lang]
    assert row['n_docs'] == len(g)
    assert row['n_distinct_texts'] == g['text'].nunique()
    assert row['min_len'] == g['text'].str.len().min()
    assert row['max_len'] == g['text'].str.len().max()
    assert row['total_len'] == g['text'].str.len().sum()


def test_tfidf_no_python_in_plan_and_top1_is_argmax(spark):
  from blueprint_oss_spark.ops.textops import tfidf_top_terms
  out = tfidf_top_terms(documents(spark, SF))
  plan = out._jdf.queryExecution().executedPlan().toString()
  assert 'Python' not in plan and 'mapInPandas' not in plan
  rows = out.collect()
  pdf = pd.read_parquet(f'{SF}/documents.parquet')
  n_docs = len(pdf)
  # recompute df for the terms of three sample docs
  doc_terms = {r['doc_id']: [] for r in rows}
  for r in rows:
    doc_terms[r['doc_id']].append(r)
  all_tf = {}
  df_cnt = collections.Counter()
  for _, row in pdf.iterrows():
    toks = [t for t in row['text'].split(' ') if t]
    cnt = collections.Counter(toks)
    all_tf[row['doc_id']] = cnt
    df_cnt.update(cnt.keys())
  for doc_id in list(doc_terms)[:3]:
    cnt = all_tf[doc_id]
    best_term, best_score = None, None
    for t, tf in cnt.items():
      s = float(tf) * (float(n_docs) - df_cnt[t] + 0.5) / (df_cnt[t] + 0.5)
      if best_score is None or s > best_score or \
         (s == best_score and t < best_term):
        best_term, best_score = t, s
    top = sorted(doc_terms[doc_id], key=lambda r: r['rnk'])[0]
    assert top['term'] == best_term
    assert abs(top['score_r'] - round(best_score, 6)) < 1e-9
