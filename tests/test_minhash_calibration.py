"""MinHash estimator calibration: per-candidate-pair estimated
(signature-agreement) vs exact (distinct-shingle) Jaccard, verified by
a FULL pure-python recomputation (spark_xxhash64 replica), exact-dup
planting, estimator-bounds sanity, and the broadcast-pair plan pin.
"""

from __future__ import annotations

import sys

import pytest
from pyspark.sql import functions as F

from tests.conftest import REPO_ROOT

sys.path.insert(0, str(REPO_ROOT / 'scripts'))

from blueprint_oss_spark.ops import textops as T
from blueprint_oss_spark.spark.sources import documents

SF1 = '/root/testdata/sf0.001'


def _python_calibration(text, n_hashes=16, shingle=3, bands=4):
  from spark_xxhash64 import spark_xxhash64
  rows_per_band = n_hashes // bands
  sigs, shsets, buckets = {}, {}, {}
  for d, t in text.items():
    toks = [w for w in t.split(' ') if w]
    if len(toks) < shingle:
      continue
    sh = [' '.join(toks[i:i + shingle])
          for i in range(len(toks) - shingle + 1)]
    sig = [min(spark_xxhash64(s, ('int', seed)) for s in sh)
           for seed in range(1, n_hashes + 1)]
    sigs[d], shsets[d] = sig, set(sh)
    for b in range(bands):
      parts = sig[b * rows_per_band:(b + 1) * rows_per_band]
      bucket = spark_xxhash64(*[('long', p) for p in parts],
                              ('int', 1000 + b))
      buckets.setdefault(bucket, set()).add(d)
  pairs = set()
  for ds in buckets.values():
    ds = sorted(ds)
    for i, a in enumerate(ds):
      for b in ds[i + 1:]:
        pairs.add((a, b))
  out = {}
  for a, b in pairs:
    est = sum(x == y for x, y in zip(sigs[a], sigs[b]))
    out[(a, b)] = (est, len(shsets[a] & shsets[b]),
                   len(shsets[a] | shsets[b]))
  return out


def test_full_python_recomputation(spark):
  import pyarrow.parquet as pq
  docs = pq.read_table(f'{SF1}/documents.parquet') \
      .select(['doc_id', 'text']).to_pandas()
  expect = _python_calibration(dict(zip(docs.doc_id, docs.text)))
  got = T.minhash_calibration(documents(spark, SF1)).toPandas()
  assert len(got) == len(expect) > 0
  for r in got.itertuples():
    assert expect[(r.doc_a, r.doc_b)] == (r.est_match, r.inter, r.uni), \
        (r.doc_a, r.doc_b)


def test_exact_dup_pair_is_perfectly_calibrated(spark):
  base = 'the fast key order sort table scan merge part window ' * 3
  docs = spark.createDataFrame(
      [(1, base), (2, base), (3, 'completely different words here '
                                 'about nothing shared at all ' * 3)],
      'doc_id long, text string')
  got = T.minhash_calibration(docs).toPandas()
  dup = got[(got.doc_a == 1) & (got.doc_b == 2)]
  assert len(dup) == 1
  r = dup.iloc[0]
  assert r.est_match == 16 and r.inter == r.uni


def test_estimator_bounds_and_pair_set_matches_lsh(spark):
  got = T.minhash_calibration(documents(spark, SF1)).toPandas()
  pairs = T.minhash_shingles(documents(spark, SF1)).toPandas()
  assert list(zip(got.doc_a, got.doc_b)) \
      == list(zip(pairs.doc_a, pairs.doc_b))
  assert ((got.est_match >= 0) & (got.est_match <= 16)).all()
  assert ((got.inter >= 1) & (got.inter <= got.uni)).all()
  # LSH candidates at bands=4/rows=4 should mostly be high-Jaccard:
  # every pair here shares at least one full band of 4 minhashes
  assert (got.est_match >= 4).all()


def test_corpus_side_never_sort_merge_joins(spark):
  plan = (T.minhash_calibration(documents(spark, SF1))
          ._jdf.queryExecution().executedPlan().toString())
  assert 'SortMergeJoin' not in plan
