"""Exact substring deduplication (remove_duplicated_spans): planted
duplicated spans, a sequential python recomputation over a fuzz corpus,
and the plan shape (no Python, map-side partial aggregation)."""

import random

import pytest
from blueprint_oss_spark.spark.sources import documents


def _ref_remove(docs, n=10, min_count=2, min_run_tokens=None):
  """Sequential recomputation of the operator's contract: corpus-wide
  n-gram occurrence counts (within-doc repeats included), covered
  positions removed, tokens re-joined in order.  With min_run_tokens,
  only maximal runs of consecutive covered positions >= the threshold
  are removed (Lee et al. 2022 length-threshold semantics)."""
  toks = {d: [t for t in text.split(' ') if t] for d, text in docs}
  from collections import Counter
  counts = Counter()
  for d, _ in docs:
    w = toks[d]
    for i in range(len(w) - n + 1):
      counts[' '.join(w[i:i + n])] += 1
  out = []
  for d, _ in sorted(docs):
    w = toks[d]
    covered = set()
    for i in range(len(w) - n + 1):
      if counts[' '.join(w[i:i + n])] >= min_count:
        covered.update(range(i, i + n))
    if min_run_tokens is not None:
      keep_runs = set()
      run = []
      for p in sorted(covered) + [None]:
        if run and (p is None or p != run[-1] + 1):
          if len(run) >= min_run_tokens:
            keep_runs.update(run)
          run = []
        if p is not None:
          run.append(p)
      covered = keep_runs
    kept = [t for i, t in enumerate(w) if i not in covered]
    out.append((d, ' '.join(kept), len(w), len(covered)))
  return out


def _run(spark, tmp_path, docs, **kw):
  from blueprint_oss_spark.ops.textops import remove_duplicated_spans
  spark.createDataFrame(docs, 'doc_id long, text string') \
      .write.mode('overwrite') \
      .parquet(str(tmp_path / 'documents.parquet'))
  return [tuple(r) for r in
          remove_duplicated_spans(documents(spark, str(tmp_path)),
                                  **kw).collect()]


def test_planted_cross_doc_span(spark, tmp_path):
  span = ' '.join(f's{i}' for i in range(12))  # 12-word shared span
  docs = [
      (0, f'a0 b0 {span} c0 d0'),
      (1, f'a1 {span} z1'),
      (2, 'unique words only here nothing repeats at all ever once more'),
  ]
  got = _run(spark, tmp_path / 'p', docs)
  assert got == _ref_remove(docs)
  # the shared 12-word span is gone from both docs, flanks survive
  assert got[0][1] == 'a0 b0 c0 d0'
  assert got[1][1] == 'a1 z1'
  assert got[2][3] == 0  # untouched


def test_within_doc_repeat_counts(spark, tmp_path):
  # the same 10-gram twice INSIDE one doc reaches min_count=2
  block = ' '.join(f'w{i}' for i in range(10))
  docs = [(0, f'{block} mid {block}'), (1, 'solo text')]
  got = _run(spark, tmp_path / 'w', docs)
  assert got == _ref_remove(docs)
  assert got[0][1] == 'mid'


def test_edge_docs(spark, tmp_path):
  docs = [(0, ''), (1, 'short doc'),
          (2, ' '.join(['x'] * 25)),  # self-overlapping runs
          (3, ' '.join(['x'] * 25))]
  got = _run(spark, tmp_path / 'e', docs)
  assert got == _ref_remove(docs)
  assert got[0] == (0, '', 0, 0)
  assert got[2][1] == '' and got[2][3] == 25


def test_fuzz_corpus_matches_python(spark, tmp_path):
  rng = random.Random(20260818)
  vocab = [f'v{i}' for i in range(12)]
  docs = []
  for i in range(80):
    words = [rng.choice(vocab) for _ in range(rng.randrange(0, 35))]
    docs.append((i, ' '.join(words)))
  got = _run(spark, tmp_path / 'f', docs, n=5)
  assert got == _ref_remove(docs, n=5)


def test_min_run_tokens_planted(spark, tmp_path):
  # one 12-token shared span (run of 12 covered) + one 30-token shared
  # span: with min_run_tokens=20 only the 30-token run is stripped
  short = ' '.join(f's{i}' for i in range(12))
  long = ' '.join(f'L{i}' for i in range(30))
  docs = [
      (0, f'a0 {short} b0 {long} c0'),
      (1, f'{short} z1 {long}'),
      (2, 'no duplicated content in this document at all whatsoever here'),
  ]
  got = _run(spark, tmp_path / 'mr', docs, min_run_tokens=20)
  assert got == _ref_remove(docs, min_run_tokens=20)
  # the short duplicated span SURVIVES, the long one is removed
  assert got[0][1] == f'a0 {short} b0 c0'
  assert got[0][3] == 30
  assert got[1][1] == f'{short} z1'
  # threshold 1 degenerates to the aggressive any-covered-token rule
  got_all = _run(spark, tmp_path / 'mr1', docs, min_run_tokens=1)
  assert got_all == _ref_remove(docs)


def test_min_run_tokens_fuzz(spark, tmp_path):
  rng = random.Random(20260821)
  vocab = [f'v{i}' for i in range(10)]
  docs = []
  for i in range(70):
    words = [rng.choice(vocab) for _ in range(rng.randrange(0, 40))]
    docs.append((i, ' '.join(words)))
  for thr in (3, 8, 15):
    got = _run(spark, tmp_path / f't{thr}', docs, n=4,
               min_run_tokens=thr)
    assert got == _ref_remove(docs, n=4, min_run_tokens=thr), thr


def test_sf0001_matches_python():
  import duckdb
  rows = duckdb.sql(
      "SELECT doc_id, text FROM "
      "'/root/testdata/sf0.001/documents.parquet'").fetchall()
  # recompute expected sequentially; compare to a cached Spark run in
  # the same process via the shared fixture is cheaper — done in
  # test_oracle_equiv below; here just sanity-check the reference impl
  exp = _ref_remove(rows)
  assert len(exp) == len(rows)
  assert all(e[2] >= e[3] >= 0 for e in exp)


def test_sf0001_oracle_equiv(spark):
  from blueprint_oss_spark.ops.textops import remove_duplicated_spans
  import duckdb
  rows = duckdb.sql(
      "SELECT doc_id, text FROM "
      "'/root/testdata/sf0.001/documents.parquet'").fetchall()
  exp = _ref_remove(rows)
  got = [tuple(r) for r in
         remove_duplicated_spans(documents(spark, '/root/testdata/sf0.001'))
         .collect()]
  assert got == exp


def test_plan_shape(spark):
  from blueprint_oss_spark.ops.textops import remove_duplicated_spans
  plan = remove_duplicated_spans(documents(spark, '/root/testdata/sf0.001')) \
      ._jdf.queryExecution().executedPlan().toString()
  assert 'Python' not in plan           # all JVM built-ins
  assert 'CartesianProduct' not in plan
  assert 'HashAggregate' in plan        # map-side partial agg on gram df
