"""repetition_stats (Gopher word-n-gram repetition filters) vs a
sequential pure-python recomputation, plus crafted-document edge cases
(the reference workload has no counterpart — this is a training-data
curation operator; definitions follow Rae et al. 2021 table A1 adapted
to exact integers)."""

from collections import Counter
from blueprint_oss_spark.spark.sources import documents


def _rep_python(doc_id, text):
  ws = [w for w in text.split(' ') if w]
  n_chars = len(text)
  bc = Counter(ws[i] + ' ' + ws[i + 1] for i in range(len(ws) - 1))
  if bc:
    top_g, top_c = min(bc.items(), key=lambda kv: (-kv[1], kv[0]))
    top_chars = top_c * len(top_g)
  else:
    top_g, top_c, top_chars = '', 0, 0
  fc = Counter(' '.join(ws[i:i + 5]) for i in range(len(ws) - 4))
  dup5 = sum(c * len(g) for g, c in fc.items() if c >= 2)
  ok_top = 5 * top_chars <= n_chars
  ok_dup = 20 * dup5 <= 3 * n_chars
  return (doc_id, n_chars, top_g, top_c, top_chars, dup5,
          int(ok_top), int(ok_dup), int(ok_top and ok_dup))


def test_repetition_stats_vs_python_sf001(spark):
  from blueprint_oss_spark.ops.textops import repetition_stats
  docs = {r['doc_id']: r['text']
          for r in spark.read.parquet(
              '/root/testdata/sf0.001/documents.parquet').collect()}
  got = [tuple(r) for r in
         repetition_stats(
             documents(spark, '/root/testdata/sf0.001')).collect()]
  expect = [_rep_python(d, docs[d]) for d in sorted(docs)]
  assert got == expect
  # the stats are non-degenerate on this corpus: verdicts both ways
  keeps = [r[-1] for r in got]
  assert 0 < sum(keeps) < len(keeps)


def test_repetition_stats_crafted_docs(spark, tmp_path):
  from blueprint_oss_spark.ops.textops import repetition_stats
  docs = [
      (0, 'spam spam spam spam spam spam'),          # dominated by one bigram
      (1, 'a b c d e f g h i j k l m n o p'),        # all grams unique
      (2, 'x y z w v x y z w v x y z w v'),          # duplicated 5-grams
      (3, 'one'),                                    # < 2 words
      (4, ''),                                       # empty
      (5, '  double  spaced   tokens  '),            # empty-token filtering
  ]
  spark.createDataFrame(docs, 'doc_id long, text string') \
      .write.parquet(str(tmp_path / 'documents.parquet'))
  got = [tuple(r) for r in
         repetition_stats(documents(spark, str(tmp_path))).collect()]
  expect = [_rep_python(d, t) for d, t in docs]
  assert got == expect
  by_id = {r[0]: r for r in got}
  assert by_id[0][-1] == 0          # spam doc rejected
  assert by_id[1][-1] == 1          # clean doc kept
  assert by_id[2][5] > 0            # dup5_chars counted
  assert by_id[3][2] == '' and by_id[4][2] == ''


def test_repetition_stats_docs_seam(spark):
  """A handed-in docs frame composes with upstream filtering (same contract as
  quality_filter / ngram_jaccard_pairs)."""
  from blueprint_oss_spark.ops.textops import repetition_stats
  d = spark.read.parquet('/root/testdata/sf0.001/documents.parquet') \
      .where('doc_id < 10')
  out = repetition_stats(d).collect()
  assert [r['doc_id'] for r in out] == list(range(10))


def test_repetition_stats_plan_shape(spark):
  """Plan pin: every hash shuffle keys on doc_id (the word-count shape
  — the (doc_id, gram) aggregations use map-side partial aggregation
  and hash-partition by the full grouping key whose first column is
  doc_id); no Python in the plan (all built-ins)."""
  import re
  from blueprint_oss_spark.ops.textops import repetition_stats
  plan = repetition_stats(documents(spark, '/root/testdata/sf0.001')) \
      ._jdf.queryExecution().executedPlan().toString()
  hashes = re.findall(r'Exchange hashpartitioning\((\w+)#', plan)
  assert hashes and set(hashes) == {'doc_id'}, hashes
  assert 'Python' not in plan
  # partial aggregation before each shuffle (map-side combine)
  assert 'partial_count' in plan or 'HashAggregate' in plan


def test_repetition_stats_fuzz_corpus(spark, tmp_path):
  """Seeded fuzz: one Spark pass over 120 adversarial docs (unicode,
  repeated single tokens, long runs, whitespace soup, high-dup n-gram
  patterns) must equal the sequential python recomputation exactly —
  the whole-corpus analogue of a per-example hypothesis run, without
  paying one Spark job per example."""
  import random
  rng = random.Random(20260818)
  alphabet = ['a', 'bb', 'ccc', 'Ω', '字', 'x!', '.', '--', '\t', '𝔘']
  docs = []
  for i in range(120):
    mode = i % 4
    if mode == 0:        # uniform random tokens
      words = [rng.choice(alphabet) for _ in range(rng.randrange(0, 40))]
    elif mode == 1:      # heavy repetition of one token
      words = [rng.choice(alphabet)] * rng.randrange(1, 60)
    elif mode == 2:      # repeated phrase blocks (dup 5-grams)
      block = [rng.choice(alphabet) for _ in range(5)]
      words = block * rng.randrange(1, 8)
    else:                # whitespace soup
      words = []
      for _ in range(rng.randrange(0, 20)):
        words.append(rng.choice(alphabet))
        if rng.random() < 0.4:
          words.append('')      # doubled separator
    docs.append((i, ' '.join(words)))
  spark.createDataFrame(docs, 'doc_id long, text string') \
      .write.parquet(str(tmp_path / 'documents.parquet'))
  from blueprint_oss_spark.ops.textops import repetition_stats
  got = [tuple(r) for r in
         repetition_stats(documents(spark, str(tmp_path))).collect()]
  expect = [_rep_python(d, t) for d, t in docs]
  assert got == expect
