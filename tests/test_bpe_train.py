"""Distributed BPE vocabulary training (bpe_train): handcrafted merge
sequences, greedy left-to-right semantics, tie-breaks, early stop, and
full-corpus equality with a sequential pure-python trainer."""

from collections import Counter

import pytest
from blueprint_oss_spark.spark.sources import documents


def _ref_bpe(texts, n_merges):
  wc = Counter()
  for t in texts:
    for w in t.split(' '):
      if w:
        wc[w] += 1
  words = {w: (list(w), c) for w, c in wc.items()}
  out = []
  for rank in range(n_merges):
    pc = Counter()
    for syms, c in words.values():
      for a, b in zip(syms, syms[1:]):
        pc[(a, b)] += c
    if not pc:
      break
    (left, right), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
    merged = left + right
    out.append((rank, left, right, merged, cnt))
    for w in words:
      syms, c = words[w]
      ns = []
      for s in syms:
        if ns and ns[-1] == left and s == right:
          ns[-1] = merged
        else:
          ns.append(s)
      words[w] = (ns, c)
  return out


def _run(spark, tmp_path, texts, n_merges):
  from blueprint_oss_spark.ops.textops import bpe_train
  rows = [(i, t) for i, t in enumerate(texts)]
  spark.createDataFrame(rows, 'doc_id long, text string') \
      .write.mode('overwrite') \
      .parquet(str(tmp_path / 'documents.parquet'))
  return [tuple(r) for r in
          bpe_train(documents(spark, str(tmp_path)),
                    n_merges=n_merges).collect()]


def test_known_merge_sequence(spark, tmp_path):
  # 'low' x5, 'lower' x2, 'newest' x6, 'widest' x3 — the classic
  # Sennrich example shape: 'es'(9) then 'est'(9) then 'lo'(7) ...
  texts = (['low'] * 5 + ['lower'] * 2 + ['newest'] * 6 + ['widest'] * 3)
  got = _run(spark, tmp_path / 'k', texts, 6)
  assert got == _ref_bpe(texts, 6)
  assert got[0][1:4] == ('e', 's', 'es')
  assert got[1][1:4] == ('es', 't', 'est')


def test_left_to_right_overlap(spark, tmp_path):
  # 'aaa': pair (a,a) counts twice per word but merges once
  # left-to-right -> ['aa','a'], so round 2's top pair is ('aa','a')
  texts = ['aaa'] * 4
  got = _run(spark, tmp_path / 'o', texts, 2)
  assert got == _ref_bpe(texts, 2)
  assert got[0] == (0, 'a', 'a', 'aa', 8)
  assert got[1] == (1, 'aa', 'a', 'aaa', 4)


def test_tie_break_lexicographic(spark, tmp_path):
  # 'zz' and 'ab' both have pair count 3 -> ('a','b') wins the tie
  texts = ['zz'] * 3 + ['ab'] * 3
  got = _run(spark, tmp_path / 't', texts, 1)
  assert got[0][1:4] == ('a', 'b', 'ab')


def test_early_stop_no_pairs(spark, tmp_path):
  # single-char words only: no adjacent pairs, zero merges learned
  texts = ['a b c', 'd e']
  got = _run(spark, tmp_path / 'e', texts, 5)
  assert got == []


def test_sf0001_matches_python(spark):
  import duckdb
  texts = [t for (t,) in duckdb.sql(
      "SELECT text FROM '/root/testdata/sf0.001/documents.parquet'"
  ).fetchall()]
  from blueprint_oss_spark.ops.textops import bpe_train
  got = [tuple(r) for r in
         bpe_train(documents(spark, '/root/testdata/sf0.001'),
                   n_merges=10).collect()]
  assert got == _ref_bpe(texts, 10)
