"""Distributed BPE tokenization (bpe_encode): per-doc token accounting
and full encoded sequences must equal a sequential pure-python encoder
applying the same merge table in rank order, greedy left-to-right."""

from collections import Counter
from blueprint_oss_spark.spark.sources import documents


def _ref_merges(texts, n_merges):
  wc = Counter()
  for t in texts:
    for w in t.split(' '):
      if w:
        wc[w] += 1
  words = {w: (list(w), c) for w, c in wc.items()}
  out = []
  for _ in range(n_merges):
    pc = Counter()
    for syms, c in words.values():
      for a, b in zip(syms, syms[1:]):
        pc[(a, b)] += c
    if not pc:
      break
    (left, right), _cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
    merged = left + right
    out.append((left, right, merged))
    for w in words:
      syms, c = words[w]
      words[w] = (_apply(syms, left, right, merged), c)
  return out


def _apply(syms, left, right, merged):
  ns = []
  for s in syms:
    if ns and ns[-1] == left and s == right:
      ns[-1] = merged
    else:
      ns.append(s)
  return ns


def _ref_encode_word(word, merges):
  syms = list(word)
  for left, right, merged in merges:
    syms = _apply(syms, left, right, merged)
  return syms


def _ref_encode_doc(text, merges):
  toks = []
  for w in text.split(' '):
    if w:
      toks.extend(_ref_encode_word(w, merges))
  return toks


def _write(spark, tmp_path, texts):
  rows = [(i, t) for i, t in enumerate(texts)]
  spark.createDataFrame(rows, 'doc_id long, text string') \
      .write.mode('overwrite') \
      .parquet(str(tmp_path / 'documents.parquet'))
  return str(tmp_path)


def test_token_counts_match_python(spark, tmp_path):
  from blueprint_oss_spark.ops.textops import bpe_encode
  texts = (['low low lower'] * 3 + ['newest widest'] * 4
           + ['the newest low'] * 2 + ['zz ab ab'])
  sf = _write(spark, tmp_path, texts)
  merges = _ref_merges(texts, 8)
  got = {r['doc_id']: (r['n_words'], r['n_tokens'])
         for r in bpe_encode(documents(spark, sf), n_merges=8).collect()}
  for i, t in enumerate(texts):
    toks = _ref_encode_doc(t, merges)
    n_words = len([w for w in t.split(' ') if w])
    assert got[i] == (n_words, len(toks)), (i, t, got[i])


def test_full_sequences_match_python(spark, tmp_path):
  from blueprint_oss_spark.ops.textops import bpe_encode
  texts = ['aaa aa a', 'banana bandana', 'low lower lowest', 'aaa banana']
  sf = _write(spark, tmp_path, texts)
  merges = _ref_merges(texts, 6)
  got = {r['doc_id']: (list(r['tokens']), r['n_tokens'])
         for r in bpe_encode(documents(spark, sf), n_merges=6,
                             return_tokens=True).collect()}
  for i, t in enumerate(texts):
    toks = _ref_encode_doc(t, merges)
    assert got[i] == (toks, len(toks)), (i, t, got[i])


def test_precomputed_merge_table_seam(spark, tmp_path):
  # A merge table trained on corpus A applied to corpus B (the
  # production shape: train once, tokenize everything).
  from blueprint_oss_spark.ops.textops import bpe_encode, bpe_train
  train_texts = ['low'] * 5 + ['lower'] * 2 + ['newest'] * 6
  apply_texts = ['slowest winter', 'newer lows', 'unseen zebra']
  sf_a = _write(spark, tmp_path / 'a', train_texts)
  sf_b = _write(spark, tmp_path / 'b', apply_texts)
  merges_df = bpe_train(documents(spark, sf_a), n_merges=5)
  merges = _ref_merges(train_texts, 5)
  got = {r['doc_id']: list(r['tokens'])
         for r in bpe_encode(documents(spark, sf_b), merges=merges_df,
                             return_tokens=True).collect()}
  for i, t in enumerate(apply_texts):
    assert got[i] == _ref_encode_doc(t, merges), (i, t)


def test_sf0001_token_totals(spark):
  import duckdb
  rows = duckdb.sql(
      "SELECT doc_id, text FROM "
      "'/root/testdata/sf0.001/documents.parquet'").fetchall()
  texts_by_id = {int(i): t for i, t in rows}
  merges = _ref_merges(list(texts_by_id.values()), 12)
  from blueprint_oss_spark.ops.textops import bpe_encode
  got = {r['doc_id']: r['n_tokens']
         for r in bpe_encode(documents(spark, '/root/testdata/sf0.001'),
                             n_merges=12).collect()}
  assert set(got) == set(texts_by_id)
  for i, t in texts_by_id.items():
    assert got[i] == len(_ref_encode_doc(t, merges)), i
