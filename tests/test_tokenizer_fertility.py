"""Per-language tokenizer fertility audit: exact integer sums verified
by a FULL sequential pure-python BPE recomputation, LEFT-join
semantics for token-less docs, and conservation against the corpus
totals.
"""

from __future__ import annotations

from collections import Counter

import pyarrow.parquet as pq
import pytest

from blueprint_oss_spark.ops import textops as T
from blueprint_oss_spark.spark.sources import documents

SF1 = '/root/testdata/sf0.001'


def _python_fertility(sf_dir, n_merges=24):
  docs = pq.read_table(f'{sf_dir}/documents.parquet') \
      .select(['text', 'lang']).to_pandas()
  wc: Counter = Counter()
  for t in docs.text:
    for w in t.split(' '):
      if w:
        wc[w] += 1
  words = {w: list(w) for w in wc}
  for _ in range(n_merges):
    pc: Counter = Counter()
    for w, syms in words.items():
      for a, b in zip(syms, syms[1:]):
        pc[(a, b)] += wc[w]
    if not pc:
      break
    (left, right), _ = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
    merged = left + right
    for w, syms in words.items():
      out: list = []
      for s in syms:
        if out and out[-1] == left and s == right:
          out[-1] = merged
        else:
          out.append(s)
      words[w] = out
  out = {}
  for t, lg in zip(docs.text, docs.lang):
    e = out.setdefault(lg, [0, 0, 0, 0, 0])
    e[0] += 1
    e[3] += len(t)
    e[4] += len(t.encode('utf-8'))
    for w in t.split(' '):
      if w:
        e[1] += 1
        e[2] += len(words[w])
  return out


def test_matches_full_python_recomputation(spark):
  exp = _python_fertility(SF1)
  got = T.tokenizer_fertility(documents(spark, SF1)).toPandas()
  assert set(got.lang) == set(exp)
  for r in got.itertuples():
    assert [r.n_docs, r.n_words, r.n_tokens, r.n_chars, r.n_bytes] \
        == exp[r.lang], r.lang
  # fertility is the audit's point: tokens strictly exceed words
  # after only 24 merges on a 31-word vocabulary
  assert (got.n_tokens > got.n_words).all()


def test_tokenless_docs_still_counted(spark):
  docs = spark.createDataFrame(
      [(1, 'scan merge join', 'xx'), (2, '   ', 'xx'), (3, '', 'yy')],
      'doc_id long, text string, lang string')
  got = (T.tokenizer_fertility(docs)
         .orderBy('lang').toPandas())
  xx = got[got.lang == 'xx'].iloc[0]
  assert xx.n_docs == 2 and xx.n_words == 3 and xx.n_chars == 18
  yy = got[got.lang == 'yy'].iloc[0]
  assert yy.n_docs == 1 and yy.n_words == 0 and yy.n_tokens == 0


def test_conserves_corpus_totals(spark):
  fert = T.tokenizer_fertility(documents(spark, SF1)).toPandas()
  enc = T.bpe_encode(documents(spark, SF1)).toPandas()
  assert fert.n_words.sum() == enc.n_words.sum()
  assert fert.n_tokens.sum() == enc.n_tokens.sum()
