"""Unigram-LM tokenizer (Kudo 2018): full sequential pure-python
recomputation of train (seed -> EM -> prune) and encode (Viterbi) on
the real corpus; exhaustive-enumeration check of the Viterbi optimum
with exact Fraction scores; segmentation reconstruction; partitioning
determinism (micro-unit integer aggregation is order-free by design).
"""

from __future__ import annotations

from fractions import Fraction

import pytest

from blueprint_oss_spark.ops import unigram as U
from blueprint_oss_spark.spark.sources import documents

SF1 = '/root/testdata/sf0.001'

KW = dict(vocab_size=48, seed_size=96, max_piece_len=4, n_em=3)


# ---------------------------------------------------------------------
# sequential replica (plain python, no Spark, no pandas)

def _replica_train(sf, vocab_size, seed_size, max_piece_len, n_em):
  import pyarrow.parquet as pq
  texts = pq.read_table(f'{sf}/documents.parquet') \
      .column('text').to_pylist()
  wc: dict = {}
  for t in texts:
    for w in t.split(' '):
      if w:
        wc[w] = wc.get(w, 0) + 1
  # seed: frequency-weighted substring counts
  sc: dict = {}
  for w, c in wc.items():
    for i in range(len(w)):
      for l in range(1, min(max_piece_len, len(w) - i) + 1):
        sc[w[i:i + l]] = sc.get(w[i:i + l], 0) + c
  top = sorted(sc.items(), key=lambda kv: (-kv[1], kv[0]))[:seed_size]
  vocab = dict(top)
  for p, c in sc.items():
    if len(p) == 1:
      vocab.setdefault(p, c)
  vocab = {p: c * U.MICRO for p, c in vocab.items()}

  for _ in range(n_em):
    total = sum(vocab.values())
    probs = {p: c / total for p, c in vocab.items() if c > 0}
    new: dict = {}
    for w, c in wc.items():
      e = _replica_expected(w, probs, max_piece_len)
      for piece, g in e.items():
        new[piece] = new.get(piece, 0) + int(g * c * U.MICRO)
    vocab = {p: new.get(p, 0) for p in vocab
             if len(p) == 1 or new.get(p, 0) > 0}

  chars = {p: c for p, c in vocab.items() if len(p) == 1}
  multi = sorted(((p, c) for p, c in vocab.items() if len(p) > 1),
                 key=lambda kv: (-kv[1], kv[0]))
  keep = dict(chars)
  for p, c in multi:
    if len(keep) >= max(vocab_size, len(chars)):
      break
    keep[p] = c
  total = sum(keep.values())
  ranked = sorted(keep.items(), key=lambda kv: (-kv[1], kv[0]))
  return wc, ranked, total


def _replica_expected(word, probs, mpl):
  n = len(word)
  alpha = [1.0] + [0.0] * n
  for i in range(1, n + 1):
    s = 0.0
    for j in range(max(0, i - mpl), i):
      p = probs.get(word[j:i])
      if p and alpha[j]:
        s += alpha[j] * p
    alpha[i] = s
  if alpha[n] == 0.0:
    return {}
  beta = [0.0] * n + [1.0]
  for i in range(n - 1, -1, -1):
    s = 0.0
    for j in range(i + 1, min(n, i + mpl) + 1):
      p = probs.get(word[i:j])
      if p and beta[j]:
        s += p * beta[j]
    beta[i] = s
  out: dict = {}
  for j in range(n):
    for i in range(j + 1, min(n, j + mpl) + 1):
      p = probs.get(word[j:i])
      if p and alpha[j] and beta[i]:
        out[word[j:i]] = out.get(word[j:i], 0.0) \
            + alpha[j] * p * beta[i] / alpha[n]
  return out


def _replica_viterbi(word, vocab, total, mpl):
  """Independent DP with Fraction scores (no bigint cross-multiply):
  maximize (score, -k), first-found-wins on full ties with ascending
  start scan — the documented contract."""
  n = len(word)
  best = [None] * (n + 1)
  best[0] = (Fraction(1), 0, ())
  for i in range(1, n + 1):
    cur = None
    for j in range(max(0, i - mpl), i):
      if best[j] is None:
        continue
      c = vocab.get(word[j:i])
      if c is None:
        continue
      sc = best[j][0] * Fraction(c, total)
      cand = (sc, best[j][1] + 1, best[j][2] + (word[j:i],))
      if cur is None or sc > cur[0] or (sc == cur[0]
                                        and cand[1] < cur[1]):
        cur = cand
    best[i] = cur
  return best[n]


# ---------------------------------------------------------------------

@pytest.fixture(scope='module')
def trained(spark):
  v = U.unigram_train(documents(spark, SF1), **KW)
  rows = v.orderBy('rank').collect()
  return v, rows


def test_train_matches_sequential_replica(spark, trained):
  _, rows = trained
  _, ranked, total = _replica_train(SF1, **KW)
  got = [(r['rank'], r['piece'], r['em_micro'], r['is_char'],
          r['total_micro']) for r in rows]
  exp = [(i, p, c, len(p) == 1, total)
         for i, (p, c) in enumerate(ranked)]
  assert got == exp


def test_single_chars_always_retained(spark, trained):
  _, rows = trained
  import pyarrow.parquet as pq
  texts = pq.read_table(f'{SF1}/documents.parquet') \
      .column('text').to_pylist()
  corpus_chars = set()
  for t in texts:
    for w in t.split(' '):
      corpus_chars.update(w)
  kept_chars = {r['piece'] for r in rows if r['is_char']}
  assert corpus_chars == kept_chars


def test_total_is_sum_of_counts(spark, trained):
  _, rows = trained
  assert rows[0]['total_micro'] == sum(r['em_micro'] for r in rows)
  # ranked by (count desc, piece asc)
  key = [(-r['em_micro'], r['piece']) for r in rows]
  assert key == sorted(key)


def test_train_repartition_invariant(spark, trained):
  _, rows = trained
  docs = spark.read.parquet(f'{SF1}/documents.parquet').repartition(13)
  v2 = U.unigram_train(docs, **KW).orderBy('rank')
  got = [tuple(r) for r in v2.collect()]
  assert got == [tuple(r) for r in rows]


def test_viterbi_exact_optimum_vs_exhaustive(spark, trained):
  """DP (score, k) must equal the exhaustive-enumeration optimum with
  exact Fraction arithmetic, for every distinct corpus word."""
  _, rows = trained
  vocab = {r['piece']: r['em_micro'] for r in rows}
  total = rows[0]['total_micro']
  import pyarrow.parquet as pq
  texts = pq.read_table(f'{SF1}/documents.parquet') \
      .column('text').to_pylist()
  words = sorted({w for t in texts for w in t.split(' ') if w})[:200]
  mpl = KW['max_piece_len']
  for w in words:
    toks = U.viterbi_segment(w, vocab, total, mpl)
    assert ''.join(toks) == w
    # exhaustive: all segmentations with piece length <= mpl
    def all_paths(rest):
      if not rest:
        yield ()
        return
      for l in range(1, min(mpl, len(rest)) + 1):
        if rest[:l] in vocab:
          for tail in all_paths(rest[l:]):
            yield (rest[:l],) + tail
    best = max(((Fraction(1, 1) * _score(p, vocab, total), -len(p))
                for p in all_paths(w)), default=None)
    assert best is not None
    got_score = _score(tuple(toks), vocab, total)
    assert (got_score, -len(toks)) == best


def _score(path, vocab, total):
  s = Fraction(1)
  for p in path:
    s *= Fraction(vocab[p], total)
  return s


def test_viterbi_matches_independent_dp(spark, trained):
  _, rows = trained
  vocab = {r['piece']: r['em_micro'] for r in rows}
  total = rows[0]['total_micro']
  import pyarrow.parquet as pq
  texts = pq.read_table(f'{SF1}/documents.parquet') \
      .column('text').to_pylist()
  words = sorted({w for t in texts for w in t.split(' ') if w})
  mpl = KW['max_piece_len']
  for w in words:
    got = tuple(U.viterbi_segment(w, vocab, total, mpl))
    exp = _replica_viterbi(w, vocab, total, mpl)
    assert exp is not None and got == exp[2]


def test_encode_totals_match_replica(spark, trained):
  v, rows = trained
  vocab = {r['piece']: r['em_micro'] for r in rows}
  total = rows[0]['total_micro']
  mpl = KW['max_piece_len']
  import pyarrow.parquet as pq
  t = pq.read_table(f'{SF1}/documents.parquet')
  exp = {}
  for did, text in zip(t.column('doc_id').to_pylist(),
                       t.column('text').to_pylist()):
    ws = [w for w in text.split(' ') if w]
    nt = sum(len(U.viterbi_segment(w, vocab, total, mpl)) for w in ws)
    exp[did] = (len(ws), nt)
  got = {r['doc_id']: (r['n_words'], r['n_tokens'])
         for r in U.unigram_encode(documents(spark, SF1), vocab=v).collect()}
  assert got == exp


def test_special_tokens_atomic(spark):
  """The media sentinel is a reserved atomic vocabulary entry (the
  bpe_train/bpe_encode contract): it contributes no substring or
  expected counts to training — its characters never enter the seed —
  and always encodes to exactly one token."""
  sent = '<|image|>'
  rows = [(0, f'hello world {sent} hello again'),
          (1, f'{sent} {sent} world world world')]
  d = spark.createDataFrame(rows, 'doc_id long, text string')
  v = U.unigram_train(d, special_tokens=(sent,), vocab_size=20, seed_size=30,
                      n_em=1)
  pieces = {r['piece'] for r in v.collect()}
  assert sent not in pieces
  assert '<' not in pieces and '|' not in pieces  # chars never counted
  enc = U.unigram_encode(d, vocab=v, special_tokens=(sent,),
                         return_tokens=True)
  toks = {r['doc_id']: r['tokens'] for r in enc.collect()}
  assert toks[0].count(sent) == 1
  assert toks[1].count(sent) == 2
  assert ''.join(toks[1]) == f'{sent}{sent}worldworldworld'


def test_encode_tokens_reconstruct_corpus(spark, trained):
  v, _ = trained
  enc = U.unigram_encode(documents(spark, SF1), vocab=v, return_tokens=True)
  sample = {r['doc_id']: r['tokens']
            for r in enc.orderBy('doc_id').limit(20).collect()}
  import pyarrow.parquet as pq
  t = pq.read_table(f'{SF1}/documents.parquet')
  texts = dict(zip(t.column('doc_id').to_pylist(),
                   t.column('text').to_pylist()))
  for did, toks in sample.items():
    assert ''.join(toks) == ''.join(
        w for w in texts[did].split(' ') if w)


def test_unseen_char_word_encodes_to_unk(spark, trained):
  """A word with a character absent from the trained vocabulary has no
  segmentation path: it must encode to the visible ['<unk>'] sentinel
  (counted in n_tokens), never a silent zero-token drop."""
  v, rows = trained
  vocab = {r['piece']: r['em_micro'] for r in rows}
  total = rows[0]['total_micro']
  mpl = KW['max_piece_len']
  assert 'ß' not in vocab
  assert U.viterbi_segment('straße', vocab, total, mpl) == ['<unk>']
  assert U.viterbi_segment('', vocab, total, mpl) == []
  # end-to-end: a cross-corpus doc mixing known words and an
  # unseen-char word keeps the word visible in tokens and counts
  known = next(p for p in vocab if len(p) == 1)
  docs = spark.createDataFrame(
      [(0, f'{known} straße')], 'doc_id long, text string')
  out = U.unigram_encode(docs, vocab=v, return_tokens=True).collect()
  [r] = out
  assert '<unk>' in r['tokens']
  assert r['n_tokens'] == len(r['tokens']) >= 2
