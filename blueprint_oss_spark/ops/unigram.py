"""SentencePiece-style unigram-LM tokenizer (Kudo 2018,
arXiv:1804.10959) — the second major published subword tokenizer next
to BPE (`textops.bpe_train`): a piece VOCABULARY with unigram
probabilities trained by EM over all segmentations, then a Viterbi
max-probability encoder.

Published algorithm, with the deviations documented:
  * seed vocabulary = the most frequent substrings (length <=
    `max_piece_len`) of the corpus words, frequency-weighted — the
    practical seeding SentencePiece uses (it takes top substrings via
    a suffix array; same quantity, different machinery), with every
    single character always kept so any word stays segmentable;
  * EM = full forward-backward expected piece counts over each word's
    segmentation lattice (exactly Kudo's E step), M step re-normalizes
    by the count totals;
  * pruning keeps the `vocab_size` pieces with the highest expected
    count (all single chars always retained).  Kudo prunes by
    likelihood-loss-on-removal; highest-expected-count is the common
    simplification (the two orders agree except near ties) and keeps
    every retained quantity an exact integer for verification.

Scale shape (the bpe_train corpus/vocabulary decoupling):
  * the corpus is scanned ONCE into the distinct-word count table
    (word-count shuffle, map-side combinable — vocabulary-sized from
    then on, independent of corpus size);
  * seeding is one JVM-side substring explode + map-side-combinable
    groupBy over the word table, with two bounded collects (top
    `seed_size` pieces + the alphabet) — the IVF/PQ bounded-collect
    precedent;
  * each EM round is ONE Arrow-batched mapInPandas pass over the
    word table (per-word forward-backward is pure sequential python —
    deterministic for a given word) followed by ONE
    map-side-combinable groupBy keyed piece over MICRO-UNIT-TRUNCATED
    expected counts (CAST(e·cnt·1e6 AS LONG), summed in
    decimal(38,0)): integer sums are order-independent, so the
    trained vocabulary is bit-identical under any partitioning,
    batching or cluster size (the kmeans_train / pca_train
    discipline).  The round's collect is vocabulary-bounded;
  * encoding applies Viterbi to the DISTINCT-WORD table only and
    joins the per-word token counts back to the exploded corpus
    (bpe_encode's accounting join; AQE picks broadcast vs shuffle by
    actual vocabulary size).

Determinism contract: EM probabilities derive from the integer micro
counts (one float division per piece at broadcast-build time), the
per-word DP is sequential with a pinned accumulation order, and the
VITERBI COMPARISON IS EXACT INTEGER ARITHMETIC — a path of k pieces
with micro-counts c_i scores (prod c_i) / total^k, and two paths
compare by cross-multiplied bigints (prod_a · total^k_b vs
prod_b · total^k_a), never a float or a log.  Ties break to fewer
pieces, then to the earliest split in the pinned scan order.  The
same rules run in the pure-python verifier
(scripts/build_oracles.py::verify_unigram and tests/test_unigram.py),
so train AND encode are reproducible bit-for-bit cross-engine.
"""

from __future__ import annotations

from typing import Iterator, List, Tuple

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from blueprint_oss_spark.ops.common import words

MICRO = 1_000_000


def _word_counts(docs: DataFrame, special_tokens: tuple) -> DataFrame:
  word_rows = docs.select(F.explode(words('text')).alias('word'))
  if special_tokens:
    # reserved tokens (e.g. render_interleaved's media sentinel) are
    # atomic vocabulary entries: they never contribute substring or
    # expected counts — the bpe_train contract
    word_rows = word_rows.where(~F.col('word').isin(*special_tokens))
  return word_rows.groupBy('word').agg(F.count(F.lit(1)).alias('cnt'))


def _seed_vocab(words: DataFrame, seed_size: int,
                max_piece_len: int) -> List[Tuple[str, int]]:
  """Frequency-weighted substring counts over the distinct-word table,
  JVM-side: every (start, len<=max_piece_len) substring of each word,
  counted with the word's corpus frequency.  Returns the top
  `seed_size` pieces (count desc, piece asc) PLUS every single
  character (so all words stay segmentable), as (piece, count)."""
  subs = F.flatten(F.transform(
      F.sequence(F.lit(1), F.length('word')),
      lambda i: F.transform(
          F.sequence(F.lit(1),
                     F.least(F.lit(max_piece_len),
                             F.length('word') - i + 1)),
          lambda l: F.col('word').substr(i, l))))
  counts = (words.select(F.explode(subs).alias('piece'), 'cnt')
            .groupBy('piece').agg(F.sum('cnt').alias('scnt'))
            .localCheckpoint(eager=True))
  try:
    top = counts.orderBy(F.desc('scnt'), F.asc('piece')) \
        .limit(seed_size).collect()
    chars = counts.where(F.length('piece') == 1).collect()
  finally:
    counts.unpersist()
  seed = {r['piece']: int(r['scnt']) for r in top}
  for r in chars:
    seed.setdefault(r['piece'], int(r['scnt']))
  return sorted(seed.items(), key=lambda kv: (-kv[1], kv[0]))


def _expected_counts_word(word: str, probs: dict,
                          max_piece_len: int) -> dict:
  """Forward-backward expected piece counts for ONE word under the
  current unigram probabilities — Kudo's E step on the segmentation
  lattice.  Pure sequential python with a pinned accumulation order
  (ascending start, ascending end), so the result is a deterministic
  function of (word, probs) alone — partitioning cannot change it."""
  n = len(word)
  alpha = [0.0] * (n + 1)
  alpha[0] = 1.0
  for i in range(1, n + 1):
    a = 0.0
    for j in range(max(0, i - max_piece_len), i):
      p = probs.get(word[j:i])
      if p and alpha[j]:
        a += alpha[j] * p
    alpha[i] = a
  if alpha[n] == 0.0:
    return {}
  beta = [0.0] * (n + 1)
  beta[n] = 1.0
  for i in range(n - 1, -1, -1):
    b = 0.0
    for j in range(i + 1, min(n, i + max_piece_len) + 1):
      p = probs.get(word[i:j])
      if p and beta[j]:
        b += p * beta[j]
    beta[i] = b
  out: dict = {}
  z = alpha[n]
  for j in range(n):
    for i in range(j + 1, min(n, j + max_piece_len) + 1):
      p = probs.get(word[j:i])
      if p and alpha[j] and beta[i]:
        g = alpha[j] * p * beta[i] / z
        out[word[j:i]] = out.get(word[j:i], 0.0) + g
  return out


def unigram_train(docs: DataFrame, *,
                  vocab_size: int = 48, seed_size: int = 96,
                  max_piece_len: int = 4, n_em: int = 3,
                  special_tokens: tuple = ()) -> DataFrame:
  """Train a unigram-LM piece vocabulary (see module docstring).

  Returns one row per retained piece, ranked by final expected count:
  (rank int, piece string, em_micro long, is_char boolean,
  total_micro long) — em_micro is the piece's expected corpus count in
  micro-units from the LAST EM round (the seed count for pieces that
  predate EM rounds, i.e. when n_em=0), total_micro the sum over the
  retained vocabulary (so em_micro/total_micro is the piece
  probability the encoder uses)."""
  words = _word_counts(docs, special_tokens).localCheckpoint(eager=True)
  try:
    vocab = dict(_seed_vocab(words, seed_size, max_piece_len))
    # seed counts are plain corpus counts — scale to micro-units so
    # every round (including n_em=0) speaks the same unit
    vocab = {p: c * MICRO for p, c in vocab.items()}

    for _ in range(n_em):
      total = sum(vocab.values())
      probs = {p: c / total for p, c in vocab.items() if c > 0}
      mpl = max_piece_len

      def e_step(batches: Iterator[pd.DataFrame],
                 _probs=probs, _mpl=mpl) -> Iterator[pd.DataFrame]:
        for pdf in batches:
          acc: dict = {}
          for word, cnt in zip(pdf['word'], pdf['cnt']):
            e = _expected_counts_word(str(word), _probs, _mpl)
            for piece, g in e.items():
              acc[piece] = acc.get(piece, 0) + int(g * int(cnt) * MICRO)
          yield pd.DataFrame(
              {'piece': list(acc.keys()),
               'micro': pd.array(list(acc.values()), dtype='int64')})

      agg = (words.mapInPandas(e_step, 'piece string, micro long')
             .groupBy('piece')
             .agg(F.sum(F.col('micro').cast('decimal(38,0)'))
                  .alias('s'))
             .collect())
      new = {r['piece']: int(r['s']) for r in agg}
      # chars are never dropped (segmentability); everything else
      # lives by its expected count
      vocab = {p: new.get(p, 0) for p in vocab
               if len(p) == 1 or new.get(p, 0) > 0}
  finally:
    words.unpersist()

  # final prune: all single chars + the top multi-char pieces by
  # (expected count desc, piece asc) until vocab_size
  chars = {p: c for p, c in vocab.items() if len(p) == 1}
  multi = sorted(((p, c) for p, c in vocab.items() if len(p) > 1),
                 key=lambda kv: (-kv[1], kv[0]))
  keep = dict(chars)
  for p, c in multi:
    if len(keep) >= max(vocab_size, len(chars)):
      break
    keep[p] = c
  total_micro = sum(keep.values())
  ranked = sorted(keep.items(), key=lambda kv: (-kv[1], kv[0]))
  rows = [(r, p, c, len(p) == 1, total_micro)
          for r, (p, c) in enumerate(ranked)]
  return docs.sparkSession.createDataFrame(
      rows, 'rank int, piece string, em_micro long, is_char boolean, '
            'total_micro long')


def viterbi_segment(word: str, vocab: dict, total: int,
                    max_piece_len: int) -> List[str]:
  """Max-probability segmentation under the unigram model, with EXACT
  integer comparisons: a path of pieces with micro-counts c_i scores
  (prod c_i) / total^k; candidates compare by cross-multiplied
  bigints.  Ties: fewer pieces, then the earliest split point in the
  pinned ascending-start scan.  Deterministic and float-free.

  A word containing any character absent from the vocabulary has NO
  segmentation path; it encodes to the single sentinel ['<unk>'] (the
  SentencePiece contract — one visible unknown piece, never a silent
  zero-token drop, so n_tokens counts it).  Unreachable when the
  encode corpus equals the train corpus (training retains every
  character), but unigram_encode may take a vocabulary trained on
  another corpus."""
  n = len(word)
  # best[i] = (num bigint, k, path tuple) for word[:i]
  best: list = [None] * (n + 1)
  best[0] = (1, 0, ())
  for i in range(1, n + 1):
    cur = None
    for j in range(max(0, i - max_piece_len), i):
      if best[j] is None:
        continue
      c = vocab.get(word[j:i])
      if c is None:
        continue
      bnum, bk, bpath = best[j]
      cand = (bnum * c, bk + 1, bpath + (word[j:i],))
      if cur is None:
        cur = cand
        continue
      # exact compare: cand_num/total^cand_k vs cur_num/total^cur_k
      lhs = cand[0] * pow(total, cur[1])
      rhs = cur[0] * pow(total, cand[1])
      if lhs > rhs or (lhs == rhs and cand[1] < cur[1]):
        cur = cand
    best[i] = cur
  if best[n] is None:
    return [] if n == 0 else ['<unk>']
  return list(best[n][2])


def unigram_encode(docs: DataFrame, *,
                   vocab: DataFrame = None,
                   return_tokens: bool = False,
                   special_tokens: tuple = ()) -> DataFrame:
  """Tokenize every document with a trained unigram vocabulary (from
  `unigram_train`, or trained inline with its defaults), segmenting
  into pieces no longer than the vocabulary's longest.

  Default output is per-doc accounting (doc_id, n_words, n_tokens);
  `return_tokens=True` returns (doc_id, tokens, n_tokens) with corpus
  word order preserved.  Scale shape mirrors bpe_encode: Viterbi runs
  once per DISTINCT word (vocabulary-sized Arrow-batched python —
  never per corpus token), the result joins back to the exploded
  corpus on the word key.  Words with characters outside the trained
  vocabulary encode to ['<unk>'] (see viterbi_segment) — visible in
  tokens and counted in n_tokens, never silently dropped."""
  d = docs.select('doc_id', 'text')
  if vocab is None:
    vocab = unigram_train(docs, special_tokens=special_tokens)
  vrows = vocab.collect()
  vmap = {r['piece']: int(r['em_micro']) for r in vrows}
  total = int(vrows[0]['total_micro']) if vrows else 1
  # no longer substring can be a piece, so the DP tries none
  mpl = max(map(len, vmap), default=1)
  specials = frozenset(special_tokens)

  toks = words('text')
  doc_words = d.select('doc_id', F.posexplode(toks).alias('pos', 'word'))

  def seg(batches: Iterator[pd.DataFrame],
          _v=vmap, _t=total, _mpl=mpl,
          _sp=specials) -> Iterator[pd.DataFrame]:
    for pdf in batches:
      out_w, out_s = [], []
      for w in pdf['word']:
        out_w.append(w)
        # reserved tokens encode to themselves, atomically — the DP
        # never sees them (distinct-word-sized branch, no per-token
        # cost; the bpe_encode contract)
        out_s.append([str(w)] if w in _sp
                     else viterbi_segment(str(w), _v, _t, _mpl))
      yield pd.DataFrame({'word': out_w, 'syms': out_s})

  dvocab = (doc_words.select('word').distinct()
            .mapInPandas(seg, 'word string, syms array<string>'))

  if return_tokens:
    joined = doc_words.join(dvocab, 'word')
    per_doc = (joined.groupBy('doc_id')
               .agg(F.flatten(F.transform(
                   F.array_sort(F.collect_list(F.struct('pos', 'syms'))),
                   lambda s: s['syms'])).alias('tokens')))
    return per_doc.select('doc_id', 'tokens',
                          F.size('tokens').alias('n_tokens'))
  vt = dvocab.select('word', F.size('syms').alias('word_tokens'))
  return (doc_words.join(vt, 'word')
          .groupBy('doc_id')
          .agg(F.count(F.lit(1)).alias('n_words'),
               F.sum('word_tokens').alias('n_tokens')))
