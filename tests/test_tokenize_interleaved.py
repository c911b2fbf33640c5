"""tokenize_interleaved + BPE special-token support: the media
sentinel is a reserved ATOMIC vocabulary entry — it never contributes
pair counts during training and always encodes to exactly one token.

Verified by: handcrafted sentinel-adjacent merge corpora against the
sequential python trainer, full-sequence encode atomicity, a FULL
python recomputation over the sf0.001 interleaved corpus (rendered
text re-derived by the synthesis formulas — the same recoverable-
ground-truth device the main_content_spans gate oracle uses — then
sequential BPE with the sentinel excluded), and the empty-rendering
row-keeping contract through the content= seam.
"""

import re
from collections import Counter

import duckdb
import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from blueprint_oss_spark.ops.multimodal import tokenize_interleaved
from blueprint_oss_spark.ops.textops import bpe_encode, bpe_train
from blueprint_oss_spark.spark.pipeline import OUT_SPAN_STRUCT
from blueprint_oss_spark.spark.sources import documents

SF_DIR = '/root/testdata/sf0.001'
SENT = '<|image|>'

SCHEMA = StructType([
    StructField('doc_id', StringType()),
    StructField('out_spans', ArrayType(OUT_SPAN_STRUCT)),
])


def _ref_bpe(texts, n_merges, special=()):
  """Sequential reference BPE: special tokens never enter the word
  table (mirrors test_bpe_train._ref_bpe plus the exclusion)."""
  wc = Counter()
  for t in texts:
    for w in t.split(' '):
      if w and w not in special:
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


def _ref_encode_len(word, merges, special=()):
  if word in special:
    return 1
  syms = list(word)
  for _, left, right, merged, _ in merges:
    ns = []
    for s in syms:
      if ns and ns[-1] == left and s == right:
        ns[-1] = merged
      else:
        ns.append(s)
    syms = ns
  return len(syms)


def _write_docs(spark, tmp_path, texts):
  rows = [(i, t) for i, t in enumerate(texts)]
  spark.createDataFrame(rows, 'doc_id long, text string') \
      .write.mode('overwrite') \
      .parquet(str(tmp_path / 'documents.parquet'))
  return str(tmp_path)


def test_special_token_excluded_from_training(spark, tmp_path):
  # without the exclusion the dominant pair is inside the sentinel
  # ('<','|' appears 2x per sentinel occurrence); with it, training
  # sees only the plain words
  texts = [f'{SENT} low {SENT}'] * 6 + ['lower'] * 2
  sf = _write_docs(spark, tmp_path, texts)
  got = [tuple(r) for r in
         bpe_train(documents(spark, sf), n_merges=4,
                   special_tokens=(SENT,)).collect()]
  assert got == _ref_bpe(texts, 4, special=(SENT,))
  for _, left, right, merged, _ in got:
    assert '<' not in merged and '|' not in merged
  # control: unrestricted training DOES learn sentinel-internal merges
  free = [tuple(r) for r in bpe_train(documents(spark, sf),
                                      n_merges=4).collect()]
  assert any('<' in m or '|' in m for _, _, _, m, _ in free)


def test_special_token_atomic_in_encode(spark, tmp_path):
  texts = [f'{SENT} newest {SENT} widest', f'newest {SENT}']
  sf = _write_docs(spark, tmp_path, texts)
  enc = bpe_encode(documents(spark, sf), n_merges=3, return_tokens=True,
                   special_tokens=(SENT,)).orderBy('doc_id').collect()
  merges = _ref_bpe(texts, 3, special=(SENT,))
  for row, text in zip(enc, texts):
    exp = []
    for w in text.split(' '):
      if w == SENT:
        exp.append(SENT)
      else:
        syms = list(w)
        for _, left, right, merged, _ in merges:
          ns = []
          for s in syms:
            if ns and ns[-1] == left and s == right:
              ns[-1] = merged
            else:
              ns.append(s)
          syms = ns
        exp.extend(syms)
    assert row['tokens'] == exp
    assert row['n_tokens'] == len(exp)


def _rendered_corpus_python(sf_dir):
  """Re-derive the rendered interleaved corpus from the raw documents
  table by the synthesis formulas (interleaved_html_table is
  recoverable ground truth: main content = 'Document {id} part 0.
  {text}' / closing section / PDF appendix, media spans = sentinels in
  offset order)."""
  rows = duckdb.sql(
      f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' "
      'ORDER BY doc_id').fetchall()
  out = {}
  for did, text in rows:
    t0 = re.sub(r'\s+', ' ', f'Document {did} part 0. {text}').strip()
    parts = [t0, SENT, f'Document {did} closing section part 1.']
    if did % 3 == 0:
      parts.append(SENT)
    if did % 2 == 0:
      parts.append(f'PDF appendix for document {did}')
    out[str(did)] = ' '.join(parts)
  return out


def test_full_python_recomputation_sf0001(spark):
  n_merges = 10
  got = {r['doc_id']: r.asDict() for r in
         tokenize_interleaved(spark, SF_DIR,
                              n_merges=n_merges).collect()}
  rendered = _rendered_corpus_python(SF_DIR)
  merges = _ref_bpe(rendered.values(), n_merges, special=(SENT,))
  enc_len = {}
  assert set(got) == set(rendered)
  for did, text in rendered.items():
    words = [w for w in text.split(' ') if w]
    n_tokens = sum(
        enc_len.setdefault(w, _ref_encode_len(w, merges,
                                              special=(SENT,)))
        for w in words)
    n_sent = sum(1 for w in words if w == SENT)
    r = got[did]
    assert r['n_words'] == len(words), did
    assert r['n_tokens'] == n_tokens, did
    assert r['n_sentinels'] == n_sent, did
    assert r['n_render_tokens'] == len(words), did
  # corpus-level invariants: sentinels exist in bulk and each costs
  # exactly one token (n_tokens >= n_words always; equality only for
  # docs whose every word is unmergeable)
  assert sum(r['n_sentinels'] for r in got.values()) >= len(got)
  assert all(r['n_tokens'] >= r['n_words'] for r in got.values())


def test_empty_rendering_keeps_row(spark):
  content = spark.createDataFrame(
      [('7', []),
       ('8', [{'kind': 'text', 'text': 'alpha beta', 'media_ref': None,
               'order': 0},
              {'kind': 'media', 'text': None, 'media_ref': 'm/8/0',
               'order': 1}])],
      SCHEMA)
  got = {r['doc_id']: r.asDict() for r in
         tokenize_interleaved(spark, SF_DIR, n_merges=2,
                              content=content).collect()}
  assert got['7'] == {'doc_id': '7', 'n_words': 0, 'n_tokens': 0,
                      'n_sentinels': 0, 'n_render_tokens': 0}
  assert got['8']['n_words'] == 3
  assert got['8']['n_sentinels'] == 1
  assert got['8']['n_tokens'] >= 3


def test_pretrained_merges_seam(spark, tmp_path):
  # merges trained elsewhere apply unchanged through the seam
  texts = ['aaa bbb', f'aaa {SENT}']
  sf = _write_docs(spark, tmp_path, texts)
  merges = bpe_train(documents(spark, sf), n_merges=2, special_tokens=(SENT,))
  content = spark.createDataFrame(
      [('0', [{'kind': 'text', 'text': 'aaa bbb', 'media_ref': None,
               'order': 0},
              {'kind': 'media', 'text': None, 'media_ref': 'm/0/0',
               'order': 1}])],
      SCHEMA)
  got = tokenize_interleaved(spark, sf, content=content,
                             merges=merges).collect()[0]
  ref = _ref_bpe(texts, 2, special=(SENT,))
  exp = (_ref_encode_len('aaa', ref) + _ref_encode_len('bbb', ref) + 1)
  assert got['n_words'] == 3
  assert got['n_tokens'] == exp
