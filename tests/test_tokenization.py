"""The tokenization contract (ops/common.py): the JVM expressions and
their Python twins agree on unicode fuzz input, the n-gram window
binds its token array once per row, and short documents are windowed
to nothing instead of failing the job.

The fuzz alphabet is built to separate the contracts: ' ' is the only
`words` separator, the ASCII class [ \\t\\n\\x0B\\f\\r] the only
`normalized_words` separators, and U+0085, U+00A0, U+1680,
U+2000..U+200A, U+2028/9 and U+3000 (whitespace to Python's
`str.split()`) stay inside words under both.  Combining marks and
astral letters check that neither side splits a code point."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from blueprint_oss_spark.ops import textops as T
from blueprint_oss_spark.ops.common import (
    normalized_words, py_normalized_words, py_word_ngrams, py_words,
    word_ngrams, words,
)
from blueprint_oss_spark.spark.sources import documents

SPACES = [' ', '\t', '\n', '\x0b', '\x0c', '\r', '\x85', '\xa0',
          '\u1680', *map(chr, range(0x2000, 0x200b)), '\u2028',
          '\u2029', '\u3000']
MARKS = ['\u0301', '\u0308', '\u20dd']
# U+A7CB lowers differently in Python and on the JVM; U+0130 lowers to
# two code points
LETTERS = ['a', 'b', 'Z', '\xe9', '\u0130', '\xdf', '\u03a3', '\ua7cb',
           '\U0001d400', '\U00010400', '\U0001f600', '\U00020000']
MAX_N = 9


def _fuzz_texts(n: int, seed: int = 11) -> list:
  rng = random.Random(seed)
  out = ['', ' ', '    ', ' \t\n\x0b\x0c\r ', '\xa0\u3000', None]
  while len(out) < n:
    chars = []
    for _ in range(rng.randrange(0, 40)):
      r = rng.random()
      if r < 0.3:
        chars.append(' ')
      elif r < 0.5:
        chars.append(rng.choice(SPACES))
      elif r < 0.55:
        chars.append(rng.choice(MARKS))
      else:
        chars.append(rng.choice(LETTERS))
    out.append(''.join(chars))
  return out


def test_jvm_tokenizers_match_python_twins(spark):
  texts = _fuzz_texts(2400)
  df = spark.createDataFrame(list(enumerate(texts)),
                             'id long, text string')
  toks = words(F.col('text'))
  rows = df.select(
      'id', toks.alias('w'),
      F.lower('text').alias('lowered'),
      normalized_words(F.col('text')).alias('nw'),
      *[word_ngrams(toks, n).alias(f'g{n}')
        for n in range(1, MAX_N + 1)]).collect()  # one Spark job
  assert len(rows) == len(texts)
  for r in rows:
    text = texts[r['id']]
    if text is None:  # SQL NULL semantics; the twins return []
      assert r['w'] is None and r['nw'] is None
    else:
      assert r['w'] == py_words(text), text
      assert r['nw'] == py_normalized_words(r['lowered']), text
    for n in range(1, MAX_N + 1):
      assert r[f'g{n}'] == py_word_ngrams(py_words(text), n), (text, n)
  # the fuzz reaches the cases that matter: non-space whitespace inside
  # a word, full windows, and too few tokens for one
  assert any('\xa0' in t for r in rows for t in r['w'] or [])
  assert any(len(r['g3']) > 0 for r in rows)
  assert any(len(r['w'] or []) == 2 and not r['g3'] for r in rows)


def test_minhash_signature_projection_splits_text_once(spark):
  # interpreted lambdas get no CSE: an inline window over words(text)
  # re-split the text once per window, which shows as several split(
  # in the projection that builds the shingle array `sh`
  plan = T.minhash_shingles(documents(spark, '/root/testdata/sf0.001')) \
      ._jdf.queryExecution().optimizedPlan().toString()
  proj = [line for line in plan.split('\n')
          if 'Project' in line and ' AS sh#' in line]
  assert len(proj) == 1, plan
  assert proj[0].count('split(') == 1, proj[0]


def test_ngram_jaccard_pairs_tolerates_short_documents(spark):
  # 0, 1 and shingle-1 tokens: no shingles, so no rows and no failure
  # (a window without the size guard asked slice() for start 0)
  docs = spark.createDataFrame(
      [(1, ''), (2, 'solo'), (3, 'two words'), (4, None),
       (5, 'p q r s t u'), (6, 'p q r s t u')],
      'doc_id long, text string')
  got = [tuple(r) for r in
         T.ngram_jaccard_pairs(docs, shingle=3).collect()]
  assert got == [(5, 6, 4, 4, 4)]
