"""c4_line_clean vs a from-scratch pure-Python recomputation.

The operator synthesizes its line structure from (doc_id, line index)
integer arithmetic; this test re-synthesizes and re-filters everything
in plain Python (no Spark, no SQL) and asserts exact equality, plus
coverage assertions that every C4 rule actually fires on the corpus
(a rule nothing triggers is a rule the test doesn't verify).
"""

import math
import re

import duckdb
import pytest
from blueprint_oss_spark.spark.sources import documents

SF_DIR = '/root/testdata/sf0.001'


def _python_c4(doc_id: int, text: str, w: int = 10, min_kept: int = 3):
  words = text.split(' ')
  n_lines = max(int(math.ceil(len(words) / float(w))), 1)
  lines = []
  for j in range(n_lines):
    core = ' '.join(words[j * w:j * w + w])
    if (doc_id * 11 + j * 17) % 23 == 0:
      core += ' javascript'
    if j == 0 and doc_id % 37 == 0:
      core += ' lorem ipsum'
    elif j == 0 and doc_id % 41 == 0:
      core += ' {'
    m = (doc_id * 7 + j * 13) % 10
    core += '.' if m <= 4 else '!' if m == 5 else '?' if m == 6 else ''
    lines.append(core)
  if any('lorem ipsum' in ln or '{' in ln for ln in lines):
    return None, lines
  kept = [ln for ln in lines
          if re.search(r'[.!?]$', ln)
          and len(ln.split(' ')) >= 3
          and 'javascript' not in ln]
  if len(kept) < min_kept:
    return None, lines
  return (doc_id, len(lines), len(kept), '\n'.join(kept)), lines


@pytest.fixture(scope='module')
def corpus():
  return duckdb.sql(
      f"SELECT doc_id, text FROM '{SF_DIR}/documents.parquet' "
      "ORDER BY doc_id").fetchall()


def test_matches_pure_python_recomputation(spark, corpus):
  from blueprint_oss_spark.ops.curation import c4_line_clean
  got = sorted(tuple(r)
               for r in c4_line_clean(documents(spark, SF_DIR)).collect())
  want = sorted(row for row in
                (_python_c4(d, t)[0] for d, t in corpus)
                if row is not None)
  assert got == want
  assert len(want) > 0


def test_every_rule_fires_on_the_corpus(corpus):
  poisoned = short = nopunct = js = 0
  survivors = 0
  for doc_id, text in corpus:
    row, lines = _python_c4(doc_id, text)
    if row is not None:
      survivors += 1
    if any('lorem ipsum' in ln or '{' in ln for ln in lines):
      poisoned += 1
    for ln in lines:
      if not re.search(r'[.!?]$', ln):
        nopunct += 1
      elif len(ln.split(' ')) < 3:
        short += 1
      elif 'javascript' in ln:
        js += 1
  # every rejection rule rejects something AND the filter keeps pages
  assert poisoned > 0 and nopunct > 0 and short > 0 and js > 0
  assert survivors > 0


def test_javascript_lines_end_in_punctuation(corpus):
  """Noise precedes punctuation by construction, so the contains-rule
  (not the terminal-punct rule) must be what rejects javascript lines
  — the rule is genuinely exercised, not shadowed."""
  seen = 0
  for doc_id, text in corpus:
    _row, lines = _python_c4(doc_id, text)
    for ln in lines:
      if 'javascript' in ln and re.search(r'[.!?]$', ln) \
          and len(ln.split(' ')) >= 3:
        seen += 1
  assert seen > 0


def test_docs_seam(spark):
  """A handed-in frame gives the same verdicts as the documents table
  (composability with upstream curation)."""
  from blueprint_oss_spark.ops.curation import c4_line_clean
  d = spark.createDataFrame(
      [(1, ' '.join(['tok'] * 40))], 'doc_id long, text string')
  out = c4_line_clean(d).collect()
  want, _ = _python_c4(1, ' '.join(['tok'] * 40))
  got = [tuple(r) for r in out]
  assert got == ([want] if want is not None else [])
