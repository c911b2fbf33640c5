r"""Shared helpers for the ops layer: plan-shape guards and the one
tokenization contract, shared by the JVM expressions, their Python
(Arrow-stage) twins and the DuckDB oracle SQL:

  * `words` / `py_words`: split on ' ' only, empties dropped; tabs,
    newlines, U+00A0 and other whitespace stay inside a word (DuckDB:
    `list_filter(string_split(text, ' '), x -> len(x) > 0)`).
  * `normalized_words` / `py_normalized_words`: lowered, split on runs
    of [ \t\n\x0B\f\r] (Java regex `\s`).  The twin takes text lowered
    by Spark's `lower`: `str.lower` disagrees on some code points.
  * `word_ngrams` / `py_word_ngrams`: every contiguous n-token window
    joined with ' ', empty for fewer than n tokens.

tests/test_tokenization.py fuzzes the twins against the JVM, and
tests/test_no_inline_tokenizers.py rejects inline copies under ops/."""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, functions as F


def spread_small_scan(raw: DataFrame,
                      projected: DataFrame | None = None) -> DataFrame:
  """Single-split scan guard, the ONE implementation (round-4 review
  found three divergent copies: vectors._spread_small_scan,
  curation._spread, and two inline blocks in textops).

  A small corpus arrives as one parquet split, which serializes every
  map-heavy stage below the first exchange on one core — measured for
  the embedding pair-cosine joins (round 3) and again for
  bloom_decontaminate's gram scan (round 4).  A file-backed scan with
  fewer input files than `defaultParallelism` gets round-robin spread;
  at 100 TB the scan has thousands of splits and no repartition (= no
  exchange) happens — this is a metadata-only check, no job runs.

  `raw` is the frame whose file listing is probed; `projected`
  (default: raw) is the frame that gets repartitioned.  CAUTION: pass
  the frame BEFORE any expensive projection — no Catalyst rule moves
  computed expressions past a repartition, so spreading a frame that
  already carries e.g. an n-gram projection leaves that work in the
  single-split stage below the exchange (measured: zero speedup until
  bloom's spread was reordered)."""
  out = projected if projected is not None else raw
  target = raw.sparkSession.sparkContext.defaultParallelism
  files = raw.inputFiles()
  if files and len(files) < target:
    return out.repartition(target)
  return out


def presented(df: DataFrame, *cols, sort: bool = True) -> DataFrame:
  """Presentation sort at an operator tail — a global range exchange
  (RangePartitioning + per-partition sort) that exists only so gate
  rows and humans read stable output.  A 100 TB caller feeding the
  result into further stages should pass the operator's `sort=False`
  to drop it: the exchange is pure cost there (the next groupBy/join
  re-partitions anyway), and every operator's VALUES are identical
  either way (the driver gate's compare is order-insensitive)."""
  return df.orderBy(*cols) if sort else df


def words(col) -> Column:
  """Whitespace words of a text column: split on ' ', empties dropped
  (NULL text -> NULL).  Twin: `py_words`."""
  return F.filter(F.split(col, ' '), lambda x: F.length(x) > 0)


def py_words(s: str | None) -> list[str]:
  """Python twin of `words` (NULL text has no words)."""
  return [] if s is None else [t for t in s.split(' ') if t]


def normalized_words(col) -> Column:
  """Lowered words of a text column, split on runs of ASCII whitespace
  (Java regex \\s), empties dropped.  Twin: `py_normalized_words`
  over the JVM-lowered text."""
  return F.filter(F.split(F.lower(F.trim(col)), r'\s+'),
                  lambda x: F.length(x) > 0)


_NORMALIZED_WORD = re.compile('[^ \t\n\x0b\f\r]+')


def py_normalized_words(lowered: str | None) -> list[str]:
  """Python twin of `normalized_words`; `lowered` must come from
  Spark's `lower` (F.lower), not `str.lower`."""
  return [] if lowered is None else _NORMALIZED_WORD.findall(lowered)


def bind_once(value, fn) -> Column:
  """fn(value) with `value` evaluated ONCE per row.  An outer
  expression referenced inside a lambda body is re-evaluated per
  element (interpreted higher-order functions get no
  common-subexpression elimination), so a window transform over an
  inline `words(text)` re-split the whole text once per window;
  passing the value through a one-element transform binds it to a
  lambda variable instead."""
  return F.element_at(F.transform(F.array(value), fn), 1)


def word_ngrams(toks, n: int) -> Column:
  """Every contiguous n-token window of a token-array column, joined
  with ' ' (array<string>, position order, duplicates kept; empty for
  fewer than n tokens or NULL tokens).  The token array is evaluated
  once per row (`bind_once`).  Twin: `py_word_ngrams`."""
  def windows(t):
    return F.when(F.size(t) >= n, F.transform(
        F.sequence(F.lit(0), F.size(t) - n),
        lambda i: F.array_join(F.slice(t, i + 1, n), ' '))) \
        .otherwise(F.array().cast('array<string>'))
  return bind_once(toks, windows)


def py_word_ngrams(toks: list[str], n: int) -> list[str]:
  """Python twin of `word_ngrams` over a token list."""
  return [' '.join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
