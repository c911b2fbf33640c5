"""SimHash banded near-dup pairs (ops/textops.simhash_near_dup_pairs).
Gate-checked against an exact all-pairs DuckDB recomputation over the
verified signature snapshot; these tests pin the plan shape and prove
recall 1.0 vs a brute-force pandas recomputation from the signatures.
"""

import re
from blueprint_oss_spark.spark.sources import documents

SF = '/root/testdata/sf0.01'


def test_simhash_pairs_match_bruteforce(spark):
  from blueprint_oss_spark.ops.textops import (
      simhash64, simhash_near_dup_pairs)
  sigs = {r['doc_id']: r['simhash']
          for r in simhash64(documents(spark, SF)).collect()}
  ids = sorted(sigs)
  expect = []
  for i, a in enumerate(ids):
    for b in ids[i + 1:]:
      h = bin((sigs[a] ^ sigs[b]) & 0xFFFFFFFFFFFFFFFF).count('1')
      if h <= 3:
        expect.append((a, b, h))
  got = [(r['doc_a'], r['doc_b'], r['hamming'])
         for r in simhash_near_dup_pairs(documents(spark, SF)).collect()]
  # recall 1.0 AND no false positives: banding is a pure blocking
  # step, the exact hamming filter decides membership
  assert got == sorted(expect), (got[:5], sorted(expect)[:5])
  assert len(got) > 0  # the corpus's exact dups guarantee hamming-0 hits


def test_simhash_pairs_plan_shape(spark):
  from blueprint_oss_spark.ops.textops import simhash_near_dup_pairs
  plan = simhash_near_dup_pairs(documents(spark, SF)) \
      ._jdf.queryExecution().executedPlan().toString()
  assert 'Python' not in plan
  # the signature pass is map-side: nothing shuffles on doc_id (no
  # rangepartitioning under the join from simhash64's presentation
  # sort), and the blocking join keys on the band only — as a
  # broadcast at gate scale (AQE/stats) or hashpartitioning(band) at
  # scale.  The only rangepartitioning is the final presentation sort.
  # (the multi-key hashpartitioning(doc_a, doc_b, hamming) is the
  # distinct() dedup of multi-band hits, which runs AFTER the hamming
  # filter and so shuffles only true near-dup pairs)
  first_keys = set(re.findall(r'Exchange hashpartitioning\((\w+)#', plan))
  assert 'doc_id' not in first_keys, plan
  assert ('BroadcastHashJoin [band' in plan
          or 'band' in first_keys), plan
  assert plan.count('Exchange rangepartitioning') <= 1, plan

def test_simhash_pairs_wide_keys_match_bruteforce(spark):
  """The Manku wider-key config (bands=8, key_blocks=5: 56 tables of
  40-bit keys — the 10^12-doc setting) returns exactly the same pair
  set as brute force: pigeonhole recall 1.0 survives the key widening,
  and the exact hamming filter keeps precision 1.0."""
  from blueprint_oss_spark.ops.textops import (
      simhash64, simhash_near_dup_pairs)
  sigs = {r['doc_id']: r['simhash']
          for r in simhash64(documents(spark, SF)).collect()}
  ids = sorted(sigs)
  expect = sorted(
      (a, b, bin((sigs[a] ^ sigs[b]) & 0xFFFFFFFFFFFFFFFF).count('1'))
      for i, a in enumerate(ids) for b in ids[i + 1:]
      if bin((sigs[a] ^ sigs[b]) & 0xFFFFFFFFFFFFFFFF).count('1') <= 3)
  got = [(r['doc_a'], r['doc_b'], r['hamming'])
         for r in simhash_near_dup_pairs(documents(spark, SF), bands=8,
                                         key_blocks=5).collect()]
  assert got == expect
  assert len(got) > 0


def test_simhash_wide_keys_shrink_candidate_fanout(spark):
  """The point of widening the keys: candidate fanout (pairs entering
  the exact hamming verify) must not grow — on this corpus the 40-bit
  keys (bands=8, key_blocks=5) produce no MORE candidates than the
  16-bit ones (bands=4, key_blocks=1) despite running 14x more tables,
  because random 40-bit collisions are ~2^24 rarer.  Recall is also
  re-proven here directly on the blocking step (before the hamming
  filter), via a pure-python replica of the key construction."""
  from itertools import combinations

  from blueprint_oss_spark.ops.textops import simhash64
  sigs = {r['doc_id']: r['simhash']
          for r in simhash64(documents(spark, SF)).collect()}

  def candidates(bands, key_blocks):
    width = 64 // bands
    mask = (1 << width) - 1
    tables: dict = {}
    for d, s in sigs.items():
      s &= 0xFFFFFFFFFFFFFFFF
      blocks = [(s >> (i * width)) & mask for i in range(bands)]
      for t, combo in enumerate(combinations(range(bands), key_blocks)):
        v = 0
        for slot, i in enumerate(combo):
          v |= blocks[i] << (slot * width)
        tables.setdefault((t, v), []).append(d)
    return {(a, b) for ds in tables.values()
            for i, a in enumerate(sorted(ds)) for b in sorted(ds)[i + 1:]}

  narrow = candidates(4, 1)
  wide = candidates(8, 5)
  truth = {(a, b) for a in sigs for b in sigs if a < b
           and bin((sigs[a] ^ sigs[b]) & 0xFFFFFFFFFFFFFFFF)
           .count('1') <= 3}
  assert truth <= wide          # pigeonhole recall at the blocking step
  assert len(wide) <= len(narrow), (len(wide), len(narrow))


def test_simhash_wide_keys_reject_recall_violation(spark):
  """key_blocks > bands - max_hamming silently loses recall, so the
  operator must refuse the configuration."""
  import pytest

  from blueprint_oss_spark.ops.textops import simhash_near_dup_pairs
  for bands, kb in ((4, 2), (8, 6), (4, 0)):
    with pytest.raises(ValueError):
      simhash_near_dup_pairs(documents(spark, SF), bands=bands, key_blocks=kb)
  with pytest.raises(ValueError):
    simhash_near_dup_pairs(documents(spark, SF),
                           bands=5)  # 5 does not divide 64
