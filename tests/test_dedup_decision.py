"""Multi-signal dedup decision report (dedup_decision_report): the
Dolma-style composition of exact / jaccard / simhash / semantic
verdicts — column consistency invariants, the pinned first-failing-
signal drop_reason order (incl. the exact branch, which the gate
corpus cannot exercise: it has no exact duplicates), and agreement
with the constituent operators."""

from pyspark.sql import functions as F

from blueprint_oss_spark.ops.textops import (
    dedup_decision_report, dedup_groups, simhash_near_dup_pairs,
)
from blueprint_oss_spark.ops.vectors import semantic_dedup
from blueprint_oss_spark.spark.sources import documents

SF1 = '/root/testdata/sf0.001'


def _report(spark, sf):
  # the gate's composition: semantic verdicts over the planted
  # verification universe
  return dedup_decision_report(
      documents(spark, sf),
      semantic_dedup(spark, sf, plant_for_verification=True, sort=False))


def _write_fixture(spark, tmp_path, docs):
  spark.createDataFrame(docs, 'doc_id long, text string') \
      .write.mode('overwrite') \
      .parquet(str(tmp_path / 'documents.parquet'))
  # embeddings: one deterministic 4-dim vector per doc (distinct
  # directions — no semantic near-dups among these)
  emb = [(i, [float(i % 7 + 1), float((i * 3) % 5 + 1),
              float((i * 7) % 11 + 1), 1.0], 0) for i, _ in docs]
  spark.createDataFrame(
      emb, 'vec_id long, embedding array<float>, label int') \
      .write.mode('overwrite') \
      .parquet(str(tmp_path / 'embeddings.parquet'))
  return str(tmp_path)


def test_exact_branch_and_pinned_order(spark, tmp_path):
  # docs 0 and 5 are EXACT copies: doc 5 must drop with reason
  # 'exact' (first in the pinned order) even though it is also a
  # jaccard and simhash duplicate of doc 0
  base = 'alpha beta gamma delta epsilon zeta eta theta iota kappa'
  docs = [(0, base), (5, base),
          (1, 'one completely different document with its own words'),
          (2, 'another unrelated text body nothing shared here today')]
  sf = _write_fixture(spark, tmp_path, docs)
  rows = {r['doc_id']: r for r in
          _report(spark, sf).collect()
          if r['planted'] == 0}
  assert rows[0]['exact_keep'] == 1 and rows[0]['keep_final'] == 1
  assert rows[5]['exact_keep'] == 0
  assert rows[5]['jac_keep'] == 0          # also a jaccard dup
  assert rows[5]['drop_reason'] == 'exact'  # but exact wins the CASE
  assert rows[5]['keep_final'] == 0
  assert rows[1]['drop_reason'] == '' and rows[1]['keep_final'] == 1


def test_invariants_and_agreement_sf0001(spark):
  rows = _report(spark, SF1).collect()
  jac = {r['doc_id']: r
         for r in dedup_groups(documents(spark, SF1)).collect()}
  sim_pairs = simhash_near_dup_pairs(documents(spark, SF1)).collect()
  sim_dropped = set()
  for p in sim_pairs:
    sim_dropped.add(max(p['doc_a'], p['doc_b']))
  for r in rows:
    ks = [r['exact_keep'], r['jac_keep'], r['sim_keep'], r['sem_keep']]
    assert r['n_drop_signals'] == 4 - sum(ks)
    assert r['keep_final'] == int(all(k == 1 for k in ks))
    assert (r['drop_reason'] == '') == (r['keep_final'] == 1)
    if r['planted'] == 0:
      assert r['jac_keep'] == jac[r['doc_id']]['is_keeper']
      assert r['jac_group'] == jac[r['doc_id']]['group_id']
    else:
      # planted verification vectors: no text signals, semantic drop
      assert r['doc_id'] >= 1_000_000
      assert (r['exact_keep'], r['jac_keep'], r['sim_keep']) \
          == (1, 1, 1)
      assert r['sem_keep'] == 0 and r['drop_reason'] == 'semantic'
  # simhash agreement: a doc that is the max end of a <=3-hamming
  # pair cannot be a component representative UNLESS it is the min of
  # its own component via other edges — check the simple direction
  keep_sim = {r['doc_id'] for r in rows
              if r['planted'] == 0 and r['sim_keep'] == 1}
  for d in sim_dropped:
    mins = {min(p['doc_a'], p['doc_b']) for p in sim_pairs
            if d in (p['doc_a'], p['doc_b'])}
    if all(m > d for m in mins):
      continue  # d is its component min after all
    assert d not in keep_sim
