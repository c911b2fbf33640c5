"""ANN retrieval eval (recall@k / NN-rank vs exact ground truth):
full pure-python recomputation (spark_xxhash64 bucket replica + numpy
cosine, same round-then-sort discipline); metric invariants; planted
exact-duplicate recall; partitioning determinism; WindowGroupLimit
partial-top-k plan pin on both rank passes.
"""

from __future__ import annotations

import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import REPO_ROOT

sys.path.insert(0, str(REPO_ROOT / 'scripts'))

from blueprint_oss_spark.ops import vectors as V  # noqa: E402

SF1 = '/root/testdata/sf0.001'

QM, K, NP, NB = 29, 10, 8, 2


def _r6(x):
  # Spark F.round = BigDecimal HALF_UP over the shortest decimal
  # repr; python round() is half-even over the binary value and can
  # diverge on half-edges
  from decimal import Decimal, ROUND_HALF_UP
  return float(Decimal(repr(float(x)))
               .quantize(Decimal('0.000001'), ROUND_HALF_UP))


def _replica(sf, query_mod=QM, k=K, n_planes=NP, bands=NB):
  import pyarrow.parquet as pq
  from spark_xxhash64 import spark_xxhash64
  t = pq.read_table(f'{sf}/embeddings.parquet').to_pandas()
  E = {int(v): np.asarray(e, dtype=np.float64)
       for v, e in zip(t.vec_id, t.embedding)}

  def buckets(vec):
    ppb = n_planes // bands
    out = []
    for b in range(bands):
      bucket = b * (1 << ppb)
      for j in range(ppb):
        plane = b * ppb + j
        proj = 0.0
        for d, x in enumerate(vec):
          w = (spark_xxhash64(('int', d), ('int', plane)) % 2000
               + 2000) % 2000
          proj += float(x) * ((w - 1000) / 1000.0)
        if proj >= 0:
          bucket += 1 << j
      out.append(bucket)
    return set(out)

  B = {v: buckets(E[v]) for v in E}
  rows = {}
  for q in sorted(E):
    if q % query_mod != 0:
      continue
    qv = E[q]
    cos = {v: _r6(E[v] @ qv
                  / (np.linalg.norm(E[v]) * np.linalg.norm(qv)))
           for v in E if v != q}
    order = sorted(cos, key=lambda v: (-cos[v], v))
    gt = order[:k]
    cand = [v for v in order if B[v] & B[q]]
    ann = cand[:k]
    ann_rank = {v: i + 1 for i, v in enumerate(ann)}
    hits = set(gt) & set(ann)
    rows[q] = (len(gt), len(ann), len(hits), ann_rank.get(gt[0]))
  return rows


@pytest.fixture(scope='module')
def got(spark):
  return {r['q_id']: (r['n_gt'], r['n_ann'], r['n_hit'], r['nn_rank'])
          for r in V.ann_eval(spark, SF1).collect()}


def test_matches_python_replica(spark, got):
  assert got == _replica(SF1)


def test_metric_invariants(spark, got):
  assert len(got) > 10
  for q, (n_gt, n_ann, n_hit, nn_rank) in got.items():
    assert q % QM == 0
    assert 0 <= n_hit <= min(n_gt, n_ann) <= K
    if nn_rank is not None:
      assert 1 <= nn_rank <= K
      assert n_hit >= 1


def test_nn_rank_null_iff_true_nn_missed(spark, got):
  exp = _replica(SF1)
  for q in got:
    assert (got[q][3] is None) == (exp[q][3] is None)


def test_planted_duplicate_always_recalled(spark):
  """A planted exact duplicate of a query vector collides in EVERY
  band (identical projections) and has cosine ~1 — the index must
  return it as the top answer, making nn_rank == 1."""
  e = (V._emb(spark, SF1)
       .select('vec_id',
               F.transform('embedding', lambda x: x.cast('double'))
               .alias('e')))
  dup = e.where(F.col('vec_id') == 0).select(
      F.lit(1_000_000).cast('long').alias('vec_id'), 'e')
  planted = e.unionByName(dup).select(
      'vec_id', F.col('e').alias('embedding'))
  out = {r['q_id']: r for r in
         V.ann_eval(spark, SF1, embeddings=planted).collect()}
  assert out[0]['nn_rank'] == 1
  assert out[0]['n_hit'] >= 1


def test_repartition_invariant(spark, got):
  e = V._emb(spark, SF1).repartition(7) \
      .select('vec_id', 'embedding')
  got2 = {r['q_id']: (r['n_gt'], r['n_ann'], r['n_hit'], r['nn_rank'])
          for r in V.ann_eval(spark, SF1, embeddings=e).collect()}
  assert got2 == got


def test_plan_partial_topk_both_passes(spark):
  # materialize=False keeps the lazy plan (the default checkpoints
  # the two k-bounded top-k frames, hiding their windows)
  plan = V.ann_eval(spark, SF1, materialize=False) \
      ._jdf.queryExecution().executedPlan().toString()
  assert plan.count('WindowGroupLimit') >= 4, plan
  # every cross-join product in the plan is the GT side's brute
  # baseline (duplicated across metric branches in the LAZY plan —
  # exactly the recomputation the default materialize=True collapses
  # to one execution); the index path's joins are all bucket/q_id
  # hash joins, never a second scoring cross product
  n_gt_consumers = 2  # the g count branch and the h hits branch
  assert plan.count('BroadcastNestedLoopJoin') <= n_gt_consumers, plan
  assert 'BroadcastHashJoin [bucket' in plan, plan


def test_materialized_equals_lazy(spark, got):
  lazy = {r['q_id']: (r['n_gt'], r['n_ann'], r['n_hit'], r['nn_rank'])
          for r in V.ann_eval(spark, SF1, materialize=False).collect()}
  assert lazy == got


def test_recall_speed_dial_monotone(spark):
  """The recall/speed dial the low headline recall points at: holding
  n_planes=8, widening the banding (1 -> 2 -> 4 bands = 8/4/2-bit
  bucket keys, more multi-probe collisions) must raise total recall
  monotonically, and each configuration must still match the python
  replica exactly — the index is tunably-approximate, not broken."""
  totals = []
  for bands in (1, 2, 4):
    got = {r['q_id']: tuple(r)[1:]
           for r in V.ann_eval(spark, SF1, bands=bands).collect()}
    exp = _replica(SF1, bands=bands)
    assert got == exp, f'bands={bands}'
    n_gt = sum(v[0] for v in got.values())
    n_hit = sum(v[2] for v in got.values())
    totals.append((bands, n_hit, n_gt))
  assert totals[0][2] == totals[1][2] == totals[2][2]
  assert totals[0][1] <= totals[1][1] <= totals[2][1]
  # the widest config must be a substantial improvement over the
  # narrowest, or the dial is dead
  assert totals[2][1] > totals[0][1]
