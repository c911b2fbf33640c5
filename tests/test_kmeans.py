"""Distributed full-corpus spherical k-means (Lloyd): per-iteration
ONE map-side-combinable (cell, dim) groupBy over exact-integer
micro-unit components (bit-identical under any partitioning), codegen
assignment against literal-baked centroids, deterministic
xxhash64-spread init, and a full python recomputation that reproduces
centroids, per-iteration counts and the final assignment frame
bit-for-bit (incl. the Spark HALF_UP round-6 presentation).
"""

from __future__ import annotations

import math
import sys
from decimal import Decimal, ROUND_HALF_UP

import pyarrow.parquet as pq
import pytest

from blueprint_oss_spark.ops import vectors as V
from tests.conftest import REPO_ROOT

SF1 = '/root/testdata/sf0.001'
D = 64


def _unit(xs):
  acc = 0.0
  for x in xs:
    acc = acc + x * x
  n = math.sqrt(acc)
  return [x / n for x in xs]


def _fold_dot(a, b):
  acc = 0.0
  for i in range(len(a)):
    acc = acc + a[i] * b[i]
  return acc


def _python_kmeans(sf_dir, n_cells, iters):
  """From-scratch sequential Lloyd with the identical arithmetic
  contract: xxhash64-spread init, left-to-right folds, micro-unit
  truncation, empty cells keep their centroid."""
  sys.path.insert(0, str(REPO_ROOT / 'scripts'))
  from spark_xxhash64 import spark_xxhash64
  tb = pq.read_table(f'{sf_dir}/embeddings.parquet').to_pandas()
  rows = [(int(r.vec_id), [float(x) for x in r.embedding],
           int(r.label)) for r in tb.itertuples()]
  seeds = sorted(rows, key=lambda r: (spark_xxhash64(('long', r[0])),
                                      r[0]))[:n_cells]
  C = [_unit(r[1]) for r in seeds]
  d = len(C[0])
  nrows = [(v, _unit(e), lab) for v, e, lab in rows]
  hist = []
  for _ in range(iters):
    sums = [[0] * d for _ in range(n_cells)]
    counts = [0] * n_cells
    for _, ne, _lab in nrows:
      dots = [_fold_dot(ne, c) for c in C]
      cidx = dots.index(max(dots))
      counts[cidx] += 1
      for i in range(d):
        sums[cidx][i] += int(ne[i] * 1e6)
    for c in range(n_cells):
      if counts[c] > 0:
        C[c] = _unit([sums[c][i] / (counts[c] * 1e6)
                      for i in range(d)])
    hist.append(counts)
  return C, hist, nrows


def test_train_matches_python_recomputation_bit_for_bit(spark):
  C, hist = V.kmeans_train(spark, SF1, n_cells=8, iters=3)
  pC, phist, _ = _python_kmeans(SF1, 8, 3)
  assert hist == phist
  assert C == pC  # float64 bit equality, every coordinate
  for c in C:  # unit centroids
    assert abs(_fold_dot(c, c) - 1.0) < 1e-12


def test_assignment_frame_matches_recomputation(spark):
  C, _ = V.kmeans_train(spark, SF1, n_cells=8, iters=3)
  got = V.kmeans_assign(spark, SF1, model=C).toPandas()
  pC, _, nrows = _python_kmeans(SF1, 8, 3)
  q = Decimal('0.000001')
  expect = {}
  for v, ne, lab in nrows:
    dots = [_fold_dot(ne, c) for c in pC]
    cidx = dots.index(max(dots))
    cr = float(Decimal(repr(dots[cidx]))
               .quantize(q, rounding=ROUND_HALF_UP))
    expect[v] = (lab, cidx + 1, cr)
  assert len(got) == len(expect)
  for r in got.itertuples():
    assert expect[int(r.vec_id)] == (int(r.label), int(r.cell),
                                     float(r.cos_r))


def test_partitioning_invariance(spark):
  """Exact-integer sums are order-independent: training over a
  re-partitioned input yields bit-identical centroids — the property
  that makes the model reproducible across cluster sizes."""
  e = spark.read.parquet(f'{SF1}/embeddings.parquet')
  C1, h1 = V.kmeans_train(spark, SF1, n_cells=6, iters=2)
  C2, h2 = V.kmeans_train(spark, SF1, n_cells=6, iters=2,
                          embeddings=e.repartition(7))
  assert C1 == C2
  assert h1 == h2


def test_empty_cell_keeps_centroid(spark):
  """More cells than distinct directions: cells that win no rows keep
  their init centroid (deterministic, no second data pass)."""
  e = (spark.read.parquet(f'{SF1}/embeddings.parquet').limit(3))
  C, hist = V.kmeans_train(spark, SF1, n_cells=3, iters=2,
                           embeddings=e)
  assert sum(hist[-1]) == 3
  # centroids with zero count at every iteration = unit init vectors
  for c, cnts in enumerate(zip(*hist)):
    if all(n == 0 for n in cnts):
      assert abs(_fold_dot(C[c], C[c]) - 1.0) < 1e-12


def test_too_few_rows_raises(spark):
  e = spark.read.parquet(f'{SF1}/embeddings.parquet').limit(2)
  with pytest.raises(ValueError):
    V.kmeans_train(spark, SF1, n_cells=5, embeddings=e)


def test_assignment_plan_zero_shuffle_zero_python(spark):
  C, _ = V.kmeans_train(spark, SF1, n_cells=4, iters=1)
  df = V.kmeans_assign(spark, SF1, model=C)
  plan = df._jdf.queryExecution().executedPlan().toString()
  # presentation orderBy is the only exchange; no Python anywhere
  assert plan.count('hashpartitioning') == 0
  assert 'EvalPython' not in plan


def test_update_aggregate_is_bounded_and_map_side(spark):
  """The per-iteration update plan: ONE hashpartitioning exchange on
  (cell, i) with a partial_ aggregate below it (map-side combine) —
  k·d bounded output regardless of corpus size."""
  from pyspark.sql import functions as F
  e = spark.read.parquet(f'{SF1}/embeddings.parquet')
  C, _ = V.kmeans_train(spark, SF1, n_cells=4, iters=1)
  vec = F.transform(F.col('embedding'), lambda x: x.cast('double'))
  base = (e.select(vec.alias('v'))
          .select('v', V._norm(F.col('v')).alias('nrm'))
          .select(F.transform('v', lambda x: x / F.col('nrm'))
                  .alias('nv')))
  dots = F.array(*[
      V._dot(F.col('nv'), F.array(*[F.lit(float(w)) for w in c]))
      for c in C])
  staged = (base.select('nv', dots.alias('dots'))
            .select('nv',
                    F.array_position(F.col('dots'),
                                     F.array_max(F.col('dots')))
                    .alias('cell')))
  mic = F.transform(F.col('nv'),
                    lambda x: (x * F.lit(1e6)).cast('long'))
  agg = (staged.select('cell', F.posexplode(mic).alias('i', 'x'))
         .groupBy('cell', 'i')
         .agg(F.sum(F.col('x').cast('decimal(38,0)')).alias('s'),
              F.count(F.lit(1)).alias('n')))
  plan = agg._jdf.queryExecution().executedPlan().toString()
  assert plan.count('hashpartitioning') == 1
  assert 'partial_sum' in plan or 'partial' in plan.lower()
  assert 'EvalPython' not in plan
  assert len(agg.collect()) <= 4 * D
