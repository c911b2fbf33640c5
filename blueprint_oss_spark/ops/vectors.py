"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exactness baseline; an LSH-bucketed
variant (random hyperplane signs via deterministic hashing) as the scale
path.  Dot products run JVM-side via F.zip_with/F.aggregate — no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from blueprint_oss_spark.spark.sources import documents


#: Rows of the driver-side sample every centroid/codebook trainer reads
#: (a bounded .limit() scan at any corpus size).
_TRAIN_LIMIT = 10_000
#: IVF cells of the operators that share the spherical k-means quantizer.
_N_CELLS = 16
#: Vectors the verification planting re-enters as near-dups (the
#: oracles recompute the same count).
_N_PLANTED = 40


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
  return spark.read.parquet(f'{sf_dir}/embeddings.parquet')


def _dot(a, b):
  return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                     F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
  return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                            F.lit(0.0), lambda acc, v: acc + v))


def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
  """Squared L2 norm per vector, computed in double, rounded for
  engine-stable comparison."""
  e = _emb(spark, sf_dir)
  vec = F.transform(F.col('embedding'), lambda x: x.cast('double'))
  return (e.select('vec_id', 'label',
                   F.round(_dot(vec, vec), 2).alias('norm_sq'))
          .orderBy('vec_id'))


def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str, *,
                           query_vec_id: int = 0, k: int = 10) \
    -> DataFrame:
  """Exact cosine top-k neighbours of one query vector — broadcast the
  query, score every row map-side, take the global top-k.  The pattern
  scales: per-partition top-k then a tiny final merge (Spark's sort+limit
  does exactly this)."""
  e = _emb(spark, sf_dir)
  vec = F.transform(F.col('embedding'), lambda x: x.cast('double'))
  q = e.where(F.col('vec_id') == query_vec_id).select(
      F.col('vec_id').alias('q_id'), vec.alias('q'))
  scored = (e.crossJoin(F.broadcast(q))
            .where(F.col('vec_id') != F.col('q_id'))
            .select('vec_id',
                    (_dot(vec, F.col('q'))
                     / (_norm(vec) * _norm(F.col('q'))))
                    .alias('cosine')))
  return (scored
          .orderBy(F.desc(F.round('cosine', 6)), 'vec_id')
          .limit(k)
          .select('vec_id', F.round('cosine', 4).alias('cosine_r')))


def _sign_lsh_projection(vec, plane: int):
  """Deterministic hyperplane projection: weight_d = xxhash64(d, plane)
  mapped to [-1, 1); shared by every sign-LSH consumer so buckets agree
  across operators and runs.  NB: the weight lambda must stay unary —
  transform() passes the array index to binary lambdas, which would
  silently replace the plane seed."""
  return F.aggregate(
      F.zip_with(
          vec,
          F.transform(F.sequence(F.lit(0), F.size(vec) - 1),
                      lambda d: (F.pmod(F.xxhash64(d, F.lit(plane)),
                                        F.lit(2000)) - 1000) / 1000.0),
          lambda x, w: x * w),
      F.lit(0.0), lambda acc, v: acc + v)


def _banded_bucket_cols(vec, n_planes: int, bands: int):
  """Banded sign-LSH bucket ids: `bands` buckets of n_planes/bands sign
  bits each, in band-disjoint id spaces.  Banding is the multi-probe
  recall fix — a near-dup pair straddling one hyperplane still collides
  on another band."""
  planes_per_band = n_planes // bands
  cols = []
  for b in range(bands):
    bucket = F.lit(b * (1 << planes_per_band))
    for j in range(planes_per_band):
      proj = _sign_lsh_projection(vec, b * planes_per_band + j)
      bucket = bucket + F.when(proj >= 0,
                               F.lit(1 << j)).otherwise(F.lit(0))
    cols.append(bucket)
  return cols


def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str, *,
                             threshold: float = 0.9,
                             max_bucket_size: int = 0,
                             plant_for_verification: bool = False,
                             n_planted: int = _N_PLANTED) -> DataFrame:
  """Embedding-cosine near-dup pairs above a threshold, banded-sign-LSH
  blocked: candidate pairs share at least one of 3 bucket ids (4 sign
  bits each, of 12 planes), exact cosine inside the block.

  Banding (vs a single bucket id) is the multi-probe recall fix: a
  near-dup pair straddling one hyperplane still collides on the other
  band.  The bucket id is the shuffle key — one groupBy instead of a
  cross join; per-band bucket count 2^4 bounds the
  within-bucket O(n²/buckets) pair work at scale.

  On real data the operator reports exactly the pairs present in the
  table.  The driver's gate corpus carries no near-dups at all, so the
  gate/test entry points pass `plant_for_verification=True`, which
  PLANTS deterministic near-dups derived from the table itself: the
  first `n_planted` vectors re-enter as vec_id+1_000_000 with
  0.01 added to every component (cosine ≥ 0.99 to their
  originals, ≤ 0.52 to everything else).  The planting is plain
  arithmetic, so the DuckDB oracle recomputes the exact brute-force
  O(n²) pair set independently — the LSH-blocked output must equal it
  (recall 1 on this corpus is asserted in tests/test_vectors.py).
  The flag defaults OFF: production callers never see fabricated
  pairs or nonexistent vec_ids.

  Skew knob (mirrors minhash_shingles): an exact-dup swarm surviving
  upstream collapses into ONE LSH bucket on every band, putting k ids
  in one reducer row and k²/2 pairs in one task.  `max_bucket_size` > 0
  drops buckets larger than the cap BEFORE the quadratic in-bucket pair
  expansion, with observation-based drop accounting riding the caller's
  own action (textops._cap_hub_buckets) — a dropped hub's members are
  near-identical by construction, so the production follow-up is
  exact-hash dedup, O(k) not O(k²).  Default 0 disables the cap,
  keeping the operator exact — which is what the brute-force O(n²)
  oracle verifies."""
  raw = _emb(spark, sf_dir)
  e = raw.select(
      'vec_id',
      F.transform(F.col('embedding'),
                  lambda x: x.cast('double')).alias('e'))
  e = _spread_small_scan(raw, e)
  u = e.unionByName(_planted(e, n_planted)) \
      if plant_for_verification else e

  band_cols = _banded_bucket_cols(F.col('e'), 12, 3)
  stacked = u.select(
      'vec_id', F.explode(F.array(*band_cols)).alias('bucket'))
  grouped = (stacked
             .groupBy('bucket')
             .agg(F.sort_array(F.collect_set('vec_id')).alias('ids'))
             .where(F.size('ids') >= 2))
  if max_bucket_size > 0:
    from blueprint_oss_spark.ops.textops import _cap_hub_buckets
    grouped = _cap_hub_buckets(grouped, 'ids', max_bucket_size,
                               'embedding_near_dup_pairs',
                               'route their members to exact-hash dedup')
  cand = (grouped
          .select(F.explode(F.expr(
              'flatten(transform(ids, (a, i) -> '
              'transform(slice(ids, i + 2, size(ids)), '
              'b -> struct(a AS vec_a, b AS vec_b))))')).alias('p'))
          .select('p.vec_a', 'p.vec_b')
          .distinct())
  ea = u.select(F.col('vec_id').alias('vec_a'), F.col('e').alias('e_a'))
  eb = u.select(F.col('vec_id').alias('vec_b'), F.col('e').alias('e_b'))
  # cand is tiny → AQE broadcasts it; the embedding table itself never
  # shuffles for these joins.
  pairs = (cand.join(ea, 'vec_a').join(eb, 'vec_b')
           .select('vec_a', 'vec_b',
                   (_dot(F.col('e_a'), F.col('e_b'))
                    / (_norm(F.col('e_a')) * _norm(F.col('e_b'))))
                   .alias('cosine')))
  return (pairs.where(F.col('cosine') >= threshold)
          .select('vec_a', 'vec_b', F.round('cosine', 4).alias('cos_r'))
          .orderBy('vec_a', 'vec_b'))


def ann_topk_lsh(spark: SparkSession, sf_dir: str, *,
                 query_vec_id: int = 0, k: int = 10) -> DataFrame:
  """ANN top-k: probe only the buckets the query lands in (one per
  band, 2 bands of 4 of 8 sign planes), exact cosine within the probed
  set.  Banding widens recall — a neighbour straddling one hyperplane
  still shares the other band's bucket — while each band's 2^4 buckets
  keep the probed candidate set ~2/16 of the corpus.  Falls back to
  fewer than k results when the probed buckets are small (the
  recall/speed tradeoff is the point of the operator)."""
  e = _emb(spark, sf_dir)
  vec = F.transform(F.col('embedding'), lambda x: x.cast('double'))
  band_cols = _banded_bucket_cols(vec, 8, 2)
  stacked = e.select(
      'vec_id', F.explode(F.array(*band_cols)).alias('bucket'))
  qb = stacked.where(F.col('vec_id') == query_vec_id) \
      .select(F.col('bucket').alias('qbucket'))
  cand = (stacked.join(F.broadcast(qb),
                       F.col('bucket') == F.col('qbucket'))
          .select('vec_id').distinct())
  q = (e.where(F.col('vec_id') == query_vec_id)
       .select(F.col('vec_id').alias('q_id'), vec.alias('q')))
  scored = (e.join(cand, 'vec_id')
            .crossJoin(F.broadcast(q))
            .where(F.col('vec_id') != F.col('q_id'))
            .select('vec_id',
                    (_dot(vec, F.col('q'))
                     / (_norm(vec) * _norm(F.col('q'))))
                    .alias('cosine')))
  return (scored.orderBy(F.desc(F.round('cosine', 6)), 'vec_id')
          .limit(k)
          .select('vec_id', F.round('cosine', 4).alias('cosine_r')))


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer alternative to sign-LSH.
# ---------------------------------------------------------------------------

def train_ivf_centroids(sample: 'np.ndarray', n_cells: int):
  """Deterministic spherical k-means on a driver-side sample: seeded
  init, 10 Lloyd iterations, unit-normalized centroids.  numpy only
  — the centroid table is tiny and broadcasts as literals."""
  import numpy as np
  X = sample / np.linalg.norm(sample, axis=1, keepdims=True)
  rng = np.random.default_rng(7)
  C = X[rng.permutation(len(X))[:n_cells]].copy()
  for _ in range(10):
    assign = np.argmax(X @ C.T, axis=1)
    for c in range(n_cells):
      members = X[assign == c]
      if len(members):
        v = members.sum(axis=0)
        n = np.linalg.norm(v)
        if n > 0:
          C[c] = v / n
  return C


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
  """IVF ANN top-k of vec 0: a coarse quantizer (spherical k-means over
  a driver-side sample, deterministic) partitions vectors into 16
  inverted lists; the query probes only its 4 nearest cells and
  computes exact cosine inside them, keeping the top 10.

  Scale shape: training touches a bounded sample (_TRAIN_LIMIT rows —
  at 100 TB that is a .limit() scan, not a full pass); the per-row cell
  assignment is map-side JVM arithmetic against broadcast centroid
  literals; `cell` is the storage bucketing / shuffle key, and queries
  read ~4/16 of the corpus."""
  import numpy as np
  e = _emb(spark, sf_dir)
  sample = np.array(
      [np.asarray(r['embedding'], dtype=np.float64)
       for r in e.select('embedding').limit(_TRAIN_LIMIT).collect()])
  C = train_ivf_centroids(sample, _N_CELLS)

  vec = F.transform(F.col('embedding'), lambda x: x.cast('double'))
  nvec = F.transform(vec, lambda x: x / _norm(vec))
  dots = F.array(*[
      _dot(nvec, F.array(*[F.lit(float(w)) for w in c])) for c in C])
  cell = F.array_position(dots, F.array_max(dots))
  assigned = e.select('vec_id', cell.alias('cell'))

  q_emb = np.asarray(
      e.where(F.col('vec_id') == 0)
      .select('embedding').head()['embedding'], dtype=np.float64)
  qn = q_emb / np.linalg.norm(q_emb)
  probe = [int(c) + 1 for c in np.argsort(-(C @ qn))[:4]]

  cand = assigned.where(F.col('cell').isin(probe)).select('vec_id')
  q = (e.where(F.col('vec_id') == 0)
       .select(F.col('vec_id').alias('q_id'), vec.alias('q')))
  scored = (e.join(cand, 'vec_id')
            .crossJoin(F.broadcast(q))
            .where(F.col('vec_id') != F.col('q_id'))
            .select('vec_id',
                    (_dot(vec, F.col('q'))
                     / (_norm(vec) * _norm(F.col('q'))))
                    .alias('cosine')))
  return (scored.orderBy(F.desc(F.round('cosine', 6)), 'vec_id')
          .limit(10)
          .select('vec_id', F.round('cosine', 4).alias('cosine_r')))


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN — the memory-bounded scale path.
# ---------------------------------------------------------------------------

def train_pq_codebooks(sample: 'np.ndarray', m: int = 8, ksub: int = 16):
  """Deterministic per-subspace Euclidean k-means over a driver-side
  sample of unit-normalized vectors: the d-dim space splits into m
  contiguous subspaces of d/m dims, each learning its own ksub-centroid
  codebook (seeded init, 10 Lloyd iterations).  Returns an
  (m, ksub, d/m) array — tiny, broadcasts as literals."""
  import numpy as np
  X = sample / np.linalg.norm(sample, axis=1, keepdims=True)
  dsub = X.shape[1] // m
  books = []
  for j in range(m):
    Xs = X[:, j * dsub:(j + 1) * dsub]
    rng = np.random.default_rng(11 + j)
    C = Xs[rng.permutation(len(Xs))[:ksub]].copy()
    for _ in range(10):
      d2 = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(-1)
      assign = np.argmin(d2, axis=1)
      for c in range(ksub):
        members = Xs[assign == c]
        if len(members):
          C[c] = members.mean(axis=0)
    books.append(C)
  return np.stack(books)


def pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
  """PQ ANN top-10 of vec 0 with asymmetric distance computation (ADC)
  and an exact-cosine refine, per the public product-quantization
  literature (Jegou et al., PAMI 2011).

  Each unit-normalized vector compresses to m small codes (one byte
  each at ksub<=256) by per-subspace nearest-centroid assignment; a
  query builds an m x ksub lookup table of partial squared distances
  once and scores every code row by m table lookups; the ADC shortlist
  is then re-ranked with exact cosine.

  Scale shape: training touches a bounded `.limit()` sample; encoding
  is one map-side pass against broadcast codebook literals (the m-byte
  code column is what you'd persist — 32x smaller than 64 x float32, it
  fits in memory at corpus sizes where raw embeddings cannot); query
  scoring is a scan of the code table with JVM-side lookups plus an
  exact re-rank that reads only a 40-row shortlist of full vectors."""
  import numpy as np
  e = _emb(spark, sf_dir)
  sample = np.array(
      [np.asarray(r['embedding'], dtype=np.float64)
       for r in e.select('embedding').limit(_TRAIN_LIMIT).collect()])
  B = train_pq_codebooks(sample)
  m, ksub, dsub = B.shape

  vec = F.transform(F.col('embedding'), lambda x: x.cast('double'))
  # staged projections: norm, then the normalized vector, then the
  # codes — each alias referenced many times downstream, so Catalyst
  # keeps the projections separate and evaluates each ONCE per row
  # (inlining the norm fold into all 128 distance folds is a ~60x
  # expression blow-up)
  base = (e.select('vec_id', vec.alias('v'))
          .select('vec_id', 'v', _norm(F.col('v')).alias('nrm'))
          .select('vec_id',
                  F.transform('v', lambda x: x / F.col('nrm'))
                  .alias('nv')))
  codes = []
  for j in range(m):
    sub = F.slice('nv', j * dsub + 1, dsub)
    dists = F.array(*[
        F.aggregate(
            F.zip_with(sub, F.array(*[F.lit(float(w)) for w in B[j][c]]),
                       lambda x, w: (x - w) * (x - w)),
            F.lit(0.0), lambda acc, v: acc + v)
        for c in range(ksub)])
    codes.append((F.array_position(dists, F.array_min(dists)) - 1)
                 .cast('int'))
  coded = base.select('vec_id', F.array(*codes).alias('codes'))

  q_emb = np.asarray(
      e.where(F.col('vec_id') == 0)
      .select('embedding').head()['embedding'], dtype=np.float64)
  qn = q_emb / np.linalg.norm(q_emb)
  lut = [[sum((float(qn[j * dsub + i]) - float(B[j, c, i])) ** 2
              for i in range(dsub)) for c in range(ksub)]
         for j in range(m)]
  lut_col = F.array(*[F.array(*[F.lit(v) for v in row]) for row in lut])
  adc = F.aggregate(
      F.zip_with(F.col('codes'), lut_col,
                 lambda c, row: F.element_at(row, c + 1)),
      F.lit(0.0), lambda acc, v: acc + v)
  short = (coded.where(F.col('vec_id') != 0)
           .select('vec_id', F.round(adc, 6).alias('adc_r'))
           .orderBy('adc_r', 'vec_id')
           .limit(40))

  q = (e.where(F.col('vec_id') == 0)
       .select(F.col('vec_id').alias('q_id'), vec.alias('q')))
  scored = (e.join(short, 'vec_id')
            .crossJoin(F.broadcast(q))
            .where(F.col('vec_id') != F.col('q_id'))
            .select('vec_id',
                    (_dot(vec, F.col('q'))
                     / (_norm(vec) * _norm(F.col('q'))))
                    .alias('cosine')))
  return (scored.orderBy(F.desc(F.round('cosine', 6)), 'vec_id')
          .limit(10)
          .select('vec_id', F.round('cosine', 4).alias('cosine_r')))


# ---------------------------------------------------------------------------
# Semantic dedup — cluster-then-pairwise embedding dedup (SemDeDup-style).
# ---------------------------------------------------------------------------

#: Single-split scan guard — shared implementation, see
#: ops/common.spread_small_scan for the full story.
from blueprint_oss_spark.ops.common import \
    spread_small_scan as _spread_small_scan, words  # noqa: E402


def _planted(e: DataFrame, n_planted: int = _N_PLANTED) -> DataFrame:
  """Deterministic near-dup planting shared by the embedding dedup
  operators: the first `n_planted` vectors re-enter as vec_id+1_000_000
  with 0.01 added to every component (cosine >= 0.99 to their
  originals on this corpus, <= ~0.52 to everything else)."""
  return e.where(F.col('vec_id') < n_planted).select(
      (F.col('vec_id') + 1_000_000).alias('vec_id'),
      F.transform(F.col('e'), lambda v: v + 0.01).alias('e'))


def semantic_dedup(spark: SparkSession, sf_dir: str, *,
                   threshold: float = 0.9, n_cells: int = _N_CELLS,
                   max_bucket_size: int = 0,
                   plant_for_verification: bool = False,
                   sort: bool = True) -> DataFrame:
  """SemDeDup-style semantic deduplication (Abbas et al. 2023,
  arXiv:2303.09540): spherical k-means clusters the embedding space,
  exact pairwise cosine runs ONLY within each cluster, pairs above
  `threshold` become dedup edges, connected components pick one keeper
  (the minimum vec_id) per semantic-duplicate group.

  Returns (vec_id, group, keep) for EVERY vector: `group` is the
  component's minimum vec_id (self for singletons), `keep` = 1 exactly
  on the representative.  `.where(keep = 1)` is the dataset-pruning
  step the SemDeDup paper applies before pretraining.

  Scale shape: centroid training touches a bounded `.limit()` sample
  (driver-side numpy on <=_TRAIN_LIMIT rows — at 100 TB a .limit()
  scan, not a full pass); per-row cell assignment is map-side JVM
  arithmetic against broadcast centroid literals; the ONE substantive
  shuffle keys on `cell`, and the quadratic pair work is bounded per
  cell (n_cells scales with corpus size — the paper runs 50k clusters
  over LAION; a near-dup pair split across two cells is missed, which
  is the algorithm's documented recall trade).  Dedup groups reuse the
  alternating-star connected components (ops/graph.py) — O(log n)
  min-agg rounds, no per-node adjacency arrays.

  Skew knob: `max_bucket_size` drops cells larger than the cap BEFORE
  the quadratic in-cell pair expansion (observation-based drop
  accounting riding the caller's action, textops._cap_hub_buckets) —
  an exact-dup swarm collapsing into one cell otherwise puts k ids in
  one reducer row and k^2/2 pairs in one task; the production
  follow-up for a dropped swarm is exact-hash dedup, O(k) not O(k^2).
  Default 0 keeps the operator exact, which is what the pure-python
  full recomputation in scripts/build_oracles.py verifies.

  Verification planting mirrors embedding_near_dup_pairs (default OFF:
  production callers never see fabricated vec_ids); centroids train on
  the UNPLANTED head sample so planting cannot move the cells."""
  import numpy as np

  raw = _emb(spark, sf_dir)
  e = raw.select(
      'vec_id',
      F.transform(F.col('embedding'),
                  lambda x: x.cast('double')).alias('e'))
  e = _spread_small_scan(raw, e)
  u = e.unionByName(_planted(e)) if plant_for_verification else e

  sample = np.array(
      [np.asarray(r['embedding'], dtype=np.float64)
       for r in raw.select('embedding').limit(_TRAIN_LIMIT).collect()])
  C = train_ivf_centroids(sample, n_cells)

  assigned = _assign_cells(u, C).select('vec_id', 'cell')

  grouped = (assigned
             .groupBy('cell')
             .agg(F.sort_array(F.collect_set('vec_id')).alias('ids'))
             .where(F.size('ids') >= 2))
  if max_bucket_size > 0:
    from blueprint_oss_spark.ops.textops import _cap_hub_buckets
    grouped = _cap_hub_buckets(grouped, 'ids', max_bucket_size,
                               'semantic_dedup',
                               'route their members to exact-hash dedup')
  cand = (grouped
          .select(F.explode(F.expr(
              'flatten(transform(ids, (a, i) -> '
              'transform(slice(ids, i + 2, size(ids)), '
              'b -> struct(a AS vec_a, b AS vec_b))))')).alias('p'))
          .select('p.vec_a', 'p.vec_b'))
  ea = u.select(F.col('vec_id').alias('vec_a'), F.col('e').alias('e_a'))
  eb = u.select(F.col('vec_id').alias('vec_b'), F.col('e').alias('e_b'))
  # cand is tiny -> AQE broadcasts it; the embedding table itself never
  # shuffles for these joins.
  edges = (cand.join(ea, 'vec_a').join(eb, 'vec_b')
           .select('vec_a', 'vec_b',
                   (_dot(F.col('e_a'), F.col('e_b'))
                    / (_norm(F.col('e_a')) * _norm(F.col('e_b'))))
                   .alias('cosine'))
           .where(F.col('cosine') >= threshold)
           .select('vec_a', 'vec_b'))

  from blueprint_oss_spark.ops.graph import connected_components
  comp = connected_components(edges, 'vec_a', 'vec_b')
  out = (u.select('vec_id')
         .join(comp, u['vec_id'] == comp['node'], 'left')
         .select('vec_id',
                 F.coalesce('component', 'vec_id').alias('group'))
         .withColumn('keep',
                     (F.col('vec_id') == F.col('group')).cast('int')))
  return out.orderBy('vec_id') if sort else out


def semantic_decontaminate(spark: SparkSession, sf_dir: str, *,
                           max_bucket_size: int = 0,
                           plant_for_verification: bool = False
                           ) -> DataFrame:
  """Embedding-level eval-set decontamination — the semantic complement
  of the n-gram `decontaminate` operator (the modern LLM-pipeline rule:
  drop training documents whose embedding is too close to ANY eval-set
  document, catching paraphrased benchmark leakage n-gram overlap
  misses; e.g. the cosine-similarity decontamination described for
  phi/Llama-style data pipelines).

  The eval dimension is the `vec_id % 10 == 0` slice of the
  embeddings table (an in-table split, same device as
  bloom_decontaminate's eval split — a real deployment passes its eval
  embeddings as the second table; the seam is the WHERE clause).
  Every TRAIN vector gets one verdict row:
    vec_id, contaminated (1 iff round(cos, 6) >= 0.9 for some
    eval vector), best_eval_id / best_cos_r (the highest-cosine
    contaminating eval vector, min eval_id on ties; NULL when not
    contaminated).  Best-match is only reported for contaminated rows
    on purpose: below the threshold, WHICH low-cosine pairs happen to
    collide is an LSH implementation detail, so reporting them would
    make the output depend on bucket internals no external oracle can
    reproduce — above the threshold, banding recall makes the
    colliding best the global best.

  Scale shape: candidate generation is banded sign-LSH (the
  embedding_near_dup_pairs machinery — 3 buckets of 4 sign bits,
  recall fixed by multi-probe banding), so
  the train side NEVER cross-joins the eval side: the eval dimension
  is grouped per bucket (one substantive shuffle over the eval slice —
  the SMALL side), train rows probe it with a per-bucket equi-join,
  and exact cosine runs only on colliding (train, eval) pairs.  The
  per-train-id best-match aggregation is map-side-combinable
  max(struct).  Skew knob: `max_bucket_size` drops oversized EVAL
  bucket lists before the fanout join (textops._cap_hub_buckets,
  observation-based drop accounting) — a degenerate eval swarm
  otherwise fans every colliding train row out k ways.

  Verification planting mirrors embedding_near_dup_pairs (default OFF):
  `plant_for_verification=True` re-enters the first 40
  vectors as eval-side near-copies (vec_id+1_000_000, +0.01 per
  component), so planted originals that are NOT themselves eval rows
  must come back contaminated — and the DuckDB oracle recomputes the
  exact brute-force train x eval cosine matrix independently, proving
  the LSH blocking lost nothing on this corpus."""
  raw = _emb(spark, sf_dir)
  e = raw.select(
      'vec_id',
      F.transform(F.col('embedding'),
                  lambda x: x.cast('double')).alias('e'))
  e = _spread_small_scan(raw, e)
  is_eval = F.pmod(F.col('vec_id'), F.lit(10)) == 0
  ev = e.where(is_eval)
  if plant_for_verification:
    ev = ev.unionByName(_planted(e))
  tr = e.where(~is_eval)

  def stacked(side, id_name):
    band_cols = _banded_bucket_cols(F.col('e'), 12, 3)
    return side.select(
        F.col('vec_id').alias(id_name),
        F.explode(F.array(*band_cols)).alias('bucket'))

  ev_grouped = (stacked(ev, 'eval_id')
                .groupBy('bucket')
                .agg(F.sort_array(F.collect_set('eval_id'))
                     .alias('ids')))
  if max_bucket_size > 0:
    from blueprint_oss_spark.ops.textops import _cap_hub_buckets
    ev_grouped = _cap_hub_buckets(
        ev_grouped, 'ids', max_bucket_size, 'semantic_decontaminate',
        'split the eval set or raise the cap')

  cand = (stacked(tr, 'train_id')
          .join(ev_grouped, 'bucket')
          .select('train_id', F.explode('ids').alias('eval_id'))
          .distinct())
  et = tr.select(F.col('vec_id').alias('train_id'),
                 F.col('e').alias('e_t'))
  ee = ev.select(F.col('vec_id').alias('eval_id'),
                 F.col('e').alias('e_e'))
  # raw cosine staged (no-CSE rule); cos6 thresholds/orders, cos4 is
  # the presentation rounding from the RAW value — re-rounding cos6
  # to 4dp diverges engines on 4dp half-edges (the
  # hard_negative_mining lesson).  cos4 sits AFTER ni in the struct
  # so tie-breaking semantics are unchanged.
  scored = (cand.join(et, 'train_id').join(ee, 'eval_id')
            .select('train_id',
                    'eval_id',
                    (_dot(F.col('e_t'), F.col('e_e'))
                     / (_norm(F.col('e_t')) * _norm(F.col('e_e'))))
                    .alias('cos'))
            .select('train_id', 'eval_id',
                    F.round('cos', 6).alias('cos6'),
                    F.round('cos', 4).alias('cos4')))
  best = (scored.groupBy('train_id')
          .agg(F.max(F.struct(F.col('cos6'),
                              (-F.col('eval_id')).alias('ni'),
                              F.col('cos4')))
               .alias('b')))
  contaminated = F.coalesce(
      (F.col('b.cos6') >= 0.9).cast('int'), F.lit(0))
  return (tr.select(F.col('vec_id'))
          .join(best, tr['vec_id'] == best['train_id'], 'left')
          .select('vec_id',
                  contaminated.alias('contaminated'),
                  F.when(contaminated == 1, -F.col('b.ni'))
                  .cast('long').alias('best_eval_id'),
                  F.when(contaminated == 1, F.col('b.cos4'))
                  .alias('best_cos_r'))
          .orderBy('vec_id'))


def _assign_cells(u: DataFrame, C) -> DataFrame:
  """(vec_id, cell, cos_c) for every vector against the trained
  centroid table: cell is the 1-based FIRST-max position (the
  F.array_position semantics build_oracles' python replica mirrors),
  cos_c the centroid cosine (exact, both vectors unit) rounded to 6
  for engine-stable downstream ordering.

  Staged projections (norm, then the normalized vector, then the dots
  array as its own column) so Catalyst evaluates the norm fold ONCE
  per row instead of inlining it into every per-centroid dot fold, and
  the dots array once instead of per consumer (the pq_topk
  expression-blowup lesson)."""
  base = (u.select('vec_id', 'e')
          .select('vec_id', 'e', _norm(F.col('e')).alias('nrm'))
          .select('vec_id', 'e',
                  F.transform('e', lambda x: x / F.col('nrm'))
                  .alias('nv')))
  dots = F.array(*[
      _dot(F.col('nv'), F.array(*[F.lit(float(w)) for w in c]))
      for c in C])
  return (base.select('vec_id', dots.alias('dots'))
          .select('vec_id',
                  F.array_position('dots', F.array_max('dots'))
                  .alias('cell'),
                  F.round(F.array_max('dots'), 6).alias('cos_c')))


def cluster_balanced_select(spark: SparkSession, sf_dir: str, *,
                            per_cell: int = 20) -> DataFrame:
  """Prototype-based cluster-balanced data selection (Sorscher et al.
  2022, "Beyond neural scaling laws: beating power law scaling via
  data pruning", arXiv:2206.14486: cluster the embedding space, score
  each example by its cosine to its cluster prototype, and PRUNE THE
  EASIEST — most prototypical — examples; keeping a fixed budget per
  cluster also rebalances topic mass, the SemDeDup-paper follow-up
  regime).  Per vector:
    vec_id, cell (1-based k-means cell), cos_c (cosine to its
    prototype, rounded 6), cell_rank (1 = HARDEST, ascending cos_c,
    vec_id tie-break), selected (1 iff cell_rank <= per_cell).

  Scale shape: centroid training is the bounded `.limit()` sample the
  IVF/SemDeDup operators already use; per-row assignment is map-side
  JVM arithmetic against broadcast centroid literals; the ONE shuffle
  is the per-cell ranking window, partitioned by cell — at 100 TB
  the cell count is tens of thousands (the paper's regime), so cells vastly
  outnumber executors and the window parallelizes; no per-cell
  collect, no quadratic work anywhere (this is the selection
  complement of semantic_dedup: same cells, linear scoring instead of
  in-cell pairwise cosine).

  Determinism: seeded trainer + fold-order float64 arithmetic + the
  round-6 ordering key with vec_id tie-break make the whole frame
  reproducible bit-for-bit; verified by a FULL pure-python
  recomputation (scripts/build_oracles.py::verify_cluster_select)."""
  import numpy as np

  raw = _emb(spark, sf_dir)
  e = raw.select(
      'vec_id',
      F.transform(F.col('embedding'),
                  lambda x: x.cast('double')).alias('e'))
  e = _spread_small_scan(raw, e)
  sample = np.array(
      [np.asarray(r['embedding'], dtype=np.float64)
       for r in raw.select('embedding').limit(_TRAIN_LIMIT).collect()])
  C = train_ivf_centroids(sample, _N_CELLS)

  w = Window.partitionBy('cell').orderBy(F.asc('cos_c'), F.asc('vec_id'))
  return (_assign_cells(e, C)
          .withColumn('cell_rank', F.row_number().over(w))
          .withColumn('selected',
                      (F.col('cell_rank') <= per_cell).cast('int'))
          .orderBy('vec_id'))


def hard_negative_mining(spark: SparkSession, sf_dir: str, *,
                         k: int = 3) -> DataFrame:
  """Hard-negative mining for contrastive / metric-learning training
  data (the in-batch-negatives upgrade used by dense-retriever
  pipelines, e.g. Xiong et al. 2021 ANCE, arXiv:2007.00808: the most
  informative negatives for an anchor are the highest-similarity
  examples of a DIFFERENT label).  For every anchor (the deterministic
  `vec_id % 50 == 0` slice — a real deployment passes its
  anchor/query table; the seam is the WHERE clause), report the top-k
  highest-cosine vectors whose label differs:
    anchor_id, anchor_label, rnk (1 = hardest), neg_id, neg_label,
    cos_r (round 4).

  Scale shape: the anchor slice is a bounded dimension BROADCAST
  against the corpus scan — scoring is map-side (one cosine fold per
  (row, anchor), no corpus shuffle for candidate generation); the
  per-anchor top-k is a rank window partitioned by anchor whose
  `rnk <= k` filter Spark 3.5+ pushes down as a WindowGroupLimit on
  BOTH sides of the exchange (map-side partial top-k per partition —
  the url_curation hub-domain lesson), so the shuffle carries at most
  k·partitions rows per anchor, not the whole scored corpus.  At
  web scale with millions of anchors you swap the broadcast for the
  IVF cell probe (ivf_topk's machinery) and keep the same window —
  the brute scoring here is the exactness baseline, like
  cosine_topk_bruteforce.

  Determinism: ordering key = (round(cos, 6) DESC, neg_id) so ties
  cannot diverge engines; the DuckDB oracle recomputes everything
  from scratch."""
  e = _emb(spark, sf_dir)
  vec = F.transform(F.col('embedding'), lambda x: x.cast('double'))
  anchors = (e.where(F.pmod(F.col('vec_id'), F.lit(50)) == 0)
             .select(F.col('vec_id').alias('anchor_id'),
                     F.col('label').alias('anchor_label'),
                     vec.alias('a')))
  # single-split guard on the probe side: the O(n x anchors) cosine
  # folds otherwise all land in one task at gate scale
  probe = _spread_small_scan(
      e, e.select(F.col('vec_id').alias('neg_id'),
                  F.col('label').alias('neg_label'), vec.alias('v')))
  # raw cosine staged as its own column (interpreted HOFs get no CSE),
  # then BOTH roundings derive from it: cos6 orders, cos_r presents.
  # Rounding the round-6 value again to 4dp is the cross-engine trap —
  # a 6dp value landing on a 4dp half-edge (P ~ 1e-3/row) rounds up
  # through Spark's shortest-decimal BigDecimal but down through
  # DuckDB's binary-value rounding; from the raw double the same
  # divergence needs a ~1-ulp coincidence.
  scored = (probe
            .join(F.broadcast(anchors),
                  F.col('neg_label') != F.col('anchor_label'))
            .select('anchor_id', 'anchor_label', 'neg_id', 'neg_label',
                    (_dot(F.col('v'), F.col('a'))
                     / (_norm(F.col('v')) * _norm(F.col('a'))))
                    .alias('cos'))
            .select('anchor_id', 'anchor_label', 'neg_id', 'neg_label',
                    F.round('cos', 6).alias('cos6'),
                    F.round('cos', 4).alias('cos4')))
  w = Window.partitionBy('anchor_id').orderBy(F.desc('cos6'), 'neg_id')
  return (scored
          .withColumn('rnk', F.row_number().over(w))
          .where(F.col('rnk') <= k)
          .select('anchor_id', 'anchor_label', 'rnk', 'neg_id',
                  'neg_label', F.col('cos4').alias('cos_r'))
          .orderBy('anchor_id', 'rnk'))


def bitext_mine(spark: SparkSession, sf_dir: str, *,
                k: int = 4,
                threshold_num: int = 21,
                threshold_den: int = 20,
                emb: DataFrame = None) -> DataFrame:
  """Margin-based bitext mining (Artetxe & Schwenk 2019,
  arXiv:1811.01136 'ratio' margin; the criterion CCMatrix — Schwenk
  et al., arXiv:1911.04944 — mines parallel web sentences with): for
  every SOURCE-side vector x, find its best TARGET-side match y by
  cosine and score the pair by the margin

      margin(x, y) = cos(x, y) / ((avgA + avgB) / 2)

  where avgA is the mean cosine of x to its k nearest TARGET vectors
  and avgB the mean of y to its k nearest SOURCE vectors — the
  normalization that suppresses hubness (a y that is close to
  EVERYTHING scores high raw cosine against every x; dividing by its
  neighborhood average cancels that).  The two sides are the
  deterministic `vec_id % 5 == 1` split of the embeddings table
  (source = matches, target = the rest; a real deployment passes the
  two languages' embedding tables — the seam is the WHERE clause).

  Returns one row per source vector:
    src_id, tgt_id (best target by (round(cos,6) DESC, tgt_id)),
    cos_r (round 4), margin_r (round 4; NULL when the neighborhood
    denominator is non-positive — an anti-correlated neighborhood has
    no meaningful ratio margin), mined (1 iff margin >= threshold_num
    / threshold_den with a POSITIVE denominator — evaluated in exact
    cross-multiplied integers, see below), mutual (1 iff x is also
    its best target's best source — CCMatrix's forward+backward
    agreement; callers AND it with `mined` for the high-precision
    pair set).

  Cross-engine determinism: per-pair cosine is rounded to 6dp and
  converted to exact integer micro-units (cm = round(cos6 * 1e6) as
  BIGINT); neighborhood sums are then order-free BIGINT sums, and the
  mined verdict is the exact integer inequality
      2 * cm * nA * nB * threshold_den >= threshold_num
        * (sumA * nB + sumB * nA)
  (the 1e6 cancels in the ratio), so no float accumulation order can
  diverge engines — the same exact-surrogate discipline as lm_score /
  dsir.  nA/nB are the ACTUAL neighbor counts (min(k, side size)), so
  degenerate sides still average correctly.

  Scale shape (mirrors hard_negative_mining): the source side is the
  bounded dimension — in the CCMatrix setting the low-resource
  language's sentence table, orders of magnitude smaller than the
  English side — BROADCAST against the target scan, so scoring is
  map-side and the target corpus NEVER shuffles for candidate
  generation.  Both per-element top-k passes are rank windows whose
  `rnk <= k` filter Spark pushes down as WindowGroupLimit (map-side
  partial top-k), so each shuffle carries at most k rows per element,
  not the scored cross product; the scored frame is recomputed for
  the second pass rather than persisted (two cheap map-side scans
  beat caching an |src| x |tgt| intermediate at scale).  The final
  assembly broadcasts the |src|-sized aggregate into the target-side
  aggregate.  At symmetric corpus x corpus scale, swap the broadcast
  for banded sign-LSH candidate generation (semantic_decontaminate's
  machinery) and keep the same margin arithmetic.

  `emb=` overrides the default embeddings table (vec_id, embedding) —
  the seam synthetic-hubness tests use."""
  raw = emb if emb is not None else _emb(spark, sf_dir)
  vec = F.transform(F.col('embedding'), lambda x: x.cast('double'))
  is_src = F.pmod(F.col('vec_id'), F.lit(5)) == 1
  src = (raw.where(is_src)
         .select(F.col('vec_id').alias('src_id'), vec.alias('s')))
  tgt = _spread_small_scan(
      raw, raw.where(~is_src)
      .select(F.col('vec_id').alias('tgt_id'), vec.alias('t')))
  # raw cosine staged as its own column (interpreted HOFs get no
  # CSE); cos6 orders, cm carries the exact micro-units, cos4 is the
  # presentation rounding taken from the RAW value — re-rounding the
  # 6dp value to 4dp diverges engines on 4dp half-edges (the
  # hard_negative_mining lesson)
  scored = (tgt.join(F.broadcast(src))
            .select('src_id', 'tgt_id',
                    (_dot(F.col('s'), F.col('t'))
                     / (_norm(F.col('s')) * _norm(F.col('t'))))
                    .alias('cos'))
            .select('src_id', 'tgt_id',
                    F.round('cos', 6).alias('cos6'),
                    F.round(F.round('cos', 6) * 1e6, 0).cast('long')
                    .alias('cm'),
                    F.round('cos', 4).alias('cos4')))

  w_s = Window.partitionBy('src_id').orderBy(F.desc('cos6'), 'tgt_id')
  agg_a = (scored.withColumn('rnk', F.row_number().over(w_s))
           .where(F.col('rnk') <= k)
           .groupBy('src_id')
           .agg(F.max(F.when(F.col('rnk') == 1,
                             F.struct('cos6', 'cm', 'tgt_id',
                                      'cos4')))
                .alias('b'),
                F.sum('cm').alias('sum_a'),
                F.count(F.lit(1)).alias('n_a')))
  w_t = Window.partitionBy('tgt_id').orderBy(F.desc('cos6'), 'src_id')
  agg_b = (scored.withColumn('rnk', F.row_number().over(w_t))
           .where(F.col('rnk') <= k)
           .groupBy('tgt_id')
           .agg(F.max(F.when(F.col('rnk') == 1, F.col('src_id')))
                .alias('best_src'),
                F.sum('cm').alias('sum_b'),
                F.count(F.lit(1)).alias('n_b')))

  j = (agg_b.join(F.broadcast(agg_a),
                  agg_b['tgt_id'] == agg_a['b.tgt_id']))
  den = (F.col('sum_a') * F.col('n_b')
         + F.col('sum_b') * F.col('n_a'))
  num = 2 * F.col('b.cm') * F.col('n_a') * F.col('n_b')
  mined = ((den > 0)
           & (num * F.lit(threshold_den)
              >= F.lit(threshold_num) * den)).cast('int')
  return (j.select('src_id',
                   F.col('b.tgt_id').alias('tgt_id'),
                   F.col('b.cos4').alias('cos_r'),
                   F.when(den > 0,
                          F.round(num.cast('double')
                                  / den.cast('double'), 4))
                   .alias('margin_r'),
                   mined.alias('mined'),
                   (F.col('best_src') == F.col('src_id')).cast('int')
                   .alias('mutual'))
          .orderBy('src_id'))


def pca_train(spark: SparkSession, sf_dir: str, *,
              k: int = 8):
  """PCA basis training over the embedding table — the
  dimensionality-reduction step DataComp-style pipelines run in front
  of ANN / SemDeDup so distance computations pay k dims instead of d.

  The covariance accumulation is EXACT-INTEGER (the lm_score/bitext
  discipline): components are truncated to micro-units
  (CAST(x * 1e6 AS LONG) — truncation, not round, so every engine and
  the python verifier agree trivially), per-row outer products explode
  to (i, j, xi*xj) rows and reduce in ONE word-count-shaped groupBy
  keyed (i, j) — map-side combinable, d² = 4096 output rows
  REGARDLESS of corpus size, sums carried in decimal(38,0)
  (10^12 rows × 1e12-scale products stay far below overflow).  The
  mean sums ride the same explode.  NOT d² aggregate columns (that
  plan dies at codegen) and NOT driver-side vectors.collect().

  The d×d eigendecomposition runs on the DRIVER over the exact
  integer sums (numpy eigh — the bounded-model-collect precedent of
  IVF/PQ codebook training; d is a model constant, never data-sized).
  Eigenvector sign is fixed deterministically (largest-|component|
  entry made positive, first index on ties).

  Returns (means, components, eigvals): means = per-dim float64
  means, components = k rows of float64 eigenvectors (descending
  eigenvalue), eigvals = their variances."""
  import numpy as np
  e = _emb(spark, sf_dir).select('embedding')
  d = len(e.first()['embedding'])
  if not 0 < k <= d:
    raise ValueError(f'k must be in 1..{d}')
  ei = e.select(
      F.expr('transform(embedding, '
             'x -> CAST(CAST(x AS DOUBLE) * 1e6 AS LONG))').alias('v'))
  # (i, j, xi*xj) explode -> one word-count groupBy; pos = i*d + j.
  # The mean sums ride the j = i diagonal's xi via a separate cheap
  # aggregate over the d-row per-dim explode.
  outer = ei.select(F.posexplode(F.expr(
      'flatten(transform(v, x -> transform(v, y -> x * y)))'))
      .alias('pos', 'val'))
  sxx = (outer.groupBy('pos')
         .agg(F.sum(F.col('val').cast('decimal(38,0)')).alias('s'))
         .collect())
  sums = ei.select(F.posexplode('v').alias('i', 'x')) \
      .groupBy('i').agg(F.sum(F.col('x').cast('decimal(38,0)'))
                        .alias('s'),
                        F.count(F.lit(1)).alias('n')).collect()
  n = int(sums[0]['n'])
  sx = [0] * d
  for r in sums:
    sx[int(r['i'])] = int(r['s'])
  sxx_m = [[0] * d for _ in range(d)]
  for r in sxx:
    p = int(r['pos'])
    sxx_m[p // d][p % d] = int(r['s'])
  # cov[i][j] = (n*Sxx - Sx_i*Sx_j) / (n^2 * 1e12): exact integer
  # numerator, one float division at the end
  cov = np.array([[float(n * sxx_m[i][j] - sx[i] * sx[j])
                   for j in range(d)] for i in range(d)],
                 dtype=np.float64) / (float(n) * n * 1e12)
  w, v = np.linalg.eigh(cov)
  order = np.argsort(w)[::-1][:k]
  comps, eigvals = [], []
  for c in order:
    vec = v[:, c].copy()
    pivot = int(np.argmax(np.abs(vec)))
    if vec[pivot] < 0:
      vec = -vec
    comps.append([float(x) for x in vec])
    eigvals.append(float(w[c]))
  means = [sx[i] / (float(n) * 1e6) for i in range(d)]
  return means, comps, eigvals


def pca_project(spark: SparkSession, sf_dir: str, *,
                k: int = 8,
                model=None) -> DataFrame:
  """Project every embedding onto the trained PCA basis:
  (vec_id, label, proj array<double> of length k) with
  proj[c] = Σ_i (x_i − mean_i)·v_c_i evaluated as a PINNED
  left-to-right JVM fold over literal basis arrays (no Python, no
  shuffle — one codegen projection over the scan, pinned by test), so
  the python verifier reproduces every coordinate bit-for-bit.

  `model` short-circuits training (pass the (means, comps, eigvals)
  from pca_train); the basis is a k×d literal baked into the plan —
  the quality_classifier broadcast-model device, d and k are model
  constants."""
  if model is None:
    model = pca_train(spark, sf_dir, k=k)
  means, comps, _ = model
  e = _emb(spark, sf_dir)
  d = len(means)
  mean_sql = ', '.join(repr(m) for m in means)
  projs = []
  for c, vec in enumerate(comps):
    v_sql = ', '.join(repr(x) for x in vec)
    projs.append(F.expr(f"""
      aggregate(sequence(1, {d}), CAST(0.0 AS DOUBLE),
        (acc, i) -> acc + (CAST(element_at(embedding, i) AS DOUBLE)
                           - element_at(array({mean_sql}), i))
                          * element_at(array({v_sql}), i))
    """).alias(f'p{c}'))
  return (e.select('vec_id', 'label', *projs)
          .select('vec_id', 'label',
                  F.array(*[f'p{c}' for c in range(len(comps))])
                  .alias('proj'))
          .orderBy('vec_id'))


# ---------------------------------------------------------------------------
# Distributed full-corpus k-means (Lloyd) — the codebook trainer that
# scales past a driver sample.
# ---------------------------------------------------------------------------

def kmeans_train(spark: SparkSession, sf_dir: str, *,
                 n_cells: int = 16, iters: int = 4,
                 embeddings: DataFrame = None):
  """Distributed spherical k-means over the FULL corpus — the
  100 TB-correct codebook trainer next to the bounded-sample
  `train_ivf_centroids` (which stays as the cheap option; FAISS trains
  IVF coarse quantizers on samples too, but production web-corpus
  clustering — SemDeDup's k-means over every embedding — needs the
  full-pass Lloyd this implements).

  Scale shape (the pca_train discipline, per iteration):
    * assignment is pure codegen against the k×d centroid basis baked
      in as literals (broadcast-model device) — no corpus shuffle, no
      Python, nearest cell = first-argmax of k pinned left-to-right
      dot folds;
    * the update is ONE map-side-combinable groupBy keyed (cell, dim)
      over micro-unit-truncated components (CAST(x·1e6 AS LONG) of the
      L2-normalized double vector — truncation, so every engine and
      the python verifier agree trivially), summed in decimal(38,0):
      k·d bounded output rows REGARDLESS of corpus size (10^12 rows ×
      1e6-scale micro-units stay far below decimal(38) overflow).
      Exact-integer sums are order-independent, so centroids are
      bit-identical under any partitioning or cluster size;
    * the driver touches only the k·d integer sums per iteration
      (model-sized, the IVF/PQ codebook precedent) — never vectors.
  The corpus is re-scanned once per iteration (iters+1 scans total) —
  at 100 TB that is the honest shape (caching the normalized corpus is
  a storage decision, not the operator's).

  Determinism contract: init = the n_cells rows with the smallest
  (xxhash64(vec_id), vec_id) — a hash-spread, engine-replicable seed
  (pure-python replica in scripts/spark_xxhash64.py); centroid update
  c = normalize(Σ micro / (n·1e6)) in float64 with the fold order
  pinned; an EMPTY cell keeps its previous centroid (documented FAISS
  behavior is re-seeding — keeping is deterministic without a second
  data pass).

  Returns (centroids, counts_history): centroids = n_cells unit
  float64 lists; counts_history[t][c] = rows assigned to cell c+1 at
  iteration t."""
  import math
  e = (embeddings if embeddings is not None
       else _emb(spark, sf_dir)).select('vec_id', 'embedding')
  seed_rows = (e.select('vec_id', 'embedding',
                        F.xxhash64('vec_id').alias('h'))
               .orderBy('h', 'vec_id').limit(n_cells).collect())
  if len(seed_rows) < n_cells:
    raise ValueError(f'corpus has fewer rows than n_cells={n_cells}')

  def _unit(xs):
    acc = 0.0
    for x in xs:
      acc = acc + x * x
    nrm = math.sqrt(acc)
    return [x / nrm for x in xs]

  C = [_unit([float(x) for x in r['embedding']]) for r in seed_rows]
  d = len(C[0])

  # staged projections (the pq_topk no-CSE rule): norm, then the
  # normalized vector, then the k dot folds — each alias is referenced
  # many times downstream and interpreted HOFs get no CSE, so the
  # projection boundaries keep every fold evaluated ONCE per row
  vec = F.transform(F.col('embedding'), lambda x: x.cast('double'))
  base = (e.select(vec.alias('v'))
          .select('v', _norm(F.col('v')).alias('nrm'))
          .select(F.transform('v', lambda x: x / F.col('nrm'))
                  .alias('nv')))
  counts_hist = []
  for _ in range(iters):
    dots = F.array(*[
        _dot(F.col('nv'), F.array(*[F.lit(float(w)) for w in c]))
        for c in C])
    staged = base.select('nv', dots.alias('dots')) \
        .select('nv',
                F.array_position(F.col('dots'),
                                 F.array_max(F.col('dots')))
                .alias('cell'))
    mic = F.transform(F.col('nv'),
                      lambda x: (x * F.lit(1e6)).cast('long'))
    agg = (staged.select('cell', F.posexplode(mic).alias('i', 'x'))
           .groupBy('cell', 'i')
           .agg(F.sum(F.col('x').cast('decimal(38,0)')).alias('s'),
                F.count(F.lit(1)).alias('n'))
           .collect())
    sums = {}
    counts = [0] * n_cells
    for r in agg:
      c, i = int(r['cell']) - 1, int(r['i'])
      sums.setdefault(c, [0] * d)[i] = int(r['s'])
      if i == 0:
        counts[c] = int(r['n'])
    for c in range(n_cells):
      if counts[c] > 0:
        mean = [sums[c][i] / (counts[c] * 1e6) for i in range(d)]
        C[c] = _unit(mean)
    counts_hist.append(counts)
  return C, counts_hist


def kmeans_assign(spark: SparkSession, sf_dir: str, *,
                  model=None) -> DataFrame:
  """Final-model cell assignment for every vector: (vec_id, label,
  cell, cos_r) where cell is the first-argmax nearest trained centroid
  and cos_r the round-6 cosine to it (vectors are unit-normalized, so
  the pinned dot fold IS the cosine).  One codegen projection over the
  scan — zero shuffle, zero Python (pinned by test); the k×d model is
  literal-baked exactly like pca_project.  Without a `model`, trains
  kmeans_train's default model first."""
  if model is None:
    model, _ = kmeans_train(spark, sf_dir)
  e = _emb(spark, sf_dir)
  vec = F.transform(F.col('embedding'), lambda x: x.cast('double'))
  base = (e.select('vec_id', 'label', vec.alias('v'))
          .select('vec_id', 'label', 'v',
                  _norm(F.col('v')).alias('nrm'))
          .select('vec_id', 'label',
                  F.transform('v', lambda x: x / F.col('nrm'))
                  .alias('nv')))
  dots = F.array(*[
      _dot(F.col('nv'), F.array(*[F.lit(float(w)) for w in c]))
      for c in model])
  return (base.select('vec_id', 'label', dots.alias('dots'))
          .select('vec_id', 'label',
                  F.array_position(F.col('dots'),
                                   F.array_max(F.col('dots')))
                  .cast('int').alias('cell'),
                  F.round(F.element_at(
                      F.col('dots'),
                      F.array_position(F.col('dots'),
                                       F.array_max(F.col('dots')))
                      .cast('int')), 6).alias('cos_r'))
          .orderBy('vec_id'))


def ann_eval(spark: SparkSession, sf_dir: str, *,
             bands: int = 2,
             embeddings: DataFrame = None,
             materialize: bool = True) -> DataFrame:
  """Retrieval-quality evaluation of the banded sign-LSH index against
  exact ground truth — the recall@k / reciprocal-rank report every ANN
  deployment runs before trusting an index (the measurement protocol of
  ann-benchmarks / Aumüller et al. 2020): ground truth is the exact
  cosine top-k per query, the index answer is the LSH bucket probe
  (ann_topk_lsh's machinery, multi-query), and the metrics are their
  per-query set overlap.

  k = 10 and the 8 sign planes of ann_topk_lsh, in `bands` bands.
  Query sample = `vec_id % 29 == 0` (a real deployment passes
  its held-out query table; the seam is the WHERE clause).  Ground
  truth over a SAMPLED query set is exactly how production ANN eval
  works at corpus scale — the exact top-k is per-query brute force,
  affordable precisely because the query dimension is bounded.

  Scale shape: the query slice is a bounded dimension BROADCAST
  against the corpus scan for BOTH sides (ground-truth scoring is one
  cosine fold per (row, query) map-side; candidate generation
  broadcasts the queries' bucket ids into the bucket-exploded corpus —
  term-pushdown, the corpus never shuffles for candidates); both
  per-query top-k passes are rank windows whose `rnk <= k` filter
  pushes down as WindowGroupLimit on both sides of the exchange
  (map-side partial top-k — the hard_negative_mining discipline), so
  each shuffle carries at most k·partitions rows per query, never the
  scored corpus.  The metric aggregation then runs on k-bounded
  per-query groups.

  Determinism: ordering key = (round(cos, 6) DESC, vec_id) everywhere,
  so ground truth, index answer and every derived integer are
  reproducible bit-for-bit; all metric columns are exact integers.

  The two k·queries-bounded top-k frames are localCheckpointed
  (default `materialize=True`): the metric joins consume each from
  two branches, and without the checkpoint every consumer re-runs the
  corpus-scoring subtree (the build_postings / cluster_topics
  double-scan lesson).  `materialize=False` keeps the lazy plan for
  composition and plan inspection.

  Returns one row per query: (q_id, n_gt [= |exact top-k|, < k only
  when the corpus is smaller], n_ann [= |index answer|, < k when the
  probed buckets are thin — the recall/speed tradeoff made visible],
  n_hit [= |intersection|], nn_rank [the index's rank of the TRUE
  nearest neighbour, NULL when the index missed it — the
  reciprocal-rank numerator])."""
  e = (embeddings if embeddings is not None
       else _emb(spark, sf_dir)).select('vec_id', 'embedding')
  vec = F.transform(F.col('embedding'), lambda x: x.cast('double'))
  probe = _spread_small_scan(
      e, e.select('vec_id', vec.alias('v')))
  qs = (e.where(F.pmod(F.col('vec_id'), F.lit(29)) == 0)
        .select(F.col('vec_id').alias('q_id'), vec.alias('q')))

  # ground truth: exact cosine per (row, query), per-query top-k —
  # the brute pass is the eval's irreducible exactness cost.  The
  # k·queries-bounded result is localCheckpointed: the metric joins
  # below consume it from 2 branches, and without the checkpoint each
  # consumer re-runs the whole corpus-scoring subtree (the
  # build_postings / cluster_topics double-scan lesson).
  cos6 = F.round(_dot(F.col('v'), F.col('q'))
                 / (_norm(F.col('v')) * _norm(F.col('q'))), 6)
  scored = (probe.crossJoin(F.broadcast(qs))
            .where(F.col('vec_id') != F.col('q_id'))
            .select('q_id', 'vec_id', cos6.alias('cos6')))
  w = Window.partitionBy('q_id').orderBy(F.desc('cos6'), 'vec_id')
  gt = (scored.withColumn('rnk', F.row_number().over(w))
        .where(F.col('rnk') <= 10))
  if materialize:
    gt = gt.localCheckpoint(eager=True)

  # index answer: probe the queries' buckets, then compute the exact
  # cosine ONLY for the candidates — the candidate join runs BELOW
  # the scoring projection, so the index path pays bucket-fraction
  # cost, never the brute-force product (that is the point of the
  # index; joining candidates onto the pre-scored cross join would
  # silently re-pay it)
  band_cols = _banded_bucket_cols(F.col('v'), 8, bands)
  stacked = probe.select(
      'vec_id', 'v', F.explode(F.array(*band_cols)).alias('bucket'))
  qb = (stacked.join(F.broadcast(qs.select('q_id')),
                     F.col('vec_id') == F.col('q_id'))
        .select('q_id', 'bucket'))
  # the vector rides the bucket join, so scoring stays map-side on
  # the corpus scan (no corpus shuffle, no join back for vectors); a
  # pair colliding in several bands is scored <= bands times and
  # deduplicated by a CANDIDATE-sized groupBy (max of identical
  # values) — the only shuffles on this path carry bucket-fraction
  # row counts
  ann = (stacked.join(F.broadcast(qb), 'bucket')
         .where(F.col('vec_id') != F.col('q_id'))
         .join(F.broadcast(qs), 'q_id')
         .select('q_id', 'vec_id', cos6.alias('cos6'))
         .groupBy('q_id', 'vec_id')
         .agg(F.max('cos6').alias('cos6'))
         .withColumn('ann_rnk', F.row_number().over(w))
         .where(F.col('ann_rnk') <= 10))
  if materialize:
    ann = ann.localCheckpoint(eager=True)

  g = gt.groupBy('q_id').agg(F.count(F.lit(1)).alias('n_gt'))
  a = ann.groupBy('q_id').agg(F.count(F.lit(1)).alias('n_ann'))
  h = (gt.select('q_id', 'vec_id', 'rnk')
       .join(ann.select('q_id', 'vec_id', 'ann_rnk'),
             ['q_id', 'vec_id'])
       .groupBy('q_id')
       .agg(F.count(F.lit(1)).alias('n_hit'),
            F.min(F.when(F.col('rnk') == 1, F.col('ann_rnk')))
            .cast('int').alias('nn_rank')))
  return (g.join(a, 'q_id', 'left').join(h, 'q_id', 'left')
          .select('q_id',
                  F.col('n_gt').cast('long'),
                  F.coalesce('n_ann', F.lit(0)).cast('long')
                  .alias('n_ann'),
                  F.coalesce('n_hit', F.lit(0)).cast('long')
                  .alias('n_hit'),
                  'nn_rank')
          .orderBy('q_id'))


def cluster_topics(spark: SparkSession, sf_dir: str, *,
                   assignments: DataFrame = None) -> DataFrame:
  """Cluster labeling — the inspection report every embedding-cluster
  pipeline (SemDeDup, Dolma's quality clusters, topic-balanced
  sampling) produces before trusting its cells: for each k-means cell,
  the top 5 most frequent non-stopword terms of its member
  documents, with global context per term (corpus-wide count and how
  many cells surface it — a term appearing in every cell is corpus
  boilerplate, not a topic).

  Composition: `kmeans_assign` supplies (vec_id, cell) — the verified
  full-corpus Lloyd assignment — and vec_id joins doc_id 1:1 (the
  embeddings table is the documents table's embedding column, same
  key domain; bucketed-store co-locatable).

  Scale shape: one doc_id equi-join, one map-side-combinable groupBy
  keyed (cell, term) — the word-count shape, hot terms absorbed in
  partial aggregation — then the per-cell top-k is a rank window
  whose rnk <= 5 filter pushes down as WindowGroupLimit on both
  exchange sides.  The global-context rollup reads the (cell, term)
  frame, NOT the corpus (localCheckpointed first: two aggregation
  trees over one subtree otherwise re-run the corpus scan twice — the
  build_postings lesson).  Determinism: (count DESC, term ASC)
  everywhere.

  Returns (cell, rnk, term, n_in_cell, n_global, n_cells_with)."""
  from blueprint_oss_spark.ops.textops import STOPWORDS_EN
  a = (assignments if assignments is not None
       else kmeans_assign(spark, sf_dir)) \
      .select(F.col('vec_id').alias('doc_id'), 'cell')
  d = documents(spark, sf_dir) \
      .select('doc_id', 'text')
  toks = F.filter(
      words('text'),
      lambda x: ~F.array_contains(
          F.array(*[F.lit(s) for s in STOPWORDS_EN]), x))
  tc = (d.join(a, 'doc_id')
        .select('cell', F.explode(toks).alias('term'))
        .groupBy('cell', 'term')
        .agg(F.count(F.lit(1)).alias('n_in_cell'))
        .localCheckpoint(eager=True))
  w = Window.partitionBy('cell').orderBy(F.desc('n_in_cell'), 'term')
  top = (tc.withColumn('rnk', F.row_number().over(w))
         .where(F.col('rnk') <= 5))
  ctx = (tc.groupBy('term')
         .agg(F.sum('n_in_cell').cast('long').alias('n_global'),
              F.count(F.lit(1)).cast('long').alias('n_cells_with')))
  return (top.join(ctx, 'term')
          .select('cell', 'rnk', 'term',
                  F.col('n_in_cell').cast('long').alias('n_in_cell'),
                  'n_global', 'n_cells_with')
          .orderBy('cell', 'rnk'))
