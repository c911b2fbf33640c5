#!/usr/bin/env python
"""Build + verify the committed snapshot oracles (oracles/*.parquet).

The driver's hard correctness gate compares each queries() entry against
DuckDB SQL.  Blueprint extraction and the xxhash64-based similarity ops
have no from-scratch DuckDB formulation, so their oracles are SNAPSHOT
parquet files — but a snapshot is only as good as its verification, so
every file this script writes is checked against an INDEPENDENT source
first:

  bp_extract_{readme,labelvalue,table,multipage,adversarial}
      per-document against the reference engine itself (exhaustive
      num_samples=-1 solve via tests/refshim); score equality to 1e-9
      and out-span membership in the reference's tied-best set.
  bp_extract_paystubs
      reference flagship model at its production config
      (Config(num_samples=100), examples/paystubs/paystubs.py:790) on a
      subset (the reference needs ~22 s/doc): our global best must
      dominate the reference's best-of-100, with span equality on ties.
      Full-model parity is additionally covered by
      tests/test_paystubs_parity.py.
  minhash_pairs
      duplicate-closure (identical-text pairs MUST collide — identical
      signatures band together) + independently recomputed pure-Python
      3-gram Jaccard per reported pair + double-run determinism.
  simhash64
      identical-text docs must share a simhash; mean hamming distance
      over random non-dup pairs must stay near 32 bits; determinism.
  ann_topk_lsh
      every reported cosine re-checked against exact numpy to 5e-5.
  dedup_groups_minhash
      the 100 TB dedup path: pure-python xxhash64 minhash edges +
      union-find connected components, per-doc equality.
  media_features_phash
      features recomputed analytically from the generator formulas;
      perceptual hashes recomputed by an independent plain-python
      integer implementation.
  extraction_accuracy
      per-field accuracy recomputed in Python from the (reference-
      verified) labelvalue extraction output.

Usage: python scripts/build_oracles.py [--sf-dir /root/testdata/sf0.01]
Writes oracles/<query>.parquet + oracles/MANIFEST.json.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time
from pathlib import Path

_SCRIPTS = Path(__file__).resolve().parent
sys.path.insert(0, str(_SCRIPTS.parent))
sys.path.insert(0, str(_SCRIPTS))

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ORACLE_DIR = '/root/repo/oracles'


def _spans_tuples(out_spans_json: str):
  return [(s['kind'], s['text'], s['media_ref'], s['order'])
          for s in json.loads(out_spans_json)]


def verify_bp_extract(corpus: str, sf_dir: str, pdf) -> dict:
  from __spark_entry__ import _n_docs_for
  from blueprint_oss_spark.fixtures import ALL_CORPORA
  from tests.refshim import REF_BLUEPRINTS, reference_best_set

  docs = dict(ALL_CORPORA[corpus][0](_n_docs_for(sf_dir)))
  root = REF_BLUEPRINTS[corpus]()
  assert len(pdf) == len(docs), (len(pdf), len(docs))
  ties = 0
  for row in pdf.itertuples():
    rf, rs, outs = reference_best_set(row.doc_id, docs[row.doc_id], root)
    assert abs(row.score - round(rs, 9)) <= 1e-9, \
        (corpus, row.doc_id, row.score, rs)
    ours = _spans_tuples(row.out_spans_json)
    ref_outs = [[tuple(s) for s in o] for o in outs]
    assert ours in ref_outs, (corpus, row.doc_id)
    ties += len(outs) > 1
  return {'method': 'reference engine, exhaustive solve, per-doc',
          'docs_verified': len(pdf), 'tied_docs': ties}


def verify_bp_extract_flagship(sf_dir: str, pdf, subset: int,
                               corpus_fn, example_path: str) -> dict:
  from __spark_entry__ import _n_docs_for
  from tests.refshim import load_reference_example, reference_best_set

  n = max(30, _n_docs_for(sf_dir, base=120))
  docs = dict(corpus_fn(n))
  assert len(pdf) == len(docs), (len(pdf), len(docs))
  ns = load_reference_example(example_path)
  checked = agreed = 0
  # deterministic EVENLY-STRIDED sample across the doc_id-ordered
  # corpus (not the first `subset` rows): every vendor template /
  # long-tail region of the fixture generator gets coverage
  rows = list(pdf.itertuples())
  stride = max(1, len(rows) // max(1, subset))
  for row in rows[::stride]:
    if checked >= subset:
      break
    rf, rs, outs = reference_best_set(row.doc_id, docs[row.doc_id],
                                      ns['root'], num_samples=100)
    # Our solver returns the global argmax; the reference pumps 100
    # samples best-first — our score must dominate, and when it agrees
    # AND the reference's optimum is untied, the extraction must match.
    assert row.score >= round(rs, 9) - 1e-9, (row.doc_id, row.score, rs)
    if abs(row.score - round(rs, 9)) <= 1e-9:
      agreed += 1
      if len(outs) == 1:
        assert dict(json.loads(row.fields_json)) == rf, \
            (row.doc_id, row.fields_json, rf)
    checked += 1
  return {'method': 'reference flagship @ num_samples=100, dominance',
          'docs_verified': checked, 'docs_total': len(pdf),
          'score_agreed': agreed,
          'note': 'full-model parity: tests/test_paystubs_parity.py / '
                  'tests/test_checks.py'}


def _tokens(text: str):
  return [t for t in text.split(' ') if t]


def _jaccard3(ta, tb) -> float:
  sa = {' '.join(ta[i:i + 3]) for i in range(max(0, len(ta) - 2))}
  sb = {' '.join(tb[i:i + 3]) for i in range(max(0, len(tb) - 2))}
  return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


def _minhash_python_features(text: dict, n_hashes=16, shingle=3,
                             bands=4):
  """FULL independent recomputation of the minhash path with the
  pure-Python Spark-xxhash64 replica (scripts/spark_xxhash64.py):
  per-doc signatures + distinct shingle sets + banded candidate
  pairs."""
  from spark_xxhash64 import spark_xxhash64
  rows_per_band = n_hashes // bands
  buckets: dict = {}
  sigs: dict = {}
  shsets: dict = {}
  for d, t in text.items():
    toks = [w for w in t.split(' ') if w]
    if len(toks) < shingle:
      continue
    shingles = [' '.join(toks[i:i + shingle])
                for i in range(len(toks) - shingle + 1)]
    sig = [min(spark_xxhash64(sh, ('int', seed)) for sh in shingles)
           for seed in range(1, n_hashes + 1)]
    sigs[d], shsets[d] = sig, set(shingles)
    for b in range(bands):
      parts = sig[b * rows_per_band:(b + 1) * rows_per_band]
      bucket = spark_xxhash64(*[('long', p) for p in parts],
                              ('int', 1000 + b))
      buckets.setdefault(bucket, set()).add(d)
  pairs = set()
  for ds in buckets.values():
    ds = sorted(ds)
    for i, a in enumerate(ds):
      for b in ds[i + 1:]:
        pairs.add((a, b))
  return sigs, shsets, pairs


def _minhash_pairs_python(text: dict, n_hashes=16, shingle=3, bands=4):
  return _minhash_python_features(text, n_hashes, shingle, bands)[2]


def verify_minhash(sf_dir: str, pdf, pdf2) -> dict:
  import pandas as pd
  docs = pq.read_table(f'{sf_dir}/documents.parquet') \
      .select(['doc_id', 'text']).to_pandas()
  text = dict(zip(docs.doc_id, docs.text))
  assert pdf.equals(pdf2), 'minhash_pairs not deterministic'
  sigs, shsets, expect = _minhash_python_features(text)
  got = {(a, b) for a, b in zip(pdf.doc_a, pdf.doc_b)}
  assert got == expect, (
      f'python recomputation mismatch: missing={expect - got} '
      f'extra={got - expect}')
  # calibration columns: every cell recomputed from the python
  # signatures and distinct shingle sets
  for r in pdf.itertuples():
    est = sum(x == y for x, y in zip(sigs[r.doc_a], sigs[r.doc_b]))
    inter = len(shsets[r.doc_a] & shsets[r.doc_b])
    uni = len(shsets[r.doc_a] | shsets[r.doc_b])
    assert (est, inter, uni) == (r.est_match, r.inter, r.uni), \
        (r.doc_a, r.doc_b, (est, inter, uni),
         (r.est_match, r.inter, r.uni))
  # duplicate closure: identical text => identical signature => banded
  by_md5: dict = {}
  for d, t in text.items():
    by_md5.setdefault(hashlib.md5(t.encode()).hexdigest(), []).append(d)
  pairs = {(a, b) for a, b in zip(pdf.doc_a, pdf.doc_b)}
  dup_pairs = {(min(a, b), max(a, b))
               for ds in by_md5.values() if len(ds) > 1
               for i, a in enumerate(ds) for b in ds[i + 1:]}
  missing = dup_pairs - pairs
  assert not missing, f'exact dups missing from minhash pairs: {missing}'
  jac = [_jaccard3(_tokens(text[a]), _tokens(text[b]))
         for a, b in sorted(pairs)]
  assert not jac or min(jac) >= 0.05, f'implausibly low jaccard {min(jac)}'
  return {'method': 'FULL pure-python xxhash64 recomputation (pairs + '
                    'per-pair est_match/inter/uni calibration cells) '
                    '+ dup-closure + 3-gram jaccard + determinism',
          'pairs': len(pairs), 'exact_dup_pairs': len(dup_pairs),
          'jaccard_min': round(min(jac), 4) if jac else None,
          'jaccard_median': round(float(np.median(jac)), 4) if jac
          else None}


def _simhash_python(t: str) -> int:
  from spark_xxhash64 import spark_xxhash64
  votes = [0] * 64
  for tok in (w for w in t.split(' ') if w):
    h = spark_xxhash64(tok)
    for i in range(64):
      votes[i] += 1 if (h >> i) & 1 else -1
  out = 0
  for i in range(64):
    if votes[i] > 0:
      out += (1 << i) if i < 63 else -(1 << 63)
  return out


def verify_simhash(sf_dir: str, pdf, pdf2) -> dict:
  docs = pq.read_table(f'{sf_dir}/documents.parquet') \
      .select(['doc_id', 'text']).to_pandas()
  text = dict(zip(docs.doc_id, docs.text))
  assert pdf.equals(pdf2), 'simhash64 not deterministic'
  sim = dict(zip(pdf.doc_id, pdf.simhash))
  for d, s_ in sim.items():
    assert int(s_) == _simhash_python(text[d]), \
        f'python simhash recomputation mismatch for {d}'
  by_md5: dict = {}
  for d, t in text.items():
    by_md5.setdefault(hashlib.md5(t.encode()).hexdigest(), []).append(d)
  for ds in by_md5.values():
    assert len({sim[d] for d in ds}) == 1, f'dup docs w/ diff simhash {ds}'
  ids = sorted(sim)
  rng = np.random.default_rng(7)
  ham = []
  for _ in range(500):
    a, b = rng.choice(len(ids), size=2, replace=False)
    if text[ids[a]] != text[ids[b]]:
      x = np.uint64(sim[ids[a]] & 0xFFFFFFFFFFFFFFFF) \
          ^ np.uint64(sim[ids[b]] & 0xFFFFFFFFFFFFFFFF)
      ham.append(bin(int(x)).count('1'))
  mean_ham = float(np.mean(ham))
  # Same-domain docs share vocabulary, so the mean sits below the 32-bit
  # independence point (≈19 on this corpus); the check is against
  # DEGENERACY (a collapsed/constant hash ≈ 0), not independence.
  assert mean_ham > 10, f'random-pair hamming degenerate: {mean_ham}'
  return {'method': 'FULL pure-python xxhash64 recomputation + '
                    'dup-equality + hamming + determinism',
          'rows': len(pdf), 'mean_random_hamming': round(mean_ham, 2)}


def _lsh_band_buckets_python(vec, n_planes: int, bands: int):
  """Replicates ops/vectors._banded_bucket_cols with the pure-python
  Spark-xxhash64 replica: weight_d = (pmod(xxhash64(d, plane), 2000)
  - 1000)/1000, projection = left-to-right float64 fold (same order as
  F.aggregate, hence bit-equal signs)."""
  from spark_xxhash64 import spark_xxhash64
  planes_per_band = n_planes // bands
  out = []
  for b in range(bands):
    bucket = b * (1 << planes_per_band)
    for j in range(planes_per_band):
      plane = b * planes_per_band + j
      proj = 0.0
      for d, x in enumerate(vec):
        w = (spark_xxhash64(('int', d), ('int', plane)) % 2000
             + 2000) % 2000
        proj += float(x) * ((w - 1000) / 1000.0)
      if proj >= 0:
        bucket += 1 << j
    out.append(bucket)
  return out


def verify_ann_topk(sf_dir: str, pdf, query_vec_id: int = 0,
                    full_lsh: bool = False) -> dict:
  t = pq.read_table(f'{sf_dir}/embeddings.parquet').to_pandas()
  E = {int(v): np.asarray(e, dtype=np.float64)
       for v, e in zip(t.vec_id, t.embedding)}
  q = E[query_vec_id]
  for row in pdf.itertuples():
    v = E[int(row.vec_id)]
    cos = float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
    assert abs(row.cosine_r - round(cos, 4)) <= 5e-5, \
        (row.vec_id, row.cosine_r, cos)
  rec = {'method': 'exact numpy cosine per reported row',
         'rows': len(pdf)}
  if full_lsh:
    # FULL recomputation: rebuild the banded buckets with the
    # pure-python xxhash64 replica, probe the query's buckets, take
    # the same round-then-sort top-k
    buckets = {v: set(_lsh_band_buckets_python(E[v], 8, 2)) for v in E}
    qb = buckets[query_vec_id]
    cand = [v for v in E if v != query_vec_id and buckets[v] & qb]
    scored = sorted(
        ((round(float(E[v] @ q
                      / (np.linalg.norm(E[v]) * np.linalg.norm(q))), 6),
          v) for v in cand),
        key=lambda cv: (-cv[0], cv[1]))[:10]
    expect = [(v, round(c, 4)) for c, v in scored]
    got = [(int(r.vec_id), float(r.cosine_r)) for r in pdf.itertuples()]
    assert got == expect, (got, expect)
    rec['method'] = ('FULL pure-python xxhash64 bucket recomputation '
                     '+ exact numpy cosine top-k')
  return rec


def verify_pq_topk(sf_dir: str, pdf, query_vec_id: int = 0) -> dict:
  """FULL sequential pure-python recomputation of the PQ pipeline:
  codebooks from the same deterministic trainer (seeded numpy k-means),
  then normalization / per-subspace encoding / ADC lookup-table scoring
  / shortlist / exact-cosine refine all re-done with left-to-right
  float64 folds matching F.aggregate's evaluation order, ending in the
  same round-then-sort top-k.  Exact equality required."""
  from blueprint_oss_spark.ops.vectors import train_pq_codebooks
  m, ksub, shortlist, k = 8, 16, 40, 10
  t = pq.read_table(f'{sf_dir}/embeddings.parquet').to_pandas()
  ids = [int(v) for v in t.vec_id]
  sample = np.array([np.asarray(e, dtype=np.float64)
                     for e in t.embedding])
  B = train_pq_codebooks(sample, m=m, ksub=ksub)
  dsub = B.shape[2]

  def seq_norm(v):
    s = 0.0
    for x in v:
      s += float(x) * float(x)
    return s ** 0.5

  def encode(v):
    n = seq_norm(v)
    nv = [float(x) / n for x in v]
    codes = []
    for j in range(m):
      best_c, best_d = 0, None
      for c in range(ksub):
        d = 0.0
        for i in range(dsub):
          diff = nv[j * dsub + i] - float(B[j, c, i])
          d += diff * diff
        if best_d is None or d < best_d:
          best_c, best_d = c, d
      codes.append(best_c)
    return codes

  E = {i: np.asarray(e, dtype=np.float64)
       for i, e in zip(ids, t.embedding)}
  q = E[query_vec_id]
  qn = q / np.linalg.norm(q)
  lut = [[sum((float(qn[j * dsub + i]) - float(B[j, c, i])) ** 2
              for i in range(dsub)) for c in range(ksub)]
         for j in range(m)]
  adc = {}
  for i in ids:
    if i == query_vec_id:
      continue
    codes = encode(E[i])
    s = 0.0
    for j in range(m):
      s += lut[j][codes[j]]
    adc[i] = round(s, 6)
  short = sorted(adc, key=lambda i: (adc[i], i))[:shortlist]
  scored = sorted(
      ((round(float(E[i] @ q
                    / (np.linalg.norm(E[i]) * np.linalg.norm(q))), 6),
        i) for i in short),
      key=lambda ci: (-ci[0], ci[1]))[:k]
  expect = [(i, round(c, 4)) for c, i in scored]
  got = [(int(r.vec_id), float(r.cosine_r)) for r in pdf.itertuples()]
  assert got == expect, (got, expect)
  return {'method': 'FULL sequential pure-python PQ recomputation '
                    '(encode + ADC + shortlist + exact refine)',
          'rows': len(pdf)}


def _fold_cos(a, b) -> float:
  """Cosine with left-to-right float64 folds matching F.aggregate's
  evaluation order (ops/vectors._dot/_norm), hence bit-equal."""
  d = na = nb = 0.0
  for x, y in zip(a, b):
    d += x * y
  for x in a:
    na += x * x
  for y in b:
    nb += y * y
  return d / (na ** 0.5 * nb ** 0.5)


def _cell_python(v, C) -> int:
  """Replicates ops/vectors' IVF cell assignment: norm and per-centroid
  dots as left-to-right float64 folds, cell = 1-based FIRST-max
  position (F.array_position semantics)."""
  s = 0.0
  for x in v:
    s += x * x
  nrm = s ** 0.5
  nv = [x / nrm for x in v]
  dots = []
  for c in C:
    d = 0.0
    for x, w in zip(nv, c):
      d += x * float(w)
    dots.append(d)
  return dots.index(max(dots)) + 1


def _cell_cos_python(v, C):
  """(cell, cos_c) replica of ops/vectors._assign_cells: fold-order
  norm + per-centroid dots, cell = 1-based FIRST-max position, cos_c =
  the max dot rounded to 6 (both vectors unit, so dot == cosine)."""
  s = 0.0
  for x in v:
    s += x * x
  nrm = s ** 0.5
  nv = [x / nrm for x in v]
  dots = []
  for c in C:
    d = 0.0
    for x, w in zip(nv, c):
      d += x * float(w)
    dots.append(d)
  m = max(dots)
  return dots.index(m) + 1, round(m, 6)


def verify_cluster_select(sf_dir: str, pdf, *, n_cells: int = 16,
                          per_cell: int = 20) -> dict:
  """FULL pure-python recomputation of cluster_balanced_select (the
  cell/cos_c/cell_rank/selected columns of the merged semantic_dedup
  gate frame): same seeded trainer, fold-order cell assignment and
  prototype cosine, per-cell rank by (cos_c asc, vec_id).  Planted
  rows (vec_id >= 1e6 — semantic_dedup's verification universe) must
  carry NULLs: selection runs on the production table only."""
  from blueprint_oss_spark.ops.vectors import train_ivf_centroids
  E = _read_embeddings(sf_dir)
  sample = np.array([E[i] for i in E])
  C = train_ivf_centroids(sample, n_cells)
  bycell: dict = {}
  for i in sorted(E):
    cell, cos6 = _cell_cos_python(E[i], C)
    bycell.setdefault(cell, []).append((cos6, i))
  expect = {}
  for cell, ms in bycell.items():
    for rank, (cos6, i) in enumerate(sorted(ms), 1):
      expect[i] = (cell, cos6, rank, 1 if rank <= per_cell else 0)
  n_checked = n_null = 0
  for r in pdf.itertuples():
    i = int(r.vec_id)
    if i >= 1_000_000:
      assert pd.isna(r.cell) and pd.isna(r.cell_rank), (i, r)
      n_null += 1
      continue
    got = (int(r.cell), float(r.cos_c), int(r.cell_rank),
           int(r.selected))
    assert got == expect[i], (i, got, expect[i])
    n_checked += 1
  assert n_checked == len(expect), (n_checked, len(expect))
  n_sel = sum(1 for v in expect.values() if v[3])
  assert 0 < n_sel < len(expect), n_sel
  return {'method': 'FULL pure-python recomputation (seeded trainer + '
                    'fold-order prototype cosine + per-cell rank)',
          'rows_checked': n_checked, 'planted_nulls': n_null,
          'n_selected': n_sel}


def _read_embeddings(sf_dir: str):
  t = pq.read_table(f'{sf_dir}/embeddings.parquet').to_pandas()
  return {int(i): [float(x) for x in np.asarray(e, dtype=np.float64)]
          for i, e in zip(t.vec_id, t.embedding)}


def verify_ivf_topk(sf_dir: str, pdf, query_vec_id: int = 0,
                    k: int = 10, n_cells: int = 16,
                    nprobe: int = 4) -> dict:
  """FULL sequential pure-python IVF recomputation: same seeded
  trainer, fold-order cell assignment, same numpy probe selection,
  fold-order cosine inside the probed cells, round-then-sort top-k."""
  from blueprint_oss_spark.ops.vectors import train_ivf_centroids
  E = _read_embeddings(sf_dir)
  sample = np.array([E[i] for i in E])
  C = train_ivf_centroids(sample, n_cells)
  cells = {i: _cell_python(E[i], C) for i in E}
  q = np.asarray(E[query_vec_id])
  qn = q / np.linalg.norm(q)
  probe = [int(c) + 1 for c in np.argsort(-(C @ qn))[:nprobe]]
  cand = [i for i in E if cells[i] in probe and i != query_vec_id]
  scored = sorted(
      ((round(_fold_cos(E[i], E[query_vec_id]), 6), i) for i in cand),
      key=lambda cv: (-cv[0], cv[1]))[:k]
  expect = [(i, round(c, 4)) for c, i in scored]
  got = [(int(r.vec_id), float(r.cosine_r)) for r in pdf.itertuples()]
  assert got == expect, (got, expect)
  return {'method': 'FULL pure-python IVF recomputation (seeded '
                    'trainer + fold-order cells/cosine + probe + '
                    'top-k)', 'rows': len(pdf)}


def verify_ann_topk_methods(sf_dir: str, pdf) -> dict:
  """The merged ANN gate row: each method slice re-verified by its own
  FULL pure-python recomputation."""
  def sl(m):
    return pdf[pdf.method == m][['vec_id', 'cosine_r']] \
        .reset_index(drop=True)
  rec_l = verify_ann_topk(sf_dir, sl('lsh'), full_lsh=True)
  rec_i = verify_ivf_topk(sf_dir, sl('ivf'))
  rec_p = verify_pq_topk(sf_dir, sl('pq'))
  return {'method': f"lsh: {rec_l['method']}; ivf: {rec_i['method']}; "
                    f"pq: {rec_p['method']}"}


def verify_ann_eval(sf_dir: str, pdf, *, query_mod: int = 29,
                    k: int = 10, n_planes: int = 8,
                    bands: int = 2) -> dict:
  """FULL pure-python recomputation of the ANN retrieval eval
  (ops/vectors.ann_eval): exact ground-truth top-k per sampled query
  (numpy cosine, round-6-then-sort with vec_id tie-break), the LSH
  index answer via the xxhash64 bucket replica, and every derived
  integer (n_gt / n_ann / n_hit / nn_rank) asserted per query."""
  from decimal import Decimal, ROUND_HALF_UP
  q6 = Decimal('0.000001')

  def r6(x):
    # Spark F.round = BigDecimal HALF_UP over the shortest decimal
    # repr — python round() is half-even over the binary value and
    # diverges on half-edges (the verify_kmeans/verify_pca replica)
    return float(Decimal(repr(float(x))).quantize(q6, ROUND_HALF_UP))

  t = pq.read_table(f'{sf_dir}/embeddings.parquet').to_pandas()
  E = {int(v): np.asarray(e, dtype=np.float64)
       for v, e in zip(t.vec_id, t.embedding)}
  B = {v: set(_lsh_band_buckets_python(E[v], n_planes, bands))
       for v in E}
  exp = {}
  for q in sorted(E):
    if q % query_mod != 0:
      continue
    qv = E[q]
    cos = {v: r6(E[v] @ qv / (np.linalg.norm(E[v])
                              * np.linalg.norm(qv)))
           for v in E if v != q}
    order = sorted(cos, key=lambda v: (-cos[v], v))
    gt = order[:k]
    ann = [v for v in order if B[v] & B[q]][:k]
    ann_rank = {v: i + 1 for i, v in enumerate(ann)}
    exp[q] = (len(gt), len(ann), len(set(gt) & set(ann)),
              ann_rank.get(gt[0]))
  got = {int(r.q_id): (int(r.n_gt), int(r.n_ann), int(r.n_hit),
                       None if pd.isna(r.nn_rank) else int(r.nn_rank))
         for r in pdf.itertuples()}
  diff = next(((qq, got.get(qq), exp.get(qq))
               for qq in sorted(set(exp) | set(got))
               if got.get(qq) != exp.get(qq)), None)
  assert got == exp, f'ann_eval mismatch: first diff {diff}'
  n_hit = sum(v[2] for v in exp.values())
  n_gt = sum(v[0] for v in exp.values())
  return {'method': 'FULL python recomputation: xxhash64 bucket '
                    'replica + exact round-then-sort top-k both sides',
          'queries': len(exp), 'recall_at_k': f'{n_hit}/{n_gt}'}


def verify_pca(sf_dir: str, pdf, k: int = 8) -> dict:
  """FULL pure-python PCA recomputation: exact-integer covariance
  sums (truncated micro-units), numpy eigh on the identical float64
  matrix, deterministic sign fix, pinned left-to-right projection
  fold, and Spark-HALF_UP round-6 presentation (BigDecimal.valueOf
  semantics mirrored with Decimal(repr(x)))."""
  from decimal import Decimal, ROUND_HALF_UP
  tb = pq.read_table(f'{sf_dir}/embeddings.parquet').to_pandas()
  d = len(tb.embedding[0])
  n = len(tb)
  vi = [[int(float(x) * 1e6) for x in e] for e in tb.embedding]
  sx = [sum(v[i] for v in vi) for i in range(d)]
  sxx = [[sum(v[i] * v[j] for v in vi) for j in range(d)]
         for i in range(d)]
  cov = np.array([[float(n * sxx[i][j] - sx[i] * sx[j])
                   for j in range(d)] for i in range(d)]) \
      / (float(n) * n * 1e12)
  w, v = np.linalg.eigh(cov)
  order = np.argsort(w)[::-1][:k]
  comps = []
  for c in order:
    vec = v[:, c].copy()
    piv = int(np.argmax(np.abs(vec)))
    if vec[piv] < 0:
      vec = -vec
    comps.append([float(x) for x in vec])
  means = [sx[i] / (float(n) * 1e6) for i in range(d)]
  emb = {int(r.vec_id): ([float(x) for x in r.embedding], int(r.label))
         for r in tb.itertuples()}
  assert len(pdf) == n * k, (len(pdf), n, k)
  q = Decimal('0.000001')
  for r in pdf.itertuples():
    e, lab = emb[int(r.vec_id)]
    assert lab == int(r.label)
    acc = 0.0
    for i in range(d):
      acc = acc + (e[i] - means[i]) * comps[int(r.rnk)][i]
    exp = float(Decimal(repr(acc)).quantize(q, ROUND_HALF_UP))
    assert exp == r.proj_r, (r.vec_id, r.rnk, exp, r.proj_r)
  return {'method': 'FULL pure-python PCA recomputation: exact-integer '
                    'covariance sums + identical eigh + pinned fold + '
                    'HALF_UP round-6', 'k': k, 'n_vectors': n}


def verify_kmeans(sf_dir: str, pdf, *, n_cells: int = 16,
                  iters: int = 4) -> dict:
  """FULL pure-python recomputation of the distributed Lloyd run:
  xxhash64-spread init (scripts/spark_xxhash64.py replica), pinned
  left-to-right dot/norm folds, micro-unit truncation, exact-integer
  centroid updates (empty cells keep their centroid), first-argmax
  assignment and Spark-HALF_UP round-6 cosine presentation — every
  snapshot row asserted (vec_id, label, cell, cos_r)."""
  import math
  from decimal import Decimal, ROUND_HALF_UP
  from spark_xxhash64 import spark_xxhash64
  tb = pq.read_table(f'{sf_dir}/embeddings.parquet').to_pandas()
  rows = [(int(r.vec_id), [float(x) for x in r.embedding],
           int(r.label)) for r in tb.itertuples()]

  def unit(xs):
    acc = 0.0
    for x in xs:
      acc = acc + x * x
    nrm = math.sqrt(acc)
    return [x / nrm for x in xs]

  def fold_dot(a, b):
    acc = 0.0
    for i in range(len(a)):
      acc = acc + a[i] * b[i]
    return acc

  seeds = sorted(rows, key=lambda r: (spark_xxhash64(('long', r[0])),
                                      r[0]))[:n_cells]
  C = [unit(r[1]) for r in seeds]
  d = len(C[0])
  nrows = [(v, unit(e), lab) for v, e, lab in rows]
  for _ in range(iters):
    sums = [[0] * d for _ in range(n_cells)]
    counts = [0] * n_cells
    for _v, ne, _lab in nrows:
      dots = [fold_dot(ne, c) for c in C]
      cidx = dots.index(max(dots))
      counts[cidx] += 1
      for i in range(d):
        sums[cidx][i] += int(ne[i] * 1e6)
    for c in range(n_cells):
      if counts[c] > 0:
        C[c] = unit([sums[c][i] / (counts[c] * 1e6)
                     for i in range(d)])
  q = Decimal('0.000001')
  assert len(pdf) == len(nrows), (len(pdf), len(nrows))
  exp = {}
  for v, ne, lab in nrows:
    dots = [fold_dot(ne, c) for c in C]
    cidx = dots.index(max(dots))
    cr = float(Decimal(repr(dots[cidx]))
               .quantize(q, rounding=ROUND_HALF_UP))
    exp[v] = (lab, cidx + 1, cr)
  for r in pdf.itertuples():
    assert exp[int(r.vec_id)] == (int(r.label), int(r.cell),
                                  float(r.cos_r)), r
  return {'method': 'FULL pure-python Lloyd recomputation: xxhash64 '
                    'init + pinned folds + exact-integer micro-unit '
                    'updates + HALF_UP round-6 cosine',
          'n_cells': n_cells, 'iters': iters, 'n_vectors': len(nrows)}


def verify_semantic_dedup(sf_dir: str, pdf, *, threshold: float = 0.9,
                          n_cells: int = 16, n_planted: int = 40,
                          plant_eps: float = 0.01) -> dict:
  """FULL sequential pure-python recomputation of semantic_dedup: same
  seeded k-means trainer on the unplanted table, identical planting
  arithmetic, fold-order cell assignment and in-cell cosine, union-find
  connected components, keep = (vec_id == component min).  Exact
  equality of the whole (vec_id, group, keep) frame required."""
  from blueprint_oss_spark.ops.vectors import train_ivf_centroids
  E = _read_embeddings(sf_dir)
  sample = np.array([E[i] for i in E])
  C = train_ivf_centroids(sample, n_cells)
  for i in sorted(E):
    if i < n_planted:
      E[i + 1_000_000] = [x + plant_eps for x in E[i]]
  cells: dict = {}
  for i in E:
    cells.setdefault(_cell_python(E[i], C), []).append(i)

  parent = {i: i for i in E}

  def find(i):
    while parent[i] != i:
      parent[i] = parent[parent[i]]
      i = parent[i]
    return i

  n_edges = 0
  for members in cells.values():
    ms = sorted(members)
    for ii, a in enumerate(ms):
      for b in ms[ii + 1:]:
        if _fold_cos(E[a], E[b]) >= threshold:
          ra, rb = find(a), find(b)
          if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
          n_edges += 1
  comps: dict = {}
  for i in E:
    comps.setdefault(find(i), []).append(i)
  expect = {}
  for members in comps.values():
    g = min(members)
    for i in members:
      expect[i] = g
  got = {int(r.vec_id): (int(r.group), int(r.keep))
         for r in pdf.itertuples()}
  assert set(got) == set(expect), 'vec_id set mismatch'
  for i, g in expect.items():
    assert got[i] == (g, 1 if i == g else 0), (i, got[i], g)
  n_groups = sum(1 for ms in comps.values() if len(ms) > 1)
  assert n_groups >= n_planted, \
      f'planted dups did not group: {n_groups} < {n_planted}'
  return {'method': 'FULL pure-python recomputation (seeded trainer + '
                    'fold-order cells/cosine + union-find)',
          'rows': len(pdf), 'dup_groups': n_groups,
          'in_cell_edges': n_edges}


def verify_media(pdf) -> dict:
  """f0 recomputed ANALYTICALLY from the generator's seed formulas —
  independent of the decoders: image f0 = width/1024 with width
  16 + i%17; audio f0 = duration/60 with duration (100 + 10·(i%20))ms;
  video f0 = mean over the ≤4 sampled frames of their widths/1024
  (frame k of video i is image i·100+k); planted compressed payloads
  (every 8th row) must come back `unsupported:` with a zero feature."""
  from blueprint_oss_spark.ops.multimodal import FEATURE_DIM

  def ppm_w(j: int) -> int:
    return 16 + j % 17

  n_ok = n_unsup = 0
  for row in pdf.itertuples():
    i = int(row.media_ref.split('/')[-1])
    kind = ('image', 'audio', 'video')[i % 3]
    assert row.kind == kind
    assert row.dim == FEATURE_DIM
    if i % 8 == 7:
      assert row.decode_status.startswith('unsupported:'), row
      assert row.f0 == 0.0
      n_unsup += 1
      continue
    assert row.decode_status == 'ok', row
    if kind == 'image':
      expect = ppm_w(i) / 1024.0
    elif kind == 'audio':
      expect = (100 + 10 * (i % 20)) / 1000.0 / 60.0
    else:
      n_frames = 2 + i % 4
      # replicate np.linspace(0, n-1, 4).astype(int) truncation
      idx = sorted({int(k * (n_frames - 1) / 3.0) for k in range(4)})
      ws = [ppm_w(i * 100 + k) for k in idx]
      expect = sum(w / 1024.0 for w in ws) / len(ws)
    assert abs(row.f0 - round(expect, 6)) <= 2e-6, \
        (row.media_ref, row.f0, expect)
    n_ok += 1
  return {'method': 'analytic recomputation from generator formulas',
          'rows': len(pdf), 'ok': n_ok, 'unsupported': n_unsup}


def verify_media_phash(pdf) -> dict:
  """Every hash recomputed with an INDEPENDENT plain-python integer
  implementation (no numpy in the hash math, its own nearest-resize
  indexing) from payloads regenerated by the generator's seed
  formulas.  The production hashes are defined in exact integer
  arithmetic (`64·s_i > Σs` etc.) precisely so this cross-check is
  bit-for-bit, not within-epsilon."""
  import numpy as np

  def regen_img(j):
    rng = np.random.default_rng(1000 + j)
    w, h = 16 + j % 17, 12 + j % 13
    if j % 5 == 0:
      img = [[[(j * 37) % 256] * 3 for _ in range(w)] for _ in range(h)]
    else:
      img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8).tolist()
    return img, w, h

  def g3_at(img, h, w, r, c, out_h, out_w):
    y = min(r * h // out_h, h - 1)
    x = min(c * w // out_w, w - 1)
    px = img[y][x]
    return px[0] + px[1] + px[2]

  def pack(bits):
    v = 0
    for i, b in enumerate(bits):
      if b:
        v |= 1 << i
    return v - (1 << 64) if v >= (1 << 63) else v

  def py_ahash(img, w, h):
    cells = [g3_at(img, h, w, r, c, 8, 8)
             for r in range(8) for c in range(8)]
    total = sum(cells)
    return pack([64 * s > total for s in cells])

  def py_dhash(img, w, h):
    grid = [[g3_at(img, h, w, r, c, 8, 9) for c in range(9)]
            for r in range(8)]
    bits = [grid[r][c + 1] > grid[r][c]
            for r in range(8) for c in range(8)]
    return pack(bits)

  def py_audiohash(j):
    rate = 8000
    dur_ms = 100 + 10 * (j % 20)
    t = np.arange(int(rate * dur_ms / 1000)) / rate
    freq = 110.0 * (1 + j % 8)
    amp = 0.1 + 0.05 * (j % 10)
    xs = (np.sin(2 * np.pi * freq * t) * amp * 32767).astype(
        np.int16).tolist()
    xs = [abs(v) for v in xs]
    n = len(xs)
    edges = [(k * n) // 64 for k in range(65)]
    total = sum(xs)
    bits = []
    for k in range(64):
      lo, hi = edges[k], edges[k + 1]
      s, cnt = sum(xs[lo:hi]), hi - lo
      bits.append(s * n > total * cnt if cnt else False)
    return pack(bits)

  n_ok = n_unsup = 0
  for row in pdf.itertuples():
    i = int(row.media_ref.split('/')[-1])
    kind = ('image', 'audio', 'video')[i % 3]
    assert row.kind == kind
    if i % 8 == 7:
      assert row.decode_status.startswith('unsupported:'), row
      assert row.ahash == 0 and row.dhash == 0
      n_unsup += 1
      continue
    assert row.decode_status == 'ok', row
    if kind == 'image':
      img, w, h = regen_img(i)
      assert row.ahash == py_ahash(img, w, h), row.media_ref
      assert row.dhash == py_dhash(img, w, h), row.media_ref
    elif kind == 'audio':
      hh = py_audiohash(i)
      assert row.ahash == hh and row.dhash == hh, row.media_ref
    else:  # video: first frame is image i*100
      img, w, h = regen_img(i * 100)
      assert row.ahash == py_ahash(img, w, h), row.media_ref
      assert row.dhash == py_dhash(img, w, h), row.media_ref
    n_ok += 1
  return {'method': 'independent plain-python integer hash '
                    'recomputation from regenerated payloads',
          'rows': len(pdf), 'ok': n_ok, 'unsupported': n_unsup}


def _unigram_replica_train(wc: dict, *, vocab_size: int = 48,
                           seed_size: int = 96, mpl: int = 4,
                           n_em: int = 3):
  """Sequential unigram-LM training replica over an arbitrary word-
  count table (shared by the documents-corpus and interleaved-corpus
  verifications) — seed substrings, n_em forward-backward EM rounds
  with per-word micro-unit truncation, char-preserving pruning.
  Returns (keep: piece->micro_count, total)."""
  MICRO = 1_000_000
  sc: dict = {}
  for w, c in wc.items():
    for i in range(len(w)):
      for l in range(1, min(mpl, len(w) - i) + 1):
        sc[w[i:i + l]] = sc.get(w[i:i + l], 0) + c
  vocab = dict(sorted(sc.items(),
                      key=lambda kv: (-kv[1], kv[0]))[:seed_size])
  for p, c in sc.items():
    if len(p) == 1:
      vocab.setdefault(p, c)
  vocab = {p: c * MICRO for p, c in vocab.items()}

  def expected(word, probs):
    n = len(word)
    alpha = [1.0] + [0.0] * n
    for i in range(1, n + 1):
      s2 = 0.0
      for j in range(max(0, i - mpl), i):
        p = probs.get(word[j:i])
        if p and alpha[j]:
          s2 += alpha[j] * p
      alpha[i] = s2
    if alpha[n] == 0.0:
      return {}
    beta = [0.0] * n + [1.0]
    for i in range(n - 1, -1, -1):
      s2 = 0.0
      for j in range(i + 1, min(n, i + mpl) + 1):
        p = probs.get(word[i:j])
        if p and beta[j]:
          s2 += p * beta[j]
      beta[i] = s2
    out: dict = {}
    for j in range(n):
      for i in range(j + 1, min(n, j + mpl) + 1):
        p = probs.get(word[j:i])
        if p and alpha[j] and beta[i]:
          out[word[j:i]] = out.get(word[j:i], 0.0) \
              + alpha[j] * p * beta[i] / alpha[n]
    return out

  for _ in range(n_em):
    total = sum(vocab.values())
    probs = {p: c / total for p, c in vocab.items() if c > 0}
    new: dict = {}
    for w, c in wc.items():
      for piece, g in expected(w, probs).items():
        new[piece] = new.get(piece, 0) + int(g * c * MICRO)
    vocab = {p: new.get(p, 0) for p in vocab
             if len(p) == 1 or new.get(p, 0) > 0}

  chars = {p: c for p, c in vocab.items() if len(p) == 1}
  multi = sorted(((p, c) for p, c in vocab.items() if len(p) > 1),
                 key=lambda kv: (-kv[1], kv[0]))
  keep = dict(chars)
  for p, c in multi:
    if len(keep) >= max(vocab_size, len(chars)):
      break
    keep[p] = c
  return keep, sum(keep.values())


def _unigram_viterbi_len(word: str, keep: dict, total: int,
                         mpl: int = 4) -> int:
  """Exact-Fraction Viterbi segment LENGTH (ties: fewer pieces, then
  pinned ascending-start scan) — the encode replica."""
  from fractions import Fraction
  n = len(word)
  best = [None] * (n + 1)
  best[0] = (Fraction(1), 0)
  for i in range(1, n + 1):
    cur = None
    for j in range(max(0, i - mpl), i):
      if best[j] is None:
        continue
      c = keep.get(word[j:i])
      if c is None:
        continue
      sc2 = best[j][0] * Fraction(c, total)
      cand = (sc2, best[j][1] + 1)
      if cur is None or sc2 > cur[0] or (sc2 == cur[0]
                                         and cand[1] < cur[1]):
        cur = cand
    best[i] = cur
  return best[n][1]


def verify_unigram(sf_dir: str, updf, ug_words: int, ug_tokens: int) -> dict:
  """FULL sequential pure-python unigram-LM recomputation (Kudo 2018
  with the documented deviations of ops/unigram.py) via the shared
  replica helpers — every retained piece row and both corpus totals
  must match exactly."""
  texts = pq.read_table(f'{sf_dir}/documents.parquet') \
      .column('text').to_pylist()
  wc: dict = {}
  for t in texts:
    for w in t.split(' '):
      if w:
        wc[w] = wc.get(w, 0) + 1
  keep, total = _unigram_replica_train(wc)
  ranked = sorted(keep.items(), key=lambda kv: (-kv[1], kv[0]))

  got = [(int(r.rank), r.left, r.right, r.merged, int(r.pair_count))
         for r in updf.sort_values('rank')
         [['rank', 'left', 'right', 'merged', 'pair_count']]
         .itertuples(index=False)]
  exp = [(i, p, 'char' if len(p) == 1 else 'multi', p, c)
         for i, (p, c) in enumerate(ranked)]
  assert got == exp, f'unigram vocab mismatch: first diff ' \
      f'{next((g, e) for g, e in zip(got, exp) if g != e)}'
  assert (updf['ug_total'] == total).all()

  seglen = {w: _unigram_viterbi_len(w, keep, total) for w in wc}
  exp_words = sum(wc.values())
  exp_tokens = sum(seglen[w] * c for w, c in wc.items())
  assert ug_words == exp_words, f'{ug_words} != {exp_words}'
  assert ug_tokens == exp_tokens, f'{ug_tokens} != {exp_tokens}'
  return {'pieces': len(exp), 'ug_words': int(exp_words),
          'ug_tokens': int(exp_tokens)}


def verify_bpe(sf_dir: str, pdf) -> dict:
  """FULL sequential pure-python BPE recomputation (Sennrich et al.
  2016 greedy left-to-right merges, highest-count / lexicographically
  smallest tie-break) — every learned merge row must match exactly.
  The frame is method-tagged: the 'unigram' section is verified by
  verify_unigram's full sequential recomputation, the 'bpe' section
  by this function's."""
  from collections import Counter
  updf = pdf[pdf['method'] == 'unigram']
  rec_u = verify_unigram(sf_dir, updf,
                         int(updf['ug_words'].iloc[0]),
                         int(updf['ug_tokens'].iloc[0]))
  pdf = pdf[pdf['method'] == 'bpe']
  docs = pq.read_table(f'{sf_dir}/documents.parquet') \
      .select(['text']).to_pandas()
  wc: Counter = Counter()
  for t in docs.text:
    for w in t.split(' '):
      if w:
        wc[w] += 1
  words = {w: (list(w), c) for w, c in wc.items()}
  exp = []
  for rank in range(len(pdf)):
    pc: Counter = Counter()
    for syms, c in words.values():
      for a, b in zip(syms, syms[1:]):
        pc[(a, b)] += c
    if not pc:
      break
    (left, right), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
    merged = left + right
    exp.append((rank, left, right, merged, cnt))
    for w in words:
      syms, c = words[w]
      out: list = []
      for s in syms:
        if out and out[-1] == left and s == right:
          out[-1] = merged
        else:
          out.append(s)
      words[w] = (out, c)
  got = [tuple(r) for r in
         pdf[['rank', 'left', 'right', 'merged', 'pair_count']]
         .itertuples(index=False)]
  got = [(int(a), b, c, d, int(e)) for a, b, c, d, e in got]
  assert got == exp, f'BPE mismatch: first diff ' \
      f'{next((g, e) for g, e in zip(got, exp) if g != e)}'
  # encode totals: after all merges are applied, `words` holds every
  # distinct word's final symbol sequence — the whole-corpus token
  # count is the frequency-weighted sum of those lengths, and the word
  # count the frequency sum.  Must match bpe_encode's fold+join totals
  # on every row.
  exp_words = sum(c for _, c in words.values())
  exp_tokens = sum(len(syms) * c for syms, c in words.values())
  assert (pdf['corpus_words'] == exp_words).all(), \
      f'corpus_words mismatch: {set(pdf.corpus_words)} != {exp_words}'
  assert (pdf['corpus_tokens'] == exp_tokens).all(), \
      f'corpus_tokens mismatch: {set(pdf.corpus_tokens)} != {exp_tokens}'

  # per-language fertility: the final per-distinct-word symbol lengths
  # are global, so each language's token total is the lang-frequency-
  # weighted sum of those lengths; chars/bytes straight from the text
  ldocs = pq.read_table(f'{sf_dir}/documents.parquet') \
      .select(['text', 'lang']).to_pandas()
  for lang in ('en', 'es', 'de', 'fr'):
    lw = lt = lc = lb = 0
    for t, lg in zip(ldocs.text, ldocs.lang):
      if lg != lang:
        continue
      lc += len(t)
      lb += len(t.encode('utf-8'))
      for w in t.split(' '):
        if w:
          lw += 1
          lt += len(words[w][0])
    for col, exp in ((f'f_{lang}_words', lw), (f'f_{lang}_tokens', lt),
                     (f'f_{lang}_chars', lc), (f'f_{lang}_bytes', lb)):
      assert (pdf[col] == exp).all(), \
          f'{col} mismatch: {set(pdf[col])} != {exp}'

  # interleaved tokenizer totals: re-derive the rendered corpus from
  # the raw documents table by the synthesis formulas (recoverable
  # ground truth — interleaved_html_table builds spans by pure
  # formulas over (doc_id, text), main content strips back to them),
  # then rerun the SAME sequential trainer/encoder with the media
  # sentinel excluded from training and atomic in encoding.
  import re as _re
  sent = '<|image|>'
  full = pq.read_table(f'{sf_dir}/documents.parquet') \
      .select(['doc_id', 'text']).to_pandas()
  it_words = it_tokens = it_sents = 0
  iwc: Counter = Counter()
  rendered = []
  for did, t in zip(full.doc_id, full.text):
    did = int(did)
    t0 = _re.sub(r'\s+', ' ', f'Document {did} part 0. {t}').strip()
    parts = [t0, sent, f'Document {did} closing section part 1.']
    if did % 3 == 0:
      parts.append(sent)
    if did % 2 == 0:
      parts.append(f'PDF appendix for document {did}')
    rendered.append(' '.join(parts))
  for r in rendered:
    for w in r.split(' '):
      if w:
        if w == sent:
          it_sents += 1
        else:
          iwc[w] += 1
  iwords = {w: (list(w), c) for w, c in iwc.items()}
  # tokenize_interleaved's default n_merges=24 — the interleaved
  # vocabulary is trained independently of the documents-corpus one
  for _ in range(24):
    pc2: Counter = Counter()
    for syms, c in iwords.values():
      for a, b in zip(syms, syms[1:]):
        pc2[(a, b)] += c
    if not pc2:
      break
    (left, right), _cnt = min(pc2.items(),
                              key=lambda kv: (-kv[1], kv[0]))
    merged = left + right
    for w in iwords:
      syms, c = iwords[w]
      out2: list = []
      for s in syms:
        if out2 and out2[-1] == left and s == right:
          out2[-1] = merged
        else:
          out2.append(s)
      iwords[w] = (out2, c)
  it_words = sum(c for _, c in iwords.values()) + it_sents
  it_tokens = sum(len(syms) * c for syms, c in iwords.values()) \
      + it_sents
  for col, exp in (('it_words', it_words), ('it_tokens', it_tokens),
                   ('it_sentinels', it_sents)):
    assert (pdf[col] == exp).all(), \
        f'{col} mismatch: {set(pdf[col])} != {exp}'

  # interleaved UNIGRAM tokenizer totals: train the unigram replica
  # on the same rendered word counts (sentinel excluded — iwc never
  # saw it), Viterbi-encode every distinct word, sentinels atomic
  ukeep, utotal = _unigram_replica_train(dict(iwc))
  ug_it_words = sum(iwc.values()) + it_sents
  ug_it_tokens = sum(_unigram_viterbi_len(w, ukeep, utotal) * c
                     for w, c in iwc.items()) + it_sents
  for col, exp in (('ug_it_words', ug_it_words),
                   ('ug_it_tokens', ug_it_tokens),
                   ('ug_it_sentinels', it_sents)):
    assert (pdf[col] == exp).all(), \
        f'{col} mismatch: {set(pdf[col])} != {exp}'
  return {'method': 'FULL sequential pure-python BPE train + encode '
                    'recomputation (greedy left-to-right merges, '
                    'count/lex tie-break; encode totals from the '
                    'final vocabulary symbol lengths) + interleaved '
                    'tokenizer totals from the formula-rendered '
                    'corpus with the sentinel atomic', 'ok': True,
          'corpus_words': int(exp_words),
          'corpus_tokens': int(exp_tokens),
          'it_words': int(it_words), 'it_tokens': int(it_tokens),
          'it_sentinels': int(it_sents),
          'ug_it_words': int(ug_it_words),
          'ug_it_tokens': int(ug_it_tokens),
          'unigram': rec_u}


def verify_dedup_groups_minhash(sf_dir: str, pdf) -> dict:
  """FULL independent recomputation of the 100 TB dedup path: the
  banded-minhash candidate edges come from the pure-python xxhash64
  replica (_minhash_pairs_python, same function that verifies
  minhash_pairs), the connected components from a plain union-find —
  per-doc group_id (component-min), group_size, and is_keeper must all
  match the Spark large-star/small-star output exactly."""
  docs = pq.read_table(f'{sf_dir}/documents.parquet') \
      .select(['doc_id', 'text']).to_pandas()
  text = dict(zip(docs.doc_id, docs.text))
  pairs = _minhash_pairs_python(text)

  parent = {d: d for d in text}
  def find(x):
    while parent[x] != x:
      parent[x] = parent[parent[x]]
      x = parent[x]
    return x
  for a, b in pairs:
    ra, rb = find(a), find(b)
    if ra != rb:
      parent[max(ra, rb)] = min(ra, rb)
  group = {d: find(d) for d in text}
  sizes: dict = {}
  for g in group.values():
    sizes[g] = sizes.get(g, 0) + 1

  assert len(pdf) == len(text), (len(pdf), len(text))
  n_multi = 0
  for row in pdf.itertuples():
    g = group[row.doc_id]
    assert row.group_id == g, (row.doc_id, row.group_id, g)
    assert row.group_size == sizes[g], (row.doc_id, row.group_size)
    assert row.is_keeper == int(row.doc_id == g), row.doc_id
    n_multi += sizes[g] > 1
  return {'method': 'FULL pure-python recomputation: xxhash64 minhash '
                    'edges + union-find components',
          'edges': len(pairs), 'docs_in_multi_groups': n_multi,
          'groups': len(sizes)}


def verify_accuracy(spark, sf_dir: str, pdf, extract_pdf) -> dict:
  """Recompute per-field accuracy in Python from the (reference-
  verified) labelvalue extraction output.  Only the corruption selector
  (pmod(xxhash64(doc_id), 3) == 0) is taken from Spark — it is a hash,
  not arithmetic."""
  from pyspark.sql import functions as F
  ids = [r.doc_id for r in extract_pdf.itertuples()]
  flags = {
      r['doc_id']: r['c'] for r in
      spark.createDataFrame([(d,) for d in ids], 'doc_id string')
      .select('doc_id',
              (F.pmod(F.xxhash64('doc_id'), F.lit(3)) == 0).alias('c'))
      .collect()}
  n_docs: dict = {}
  n_correct: dict = {}
  for row in extract_pdf.itertuples():
    fields = dict(json.loads(row.fields_json))
    first = min(fields) if fields else None
    for f, v in fields.items():
      n_docs[f] = n_docs.get(f, 0) + 1
      corrupted = flags[row.doc_id] and f == first
      n_correct[f] = n_correct.get(f, 0) + (not corrupted)
  for row in pdf.itertuples():
    assert row.n_docs == n_docs[row.field], (row.field, row.n_docs)
    assert row.n_correct == n_correct[row.field], \
        (row.field, row.n_correct, n_correct[row.field])
    assert abs(row.accuracy
               - round(n_correct[row.field] / n_docs[row.field], 6)) \
        <= 1e-9
  return {'method': 'python recomputation from verified extraction',
          'fields': len(pdf)}


def main() -> None:
  ap = argparse.ArgumentParser()
  ap.add_argument('--sf-dir', default='/root/testdata/sf0.01')
  ap.add_argument('--paystub-subset', type=int, default=6)
  ap.add_argument('--only', nargs='*', default=None)
  ap.add_argument('--extra-verify-sf', nargs='*', default=None,
                  help='additionally run the bp_extract_* corpora at '
                       'these sf dirs and verify against the reference '
                       '(no snapshot written — two-scale evidence for '
                       'the extraction path, recorded in MANIFEST '
                       'under also_verified)')
  args = ap.parse_args()

  from pyspark.sql import SparkSession
  spark = (SparkSession.builder.master('local[8]')
           .appName('build-oracles')
           .config('spark.sql.shuffle.partitions', '8')
           .config('spark.sql.adaptive.enabled', 'true')
           .config('spark.sql.execution.arrow.pyspark.enabled', 'true')
           .config('spark.ui.enabled', 'false')
           .getOrCreate())
  spark.sparkContext.setLogLevel('ERROR')

  import __spark_entry__ as entry
  queries = entry.queries()
  os.makedirs(ORACLE_DIR, exist_ok=True)
  manifest_path = os.path.join(ORACLE_DIR, 'MANIFEST.json')
  manifest = {}
  if os.path.exists(manifest_path):
    with open(manifest_path) as f:
      manifest = json.load(f)

  def run(name, sf_dir=None):
    if name == 'pca_proj':
      # not a standalone gate query: the verified projection table the
      # ann_topk_methods oracle's method='pca' section reads (the
      # simhash64 device)
      from pyspark.sql import functions as F
      from blueprint_oss_spark.ops.vectors import pca_project
      return (pca_project(spark, sf_dir or args.sf_dir, k=8)
              .select('vec_id', 'label',
                      F.posexplode('proj').alias('rnk', 'val'))
              .select('vec_id', 'label', 'rnk',
                      F.round('val', 6).alias('proj_r'))
              .orderBy('vec_id', 'rnk')).toPandas()
    if name == 'kmeans_assign':
      # not a standalone gate query: the verified assignment table the
      # ann_topk_methods oracle's method='kmeans' section reads
      from blueprint_oss_spark.ops.vectors import kmeans_assign
      return (kmeans_assign(spark, sf_dir or args.sf_dir)
              .orderBy('vec_id')).toPandas()
    if name == 'simhash64':
      # no longer a standalone gate query (merged into
      # simhash_sigs_pairs) but its snapshot parquet is still the
      # verified signature table that query's SQL oracle reads
      from blueprint_oss_spark.ops.textops import simhash64
      from blueprint_oss_spark.spark.sources import documents
      return simhash64(documents(spark, sf_dir or args.sf_dir)).toPandas()
    if name == 'ann_eval':
      # not a standalone gate query: the verified retrieval-eval table
      # the ann_topk_methods oracle's method='anneval' section reads
      from blueprint_oss_spark.ops.vectors import ann_eval
      return ann_eval(spark, sf_dir or args.sf_dir).toPandas()
    return queries[name](spark, sf_dir or args.sf_dir).toPandas()

  def verify_bp(name, sf_dir, pdf):
    if name == 'bp_extract_paystubs':
      from blueprint_oss_spark.bp_examples.paystub_fixtures import \
          paystub_corpus
      return verify_bp_extract_flagship(
          sf_dir, pdf, args.paystub_subset, paystub_corpus,
          '/root/reference/examples/paystubs/paystubs.py')
    if name == 'bp_extract_checks':
      from blueprint_oss_spark.bp_examples.check_fixtures import \
          check_corpus
      return verify_bp_extract_flagship(
          sf_dir, pdf, args.paystub_subset, check_corpus,
          '/root/reference/examples/checks/checks.py')
    return verify_bp_extract(name[len('bp_extract_'):], sf_dir, pdf)

  jobs = list(entry._SNAPSHOT_ORACLES) + ['simhash64', 'pca_proj',
                                          'kmeans_assign', 'ann_eval']
  if args.only:
    jobs = [j for j in jobs if j in args.only]

  for name in jobs:
    t0 = time.monotonic()
    pdf = run(name)
    if name.startswith('bp_extract_'):
      rec = verify_bp(name, args.sf_dir, pdf)
    elif name == 'minhash_pairs':
      rec = verify_minhash(args.sf_dir, pdf, run(name))
    elif name == 'simhash64':
      rec = verify_simhash(args.sf_dir, pdf, run(name))
    elif name == 'pca_proj':
      rec = verify_pca(args.sf_dir, pdf)
    elif name == 'kmeans_assign':
      rec = verify_kmeans(args.sf_dir, pdf)
    elif name == 'ann_eval':
      rec = verify_ann_eval(args.sf_dir, pdf)
    elif name == 'ann_topk_methods':
      rec = verify_ann_topk_methods(args.sf_dir, pdf)
    elif name == 'semantic_dedup':
      # the merged gate frame: dedup columns verified by the seeded
      # union-find recomputation, selection columns by the per-cell
      # prototype-rank recomputation
      rec_d = verify_semantic_dedup(args.sf_dir, pdf)
      rec_s = verify_cluster_select(args.sf_dir, pdf)
      rec = {'method': f"dedup: {rec_d['method']}; "
                       f"select: {rec_s['method']}",
             'dup_groups': rec_d['dup_groups'],
             'in_cell_edges': rec_d['in_cell_edges'],
             'n_selected': rec_s['n_selected'],
             'planted_nulls': rec_s['planted_nulls']}
    elif name == 'media_features_phash':
      # the merged multimodal query: each half verified by its own
      # independent recomputation (features analytically from the
      # generator formulas; hashes by the plain-python integer replica)
      rec_f = verify_media(
          pdf.rename(columns={'feature_status': 'decode_status'}))
      rec_p = verify_media_phash(
          pdf.rename(columns={'phash_status': 'decode_status'}))
      rec = {'method': f"features: {rec_f['method']}; "
                       f"phash: {rec_p['method']}",
             'ok': rec_f['ok'], 'unsupported': rec_f['unsupported']}
    elif name == 'dedup_groups_minhash':
      rec = verify_dedup_groups_minhash(args.sf_dir, pdf)
    elif name == 'bpe_train':
      rec = verify_bpe(args.sf_dir, pdf)
    elif name == 'extraction_accuracy':
      rec = verify_accuracy(spark, args.sf_dir, pdf,
                            run('bp_extract_labelvalue'))
    else:
      raise ValueError(name)
    out = os.path.join(ORACLE_DIR, f'{name}.parquet')
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), out)
    rec.update(rows=len(pdf), sf_dir=args.sf_dir,
               build_sec=round(time.monotonic() - t0, 1))
    manifest[name] = rec
    print(f'{name}: {rec}')

  for extra_sf in (args.extra_verify_sf or []):
    for name in jobs:
      if not (name.startswith('bp_extract_')
              or name == 'kmeans_assign'):
        continue
      t0 = time.monotonic()
      pdf = run(name, extra_sf)
      if name == 'kmeans_assign':
        rec = verify_kmeans(extra_sf, pdf)
      else:
        rec = verify_bp(name, extra_sf, pdf)
      rec.update(rows=len(pdf), sf_dir=extra_sf,
                 build_sec=round(time.monotonic() - t0, 1))
      manifest.setdefault(name, {}) \
          .setdefault('also_verified', {})[extra_sf] = rec
      print(f'{name} @ {extra_sf}: {rec}')

  with open(manifest_path, 'w') as f:
    json.dump(manifest, f, indent=1, sort_keys=True)
  print(f'wrote {len(jobs)} oracles + MANIFEST to {ORACLE_DIR}')
  spark.stop()


if __name__ == '__main__':
  main()
