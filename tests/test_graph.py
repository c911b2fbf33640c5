"""Connected components (large-star/small-star) — the dedup-groups
backbone.  Checked against a trivially-correct pure-Python union-find
on adversarial shapes: long chains (force multiple star rounds), a
star with a high id at the center, disjoint cliques, and random graphs.
"""

import random

from pyspark.sql import functions as F
from blueprint_oss_spark.spark.sources import documents


def _uf_components(edges):
  parent = {}

  def find(x):
    parent.setdefault(x, x)
    while parent[x] != x:
      parent[x] = parent[parent[x]]
      x = parent[x]
    return x

  for a, b in edges:
    ra, rb = find(a), find(b)
    if ra != rb:
      parent[max(ra, rb)] = min(ra, rb)
  return {n: find(n) for n in parent}


def _spark_components(spark, edges):
  from blueprint_oss_spark.ops.graph import connected_components
  df = spark.createDataFrame(
      [(a, b) for a, b in edges], 'src string, dst string')
  return {r['node']: r['component']
          for r in connected_components(df, 'src', 'dst').collect()}


def _check(spark, edges):
  got = _spark_components(spark, edges)
  want = _uf_components(edges)
  assert got == want


def test_long_chain(spark):
  # a 40-node chain needs O(log n) alternating rounds — exercises the
  # iteration + convergence logic, not just one pass
  ids = [f'n{i:03d}' for i in range(40)]
  _check(spark, list(zip(ids, ids[1:])))


def test_chain_reversed_ids(spark):
  # chain where adjacency goes against id order
  ids = [f'n{i:03d}' for i in reversed(range(25))]
  _check(spark, list(zip(ids, ids[1:])))


def test_star_high_center(spark):
  # high-id center: every leaf must still land on the min leaf
  edges = [('z-center', f'a{i:02d}') for i in range(12)]
  _check(spark, edges)


def test_disjoint_cliques_and_duplicates(spark):
  edges = []
  for c in range(4):
    ids = [f'c{c}-{i}' for i in range(5)]
    edges += [(a, b) for a in ids for b in ids if a < b]
  # duplicate + reversed edges must not perturb anything
  edges += [(b, a) for a, b in edges[:7]] + edges[:5]
  _check(spark, edges)


def test_random_graphs_match_union_find(spark):
  rng = random.Random(7)
  for trial in range(3):
    n = 60
    ids = [f'd{i:03d}' for i in range(n)]
    edges = [(rng.choice(ids), rng.choice(ids)) for _ in range(70)]
    edges = [(a, b) for a, b in edges if a != b]
    _check(spark, edges)


def test_dedup_groups_partitions_docs(spark):
  # dedup_groups over sf0.001: every doc appears exactly once, group_id
  # is the min doc_id of its group, keeper iff doc_id == group_id, and
  # group sizes sum to the doc count
  from blueprint_oss_spark.ops.textops import dedup_groups
  out = dedup_groups(documents(spark, '/root/testdata/sf0.001')).collect()
  docs = [r['doc_id'] for r in out]
  assert len(docs) == len(set(docs))
  by_group = {}
  for r in out:
    by_group.setdefault(r['group_id'], []).append(r)
  for gid, rows in by_group.items():
    assert gid == min(r['doc_id'] for r in rows)
    assert all(r['group_size'] == len(rows) for r in rows)
    assert sum(r['is_keeper'] for r in rows) == 1
    keeper = [r for r in rows if r['is_keeper']][0]
    assert keeper['doc_id'] == gid


def test_dedup_groups_minhash_edges_match_jaccard(spark):
  """The scale-path variant (banded-LSH candidate edges instead of the
  exact inverted-index join) groups this corpus IDENTICALLY to the
  exact-Jaccard edges: on sf0.01 the deterministic banded signatures
  catch all 25 true near-dup pairs with zero false candidates (banding
  recall is probabilistic in general, but fixed hashes + a fixed corpus
  make this a stable pin, and equality here is the recall-1.0/
  precision-1.0 evidence for the default band config)."""
  from blueprint_oss_spark.ops.textops import dedup_groups

  sf = '/root/testdata/sf0.01'
  by_source = {}
  for source in ('minhash', 'jaccard'):
    rows = dedup_groups(documents(spark, sf), edge_source=source).collect()
    by_source[source] = sorted(
        (r['doc_id'], r['group_id'], r['group_size'], r['is_keeper'])
        for r in rows)
  assert by_source['minhash'] == by_source['jaccard']
  assert any(g[2] > 1 for g in by_source['jaccard'])  # real groups exist


def test_minhash_max_bucket_size_caps_hub_buckets(spark, tmp_path):
  """Skew guard: a planted hub bucket (30 near-identical docs that all
  collide on every band) is dropped by max_bucket_size BEFORE the
  quadratic in-bucket pair expansion, while small buckets keep their
  pairs; with the cap off, the hub contributes all 30·29/2 pairs."""
  from blueprint_oss_spark.ops.textops import minhash_shingles

  hub_text = ('lorem ipsum dolor sit amet consectetur adipiscing elit '
              'sed do eiusmod tempor incididunt ut labore et dolore')
  pair_text = ('quick brown foxes jump over lazy hounds beside quiet '
               'rivers under autumn skies while herons watch calmly')
  rows = [(i, hub_text, 'en', 's', 0) for i in range(30)]
  rows += [(100, pair_text, 'en', 's', 0),
           (101, pair_text, 'en', 's', 0)]
  spark.createDataFrame(
      rows, 'doc_id long, text string, lang string, source string, '
            'n_chars long') \
      .write.parquet(str(tmp_path / 'documents.parquet'))

  uncapped = {(r['doc_a'], r['doc_b'])
              for r in minhash_shingles(
                  documents(spark, str(tmp_path))).collect()}
  assert (100, 101) in uncapped
  assert len(uncapped) == 30 * 29 // 2 + 1

  capped = {(r['doc_a'], r['doc_b'])
            for r in minhash_shingles(documents(spark, str(tmp_path)),
                                      max_bucket_size=10).collect()}
  assert capped == {(100, 101)}


def test_dedup_groups_precomputed_edges_match(spark):
  """The edges= seam (production shape: pair scan runs once, grouping
  consumes it) must group identically to recomputing the same edges
  inside dedup_groups."""
  from blueprint_oss_spark.ops.textops import (
      dedup_groups, minhash_shingles,
  )

  sf = '/root/testdata/sf0.001'
  edges = minhash_shingles(documents(spark, sf))
  via_seam = sorted(
      (r['doc_id'], r['group_id'], r['group_size'], r['is_keeper'])
      for r in dedup_groups(documents(spark, sf), edges=edges).collect())
  recomputed = sorted(
      (r['doc_id'], r['group_id'], r['group_size'], r['is_keeper'])
      for r in dedup_groups(documents(spark, sf),
                            edge_source='minhash').collect())
  assert via_seam == recomputed


def test_dedup_groups_minhash_respects_docs_seam(spark, tmp_path):
  """edge_source='minhash' must find candidate pairs among the docs
  frame only — the same sequential-semantics guarantee the jaccard
  path got in round 3 (a filtered-out doc must not bridge groups)."""
  from blueprint_oss_spark.ops.textops import dedup_groups

  text_a = ('alpha bravo charlie delta echo foxtrot golf hotel india '
            'juliet kilo lima')
  rows = [(1, text_a, 'en', 's', 0),
          (2, text_a, 'en', 's', 0),          # near-dup of 1
          (3, text_a + ' extra', 'en', 's', 0),
          (9, 'unrelated words entirely different content here now',
           'en', 's', 0)]
  spark.createDataFrame(
      rows, 'doc_id long, text string, lang string, source string, '
            'n_chars long') \
      .write.parquet(str(tmp_path / 'documents.parquet'))

  all_docs = spark.read.parquet(str(tmp_path / 'documents.parquet'))
  subset = all_docs.where('doc_id != 1')

  got = {r['doc_id']: r['group_id'] for r in dedup_groups(
      subset, edge_source='minhash').collect()}
  # doc 1 excluded: not in output, and 2/3 group together WITHOUT it
  assert 1 not in got
  assert got[2] == 2 and got[3] == 2 and got[9] == 9
