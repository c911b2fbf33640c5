"""shard_manifests + the resumable writer's doc_set_checksum — the
per-shard integrity record (counts, token/char/byte totals, doc_id
range, order-independent modular content checksum) a bulk writer keeps
next to its data, and the lineage metric that lets a resumed
run_extraction_job verify a re-run group wrote the same documents.

Verified by: a FULL pure-python recomputation of every manifest column
(including the 60-bit md5 fingerprint modular sum) over sf0.001,
partitioning-invariance (repartition(17) changes nothing — the whole
point of a commutative checksum), single-doc tamper sensitivity
(exactly one shard's checksum moves, counts identical), and the
pipeline lineage carrying a precision-safe integer doc_set_checksum
that is identical across a fresh run and a from-scratch re-run."""

import hashlib
import json

import duckdb

from blueprint_oss_spark.ops.profiling import (
    CHECKSUM_MOD,
    shard_manifests,
)

SF_DIR = '/root/testdata/sf0.001'
BUCKETS = 8


def _md5_prefix_int(s: str, n_hex: int) -> int:
  return int(hashlib.md5(s.encode()).hexdigest()[:n_hex], 16)


def _expected():
  rows = duckdb.sql(
      f"SELECT doc_id, text FROM '{SF_DIR}/documents.parquet' "
      'ORDER BY doc_id').fetchall()
  out = {}
  for doc_id, text in rows:
    shard = _md5_prefix_int(str(doc_id), 8) % BUCKETS
    m = out.setdefault(shard, dict(
        n_docs=0, texts=set(), n_tokens=0, n_chars=0, n_bytes=0,
        first=None, last=None, checksum=0))
    m['n_docs'] += 1
    m['texts'].add(text)
    m['n_tokens'] += len([t for t in text.split(' ') if t])
    m['n_chars'] += len(text)
    m['n_bytes'] += len(text.encode())
    m['first'] = doc_id if m['first'] is None else min(m['first'], doc_id)
    m['last'] = doc_id if m['last'] is None else max(m['last'], doc_id)
    m['checksum'] = (m['checksum']
                     + _md5_prefix_int(f'{doc_id}:{text}', 15)) \
        % CHECKSUM_MOD
  return out


def test_full_python_recomputation(spark):
  exp = _expected()
  rows = shard_manifests(spark, SF_DIR, buckets=BUCKETS).collect()
  assert len(rows) == len(exp)
  for r in rows:
    m = exp[r['shard']]
    assert r['n_docs'] == m['n_docs']
    assert r['n_distinct_texts'] == len(m['texts'])
    assert r['n_tokens'] == m['n_tokens']
    assert r['n_chars'] == m['n_chars']
    assert r['n_bytes'] == m['n_bytes']
    assert r['first_doc_id'] == m['first']
    assert r['last_doc_id'] == m['last']
    assert r['checksum'] == m['checksum']


def test_partitioning_invariance(spark):
  base = shard_manifests(spark, SF_DIR).collect()
  d = spark.read.parquet(f'{SF_DIR}/documents.parquet').repartition(17)
  again = shard_manifests(spark, '', docs=d).collect()
  assert base == again


def test_tamper_sensitivity(spark):
  base = {r['shard']: r for r in shard_manifests(spark, SF_DIR).collect()}
  from pyspark.sql import functions as F
  d = spark.read.parquet(f'{SF_DIR}/documents.parquet').select(
      'doc_id',
      F.when(F.col('doc_id') == 7, F.concat(F.col('text'), F.lit(' x')))
      .otherwise(F.col('text')).alias('text'))
  tampered = {r['shard']: r
              for r in shard_manifests(spark, '', docs=d).collect()}
  hit_shard = _md5_prefix_int('7', 8) % BUCKETS
  for shard, r in tampered.items():
    assert r['n_docs'] == base[shard]['n_docs']
    if shard == hit_shard:
      assert r['checksum'] != base[shard]['checksum']
      assert r['n_chars'] == base[shard]['n_chars'] + 2
    else:
      assert r == base[shard]


def test_pipeline_doc_set_checksum(spark, tmp_path):
  from blueprint_oss_spark.fixtures import (
      readme_blueprint, readme_corpus,
  )
  from blueprint_oss_spark.spark.pipeline import (
      SPANS_SCHEMA, run_extraction_job,
  )
  docs = readme_corpus(12, seed=79)
  rows = [(doc_id,
           [{'kind': k, 'text': t, 'media_ref': m, 'offset': o}
            for (k, t, m, o) in spans])
          for doc_id, spans in docs]
  df = spark.createDataFrame(rows, SPANS_SCHEMA)
  root = readme_blueprint()

  l1 = run_extraction_job(spark, df, str(tmp_path / 'a'), root, groups=2)
  l2 = run_extraction_job(spark, df, str(tmp_path / 'b'), root, groups=2)
  for r1, r2 in zip(l1, l2):
    c1, c2 = (r1['metrics']['doc_set_checksum'],
              r2['metrics']['doc_set_checksum'])
    # present, integer (precision-safe for a 61-bit value), and
    # reproducible across independent runs of the same group
    assert isinstance(c1, int) and 0 <= c1 < CHECKSUM_MOD
    assert c1 == c2
  # the lineage JSON on disk round-trips the integer exactly
  lineage_dir = tmp_path / 'a' / '_lineage'
  disk = sorted((json.loads(p.read_text())
                 for p in lineage_dir.glob('group-*.json')),
                key=lambda d: d['group'])
  assert [d['metrics']['doc_set_checksum'] for d in disk] == \
      [r['metrics']['doc_set_checksum'] for r in l1]
  # and the checksum is the modular doc_id fingerprint sum it claims
  ids = [doc_id for doc_id, _ in docs]
  group_rows = spark.createDataFrame(
      [(i,) for i in ids], 'doc_id string').selectExpr(
      'doc_id', 'pmod(xxhash64(doc_id), 2) AS g').collect()
  per_group = {}
  for r in group_rows:
    g = r['g']  # groups=2: group g is part_bucket g
    per_group[g] = (per_group.get(g, 0)
                    + _md5_prefix_int(r['doc_id'], 15)) % CHECKSUM_MOD
  got = {r['group']: r['metrics']['doc_set_checksum'] for r in l1}
  assert got == per_group
