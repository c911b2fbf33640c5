"""Bloom-filter decontamination — the fixed-memory scale path.

`decontaminate` broadcasts the eval set's distinct n-grams as a string
dimension; at real multi-benchmark scale (10^8 grams) that broadcast is
GBs.  `bloom_decontaminate` compresses the eval side to an m-bit bitmap
(collect bounded by m_bits/64 bitmap words) and probes it with ONE
Arrow-batched mapInPandas stage over JVM-lowered text — no shuffle, no
join, no explode on the 100 TB training side.

Checks here:
  1. Bit-exact equality with a from-scratch DuckDB recomputation
     (md5-salted positions, position-set membership) at sf0.001 AND
     sf0.01 — proving the distributed build+probe implements exactly
     the deterministic Bloom semantics, INCLUDING its false positives.
  2. The Bloom guarantee: no false negatives vs exact `decontaminate`,
     with n_flagged >= n_shared per doc; a deliberately tiny filter
     (m_bits=2^12) must produce false positives (otherwise the test is
     vacuous) yet still never miss a true contamination — including a
     gram whose text Python and the JVM lowercase differently.
  3. Explicit eval_texts path (the production shape).
  4. Plan audit: exactly one ArrowEval/mapInPandas stage in the probe
     plan and no Exchange upstream of it.
"""

from __future__ import annotations

import duckdb
import pytest

from blueprint_oss_spark.ops import curation as C
from blueprint_oss_spark.spark.sources import documents

SF1 = '/root/testdata/sf0.001'
SF2 = '/root/testdata/sf0.01'


def _oracle_sql(m_bits: int, k: int, n: int = 8, eval_mod: int = 4) -> str:
  return rf"""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> len(x) > 0) AS toks
      FROM documents),
    g AS (
      SELECT DISTINCT doc_id,
             array_to_string(toks[i.i:i.i+{n - 1}], ' ') AS gram
      FROM d, (SELECT unnest(generate_series(1, 4096)) AS i) i
      WHERE i.i <= len(toks) - {n - 1}),
    gh AS (
      SELECT doc_id, gram,
             CAST(('0x' || substring(md5('bloom:' || gram), 1, 8))
                  AS BIGINT) AS h1,
             CAST(('0x' || substring(md5('bloom:' || gram), 9, 8))
                  AS BIGINT) * 2 + 1 AS h2
      FROM g),
    pos AS (
      SELECT doc_id, gram, j.j AS j,
             (h1 + j.j * h2) % {m_bits} AS pos
      FROM gh, (SELECT unnest(generate_series(0, {k - 1})) AS j) j),
    evpos AS (SELECT DISTINCT pos FROM pos WHERE doc_id % {eval_mod} = 0),
    tr AS (SELECT doc_id, gram, pos FROM pos
           WHERE doc_id % {eval_mod} <> 0),
    hit AS (
      SELECT doc_id, gram FROM tr JOIN evpos USING (pos)
      GROUP BY doc_id, gram HAVING count(*) = {k})
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_flagged
    FROM hit GROUP BY doc_id ORDER BY doc_id
  """


@pytest.mark.parametrize('sf', [SF1, SF2])
def test_bloom_matches_duckdb_oracle(spark, sf):
  con = duckdb.connect()
  con.execute(f"CREATE VIEW documents AS SELECT * FROM "
              f"read_parquet('{sf}/documents.parquet')")
  oracle = con.execute(_oracle_sql(1 << 20, 4)).df()
  got = C.bloom_decontaminate(documents(spark, sf), m_bits=1 << 20,
                              k=4).toPandas()
  assert list(got.columns) == ['doc_id', 'n_flagged']
  assert len(got) == len(oracle)
  assert got.reset_index(drop=True).equals(oracle.reset_index(drop=True))


def test_no_false_negatives_and_fp_rate(spark):
  # tiny filter -> false positives guaranteed; false negatives never
  exact = {r['doc_id']: r['n_shared']
           for r in C.decontaminate(documents(spark, SF1)).collect()}
  bloom = {r['doc_id']: r['n_flagged']
           for r in C.bloom_decontaminate(documents(spark, SF1),
                                          m_bits=1 << 12, k=2).collect()}
  assert set(exact) <= set(bloom), 'Bloom missed a true contamination'
  for did, n_shared in exact.items():
    assert bloom[did] >= n_shared
  assert len(bloom) > len(exact), (
      'tiny filter produced no false positives — the FP determinism '
      'check is vacuous; shrink m_bits')
  # DuckDB reproduces even this heavily-colliding configuration exactly
  con = duckdb.connect()
  con.execute(f"CREATE VIEW documents AS SELECT * FROM "
              f"read_parquet('{SF1}/documents.parquet')")
  oracle = con.execute(_oracle_sql(1 << 12, 2)).df()
  assert {int(r.doc_id): int(r.n_flagged)
          for r in oracle.itertuples()} == bloom


def test_explicit_eval_texts(spark):
  docs = spark.read.parquet(f'{SF1}/documents.parquet')
  eval_texts = docs.where('doc_id % 10 = 0').select('text')
  out = C.bloom_decontaminate(documents(spark, SF1),
                              eval_texts=eval_texts).toPandas()
  # every doc sharing its own text's grams with the eval slice flags
  # itself; the eval docs are part of the train side in this shape
  flagged = set(out['doc_id'])
  eval_ids = {r['doc_id'] for r in docs.where('doc_id % 10 = 0')
              .select('doc_id').collect()}
  long_eval = {r['doc_id'] for r in docs.where(
      "doc_id % 10 = 0 and size(filter(split(lower(trim(text)), "
      "'\\\\s+'), x -> length(x) > 0)) >= 8").select('doc_id').collect()}
  assert long_eval, 'fixture regression: no eval doc has >= 8 tokens'
  assert long_eval <= flagged, 'eval docs must self-flag'


def test_probe_plan_single_arrow_stage_no_shuffle(spark):
  plan = C.bloom_decontaminate(documents(spark, SF1))._jdf.queryExecution() \
      .executedPlan().toString()
  # exactly one Python/Arrow eval stage in the whole probe plan
  n_arrow = plan.count('MapInPandas')
  assert n_arrow == 1, plan
  # upstream of the Arrow probe, the ONLY allowed exchange is the
  # metadata-guarded single-split round-robin spread (_spread — fires
  # at toy scale where the corpus is one parquet split, never at
  # 100 TB); no hash/range exchange, i.e. no data shuffle
  probe_part = plan.split('MapInPandas', 1)[-1]
  ex_lines = [ln for ln in probe_part.splitlines() if 'Exchange' in ln]
  assert len(ex_lines) <= 1, probe_part
  assert all('roundrobin' in ln.lower() for ln in ex_lines), probe_part


def test_jvm_lowering_no_false_negative(spark):
  # Spark's lower and CPython's str.lower disagree on a few code
  # points: U+A7CB lowers to U+0264 on the JVM only.  Both Arrow stages
  # take the JVM-lowered text, the same tokens `decontaminate` builds,
  # so a gram it finds is never missed.
  words = ' alpha beta gamma delta epsilon zeta eta'
  eval_texts = spark.createDataFrame([('ɤ' + words,)], 'text string')
  docs = spark.createDataFrame(
      [(1, 'Ɤ' + words), (2, 'one two three four five six seven')],
      'doc_id long, text string')
  exact = {r['doc_id'] for r in C.decontaminate(
      docs, eval_texts=eval_texts).collect()}
  bloom = {r['doc_id'] for r in C.bloom_decontaminate(
      docs, eval_texts=eval_texts).collect()}
  assert exact == {1}
  assert bloom == exact
