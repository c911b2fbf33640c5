"""Spark-shell tests: the bulk pipeline must produce exactly what the
single-doc engine produces, and the resumable job must checkpoint."""

import json
import os
import sys
import time

import pytest
from pyspark.sql import functions as F

from blueprint_oss_spark.engine.runner import run_doc
from blueprint_oss_spark.fixtures import readme_blueprint, readme_corpus
from blueprint_oss_spark.spark import pipeline
from blueprint_oss_spark.spark.pipeline import (
    SPANS_SCHEMA, extract_documents, run_extraction_job,
    spans_from_documents,
)


def _spans_df(spark, docs):
  rows = [(doc_id,
           [{'kind': k, 'text': t, 'media_ref': m, 'offset': o}
            for (k, t, m, o) in spans])
          for doc_id, spans in docs]
  return spark.createDataFrame(rows, SPANS_SCHEMA)


def test_extract_documents_matches_local_engine(spark):
  docs = readme_corpus(20, seed=77)
  root = readme_blueprint()
  df = _spans_df(spark, docs)
  out = {r['doc_id']: r for r in
         extract_documents(df, root).collect()}
  assert len(out) == len(docs)
  for doc_id, spans in docs:
    local = run_doc(doc_id, spans, root)
    got = out[doc_id]
    assert got['error'] is None
    assert got['fields'] == local['fields']
    got_spans = [(s['kind'], s['text'], s['media_ref'], s['order'])
                 for s in got['out_spans']]
    assert got_spans == local['out_spans']
    assert got['score'] == pytest.approx(local['score'], rel=1e-12)


def test_extract_documents_plan_has_no_shuffle(spark):
  docs = readme_corpus(4, seed=78)
  df = _spans_df(spark, docs)
  out = extract_documents(df, readme_blueprint())
  plan = out._jdf.queryExecution().executedPlan().toString()
  assert 'Exchange' not in plan  # scan → mapInPandas pipelines, no shuffle


def test_spans_from_documents(spark):
  docs = (spark.read.parquet('/root/testdata/sf0.001/documents.parquet')
          .limit(20))
  spans = spans_from_documents(docs)
  rows = spans.collect()
  assert rows
  for r in rows:
    offsets = [s['offset'] for s in r['spans']]
    assert offsets == sorted(offsets)
    assert all(s['kind'] == 'text' for s in r['spans'])


def test_spans_from_documents_long_words_round_trip(spark):
  """The bulk ingest path must not silently drop content: every
  nonempty input token becomes exactly one span; words wider than a
  grid cell are truncated to 15 chars, never deleted."""
  texts = [
      ('d0', 'short tokens only here'),
      ('d1', 'a supercalifragilisticexpialidocious word plus '
             'internationalization and xx'),
      ('d2', 'x' * 64),
  ]
  docs = spark.createDataFrame(texts, 'doc_id string, text string')
  out = {r['doc_id']: r['spans']
         for r in spans_from_documents(docs).collect()}
  for doc_id, text in texts:
    words = [w for w in text.split(' ') if w]
    got = [s['text'] for s in out[doc_id]]
    assert len(got) == len(words), (doc_id, got)
    for w, g in zip(words, got):
      assert g == w[:15], (w, g)


def test_run_extraction_job_resume(spark, tmp_path):
  docs = readme_corpus(16, seed=79)
  root = readme_blueprint()
  df = _spans_df(spark, docs)
  out_path = str(tmp_path / 'out')

  lineage = run_extraction_job(spark, df, out_path, root, groups=2)
  assert len(lineage) == 2
  assert sum(r['metrics']['docs'] for r in lineage) == 16
  n1 = spark.read.parquet(out_path).count()
  assert n1 == 16

  # Resume: nothing left to do.
  lineage2 = run_extraction_job(spark, df, out_path, root, groups=2)
  assert lineage2 == []
  assert spark.read.parquet(out_path).count() == 16

  # Crash-replay: lineage for group 1 lost AFTER its data was written
  # (crash between data write and lineage write).  The re-run must
  # replace that group's partitions, not append duplicates.
  import os
  os.remove(str(tmp_path / 'out' / '_lineage' / 'group-1.json'))
  before = {r['doc_id']: r['score']
            for r in spark.read.parquet(out_path).collect()}
  lineage3 = run_extraction_job(spark, df, out_path, root, groups=2)
  assert [r['group'] for r in lineage3] == [1]
  after_rows = spark.read.parquet(out_path).collect()
  assert len(after_rows) == 16  # no duplicates
  assert {r['doc_id']: r['score'] for r in after_rows} == before


def test_run_extraction_job_one_partition_per_group(spark, tmp_path):
  """Group g is exactly the output partition part_bucket=g =
  pmod(xxhash64(doc_id), groups): a group writes one file per task,
  ceil(splits / groups) of them, and every row equals the in-process
  engine's."""
  docs = readme_corpus(12, seed=81)
  root = readme_blueprint()
  inp = str(tmp_path / 'in')
  _spans_df(spark, docs).repartition(2).write.parquet(inp)
  assert len([f for f in os.listdir(inp) if f.endswith('.parquet')]) == 2
  out_path = tmp_path / 'out'

  run_extraction_job(spark, spark.read.parquet(inp), str(out_path), root,
                     groups=2)
  dirs = sorted(d for d in os.listdir(out_path)
                if (out_path / d).is_dir() and d != '_lineage')
  assert dirs == ['part_bucket=0', 'part_bucket=1']
  for d in dirs:
    files = [f for f in os.listdir(out_path / d) if f.endswith('.parquet')]
    assert len(files) == 1, (d, files)

  rows = (spark.read.parquet(str(out_path))
          .withColumn('want', F.pmod(F.xxhash64('doc_id'), F.lit(2)))
          .collect())
  assert sorted(r['doc_id'] for r in rows) == sorted(d for d, _ in docs)
  assert all(r['part_bucket'] == r['want'] for r in rows)
  got = {r['doc_id']: r for r in rows}
  for doc_id, spans in docs:
    local = run_doc(doc_id, spans, root)
    r = got[doc_id]
    assert r['error'] is None
    assert r['fields'] == local['fields']
    assert [(s['kind'], s['text'], s['media_ref'], s['order'])
            for s in r['out_spans']] == local['out_spans']
    assert r['score'] == local['score']
    assert (r['n_entities'], r['n_words']) == \
        (local['n_entities'], local['n_words'])


def test_run_extraction_job_resume_refuses_other_layout(spark, tmp_path):
  """A group index names the same documents only under the same
  `groups`: resuming with another value must raise, not skip groups
  by index (which would drop documents or write them twice)."""
  df = _spans_df(spark, readme_corpus(8, seed=82))
  root = readme_blueprint()
  out_path = str(tmp_path / 'out')
  lineage = run_extraction_job(spark, df, out_path, root, groups=2)
  assert [r['groups'] for r in lineage] == [2, 2]
  lineage_dir = tmp_path / 'out' / '_lineage'
  os.remove(str(lineage_dir / 'group-1.json'))
  with pytest.raises(ValueError) as e:
    run_extraction_job(spark, df, out_path, root, groups=4)
  msg = str(e.value)
  assert 'group-0.json' in msg and 'groups=2' in msg and 'groups=4' in msg

  # lineage without `groups` is the older bucket-range layout (the
  # rewrite drops the local FS's checksum file with the old bytes)
  os.remove(str(lineage_dir / '.group-0.json.crc'))
  (lineage_dir / 'group-0.json').write_text(
      '{"group": 0, "bucket_lo": 0, "bucket_hi": 32, "metrics": {}}')
  with pytest.raises(ValueError, match='groups=None'):
    run_extraction_job(spark, df, out_path, root, groups=2)


def _group_of(part, groups):
  """The checkpoint group whose documents the non-empty `part` holds."""
  [row] = (part.select(F.pmod(F.xxhash64('doc_id'), F.lit(groups))
                       .alias('g')).limit(1).collect())
  return row['g']


def _job_output(spark, out):
  """(rows, {group: doc_set_checksum}) of a finished job's output."""
  rows = sorted(
      (r['doc_id'], r['part_bucket'], r['score'], r['error'],
       sorted(r['fields'].items()), [tuple(s) for s in r['out_spans']])
      for r in spark.read.parquet(str(out)).collect())
  lineage = [json.loads(p.read_text())
             for p in (out / '_lineage').glob('group-*.json')]
  return rows, {d['group']: d['metrics']['doc_set_checksum']
                for d in lineage}


def test_run_extraction_job_failed_group_resumes(spark, tmp_path):
  """One group fails while the others run concurrently: the job raises,
  the finished groups keep their partitions and lineage, and a rerun
  processes only the failed group, ending at the rows and per-group
  doc_set_checksums of an uninterrupted run."""
  df = _spans_df(spark, readme_corpus(24, seed=83))
  root = readme_blueprint()
  out = tmp_path / 'out'
  others = [out / '_lineage' / f'group-{g}.json' for g in (0, 1, 3)]

  def transform(part):
    g = _group_of(part, 4)
    if g == 2:
      # fail once the other groups are done, so the failure cancels
      # none of them
      deadline = time.monotonic() + 120
      while (not all(p.exists() for p in others)
             and time.monotonic() < deadline):
        time.sleep(0.1)
      raise RuntimeError(f'planted failure in group {g}')
    return extract_documents(part, root)

  with pytest.raises(RuntimeError, match='planted failure in group 2'):
    run_extraction_job(spark, df, str(out), transform=transform, groups=4)
  assert sorted(p.name for p in (out / '_lineage').glob('group-*.json')) \
      == ['group-0.json', 'group-1.json', 'group-3.json']
  assert sorted(d for d in os.listdir(out) if d.startswith('part_')) == \
      ['part_bucket=0', 'part_bucket=1', 'part_bucket=3']

  redo = run_extraction_job(spark, df, str(out), root, groups=4)
  assert [r['group'] for r in redo] == [2]
  clean = tmp_path / 'clean'
  run_extraction_job(spark, df, str(clean), root, groups=4)
  rows, checksums = _job_output(spark, out)
  assert len(rows) == 24 and sorted(checksums) == [0, 1, 2, 3]
  assert (rows, checksums) == _job_output(spark, clean)


def _stall(doc_id):
  time.sleep(30)
  return doc_id


def test_run_extraction_job_failure_cancels_groups_in_flight(spark,
                                                             tmp_path):
  """A failing group cancels the group still in flight instead of
  waiting it out, and the cancelled group leaves no lineage."""
  df = _spans_df(spark, readme_corpus(8, seed=84))
  out = tmp_path / 'out'
  stall = F.udf(_stall, 'string')

  def transform(part):
    if _group_of(part, 2) == 0:
      return part.select(stall('doc_id').alias('doc_id'))
    raise RuntimeError('planted failure')

  t0 = time.monotonic()
  with pytest.raises(RuntimeError, match='planted failure'):
    run_extraction_job(spark, df, str(out), transform=transform, groups=2)
  assert time.monotonic() - t0 < 25
  assert not list((out / '_lineage').glob('group-*.json'))


def test_run_extraction_job_compiles_and_broadcasts_once(spark, tmp_path,
                                                        monkeypatch):
  """A 4-group job compiles and broadcasts its blueprint once, hands
  every group that one broadcast, and destroys it when the groups
  return, on success and on failure."""
  df = _spans_df(spark, readme_corpus(16, seed=86))
  root = readme_blueprint()
  compiles, seen, fail = [], [], []
  compile_blueprint = pipeline.compile_blueprint
  extract_documents = pipeline.extract_documents

  def counted_compile(r):
    compiles.append(r)
    return compile_blueprint(r)

  def recorded_extract(part, blueprint, **kw):
    seen.append(blueprint)
    if fail:
      raise RuntimeError('planted failure')
    return extract_documents(part, blueprint, **kw)

  monkeypatch.setattr(pipeline, 'compile_blueprint', counted_compile)
  monkeypatch.setattr(pipeline, 'extract_documents', recorded_extract)
  lineage = run_extraction_job(spark, df, str(tmp_path / 'ok'), root,
                               groups=4)
  assert sum(r['metrics']['docs'] for r in lineage) == 16
  assert len(compiles) == 1
  assert len(seen) == 4 and all(b is seen[0] for b in seen)
  assert not os.path.exists(seen[0]._path)  # destroyed

  compiles.clear()
  seen.clear()
  fail.append(True)
  with pytest.raises(RuntimeError, match='planted failure'):
    run_extraction_job(spark, df, str(tmp_path / 'failed'), root, groups=4)
  assert len(compiles) == 1
  assert seen and all(b is seen[0] for b in seen)
  assert not os.path.exists(seen[0]._path)


def test_run_extraction_job_task_shape(spark, tmp_path):
  """Reading the split count runs no job, and an input that already
  has a shuffle keeps its partitions.  Each group is one job of
  ceil(splits / groups) tasks, under the caller's job group, and its
  write is a root SQL execution of its own."""
  inp = str(tmp_path / 'in')
  _spans_df(spark, readme_corpus(16, seed=85)).repartition(4) \
      .write.parquet(inp)
  scan = spark.read.parquet(inp)
  shuffled = scan.groupBy('doc_id').agg(F.first('spans').alias('spans'))
  sc = spark.sparkContext
  tracker = sc.statusTracker()
  try:
    sc.setJobGroup('split-count', 'split count')
    assert pipeline._split_count(scan) == 4
    assert pipeline._split_count(shuffled) is None
    assert list(tracker.getJobIdsForGroup('split-count')) == []
    sc.setJobGroup('task-shape', 'concurrent groups')
    lineage = run_extraction_job(spark, scan, str(tmp_path / 'out'),
                                 readme_blueprint(), groups=2)
  finally:
    sc._jsc.clearJobGroup()
  assert [r['group'] for r in lineage] == [0, 1]
  assert sum(r['metrics']['docs'] for r in lineage) == 16
  jobs = list(tracker.getJobIdsForGroup('task-shape'))
  stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
  assert [tracker.getStageInfo(s).numTasks for s in stages] == [2, 2]
  executions = {}
  it = spark._jsparkSession.sharedState().statusStore() \
      .executionsList().iterator()
  while it.hasNext():
    e = it.next()
    for j in jobs:
      if e.jobs().contains(j):
        executions[j] = (e.executionId(), e.rootExecutionId())
  assert len(executions) == 2
  assert len({e for e, _ in executions.values()}) == 2
  assert all(e == root_id for e, root_id in executions.values())


def test_run_extraction_job_iceberg_creates_before_overwrites(
    spark, tmp_path, monkeypatch):
  """Against an Iceberg table that does not exist yet, the first
  group's write (the create) returns before any other group's write
  starts; the other groups overwrite their partitions."""
  events = []

  def write(observed, table, create):
    events.append(('start', create))
    if create:
      time.sleep(0.5)
    observed.write.format('noop').mode('overwrite').save()
    events.append(('end', create))

  monkeypatch.setattr(pipeline, '_write_group_iceberg', write)
  monkeypatch.setattr(spark.catalog, 'tableExists', lambda name: False)
  lineage = run_extraction_job(
      spark, _spans_df(spark, readme_corpus(12, seed=86)),
      str(tmp_path / 'out'), readme_blueprint(), groups=3,
      iceberg_table='cat.db.extractions')
  assert [r['group'] for r in lineage] == [0, 1, 2]
  assert events[:2] == [('start', True), ('end', True)]
  assert sorted(events[2:]) == [('end', False)] * 2 + [('start', False)] * 2


_UNPINNED_RUN = r"""
import json, sys
from pyspark.sql import SparkSession
from blueprint_oss_spark.fixtures import readme_blueprint, readme_corpus
from blueprint_oss_spark.spark.pipeline import run_extraction_job, spans_frame
spark = (SparkSession.builder.master('local[2]')
         .config('spark.ui.enabled', 'false').getOrCreate())
lineage = run_extraction_job(
    spark, spans_frame(spark, readme_corpus(8, seed=87)), sys.argv[1],
    readme_blueprint(), groups=3)
print(json.dumps([r['metrics']['docs'] for r in lineage]))
spark.stop()
"""


def test_run_extraction_job_without_pinned_threads(tmp_path):
  """With py4j's pinned-thread mode off (PYSPARK_PIN_THREAD=false), the
  groups still run from driver threads."""
  import subprocess

  repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
  r = subprocess.run(
      [sys.executable, '-c', _UNPINNED_RUN, str(tmp_path / 'out')],
      capture_output=True, text=True, cwd=str(tmp_path), timeout=300,
      env={**os.environ, 'PYSPARK_PIN_THREAD': 'false',
           'PYTHONPATH': repo})
  assert r.returncode == 0, r.stderr
  assert sum(json.loads(r.stdout.splitlines()[-1])) == 8


_ZIP_PROBE = r"""
import importlib, json, os, sys, zipfile, zipimport
from blueprint_oss_spark.spark.pipeline import pin_spark_zip_importers
import py4j, pyspark
from pyspark.core.files import SparkFiles
zips = {m.__loader__.archive for m in (pyspark, py4j)
        if isinstance(m.__loader__, zipimport.zipimporter)}
assert zips, 'pyspark/py4j not imported from a zip'
# a stand-in SparkFiles root holding an addPyFile-style archive
SparkFiles._root_directory = os.path.abspath(sys.argv[1])
user_zip = os.path.join(SparkFiles._root_directory, 'user_dep.zip')
with zipfile.ZipFile(user_zip, 'w') as z:
  z.writestr('user_dep.py', 'VALUE = 1\n')
sys.path.append(user_zip)
import user_dep
assert user_dep.__loader__.archive == user_zip
reads = []
read_directory = zipimport._read_directory
def counting(archive):
  reads.append(archive)
  return read_directory(archive)
zipimport._read_directory = counting
importlib.invalidate_caches()
before = sorted(set(reads))
pin_spark_zip_importers()
pin_spark_zip_importers()
del reads[:]
importlib.invalidate_caches()
after = list(reads)
assert 'pyspark.streaming.util' not in sys.modules
import pyspark.streaming.util as late
pinned = sorted({f.archive for f in sys.path_importer_cache.values()
                 if isinstance(f, zipimport.zipimporter)
                 and 'invalidate_caches' in vars(f)})
print(json.dumps({'before': before, 'after': after, 'pinned': pinned,
                  'from_zip': 'pyspark.zip' in late.__file__,
                  'user_zip': user_zip}))
"""


def _spark_archives():
  """Spark's pyspark.zip, py4j zip and spark-core jar — the archives a
  Python worker's path holds — or a skip when they are not installed."""
  import glob

  import pyspark
  homes = [os.path.dirname(pyspark.__file__)]
  if os.environ.get('SPARK_HOME'):
    homes.append(os.environ['SPARK_HOME'])
  for home in homes:
    lib = os.path.join(home, 'python', 'lib')
    zips = (glob.glob(os.path.join(lib, 'pyspark.zip'))
            + glob.glob(os.path.join(lib, 'py4j-*-src.zip')))
    jars = glob.glob(os.path.join(home, 'jars', 'spark-core_*.jar'))
    if len(zips) == 2 and jars:
      return zips + jars[:1]
  pytest.skip("no pyspark.zip + py4j zip + spark-core jar under Spark's "
              "home")


def test_pin_spark_zip_importers(tmp_path):
  """After the worker-side helper, importlib.invalidate_caches() no
  longer re-reads the pyspark/py4j/spark-core archive directories, and a
  not-yet-imported pyspark module still imports from the zip.  An
  archive under the SparkFiles root stays unpinned and is re-read.  On
  CPython >= 3.13 (lazy invalidation) the helper changes nothing."""
  import json
  import subprocess

  archives = _spark_archives()
  repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
  user_root = tmp_path / 'userFiles'
  user_root.mkdir()
  r = subprocess.run(
      [sys.executable, '-c', _ZIP_PROBE, str(user_root)],
      capture_output=True, text=True, cwd=str(tmp_path), timeout=120,
      env={**os.environ,
           'PYTHONPATH': os.pathsep.join(archives + [repo])})
  assert r.returncode == 0, r.stderr
  got = json.loads(r.stdout.splitlines()[-1])
  assert got['from_zip']
  if sys.version_info >= (3, 13):
    assert got['pinned'] == []
    return
  # every Spark archive on the path was read before and is pinned now
  assert set(archives) <= set(got['before'])
  assert set(archives) <= set(got['pinned'])
  assert got['user_zip'] in got['before']
  assert got['user_zip'] not in got['pinned']
  assert got['after'] == [got['user_zip']]


def _zip_reads_in_task(batches):
  """mapInPandas probe: zip directory reads of one
  importlib.invalidate_caches() after the helper, inside a real task."""
  import importlib
  import zipimport

  import pandas as pd

  from blueprint_oss_spark.spark.pipeline import pin_spark_zip_importers

  for _ in batches:
    pass
  pin_spark_zip_importers()
  reads = []
  read_directory = zipimport._read_directory

  def counting(archive):
    reads.append(archive)
    return read_directory(archive)

  zipimport._read_directory = counting
  try:
    importlib.invalidate_caches()
  finally:
    zipimport._read_directory = read_directory
  unpinned = sorted({f.archive for f in sys.path_importer_cache.values()
                     if isinstance(f, zipimport.zipimporter)
                     and 'invalidate_caches' not in vars(f)})
  yield pd.DataFrame({'reads': [len(reads)],
                      'unpinned': [','.join(unpinned)]})


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason='invalidate_caches is lazy on CPython >= 3.13')
def test_pin_spark_zip_importers_in_spark_task(spark):
  """In a real Python worker, after the helper, the per-task
  importlib.invalidate_caches() reads no zip directory: the spark-core
  jar Spark puts on the worker's path is pinned along with pyspark.zip
  and py4j."""
  rows = (spark.range(1, numPartitions=1)
          .mapInPandas(_zip_reads_in_task, 'reads long, unpinned string')
          .collect())
  assert [(r['reads'], r['unpinned']) for r in rows] == [(0, '')]


def test_run_extraction_job_iceberg_contract(spark, tmp_path):
  """The Iceberg sink branch: with a table name but no Iceberg catalog
  on the session (the test session loads no Iceberg jars) the failure
  is a RuntimeError that names the required spark-submit setup — not a
  raw py4j traceback."""
  import pytest

  from blueprint_oss_spark.fixtures import readme_blueprint, readme_corpus

  docs = readme_corpus(4, seed=11)
  rows = [(d, [{'kind': k, 'text': t, 'media_ref': m, 'offset': o}
               for (k, t, m, o) in spans]) for d, spans in docs]
  df = spark.createDataFrame(rows, SPANS_SCHEMA)
  root = readme_blueprint()

  with pytest.raises(RuntimeError, match='Iceberg catalog'):
    run_extraction_job(spark, df, str(tmp_path / 'o2'), root,
                       groups=1, iceberg_table='nosuchcat.db.extractions')


def test_dedup_spans_keeps_min_doc_per_content(spark):
  """Exact pre-extraction dedup: duplicate span contents collapse to the
  min doc_id; unique docs pass through; extraction over the deduped
  table equals extraction over the keepers."""
  from blueprint_oss_spark.fixtures import readme_blueprint, readme_corpus
  from blueprint_oss_spark.spark.pipeline import dedup_spans

  docs = readme_corpus(6, seed=5)
  # duplicate doc 0's spans under two new ids, and doc 3's under one
  dup = [('zz-copy1', docs[0][1]), ('aa-copy2', docs[0][1]),
         ('mm-copy3', docs[3][1])]
  rows = [(d, [{'kind': k, 'text': t, 'media_ref': m, 'offset': o}
               for (k, t, m, o) in spans]) for d, spans in docs + dup]
  df = spark.createDataFrame(rows, SPANS_SCHEMA)
  out = dedup_spans(df)
  kept = sorted(r['doc_id'] for r in out.select('doc_id').collect())
  # doc 0's cluster: {readme-00000, zz-copy1, aa-copy2} → min is
  # 'aa-copy2'; doc 3's cluster keeps 'mm-copy3' vs 'readme-00003' → min
  assert 'aa-copy2' in kept and 'zz-copy1' not in kept
  assert 'readme-00000' not in kept
  assert 'mm-copy3' in kept and 'readme-00003' not in kept
  assert len(kept) == 6
  # extraction over the deduped table matches per-doc local runs
  from blueprint_oss_spark.engine.runner import run_doc
  root = readme_blueprint()
  by_id = {r['doc_id']: r for r in
           extract_documents(out, root).collect()}
  spans_by_id = dict(docs + dup)
  for doc_id in kept:
    local = run_doc(doc_id, spans_by_id[doc_id], root)
    assert by_id[doc_id]['fields'] == local['fields']


def test_run_job_with_main_content_transform(spark, tmp_path):
  """The checkpoint/lineage machinery generalizes to any doc-level
  transform: the main-content spans pipeline runs through
  run_extraction_job with per-group lineage + resume, and its output
  equals the direct (un-bucketed) run."""
  from blueprint_oss_spark.ops.html_extract import (
      interleaved_html_table, main_content_from_spans,
  )
  from blueprint_oss_spark.spark.pipeline import run_extraction_job

  inp = str(tmp_path / 'spans_in')
  interleaved_html_table(spark, '/root/testdata/sf0.001') \
      .limit(120).write.parquet(inp)
  src = spark.read.parquet(inp)
  out_path = str(tmp_path / 'mc_out')

  lineage = run_extraction_job(
      spark, src, out_path, transform=main_content_from_spans,
      groups=2)
  assert len(lineage) == 2
  assert sum(r['metrics']['docs'] for r in lineage) == 120
  assert all(r['metrics']['errors'] == 0 for r in lineage)

  got = {r['doc_id']: [(s['kind'], s['text'], s['media_ref'],
                        s['order']) for s in r['out_spans']]
         for r in spark.read.parquet(out_path).collect()}
  want = {r['doc_id']: [(s['kind'], s['text'], s['media_ref'],
                         s['order']) for s in r['out_spans']]
          for r in main_content_from_spans(src).collect()}
  assert got == want and len(got) == 120

  # resume: everything checkpointed, nothing re-runs
  assert run_extraction_job(
      spark, src, out_path, transform=main_content_from_spans,
      groups=2) == []

  # crash recovery: drop one group's lineage -> only it re-runs,
  # and the dynamic partition overwrite leaves no duplicates
  import os
  os.remove(f'{out_path}/_lineage/group-1.json')
  redo = run_extraction_job(
      spark, src, out_path, transform=main_content_from_spans,
      groups=2)
  assert [r['group'] for r in redo] == [1]
  assert spark.read.parquet(out_path).count() == 120


def test_main_content_job_contains_malformed_documents(spark, tmp_path):
  """A null spans array, a null span and a null offset each become an
  error row (out_spans=[], n_html=0, `malformed: …`) instead of failing
  the task: the job over them and good documents finishes, the good
  documents are untouched, and the lineage counts the three."""
  from blueprint_oss_spark.ops.html_extract import (
      main_content_doc, main_content_from_spans,
  )
  from blueprint_oss_spark.spark.pipeline import (
      SPANS_SCHEMA, run_extraction_job,
  )

  def span(kind, text, offset, media_ref=None):
    return {'kind': kind, 'text': text, 'media_ref': media_ref,
            'offset': offset}

  good = {
      'good-0': [span('html', '<body><p>alpha beta gamma</p></body>', 0),
                 span('media', None, 1, 'm/1')],
      'good-1': [span('text', '  plain   text ', 0)],
  }
  bad = {
      'null-spans': None,
      'null-span': [span('text', 'x', 0), None],
      'null-offset': [span('text', 'x', None)],
  }
  src = spark.createDataFrame(list({**good, **bad}.items()), SPANS_SCHEMA)
  out_path = str(tmp_path / 'mc_bad')

  lineage = run_extraction_job(spark, src, out_path,
                               transform=main_content_from_spans, groups=2)
  metrics = [r['metrics'] for r in lineage]
  assert sum(m['docs'] for m in metrics) == 5
  assert sum(m['errors_malformed'] for m in metrics) == 3
  assert sum(m['errors'] for m in metrics) == 3

  rows = {r['doc_id']: r for r in spark.read.parquet(out_path).collect()}
  for doc_id in bad:
    r = rows[doc_id]
    assert r['out_spans'] == [] and r['n_html'] == 0
    assert r['error'].startswith('malformed: '), r['error']
  for doc_id, spans in good.items():
    want_spans, want_html = main_content_doc(spans)
    r = rows[doc_id]
    assert r['error'] is None
    assert r['n_html'] == want_html
    assert [s.asDict() for s in r['out_spans']] == want_spans


def test_span_budget_is_checked_before_the_spans():
  """An array over the span budget is a budget trip before any span is
  read, so an oversized document costs O(1) whatever its spans hold;
  within the budget the per-span contract still holds."""
  from blueprint_oss_spark.engine.solver import SolverBudgetError
  with pytest.raises(SolverBudgetError):
    pipeline.check_spans([None] * 3, 2)
  with pytest.raises(ValueError, match='null span'):
    pipeline.check_spans([None] * 2, 2)
