"""Structured Streaming extraction: file-source stream in, parquet out,
results identical to the batch engine; checkpoint resume processes only
new files."""

import collections
import os
import pathlib

from blueprint_oss_spark.engine.runner import run_doc
from blueprint_oss_spark.fixtures import readme_blueprint, readme_corpus
from blueprint_oss_spark.spark.pipeline import SPANS_SCHEMA
from blueprint_oss_spark.spark.streaming import start_extraction_stream


def _write_batch(spark, docs, path):
  rows = [(doc_id,
           [{'kind': k, 'text': t, 'media_ref': m, 'offset': o}
            for (k, t, m, o) in spans])
          for doc_id, spans in docs]
  spark.createDataFrame(rows, SPANS_SCHEMA).coalesce(1) \
      .write.mode('append').parquet(path)


def test_streaming_extraction_matches_batch(spark, tmp_path):
  in_dir = str(tmp_path / 'in')
  out_dir = str(tmp_path / 'out')
  ckpt = str(tmp_path / 'ckpt')
  os.makedirs(in_dir, exist_ok=True)
  docs = readme_corpus(8, seed=303)
  root = readme_blueprint()

  _write_batch(spark, docs[:4], in_dir)
  q = start_extraction_stream(spark, in_dir, out_dir, ckpt, root,
                              trigger_once=True)
  assert q.awaitTermination(300)
  got1 = {r['doc_id'] for r in spark.read.parquet(out_dir).collect()}
  assert got1 == {d for d, _ in docs[:4]}

  # new files land; restart with same checkpoint → only new docs
  _write_batch(spark, docs[4:], in_dir)
  q = start_extraction_stream(spark, in_dir, out_dir, ckpt, root,
                              trigger_once=True)
  assert q.awaitTermination(300)
  rows = spark.read.parquet(out_dir).collect()
  assert len(rows) == 8  # no duplicates from reprocessing
  by_id = {r['doc_id']: r for r in rows}
  for doc_id, spans in docs:
    local = run_doc(doc_id, spans, root)
    assert by_id[doc_id]['fields'] == local['fields']


def test_stateful_multipart_assembly_across_restarts(spark, tmp_path):
  """applyInPandasWithState document assembly: parts land in different
  micro-batches (different query RUNS, even), out of order, with a
  duplicate delivery — each doc is emitted exactly once, fully
  assembled, spans restored to offset order; state survives the
  restart via the checkpoint; a doc whose part never arrives surfaces
  as a partial once the event-time watermark passes its timeout."""
  import datetime

  from blueprint_oss_spark.spark.streaming import (
      MULTIPART_SCHEMA, assemble_multipart_stream)

  in_dir = str(tmp_path / 'parts_in')
  out_dir = str(tmp_path / 'parts_out')
  ckpt = str(tmp_path / 'parts_ckpt')
  os.makedirs(in_dir, exist_ok=True)
  docs = readme_corpus(6, seed=404, with_media=False)
  T0 = datetime.datetime(2026, 1, 1, 12, 0, 0)

  def span_dicts(sp):
    return [{'kind': k, 'text': t, 'media_ref': m, 'offset': o}
            for (k, t, m, o) in sp]

  def part_rows(which, doc_subset, ts):
    rows = []
    for doc_id, spans in doc_subset:
      half = len(spans) // 2
      parts = {0: spans[:half], 1: spans[half:]}
      for p, sp in parts.items():
        if (p == 0) == (which == 'first'):
          rows.append((doc_id, p, 2, span_dicts(sp), ts))
    return rows

  def run_once():
    stream = (spark.readStream.schema(MULTIPART_SCHEMA)
              .parquet(in_dir))
    # watermark_delay bounds how LATE a part may arrive (parts older
    # than the watermark are dropped as late data); 1 h covers the
    # cross-run arrival spread here
    q = (assemble_multipart_stream(stream, timeout_ms=3_600_000,
                                   watermark_delay='1 hour')
         .writeStream.format('parquet')
         .option('path', out_dir)
         .option('checkpointLocation', ckpt)
         .outputMode('append')
         .trigger(availableNow=True).start())
    assert q.awaitTermination(300), 'availableNow query must terminate'

  def _append(rows):
    spark.createDataFrame(rows, MULTIPART_SCHEMA).coalesce(1) \
        .write.mode('append').parquet(in_dir)

  # run 1: only part 1 (out of order) of every doc, plus duplicates
  first = part_rows('second', docs, T0) + part_rows('second', docs, T0)[:2]
  _append(first)
  run_once()
  # nothing complete yet — state is waiting.  A sink that never got a
  # row may hold no data file (a missing or empty directory); any
  # other sink must read back empty
  if any(pathlib.Path(out_dir).glob('*.parquet')):
    assert spark.read.parquet(out_dir).count() == 0

  # run 2 (a NEW query run): part 0 for five docs; doc 5 stays
  # incomplete.  A watermark-pusher part 3h later advances the
  # watermark (ts - 1h delay = T0+2h) past doc 5's T0+1h timeout.
  push1 = ('wm-pusher', 0, 9, [],
           T0 + datetime.timedelta(hours=3))
  _append(part_rows('first', docs[:5], T0) + [push1])
  run_once()

  # run 3: another pusher batch gives the timed-out state a batch to
  # fire in (watermark evaluation lags one batch)
  push2 = ('wm-pusher', 1, 9, [],
           T0 + datetime.timedelta(hours=4))
  _append([push2])
  run_once()

  rows = [r for r in spark.read.parquet(out_dir).collect()
          if r['doc_id'] != 'wm-pusher']
  by_id = {r['doc_id']: r for r in rows}
  assert len(rows) == 6, sorted(by_id)  # exactly once per doc
  for i, (doc_id, spans) in enumerate(docs):
    r = by_id[doc_id]
    got = [(s['kind'], s['text'], s['media_ref'], s['offset'])
           for s in r['spans']]
    if i < 5:
      assert r['complete'] and r['n_parts_seen'] == 2
      assert got == sorted(spans, key=lambda s: s[3])
    else:
      # the straggler doc surfaced as a partial: only part 1 arrived
      assert not r['complete'] and r['n_parts_seen'] == 1
      half = len(spans) // 2
      assert got == sorted(spans[half:], key=lambda s: s[3])


def test_windowed_metrics_shape(spark):
  """The watermarked window aggregation (batch-mode check of the same
  expression tree the stream runs)."""
  import datetime

  from blueprint_oss_spark.spark.streaming import \
      windowed_extraction_metrics

  base = datetime.datetime(2026, 1, 1, 12, 0, 0)
  rows = [(f'd{i}', base + datetime.timedelta(seconds=20 * i),
           None if i % 3 else 'timeout', float(10 + i))
          for i in range(9)]
  df = spark.createDataFrame(
      rows, 'doc_id string, ts timestamp, error string, '
            'elapsed_ms double')
  out = windowed_extraction_metrics(df).orderBy('window').collect()
  assert len(out) == 3  # 9 rows * 20s = 3 one-minute windows
  assert [r['docs'] for r in out] == [3, 3, 3]
  assert sum(r['errors'] for r in out) == 3


def test_session_window_shape(spark):
  """Session windows split on >gap quiet periods (batch-mode check of
  the same expression tree the stream runs)."""
  import datetime

  from blueprint_oss_spark.spark.streaming import \
      sessionized_doc_activity

  base = datetime.datetime(2026, 1, 1, 9, 0, 0)
  offsets = [0, 30, 70, 600, 640, 2000]  # bursts: 3 docs, 2 docs, 1 doc
  rows = [(f'd{i}', base + datetime.timedelta(seconds=o),
           'timeout' if i == 3 else None, 5.0)
          for i, o in enumerate(offsets)]
  df = spark.createDataFrame(
      rows, 'doc_id string, ts timestamp, error string, '
            'elapsed_ms double')
  out = sessionized_doc_activity(df).orderBy('session_window').collect()
  assert [r['docs'] for r in out] == [3, 2, 1]
  assert [r['errors'] for r in out] == [0, 1, 0]


def test_streaming_dedup_within_watermark(spark, tmp_path):
  """dropDuplicatesWithinWatermark content dedup: duplicate deliveries
  of the same document — in the same micro-batch, in a later batch of
  the same run, and replayed after a query RESTART — all collapse to
  one emitted row while the duplicates fall inside the watermark
  horizon; distinct contents all pass through."""
  import datetime

  from blueprint_oss_spark.spark.streaming import dedup_span_stream

  in_dir = str(tmp_path / 'in')
  out_dir = str(tmp_path / 'out')
  ckpt = str(tmp_path / 'ckpt')
  os.makedirs(in_dir, exist_ok=True)

  schema = 'doc_id string, spans array<struct<kind:string,text:string,' \
           'media_ref:string,offset:int>>, ts timestamp'
  base = datetime.datetime(2026, 1, 1, 8, 0, 0)

  def spans_for(tag):
    return [{'kind': 'text', 'text': f'w{tag}', 'media_ref': '',
             'offset': 7}]

  def write(rows):
    spark.createDataFrame(rows, schema).coalesce(1) \
        .write.mode('append').parquet(in_dir)

  def run_once():
    stream = (spark.readStream.schema(schema)
              .option('maxFilesPerTrigger', 1).parquet(in_dir))
    q = (dedup_span_stream(stream, watermark='10 minutes')
         .writeStream.format('parquet')
         .option('path', out_dir).option('checkpointLocation', ckpt)
         .trigger(availableNow=True).start())
    assert q.awaitTermination(300)

  # batch 1: doc A twice (same content), doc B once
  write([('A', spans_for('a'), base),
         ('A', spans_for('a'), base + datetime.timedelta(seconds=5)),
         ('B', spans_for('b'), base + datetime.timedelta(seconds=10))])
  run_once()
  got = [r['doc_id'] for r in spark.read.parquet(out_dir).collect()]
  assert sorted(got) == ['A', 'B']

  # restart: A replayed again (inside watermark) + new doc C — state in
  # the checkpoint still suppresses A
  write([('A', spans_for('a'), base + datetime.timedelta(seconds=20)),
         ('C', spans_for('c'), base + datetime.timedelta(seconds=30))])
  run_once()
  got = [r['doc_id'] for r in spark.read.parquet(out_dir).collect()]
  assert sorted(got) == ['A', 'B', 'C']


def test_streaming_incremental_dedup_matches_batch(spark, tmp_path,
                                                   uncommit_last_batch):
  """foreachBatch incremental dedup: each micro-batch's verdicts equal
  the batch operator's over the same increment, a checkpointed restart
  processes only newly-landed files (no re-emitted verdicts), and a
  batch replayed after a crash before its commit does not land its
  verdicts twice."""
  from blueprint_oss_spark.ops.textops import incremental_dedup
  from blueprint_oss_spark.spark.streaming import (
      start_incremental_dedup_stream,
  )

  in_dir = str(tmp_path / 'inc_in')
  out_dir = str(tmp_path / 'inc_out')
  ckpt = str(tmp_path / 'inc_ckpt')
  os.makedirs(in_dir, exist_ok=True)

  corpus = spark.createDataFrame(
      [(100, 'alpha beta gamma delta epsilon zeta'),
       (200, 'one two three four five six seven'),
       (300, 'totally different corpus text body here')],
      'doc_id long, text string').cache()
  inc1 = [(1, 'alpha beta gamma delta epsilon zeta'),   # exact → 100
          (2, 'one two three four five six'),           # near  → 200
          (3, 'nothing shared with any stored doc')]    # new
  inc2 = [(4, 'totally different corpus text body here'),  # exact → 300
          (5, 'brand new material again entirely')]        # new

  spark.createDataFrame(inc1, 'doc_id long, text string') \
      .coalesce(1).write.mode('append').parquet(in_dir)
  q = start_incremental_dedup_stream(spark, in_dir, corpus, out_dir,
                                     ckpt, trigger_once=True,
                                     threshold=0.3)
  assert q.awaitTermination(300)
  got1 = spark.read.parquet(out_dir).collect()
  assert {r['doc_id'] for r in got1} == {1, 2, 3}

  spark.createDataFrame(inc2, 'doc_id long, text string') \
      .coalesce(1).write.mode('append').parquet(in_dir)
  q = start_incremental_dedup_stream(spark, in_dir, corpus, out_dir,
                                     ckpt, trigger_once=True,
                                     threshold=0.3)
  assert q.awaitTermination(300)
  rows = spark.read.parquet(out_dir).collect()
  assert len(rows) == 5  # restart did not reprocess increment 1
  by_id = {r['doc_id']: r for r in rows}

  # every verdict equals the batch operator's on the same increment
  for inc in (inc1, inc2):
    b = spark.createDataFrame(inc, 'doc_id long, text string')
    exp = {r['doc_id']: r for r in incremental_dedup(
        b, corpus, threshold=0.3).collect()}
    for doc_id, _ in inc:
      got, want = by_id[doc_id], exp[doc_id]
      assert (got['verdict'], got['match_id'], got['jac_r']) == \
          (want['verdict'], want['match_id'], want['jac_r']), doc_id
  assert by_id[1]['verdict'] == 'exact' and by_id[1]['match_id'] == 100
  assert by_id[2]['verdict'] == 'near' and by_id[2]['match_id'] == 200
  assert by_id[4]['verdict'] == 'exact' and by_id[4]['match_id'] == 300
  assert {by_id[3]['verdict'], by_id[5]['verdict']} == {'new'}

  last = uncommit_last_batch(ckpt)
  q = start_incremental_dedup_stream(spark, in_dir, corpus, out_dir,
                                     ckpt, trigger_once=True,
                                     threshold=0.3)
  assert q.awaitTermination(300)
  assert (pathlib.Path(ckpt) / 'commits' / str(last)).exists()  # replayed
  replayed = spark.read.parquet(out_dir).collect()
  assert collections.Counter(map(tuple, replayed)) \
      == collections.Counter(map(tuple, rows))
  corpus.unpersist()


def test_streaming_main_content_matches_batch(spark, tmp_path):
  """North-rule streaming twin: interleaved span files land, the
  stream strips boilerplate / parses / reassembles exactly like the
  batch operator; checkpoint restart processes only new files."""
  from blueprint_oss_spark.ops.html_extract import (
      interleaved_html_table, main_content_from_spans)

  in_dir = str(tmp_path / 'in')
  out_dir = str(tmp_path / 'out')
  ckpt = str(tmp_path / 'ckpt')
  os.makedirs(in_dir, exist_ok=True)
  src = interleaved_html_table(spark, '/root/testdata/sf0.001') \
      .limit(40).cache()
  first = src.where('doc_id % 2 = 0')
  second = src.where('doc_id % 2 = 1')
  first.coalesce(1).write.mode('append').parquet(in_dir)

  q = start_extraction_stream(spark, in_dir, out_dir, ckpt,
                              transform=main_content_from_spans,
                              trigger_once=True)
  assert q.awaitTermination(300)
  got1 = spark.read.parquet(out_dir)
  assert got1.count() == first.count()

  second.coalesce(1).write.mode('append').parquet(in_dir)
  q = start_extraction_stream(spark, in_dir, out_dir, ckpt,
                              transform=main_content_from_spans,
                              trigger_once=True)
  assert q.awaitTermination(300)
  got = spark.read.parquet(out_dir)
  assert got.count() == src.count()  # no reprocessing duplicates

  batch = main_content_from_spans(src)
  # span-sequence equality per doc_id (the north rule's invariant)
  def norm(df):
    return {r['doc_id']: [(s['kind'], s['text'], s['media_ref'],
                           s['order']) for s in r['out_spans']]
            for r in df.collect()}
  assert norm(got) == norm(batch)
  src.unpersist()
