"""Structured Streaming: the batch job's stages applied to file-source
streams.

One job shape.  Every stream reads parquet files landing in a directory
(`_read_stream`, maxFilesPerTrigger-bounded micro-batches) and starts
through one checkpointed sink (`_start`): a parquet path, or a
foreachBatch function for sinks that need batch scope.  Restarting with
the same checkpoint resumes exactly-once; `trigger_once` (availableNow)
drains the current backlog and stops.

  * start_extraction_stream — the doc-level transform of
    run_extraction_job (blueprint extraction from `root=`, or any
    `transform=` such as ops/html_extract.main_content_from_spans) over
    a stream of (doc_id, spans) documents.  The transform is stateless
    per document, so it composes with any streaming source and sink.
    The reference has no streaming path (its CLI loop is serial,
    bp/cli/run_model.py:123-147).
  * start_incremental_dedup_stream, start_validation_stream,
    start_rollup_stream — foreachBatch around the batch operators.
  * start_attribution_join_stream — a watermarked stream-stream join.

Stateful surface:
  * assemble_multipart_stream — documents whose parts (pages) land in
    DIFFERENT micro-batches, possibly out of order.  Custom
    applyInPandasWithState operator keyed by doc_id: state accumulates
    span fragments until all n_parts arrived (emit assembled doc) or
    the event-time timeout fires (emit what arrived, flagged partial —
    a straggler page must not pin state forever).
  * dedup_span_stream — content dedup within a watermark horizon.
  * windowed_extraction_metrics — event-time windowed quality metrics
    over the extraction output with a watermark so late rows update
    the right window and state is eventually evicted.
  * sessionized_doc_activity — dynamic session windows (gap-separated
    activity bursts) with the same watermark-bounded state.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator, Optional, Tuple, Union

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import (
    GroupState, GroupStateTimeout,
)
from pyspark.sql.types import (
    ArrayType, BooleanType, DoubleType, IntegerType, LongType,
    StringType, StructField, StructType, TimestampType,
)

from ..model.nodes import Node
from .pipeline import SPAN_STRUCT, SPANS_SCHEMA, job_transform


def _read_stream(spark: SparkSession, schema: StructType, input_dir: str,
                 max_files_per_trigger: int) -> DataFrame:
  """File-source stream of the parquet files landing in input_dir."""
  return (spark.readStream
          .schema(schema)
          .option('maxFilesPerTrigger', max_files_per_trigger)
          .parquet(input_dir))


def _start(stream: DataFrame,
           sink: Union[str, Callable[[DataFrame, int], None]],
           checkpoint_dir: str, trigger_once: bool) -> StreamingQuery:
  """Start `stream` into `sink` — an append-mode parquet output
  directory, or a foreachBatch function (batch_df, batch_id) for sinks
  that need batch scope — checkpointed in checkpoint_dir."""
  writer = (stream.writeStream
            .option('checkpointLocation', checkpoint_dir)
            .outputMode('append'))
  if callable(sink):
    writer = writer.foreachBatch(sink)
  else:
    writer = writer.format('parquet').option('path', sink)
  if trigger_once:
    writer = writer.trigger(availableNow=True)
  return writer.start()


def _write_batch(df: DataFrame, batch_id: int, path: str) -> None:
  """Idempotent foreachBatch sink: the batch's rows land in
  `path/batch_id=<id>/` and replace that partition only (dynamic
  overwrite, the run_extraction_job idiom).  foreachBatch is
  at-least-once — a crash between a batch's write and its checkpoint
  commit replays the batch — so an append would land its rows twice.
  A sink that has received no rows yet holds no parquet file."""
  (df.withColumn('batch_id', F.lit(batch_id))
   .write.mode('overwrite')
   .option('partitionOverwriteMode', 'dynamic')
   .partitionBy('batch_id')
   .parquet(path))


def read_span_stream(spark: SparkSession, input_dir: str,
                     max_files_per_trigger: int = 16) -> DataFrame:
  """File-source stream of interleaved span documents (parquet files
  landing in input_dir)."""
  return _read_stream(spark, SPANS_SCHEMA, input_dir,
                      max_files_per_trigger)


def start_extraction_stream(spark: SparkSession, input_dir: str,
                            output_dir: str, checkpoint_dir: str,
                            root: Optional[Node] = None, *,
                            transform=None,
                            trigger_once: bool = False,
                            max_files_per_trigger: int = 16) \
    -> StreamingQuery:
  """File stream → transform → checkpointed parquet sink.

  The transform is resolved as in run_extraction_job: `transform` if
  given (e.g. main_content_from_spans, which strips boilerplate /
  parses PDFs / reassembles span sequences), else blueprint extraction
  with `root`.  Both are stateless Arrow-batched mapInPandas stages, so
  each micro-batch is the batch job over the files that landed, and a
  restart with the same checkpoint replays nothing already committed."""
  # the blueprint's broadcast lives as long as the stream
  transform, _ = job_transform(spark, root, transform)
  stream = read_span_stream(spark, input_dir, max_files_per_trigger)
  return _start(transform(stream), output_dir, checkpoint_dir,
                trigger_once)


# ---------------------------------------------------------------------------
# Stateful: multi-part document assembly (applyInPandasWithState).
# ---------------------------------------------------------------------------

MULTIPART_SCHEMA = StructType([
    StructField('doc_id', StringType()),
    StructField('part_no', IntegerType()),
    StructField('n_parts', IntegerType()),
    StructField('spans', ArrayType(SPAN_STRUCT)),
    StructField('ts', TimestampType()),   # part arrival event time
])

ASSEMBLED_SCHEMA = StructType([
    StructField('doc_id', StringType()),
    StructField('spans', ArrayType(SPAN_STRUCT)),
    StructField('n_parts_seen', IntegerType()),
    StructField('n_parts_expected', IntegerType()),
    StructField('complete', BooleanType()),
])

# State: which parts arrived + their flattened spans.  Span structs are
# flattened into parallel arrays because state columns must be
# Arrow-serializable scalars/arrays.
_ASSEMBLY_STATE_SCHEMA = StructType([
    StructField('n_parts', IntegerType()),
    StructField('last_ev_ms', LongType()),  # newest part event time
    StructField('part_nos', ArrayType(IntegerType())),
    StructField('kinds', ArrayType(StringType())),
    StructField('texts', ArrayType(StringType())),
    StructField('media_refs', ArrayType(StringType())),
    StructField('offsets', ArrayType(IntegerType())),
    StructField('span_part', ArrayType(IntegerType())),
])


def _assemble_doc(key: Tuple[str], pdfs: Iterable[pd.DataFrame],
                  state: GroupState,
                  timeout_ms: int = 3_600_000) \
    -> Iterator[pd.DataFrame]:
  """Stateful assembly for one doc_id (see assemble_multipart_stream)."""
  if state.hasTimedOut:
    (n_parts, _last_ev, part_nos, kinds, texts, media_refs, offsets,
     _span_part) = state.get
    complete = False
  else:
    if state.exists:
      (n_parts, last_ev_ms, part_nos, kinds, texts, media_refs, offsets,
       span_part) = (list(v) if isinstance(v, (list, tuple)) else v
                     for v in state.get)
    else:
      n_parts = 0
      last_ev_ms = 0
      part_nos, kinds, texts, media_refs, offsets, span_part = \
          [], [], [], [], [], []

    for pdf in pdfs:
      for _, row in pdf.iterrows():
        p = int(row['part_no'])
        ts = row['ts']
        if ts is not None and not pd.isna(ts):
          # naive pandas timestamps are epoch-converted as UTC; run the
          # session with spark.sql.session.timeZone=UTC (the default in
          # this repo's entry points) so this agrees with the engine's
          # watermark domain
          last_ev_ms = max(last_ev_ms, int(ts.timestamp() * 1000))
        if p in part_nos:
          continue  # duplicate delivery — idempotent
        part_nos.append(p)
        n_parts = max(n_parts, int(row['n_parts']))
        for s in row['spans']:
          kinds.append(s['kind'])
          texts.append(s['text'])
          media_refs.append(s['media_ref'])
          offsets.append(int(s['offset']))
          span_part.append(p)

    if not (n_parts and len(set(part_nos)) >= n_parts):
      state.update((n_parts, last_ev_ms, part_nos, kinds, texts,
                    media_refs, offsets, span_part))
      # Event-time timeout anchored to the NEWEST part's event time —
      # fires once the stream watermark passes it.  Deterministic,
      # replayable, and (unlike a processing-time timeout) it cannot
      # make an availableNow query spin empty micro-batches forever
      # waiting for wall-clock time.  The max() keeps the timestamp
      # legal when the watermark has already overtaken a very late
      # part.
      state.setTimeoutTimestamp(
          max(last_ev_ms + timeout_ms,
              state.getCurrentWatermarkMs() + 1))
      return
    complete = True

  # emit exactly once: all parts arrived, or the timeout fired first
  state.remove()
  spans = sorted(zip(kinds, texts, media_refs, offsets),
                 key=lambda s: s[3])
  yield pd.DataFrame({
      'doc_id': [key[0]],
      'spans': [[{'kind': k, 'text': t, 'media_ref': m, 'offset': o}
                 for (k, t, m, o) in spans]],
      'n_parts_seen': [len(set(part_nos))],
      'n_parts_expected': [n_parts],
      'complete': [complete],
  })


def assemble_multipart_stream(parts_stream: DataFrame, *,
                              timeout_ms: int = 3_600_000,
                              watermark_delay: str = '10 minutes') \
    -> DataFrame:
  """Custom stateful operator: assemble documents whose parts (pages)
  arrive across micro-batches, out of order, with duplicate deliveries.

  Input rows: MULTIPART_SCHEMA (doc_id, part_no, n_parts, spans, ts).
  `watermark_delay` bounds how LATE a part may arrive relative to the
  newest event time seen: the engine drops stateful-operator input
  older than the watermark (standard late-data semantics), so size it
  to the expected cross-batch part-arrival spread.
  State per doc_id holds the flattened span fragments; a document is
  emitted exactly once — assembled, spans re-sorted by offset — when
  all parts arrived, or flagged `complete=false` when the EVENT-TIME
  timeout fires first: once the watermark (arrival `ts` minus
  `watermark_delay`) advances `timeout_ms` past the doc's last state
  update, a lost page surfaces the partial document instead of pinning
  state forever.  State lives in the streaming checkpoint, so assembly
  survives query restarts, and event-time timeouts replay
  deterministically."""
  import functools
  fn = functools.partial(_assemble_doc, timeout_ms=timeout_ms)
  return (parts_stream
          .withWatermark('ts', watermark_delay)
          .groupBy('doc_id')
          .applyInPandasWithState(
              fn,
              outputStructType=ASSEMBLED_SCHEMA,
              stateStructType=_ASSEMBLY_STATE_SCHEMA,
              outputMode='append',
              timeoutConf=GroupStateTimeout.EventTimeTimeout))


def dedup_span_stream(stream_df: DataFrame, *,
                      watermark: str = '10 minutes') -> DataFrame:
  """Streaming exact dedup for at-least-once sources: duplicate
  deliveries of the same document content (producer retries, replayed
  offsets) collapse to a single row via
  `dropDuplicatesWithinWatermark` on a content hash.

  Why this shape at 100 TB: plain `dropDuplicates` on a stream keeps
  one state row per key FOREVER — unbounded state on a continuous
  ingest.  The watermark variant evicts a key's state once event time
  (`ts`) passes `watermark`, bounding state to the duplicate-delivery horizon
  (retries arrive within minutes, not days).  The content hash is
  computed map-side from the canonical JSON of the span array, so the
  stateful operator shuffles only (hash, row) — the same
  hash-partitioned single shuffle exact dedup costs in batch
  (`ops/textops.dedup_exact`)."""
  hashed = stream_df.withColumn(
      'content_hash',
      F.md5(F.concat_ws('\x00', F.col('doc_id').cast('string'),
                        F.to_json(F.col('spans')))))
  return (hashed
          .withWatermark('ts', watermark)
          .dropDuplicatesWithinWatermark(['content_hash']))


def windowed_extraction_metrics(out_stream: DataFrame, *,
                                watermark: str = '30 seconds'
                                ) -> DataFrame:
  """Event-time (`ts`) windowed extraction-quality metrics with a
  watermark: docs, error count, mean per-doc latency per 1-minute
  tumbling window.  Late rows inside
  the watermark update their (correct) window; state for closed windows
  is evicted — the standard late-data pattern for a 100 TB ingest
  pipeline's health dashboard."""
  return (out_stream
          .withWatermark('ts', watermark)
          .groupBy(F.window(F.col('ts'), '1 minute'))
          .agg(F.count(F.lit(1)).alias('docs'),
               F.sum(F.when(F.col('error').isNotNull(), 1).otherwise(0))
               .alias('errors'),
               F.avg('elapsed_ms').alias('avg_elapsed_ms')))


def sessionized_doc_activity(out_stream: DataFrame, *,
                             watermark: str = '30 seconds') -> DataFrame:
  """Session-window aggregation over the extraction output: activity
  bursts (by `ts`) separated by more than 5 minutes become separate
  sessions (dynamic windows, vs the fixed tumbling windows of
  windowed_extraction_metrics).  The watermark closes sessions once no
  in-order row can extend them — the state-eviction contract that keeps
  a continuous 100 TB ingest's session state bounded."""
  return (out_stream
          .withWatermark('ts', watermark)
          .groupBy(F.session_window(F.col('ts'), '5 minutes'))
          .agg(F.count(F.lit(1)).alias('docs'),
               F.sum(F.when(F.col('error').isNotNull(), 1).otherwise(0))
               .alias('errors')))


def start_incremental_dedup_stream(spark: SparkSession, input_dir: str,
                                   corpus: DataFrame, output_dir: str,
                                   checkpoint_dir: str, *,
                                   trigger_once: bool = False,
                                   max_files_per_trigger: int = 16,
                                   **dedup_kwargs) -> StreamingQuery:
  """Continuous incremental dedup: classify every arriving document
  against the static corpus store as exact/near/new — the streaming
  twin of ops/textops.incremental_dedup, and the shape a crawl
  pipeline actually runs (the store is yesterday's curated corpus;
  the stream is today's fetches).

  The micro-batch IS the increment, so this is foreachBatch around
  the already-oracled batch operator: the same verified code path
  runs continuously, each batch's verdicts written to output_dir's
  `batch_id=<id>` partition — exactly-once per micro-batch, replays
  included (`_write_batch`).  The near pass's groupBy runs INSIDE the
  batch scope, so no streaming aggregation state accumulates — state
  cost is zero, unlike a watermarked streaming join formulation.  The
  corpus side is re-read per batch only if the caller passes a lazy
  view; pass a cached/bucketed table (spark/storage.py) so each
  increment pays only the probe, never a corpus shuffle."""
  from ..ops.textops import incremental_dedup

  schema = StructType([
      StructField('doc_id', LongType()),
      StructField('text', StringType()),
  ])
  stream = _read_stream(spark, schema, input_dir, max_files_per_trigger)

  def _classify(batch_df: DataFrame, batch_id: int) -> None:
    out = incremental_dedup(batch_df.sparkSession, '',
                            batch=batch_df, corpus=corpus,
                            **dedup_kwargs)
    _write_batch(out, batch_id, output_dir)

  return _start(stream, _classify, checkpoint_dir, trigger_once)


def start_validation_stream(spark: SparkSession, input_dir: str,
                            clean_dir: str, quarantine_dir: str,
                            checkpoint_dir: str, *,
                            trigger_once: bool = False,
                            max_files_per_trigger: int = 16) \
    -> StreamingQuery:
  """Streaming ingest validation / quarantine — the front door of the
  continuous crawl: every arriving interleaved-spans file is
  contract-checked with ops/ingest's first-failure taxonomy evaluated
  INLINE on the batch frame (validation_reason_expr — one projection,
  no verdict join), clean rows stream to `clean_dir` as (doc_id, spans)
  with their full spans payload intact, violating rows' verdicts to
  `quarantine_dir` as (doc_id, n_spans, reason) — the auditable reject
  log — each sink partitioned by batch_id.

  foreachBatch + checkpoint + `_write_batch` = exactly-once per
  micro-batch, replays included (two sinks need foreachBatch; a plain
  writeStream has one path).  The verdict is stateless, so no
  streaming state accumulates; the micro-batch is persisted for the
  two consumers and unpersisted after both writes (each batch is
  file-sized, not corpus-sized)."""
  from ..ops.ingest import validation_reason_expr
  src = read_span_stream(spark, input_dir, max_files_per_trigger)

  def _split(batch_df: DataFrame, batch_id: int) -> None:
    judged = batch_df.withColumn('reason', validation_reason_expr()) \
        .persist()
    try:
      _write_batch(judged.where(F.col('reason').isNull())
                   .select('doc_id', 'spans'), batch_id, clean_dir)
      _write_batch(judged.where(F.col('reason').isNotNull())
                   .select('doc_id',
                           F.coalesce(F.size('spans'), F.lit(0))
                           .cast('int').alias('n_spans'),
                           'reason'), batch_id, quarantine_dir)
    finally:
      judged.unpersist()

  return _start(src, _split, checkpoint_dir, trigger_once)


EVENTS_SCHEMA = StructType([
    StructField('event_id', LongType()),
    StructField('ts', TimestampType()),
    StructField('user_id', LongType()),
    StructField('event_type', StringType()),
    StructField('value', DoubleType()),
    StructField('props', StringType()),
])


def read_rollup_state(spark: SparkSession, state_dir: str,
                      *, before_batch: Optional[int] = None) \
    -> Optional[DataFrame]:
  """Latest committed rollup-state version in `state_dir` (written by
  start_rollup_stream as v{batch_id} directories), or the latest with
  batch_id < `before_batch` — the read a replayed micro-batch does so
  it rebuilds its version from the SAME predecessor."""
  import re
  # version discovery via the Hadoop FileSystem API, NOT os.listdir:
  # state_dir may be HDFS/S3/file — whatever filesystem the writer's
  # DataFrame write resolves, the reader resolves identically (a
  # driver-local os.listdir silently returned None for remote
  # schemes, dropping all prior state instead of reading it)
  jvm = spark._jvm
  jpath = jvm.org.apache.hadoop.fs.Path(state_dir)
  fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
  if not fs.exists(jpath):
    return None
  # committed = the writer's _SUCCESS marker is present; a version
  # directory mid-write (crash, or the stream still running) is
  # invisible to readers — without this check the 'latest committed
  # version' contract breaks with a torn or unreadable state
  versions = sorted(
      int(m.group(1))
      for st in fs.listStatus(jpath)
      if st.isDirectory()
      and (m := re.fullmatch(r'v(\d+)', st.getPath().getName()))
      and fs.exists(
          jvm.org.apache.hadoop.fs.Path(st.getPath(), '_SUCCESS')))
  if before_batch is not None:
    versions = [v for v in versions if v < before_batch]
  if not versions:
    return None
  return spark.read.parquet(f'{state_dir}/v{versions[-1]:09d}')


def start_rollup_stream(spark: SparkSession, input_dir: str,
                        state_dir: str, checkpoint_dir: str, *,
                        trigger_once: bool = False,
                        max_files_per_trigger: int = 16) \
    -> StreamingQuery:
  """Continuous-aggregate maintenance: the streaming twin of
  ops/relational.rollup_events + merge_rollups — every arriving
  events micro-batch updates the persisted per-(day, event_type)
  rollup by MERGING partial states, never rescanning history (the
  TimescaleDB-continuous-aggregate / Druid-ingestion shape).

  Exactly-once WITHOUT a transactional sink, via versioned
  idempotence: micro-batch n writes state version
  `state_dir/v{n} = merge(latest version < n, rollup(batch n))`.
  After a crash Spark replays the last uncommitted batch with the
  SAME batch_id and SAME rows (file source + checkpoint contract);
  the replay re-reads the same predecessor (strictly `< n`, so its
  own partial write is invisible) and deterministically rewrites the
  same version — a re-run is a byte-identical overwrite, not a
  double-count.  This is the Iceberg-snapshot pattern with plain
  directories; with the runtime jar present the version write becomes
  a snapshot commit (spark/pipeline.py write_iceberg).

  State cost is zero on the streaming side (no watermark state, no
  streaming aggregation): the micro-batch is the increment, the merge
  runs INSIDE batch scope on rollup-cardinality frames, and readers
  get a consistent aggregate by reading the latest committed version
  (`read_rollup_state`)."""
  from ..ops.relational import merge_rollups, rollup_events

  stream = _read_stream(spark, EVENTS_SCHEMA, input_dir,
                        max_files_per_trigger)

  def _update(batch_df: DataFrame, batch_id: int) -> None:
    sp = batch_df.sparkSession
    delta = rollup_events(sp, '', events=batch_df)
    prev = read_rollup_state(sp, state_dir, before_batch=batch_id)
    state = delta if prev is None else merge_rollups(prev, delta)
    # the write target is v{batch_id}, strictly newer than every
    # directory `prev` reads (before_batch excludes a partial replay
    # write of v{batch_id} itself) — no self-dependency to sever
    state.write.mode('overwrite') \
        .parquet(f'{state_dir}/v{batch_id:09d}')

  return _start(stream, _update, checkpoint_dir, trigger_once)


def start_attribution_join_stream(spark: SparkSession,
                                  clicks_dir: str, purchases_dir: str,
                                  output_dir: str, checkpoint_dir: str,
                                  *, attribution_window: str = '1 hour',
                                  watermark: str = '2 hours',
                                  trigger_once: bool = False,
                                  max_files_per_trigger: int = 16) \
    -> StreamingQuery:
  """Watermarked STREAM-STREAM join — the last-click attribution
  shape: every purchase joins the same user's clicks that happened in
  the preceding `attribution_window`.  This is the canonical
  two-unbounded-sides join Structured Streaming exists to bound:
  without the event-time constraint + watermarks, matching "a past
  click" would require keeping every click forever.

  State story (the part that survives 100 TB/day): both sides carry a
  `withWatermark`, and the join condition includes the event-time
  range `click.ts ∈ [purchase.ts - window, purchase.ts]` — together
  they let Spark EVICT buffered clicks once the purchase-side
  watermark passes click.ts + window (no purchase that could still
  match can arrive), so join state is bounded by
  rate × (window + watermark delay) instead of the stream's history.
  An inner join emits exactly the matched pairs append-only; rows
  arriving later than the watermark are dropped by contract (the
  documented completeness/latency trade every streaming join makes).

  The two inputs are separate directories because that is the honest
  production topology (clicks and purchases land from different
  pipelines); both use the events-table schema with the type filter
  applied inside."""
  clicks = (_read_stream(spark, EVENTS_SCHEMA, clicks_dir,
                         max_files_per_trigger)
            .where(F.col('event_type') == 'click')
            .select(F.col('event_id').alias('click_id'),
                    F.col('ts').alias('click_ts'),
                    F.col('user_id'),
                    F.col('value').alias('click_value'))
            .withWatermark('click_ts', watermark))
  purchases = (_read_stream(spark, EVENTS_SCHEMA, purchases_dir,
                            max_files_per_trigger)
               .where(F.col('event_type') == 'purchase')
               .select(F.col('event_id').alias('purchase_id'),
                       F.col('ts').alias('purchase_ts'),
                       F.col('user_id').alias('p_user_id'),
                       F.col('value').alias('purchase_value'))
               .withWatermark('purchase_ts', watermark))
  joined = purchases.join(
      clicks,
      (F.col('user_id') == F.col('p_user_id'))
      & (F.col('click_ts') <= F.col('purchase_ts'))
      & (F.col('click_ts') >= F.col('purchase_ts')
         - F.expr(f'INTERVAL {attribution_window}')),
      'inner').drop('p_user_id')
  return _start(joined, output_dir, checkpoint_dir, trigger_once)
