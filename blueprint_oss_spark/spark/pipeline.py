"""The Spark pipeline: bulk blueprint extraction over document tables.

Shape of the job (SURVEY.md §7):

    scan (doc_id, spans)            -- Iceberg/parquet; one row per doc
      → mapInPandas(extract)        -- Arrow batches; entity-gen + CSP
      → write, one partition per group, with lineage   -- resumable

Because the input is already one-row-per-document, the happy path has
ZERO shuffles: Spark pipelines scan → Arrow batch → Python → write.
Catalyst still provides column pruning / partition pruning on the scan;
document skew is handled by (a) Arrow batch sizing and (b)
per-document time/size budgets mirroring the reference's 45 s CLI
timeout (bp/cli/run_model.py:32) — a doc over budget produces an `error`
row instead of stalling an executor core.

One per-document kernel (`_extraction_kernel`) owns the broadcast tree,
the deadline, the error classes (`doc_error`) and `elapsed_ms` for
every input; two thin adapters turn an input row into an engine/runner
result:
  * `_solve_spans` — (doc_id, spans) rows: the span contract
    (`check_spans`, which main-content input shares), then
    runner.run_doc;
  * `_solve_file` — (doc_id, content) rows from sources.read_files
    (`ocr_format=` google / ibocr / hocr / pdf / docjson): the format's
    entity pool (sources.POOL_BUILDERS), then runner.extract_pool.
Both run through `run_extraction_job`, so file inputs get the same
lineage, resume and time budget as spans input.

`run_extraction_job` runs its checkpoint groups as concurrent Spark
jobs (at most defaultParallelism in flight, from driver threads), each
over the input coalesced to ceil(n / groups) tasks: a run of n input
splits has about n tasks, and no slot waits at one group's barrier
while another group has work.  A failed group cancels the groups in
flight and re-raises; the finished groups' lineage stands for resume.
"""

from __future__ import annotations

import contextlib
import functools
import json
import pickle
import sys
import time
import uuid
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait
from typing import Iterable, Iterator, List, Optional, Union

import pandas as pd

from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, IntegerType, LongType, MapType, StringType,
    StructField, StructType,
)
from pyspark.util import inheritable_thread_target

from ..model.nodes import Node, optimize_rule_distribution
from ..engine.runner import extract_pool, run_doc
from ..engine import solver as solver_mod
from .sources import POOL_BUILDERS

SPAN_STRUCT = StructType([
    StructField('kind', StringType()),
    StructField('text', StringType()),
    StructField('media_ref', StringType()),
    StructField('offset', IntegerType()),
])

SPANS_SCHEMA = StructType([
    StructField('doc_id', StringType()),
    StructField('spans', ArrayType(SPAN_STRUCT)),
])


def spans_frame(spark: SparkSession, docs) -> DataFrame:
  """(doc_id, [(kind, text, media_ref, offset), ...]) pairs — the
  fixture corpora's shape — as a SPANS_SCHEMA DataFrame."""
  return spark.createDataFrame(
      [(doc_id, [{'kind': k, 'text': t, 'media_ref': m, 'offset': o}
                 for (k, t, m, o) in spans])
       for doc_id, spans in docs], SPANS_SCHEMA)


OUT_SPAN_STRUCT = StructType([
    StructField('kind', StringType()),
    StructField('text', StringType()),
    StructField('media_ref', StringType()),
    StructField('order', IntegerType()),
])

OUTPUT_SCHEMA = StructType([
    StructField('doc_id', StringType()),
    StructField('out_spans', ArrayType(OUT_SPAN_STRUCT)),
    StructField('fields', MapType(StringType(), StringType())),
    StructField('score', DoubleType()),
    StructField('n_entities', IntegerType()),
    StructField('n_words', IntegerType()),
    StructField('error', StringType()),
    StructField('elapsed_ms', DoubleType()),
])


class _MalformedDoc(ValueError):
  """A document row the input contract forbids (null doc_id / spans /
  span struct fields) — contained as a per-doc error row."""


def check_spans(spans, max_spans: Optional[int]) -> None:
  """The span contract of every spans input (extraction and main
  content): a non-null array of non-null structs, each with a kind and
  an offset; text and media_ref may be null.  Raises _MalformedDoc.
  An array longer than `max_spans` (None: no limit) raises
  SolverBudgetError before any span is looked at, so an oversized
  document costs O(1)."""
  # Malformed-row containment: at 10^12 docs a single null spans
  # array / null struct field must yield an error ROW, never an
  # executor task failure that kills the whole job.
  if spans is None or isinstance(spans, float):
    raise _MalformedDoc('null spans array')
  if max_spans is not None and len(spans) > max_spans:
    raise solver_mod.SolverBudgetError(
        f'{len(spans)} spans exceeds max_spans_per_doc')
  for s in spans:
    if s is None or s['kind'] is None or s['offset'] is None:
      raise _MalformedDoc(f'null span struct/kind/offset: {s}')


def doc_error(e: Exception) -> str:
  """The `error` column of a document whose processing raised `e`, in
  one of four classes: `budget: …` / `timeout` / `malformed: …` /
  `error: <Type>: …` (the classes _run_job's lineage counts)."""
  if isinstance(e, solver_mod.SolverBudgetError):
    return f'budget: {e}'
  if isinstance(e, solver_mod.SolverTimeoutError):
    return 'timeout'
  if isinstance(e, _MalformedDoc):
    return f'malformed: {e}'
  return f'error: {type(e).__name__}: {e}'


def compile_blueprint(root: Node) -> bytes:
  """Driver-side compile: rule pushdown (the reference's
  optimize_rule_distribution, bp/tree.py:805-862) + validation, then
  pickle for broadcast."""
  optimized = optimize_rule_distribution(root)
  optimized.validate()
  return pickle.dumps(optimized)


# payload digest → unpickled tree, per worker process.  mapInPandas
# invokes the batch fn once per PARTITION; unpickling there yields a new
# tree each time, and pickles carry no derived values (model.rules.Spec),
# so its per-spec caches (ordered-tree realizations per pattern node,
# text memos per predicate) would start cold for each partition.  One
# shared tree per worker keeps those caches warm across partitions.
_TREE_BY_DIGEST: dict = {}


def tree_from_payload(payload: bytes) -> Node:
  import hashlib
  key = hashlib.md5(payload).digest()
  tree = _TREE_BY_DIGEST.get(key)
  if tree is None:
    if len(_TREE_BY_DIGEST) > 64:
      _TREE_BY_DIGEST.clear()
    tree = pickle.loads(payload)
    _TREE_BY_DIGEST[key] = tree
  return tree


def pin_spark_zip_importers() -> None:
  """Worker-side: make `importlib.invalidate_caches()` skip every zip
  archive outside the SparkFiles root directory.

  PySpark's worker calls `importlib.invalidate_caches()` at the start of
  every task (pyspark/worker_util.py setup_spark_files).  Before
  CPython 3.13 each `zipimporter` then re-reads its whole archive
  directory at once.  A worker holds one per package path inside
  pyspark.zip (~14 over 1,328 entries: ~0.13 s of CPU per task), one
  over py4j's zip, and two over the spark-core jar Spark also puts on
  the path (its root and `/org`, 10,718 entries: ~0.1 s per task).
  Archives the launcher put on the path do not change while a worker
  lives, so their importers are pinned.  Archives under the SparkFiles
  root (`addPyFile` / `addArchive` files, which can change between
  tasks) keep the stock behaviour; with no root set (outside a worker)
  every importer is pinned.  3.13 made the call lazy, so there this
  does nothing.  Call it once per task: importers created since the
  last call are pinned by the next one."""
  if sys.version_info >= (3, 13):
    return
  import os
  import zipimport
  from pyspark.core.files import SparkFiles
  root = SparkFiles._root_directory
  user_dir = os.path.join(os.path.abspath(root), '') if root else None
  for finder in list(sys.path_importer_cache.values()):
    if not isinstance(finder, zipimport.zipimporter):
      continue
    if user_dir and os.path.abspath(finder.archive).startswith(user_dir):
      continue  # an addPyFile / addArchive archive
    finder.invalidate_caches = _keep_zip_directory


def _keep_zip_directory() -> None:
  """invalidate_caches of a pinned zipimporter: the archive is fixed."""


def _solve_spans(max_spans_per_doc: int):
  """Spans adapter: a (doc_id, spans) row → runner.run_doc."""
  def solve(doc_id: str, spans, tree: Node) -> dict:
    check_spans(spans, max_spans_per_doc)
    # null text / media_ref are normal at scale (media spans carry no
    # text; text spans no media) — normalize to ''
    span_rows = [(s['kind'], s['text'] or '', s['media_ref'] or '',
                  int(s['offset'])) for s in spans]
    return run_doc(doc_id, span_rows, tree, pre_optimized=True)
  return solve


def _solve_file(ocr_format: str):
  """File adapter: a (doc_id, content) row → format's entity pool →
  runner.extract_pool.  A file the format's loader cannot read is a
  malformed document."""
  build_pool = POOL_BUILDERS[ocr_format]

  def solve(doc_id: str, content, tree: Node) -> dict:
    try:
      pool = build_pool(doc_id, bytes(content))
    except Exception as e:  # noqa: BLE001 — any loader failure
      raise _MalformedDoc(f'{type(e).__name__}: {e}') from e
    return extract_pool(doc_id, pool, (), tree, pre_optimized=True)
  return solve


def _extraction_kernel(bc, value_col: str, solve,
                       doc_time_budget_s: float):
  """The per-document kernel behind every extraction input: one
  OUTPUT_SCHEMA row per (doc_id, value_col) input row, under a
  per-document deadline, with failures contained as error rows of
  four classes (`budget: …` / `timeout` / `malformed: …` /
  `error: <Type>: …`).  `solve(doc_id, value, tree)` is the input
  adapter; it returns the engine/runner result dict."""
  columns = [f.name for f in OUTPUT_SCHEMA]

  def run_batches(batches: Iterator[pd.DataFrame]) \
      -> Iterator[pd.DataFrame]:
    pin_spark_zip_importers()
    tree = tree_from_payload(bc.value)
    for pdf in batches:
      out: List[dict] = []
      for doc_id, value in zip(pdf['doc_id'], pdf[value_col]):
        t0 = time.monotonic()
        row = {
            'doc_id': doc_id, 'out_spans': [], 'fields': {},
            'score': 0.0, 'n_entities': 0, 'n_words': 0, 'error': None,
            'elapsed_ms': 0.0,
        }
        try:
          if doc_id is None:
            raise _MalformedDoc('null doc_id')
          solver_mod.set_deadline(t0 + doc_time_budget_s)
          r = solve(str(doc_id), value, tree)
          row.update(
              out_spans=[{'kind': k, 'text': t, 'media_ref': m,
                          'order': o} for (k, t, m, o) in r['out_spans']],
              fields=r['fields'], score=r['score'],
              n_entities=r['n_entities'], n_words=r['n_words'])
        except Exception as e:  # noqa: BLE001 — per-doc containment
          # A 90-hour 1000-executor run must not die on doc 10^11's
          # quirk; the error column is the triage surface.
          row['error'] = doc_error(e)
        finally:
          solver_mod.set_deadline(None)
        row['elapsed_ms'] = (time.monotonic() - t0) * 1000.0
        out.append(row)
      yield pd.DataFrame(out, columns=columns)
  return run_batches


def extract_documents(df: DataFrame, root: Union[Node, Broadcast], *,
                      ocr_format: Optional[str] = None,
                      doc_time_budget_s: float = 45.0,
                      max_spans_per_doc: int = 200_000) -> DataFrame:
  """Bulk extraction: one OUTPUT_SCHEMA row per input document.

  Args:
    df: DataFrame with SPANS_SCHEMA columns, or with (doc_id, content)
      file rows (sources.read_files) when `ocr_format` is set.
    root: blueprint tree (un-optimized; compiled here and broadcast),
      or the broadcast of its compile_blueprint payload (a job compiles
      once and hands every group the same broadcast; job_transform).
    ocr_format: None for spans input; else the files' format, one of
      sources.POOL_BUILDERS (google / ibocr / hocr / pdf / docjson).
    doc_time_budget_s: per-document wall budget (reference default 45 s).
    max_spans_per_doc: guard against pathological span documents.
  """
  bc = root if isinstance(root, Broadcast) else \
      df.sparkSession.sparkContext.broadcast(compile_blueprint(root))

  if ocr_format is None:
    value_col, solve = 'spans', _solve_spans(max_spans_per_doc)
  else:
    value_col, solve = 'content', _solve_file(ocr_format)

  return df.mapInPandas(
      _extraction_kernel(bc, value_col, solve, doc_time_budget_s),
      OUTPUT_SCHEMA)


def job_transform(spark: SparkSession, root: Optional[Node], transform,
                  **extract_kwargs) -> tuple:
  """The doc-level DataFrame → DataFrame pipeline of a job, and the
  broadcast it reads: (`transform`, None) if a transform is given, else
  blueprint extraction with `root`, compiled and broadcast here once
  for all the groups or micro-batches the job runs
  (extract_documents(part, broadcast, **extract_kwargs)).  The caller
  destroys the broadcast when the job is over."""
  if transform is not None:
    return transform, None
  if root is None:
    raise ValueError('a job needs root= or transform=')
  blueprint = spark.sparkContext.broadcast(compile_blueprint(root))
  return (lambda part: extract_documents(part, blueprint, **extract_kwargs),
          blueprint)


def spans_from_documents(docs: DataFrame) -> DataFrame:
  """Synthesize an interleaved spans table from a raw text corpus
  (e.g. the driver's `documents` table) with pure Catalyst transforms —
  tokenize, lay out on a fixed grid, pack offsets.

  This is the bulk path for turning 100 TB of raw text into the engine's
  input format: split → posexplode → window-free arithmetic layout (word
  k goes to line k//8, column (k%8)*16, 64 lines a page), then
  collect back per doc.  One shuffle (the groupBy doc_id).

  Words longer than a grid cell are TRUNCATED to col_width-1 chars, not
  dropped — silent row loss on the bulk ingest path would delete content
  at 100 TB scale.  Every nonempty input token round-trips to exactly
  one span.
  """
  words_per_line = 8
  lines_per_page = 64
  col_width = 16
  line_shift = 256
  page_shift = 2 ** 20
  # raw split, not ops.common.words: grid positions count raw slots
  toks = (docs
          .select(F.col('doc_id').cast('string').alias('doc_id'),
                  F.posexplode(F.split(F.col('text'), ' '))
                  .alias('pos', 'word'))
          .where(F.length('word') > 0)
          .withColumn('word', F.substring('word', 1, col_width - 1)))
  toks = toks.select(
      'doc_id',
      F.struct(
          F.lit('text').alias('kind'),
          F.col('word').alias('text'),
          F.lit('').alias('media_ref'),
          ((F.col('pos') / (words_per_line * lines_per_page))
           .cast('int') * page_shift
           + ((F.col('pos') / words_per_line).cast('int')
              % lines_per_page) * line_shift
           + (F.col('pos') % words_per_line) * col_width)
          .cast('int').alias('offset'),
      ).alias('span'))
  return (toks.groupBy('doc_id')
          .agg(F.collect_list('span').alias('raw'))
          .select('doc_id',
                  F.expr('array_sort(raw, (a, b) -> a.offset - b.offset)')
                  .alias('spans')))


@contextlib.contextmanager
def _iceberg_errors(iceberg_table: str):
  """Re-raise an Iceberg call's missing-catalog failure as a
  RuntimeError naming the session setup it needs."""
  try:
    yield
  except Exception as e:  # surface the missing-catalog case clearly
    msg = str(e)
    if 'not found' in msg.lower() or 'catalog' in msg.lower() \
        or 'TABLE_OR_VIEW_NOT_FOUND' in msg:
      raise RuntimeError(
          f'Iceberg write to {iceberg_table!r} failed — is an Iceberg '
          f'catalog configured on this session?  Launch with '
          f'spark-submit --packages '
          f'org.apache.iceberg:iceberg-spark-runtime-3.5_2.12 '
          f'--conf spark.sql.catalog.<name>=org.apache.iceberg.spark.'
          f'SparkCatalog (original error: {msg[:300]})') from e
    raise


def _write_group_iceberg(observed: DataFrame, iceberg_table: str,
                         create: bool) -> None:
  """One checkpoint group → one atomic Iceberg snapshot commit via the
  DataFrameWriterV2: `create` makes the table (partitioned by
  part_bucket for pruned reads + idempotent group replays), otherwise
  `overwritePartitions()` — Iceberg's dynamic overwrite."""
  with _iceberg_errors(iceberg_table):
    writer = observed.writeTo(iceberg_table)
    if create:
      writer.partitionedBy(F.col('part_bucket')).createOrReplace()
    else:
      writer.overwritePartitions()


def dedup_spans(df: DataFrame) -> DataFrame:
  """Pre-extraction exact dedup of the spans table: keep ONE document
  (min doc_id) per distinct span content.  At 100 TB this is the first
  pass before the solver — every duplicate dropped here saves a full
  per-doc solve.  Content hash is computed map-side from the canonical
  spans JSON; one shuffle (the window over the hash), deterministic
  keeper choice so resumed runs keep the same documents."""
  from pyspark.sql import Window
  hashed = df.withColumn('_h', F.md5(F.to_json(F.col('spans'))))
  w = Window.partitionBy('_h').orderBy('doc_id')
  return (hashed
          .withColumn('_rn', F.row_number().over(w))
          .where(F.col('_rn') == 1)
          .drop('_h', '_rn'))


def _split_count(df: DataFrame) -> Optional[int]:
  """`df`'s partition count, read from its physical plan without running
  a Spark job; None for a plan with an exchange or a subquery (or one
  AQE wraps), whose RDD runs stages just to be built — under AQE, a
  `groupBy` input's whole shuffle."""
  qe = df._jdf.queryExecution()
  plan = qe.executedPlan().toString()
  if any(k in plan for k in ('AdaptiveSparkPlan', 'Exchange', 'Subquery')):
    return None
  return qe.toRdd().getNumPartitions()


def _run_groups(spark: SparkSession, run_group,
                pending: List[int]) -> List[dict]:
  """run_group(g) for every pending group, from at most
  defaultParallelism driver threads: a slot one group's job frees takes
  another group's task instead of idling at that job's barrier.  The
  threads inherit the caller's job group, tags and description.  When a
  group fails, the groups still in flight are cancelled and the first
  error is re-raised; groups that finished keep their lineage, so a
  resume skips them.  Returns run_group's rows in `pending` order."""
  if not pending:
    return []
  sc = spark.sparkContext
  tag = f'bp-extract-{uuid.uuid4().hex}'  # names this run's jobs only
  sc.addJobTag(tag)
  try:
    # One wrap per group: a wrap clones the caller's local properties,
    # and a clone shared by concurrent threads mixes up their SQL
    # execution ids (a group's write would nest under another's).
    wraps = [inheritable_thread_target(spark) for _ in pending]
  finally:
    sc.removeJobTag(tag)
  # With py4j's pinned-thread mode off, pyspark hands back the session
  # itself: no thread has local properties of its own to inherit.
  targets = [run_group if w is spark else w(run_group) for w in wraps]
  with ThreadPoolExecutor(min(len(pending), sc.defaultParallelism)) as pool:
    futures = [pool.submit(t, g) for t, g in zip(targets, pending)]
    done, running = wait(futures, return_when=FIRST_EXCEPTION)
    errors = [f.exception() for f in futures
              if f in done and f.exception() is not None]
    if errors:
      for f in running:
        f.cancel()  # a group not started yet never starts
      while running:
        # again each round: a group that was still planning when the
        # last cancel ran submits its job after it
        sc.cancelJobsWithTag(tag)
        _, running = wait(running, timeout=0.5)
      raise errors[0]
  return [f.result() for f in futures]


def run_extraction_job(spark: SparkSession, input_df: DataFrame,
                       output_path: str, root: Optional[Node] = None, *,
                       groups: int = 4,
                       resume: bool = True,
                       iceberg_table: Optional[str] = None,
                       transform=None,
                       **extract_kwargs) -> List[dict]:
  """Resumable bulk job with per-group lineage + metrics.

  Documents hash into `groups` checkpoint groups, part_bucket =
  pmod(xxhash64(doc_id), groups), and group g is exactly the output
  partition part_bucket=g.  Each group is one Spark job whose input is
  coalesced to ceil(n / groups) tasks, n the input's partition count:
  every task reads `groups` splits and keeps about one split's worth of
  documents, so a run has about n tasks rather than groups × n, and
  each group writes ceil(n / groups) files.  (An input whose plan
  already has a shuffle keeps its partitions: counting them would run
  it.)  The pending groups run concurrently, at most
  defaultParallelism at a time, from driver threads that inherit the
  caller's job group, tags and description.

  Each completed group writes its partition plus a lineage row
  recording `groups`; on resume, completed groups are skipped
  (per-partition checkpointing per the north rule).  If a group fails,
  the groups still in flight are cancelled and the first error is
  re-raised; the groups that finished have their lineage, so a rerun
  processes only the rest.  An output whose lineage records a
  different `groups` (or none: the older bucket_lo/bucket_hi layout)
  raises ValueError instead of skipping groups by index.
  Returns the lineage rows (one per group processed this run), in
  group order.

  Sink: without `iceberg_table` (the default), dynamic-overwrite
  partitioned parquet under `output_path`.  With `iceberg_table` set,
  each checkpoint group is written to that table through the
  DataFrameWriterV2 (`writeTo`): if the table does not exist, the first
  group runs alone and creates it partitioned by part_bucket, then the
  rest `overwritePartitions()` concurrently — each group is one ATOMIC
  Iceberg snapshot commit, so a crashed group re-runs cleanly on resume
  exactly like the parquet path's dynamic partition overwrite.
  Requires an Iceberg catalog on the session (spark-submit --packages
  org.apache.iceberg:iceberg-spark-runtime + spark.sql.catalog.*
  conf); absent that, the job raises a clear RuntimeError naming the
  missing setup (this container ships no Iceberg jars, so the branch
  is exercised for its failure contract and the parquet path for the
  full behavior).

  `transform` generalizes the per-group computation: any
  DataFrame → DataFrame doc-level pipeline (e.g. the main-content
  spans pipeline, ops/html_extract.main_content_from_spans) rides the
  same checkpoint groups / lineage / atomic-overwrite machinery as
  blueprint extraction.  The default is extract_documents over `root`,
  compiled and broadcast once per call and destroyed when the groups
  return, on success and on failure.  Group metrics adapt to the
  output schema (docs always; errors/score_sum/elapsed_ms when
  present); a group with errors reads its written rows back for their
  split by class (`_error_split`).
  """
  transform, blueprint = job_transform(spark, root, transform,
                                       **extract_kwargs)
  try:
    return _run_job(spark, input_df, output_path, transform, groups,
                    resume, iceberg_table)
  finally:
    if blueprint is not None:
      blueprint.destroy()


def _lineage_metrics(cols: frozenset):
  """The aggregates a group's lineage row observes over its output
  rows, for the output columns `cols`, as one struct column.  Each F.*
  call, and each column handed to `observe`, is a py4j round trip, so
  _run_job builds the struct once per job and observes only it."""
  metrics_exprs = [F.count(F.lit(1)).alias('docs')]
  if 'error' in cols:
    metrics_exprs.append(F.count('error').alias('errors'))
  if 'score' in cols:
    metrics_exprs.append(F.sum('score').alias('score_sum'))
  if 'elapsed_ms' in cols:
    metrics_exprs.append(F.sum('elapsed_ms').alias('elapsed_ms_sum'))
  if 'doc_id' in cols:
    # Order-independent doc-set checksum (modular sum of 60-bit md5
    # fingerprints, mod 2^61-1 — see ops.profiling.CHECKSUM_MOD):
    # a resumed or differently-parallelized re-run of this group
    # must reproduce it bit-for-bit, turning "did the retry write
    # the same documents" into a lineage-row equality check.
    fp = F.conv(
        F.substring(F.md5(F.col('doc_id').cast('string')), 1, 15),
        16, 10).cast('decimal(38,0)')
    metrics_exprs.append(
        F.pmod(F.sum(fp),
               F.lit(2305843009213693951).cast('decimal(38,0)'))
        .cast('long').alias('doc_set_checksum'))
  return F.struct(*metrics_exprs).alias('lineage')


_ERROR_SPLIT = ('errors_budget', 'errors_timeout', 'errors_malformed',
                'errors_other', 'errors_budget_pairs')


def _error_split(rows: DataFrame) -> dict:
  """The split of a group's `errors` by the kernel's four error classes
  (the solver's pair-budget trips are also counted within `budget`),
  over the group's written rows.  _run_job computes it only for a
  group that has errors: as aggregates of the write's observation,
  these cost every clean group a measurable share of its JVM CPU."""
  err = F.col('error')
  budget = err.startswith('budget:')
  timeout = err == 'timeout'
  malformed = err.startswith('malformed:')
  pair_trip = err.rlike(f'^budget: {solver_mod.PAIR_BUDGET_MESSAGE}$')
  return rows.where(err.isNotNull()).agg(
      F.count_if(budget), F.count_if(timeout), F.count_if(malformed),
      F.count_if(~(budget | timeout | malformed)),
      F.count_if(pair_trip)).toDF(*_ERROR_SPLIT).first().asDict()


def _run_job(spark: SparkSession, input_df: DataFrame, output_path: str,
             transform, groups: int, resume: bool,
             iceberg_table: Optional[str]) -> List[dict]:
  """run_extraction_job's body, for a resolved doc-level transform."""
  # Lineage I/O goes through the Hadoop FileSystem API (via the JVM),
  # not the local os module, so checkpoint/resume works unchanged when
  # output_path is s3a://... or hdfs://... on a real cluster.
  jvm = spark._jvm
  hconf = spark._jsc.hadoopConfiguration()

  def _hpath(p: str):
    return jvm.org.apache.hadoop.fs.Path(p)

  lineage_dir = output_path.rstrip('/') + '/_lineage'
  fs = _hpath(lineage_dir).getFileSystem(hconf)
  fs.mkdirs(_hpath(lineage_dir))
  done_groups = set()
  for status in fs.listStatus(_hpath(lineage_dir)):
    fn = status.getPath().getName()
    if not (fn.startswith('group-') and fn.endswith('.json')):
      continue
    # A group index only names the same documents under the same
    # `groups`: skipping (or overwriting) by index across layouts
    # would drop documents or write them twice.
    stream = fs.open(status.getPath())
    try:
      written = json.loads(jvm.org.apache.commons.io.IOUtils.toString(
          stream, 'UTF-8')).get('groups')
    finally:
      stream.close()
    if written != groups:
      raise ValueError(
          f'{status.getPath().toString()} was written with '
          f'groups={written} but this run has groups={groups}; rerun '
          f'with groups={written} or write to a new output path')
    if resume:
      done_groups.add(int(fn[len('group-'):-len('.json')]))

  df = input_df.withColumn(
      'part_bucket', F.pmod(F.xxhash64('doc_id'), F.lit(groups)))
  n_splits = _split_count(input_df)
  group_tasks = (None if n_splits is None
                 else -(-n_splits // groups))  # ceil(n_splits / groups)

  metrics_of = functools.lru_cache(maxsize=None)(_lineage_metrics)

  def run_group(g: int, create: bool = False) -> dict:
    part = df.where(F.col('part_bucket') == g).drop('part_bucket')
    if group_tasks is not None and group_tasks < n_splits:
      part = part.coalesce(group_tasks)
    out = transform(part)
    out = out.withColumn('part_bucket', F.lit(g).cast('long'))
    obs = Observation(f'bp_group_{g}')
    observed = out.observe(obs, metrics_of(frozenset(out.columns)))
    # Dynamic partition overwrite: a re-run of this group replaces
    # exactly its own part_bucket partition, so resuming after a
    # partially-written group (crash between data write and lineage
    # write) cannot leave duplicate rows behind.  Each write stages
    # under its own directory, so concurrent groups do not collide.
    if iceberg_table:
      _write_group_iceberg(observed, iceberg_table, create)
    else:
      (observed.write.mode('overwrite')
       .option('partitionOverwriteMode', 'dynamic')
       .partitionBy('part_bucket')
       .parquet(output_path))
    # ints stay ints: the doc_set_checksum is a 61-bit value a float
    # round-trip would corrupt (2^61 > 2^53)
    metrics = {k: (None if v is None
                   else int(v) if isinstance(v, int) else float(v))
               for k, v in obs.get['lineage'].asDict().items()}
    if metrics.get('errors'):
      metrics.update(_error_split(
          spark.table(iceberg_table).where(F.col('part_bucket') == g)
          if iceberg_table else
          spark.read.parquet(f"{output_path.rstrip('/')}/part_bucket={g}")))
    elif 'errors' in metrics:
      metrics.update(dict.fromkeys(_ERROR_SPLIT, 0))
    row = {'group': g, 'groups': groups, 'ts': time.time(),
           'metrics': metrics}
    out_stream = fs.create(_hpath(f'{lineage_dir}/group-{g}.json'), True)
    out_stream.write(bytearray(json.dumps(row).encode('utf-8')))
    out_stream.close()
    return row

  pending = [g for g in range(groups) if g not in done_groups]
  lineage_rows = []
  if pending and iceberg_table:
    with _iceberg_errors(iceberg_table):
      exists = spark.catalog.tableExists(iceberg_table)
    if not exists:  # the creating commit runs before any overwrite
      lineage_rows.append(run_group(pending.pop(0), create=True))
  return lineage_rows + _run_groups(spark, run_group, pending)
