#!/usr/bin/env python3
"""Layer-attributed benchmark of `spark.pipeline.run_extraction_job`,
the job behind the `run_model` and `run_main_content` CLI commands.

  python3 perfbench/run.py --workload readme_extract --seed 1 \
      --seconds 15 --trace 0

Run from the repository root.  The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1.  README.md in
this directory explains the workloads, the metrics and the trace file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

GROUPS = 4          # run_extraction_job's default checkpoint groups
SETUP_REPS = 2      # set-ups per run; setup_s is their median
RSS_INTERVAL_S = 0.25
# The driver JVM's heap is Spark's 1g default, committed and touched at
# start: a heap that grows on demand makes the JVM's resident size a
# function of GC timing, which differs run to run by ~100 MB.
HEAP = '1g'

SPAN_FIELDS = (('kind', 'string'), ('text', 'string'),
               ('media_ref', 'string'), ('offset', 'int32'))


@dataclass(frozen=True)
class Workload:
  name: str
  docs: int            # documents per pass
  extraction: bool     # blueprint extraction (else main-content transform)


# Sizes put one pass at roughly 3-4 s on local[3], so a 15 s run times
# about four passes after its warm-ups.  paystubs_extract is run by hand:
# BENCHMARK.json leaves it out so that the other two workloads fit the
# time budget with runs long enough to be steady (see README.md).
WORKLOADS = {w.name: w for w in (
    Workload('readme_extract', 800, True),
    Workload('paystubs_extract', 75, True),
    Workload('main_content_job', 640, False),
)}


def declared_metrics(trace: bool) -> dict:
  """name -> unit of the metrics BENCHMARK.json declares for this mode."""
  with open(ROOT / 'BENCHMARK.json') as f:
    spec = json.load(f)
  return {m['name']: m['unit']
          for m in spec['per_layer' if trace else 'end_to_end']}


# A traced run times every in-process layer.  The layers its own job
# does not run are timed on a side sample of the same seed: the
# main-content documents on the extraction workloads, the readme
# documents on main_content_job.
SIDE = {True: 'main_content_job', False: 'readme_extract'}


def slots() -> int:
  """local[k]: k below the core count, so the driver JVM keeps a core;
  fixed at 3 wherever four or more cores allow it."""
  nproc = len(os.sched_getaffinity(0))
  return max(1, min(3, nproc - 1))


# --- inputs -----------------------------------------------------------------

_VOCAB = ('key agg row scan slow fast table value part hash merge batch '
          'spark a the line sort window data column join small customer '
          'query order group stream filter big vector').split()


def extraction_docs(wl: Workload, seed: int):
  """(doc_id, spans dicts) and the blueprint root for `wl`."""
  if wl.name == 'readme_extract':
    from blueprint_oss_spark.fixtures import readme_blueprint, readme_corpus
    docs, root = readme_corpus(wl.docs, seed=seed), readme_blueprint()
  else:
    from blueprint_oss_spark.bp_examples.paystub_fixtures import \
        paystub_corpus
    from blueprint_oss_spark.bp_examples.paystubs import root
    docs = paystub_corpus(wl.docs, seed=seed)
  return ([(doc_id, [dict(zip(('kind', 'text', 'media_ref', 'offset'), s))
                     for s in spans]) for doc_id, spans in docs], root)


def documents_rows(n: int, seed: int) -> dict:
  """The seed picks which documents feed interleaved_html_table: their
  ids (so which carry a PDF or a second media span) and their text."""
  import random
  rng = random.Random(seed)
  ids = sorted(rng.sample(range(1_000_000), n))
  return {'doc_id': ids,
          'text': [' '.join(rng.choice(_VOCAB)
                            for _ in range(rng.randint(100, 400)))
                   for _ in ids]}


def write_files(table, path: Path, n_files: int) -> None:
  import pyarrow.parquet as pq
  path.mkdir(parents=True)
  step = -(-table.num_rows // n_files)
  for i in range(n_files):
    pq.write_table(table.slice(i * step, step), path / f'part-{i:03d}.parquet')


def spans_table(docs):
  import pyarrow as pa
  span = pa.struct([(name, getattr(pa, t)()) for name, t in SPAN_FIELDS])
  return pa.table({'doc_id': [d for d, _ in docs],
                   'spans': [s for _, s in docs]},
                  schema=pa.schema([('doc_id', pa.string()),
                                    ('spans', pa.list_(span))]))


def make_input(spark, wl: Workload, seed: int, work: Path, k: int):
  """Generate the seed's documents and write them as spans parquet, one
  file per slot.  Returns (docs, root); root is None for main content."""
  import pyarrow as pa
  inp = work / 'input'
  shutil.rmtree(inp, ignore_errors=True)
  if wl.extraction:
    docs, root = extraction_docs(wl, seed)
    write_files(spans_table(docs), inp, k)
    return docs, root
  from blueprint_oss_spark.ops.html_extract import interleaved_html_table
  src = work / 'documents.parquet'
  shutil.rmtree(src, ignore_errors=True)
  write_files(pa.table(documents_rows(wl.docs, seed)), src, k)
  interleaved_html_table(spark, str(work)).write.parquet(str(inp))
  import pyarrow.parquet as pq
  rows = pq.read_table(inp).to_pylist()
  return [(r['doc_id'], r['spans']) for r in rows], None


# --- session ----------------------------------------------------------------

def start_session(k: int, work: Path, eventlog: Path | None):
  from pyspark.sql import SparkSession
  tmp = work / 'tmp'
  tmp.mkdir(exist_ok=True)
  b = (SparkSession.builder.master(f'local[{k}]')
       .appName('perfbench')
       # the CLI's session settings
       .config('spark.sql.adaptive.enabled', 'true')
       .config('spark.sql.execution.arrow.pyspark.enabled', 'true')
       .config('spark.sql.session.timeZone', 'UTC')
       # keep every file the run writes inside the checkout
       .config('spark.local.dir', str(tmp))
       .config('spark.sql.warehouse.dir', str(work / 'warehouse'))
       .config('spark.driver.extraJavaOptions',
               f'-Djava.io.tmpdir={tmp} -Xms{HEAP} -XX:+AlwaysPreTouch')
       .config('spark.driver.memory', HEAP)
       .config('spark.ui.enabled', 'false')
       .config('spark.ui.showConsoleProgress', 'false'))
  if eventlog is not None:
    eventlog.mkdir(exist_ok=True)
    b = (b.config('spark.eventLog.enabled', 'true')
         .config('spark.eventLog.dir', eventlog.as_uri())
         .config('spark.eventLog.compress', 'false')
         .config('spark.eventLog.rolling.enabled', 'false'))
  spark = b.getOrCreate()
  spark.sparkContext.setLogLevel('ERROR')
  return spark


def stop_spark() -> None:
  """Stop the active session and the gateway JVM the first session
  launched, and wait for the JVM to exit."""
  from pyspark import SparkContext
  if SparkContext._active_spark_context is not None:
    SparkContext._active_spark_context.stop()
  gw = SparkContext._gateway
  if gw is None:
    return
  proc = getattr(gw, 'proc', None)
  gw.shutdown()
  if proc is not None:
    if proc.stdin:
      proc.stdin.close()  # the gateway server exits when stdin closes
    try:
      proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 - must not leave the JVM running
      proc.kill()
      proc.wait()
  SparkContext._gateway = None
  SparkContext._jvm = None


# --- one pass ---------------------------------------------------------------

@dataclass
class Pass:
  out: Path
  wall_s: float
  t0_ms: int
  t1_ms: int
  cpu_s: float
  lineage: list


def run_pass(spark, wl: Workload, root, inp: Path, out: Path) -> Pass:
  """One full job pass into a fresh output path, as the CLI runs it."""
  import host
  from blueprint_oss_spark.spark.pipeline import run_extraction_job
  if out.exists():
    raise RuntimeError(f'{out} exists: a resumed pass would be a no-op')
  cpu0 = host.tree_cpu_s(os.getpid())
  e0, p0 = time.time(), time.perf_counter()
  df = spark.read.parquet(str(inp))
  if wl.extraction:
    lineage = run_extraction_job(spark, df, str(out), root)
  else:
    from blueprint_oss_spark.ops.html_extract import main_content_from_spans
    lineage = run_extraction_job(spark, df, str(out),
                                 transform=main_content_from_spans)
  wall = time.perf_counter() - p0
  cpu = host.tree_cpu_s(os.getpid()) - cpu0
  return Pass(out, wall, int(e0 * 1000), int((e0 + wall) * 1000), cpu,
              lineage)


# --- verification -----------------------------------------------------------

def expected_digests(wl: Workload, docs, root, k: int) -> dict:
  """doc_id -> digest of the single-process result, computed on k
  spawned worker processes."""
  import multiprocessing
  from concurrent.futures import ProcessPoolExecutor
  import layers
  chunks = [docs[i::k * 4] for i in range(k * 4)]
  out = {}
  with ProcessPoolExecutor(k, mp_context=multiprocessing.get_context(
      'spawn')) as ex:
    if wl.extraction:
      from blueprint_oss_spark.spark.pipeline import compile_blueprint
      payload = compile_blueprint(root)
      for part in ex.map(layers.expected_extraction,
                         [(payload, c) for c in chunks]):
        for doc_id, r in part:
          out[doc_id] = (r, layers.extraction_digest(
              doc_id, [dict(zip(('kind', 'text', 'media_ref', 'order'), s))
                       for s in r['out_spans']], r['score']))
    else:
      for part in ex.map(layers.expected_main_content, chunks):
        for doc_id, (spans, n_html) in part:
          out[doc_id] = ((spans, n_html), layers.main_content_digest(
              doc_id, spans, n_html))
  return out


def check_pass(wl: Workload, p: Pass, expected: dict) -> tuple:
  """(errors + missing docs, problems) for one pass's output and
  lineage."""
  import pyarrow.parquet as pq
  import layers
  problems = []
  n = len(expected)
  if len(p.lineage) != GROUPS or \
      sorted(r['group'] for r in p.lineage) != list(range(GROUPS)):
    problems.append(f'{p.out.name}: {len(p.lineage)} lineage rows, '
                    f'expected one per group ({GROUPS})')
  lineage_docs = sum(r['metrics']['docs'] for r in p.lineage)
  if lineage_docs != n:
    problems.append(f'{p.out.name}: lineage docs {lineage_docs} != {n}')
  cols = (['doc_id', 'out_spans', 'score', 'error'] if wl.extraction
          else ['doc_id', 'out_spans', 'n_html'])
  rows = pq.read_table(p.out, columns=cols).to_pylist()
  errors = sum(1 for r in rows if r.get('error') is not None)
  got = {}
  for r in rows:
    got[r['doc_id']] = (
        layers.extraction_digest(r['doc_id'], r['out_spans'], r['score'])
        if wl.extraction else
        layers.main_content_digest(r['doc_id'], r['out_spans'], r['n_html']))
  missing = len(set(expected) - set(got))
  if len(rows) != len(got):
    problems.append(f'{p.out.name}: {len(rows) - len(got)} duplicate rows')
  want = layers.checksum(d for _, d in expected.values())
  if layers.checksum(got.values()) != want or missing:
    bad = sorted(d for d in expected if got.get(d) != expected[d][1])
    problems.append(f'{p.out.name}: checksum differs from run_doc; '
                    f'{len(bad)} docs differ, e.g. {bad[:3]}')
  return errors + missing, problems


def output_size(out: Path) -> tuple:
  files = list(out.rglob('*.parquet'))
  return sum(f.stat().st_size for f in files) / 2 ** 20, len(files)


# --- the run ----------------------------------------------------------------

def measure(wl: Workload, seed: int, seconds: float, trace: bool,
            work: Path) -> dict:
  import host
  import layers
  import pyspark

  k = slots()
  tracer = layers.Tracer(wl.name)
  run_span = tracer.add('run', time.time(), 0.0, None, seed=seed, k=k)
  info = {'nproc': len(os.sched_getaffinity(0)), 'k': k,
          'pyspark': pyspark.__version__, 'loadavg_start': host.loadavg()}
  eventlog = work / 'eventlog' if trace else None

  spark, setups, warmups = None, [], []
  for r in range(SETUP_REPS):
    t0 = time.perf_counter()
    if spark is not None:
      spark.stop()
    spark = start_session(k, work, eventlog)
    docs, root = make_input(spark, wl, seed, work, k)
    warmups.append(run_pass(spark, wl, root, work / 'input',
                            work / f'warmup-{r}'))
    setups.append(time.perf_counter() - t0)
    tracer.add('setup', tracer.epoch(t0), time.time(), run_span, rep=r)
  info['java'] = spark._jvm.java.lang.System.getProperty('java.version')
  app_id = spark.sparkContext.applicationId

  passes, pass_spans = [], []
  stat0 = host.cpu_times()
  with host.RssSampler(os.getpid(), RSS_INTERVAL_S) as rss:
    t_start = time.perf_counter()
    while not passes or time.perf_counter() - t_start < seconds:
      p = run_pass(spark, wl, root, work / 'input',
                   work / f'pass-{len(passes)}')
      passes.append(p)
      pass_spans.append(tracer.add('pass', p.t0_ms / 1e3, p.t1_ms / 1e3,
                                   run_span, docs=len(docs)))
  info['steal_share'] = host.steal_share(stat0, host.cpu_times())
  info['loadavg_end'] = host.loadavg()
  if trace:
    side = make_input(spark, WORKLOADS[SIDE[wl.extraction]], seed,
                      work / 'side', k)
  stop_spark()

  t0 = time.perf_counter()
  expected = expected_digests(wl, docs, root, k)
  failed, problems = 0, []
  for p in warmups + passes:
    f, pr = check_pass(wl, p, expected)
    failed += f
    problems += pr
  tracer.add('verify', tracer.epoch(t0), time.time(), run_span)
  attempted = len(docs) * len(warmups + passes)
  n = len(docs)
  docs_per_s = statistics.median(n / p.wall_s for p in passes)
  metrics = {
      'cpu_s_per_kdoc': statistics.median(p.cpu_s for p in passes) / n * 1e3,
      'peak_rss_mb': rss.peak_mb,
      'setup_s': statistics.median(setups),
  }
  samples = {'cpu_s_per_kdoc': f'median of {len(passes)} passes',
             'peak_rss_mb': f'max of {rss.samples} samples',
             'setup_s': f'median of {len(setups)} set-ups'}
  # docs_per_s is reported but not bounded: hypervisor steal moves it
  # by a third between runs, CPU time much less (README.md)
  info.update(docs_per_s=docs_per_s, passes=len(passes), docs_per_pass=n,
              pass_wall_s=[round(p.wall_s, 4) for p in passes],
              pass_cpu_s=[round(p.cpu_s, 3) for p in passes],
              setup_s=[round(s, 4) for s in setups],
              error_rate=failed / attempted)
  if trace:
    layer = traced_layers(wl, docs, root, side, k, passes, pass_spans,
                          expected, problems, tracer,
                          work / 'eventlog' / app_id)
    layer['trace.docs_per_s'] = docs_per_s
    layer['pipeline.per_core_vs_inproc'] = docs_per_s / k / (
        layer['engine.inproc_docs_per_s'] if wl.extraction
        else layer['html_extract.inproc_docs_per_s'])
    info['budget'] = slot_budget(wl, layer, passes, n, k)
    info['dominant_layer'] = max(info['budget'], key=info['budget'].get)
    metrics = layer
  tracer.spans[run_span]['end'] = time.time()
  return {'metrics': metrics, 'samples': samples, 'info': info,
          'problems': problems,
          'attempted': attempted, 'failed': failed, 'tracer': tracer}


def traced_layers(wl, docs, root, side, k, passes, pass_spans, expected,
                  problems, tracer, log_path: Path) -> dict:
  """Per-layer metrics: the event log folded per timed pass, then the
  in-process passes over the workload's documents (checked against the
  worker-process results) and over the `side` (docs, root) sample."""
  import eventlog
  import layers
  log = eventlog.read_log(str(log_path))
  per_pass = [eventlog.fold_pass(log, p.t0_ms, p.t1_ms, k) for p in passes]
  out = {name: statistics.median(pp[name] for pp in per_pass)
         for name in per_pass[0]}
  for p, pp in zip(passes, per_pass):
    if pp['job.groups_seen'] != GROUPS:
      problems.append(f'{p.out.name}: {pp["job.groups_seen"]} group '
                      f'writes in the event log, expected {GROUPS}')
  run_span = tracer.spans[pass_spans[0]]['parent']
  for p, pass_span in zip(passes, pass_spans):
    for sql_id, (a, b) in log.sql.items():
      if p.t0_ms <= a <= p.t1_ms:
        tracer.add('job.group', a / 1e3, b / 1e3, pass_span, sql_id=sql_id)
  out_mb, files = output_size(passes[-1].out)
  out.update({'job.output_mb': out_mb, 'job.output_files': files,
              'job.lineage_rows': len(passes[-1].lineage)})
  if wl.extraction:
    out.update(layers.pipeline_costs(root))
    composed, stats = layers.engine_pass(docs, root, tracer, run_span)
    for doc_id, r in composed.items():
      if r != expected[doc_id][0]:
        problems.append(f'in-process composition differs from run_doc '
                        f'on {doc_id}')
        break
    out.update(layers.main_content_pass(side[0], tracer, run_span)[1])
  else:
    composed, stats = layers.main_content_pass(docs, tracer, run_span)
    if any(composed[d] != expected[d][0] for d in composed):
      problems.append('in-process main_content_doc differs from the '
                      'worker-process result')
    out.update(layers.pipeline_costs(side[1]))
    out.update(layers.engine_pass(*side, tracer, run_span)[1])
  out.update(stats)
  return out


def slot_budget(wl, layer: dict, passes, n: int, k: int) -> dict:
  """Shares of a pass's slot-seconds (k x median pass wall).  The
  engine or html/pdf layers are charged their in-process time for the
  pass's documents; `spark.in_task` is the rest of the task time
  (Python-worker start, Arrow transfer, scan, write); `spark.idle_slots`
  is slot time with no task (driver gaps between jobs, stragglers)."""
  import layers
  slot_s = k * statistics.median(p.wall_s for p in passes)
  if wl.extraction:
    per_doc_s = 1.0 / layer['engine.inproc_docs_per_s']
    parts = {name[:-3]: layer[f'{name}.share']
             for name in layers.ENGINE_PHASES}
  else:
    per_doc_s = 1.0 / layer['html_extract.inproc_docs_per_s']
    parts = {'html_extract.extract_main_content':
                 layer['html_extract.extract_main_content.share'],
             'pdf.parse_pdf': layer['pdf.parse_pdf.share']}
  kernel = n * per_doc_s / slot_s
  busy = layer['spark.slot_busy_ratio']
  budget = {name: share * kernel for name, share in parts.items()}
  budget['kernel.other'] = kernel - sum(budget.values())
  budget['spark.in_task'] = busy - kernel
  budget['spark.idle_slots'] = 1.0 - busy
  return {name: round(v, 4) for name, v in budget.items()}


def main(argv=None) -> int:
  ap = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
  ap.add_argument('--workload', required=True, choices=sorted(WORKLOADS))
  ap.add_argument('--seed', type=int, required=True)
  ap.add_argument('--seconds', type=float, required=True)
  ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
  args = ap.parse_args(argv)

  if not (ROOT / 'blueprint_oss_spark' / 'spark' / 'pipeline.py').is_file():
    print(f'perfbench: no blueprint_oss_spark package under {ROOT}; run '
          f'from a checkout of the repository', file=sys.stderr)
    return 2
  # Spark's Python workers import the package through PYTHONPATH only.
  sys.path.insert(0, str(ROOT))
  os.environ['PYTHONPATH'] = os.pathsep.join(
      p for p in (str(ROOT), os.environ.get('PYTHONPATH')) if p)
  # a terminated run still stops its JVM, waits for every process it
  # started and removes its work dir
  import host
  host.become_subreaper()
  signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
  work = ROOT / '.perfbench_work' / f'{args.workload}-{os.getpid()}'
  work.mkdir(parents=True)
  os.environ['TMPDIR'] = str(work / 'tmp')
  (work / 'tmp').mkdir()
  wl = WORKLOADS[args.workload]
  try:
    res = measure(wl, args.seed, args.seconds, bool(args.trace), work)
  except Exception:  # noqa: BLE001 - report, print no result line
    traceback.print_exc()
    return 1
  finally:
    if 'pyspark' in sys.modules:
      stop_spark()
    host.reap_children()
    shutil.rmtree(work, ignore_errors=True)
    try:
      work.parent.rmdir()  # unless another run still uses it
    except OSError:
      pass

  info, metrics = res['info'], res['metrics']
  print(f'host: {json.dumps(info)}')
  for p in res['problems']:
    print(f'CHECK FAILED: {p}')
  print(f'error_rate: {info["error_rate"]:.6f} '
        f'({res["failed"]} of {res["attempted"]} docs)')
  print(f'{wl.name}  docs_per_s = {info["docs_per_s"]:.6g} docs/s  '
        f'(median of {info["passes"]} passes)')
  declared = declared_metrics(bool(args.trace))
  missing = sorted(set(declared) - set(metrics))
  if missing:
    print(f'perfbench: metrics not measured: {missing}', file=sys.stderr)
    return 1
  for name, unit in declared.items():
    note = res['samples'].get(name)
    print(f'{wl.name}  {name} = {metrics[name]:.6g} {unit}'
          + (f'  ({note})' if note and not args.trace else ''))
  if args.trace:
    out_dir = ROOT / '.perfbench_out'
    out_dir.mkdir(exist_ok=True)
    path = out_dir / f'trace-{wl.name}-seed{args.seed}.json'
    res['tracer'].write(str(path), host=info, metrics=metrics)
    print(f'dominant layer: {info["dominant_layer"]}  '
          f'(slot-second shares {json.dumps(info["budget"])})')
    print(f'trace written to {path.relative_to(ROOT)}')
  print(json.dumps({
      'correct': not res['problems'] and res['failed'] == 0,
      'attempted': res['attempted'], 'failed': res['failed'],
      'metrics': {name: {'value': metrics[name], 'unit': unit}
                  for name, unit in declared.items()}}))
  return 0


if __name__ == '__main__':
  sys.exit(main())
