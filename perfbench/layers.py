"""In-process layer passes, the span recorder, and output digests.

Every layer is timed from outside, around calls to its public
functions.  Calls go through the module attribute (`solver.best_extraction`,
not a name imported once), so a wrapper placed on the module — the
self-test's planted delay — is what the pass times.
"""

from __future__ import annotations

import hashlib
import json
import statistics
import time
from typing import Dict, Iterable, List, Optional, Sequence, Tuple

from blueprint_oss_spark.engine import entity_gen, runner, solver
from blueprint_oss_spark.ops import html_extract
from blueprint_oss_spark.spark import pdf, pipeline

ENGINE_PHASES = ('runner.spans_to_pages_ms',
                 'entity_gen.build_doc_pool_ms',
                 'solver.best_extraction_ms',
                 'runner.canonical_out_spans_ms')
CHECKSUM_MOD = 2 ** 61 - 1


class Tracer:
  """Spans (name, start, end, parent, workload) kept in memory and
  written once at the end.  Times are epoch seconds."""

  def __init__(self, workload: str):
    self.workload = workload
    self.spans: List[dict] = []
    self._epoch0 = time.time()
    self._perf0 = time.perf_counter()

  def epoch(self, perf_t: float) -> float:
    return self._epoch0 + (perf_t - self._perf0)

  def add(self, name: str, start: float, end: float,
          parent: Optional[int] = None, **attrs) -> int:
    self.spans.append({'id': len(self.spans), 'name': name,
                       'start': start, 'end': end, 'parent': parent,
                       'workload': self.workload, **attrs})
    return len(self.spans) - 1

  def write(self, path: str, **header) -> None:
    with open(path, 'w') as f:
      json.dump({'workload': self.workload, **header,
                 'spans': self.spans}, f)


def quantile(values: Sequence[float], q: float) -> float:
  """Nearest-rank quantile; 0.0 for no values."""
  if not values:
    return 0.0
  s = sorted(values)
  return s[min(len(s) - 1, max(0, round(q * len(s)) - 1))]


# --- expected outputs (run in worker processes) -----------------------------

def _span_rows(spans) -> List[Tuple[str, str, str, int]]:
  return [(s['kind'], s['text'] or '', s['media_ref'] or '',
           int(s['offset'])) for s in spans]


def expected_extraction(args) -> List[Tuple[str, dict]]:
  """run_doc over a chunk of (doc_id, spans dicts): the single-process
  result every Spark pass must reproduce."""
  payload, docs = args
  tree = pipeline.tree_from_payload(payload)
  return [(doc_id, runner.run_doc(doc_id, _span_rows(spans), tree,
                                  pre_optimized=True))
          for doc_id, spans in docs]


def expected_main_content(docs) -> List[Tuple[str, tuple]]:
  return [(doc_id, html_extract.main_content_doc(spans))
          for doc_id, spans in docs]


# --- digests ----------------------------------------------------------------

def _digest(obj) -> int:
  blob = json.dumps(obj, separators=(',', ':')).encode('utf-8')
  return int.from_bytes(hashlib.blake2b(blob, digest_size=8).digest(),
                        'big')


def _out_rows(out_spans) -> list:
  return [[s['kind'], s['text'], s['media_ref'], s['order']]
          for s in out_spans]


def extraction_digest(doc_id: str, out_spans, score: float) -> int:
  return _digest([doc_id, _out_rows(out_spans), score])


def main_content_digest(doc_id: str, out_spans, n_html: int) -> int:
  return _digest([doc_id, _out_rows(out_spans), n_html])


def checksum(digests: Iterable[int]) -> int:
  return sum(digests) % CHECKSUM_MOD


# --- in-process passes ------------------------------------------------------

def pipeline_costs(root, repeats: int = 5) -> dict:
  """Driver-side compile and the worker-side payload decode, each timed
  cold (the decode cache entry for this payload is dropped first)."""
  compile_ms, decode_ms = [], []
  for _ in range(repeats):
    t0 = time.perf_counter()
    payload = pipeline.compile_blueprint(root)
    t1 = time.perf_counter()
    pipeline._TREE_BY_DIGEST.pop(hashlib.md5(payload).digest(), None)
    t2 = time.perf_counter()
    pipeline.tree_from_payload(payload)
    t3 = time.perf_counter()
    compile_ms.append((t1 - t0) * 1e3)
    decode_ms.append((t3 - t2) * 1e3)
  return {'pipeline.payload_kb': len(payload) / 1024.0,
          'pipeline.compile_blueprint_ms': statistics.median(compile_ms),
          'pipeline.tree_from_payload_ms': statistics.median(decode_ms)}


def engine_pass(docs, root, tracer: Tracer, parent: Optional[int] = None,
                warm_docs: int = 50) -> Tuple[Dict[str, dict], dict]:
  """Time each call run_doc makes, doc by doc, in this process.

  Returns (composed results by doc_id, layer stats).  The first
  `warm_docs` documents are run once untimed so the solver's
  process-global caches are as warm as a Spark worker's after its
  warm-up pass."""
  tree = pipeline.tree_from_payload(pipeline.compile_blueprint(root))
  rows = [(doc_id, _span_rows(spans)) for doc_id, spans in docs]
  for doc_id, spans in rows[:warm_docs]:
    runner.run_doc(doc_id, spans, tree, pre_optimized=True)
  clock = time.perf_counter
  phase_ms: Dict[str, List[float]] = {p: [] for p in ENGINE_PHASES}
  results: Dict[str, dict] = {}
  n_ent = n_words = n_empty = 0
  pass_t0 = clock()
  pass_id = tracer.add('engine.inproc_pass', 0.0, 0.0, parent)
  for doc_id, spans in rows:
    t0 = clock()
    pages = runner.spans_to_pages(spans)
    t1 = clock()
    pool = entity_gen.build_doc_pool(doc_id, pages)
    t2 = clock()
    assign, _, score = solver.best_extraction(tree, pool, True)
    t3 = clock()
    fields = {f: pool.etext[e] for f, e in assign.items()}
    out = runner.canonical_out_spans(fields, spans)
    t4 = clock()
    doc_span = tracer.add('engine.doc', tracer.epoch(t0), tracer.epoch(t4),
                          pass_id, doc_id=doc_id)
    for name, a, b in zip(ENGINE_PHASES, (t0, t1, t2, t3), (t1, t2, t3, t4)):
      phase_ms[name].append((b - a) * 1e3)
      tracer.add(name[:-3], tracer.epoch(a), tracer.epoch(b), doc_span)
    results[doc_id] = {'doc_id': doc_id, 'out_spans': out, 'fields': fields,
                       'score': float(score), 'n_entities': pool.n_entities,
                       'n_words': pool.n_words}
    n_ent += pool.n_entities
    n_words += pool.n_words
    n_empty += not assign
  wall = clock() - pass_t0
  tracer.spans[pass_id].update(start=tracer.epoch(pass_t0),
                               end=tracer.epoch(pass_t0 + wall))
  n = max(len(rows), 1)
  stats = {'engine.inproc_docs_per_s': len(rows) / wall,
           'engine.coverage': sum(map(sum, phase_ms.values())) / 1e3 / wall,
           'entity_gen.entities_per_doc': n_ent / n,
           'entity_gen.words_per_doc': n_words / n,
           'solver.empty_ratio': n_empty / n}
  for name, ms in phase_ms.items():
    stats[f'{name}.p50'] = statistics.median(ms) if ms else 0.0
    stats[f'{name}.p99'] = quantile(ms, 0.99)
    stats[f'{name}.share'] = sum(ms) / 1e3 / wall
  return results, stats


def main_content_pass(docs, tracer: Tracer, parent: Optional[int] = None) \
    -> Tuple[Dict[str, tuple], dict]:
  """Per span: extract_main_content (HTML) and parse_pdf (PDF); then per
  document the whole main_content_doc kernel, whose output is returned."""
  clock = time.perf_counter
  html_ms: List[float] = []
  pdf_ms: List[float] = []
  doc_ms: List[float] = []
  results: Dict[str, tuple] = {}
  n_pdf = n_pdf_empty = 0
  pass_t0 = clock()
  pass_id = tracer.add('html_extract.inproc_pass', 0.0, 0.0, parent)
  for doc_id, spans in docs:
    t0 = clock()
    results[doc_id] = html_extract.main_content_doc(spans)
    t1 = clock()
    doc_ms.append((t1 - t0) * 1e3)
    doc_span = tracer.add('html_extract.main_content_doc', tracer.epoch(t0),
                          tracer.epoch(t1), pass_id, doc_id=doc_id)
    for s in spans:
      if s['kind'] == 'html':
        a = clock()
        html_extract.extract_main_content(s['text'] or '')
        b = clock()
        html_ms.append((b - a) * 1e3)
        tracer.add('html_extract.extract_main_content', tracer.epoch(a),
                   tracer.epoch(b), doc_span)
      elif s['kind'] == 'pdf':
        a = clock()
        pdf.parse_pdf((s['text'] or '').encode('latin-1'))
        b = clock()
        pdf_ms.append((b - a) * 1e3)
        tracer.add('pdf.parse_pdf', tracer.epoch(a), tracer.epoch(b),
                   doc_span)
    ordered = sorted(spans, key=lambda s: s['offset'])
    for order, s in enumerate(ordered):
      if s['kind'] == 'pdf':
        n_pdf += 1
        n_pdf_empty += results[doc_id][0][order]['text'] == ''
  wall = clock() - pass_t0
  tracer.spans[pass_id].update(start=tracer.epoch(pass_t0),
                               end=tracer.epoch(pass_t0 + wall))
  doc_total = sum(doc_ms) or 1e-9
  stats = {
      'html_extract.inproc_docs_per_s': len(docs) / (sum(doc_ms) / 1e3),
      'html_extract.extract_main_content_ms.p50':
          statistics.median(html_ms) if html_ms else 0.0,
      'html_extract.extract_main_content_ms.p99': quantile(html_ms, 0.99),
      'html_extract.extract_main_content.share': sum(html_ms) / doc_total,
      'pdf.parse_pdf_ms.p50': statistics.median(pdf_ms) if pdf_ms else 0.0,
      'pdf.parse_pdf_ms.p99': quantile(pdf_ms, 0.99),
      'pdf.parse_pdf.share': sum(pdf_ms) / doc_total,
      'html_extract.main_content_doc_ms.p50':
          statistics.median(doc_ms) if doc_ms else 0.0,
      'html_extract.main_content_doc_ms.p99': quantile(doc_ms, 0.99),
      'pdf.empty_ratio': n_pdf_empty / n_pdf if n_pdf else 0.0,
  }
  return results, stats
