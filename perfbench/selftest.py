#!/usr/bin/env python3
"""Self-test of the benchmark's layer attribution.

  python3 perfbench/selftest.py

For each layer the in-process passes time, wrap that layer's public
function with a planted delay and check that the breakdown charges the
delay to that layer and to no other.  Then, when the reference engine is
importable through tests/refshim.py, check a fixed-seed readme sample
against it.  Exits 1 on any failed check.  Needs no Spark session.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import layers  # noqa: E402
from blueprint_oss_spark.engine import entity_gen, runner, solver  # noqa: E402
from blueprint_oss_spark.fixtures import (  # noqa: E402
    readme_blueprint, readme_corpus)
from blueprint_oss_spark.ops import html_extract  # noqa: E402
from blueprint_oss_spark.spark import pdf  # noqa: E402

DELAY_MS = 10.0
SEED = 4242

ENGINE_TARGETS = {
    'runner.spans_to_pages_ms': (runner, 'spans_to_pages'),
    'entity_gen.build_doc_pool_ms': (entity_gen, 'build_doc_pool'),
    'solver.best_extraction_ms': (solver, 'best_extraction'),
    'runner.canonical_out_spans_ms': (runner, 'canonical_out_spans'),
}
MAIN_CONTENT_TARGETS = {
    'html_extract.extract_main_content_ms': (html_extract,
                                             'extract_main_content'),
    'pdf.parse_pdf_ms': (pdf, 'parse_pdf'),
}

failures = []


def check(ok: bool, what: str) -> None:
  print(('ok    ' if ok else 'FAIL  ') + what)
  if not ok:
    failures.append(what)


def planted(module, attr: str):
  """Context manager: module.attr spins DELAY_MS before each call.  A
  busy wait, not a sleep, so the planted cost is CPU work like a slower
  layer's: an idle vCPU comes back slower and would smear the delay over
  the layers after it."""
  class _Plant:
    def __enter__(self):
      self.orig = getattr(module, attr)
      orig = self.orig

      def slow(*a, **kw):
        end = time.perf_counter() + DELAY_MS / 1e3
        while time.perf_counter() < end:
          pass
        return orig(*a, **kw)
      setattr(module, attr, slow)

    def __exit__(self, *exc):
      setattr(module, attr, self.orig)
  return _Plant()


def attribution(name: str, targets: dict, run_pass) -> None:
  for layer, (module, attr) in targets.items():
    # a fresh baseline just before each planted pass: on a shared 4-vCPU
    # VM, build_doc_pool's median drifted by 0.8 ms within a minute
    base = run_pass()
    with planted(module, attr):
      got = run_pass()
    for other in targets:
      moved = got[f'{other}.p50'] - base[f'{other}.p50']
      if other == layer:
        check(moved >= 0.8 * DELAY_MS,
              f'{name}: delay in {module.__name__}.{attr} charged to '
              f'{other} (+{moved:.2f} ms per call)')
      else:
        check(abs(moved) < 0.25 * DELAY_MS,
              f'{name}: delay in {module.__name__}.{attr} not charged to '
              f'{other} ({moved:+.2f} ms per call)')


def engine_attribution() -> None:
  docs = [(d, [dict(zip(('kind', 'text', 'media_ref', 'offset'), s))
               for s in spans])
          for d, spans in readme_corpus(150, seed=SEED)]
  root = readme_blueprint()
  tree = layers.pipeline.tree_from_payload(
      layers.pipeline.compile_blueprint(root))
  want = {d: runner.run_doc(d, layers._span_rows(s), tree, pre_optimized=True)
          for d, s in docs}

  def run_pass():
    composed, stats = layers.engine_pass(docs, root, layers.Tracer('self'))
    check(composed == want, 'engine: composed calls equal run_doc')
    check(abs(stats['engine.coverage'] - 1) < 0.1,
          f'engine: layer times cover the pass wall '
          f'({stats["engine.coverage"]:.3f})')
    return stats
  attribution('engine', ENGINE_TARGETS, run_pass)


def main_content_attribution() -> None:
  import random
  from blueprint_oss_spark.spark.pdf import CHAR_ADVANCE, write_simple_pdf
  rng = random.Random(SEED)
  docs = []
  for i in range(60):
    words = ' '.join(rng.choice(('alpha', 'beta', 'gamma', 'delta'))
                     for _ in range(120))
    x, boxes = 36.0, []
    for w in f'appendix {i}'.split():
      x1 = x + CHAR_ADVANCE * 12 * len(w)
      boxes.append((w, x, x1, 100.0, 112.0))
      x = x1 + CHAR_ADVANCE * 12
    pdf_text = write_simple_pdf(
        [{'width': 612.0, 'height': 792.0, 'words': boxes}]).decode('latin-1')
    docs.append((str(i), [
        {'kind': 'html', 'media_ref': None, 'offset': 0,
         'text': html_extract.wrap_in_boilerplate(str(i), words, i % 3)},
        {'kind': 'media', 'text': None, 'offset': 1,
         'media_ref': f'media/{i}/0'},
        {'kind': 'pdf', 'media_ref': None, 'offset': 2, 'text': pdf_text}]))

  def run_pass():
    return layers.main_content_pass(docs, layers.Tracer('self'))[1]
  attribution('main content', MAIN_CONTENT_TARGETS, run_pass)


def reference_sample() -> None:
  try:
    from tests import refshim
  except (ImportError, OSError) as e:
    print(f'skip  reference sample: reference engine not importable ({e})')
    return
  root = readme_blueprint()
  tree = layers.pipeline.tree_from_payload(
      layers.pipeline.compile_blueprint(root))
  ref_root = refshim.ref_readme_blueprint()
  bad = []
  for doc_id, spans in readme_corpus(25, seed=SEED):
    got = runner.run_doc(doc_id, spans, tree, pre_optimized=True)
    _, score, outs = refshim.reference_best_set(doc_id, spans, ref_root)
    if got['score'] != score or list(got['out_spans']) not in outs:
      bad.append(doc_id)
  check(not bad, f'reference sample: 25 readme docs match the reference '
                 f'engine\'s fields and score (differ: {bad[:3]})')


def main() -> int:
  engine_attribution()
  main_content_attribution()
  reference_sample()
  print(f'{len(failures)} failed')
  return 1 if failures else 0


if __name__ == '__main__':
  sys.exit(main())
