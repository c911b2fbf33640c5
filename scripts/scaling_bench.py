#!/usr/bin/env python
"""Scaling-efficiency evidence for the north rule: run the same
extraction job at two parallelism levels (local[N] and local[4N]) on the
same input and report throughput at both + scaling efficiency
(BASELINE.md: ≥0.8 between N and 4N).

Each level runs in its own subprocess (one JVM per master setting).
Usage: python scripts/scaling_bench.py [N] [n_docs]
Writes JSON to stdout and BENCH_SCALING.json.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

WORKER = r'''
import json, os, sys, time
os.environ.setdefault('OMP_NUM_THREADS', '1')
os.environ.setdefault('OPENBLAS_NUM_THREADS', '1')
cpus, n_docs = sys.argv[1], int(sys.argv[2])
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master(f'local[{cpus}]')
         .appName(f'scaling-{cpus}')
         .config('spark.sql.shuffle.partitions', cpus)
         .config('spark.sql.execution.arrow.pyspark.enabled', 'true')
         .config('spark.driver.memory', '12g')
         .config('spark.ui.enabled', 'false').getOrCreate())
spark.sparkContext.setLogLevel('ERROR')
from blueprint_oss_spark.fixtures import readme_blueprint, readme_corpus
from blueprint_oss_spark.spark.pipeline import extract_documents, \
    spans_frame
df = spans_frame(spark, readme_corpus(n_docs, seed=999)) \
    .repartition(int(cpus) * 2).cache()
df.count()
root = readme_blueprint()
# full warmup pass: fork + import every python worker, JIT codegen
extract_documents(df, root).count()
times = []
for _ in range(3):
    t0 = time.monotonic()
    n = extract_documents(df, root).count()
    times.append(time.monotonic() - t0)
best = min(times)
median = sorted(times)[len(times) // 2]
print(json.dumps({'cpus': int(cpus), 'docs': n, 'sec': best,
                  'sec_median': round(median, 4),
                  'sec_all': [round(t, 4) for t in times],
                  'docs_per_sec': n / best,
                  'docs_per_sec_median': n / median}))
spark.stop()
'''


def run_level(cpus: int, n_docs: int) -> dict:
  out = subprocess.run(
      [sys.executable, '-c', WORKER, str(cpus), str(n_docs)],
      capture_output=True, text=True, cwd=os.path.dirname(
          os.path.dirname(os.path.abspath(__file__))))
  if out.returncode != 0:
    raise RuntimeError(out.stderr[-2000:])
  line = out.stdout.strip().splitlines()[-1]
  return json.loads(line)


def main() -> None:
  n = int(sys.argv[1]) if len(sys.argv) > 1 else 8
  n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 4000
  lo = run_level(n, n_docs)
  hi = run_level(4 * n, n_docs)
  efficiency = (hi['docs_per_sec'] / lo['docs_per_sec']) / 4.0
  eff_median = (hi['docs_per_sec_median']
                / lo['docs_per_sec_median']) / 4.0
  result = {
      'n_docs': n_docs,
      'low': lo,
      'high': hi,
      'speedup': round(hi['docs_per_sec'] / lo['docs_per_sec'], 3),
      'scaling_efficiency_N_to_4N': round(efficiency, 3),
      'scaling_efficiency_N_to_4N_median': round(eff_median, 3),
      'target': 0.8,
  }
  print(json.dumps(result))
  # merge into BENCH_SCALING.json (which also carries the curated
  # multi-run summary) instead of clobbering it
  path = os.path.join(os.path.dirname(os.path.dirname(
      os.path.abspath(__file__))), 'BENCH_SCALING.json')
  blob = {}
  if os.path.exists(path):
    try:
      with open(path) as f:
        blob = json.load(f)
    except ValueError:
      blob = {}
  blob[f'last_run_{n}_to_{4 * n}'] = result
  with open(path, 'w') as f:
    json.dump(blob, f, indent=2)


if __name__ == '__main__':
  main()
