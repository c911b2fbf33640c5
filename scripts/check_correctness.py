#!/usr/bin/env python
"""Local mimic of the driver's correctness gate: run every queries()
entry on Spark AND its oracle_sql() in DuckDB over the same sf dir,
then compare rows / column names / exact values (rows and columns
sorted, like the driver's value-hash).  Exit nonzero on any mismatch.
Each status line carries a digest of the sorted Spark rows and one of
the sorted (column, type, nullable) schema, so two checkouts compare
bit for bit, types included, with one diff of their outputs (the row
digest alone cannot tell int from bigint: both collect as Python int).

Usage: python scripts/check_correctness.py [--sf-dir /root/testdata/sf0.01]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = ('region', 'nation', 'customer', 'supplier', 'part', 'orders',
          'lineitem', 'events', 'documents', 'embeddings')


def norm_cell(v):
  if v is None:
    return None
  if isinstance(v, float):
    return None if math.isnan(v) else v
  if hasattr(v, 'item'):  # numpy scalars from duckdb
    return norm_cell(v.item())
  return v


def frame_key(cols, rows):
  order = sorted(range(len(cols)), key=lambda i: cols[i])
  # sort by repr: total order even with None cells (cube/rollup nulls)
  out = sorted((tuple(norm_cell(r[i]) for i in order) for r in rows),
               key=repr)
  return [cols[i] for i in order], out


def main() -> None:
  ap = argparse.ArgumentParser()
  ap.add_argument('--sf-dir', default='/root/testdata/sf0.01')
  ap.add_argument('--only', nargs='*', default=None)
  args = ap.parse_args()

  import duckdb
  from pyspark.sql import SparkSession
  spark = (SparkSession.builder.master('local[8]')
           .appName('check-correctness')
           .config('spark.sql.shuffle.partitions', '8')
           .config('spark.sql.adaptive.enabled', 'true')
           .config('spark.sql.execution.arrow.pyspark.enabled', 'true')
           .config('spark.ui.enabled', 'false')
           .getOrCreate())
  spark.sparkContext.setLogLevel('ERROR')

  con = duckdb.connect()
  for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{args.sf_dir}/{t}.parquet')")

  import __spark_entry__ as entry
  queries = entry.queries()
  oracles = entry.oracle_sql()

  results = {}
  failed = []
  for name, fn in queries.items():
    if args.only and name not in args.only:
      continue
    rec: dict = {}
    try:
      sdf = fn(spark, args.sf_dir)
      s_cols = sdf.columns
      s_rows = [tuple(r) for r in sdf.collect()]
      rec['spark_rows'] = len(s_rows)
      sk_cols, sk = frame_key(s_cols, s_rows)
      rec['digest'] = hashlib.sha256(
          repr((sk_cols, sk)).encode()).hexdigest()[:16]
      rec['schema_digest'] = hashlib.sha256(repr(sorted(
          (f.name, f.dataType.json(), f.nullable)
          for f in sdf.schema.fields)).encode()).hexdigest()[:16]
      sql = oracles.get(name)
      if sql is None:
        rec['status'] = 'no_oracle'
      else:
        cur = con.execute(sql)
        o_cols = [d[0] for d in cur.description]
        o_rows = cur.fetchall()
        rec['oracle_rows'] = len(o_rows)
        ok_cols, ok = frame_key(o_cols, o_rows)
        rec['rows_match'] = len(s_rows) == len(o_rows)
        rec['schema_match'] = sk_cols == ok_cols
        rec['values_match'] = sk == ok
        rec['status'] = ('green' if rec['rows_match']
                         and rec['schema_match'] and rec['values_match']
                         else 'MISMATCH')
        if rec['status'] == 'MISMATCH':
          for i, (a, b) in enumerate(zip(sk, ok)):
            if a != b:
              rec['first_diff'] = {'row': i, 'spark': repr(a)[:300],
                                   'oracle': repr(b)[:300]}
              break
    except Exception as e:  # noqa: BLE001
      rec['status'] = f'ERROR: {e}'
    results[name] = rec
    if rec['status'] not in ('green', 'no_oracle'):
      failed.append(name)
    print(f"{name}: {rec['status']}"
          + (f" ({rec['spark_rows']} rows, {rec['digest']},"
             f" schema {rec['schema_digest']})"
             if 'spark_rows' in rec else ''))
    if 'first_diff' in rec:
      print('  first diff:', json.dumps(rec['first_diff'], default=str))

  n_green = sum(1 for r in results.values() if r['status'] == 'green')
  print(f"\n{n_green}/{len(results)} green, "
        f"{sum(1 for r in results.values() if r['status'] == 'no_oracle')}"
        f" no_oracle, {len(failed)} failed: {failed}")
  spark.stop()
  sys.exit(1 if failed else 0)


if __name__ == '__main__':
  main()
