"""CLI: run blueprint extraction jobs from the command line.

Mirrors the reference CLI surface (bp/cli/cli_main.py run_model) but
Spark-first: the document set is a spans parquet table or a glob of
OCR / PDF / doc-JSON files, and execution is the bulk pipeline.  Both
inputs run the same resumable job: one part_bucket=<g> output
partition per checkpoint group (--groups), per-group lineage under
<output>/_lineage, and the --timeout per-document budget.

Examples:
  python -m blueprint_oss_spark run_model \
      --model model.json --input spans.parquet --output out/

  spark-submit --py-files blueprint_oss_spark.zip \
      -m blueprint_oss_spark run_model --model model.json \
      --input s3://bucket/docs --output s3://bucket/out \
      --ocr-format google
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
  ap = argparse.ArgumentParser(prog='blueprint_oss_spark')
  sub = ap.add_subparsers(dest='cmd', required=True)

  rm = sub.add_parser('run_model', help='bulk extraction job')
  rm.add_argument('--model', required=True,
                  help='blueprint model JSON (reference-compatible)')
  rm.add_argument('--input', required=True,
                  help='spans parquet path, or OCR file glob with '
                       '--ocr-format')
  rm.add_argument('--output', required=True, help='output parquet path')
  rm.add_argument('--ocr-format',
                  choices=['google', 'ibocr', 'hocr', 'pdf', 'docjson'],
                  default=None,
                  help='treat --input as a file glob in this format '
                       '(docjson = reference Document JSON, '
                       'bp/document.py:188-207) instead of spans parquet')
  rm.add_argument('--master', default='local[*]')
  rm.add_argument('--timeout', type=float, default=45.0,
                  help='per-document budget in seconds (reference '
                       'default 45, bp/cli/run_model.py:32)')
  rm.add_argument('--groups', type=int, default=4)
  rm.add_argument('--no-resume', action='store_true')

  gd = sub.add_parser(
      'gen_bp_doc',
      help='OCR file(s) → reference-format Document JSON '
           '(bp/cli/gen_bp_doc.py parity, extended to all parsers '
           'and file globs)')
  gd.add_argument('-g', '--google-ocr-json', default=None,
                  help='input Google OCR JSON file (reference flag)')
  gd.add_argument('--input', default=None,
                  help='input OCR file or glob (any --ocr-format)')
  gd.add_argument('-o', '--output-path', required=True,
                  help='output doc-JSON file (single input) or '
                       'directory (glob)')
  gd.add_argument('--ocr-format',
                  choices=['google', 'ibocr', 'hocr', 'pdf'],
                  default='google')

  mc = sub.add_parser(
      'run_main_content',
      help='bulk main-content extraction over an interleaved '
           'text+media spans table (HTML boilerplate strip, media '
           'passthrough), resumable with per-partition lineage')
  mc.add_argument('--input', required=True,
                  help='spans parquet path (doc_id, spans:array<'
                       'struct<kind,text,media_ref,offset>>)')
  mc.add_argument('--output', required=True, help='output parquet path')
  mc.add_argument('--master', default='local[*]')
  mc.add_argument('--groups', type=int, default=4)
  mc.add_argument('--no-resume', action='store_true')

  sy = sub.add_parser(
      'synthesis',
      help='labeled extraction + schema + doc → synthesized pattern '
           'node (reference bp/cli/synthesis.py parity)')
  sy.add_argument('-d', '--doc-json', required=True, metavar='FILE',
                  help='Document JSON file')
  sy.add_argument('-e', '--extraction-json', required=True,
                  metavar='FILE', help='Target extraction file')
  sy.add_argument('-s', '--schema-json', required=True, metavar='FILE',
                  help='Targets schema file (list of '
                       '{field, type, is_label})')
  sy.add_argument('-o', '--output-file', required=True, metavar='FILE',
                  help='Output model JSON file')

  wf = sub.add_parser(
      'wiif',
      help='why-is-it-failing: per-node rule scores for a labeled '
           'extraction (reference bp/cli/wiif.py parity)')
  wf.add_argument('-d', '--doc-json', required=True, metavar='FILE',
                  help='Document JSON file')
  wf.add_argument('-e', '--extraction-json', required=True,
                  metavar='FILE', help='Extraction file')
  wf.add_argument('-n', '--node-json', required=True, metavar='FILE',
                  help='Node (model JSON) file')
  wf.add_argument('-o', '--output-file', required=True, metavar='FILE',
                  help='Output WIIF JSON file')

  args = ap.parse_args(argv)

  if args.cmd in ('synthesis', 'wiif'):
    from .engine.doc_json import load_doc, target_assign_from_json

    pool = load_doc(args.doc_json)
    with open(args.extraction_json) as f:
      assign = target_assign_from_json(json.load(f), pool)

    if args.cmd == 'synthesis':
      from .engine.synthesis import SchemaEntry, synthesize_pattern_node
      from .model.json_io import save_model

      with open(args.schema_json) as f:
        blob = json.load(f)
      entries = blob['entries'] if isinstance(blob, dict) else blob
      schema = tuple(
          SchemaEntry(e['field'], e.get('type', 'Text'),
                      bool(e.get('is_label', False)))
          for e in entries)
      node = synthesize_pattern_node(assign, schema, pool)
      save_model(node, args.output_file)
      print(json.dumps({'doc': pool.name, 'output': args.output_file,
                        'fields': sorted(assign)}))
    else:
      from .engine.wiif import why_is_it_failing
      from .model.json_io import load_model

      node = load_model(args.node_json)
      wiif_node = why_is_it_failing(assign, node, pool)
      with open(args.output_file, 'w') as f:
        json.dump(wiif_node, f, indent=2, sort_keys=True)
      print(json.dumps({'doc': pool.name, 'output': args.output_file}))
    return 0

  if args.cmd == 'gen_bp_doc':
    import glob as globmod
    import os

    from .engine.doc_json import save_doc
    from .engine.entity_gen import build_doc_pool
    from .spark.sources import PARSERS

    pattern = args.google_ocr_json or args.input
    if not pattern:
      ap.error('gen_bp_doc needs --google-ocr-json or --input')
    parser = PARSERS[args.ocr_format]
    paths = sorted(globmod.glob(pattern))
    if not paths:
      if os.path.exists(pattern):
        paths = [pattern]
      else:
        ap.error(f'no input files match {pattern!r}')
    many = len(paths) > 1 or os.path.isdir(args.output_path)
    if many:
      os.makedirs(args.output_path, exist_ok=True)
    written = []
    seen_names: dict = {}
    for p in paths:
      with open(p, 'rb') as f:
        pages = parser(f.read())
      name = os.path.basename(p)
      # Two inputs sharing a basename (glob across directories) must not
      # overwrite each other's output — suffix repeats with a counter.
      n_prior = seen_names.get(name, 0)
      seen_names[name] = n_prior + 1
      out_name = f'{name}.{n_prior}' if n_prior else name
      pool = build_doc_pool(name, pages)
      out = (os.path.join(args.output_path, out_name + '.bpdoc.json')
             if many else args.output_path)
      save_doc(pool, out)
      written.append(out)
    print(json.dumps({'docs': len(written), 'outputs': written[:5]}))
    return 0

  from pyspark.sql import SparkSession

  from .spark.pipeline import run_extraction_job

  spark = (SparkSession.builder.master(args.master)
           .appName('blueprint-oss-spark')
           .config('spark.sql.adaptive.enabled', 'true')
           .config('spark.sql.execution.arrow.pyspark.enabled', 'true')
           .config('spark.sql.session.timeZone', 'UTC')
           .getOrCreate())

  if args.cmd == 'run_main_content':
    from .ops.html_extract import main_content_from_spans
    input_df, root = spark.read.parquet(args.input), None
    job_kwargs = {'transform': main_content_from_spans}
  else:
    from .model.json_io import load_model
    from .spark.sources import read_files
    input_df = (read_files(spark, args.input) if args.ocr_format
                else spark.read.parquet(args.input))
    root = load_model(args.model)
    job_kwargs = {'ocr_format': args.ocr_format,
                  'doc_time_budget_s': args.timeout}

  lineage = run_extraction_job(
      spark, input_df, args.output, root,
      groups=args.groups, resume=not args.no_resume, **job_kwargs)
  print(json.dumps({'groups_processed': len(lineage),
                    'output': args.output}))
  spark.stop()
  return 0


if __name__ == '__main__':
  sys.exit(main())
