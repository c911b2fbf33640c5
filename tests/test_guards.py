"""Per-document robustness guards: a pathological document degrades to
an `error` row; healthy documents in the same batch are unaffected
(reference analogue: the 45 s SIGALRM per doc, bp/cli/run_model.py:32 —
executors cannot use signals, so the pipeline polls a deadline).  File
inputs (OCR / PDF / doc JSON) run through the same per-document kernel
and the same resumable CLI job."""

import json
import os
import pathlib
import subprocess
import sys

from blueprint_oss_spark.engine.doc_json import doc_json_from_pool
from blueprint_oss_spark.engine.entity_gen import build_doc_pool
from blueprint_oss_spark.engine.runner import (
    pack_offset, run_doc, spans_to_pages, unpack_offset,
)
from blueprint_oss_spark.fixtures import readme_blueprint, readme_corpus
from blueprint_oss_spark.spark.pipeline import (
    SPANS_SCHEMA, compile_blueprint, extract_documents, tree_from_payload,
)
from blueprint_oss_spark.spark.sources import read_files

REPO = pathlib.Path(__file__).resolve().parent.parent


def _df(spark, docs):
  rows = [(d, [{'kind': k, 'text': t, 'media_ref': m, 'offset': o}
               for (k, t, m, o) in spans]) for d, spans in docs]
  return spark.createDataFrame(rows, SPANS_SCHEMA)


def _inflate(spans, factor):
  out = []
  max_line = max(unpack_offset(o)[1] for (_, _, _, o) in spans) + 2
  for rep in range(factor):
    for (k, t, m, o) in spans:
      pg, ln, col = unpack_offset(o)
      out.append((k, t, m, pack_offset(pg, ln + rep * max_line, col)))
  return out


def test_span_count_guard_isolates_bad_doc(spark):
  docs = readme_corpus(4, seed=777)
  whale = ('whale', _inflate(docs[0][1], 30))
  df = _df(spark, docs + [whale]).coalesce(1)
  out = {r['doc_id']: r
         for r in extract_documents(df, readme_blueprint(),
                                    max_spans_per_doc=100).collect()}
  assert out['whale']['error'] is not None
  assert out['whale']['error'].startswith('budget:')
  for d, _ in docs:
    assert out[d]['error'] is None  # neighbors unaffected


def test_time_budget_isolates_slow_doc(spark):
  docs = readme_corpus(4, seed=787)
  whale = ('whale', _inflate(docs[0][1], 120))
  df = _df(spark, docs + [whale]).coalesce(1)
  out = {r['doc_id']: r
         for r in extract_documents(df, readme_blueprint(),
                                    doc_time_budget_s=0.02).collect()}
  # the whale blows the 20 ms budget; small docs may or may not fit in
  # it depending on machine speed, so assert only the whale + row shape
  assert out['whale']['error'] == 'timeout'
  assert out['whale']['score'] == 0.0
  assert len(out) == 5

  # generous budget: everyone healthy, whale included
  out2 = {r['doc_id']: r
          for r in extract_documents(df, readme_blueprint(),
                                     doc_time_budget_s=300).collect()}
  assert all(r['error'] is None for r in out2.values())


def test_malformed_rows_become_error_rows(spark):
  """At 10^12 docs, a null spans array / null struct field must yield a
  per-doc error row — never an executor task failure."""
  docs = readme_corpus(2, seed=797)
  good = _df(spark, docs)
  rows = [
      ('null-spans', None),
      ('null-kind', [{'kind': None, 'text': 'x', 'media_ref': '',
                      'offset': 0}]),
      ('null-offset', [{'kind': 'text', 'text': 'x', 'media_ref': '',
                        'offset': None}]),
      # null text / media_ref are LEGAL (media spans carry no text):
      # normalized to '' and processed
      ('null-text', [{'kind': 'text', 'text': None, 'media_ref': '',
                      'offset': 0},
                     {'kind': 'media', 'text': None,
                      'media_ref': 'm://1', 'offset': 16}]),
      (None, [{'kind': 'text', 'text': 'x', 'media_ref': '',
               'offset': 0}]),
  ]
  bad = spark.createDataFrame(rows, SPANS_SCHEMA)
  out = [r.asDict() for r in
         extract_documents(good.unionAll(bad).coalesce(1),
                           readme_blueprint()).collect()]
  by_id = {r['doc_id']: r for r in out}
  assert len(out) == len(docs) + len(rows)
  for d, _ in docs:
    assert by_id[d]['error'] is None
  assert by_id['null-spans']['error'].startswith('malformed:')
  assert by_id['null-kind']['error'].startswith('malformed:')
  assert by_id['null-offset']['error'].startswith('malformed:')
  assert by_id[None]['error'].startswith('malformed:')
  # legal nulls inside spans: processed; the null-text span normalizes
  # to '' and yields no word (same as spans_from_documents dropping
  # empty tokens), while the media span round-trips untouched
  nt = by_id['null-text']
  assert nt['error'] is None
  assert [s['kind'] for s in nt['out_spans']] == ['media']
  assert nt['out_spans'][0]['media_ref'] == 'm://1'


def _write_doc_json(path, doc_id, spans):
  pool = build_doc_pool(doc_id, spans_to_pages(spans))
  path.write_text(json.dumps(doc_json_from_pool(pool)))


def test_file_input_time_budget_isolates_slow_doc(spark, tmp_path):
  """A doc-JSON file over doc_time_budget_s is a `timeout` row; the
  small files beside it solve exactly as the in-process engine does."""
  docs = readme_corpus(4, seed=787)
  for doc_id, spans in docs:
    _write_doc_json(tmp_path / f'{doc_id}.json', doc_id, spans)
  # many label x amount candidates: a x120 copy of this doc already
  # takes ~0.9 s to solve unbounded; the small docs take milliseconds,
  # far inside the 0.5 s budget
  _write_doc_json(tmp_path / 'whale.json', 'whale',
                  _inflate(docs[2][1], 400))
  df = read_files(spark, str(tmp_path / '*.json')).coalesce(1)
  out = {r['doc_id']: r
         for r in extract_documents(df, readme_blueprint(),
                                    ocr_format='docjson',
                                    doc_time_budget_s=0.5).collect()}
  assert len(out) == 5
  assert out['whale.json']['error'] == 'timeout'
  assert out['whale.json']['score'] == 0.0
  tree = tree_from_payload(compile_blueprint(readme_blueprint()))
  for doc_id, spans in docs:
    got = out[f'{doc_id}.json']
    want = run_doc(doc_id, spans, tree, pre_optimized=True)
    assert got['error'] is None
    assert (dict(got['fields']), got['score']) == \
        (want['fields'], want['score'])


def test_unparseable_file_is_malformed_row(spark, tmp_path):
  docs = readme_corpus(2, seed=797)
  for doc_id, spans in docs:
    _write_doc_json(tmp_path / f'{doc_id}.json', doc_id, spans)
  (tmp_path / 'truncated.json').write_text('{"type": "Document", "ent')
  (tmp_path / 'wrong-shape.json').write_text('[1, 2, 3]')
  df = read_files(spark, str(tmp_path / '*.json')).coalesce(1)
  out = {r['doc_id']: r
         for r in extract_documents(df, readme_blueprint(),
                                    ocr_format='docjson').collect()}
  assert len(out) == 4
  assert out['truncated.json']['error'].startswith(
      'malformed: JSONDecodeError: ')
  assert out['wrong-shape.json']['error'].startswith('malformed: ')
  for doc_id, _ in docs:
    assert out[f'{doc_id}.json']['error'] is None


def test_lineage_counts_errors_per_class(spark, tmp_path):
  """run_extraction_job's lineage splits `errors` by the kernel's error
  classes (the four counts sum to it): the doc-JSON whale over its
  budget is a timeout and the unreadable files are malformed; over
  spans, the span-count guard is a budget trip and a null spans array
  is malformed."""
  from blueprint_oss_spark.spark.pipeline import run_extraction_job

  files = tmp_path / 'files'
  files.mkdir()
  docs = readme_corpus(4, seed=787)
  for doc_id, spans in docs:
    _write_doc_json(files / f'{doc_id}.json', doc_id, spans)
  _write_doc_json(files / 'whale.json', 'whale', _inflate(docs[2][1], 400))
  (files / 'truncated.json').write_text('{"type": "Document", "ent')
  (files / 'wrong-shape.json').write_text('[1, 2, 3]')
  spans_df = _df(spark, docs + [('whale', _inflate(docs[0][1], 30))]) \
      .unionAll(spark.createDataFrame([('null-spans', None)], SPANS_SCHEMA))

  runs = [
      (read_files(spark, str(files / '*.json')),
       dict(ocr_format='docjson', doc_time_budget_s=0.5),
       dict(errors=3, errors_budget=0, errors_timeout=1,
            errors_malformed=2, errors_other=0)),
      (spans_df, dict(max_spans_per_doc=100),
       dict(errors=2, errors_budget=1, errors_timeout=0,
            errors_malformed=1, errors_other=0)),
  ]
  for i, (df, kwargs, want) in enumerate(runs):
    [row] = run_extraction_job(spark, df.coalesce(1),
                               str(tmp_path / f'out{i}'),
                               readme_blueprint(), groups=1, **kwargs)
    got = {k: row['metrics'][k] for k in want}
    assert got == want
    assert got['errors'] == sum(v for k, v in got.items() if k != 'errors')


def test_lineage_counts_pair_budget_trips(spark, tmp_path):
  """`errors_budget_pairs` counts the `budget:` rows whose message is
  one of the solver's two pair-budget trips; other budget trips, and a
  pair-budget message outside the budget class, are not counted."""
  from blueprint_oss_spark.spark.pipeline import run_extraction_job

  errors = [
      'budget: combine product 2001x2001 exceeds budget',
      "budget: component ['date', 'total'] has no pairable edges",
      'budget: 300001 spans exceeds max_spans_per_doc',
      'error: SolverBudgetError: combine product 9x9 exceeds budget',
      'timeout', None,
  ]
  df = spark.createDataFrame([(f'd{i}', e) for i, e in enumerate(errors)],
                             'doc_id string, error string')
  [row] = run_extraction_job(spark, df, str(tmp_path / 'out'), groups=1,
                             transform=lambda part: part)
  got = {k: row['metrics'][k]
         for k in ('errors', 'errors_budget', 'errors_budget_pairs')}
  assert got == dict(errors=5, errors_budget=3, errors_budget_pairs=2)


def test_cli_pdf_input_is_resumable_with_lineage(spark, tmp_path):
  """run_model over PDF files runs the resumable job: part_bucket
  output plus one lineage file per checkpoint group; a resumed run
  processes no group and leaves the rows as they were."""
  from blueprint_oss_spark.model.json_io import save_model
  from blueprint_oss_spark.spark.pdf import CHAR_ADVANCE, write_simple_pdf

  inp = tmp_path / 'pdfs'
  inp.mkdir()
  docs = readme_corpus(6, seed=314, with_media=False)
  for doc_id, spans in docs:
    # mock-grid words → PDF-representable widths (Courier advance)
    pages = [{'width': pg['width'] * CHAR_ADVANCE, 'height': pg['height'],
              'words': [(t, x0 * CHAR_ADVANCE,
                         (x0 + len(t)) * CHAR_ADVANCE, y0, y1)
                        for (t, x0, _, y0, y1) in pg['words']]}
             for pg in spans_to_pages(spans)]
    (inp / f'{doc_id}.pdf').write_bytes(write_simple_pdf(pages))
  save_model(readme_blueprint(), str(tmp_path / 'model.json'))
  out = tmp_path / 'out'

  def run_model():
    r = subprocess.run(
        [sys.executable, '-m', 'blueprint_oss_spark', 'run_model',
         '--model', str(tmp_path / 'model.json'),
         '--input', str(inp / '*.pdf'), '--output', str(out),
         '--ocr-format', 'pdf', '--timeout', '30',
         '--master', 'local[2]', '--groups', '2'],
        capture_output=True, text=True, cwd=str(REPO), timeout=300,
        env={**os.environ, 'PYTHONPATH': str(REPO)})
    assert r.returncode == 0, r.stderr
    return json.loads(r.stdout.strip().splitlines()[-1])

  def rows():
    return sorted((r['doc_id'], json.dumps(r['fields'], sort_keys=True),
                   r['score'], r['error'], r['part_bucket'])
                  for r in spark.read.parquet(str(out)).collect())

  assert run_model()['groups_processed'] == 2
  lineage = sorted(p.name for p in (out / '_lineage').glob('group-*.json'))
  assert lineage == ['group-0.json', 'group-1.json']
  first = rows()
  assert len(first) == len(docs)
  assert all(r[3] is None for r in first)
  assert sum(json.loads((out / '_lineage' / f).read_text())
             ['metrics']['docs'] for f in lineage) == len(docs)

  assert run_model()['groups_processed'] == 0
  assert rows() == first
