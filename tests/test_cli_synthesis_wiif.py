"""CLI synthesis + wiif parity (reference bp/cli/synthesis.py and
bp/cli/wiif.py register these subcommands in cli_main.py:31-34): doc
JSON + labeled extraction (+ schema / node) in, model / WIIF JSON out,
driven end-to-end as a subprocess like the reference CLI."""

import json
import subprocess
import sys

from tests.conftest import REPO_ROOT


def _fixture_files(tmp_path):
  from blueprint_oss_spark.engine.doc_json import (
      doc_json_from_pool, save_doc,
  )
  from blueprint_oss_spark.engine.entity_gen import build_doc_pool
  from blueprint_oss_spark.engine.runner import spans_to_pages
  from blueprint_oss_spark.fixtures import readme_corpus

  doc_id, spans = readme_corpus(1, seed=701)[0]
  pool = build_doc_pool(doc_id, spans_to_pages(spans))
  doc_path = tmp_path / 'doc.json'
  save_doc(pool, str(doc_path))

  text_eid = next(i for i in range(pool.n_entities)
                  if pool.etype[i] == 'Text')
  extraction = {'assignments': [{
      'field': 'the_label',
      'entity': {
          'bbox': {'ix': {'a': float(pool.ex0[text_eid]),
                          'b': float(pool.ex1[text_eid])},
                   'iy': {'a': float(pool.ey0[text_eid]),
                          'b': float(pool.ey1[text_eid])}},
          'type': pool.etype[text_eid],
          'text': pool.etext[text_eid],
      }}]}
  ext_path = tmp_path / 'extraction.json'
  ext_path.write_text(json.dumps(extraction))

  schema = [{'field': 'the_label', 'type': 'Text', 'is_label': True}]
  schema_path = tmp_path / 'schema.json'
  schema_path.write_text(json.dumps(schema))
  return doc_path, ext_path, schema_path, pool, text_eid


def _run(args):
  r = subprocess.run(
      [sys.executable, '-m', 'blueprint_oss_spark', *args],
      capture_output=True, text=True, cwd=REPO_ROOT, timeout=300)
  assert r.returncode == 0, r.stderr
  return json.loads(r.stdout.strip().splitlines()[-1])


def test_cli_synthesis_then_wiif(tmp_path):
  doc_path, ext_path, schema_path, pool, text_eid = \
      _fixture_files(tmp_path)

  model_out = tmp_path / 'synth_model.json'
  info = _run(['synthesis', '-d', str(doc_path), '-e', str(ext_path),
               '-s', str(schema_path), '-o', str(model_out)])
  assert info['fields'] == ['the_label']
  blob = json.loads(model_out.read_text())
  assert blob  # synthesized model JSON on disk

  # the synthesized model loads back and reproduces the labeled
  # extraction as its best answer on the same document
  from blueprint_oss_spark.engine.solver import best_extraction
  from blueprint_oss_spark.model.json_io import load_model
  node = load_model(str(model_out))
  assign, _, score = best_extraction(node, pool)
  assert assign.get('the_label') == text_eid
  assert score > 0

  # wiif over the synthesized node: every decidable rule scores 1.0
  # on the extraction the node was synthesized FROM
  wiif_out = tmp_path / 'wiif.json'
  info2 = _run(['wiif', '-d', str(doc_path), '-e', str(ext_path),
                '-n', str(model_out), '-o', str(wiif_out)])
  assert info2['output'] == str(wiif_out)
  w = json.loads(wiif_out.read_text())
  assert 'rule_scores' in w and 'children' in w
  scores = list(w['rule_scores'].values())
  assert scores and all(0.0 <= s <= 1.0 for s in scores)
  assert all(s == 1.0 for s in scores), w['rule_scores']


def test_cli_wiif_flags_failing_rule(tmp_path):
  """A hand-built node whose rule contradicts the labeled extraction
  must surface a 0-score rule in the WIIF tree (the tool's purpose)."""
  doc_path, ext_path, _, pool, text_eid = _fixture_files(tmp_path)

  from blueprint_oss_spark.model.json_io import save_model
  from blueprint_oss_spark.model.nodes import extract as bp_extract
  from blueprint_oss_spark.model.rules import text_equals
  node = bp_extract(
      text_equals('definitely-not-the-text', tolerance=0, taper=0)(
          'the_label'))
  node_path = tmp_path / 'node.json'
  save_model(node, str(node_path))

  wiif_out = tmp_path / 'wiif.json'
  _run(['wiif', '-d', str(doc_path), '-e', str(ext_path),
        '-n', str(node_path), '-o', str(wiif_out)])
  w = json.loads(wiif_out.read_text())

  def all_scores(n):
    out = list(n['rule_scores'].values())
    for c in n['children']:
      out += all_scores(c)
    return out

  assert 0.0 in all_scores(w), w
