"""Studio backend routes /run_bp_model /synthesis /wiif and the error
shape — driven over real HTTP against the stdlib server."""

import json
import threading
import urllib.request

import pytest

from blueprint_oss_spark.engine.doc_json import doc_json_from_pool
from blueprint_oss_spark.engine.entity_gen import build_doc_pool
from blueprint_oss_spark.engine.runner import spans_to_pages
from blueprint_oss_spark.fixtures import readme_corpus
from blueprint_oss_spark.server import make_server


@pytest.fixture(scope='module')
def server_url():
  srv = make_server('127.0.0.1', 0)
  t = threading.Thread(target=srv.serve_forever, daemon=True)
  t.start()
  yield f'http://127.0.0.1:{srv.server_address[1]}'
  srv.shutdown()


def _post(url: str, route: str, payload: dict, expect_error=False):
  req = urllib.request.Request(
      url + route, data=json.dumps(payload).encode(),
      headers={'Content-Type': 'application/json'}, method='POST')
  try:
    with urllib.request.urlopen(req) as r:
      assert not expect_error
      return json.loads(r.read())
  except urllib.error.HTTPError as e:
    assert expect_error and e.code == 500
    return json.loads(e.read())


def _doc_payload():
  doc_id, spans = readme_corpus(1, seed=701)[0]
  pool = build_doc_pool(doc_id, spans_to_pages(spans))
  return doc_json_from_pool(pool), pool


def test_run_bp_model(server_url):
  from blueprint_oss_spark.fixtures import readme_blueprint
  from blueprint_oss_spark.model.json_io import dump_model

  doc, pool = _doc_payload()
  model = dump_model(readme_blueprint())
  out = _post(server_url, '/run_bp_model', {'doc': doc, 'model': model})
  tops = out['results']['top_extractions']
  assert tops and isinstance(tops[0]['score'], float)
  # server best == engine best computed locally
  from blueprint_oss_spark.engine.solver import best_extraction
  from blueprint_oss_spark.fixtures import readme_blueprint as rb
  assign, _, score = best_extraction(rb(), pool)
  assert tops[0]['score'] == pytest.approx(score, abs=1e-12)


def test_synthesis_and_wiif(server_url):
  doc, pool = _doc_payload()

  def entity_json(eid):
    return {
        'bbox': {'ix': {'a': float(pool.ex0[eid]),
                        'b': float(pool.ex1[eid])},
                 'iy': {'a': float(pool.ey0[eid]),
                        'b': float(pool.ey1[eid])}},
        'type': pool.etype[eid],
        'text': pool.etext[eid],
    }

  text_eid = next(i for i in range(pool.n_entities)
                  if pool.etype[i] == 'Text')
  extraction = {'assignments': [
      {'field': 'the_label', 'entity': entity_json(text_eid)}]}
  schema = [{'field': 'the_label', 'type': 'Text', 'is_label': True}]

  out = _post(server_url, '/synthesis',
              {'doc': doc, 'target_extraction': extraction,
               'schema': schema})
  node = out['node']
  assert node  # synthesized model JSON

  out2 = _post(server_url, '/wiif',
               {'doc': doc, 'node': node,
                'target_extraction': extraction})
  w = out2['wiif_node']
  assert 'rule_scores' in w
  assert all(0.0 <= s <= 1.0 for s in w['rule_scores'].values())


def test_error_shape(server_url):
  out = _post(server_url, '/run_bp_model', {'doc': {}},
              expect_error=True)
  assert 'error' in out and 'traceback' in out
  out2 = _post(server_url, '/nope', {}, expect_error=True)
  assert 'unknown route' in out2['error']
