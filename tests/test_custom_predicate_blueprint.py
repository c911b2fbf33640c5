"""Custom predicates (custom_predicate / custom_unimpinged) compose
into extract() and run through the engine after a pickle round trip."""

from blueprint_oss_spark.fixtures import readme_corpus
from blueprint_oss_spark.model.rules import (
    Orientation, custom_predicate, custom_unimpinged)


def _is_oriented_horizontally(doc, eids):
  (e,) = eids
  if (doc.ey1[e] - doc.ey0[e]) > (doc.ex1[e] - doc.ex0[e]) * 1.5:
    return 0.0
  return 1.0


def _space_above(doc, eids):
  (e,) = eids
  mlh = doc.median_line_height
  return (doc.ex0[e], doc.ex1[e], doc.ey0[e] - mlh, doc.ey0[e])


is_oriented_horizontally = custom_predicate(
    _is_oriented_horizontally, degree=1, name='is_oriented_horizontally')


empty_line_above = custom_unimpinged(
    _space_above, Orientation.VERTICAL, degree=1, name='empty_line_above')


def test_custom_predicate_in_blueprint_end_to_end():
  """Custom predicates compose into extract() and run through the full
  engine + Spark pickle path."""
  import pickle

  from blueprint_oss_spark.engine.runner import run_doc
  from blueprint_oss_spark.model.nodes import extract
  from blueprint_oss_spark.model.rules import text_equals

  root = extract(
      text_equals('Annual $', tolerance=0, taper=0)('hdr'),
      is_oriented_horizontally('hdr'),
      empty_line_above('hdr'))
  root = pickle.loads(pickle.dumps(root))  # broadcast path
  docs = readme_corpus(3, seed=205)
  for doc_id, spans in docs:
    r = run_doc(doc_id, spans, root)
    assert r['fields'].get('hdr') == 'Annual $', (doc_id, r['fields'])
