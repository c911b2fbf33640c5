"""The checks example model survives the pickle round trip a broadcast
makes, extracting the same fields and score."""

from blueprint_oss_spark.bp_examples.check_fixtures import check_corpus
from blueprint_oss_spark.engine.runner import run_doc

DOCS = check_corpus(6, seed=57)  # doc 3 is a tall page (>800 px)


def test_checks_model_pickles_for_broadcast():
  import pickle

  from blueprint_oss_spark.bp_examples.checks import root
  rt = pickle.loads(pickle.dumps(root))
  doc_id, spans = DOCS[0]
  a = run_doc(doc_id, spans, root)
  b = run_doc(doc_id, spans, rt)
  assert a['fields'] == b['fields'] and a['score'] == b['score']
