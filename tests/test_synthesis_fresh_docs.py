"""A model synthesized from two labeled examples extracts the target on
fresh same-layout documents."""

from blueprint_oss_spark.engine.entity_gen import build_doc_pool
from blueprint_oss_spark.engine.runner import run_doc, spans_to_pages
from blueprint_oss_spark.engine.synthesis import (
    SchemaEntry, synthesize_model)
from blueprint_oss_spark.fixtures import labelvalue_corpus


def _label_value_example(docs, idx):
  """Build a labeled example (field→entity) for the labelvalue corpus:
  total_label is the 'Total due' phrase, total_due the amount below."""
  doc_id, spans = docs[idx]
  pool = build_doc_pool(doc_id, spans_to_pages(spans))
  assign = {}
  for i in range(pool.n_entities):
    if pool.etype[i] == 'Text' and pool.etext[i] == 'Total due':
      assign['total_label'] = i
    if pool.etype[i] == 'Text' and pool.etext[i] == 'Issue date':
      assign['issue_label'] = i
  # the dollar amount right-aligned under 'Total due'
  lbl = assign['total_label']
  best = None
  for i in range(pool.n_entities):
    if pool.etype[i] != 'DollarAmount':
      continue
    if pool.ey0[i] > pool.ey1[lbl] - 0.5 and \
        abs(pool.ex0[i] - pool.ex0[lbl]) < 4:
      if best is None or pool.ey0[i] < pool.ey0[best]:
        best = i
  assert best is not None
  assign['total_due'] = best
  return doc_id, spans, pool, assign


SCHEMA = (SchemaEntry('total_label', 'Text', True),
          SchemaEntry('issue_label', 'Text', True),
          SchemaEntry('total_due', 'DollarAmount', False))


def test_synthesized_model_extracts_on_fresh_docs():
  docs = labelvalue_corpus(8, seed=310, with_media=False)
  examples = []
  for idx in (0, 1):
    _, _, pool, assign = _label_value_example(docs, idx)
    examples.append((assign, pool))
  model = synthesize_model(examples, SCHEMA)

  hits = 0
  for doc_id, spans in docs[2:]:
    r = run_doc(doc_id, spans, model)
    if r['fields'].get('total_label') == 'Total due' \
        and 'total_due' in r['fields']:
      hits += 1
  assert hits >= 4  # layouts vary slightly; most must extract
