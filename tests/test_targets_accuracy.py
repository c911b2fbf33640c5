"""Distributed accuracy scoring of extraction output against targets."""

from blueprint_oss_spark.fixtures import readme_corpus
from blueprint_oss_spark.model.targets import (
    Entry, accuracy_dataframe, targets_dataframe, targets_from_extractions,
)


def test_accuracy_dataframe(spark):
  from blueprint_oss_spark.fixtures import readme_blueprint
  from blueprint_oss_spark.spark.pipeline import (
      SPANS_SCHEMA, extract_documents)

  docs = readme_corpus(6, seed=611)
  rows = [(doc_id,
           [{'kind': k, 'text': t, 'media_ref': m, 'offset': o}
            for (k, t, m, o) in spans])
          for doc_id, spans in docs]
  df = spark.createDataFrame(rows, SPANS_SCHEMA)
  out = extract_documents(df, readme_blueprint())

  # targets = the engine's own output for 4 docs, a wrong value for one
  # field of one doc, and a missing-assignment (None) target for another
  collected = {r['doc_id']: dict(r['fields']) for r in out.collect()}
  doc_ids = sorted(collected)
  labelled = []
  corrupted = False
  for d in doc_ids:
    fields = dict(collected[d])
    if not corrupted and fields:
      k = sorted(fields)[0]
      fields[k] = 'WRONG-' + (fields[k] or '')
      corrupted = True
    labelled.append((d, fields))
  assert corrupted, 'corpus produced no nonempty extraction to corrupt'
  schema = tuple(
      Entry(f, 'Text', False)
      for f in sorted({f for _, fs in labelled for f in fs}))
  targets = targets_from_extractions(labelled, schema)
  tdf = targets_dataframe(spark, targets)

  acc = {r['field']: (r['n_docs'], r['n_correct'])
         for r in accuracy_dataframe(out, tdf).collect()}
  total = sum(n for n, _ in acc.values())
  correct = sum(c for _, c in acc.values())
  assert total == sum(len(fs) for _, fs in labelled)
  assert total - correct == 1
