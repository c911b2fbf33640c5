"""Doc JSON: our save → our load is an exact round trip, and extraction
over a directory of doc JSON files equals the spans pipeline."""

import json
import math

import pytest

from blueprint_oss_spark.engine.doc_json import (
    doc_json_from_pool, pool_from_doc_json,
)
from blueprint_oss_spark.engine.entity_gen import build_doc_pool
from blueprint_oss_spark.engine.runner import spans_to_pages
from blueprint_oss_spark.fixtures import readme_blueprint, readme_corpus


def test_exact_round_trip_ours():
  for doc_id, spans in readme_corpus(4, seed=551):
    pool = build_doc_pool(doc_id, spans_to_pages(spans))
    rt = pool_from_doc_json(doc_json_from_pool(pool))
    assert rt.name == pool.name
    # word ids are assigned in entity-traversal order on load (reading
    # order is not stored in the JSON) — compare per-entity word
    # text+geometry tuples, which is what every predicate consumes
    def ent_words(p):
      return [tuple((p.word_text[w], float(p.wx0[w]), float(p.wy0[w]))
                    for w in tup) for tup in p.ewords]
    assert ent_words(rt) == ent_words(pool)
    assert sorted(rt.word_text) == sorted(pool.word_text)
    assert rt.etype == pool.etype
    assert rt.etext == pool.etext
    assert list(rt.ex0) == list(pool.ex0)
    assert list(rt.ey1) == list(pool.ey1)
    for a, b in zip(rt.maximality, pool.maximality):
      assert (math.isnan(a) and math.isnan(b)) or a == b
    assert rt.median_line_height == pytest.approx(
        pool.median_line_height, abs=1e-12)


def test_spark_doc_json_source(spark, tmp_path):
  from blueprint_oss_spark.spark.pipeline import (
      SPANS_SCHEMA, extract_documents)
  from blueprint_oss_spark.spark.sources import read_files

  docs = readme_corpus(6, seed=561)
  for doc_id, spans in docs:
    pool = build_doc_pool(doc_id, spans_to_pages(spans))
    (tmp_path / f'{doc_id}.json').write_text(
        json.dumps(doc_json_from_pool(pool)))

  root = readme_blueprint()
  out = extract_documents(
      read_files(spark, str(tmp_path / '*.json')), root,
      ocr_format='docjson').collect()
  got = {r['doc_id'].removesuffix('.json'): (r['fields'], round(r['score'], 9))
         for r in out}
  assert all(r['error'] is None for r in out)

  rows = [(doc_id,
           [{'kind': k, 'text': t, 'media_ref': m, 'offset': o}
            for (k, t, m, o) in spans])
          for doc_id, spans in docs]
  df = spark.createDataFrame(rows, SPANS_SCHEMA)
  want = {r['doc_id']: (r['fields'], round(r['score'], 9))
          for r in extract_documents(df, root).collect()}
  assert got == want
