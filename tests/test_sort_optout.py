"""sort=False opt-out: the presentation orderBy at operator tails is a
global range exchange a 100 TB caller composing operators should drop
— with sort=False the physical plan must contain NO RangePartitioning
(values are unchanged; the driver gate's compare is order-insensitive
and every gate entry keeps the sorted default)."""

from pyspark.sql import functions as F

from blueprint_oss_spark.spark.sources import documents

SF1 = '/root/testdata/sf0.001'


def _plan(df) -> str:
  return df._jdf.queryExecution().executedPlan().toString()


def test_sorted_and_unsorted_values_identical(spark):
  from blueprint_oss_spark.ops.textops import (
      dedup_groups, ngram_jaccard_pairs, remove_duplicated_spans,
      simhash_near_dup_pairs,
  )
  for op in (remove_duplicated_spans, dedup_groups,
             ngram_jaccard_pairs, simhash_near_dup_pairs):
    docs = documents(spark, SF1)
    a = sorted(tuple(r) for r in op(docs).collect())
    b = sorted(tuple(r) for r in op(docs, sort=False).collect())
    assert a == b, op.__name__


def test_no_range_exchange_with_sort_false(spark):
  from blueprint_oss_spark.ops.curation import (
      bloom_decontaminate, url_curation,
  )
  from blueprint_oss_spark.ops.textops import (
      minhash_shingles, pack_sequences, remove_duplicated_spans,
      simhash_near_dup_pairs,
  )
  for op in (remove_duplicated_spans, minhash_shingles,
             simhash_near_dup_pairs, bloom_decontaminate):
    plan = _plan(op(documents(spark, SF1), sort=False))
    assert 'rangepartitioning' not in plan.lower(), op.__name__
    sorted_plan = _plan(op(documents(spark, SF1)))
    assert 'rangepartitioning' in sorted_plan.lower(), op.__name__
  # window operators legitimately sort WITHIN hash partitions; only
  # the global range exchange must disappear
  for op in (pack_sequences, url_curation):
    plan = _plan(op(documents(spark, SF1), sort=False))
    assert 'rangepartitioning' not in plan.lower(), op.__name__


def test_decision_report_sort_false(spark):
  from blueprint_oss_spark.ops.textops import dedup_decision_report
  from blueprint_oss_spark.ops.vectors import semantic_dedup
  plan = _plan(dedup_decision_report(
      documents(spark, SF1),
      semantic_dedup(spark, SF1, plant_for_verification=True,
                     sort=False),
      sort=False))
  assert 'rangepartitioning' not in plan.lower()
