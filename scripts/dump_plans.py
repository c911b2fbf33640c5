#!/usr/bin/env python
"""Regenerate the raw .explain('formatted') dumps behind PLANS.md.

Usage: python scripts/dump_plans.py [--sf-dir /root/testdata/sf0.001]"""

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import SparkSession


def main() -> None:
  ap = argparse.ArgumentParser(description=__doc__)
  ap.add_argument('--sf-dir', default='/root/testdata/sf0.001')
  sf = ap.parse_args().sf_dir
  spark = (SparkSession.builder.master('local[4]')
           .config('spark.sql.shuffle.partitions', '8')
           .config('spark.sql.adaptive.enabled', 'true')
           .config('spark.ui.enabled', 'false').getOrCreate())
  spark.sparkContext.setLogLevel('ERROR')
  from blueprint_oss_spark.fixtures import readme_blueprint, readme_corpus
  from blueprint_oss_spark.spark.pipeline import (
      extract_documents, spans_frame)
  from blueprint_oss_spark.ops import relational as R, textops as T
  from blueprint_oss_spark.spark.sources import documents

  df = spans_frame(spark, readme_corpus(8, seed=1))
  print('=== EXTRACTION PIPELINE ===')
  extract_documents(df, readme_blueprint()).explain('formatted')
  print('=== MAIN-CONTENT SPANS PIPELINE ===')
  from blueprint_oss_spark.ops.html_extract import (
      interleaved_html_table, main_content_from_spans)
  main_content_from_spans(
      interleaved_html_table(spark, sf)).explain('formatted')
  print('=== Q1 ===')
  R.q1_pricing_summary(spark, sf).explain('formatted')
  print('=== Q3 ===')
  R.q3_shipping_priority(spark, sf).explain('formatted')
  print('=== Q5 ===')
  R.q5_local_supplier_volume(spark, sf).explain('formatted')
  print('=== MINHASH ===')
  T.minhash_shingles(documents(spark, sf)).explain('formatted')
  print('=== EMBEDDING NEAR-DUP (banded LSH) ===')
  from blueprint_oss_spark.ops import vectors as V
  V.embedding_near_dup_pairs(spark, sf, plant_for_verification=True) \
      .explain('formatted')
  print('=== AS-OF JOIN (tagged union + window) ===')
  R.events_asof_orders(spark, sf).explain('formatted')
  print('=== RANGE JOIN (time-bin bucketing) ===')
  R.recent_event_counts(spark, sf).explain('formatted')
  print('=== SESSIONIZE (one data shuffle) ===')
  R.sessionize(spark, sf).explain('formatted')
  print('=== PQ ANN TOP-K (ADC + exact refine) ===')
  V.pq_topk(spark, sf).explain('formatted')
  print('=== FUNNEL ANALYSIS (one hash shuffle) ===')
  R.funnel_analysis(spark, sf).explain('formatted')
  print('=== COHORT RETENTION (two hash shuffles) ===')
  R.cohort_retention(spark, sf).explain('formatted')
  print('=== SIMHASH NEAR-DUP PAIRS (banded hamming) ===')
  T.simhash_near_dup_pairs(documents(spark, sf)).explain('formatted')
  print('=== TF-IDF TOP TERMS ===')
  T.tfidf_top_terms(documents(spark, sf)).explain('formatted')
  print('=== PII SCRUB (shuffle-free scan projection) ===')
  from blueprint_oss_spark.ops import curation as Cu
  Cu.pii_scrub(documents(spark, sf)).explain('formatted')
  print('=== DECONTAMINATE (broadcast eval-gram semi-join) ===')
  Cu.decontaminate(documents(spark, sf)).explain('formatted')
  print('=== STRATIFIED SAMPLE ===')
  from blueprint_oss_spark.ops import profiling as P
  P.stratified_sample(spark, sf).explain('formatted')
  print('=== TABLE PROFILE ===')
  P.table_profile(spark, sf).explain('formatted')
  print('=== TRAINED LANG-ID (broadcast NB model, pinned fold) ===')
  T.lang_id_trained(documents(spark, sf)).explain('formatted')
  print('=== DEDUP DECISION REPORT (4-signal composition, '
        'unsorted component inputs) ===')
  T.dedup_decision_report(
      documents(spark, sf),
      V.semantic_dedup(spark, sf, plant_for_verification=True,
                       sort=False),
      sort=False).explain('formatted')
  spark.stop()


if __name__ == '__main__':
  main()
