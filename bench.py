#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {...}, "sf": ..., "extraction_docs_per_sec": ...}

Headline set:
  extraction   — blueprint extraction over a synthesized interleaved-spans
                 corpus (the engine's north-star metric, docs/sec)
  q1/q3        — relational shell
  dedup_exact / minhash_pairs / cosine_topk / doc_quality — training-data
                 ops at sf scale
"""

from __future__ import annotations

import json
import os
import sys
import time

# Documented per-query steady-state ranges + timing-semantics notes
# live in STEADY_RANGES.json next to BASELINE.md (single source — the
# constants used to be duplicated here and drifted as semantics
# changed); the emitted JSON embeds both so a burst-window driver
# sample is readable in place.
with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       'STEADY_RANGES.json')) as _f:
  _STEADY = json.load(_f)
STEADY_RANGES = _STEADY['ranges_sec']
TIMING_SEMANTICS = _STEADY['timing_semantics']


def main() -> None:
  sf_dir = os.environ.get('SPARK_GRAFT_SF_DIR', '/root/testdata/sf0.1')
  cpus = os.environ.get('SPARK_GRAFT_CPUS', '32')
  try:
    sf = float(sf_dir.rstrip('/').rsplit('sf', 1)[-1])
  except ValueError:
    sf = 0.1

  from pyspark.sql import SparkSession
  spark = (SparkSession.builder
           .master(f'local[{cpus}]')
           .appName('blueprint-oss-spark-bench')
           .config('spark.sql.shuffle.partitions', str(cpus))
           .config('spark.sql.adaptive.enabled', 'true')
           .config('spark.sql.execution.arrow.pyspark.enabled', 'true')
           .config('spark.driver.memory',
                   os.environ.get('SPARK_GRAFT_DRIVER_MEM', '16g'))
           .config('spark.sql.session.timeZone', 'UTC')
           .config('spark.ui.enabled', 'false')
           .getOrCreate())
  spark.sparkContext.setLogLevel('ERROR')

  from blueprint_oss_spark.fixtures import readme_blueprint, readme_corpus
  from blueprint_oss_spark.spark.pipeline import (
      extract_documents, spans_frame)
  from blueprint_oss_spark.ops import curation as C
  from blueprint_oss_spark.ops import graph as G
  from blueprint_oss_spark.ops import relational as R
  from blueprint_oss_spark.ops import textops as T
  from blueprint_oss_spark.ops import vectors as V
  from blueprint_oss_spark.ops import warc as W
  from blueprint_oss_spark.ops import unigram as U
  from blueprint_oss_spark.ops.html_extract import (
      interleaved_html_table, main_content_from_spans)
  from blueprint_oss_spark.spark.sources import documents
  from pyspark.sql import functions as FN

  timings: dict = {}
  medians: dict = {}

  def timed(name, fn, repeats: int = 3):
    # The shared-VM host shows ~3x run-to-run noise with multi-minute
    # burst windows (BASELINE.md): best-of-N reflects steady-state
    # capability, the median flags whether THIS sample sat in a burst
    # (median >> best and >> the documented steady range).
    samples = []
    for _ in range(repeats):
      t0 = time.monotonic()
      fn()
      samples.append(time.monotonic() - t0)
    samples.sort()
    timings[name] = round(samples[0], 4)
    medians[name] = round(samples[len(samples) // 2], 4)
    return samples[0]

  # --- extraction benchmarks -----------------------------------------
  # readme; the flagship paystubs model (5 vendor templates + long tail
  # + business rules); the checks model (custom-predicate showcase:
  # pixel page regions, empty-line-above impingement, string
  # disjointness) — each over its synthesized interleaved-spans corpus.
  from blueprint_oss_spark.bp_examples import (
      check_fixtures, checks, paystub_fixtures, paystubs)
  extraction_stats: dict = {}
  for name, key, corpus, n_docs, seed, root in (
      ('extraction', 'extraction', readme_corpus,
       max(400, int(40000 * sf)), 4242, readme_blueprint()),
      ('extraction_paystubs', 'paystubs', paystub_fixtures.paystub_corpus,
       max(100, int(10000 * sf)), 77, paystubs.root),
      ('extraction_checks', 'checks', check_fixtures.check_corpus,
       max(100, int(5000 * sf)), 91, checks.root)):
    df = spans_frame(spark, corpus(n_docs, seed=seed)) \
        .repartition(int(cpus)).cache()
    df.count()  # materialize input outside the timed section
    # Warmup: fork + import python workers, JIT whole-stage codegen.
    n_out = extract_documents(df, root).count()
    sec = timed(name, lambda: extract_documents(df, root).count())
    extraction_stats[f'{key}_docs_per_sec'] = \
        round(n_out / sec if sec > 0 else 0.0, 2)
    extraction_stats[f'{key}_docs'] = n_out
    df.unpersist()

  # Main-content pipeline benchmark (the north rule's own workload):
  # interleaved HTML+PDF+media spans -> boilerplate strip / layout
  # parse -> reassembled span sequence.  Input synthesized once and
  # cached so the timed section measures the pipeline, not the
  # synthesis.
  from blueprint_oss_spark.ops.html_extract import (
      interleaved_html_table, main_content_from_spans)
  mdf = interleaved_html_table(spark, sf_dir) \
      .repartition(int(cpus)).cache()
  n_mc = mdf.count()
  main_content_from_spans(mdf).count()  # warmup
  mc_sec = timed('main_content_spans',
                 lambda: main_content_from_spans(mdf).count())
  mc_docs_per_sec = n_mc / mc_sec if mc_sec > 0 else 0.0

  # jusText-style paragraph classification (the second main-content
  # algorithm): wrap + segment + classify + revise per doc in one
  # Arrow stage — synthesis is inseparable from the timed operator
  # here (the page template IS the input), so this times the whole
  # per-doc loop like the extraction benchmarks do.
  from blueprint_oss_spark.ops.html_extract import justext_main_content
  justext_main_content(spark, sf_dir).count()  # warmup
  timed('justext_main_content',
        lambda: justext_main_content(spark, sf_dir).count())

  # Post-extraction interleaved-corpus passes over the SAME content
  # frame (materialized once, untimed — persist+count, NOT
  # localCheckpoint: checkpoint blocks survive unpersist/clearCache
  # and would defeat the memory cleanup below): composition stats +
  # sentinel rendering + span->token offsets (all zero-shuffle scans)
  # + the broadcast hot-media removal.  The frame carries the gate's
  # planted site-wide assets so the removal pass rewrites real hot
  # spans instead of probing an empty broadcast array.  One timed
  # number for the whole suite — the OBELICS/MMC4-style curation
  # stage after main-content strip.
  from __spark_entry__ import _plant_site_assets
  from blueprint_oss_spark.ops.multimodal import (
      dedup_media_spans, interleaved_doc_stats, render_interleaved,
      span_token_offsets)
  content = _plant_site_assets(main_content_from_spans(mdf)).persist()
  content.count()

  def _interleaved_passes():
    interleaved_doc_stats(content).count()
    render_interleaved(content).count()
    span_token_offsets(content).count()
    dedup_media_spans(content, max_media_df=20).count()

  _interleaved_passes()  # warmup
  timed('interleaved_corpus_passes', _interleaved_passes)

  # Interleaved BPE tokenization over the SAME content frame: render
  # -> sentinel-aware vocabulary training -> whole-corpus encode.
  # n_merges=8 (not the operator's 24 default) so the timing is
  # dominated by the two corpus scans (word-count reduction + encode
  # join) — the phases that scale with data — rather than the
  # vocabulary-bounded per-round driver latency (~0.2 s/round here,
  # independent of corpus size).
  from blueprint_oss_spark.ops.multimodal import tokenize_interleaved

  def _tokenize():
    tokenize_interleaved(spark, sf_dir, n_merges=8,
                         content=content).count()

  _tokenize()  # warmup
  timed('tokenize_interleaved', _tokenize)
  content.unpersist()
  mdf.unpersist()

  # Release extraction-phase memory before the relational suite so GC
  # pressure from the cached corpora doesn't pollute those timings.
  spark.catalog.clearCache()

  # --- relational + training-data ops (steady state: one warmup pass
  # then the timed pass) -------------------------------------------------
  suite = [
      ('q1_pricing_summary',
       lambda: R.q1_pricing_summary(spark, sf_dir).collect()),
      ('q3_shipping_priority',
       lambda: R.q3_shipping_priority(spark, sf_dir).collect()),
      ('dedup_exact', lambda: T.dedup_exact(documents(spark, sf_dir)).count()),
      ('doc_quality', lambda: T.doc_quality(documents(spark, sf_dir)).count()),
      ('minhash_pairs',
       lambda: T.minhash_shingles(documents(spark, sf_dir)).count()),
      ('cosine_topk',
       lambda: V.cosine_topk_bruteforce(spark, sf_dir).collect()),
      ('sessionize', lambda: R.sessionize(spark, sf_dir).count()),
      ('repetition_stats',
       lambda: T.repetition_stats(documents(spark, sf_dir)).count()),
      # production default (no planting): k-means cells + in-cell
      # exact cosine + CC keep-one over the raw corpus
      ('semantic_dedup',
       lambda: V.semantic_dedup(spark, sf_dir).count()),
      # new-batch-vs-corpus verdicts (exact hash + inverted-index probe)
      ('incremental_dedup',
       lambda: T.incremental_dedup(
           *T.increment_split(documents(spark, sf_dir))).count()),
      # bigram-LM train + score in one job (two gram-count shuffles)
      ('lm_score', lambda: T.lm_score(documents(spark, sf_dir)).count()),
      # C4 line cleaning: pure zero-shuffle codegen scan
      ('c4_line_clean',
       lambda: C.c4_line_clean(documents(spark, sf_dir)).count()),
      # URL curation: codegen synthesis+normalization, broadcast
      # blocklist, two window shuffles
      ('url_curation',
       lambda: C.url_curation(documents(spark, sf_dir)).count()),
      # in-job NB quality classifier: one bounded-model training pass
      # (collected + re-broadcast literal) + one scoring shuffle
      ('quality_classifier',
       lambda: C.quality_classifier(documents(spark, sf_dir)).count()),
      # Bloom decontamination: bounded eval-bitmap build + map-only
      # Arrow probe (no joins/shuffles on the train side)
      ('bloom_decontaminate',
       lambda: C.bloom_decontaminate(documents(spark, sf_dir)).count()),
      # Dolma-style paragraph dedup: one word-count-shaped shuffle on
      # md5(para) + join-back + per-doc rebuild
      ('dedup_paragraphs',
       lambda: T.dedup_paragraphs(documents(spark, sf_dir)).count()),
      # semantic eval decontamination (production default, no
      # planting): eval-side bucket shuffle, train probes by equi-join
      ('semantic_decontaminate',
       lambda: V.semantic_decontaminate(spark, sf_dir).count()),
      # WARC ingest front door: record synthesis + 3-block parse +
      # tag strip in ONE codegen projection, zero shuffles
      ('warc_ingest',
       lambda: W.parse_warc_records(
           W.synth_warc_records(documents(spark, sf_dir))).count()),
      # iterative join+agg shape: 6 exact-integer fixed-point rounds,
      # each ranks⋈edges + partial-SUM groupBy + join-back, lineage
      # truncated per round; includes link-graph synthesis
      ('pagerank', lambda: G.pagerank(spark, sf_dir).count()),
      # interleaved multimodal packing END-TO-END: span synthesis +
      # main-content strip + explode + ONE per-shard window (the
      # north-rule output feeding the tokenizer)
      ('pack_interleaved',
       lambda: T.pack_interleaved_sequences(main_content_from_spans(
           interleaved_html_table(spark, sf_dir))).count()),
      # exact two-pass heavy hitters: Arrow-batch candidates + exact
      # verify of the broadcast candidate set (no vocab-sized shuffle)
      ('heavy_hitters',
       lambda: T.heavy_hitters(documents(spark, sf_dir)).count()),
      # margin-based bitext mining: broadcast source dimension +
      # double WindowGroupLimit top-k + exact-integer margin verdicts
      ('bitext_mine', lambda: V.bitext_mine(spark, sf_dir).count()),
      # unigram-LM tokenizer END-TO-END (seed + 3 EM rounds + prune +
      # whole-corpus Viterbi encode): one corpus word-count pass, then
      # everything distinct-word-sized (Arrow EM passes + micro-unit
      # integer groupBys + the encode accounting join)
      ('unigram_tokenizer',
       lambda: U.unigram_encode(documents(spark, sf_dir)).count()),
      # ANN retrieval eval: broadcast query dimension both sides,
      # double WindowGroupLimit top-k, exact-integer metrics
      ('ann_eval', lambda: V.ann_eval(spark, sf_dir).count()),
      # domain-granularity quality rollup: verdicts inlined on the
      # scan, one doc_id join + one map-side-combinable domain groupBy
      ('domain_rollup',
       lambda: C.domain_quality_rollup(documents(spark, sf_dir)).count()),
      # T5 span corruption: one doc_id-keyed exchange carries all the
      # windows + per-doc assembly
      ('t5_span_corruption',
       lambda: T.t5_span_corruption(documents(spark, sf_dir)).count()),
      # varlen length-bucketed batching: two shard-bucket windows
      ('length_bucket_batches',
       lambda: T.length_bucket_batches(documents(spark, sf_dir)).count()),
      # cluster labeling over the deterministic doc_id % 16 assignment
      # (times the labeling machinery; the kmeans trainer's own cost
      # is a model-build one-off, measured by its scaling evidence)
      ('cluster_topics', lambda: V.cluster_topics(
          spark, sf_dir,
          assignments=documents(spark, sf_dir)
          .select(FN.col('doc_id').alias('vec_id'),
                  (FN.col('doc_id') % 16).cast('int').alias('cell')))
          .count()),
  ]
  for _, fn in suite:
    fn()
  for name, fn in suite:
    timed(name, fn)

  # dedup_groups reuses a precomputed minhash edge set (production
  # shape: the pair scan runs once, grouping consumes it) so its
  # timing isolates the connected-components rounds instead of
  # re-measuring the ~4-5 s signature pass minhash_pairs already
  # times.  The persist happens strictly AFTER minhash_pairs was
  # timed: Spark's cache manager matches by canonicalized plan, so a
  # pre-existing cached edge set would silently serve the
  # minhash_pairs query and fake its number.
  minhash_edges = T.minhash_shingles(documents(spark, sf_dir)).persist()
  minhash_edges.count()  # materialize outside the timed section

  def dedup_groups_run():
    return T.dedup_groups(documents(spark, sf_dir),
                          edges=minhash_edges).count()

  dedup_groups_run()  # warmup
  timed('dedup_groups', dedup_groups_run)
  minhash_edges.unpersist()

  total = round(sum(timings.values()), 4)
  print(json.dumps({
      'metric': 'headline-suite wall time (extraction + relational + '
                'training-data ops)',
      'value': total,
      'unit': 'sec',
      'queries': timings,
      'queries_median': medians,
      'steady_range_sec': STEADY_RANGES,
      'timing_semantics': TIMING_SEMANTICS,
      'sf': sf,
      **extraction_stats,
      'main_content_docs_per_sec': round(mc_docs_per_sec, 2),
      'main_content_docs': n_mc,
      'cpus': int(cpus),
  }))
  spark.stop()


if __name__ == '__main__':
  main()
