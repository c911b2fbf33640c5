#!/usr/bin/env python
"""North-rule launch-mode + scaling evidence, cluster edition.

Packages `blueprint_oss_spark` into a --py-files zip and launches the
SAME extraction job twice via `spark-submit --py-files` on Spark's
`local-cluster[N, cores, mem]` master — which spawns N REAL separate
executor JVMs (own heaps, own Python worker pools, code shipped via the
zip exactly as on a production cluster), unlike local[N] threads.  Run
at N and 4N executors on the same input, report throughput at both plus
scaling efficiency (target ≥0.8), and assert the summed per-doc score
is identical across cluster sizes (output independent of parallelism).

Usage: python scripts/cluster_scaling.py [N_executors] [n_docs] [model]
Defaults: N=1 (1→4 executors × 4 cores = 4→16 cores, which stays inside
this box's 32 physical cores at the high level), 2500 docs, model
`paystubs` (heavy enough per doc — ~130 core-ms — that per-task
scheduling overhead is noise; `readme` is ~10× lighter and at small doc
counts measures task dispatch, not extraction).  Doc count matters:
per-PYTHON-WORKER memo caches (substring/pattern text scores) need
enough docs per worker to warm up — at 1000 docs/16 workers the low
level looks artificially fast (62 docs per worker never amortize), at
2500 the effect washes out.  At 100 TB every worker processes millions
of docs, so the large-corpus measurement is the faithful one.
Writes JSON to stdout and merges into BENCH_SCALING.json.

Caveat (same as scripts/scaling_bench.py): numbers are only valid on an
otherwise-idle box with runs strictly sequential.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = os.environ.get('SPARK_SUBMIT', '/opt/spark/bin/spark-submit')

JOB = r'''
import json, os, sys, time
os.environ.setdefault('OMP_NUM_THREADS', '1')
os.environ.setdefault('OPENBLAS_NUM_THREADS', '1')
n_docs, want_cores, model = int(sys.argv[1]), int(sys.argv[2]), sys.argv[3]
from pyspark.sql import SparkSession, functions as F
spark = SparkSession.builder.appName('bos-cluster-scaling').getOrCreate()
spark.sparkContext.setLogLevel('ERROR')
# defaultParallelism reflects only REGISTERED executors; without this
# wait the job plans for 2 cores, the warmup touches 4 python workers,
# and every timed pass then pays worker spawn + zip import
for _ in range(120):
    if spark.sparkContext.defaultParallelism >= want_cores:
        break
    time.sleep(0.5)
cores = spark.sparkContext.defaultParallelism
from blueprint_oss_spark.spark.pipeline import extract_documents, \
    spans_frame
from blueprint_oss_spark.spark.sources import documents
# Fixed fine-grained partition count at BOTH cluster sizes (not
# cores*2): with only 2 waves of coarse tasks, cached-block locality
# pins tasks to whichever executor won more blocks during
# materialization and the straggler tail eats ~30% of the high level.
# 6 partitions/core at the HIGH level keeps tasks ~2-3 s (per-task
# overhead stays noise) while giving the scheduler room to rebalance.
n_parts = int(os.environ.get('BOS_SCALE_PARTS', '0')) or want_cores * 6


def salted_replicas(src, rep):
    """`rep` copies of a (doc_id, text) frame: copy r shifts doc_id by
    r * 1000000 and suffixes each of its words with '_<r>', so copies
    share no word (and no shingle or n-gram) and each has as many words
    as its source."""
    from blueprint_oss_spark.ops.common import words
    reps = spark.range(rep).select(F.col('id').alias('rep'))
    return (src.crossJoin(reps)
            .select((F.col('doc_id') + F.col('rep') * 1000000)
                    .alias('doc_id'),
                    F.concat_ws(' ', F.transform(
                        words(F.col('text')),
                        lambda t: F.concat(
                            t, F.lit('_'), F.col('rep').cast('string'))))
                    .alias('text')))


if model == 'main_content':
    # the north-rule pipeline itself: interleaved HTML+media spans ->
    # boilerplate strip -> reassembled span sequence; checksum is an
    # order-insensitive hash of the full output so cross-cluster-size
    # equality proves the result is independent of parallelism
    from blueprint_oss_spark.ops.html_extract import (
        interleaved_html_table, main_content_from_spans)
    sf_dir = os.environ.get('BOS_SCALE_SF', '/root/testdata/sf0.1')
    src = interleaved_html_table(spark, sf_dir)
    if n_docs:
        src = src.limit(n_docs)
    df = src.repartition(n_parts).cache()
    df.count()
    def run_pass():
        # per-row hashes sum as decimal(38,0): exact, order-insensitive,
        # and immune to the long overflow ANSI mode rejects
        return main_content_from_spans(df).agg(
            F.count('*').alias('n'),
            F.sum(F.xxhash64('doc_id', F.to_json('out_spans'))
                  .cast('decimal(38,0)')).alias('s')).collect()[0]
elif model == 'justext':
    # the second main-content algorithm (jusText-style block
    # classifier): wrap + segment + classify + revise per doc in one
    # Arrow stage — a pure map job whose per-doc cost is ~3x the
    # readability path's, measured at two cluster sizes with an
    # order-insensitive checksum over EVERY output cell (main_text +
    # the full block census), so cross-size equality proves verdicts
    # are parallelism-independent.  Corpus replicated with doc_id
    # offsets (variant = doc_id % 3 changes per replica — harmless,
    # the checksum covers it) so the low level runs ~30 s of real work
    # instead of task-dispatch noise.
    from blueprint_oss_spark.ops.html_extract import justext_main_content
    sf_dir = os.environ.get('BOS_SCALE_SF', '/root/testdata/sf0.1')
    src = documents(spark, sf_dir).select('doc_id', 'text')
    if n_docs:
        src = src.limit(n_docs)
    rep = int(os.environ.get('BOS_SCALE_REPLICATE', '4'))
    if rep > 1:
        reps = spark.range(rep).select(F.col('id').alias('rep'))
        src = (src.crossJoin(reps)
               .select((F.col('doc_id') + F.col('rep') * 1000000)
                       .alias('doc_id'), 'text'))
    df = src.repartition(n_parts).cache()
    df.count()
    def run_pass():
        return justext_main_content(spark, sf_dir, docs=df).agg(
            F.count('*').alias('n'),
            F.sum(F.xxhash64('doc_id', 'main_text', 'n_blocks',
                             'n_good', 'n_neargood', 'n_short',
                             'n_bad', 'n_kept')
                  .cast('decimal(38,0)')).alias('s')).collect()[0]
elif model == 'minhash':
    # shuffle-heavy counterpart to the map-heavy extraction jobs: the
    # minhash+LSH near-dup pair scan's cost is its band-bucket groupBy
    # shuffle + in-bucket pair expansion + distinct — measuring it at
    # two cluster sizes evidences that the SHUFFLE path scales, not
    # just embarrassingly-parallel map work.  Checksum is the exact
    # order-insensitive hash-sum of the emitted pair set.
    from blueprint_oss_spark.ops.textops import minhash_shingles
    sf_dir = os.environ.get('BOS_SCALE_SF', '/root/testdata/sf0.1')
    src = documents(spark, sf_dir).select('doc_id', 'text')
    if n_docs:
        src = src.limit(n_docs)
    # sf0.1 alone finishes in ~3 s on 4 cores — overhead-bound, which
    # under-measures shuffle scaling.  Replicate the corpus with
    # per-replica token salting: every shingle carries its replica
    # tag, so replicas never collide in LSH buckets and the pair set
    # is exactly `rep` disjoint copies of the original (work scales
    # linearly, no artificial near-dup quadratic blowup).
    rep = int(os.environ.get('BOS_SCALE_REPLICATE', '8'))
    if rep > 1:
        src = salted_replicas(src, rep)
    df = src.repartition(n_parts).cache()
    n_in = df.count()
    def run_pass():
        # throughput is reported over INPUT docs (the scan the pair
        # pass consumes), keeping docs/sec comparable across models;
        # the checksum carries the pair-set hash AND the pair count
        agg = minhash_shingles(df).agg(
            F.count('*').alias('n'),
            F.sum(F.xxhash64('doc_a', 'doc_b')
                  .cast('decimal(38,0)')).alias('s')).collect()[0]
        return {'n': n_in, 's': f"{agg['s']}/{agg['n']}"}
elif model == 'url_curation':
    # window-shuffle counterpart: URL normalization is map-side codegen,
    # then two window shuffles (norm_url dedup, domain cap).  The
    # operator's built-in synthesis keys identity on doc_id%350 — fine
    # for oracle equality at gate scale but only ~350 window groups, a
    # synthesis artifact that would fake reducer skew at millions of
    # rows.  For scaling, feed it a frame with a realistic `url`
    # column instead: ~n/3-sized dedup groups, 9973 domains, with
    # per-doc tracking-param/port/fragment noise for the normalizer to
    # chew through.  Checksum = exact order-insensitive hash-sum of the
    # full verdict surface.
    from blueprint_oss_spark.ops.curation import url_curation
    n = n_docs or 2000000
    did = F.col('id')
    page = did % (n // 3)          # canonical identity: 3-doc groups
    url = F.concat(
        F.lit('https://'),
        F.when(did % 3 == 0, F.lit('www.')).otherwise(F.lit('')),
        F.lit('site'), (page % 9973).cast('string'), F.lit('.com'),
        F.when(did % 23 == 0, F.lit(':443')).otherwise(F.lit('')),
        F.lit('/w/p'), page.cast('string'),
        F.when(did % 19 == 0, F.lit('/')).otherwise(F.lit('')),
        F.when(did % 2 == 0,
               F.concat(F.lit('?utm_source=u'), did.cast('string')))
         .otherwise(F.lit('')),
        F.when(did % 13 == 0, F.lit('#top')).otherwise(F.lit('')))
    df = (spark.range(n)
          .select(did.alias('doc_id'), url.alias('url'))
          .repartition(n_parts).cache())
    n_in = df.count()
    def run_pass():
        agg = url_curation(df, domain_cap=64).agg(
            F.count('*').alias('n'),
            F.sum(F.xxhash64('doc_id', 'norm_url', 'url_rank',
                             F.coalesce('domain_rank', F.lit(-1)),
                             'kept').cast('decimal(38,0)')).alias('s')
        ).collect()[0]
        return {'n': n_in, 's': f"{agg['s']}/{agg['n']}"}
elif model == 'paragraphs':
    # word-count-shuffle counterpart: paragraph dedup's cost is the
    # md5(para)-keyed groupBy + join-back + per-doc rebuild.  Corpus
    # replicated with salted tokens, so TEXT paragraphs are disjoint
    # across replicas (work scales linearly) while the PLANTED
    # boilerplate paragraphs collide across the whole replicated
    # corpus — a genuine hub-key stress (thousands of occurrences of
    # three paragraph texts) that the map-side partial min(struct)
    # must absorb before the shuffle, exactly the 100 TB boilerplate
    # case PLANS.md claims.  Checksum = exact order-insensitive
    # hash-sum of the full per-doc verdict (kept/removed counts +
    # rebuilt text).
    from blueprint_oss_spark.ops.textops import dedup_paragraphs
    sf_dir = os.environ.get('BOS_SCALE_SF', '/root/testdata/sf0.1')
    src = documents(spark, sf_dir).select('doc_id', 'text')
    if n_docs:
        src = src.limit(n_docs)
    rep = int(os.environ.get('BOS_SCALE_REPLICATE', '32'))
    if rep > 1:
        src = salted_replicas(src, rep)
    df = src.repartition(n_parts).cache()
    n_in = df.count()
    def run_pass():
        agg = dedup_paragraphs(df).agg(
            F.count('*').alias('n'),
            F.sum(F.xxhash64('doc_id', 'n_kept', 'n_removed',
                             'clean_text')
                  .cast('decimal(38,0)')).alias('s')).collect()[0]
        return {'n': n_in, 's': f"{agg['s']}/{agg['n']}"}
elif model == 'pagerank':
    # iterative-shuffle counterpart: the only model whose shuffles
    # REPEAT — six exact-BIGINT fixed-point rounds, each a ranks⋈edges
    # hash join + map-side-combinable integer SUM groupBy + join-back
    # onto the node list, lineage truncated per round (the CC/pagerank
    # iterative family's scale shape).  Node set synthesized directly
    # at arbitrary n; the planted hub page (in-degree ~n/5) is a
    # genuine hub-key stress the map-side partial SUM must absorb
    # before every round's shuffle.  Checksum = exact order-
    # insensitive hash-sum of (doc_id, pr_num) plus the conserved
    # total mass n*80^6 — all BIGINT arithmetic, so cross-cluster-size
    # equality is bit-exact by design, no tolerance.
    from blueprint_oss_spark.ops.graph import pagerank
    # MEASURED: overriding shuffle partitions to the input's 6-per-core
    # fine grain made BOTH levels ~2x slower (96-partition shuffles x 6
    # rounds = pure task overhead) and efficiency WORSE (0.49 vs 0.65).
    # The harness's 1-partition-per-core shuffles are right for the
    # iterative job; the scaling lever is input size + fewer barriers.
    n = n_docs or 2000000
    df = (spark.range(n).select(F.col('id').alias('doc_id'))
          .repartition(n_parts).cache())
    n_in = df.count()
    def run_pass():
        agg = pagerank(spark, '', docs=df).agg(
            F.count('*').alias('n'),
            F.sum(F.xxhash64('doc_id', 'pr_num')
                  .cast('decimal(38,0)')).alias('s'),
            F.sum(F.col('pr_num').cast('decimal(38,0)'))
             .alias('mass')).collect()[0]
        return {'n': n_in, 's': f"{agg['s']}/{agg['mass']}"}
elif model == 'pack_interleaved':
    # the north-rule OUTPUT feeding the tokenizer: interleaved
    # HTML+PDF+media spans -> main-content strip (Arrow map, the
    # main_content model's workload) -> explode -> ONE per-shard
    # window (token-cost cumsum + chunk assignment).  Measures the
    # map-heavy strip and the window shuffle TOGETHER, the composite
    # a pretraining run actually executes.  shards=256 (not the gate
    # default 8): shard count must be >= total cores x waves or the
    # window stage caps parallelism — at 100 TB you run thousands of
    # shards, so the scaling config models that, not the oracle
    # fixture.  Input synthesized once and cached (synthesis is test
    # scaffolding, not the operator); replicas salt the STRING doc_id
    # so shards and chunk boundaries stay doc-local and disjoint.
    # Checksum = exact order-insensitive hash-sum of the full span
    # assignment (all-integer/string columns - bit-exact by design).
    from blueprint_oss_spark.ops.html_extract import (
        interleaved_html_table, main_content_from_spans)
    from blueprint_oss_spark.ops.textops import \
        pack_interleaved_sequences
    sf_dir = os.environ.get('BOS_SCALE_SF', '/root/testdata/sf0.1')
    src = interleaved_html_table(spark, sf_dir)
    if n_docs:
        src = src.limit(n_docs)
    rep = int(os.environ.get('BOS_SCALE_REPLICATE', '4'))
    if rep > 1:
        reps = spark.range(rep).select(F.col('id').alias('rep'))
        src = (src.crossJoin(reps)
               .select(F.concat(F.col('doc_id'), F.lit('#'),
                                F.col('rep').cast('string'))
                       .alias('doc_id'), 'spans'))
    df = src.repartition(n_parts).cache()
    n_in = df.count()
    def run_pass():
        packed = pack_interleaved_sequences(
            main_content_from_spans(df), shards=256)
        agg = packed.agg(
            F.count('*').alias('n'),
            F.sum(F.xxhash64('doc_id', 'order', 'kind', 'media_ref',
                             'n_tokens', 'shard', 'tokens_before',
                             'chunk_first', 'chunk_last', 'n_chunks')
                  .cast('decimal(38,0)')).alias('s')).collect()[0]
        return {'n': n_in, 's': f"{agg['s']}/{agg['n']}"}
elif model == 'mediadedup':
    # corpus-level boilerplate-media removal COMPOSED onto the strip:
    # the timed pass is main-content strip (Arrow map) -> planted-asset
    # projection -> dedup_media_spans (per-(doc,ref) DISTINCT +
    # word-count groupBy collapsing to ONE broadcast hot-ref row +
    # map-side span rewrite) — the composite a production curation run
    # executes; at 100 TB the stripped intermediate is never
    # materialized, so timing dedup over a cached intermediate would
    # measure cached-block network bandwidth, not the operator (a
    # first cut did exactly that and read 0.07 'efficiency' — the low
    # level was reading its cache process-locally while the high level
    # fetched remote blocks; same lesson as pack_interleaved).  The
    # input plants a GLOBAL hub asset (media/logo on every doc — df =
    # n_docs, the site-wide logo at web scale) plus ten banner refs
    # (df = n/10) so the run proves the hub key is absorbed map-side
    # by the count aggregate instead of serializing one reducer.
    # Replicas salt the STRING doc_id but keep the planted refs SHARED
    # across replicas (a real logo is one URL however many pages embed
    # it), so the hub's df grows with the corpus — the adversarial
    # case.  Only the raw span synthesis is cached (test scaffolding,
    # not the operator).  Checksum = exact order-insensitive hash-sum
    # of (doc_id, surviving spans, n_media_removed).
    from blueprint_oss_spark.ops.html_extract import (
        interleaved_html_table, main_content_from_spans)
    from blueprint_oss_spark.ops.multimodal import dedup_media_spans
    sf_dir = os.environ.get('BOS_SCALE_SF', '/root/testdata/sf0.1')
    src = interleaved_html_table(spark, sf_dir)
    if n_docs:
        src = src.limit(n_docs)
    rep = int(os.environ.get('BOS_SCALE_REPLICATE', '8'))
    if rep > 1:
        reps = spark.range(rep).select(F.col('id').alias('rep'))
        src = (src.crossJoin(reps)
               .select(F.concat(F.col('doc_id'), F.lit('#'),
                                F.col('rep').cast('string'))
                       .alias('doc_id'), 'spans'))
    df = src.repartition(n_parts).cache()
    n_in = df.count()
    did = F.abs(F.xxhash64('doc_id'))
    media_span = lambda ref, order: F.struct(
        F.lit('media').alias('kind'),
        F.lit(None).cast('string').alias('text'),
        ref.alias('media_ref'),
        F.lit(order).cast('int').alias('order'))
    def run_pass():
        # dedup is two-pass by nature (the hot set must exist before
        # the rewrite), so a production run persists the stripped
        # frame once rather than paying the Arrow strip twice;
        # persist+count INSIDE the timed pass charges that
        # materialization to the measurement, its blocks are
        # process-local to the executors that computed them, and —
        # unlike localCheckpoint, whose blocks survive unpersist() —
        # the finally below genuinely frees them between repeats
        planted = main_content_from_spans(df).withColumn(
            'out_spans',
            F.concat('out_spans', F.array(
                media_span(F.lit('media/logo'), 100),
                media_span(F.concat(F.lit('media/banner/'),
                                    F.pmod(did, F.lit(10))), 101)))) \
            .persist()
        planted.count()
        try:
            out = dedup_media_spans(planted, max_media_df=1000)
            agg = out.agg(
                F.count('*').alias('n'),
                F.sum(F.xxhash64('doc_id', F.to_json('out_spans'),
                                 'n_media_removed')
                      .cast('decimal(38,0)')).alias('s')).collect()[0]
        finally:
            planted.unpersist()
        return {'n': n_in, 's': f"{agg['s']}/{agg['n']}"}
elif model == 'bpe':
    # tokenizer counterpart: sentinel-aware BPE ENCODING of the
    # RENDERED interleaved corpus with a fixed learned vocabulary —
    # the production bulk-tokenization shape (the 100 TB job applies
    # a frozen tokenizer; training it is a one-off whose merge loop
    # is VOCABULARY-sized work with one driver argmax per round,
    # inherently sequential in merges — Amdahl-bounded by design, so
    # it runs ONCE before timing here, like the other models' planted
    # frame prep.  bpe_train's own cross-cluster-size behavior is
    # still evidenced: it trains on the replicated frame at both
    # levels and its merge-table hash rides the checksum, so training
    # is proven parallelism-independent even though its latency is
    # not the thing measured).  The timed pass is bpe_encode's corpus
    # phases: word posexplode -> distinct-word vocabulary -> encode
    # fold over the vocabulary -> join back -> per-doc accounting —
    # two word-count-shaped shuffles plus an AQE-broadcast vocab
    # join.  Replicas salt the STRING doc_id but share the rendered
    # TEXT: the vocabulary stays corpus-independent while corpus rows
    # grow — exactly the production property (vocab ~10^7-10^8
    # regardless of corpus bytes).  Checksum = order-insensitive
    # hash-sum of every per-doc accounting row AND the merge table.
    from blueprint_oss_spark.ops.html_extract import (
        interleaved_html_table, main_content_from_spans)
    from blueprint_oss_spark.ops.multimodal import render_interleaved
    from blueprint_oss_spark.ops.textops import bpe_encode, bpe_train
    sf_dir = os.environ.get('BOS_SCALE_SF', '/root/testdata/sf0.1')
    sent = '<|image|>'
    src = render_interleaved(main_content_from_spans(
        interleaved_html_table(spark, sf_dir))) \
        .select('doc_id', F.col('rendered_text').alias('text'))
    if n_docs:
        src = src.limit(n_docs)
    rep = int(os.environ.get('BOS_SCALE_REPLICATE', '64'))
    if rep > 1:
        reps = spark.range(rep).select(F.col('id').alias('rep'))
        src = (src.crossJoin(reps)
               .select(F.concat(F.col('doc_id'), F.lit('#'),
                                F.col('rep').cast('string'))
                       .alias('doc_id'), 'text'))
    df = src.repartition(n_parts).cache()
    n_in = df.count()
    n_merges = int(os.environ.get('BOS_SCALE_MERGES', '6'))
    merges = bpe_train(df, n_merges=n_merges,
                       special_tokens=(sent,)).localCheckpoint()
    mh = merges.agg(
        F.sum(F.xxhash64('rank', 'left', 'right', 'merged',
                         'pair_count')
              .cast('decimal(38,0)')).alias('m')).collect()[0]['m']
    def run_pass():
        enc = bpe_encode(df, merges=merges, special_tokens=(sent,))
        agg = enc.agg(
            F.count('*').alias('n'),
            F.sum(F.xxhash64('doc_id', 'n_words', 'n_tokens')
                  .cast('decimal(38,0)')).alias('s')).collect()[0]
        return {'n': n_in, 's': f"{agg['s']}/{agg['n']}/{mh}"}
elif model == 'bloom':
    # interpreted-HOF scan counterpart: Bloom decontamination's cost is
    # per-row 8-gram construction (transform/slice/array_join lambdas,
    # evaluated interpreted, not codegen) + k md5 positions + the
    # Arrow-batched bitmap probe — no shuffle on the train side, so
    # this measures how the JVM-lambda + Python-Arrow mixed scan
    # scales across executor JVMs.  Corpus replicated with salted
    # tokens (replica grams are disjoint; doc_id shift preserves the
    # eval_mod pattern) so the job is long enough to dominate
    # scheduling overhead.  Checksum = exact order-insensitive
    # hash-sum of (doc_id, n_flagged).
    from blueprint_oss_spark.ops.curation import bloom_decontaminate
    sf_dir = os.environ.get('BOS_SCALE_SF', '/root/testdata/sf0.1')
    src = documents(spark, sf_dir).select('doc_id', 'text')
    if n_docs:
        src = src.limit(n_docs)
    rep = int(os.environ.get('BOS_SCALE_REPLICATE', '4'))
    if rep > 1:
        src = salted_replicas(src, rep)
    df = src.repartition(n_parts).cache()
    n_in = df.count()
    def run_pass():
        # eval_mod=16: the gate default (25% of the corpus as "eval")
        # grossly overstates real benchmark suites relative to a
        # training corpus and made the serial-ish build side (distinct
        # positions -> driver bitmap, a once-per-job cost in
        # production but timed EVERY pass here) dominate the short
        # high-level run; 1/16 is still far larger than any real
        # eval:corpus ratio
        agg = bloom_decontaminate(df, eval_mod=16).agg(
            F.count('*').alias('n'),
            F.sum(F.xxhash64('doc_id', 'n_flagged')
                  .cast('decimal(38,0)')).alias('s')).collect()[0]
        return {'n': n_in, 's': f"{agg['s']}/{agg['n']}"}
else:
    if model == 'paystubs':
        from blueprint_oss_spark.bp_examples.paystub_fixtures import \
            paystub_corpus
        from blueprint_oss_spark.bp_examples.paystubs import root
        docs = paystub_corpus(n_docs)
    else:
        from blueprint_oss_spark.fixtures import readme_blueprint, \
            readme_corpus
        docs = readme_corpus(n_docs, seed=999)
        root = readme_blueprint()
    df = spans_frame(spark, docs).repartition(n_parts).cache()
    df.count()
    def run_pass():
        return extract_documents(df, root).agg(
            F.count('*').alias('n'),
            F.sum(F.round('score', 9)).alias('s')).collect()[0]

# warmup pass: ship the zip, fork + import every executor python worker
run_pass()
times, checksum, n = [], None, 0
for _ in range(3):
    t0 = time.monotonic()
    agg = run_pass()
    dt = time.monotonic() - t0
    n = agg['n']
    checksum = (round(agg['s'], 9) if isinstance(agg['s'], float)
                else str(agg['s']))  # Decimal -> str for json
    times.append(dt)
# best AND median per level: a host-contention burst inflates one
# repeat; shipping both makes a burst-window sample readable in place
# (same discipline as bench.py's medians + steady ranges)
best = min(times)
median = sorted(times)[len(times) // 2]
print('RESULT ' + json.dumps({
    'master': spark.sparkContext.master, 'cores': cores, 'docs': n,
    'score_sum': checksum, 'sec': best, 'sec_median': round(median, 4),
    'sec_all': [round(t, 4) for t in times],
    'docs_per_sec': n / best, 'docs_per_sec_median': n / median}))
spark.stop()
'''


def make_zip(dest_dir: str) -> str:
  zpath = os.path.join(dest_dir, 'blueprint_oss_spark.zip')
  with zipfile.ZipFile(zpath, 'w', zipfile.ZIP_DEFLATED) as z:
    pkg = os.path.join(REPO, 'blueprint_oss_spark')
    for base, _dirs, files in os.walk(pkg):
      if '__pycache__' in base:
        continue
      for fn in files:
        if fn.endswith('.pyc'):
          continue
        full = os.path.join(base, fn)
        z.write(full, os.path.relpath(full, REPO))
  return zpath


def run_level(n_exec: int, n_docs: int, model: str, zpath: str,
              job_path: str, cores_per_exec: int = 4,
              mem_mb: int = 0) -> dict:
  # BOS_SCALE_MEM_MB raises the per-executor heap for models whose
  # low level must hold the whole working set in ONE executor (the
  # pagerank 8M-node run killed a 3 GB executor); same value at both
  # levels so the comparison stays fair.
  mem_mb = mem_mb or int(os.environ.get('BOS_SCALE_MEM_MB', '3072'))
  master = f'local-cluster[{n_exec},{cores_per_exec},{mem_mb}]'
  out = subprocess.run(
      [SPARK_SUBMIT, '--master', master, '--py-files', zpath,
       '--conf', 'spark.ui.enabled=false',
       # local-cluster's third component is only the WORKER's capacity;
       # the executor JVM still defaults to spark.executor.memory = 1g
       # (verified in the launch log: -Xmx1024M).  Size the executor to
       # the worker so mem_mb actually reaches the heap — the pagerank
       # 8M-node run OOM-killed 1 GB executors.
       '--conf', f'spark.executor.memory={mem_mb}m',
       '--conf', f'spark.sql.shuffle.partitions={n_exec * cores_per_exec}',
       # Cached blocks land unevenly across executors during the racey
       # materialization pass; with the default 3 s locality wait the
       # scheduler then serializes the tail on the block-heavy executor.
       # Remote cached-block reads are cheap here (tasks are seconds,
       # blocks are ~MB), so always prefer an idle core.
       # cached-scan models want 0s (prefer any idle core; remote
       # cached-block reads are cheap there).  Models that REBUILD a
       # materialized intermediate per pass (mediadedup's checkpoint)
       # want block-local scheduling instead — a remote-fetch storm of
       # big span blocks at the high level is worse than a short wait.
       '--conf', 'spark.locality.wait='
       + os.environ.get('BOS_SCALE_LOCALITY', '0s'),
       '--conf', 'spark.sql.execution.arrow.pyspark.enabled=true',
       job_path, str(n_docs), str(n_exec * cores_per_exec), model],
      capture_output=True, text=True, cwd=tempfile.gettempdir())
  lines = [ln for ln in out.stdout.splitlines() if ln.startswith('RESULT ')]
  if out.returncode != 0 or not lines:
    raise RuntimeError((out.stderr or out.stdout)[-3000:])
  res = json.loads(lines[-1][len('RESULT '):])
  res['n_executors'] = n_exec
  return res


def main() -> None:
  n = int(sys.argv[1]) if len(sys.argv) > 1 else 1
  n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 2500
  model = sys.argv[3] if len(sys.argv) > 3 else 'paystubs'
  # Same partition count at both cluster sizes (6/core at the high
  # level) so the two runs execute identical tasks and differ only in
  # parallelism — see the JOB comment on wave packing.
  os.environ['BOS_SCALE_PARTS'] = str(4 * n * 4 * 6)
  with tempfile.TemporaryDirectory() as td:
    zpath = make_zip(td)
    job_path = os.path.join(td, 'job.py')
    with open(job_path, 'w') as f:
      f.write(JOB)
    lo = run_level(n, n_docs, model, zpath, job_path)
    hi = run_level(4 * n, n_docs, model, zpath, job_path)
  efficiency = (hi['docs_per_sec'] / lo['docs_per_sec']) / 4.0
  eff_median = (hi['docs_per_sec_median']
                / lo['docs_per_sec_median']) / 4.0
  result = {
      'mode': 'spark-submit --py-files, local-cluster (separate '
              'executor JVMs)',
      'model': model,
      'n_docs': n_docs,
      'low': lo,
      'high': hi,
      'outputs_identical': lo['score_sum'] == hi['score_sum']
                           and lo['docs'] == hi['docs'],
      'speedup': round(hi['docs_per_sec'] / lo['docs_per_sec'], 3),
      'scaling_efficiency_N_to_4N': round(efficiency, 3),
      'scaling_efficiency_N_to_4N_median': round(eff_median, 3),
      'target': 0.8,
  }
  print(json.dumps(result))
  path = os.path.join(REPO, 'BENCH_SCALING.json')
  blob = {}
  if os.path.exists(path):
    try:
      with open(path) as f:
        blob = json.load(f)
    except ValueError:
      blob = {}
  # key carries the model so a minhash run never clobbers the
  # paystubs record (and vice versa)
  suffix = '' if model == 'paystubs' else f'_{model}'
  blob[f'cluster_last_run_{n}_to_{4 * n}_executors{suffix}'] = result
  with open(path, 'w') as f:
    json.dump(blob, f, indent=2)


if __name__ == '__main__':
  main()
