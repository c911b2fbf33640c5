"""Dataset-curation helpers a 100 TB training-data pipeline needs
before/after the heavy operators: deterministic stratified sampling and
exact table profiling.  Pure JVM built-ins throughout (whole-stage
codegen, no Python), and every output is exactly recomputable in DuckDB
for the correctness gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from blueprint_oss_spark.ops.common import words

#: Per-language keep-rate expressed as an md5-hex threshold string:
#: md5(doc_id) is uniform over [0, 16^32), so keeping rows with
#: md5(doc_id) < T keeps ~int(T,16)/16^32 of each stratum.  String
#: comparison of fixed-width lowercase hex is identical in every engine
#: — no hex→int conversion, no float thresholds, no RNG.
STRATA_THRESHOLDS = (
    ('en', '8' + '0' * 31),   # ~50 %
    ('es', '4' + '0' * 31),   # ~25 %
    ('de', '4' + '0' * 31),   # ~25 %
    ('fr', '2' + '0' * 31),   # ~12.5 %
)
DEFAULT_THRESHOLD = '1' + '0' * 31  # ~6.25 % for any other stratum


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
  """Deterministic per-language stratified sample of the documents
  table.  Hash-threshold sampling (md5 of the stable key) is the
  production pattern at 100 TB: it needs no count pass, no RNG state,
  is stable under retries/re-partitioning (a resumed job keeps the
  same sample), and pushes down to a scan + filter — no shuffle at
  all.  Rates per stratum come from STRATA_THRESHOLDS."""
  d = spark.read.parquet(f'{sf_dir}/documents.parquet')
  # doc_id is numeric in the testdata table; hash its decimal string
  # form (identical rendering in every engine)
  h = F.md5(F.col('doc_id').cast('string'))
  thr = F.lit(DEFAULT_THRESHOLD)
  for lang, t in reversed(STRATA_THRESHOLDS):
    thr = F.when(F.col('lang') == lang, F.lit(t)).otherwise(thr)
  return (d.where(h < thr)
          .select('doc_id', 'lang')
          .orderBy('doc_id'))


# hll_distinct's register count m and what is specialized to it: the
# bucket bits log2(m) and the classic alpha_64
_HLL_M, _HLL_BUCKET_BITS, _HLL_ALPHA = 64, 6, 0.709


def hll_distinct(spark: SparkSession, sf_dir: str, *,
                 docs: DataFrame = None) -> DataFrame:
  """HyperLogLog distinct-count estimation (Flajolet et al. 2007), the
  cardinality-sketch family next to CMS (frequency) and MinHash/LSH
  (similarity) — per lang, estimate |distinct text| from m = 64
  registers instead of an exact count-distinct whose shuffle carries
  every distinct value.

  Spark's approx_count_distinct is the built-in answer but its HLL++
  registers aren't reproducible outside the JVM; this variant is
  deliberately transcendental-free and cross-engine EXACT:

    h      = 60-bit md5 prefix of the value
    bucket = h % 64,  rest = h >> 6
    rho    = (54 - bitlength(rest)) + 1, bitlength via length(bin(x))
             (rest = 0 → rho = 55)
    register[bucket] = max rho            -- integer ops only
    raw_est = alpha_64 · 64² / Σ_b 2^(-register[b])

  2^(-r) is computed as 1.0 / (1 << r) — a power of two, exactly
  representable — and the sum is a pinned-order fold over buckets, so
  the estimate is bit-identical in DuckDB.  The small-range linear-
  counting correction needs ln(); instead the raw estimate ships with
  n_zero_regs so callers (and the oracle) can apply any correction —
  at 100 TB cardinalities the raw estimate is the operative one.

  Scale shape: one map-side-combinable groupBy whose shuffle carries
  ≤ 64 rows per (group, map task) whatever the corpus size; the
  register→estimate fold runs on the bounded 64-row-per-group frame.

  Output: (group, n_rows, true_distinct, n_zero_regs, hll_est) —
  true_distinct is the exact count for verification at gate scale
  (drop it at 100 TB; it is the cost HLL avoids)."""
  d = (docs if docs is not None else
       spark.read.parquet(f'{sf_dir}/documents.parquet')) \
      .select(F.col('lang').alias('grp'), F.col('text').alias('v'))

  h = F.conv(F.substring(F.md5(F.col('v')), 1, 15), 16, 10) \
      .cast('long')
  rest = F.shiftright(h, _HLL_BUCKET_BITS)
  rho = F.when(rest == 0, F.lit(55)) \
      .otherwise(55 - F.length(F.bin(rest)))
  hashed = d.select('grp', F.pmod(h, F.lit(_HLL_M)).alias('bucket'),
                    rho.alias('rho'))

  regs = (hashed.groupBy('grp', 'bucket')
          .agg(F.max('rho').alias('r')))
  buckets = spark.range(_HLL_M).select(F.col('id').cast('long')
                                   .alias('bucket'))
  groups = d.select('grp').distinct()
  full = (groups.crossJoin(F.broadcast(buckets))
          .join(regs, ['grp', 'bucket'], 'left')
          .select('grp', 'bucket',
                  F.coalesce('r', F.lit(0)).alias('r')))

  # pinned-order fold: sum of exact powers of two, bucket-ascending.
  # 2^-r as 1.0/(1<<r) — exactly representable, no pow(); the Python
  # F.shiftleft wrapper wants an int literal, so the column-by-column
  # shift goes through F.expr
  weighted = full.withColumn(
      'w', F.expr('CAST(1.0 AS DOUBLE) / '
                  'CAST(shiftleft(CAST(1 AS BIGINT), r) AS DOUBLE)'))
  folded = (weighted.groupBy('grp')
            .agg(F.aggregate(
                F.array_sort(F.collect_list(F.struct('bucket', 'w'))),
                F.lit(0.0),
                lambda acc, s: acc + s['w']).alias('denom'),
                F.sum(F.when(F.col('r') == 0, 1).otherwise(0))
                .alias('n_zero_regs')))

  stats = d.groupBy('grp').agg(
      F.count(F.lit(1)).alias('n_rows'),
      F.count_distinct('v').alias('true_distinct'))
  return (stats.join(folded, 'grp')
          .select(F.col('grp').alias('lang'), 'n_rows',
                  'true_distinct', 'n_zero_regs',
                  F.round(F.lit(_HLL_ALPHA) * _HLL_M * _HLL_M
                          / F.col('denom'), 6).alias('hll_est'))
          .orderBy('lang'))


def sampled_quantiles(spark: SparkSession, sf_dir: str, *,
                      threshold: str = '8' + '0' * 31,
                      docs: DataFrame = None) -> DataFrame:
  """Per-stratum text-length quantiles (q25/q50/q75/q90) via
  deterministic hash-sampling + exact nearest-rank selection — the
  reproducible alternative to percentile_approx, whose GK/KLL sketch
  state is engine-internal and not bit-stable across engines (or even
  partitionings).

  The md5-threshold sample (the stratified_sample idiom) is stable
  under retries and repartitioning; quantile q is the nearest-rank
  element `ceil(q/100 · n)` of the ascending sorted sample — pure
  integer indexing on a sorted multiset, so ties cannot introduce
  engine divergence and a from-scratch DuckDB oracle matches exactly.

  Scale shape: the sample rate (threshold) is the knob that bounds the
  per-group collect_list — at 100 TB you sample 1e-5..1e-6 so each
  group's sample fits an executor comfortably; the quantile itself is
  then one bounded per-group aggregation.  Groups whose sample is
  empty produce no row (raise the rate, not the interpolation)."""
  d = (docs if docs is not None else
       spark.read.parquet(f'{sf_dir}/documents.parquet')) \
      .select('doc_id', 'lang', F.length('text').alias('v'))
  s = d.where(F.md5(F.col('doc_id').cast('string')) < F.lit(threshold))
  agg = (s.groupBy('lang')
         .agg(F.array_sort(F.collect_list('v')).alias('vs'),
              F.count(F.lit(1)).alias('n_sampled')))
  cols = [F.element_at(
      'vs', F.ceil(F.col('n_sampled') * q / 100.0).cast('int'))
      .cast('long').alias(f'q{q}') for q in (25, 50, 75, 90)]
  return (agg.select('lang', 'n_sampled', *cols)
          .orderBy('lang'))


def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
  """Exact per-stratum profile of the documents table: row counts,
  distinct texts, null/empty counts, min/max/total text length — the
  ANALYZE-style summary a curation run logs per snapshot.  One
  map-side-combinable groupBy; every aggregate is exact (no approx
  sketches) so DuckDB recomputes it bit-for-bit."""
  d = spark.read.parquet(f'{sf_dir}/documents.parquet')
  return (d.groupBy('lang')
          .agg(F.count(F.lit(1)).alias('n_docs'),
               F.count_distinct(F.col('text')).alias('n_distinct_texts'),
               F.sum(F.when(F.length('text') == 0, 1).otherwise(0))
               .alias('n_empty'),
               F.min(F.length('text')).alias('min_len'),
               F.max(F.length('text')).alias('max_len'),
               F.sum(F.length('text')).alias('total_len'),
               F.min('doc_id').alias('first_doc_id'),
               F.max('doc_id').alias('last_doc_id'))
          .orderBy('lang'))


def data_card(spark: SparkSession, sf_dir: str, *,
              docs: DataFrame = None) -> DataFrame:
  """Per-(lang, source) corpus data card — the composition report a
  dataset release ships (the Datasheets/Dolma-style summary: how much
  of which language from which source, how much survives quality
  filtering, how much is exact-duplicate mass):
    lang, source, n_docs, n_tokens (exact whitespace tokens),
    n_chars, n_quality_keep (Gopher keep flag, quality_keep_expr
    inlined on the scan — no label join), n_distinct_texts,
    n_dup_docs (n_docs - distinct: the exact-duplicate overhang).

  Scale shape: ONE map-side-combinable groupBy on the (lang, source)
  stratum key; the distinct-text count rides the same shuffle as a
  two-level aggregation (first (lang, source, text) partial — the
  table_profile device), so the whole card is two word-count-shaped
  passes with no joins; every aggregate is exact integers, bit-equal
  in DuckDB."""
  from blueprint_oss_spark.ops.textops import quality_keep_expr
  # stage the token array once (no CSE for interpreted HOFs — the
  # review caught n_toks + every keep sub-verdict each re-tokenizing)
  d = (docs if docs is not None else
       spark.read.parquet(f'{sf_dir}/documents.parquet')) \
      .select('lang', 'source', 'text', words('text').alias('toks'))
  base = d.select(
      'lang', 'source', 'text',
      F.size('toks').cast('long').alias('n_toks'),
      F.length('text').cast('long').alias('n_chars'),
      quality_keep_expr(F.col('text'), toks=F.col('toks'))
      .cast('long').alias('keep'))
  per_text = (base.groupBy('lang', 'source', 'text')
              .agg(F.count(F.lit(1)).alias('n_docs'),
                   F.sum('n_toks').alias('n_tokens'),
                   F.sum('n_chars').alias('n_chars'),
                   F.sum('keep').alias('n_quality_keep')))
  return (per_text.groupBy('lang', 'source')
          .agg(F.sum('n_docs').cast('long').alias('n_docs'),
               F.sum('n_tokens').cast('long').alias('n_tokens'),
               F.sum('n_chars').cast('long').alias('n_chars'),
               F.sum('n_quality_keep').cast('long')
               .alias('n_quality_keep'),
               F.count(F.lit(1)).cast('long').alias('n_distinct_texts'))
          .withColumn('n_dup_docs',
                      F.col('n_docs') - F.col('n_distinct_texts'))
          .orderBy('lang', 'source'))


#: Modulus for order-independent content checksums: 2^61 - 1 (prime).
#: Per-doc fingerprints are 60-bit md5 prefixes, so a modular SUM is
#: commutative/associative — identical no matter how Spark partitions,
#: combines or reorders the rows, which is the whole point: a resumed
#: or differently-parallelized run must reproduce it bit-for-bit.
CHECKSUM_MOD = 2305843009213693951


def shard_manifests(spark: SparkSession, sf_dir: str, *,
                    buckets: int = 8,
                    docs: DataFrame = None) -> DataFrame:
  """Per-output-shard content manifests — the integrity record a
  resumable bulk writer keeps next to its data files (the Iceberg /
  WebDataset manifest shape): for each shard, its row count, distinct
  texts, exact token / char / byte totals, doc_id range, and an
  ORDER-INDEPENDENT content checksum (modular sum of per-doc 60-bit
  md5 fingerprints over doc_id:text).  Two runs that produce the same
  shard contents produce the same manifest REGARDLESS of partitioning,
  task order or cluster size — this is how the scaling runs' "outputs
  bit-identical across cluster sizes" claim becomes a cheap per-shard
  equality check instead of a full-table diff, and how a resumed run
  (spark/pipeline.run_extraction_job) validates previously-written
  groups without re-reading its own output twice.

  Sharding is the repo's md5-salted hash bucket (first 8 hex chars of
  md5(doc_id) mod buckets) so DuckDB recomputes the assignment
  byte-identically; run_extraction_job's xxhash64 part_bucket is the
  production sibling (not SQL-recomputable, so the oracle-gated
  operator standardizes on md5).

  Scale shape: ONE map-side-combinable groupBy over the scan — counts,
  sums, min/max and the modular checksum all combine associatively, so
  at 100 TB this is a single reduce keyed by `buckets` values.  The
  checksum sum rides decimal(38,0) (10^12 docs x 2^60 ≈ 10^30, far
  below overflow) and collapses to int64 with one pmod."""
  d = (docs if docs is not None
       else spark.read.parquet(f'{sf_dir}/documents.parquet')) \
      .select('doc_id', 'text')
  did = F.col('doc_id').cast('string')
  fp = F.conv(F.substring(F.md5(F.concat_ws(':', did, F.col('text'))),
                          1, 15), 16, 10).cast('decimal(38,0)')
  shard = F.pmod(F.conv(F.substring(F.md5(did), 1, 8), 16, 10)
                 .cast('long'), F.lit(buckets))
  return (d.select(shard.alias('shard'), 'doc_id',
                   fp.alias('fp'),
                   F.size(words('text')).cast('long').alias('n_toks'),
                   F.length('text').cast('long').alias('n_chars'),
                   F.octet_length('text').cast('long').alias('n_bytes'),
                   'text')
          .groupBy('shard')
          .agg(F.count(F.lit(1)).alias('n_docs'),
               F.count_distinct(F.col('text')).alias('n_distinct_texts'),
               F.sum('n_toks').alias('n_tokens'),
               F.sum('n_chars').alias('n_chars'),
               F.sum('n_bytes').alias('n_bytes'),
               F.min('doc_id').alias('first_doc_id'),
               F.max('doc_id').alias('last_doc_id'),
               F.pmod(F.sum('fp'),
                      F.lit(CHECKSUM_MOD).cast('decimal(38,0)'))
               .cast('long').alias('checksum'))
          .orderBy('shard'))


#: Default compaction target: 128 KiB at gate scale so sf0.01's
#: ~80 KB shards pack ~2 per bin while sf0.1's ~800 KB shards each
#: overshoot into single-shard bins — both planner regimes exercised
#: by the same gate row.  Production sets this to the table's target
#: file size (Iceberg's write.target-file-size-bytes, typically 512 MB).
DEFAULT_COMPACT_TARGET = 128 * 1024


def plan_compaction(spark: SparkSession, sf_dir: str, *,
                    target_bytes: int = DEFAULT_COMPACT_TARGET,
                    manifests: DataFrame = None) -> DataFrame:
  """Compaction planning over writer shard manifests — the
  table-maintenance step that groups small output files into
  target-size rewrite bins (the Iceberg BinPackStrategy /
  rewrite_data_files shape).  Shards are walked IN SHARD ORDER
  (preserving the store's sort/locality, like Iceberg's
  sort-order-preserving binpack) and assigned
  bin_id = cumulative_bytes_before_this_shard DIV target_bytes —
  pack_sequences' chunking rule applied at file granularity, exact
  integer division so every engine agrees bit-for-bit.  A shard larger
  than target_bytes simply overshoots its bin (single-file bins; the
  planner never splits a file — that is the writer's job).  Output per
  input shard:
    shard, n_docs, n_bytes, bin_id, bin_pos (rank within bin),
    bin_n_shards, bin_bytes.

  Scale shape: manifests are METADATA — one row per output file, many
  orders of magnitude smaller than the data (10^5-10^6 rows for a
  100 TB table), which is why Iceberg's own planner runs single-node
  over manifest lists.  The one ordered window here spans that bounded
  metadata frame, not the corpus; at real scale the window partitions
  by the table partition key (each Iceberg partition compacts
  independently) and stays just as bounded.  The data itself is never
  read: the plan costs two metadata windows + one metadata join."""
  if target_bytes <= 0:
    raise ValueError('target_bytes must be positive')
  from pyspark.sql import Window
  m = (manifests if manifests is not None
       else shard_manifests(spark, sf_dir)) \
      .select('shard', 'n_docs', 'n_bytes')
  binned = m.select(
      'shard', 'n_docs', 'n_bytes',
      F.expr(f'CAST(coalesce(sum(n_bytes) OVER (ORDER BY shard '
             f'ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) '
             f'DIV {int(target_bytes)} AS LONG)').alias('bin_id'))
  wb = Window.partitionBy('bin_id').orderBy('shard')
  pos = binned.withColumn(
      'bin_pos', (F.row_number().over(wb) - 1).cast('int'))
  totals = (binned.groupBy('bin_id')
            .agg(F.count(F.lit(1)).cast('long').alias('bin_n_shards'),
                 F.sum('n_bytes').cast('long').alias('bin_bytes')))
  return (pos.join(totals, 'bin_id')
          .select('shard', 'n_docs', 'n_bytes', 'bin_id', 'bin_pos',
                  'bin_n_shards', 'bin_bytes')
          .orderBy('shard'))
