"""Bucketed storage layout: co-located joins without a shuffle.

At 100 TB the recurring cost is not one query's shuffle but the SAME
shuffle paid by every downstream job: exact-dedup joins, incremental
dedup probes against the signature store, connected-components
iterations, extraction-result joins back to the doc store — all keyed
by doc_id.  Writing the hot tables bucketed (hash-partitioned into a
fixed number of files per partition) and sorted by the join key makes
every doc_id-equi-join between co-bucketed tables a zipped
merge-join with ZERO Exchange and ZERO Sort: Spark reads matching
buckets side by side.  That turns O(jobs) shuffles of the 100 TB fact
table into O(1) — paid once, at write time.

The reference engine has no storage layer at all (per-file JSON in,
JSON out — blueprint/py/bp/cli/run_model.py); this is the Spark-native
answer to "where do 10^12 extracted documents live between pipeline
stages".  The same layout rules apply to the Iceberg path
(`spark/pipeline.py` write_iceberg): Iceberg's bucket partition
transform plays the role of bucketBy when the runtime jar is present.

Bucket-count discipline (documented contract, asserted in tests):
both sides of a co-located join must be bucketed on the same key with
the SAME bucket count (or one a multiple of the other — Spark then
coalesces the larger side's buckets when
spark.sql.bucketing.coalesceBucketsInJoin.enabled is set).  Pick the
count so one bucket of the biggest table fits an executor's scan
budget: at 100 TB and a 256 MB target that is ~400k buckets — far
above the 100k-file-per-dir comfort zone, so shard the table into
date/source partitions first and bucket WITHIN partitions.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, name: str, *,
                   bucket_by: str, n_buckets: int,
                   path: Optional[str] = None) -> None:
  """Persist `df` as a bucketed catalog table, each bucket sorted on
  the bucket key (an existing table is overwritten).

  `path` makes it an external table (tests point this at tmp dirs; a
  production deployment points it at the object-store prefix).  The
  sort is per-bucket-file, which is what lets the merge-join skip its
  Sort: rows arrive to the join already ordered within each bucket."""
  if n_buckets <= 0:
    raise ValueError(f'n_buckets must be positive, got {n_buckets}')
  # One file per bucket: Spark only elides the merge-join's Sort when
  # each bucket is a single (sorted) file — with multiple files per
  # bucket it must re-sort at read time.  repartition by the bucket
  # key uses the same Murmur3-pmod hash as the bucket spec, so every
  # write task holds exactly one bucket.  This is the write-side
  # shuffle the layout trades for all the read-side ones.
  df = df.repartition(n_buckets, bucket_by)
  w = df.write.mode('overwrite').bucketBy(n_buckets, bucket_by) \
      .sortBy(bucket_by)
  if path is not None:
    w = w.option('path', path)
  w.saveAsTable(name)


def co_located_join(spark: SparkSession, left: str, right: str,
                    on: str) -> DataFrame:
  """Inner-join two co-bucketed catalog tables on their bucket key.

  This is a plain DataFrame join — the zero-shuffle plan comes from
  the tables' layout, not from hints.  Callers should assert the plan
  when wiring a new pair of tables (see test_bucketed_storage.py for
  the Exchange-free pin).

  Sort elision: since SPARK-28583 the bucketed scan no longer
  advertises per-bucket sort order, so the merge join re-sorts each
  (already sorted, single-file) bucket — a near-linear TimSort pass.
  Setting spark.sql.legacy.bucketedTableScan.outputOrdering=true
  removes the Sort too; it is sound exactly when every bucket is one
  sorted file, which write_bucketed guarantees."""
  lt = spark.table(left)
  rt = spark.table(right)
  return lt.join(rt, on)


def write_time_partitioned(df: DataFrame, path: str, *,
                           granularity: str = 'day') -> None:
  """Time-partitioned layout: the directory structure IS the index.
  The `ts` column, formatted per `granularity`, becomes the partition
  column `part_date`.

  The second layout rule for the 10^12-doc store (next to
  `write_bucketed`'s join co-location): partition the fact table by
  event/crawl date so that every time-bounded query — incremental
  dedup of yesterday's crawl, a backfill of one week, streaming
  catch-up from a checkpoint — reads ONLY the matching directories.
  Partition pruning happens at PLANNING time from file-listing
  metadata: the scan for `WHERE part_date = 'X'` never opens, lists
  or even stats the other partitions (visible as PartitionFilters in
  the scan node, pinned in tests/test_time_partitioned.py).  With a
  filtered dimension joined on the partition column, Spark inserts a
  DYNAMIC partition-pruning subquery (the star-schema date-dim shape)
  — also pinned.

  `granularity` ∈ {'day', 'month', 'hour'}: day is the web-crawl
  default (Common Crawl's own layout); hour only for streaming-heavy
  tables (24× the directory count); month for small dimensions.
  The partition value is WRITTEN as a formatted string (stable
  hive-style directory names across engines); on read, Spark's
  partition-type inference maps day values back to a DATE column
  while month/hour values stay strings — both round-trip losslessly
  (pinned in tests).

  Layout discipline at 100 TB: partitioning multiplies file counts —
  combine with `write_bucketed`'s sharding note (bucket WITHIN date
  partitions) and compaction planning (`ops/profiling.
  plan_compaction`) so each partition holds target-size files."""
  from pyspark.sql import functions as F
  fmt = {'day': 'yyyy-MM-dd', 'month': 'yyyy-MM',
         'hour': 'yyyy-MM-dd-HH'}.get(granularity)
  if fmt is None:
    raise ValueError(f'unknown granularity: {granularity!r}')
  # DYNAMIC partition overwrite: the overwrite replaces only the
  # partitions present in `df` — the incremental-ingest contract the
  # docstring advertises (re-land yesterday's crawl, history
  # untouched).  Spark's default STATIC overwrite would delete the
  # whole table root first, silently destroying every prior day;
  # pinned by test (re-landing one day leaves the other 29 intact).
  (df.withColumn('part_date', F.date_format(F.col('ts'), fmt))
     .write.mode('overwrite')
     .option('partitionOverwriteMode', 'dynamic')
     .partitionBy('part_date').parquet(path))


def read_time_partitioned(spark: SparkSession, path: str) -> DataFrame:
  """Read a `write_time_partitioned` table.  Filters on the partition
  column prune directories at planning time; everything else behaves
  like a plain parquet read (the partition column's type comes from
  partition inference — DATE for day granularity, string otherwise;
  string literals in filters auto-cast either way)."""
  return spark.read.parquet(path)


def write_sorted(df: DataFrame, path: str, *,
                 sort_col: str, n_files: int = 8) -> None:
  """Range-sorted layout: the third layout rule (after bucketing for
  join co-location and date partitioning for time pruning) — global
  range-partition + within-file sort on the dominant range-filter key,
  so every parquet file and row group carries TIGHT, mutually DISJOINT
  min/max statistics.  A range predicate (`doc_id BETWEEN a AND b`,
  the backfill / resume / point-lookup shape) then skips every file
  and row group whose [min, max] misses the range — parquet readers
  (Spark's pushed filters, and any engine reading the same files)
  prune from footer stats without touching data pages (an existing
  `path` is overwritten).  This is
  single-key Z-ordering; for two concurrent range keys, interleave
  bits into a computed column and sort on that.

  Unsorted writes leave every file spanning nearly the full key range
  (min/max useless — each file must be read for any range); the test
  measures both layouts' footer stats and the row-group skip count a
  stats-driven reader achieves."""
  if n_files <= 0:
    raise ValueError(f'n_files must be positive, got {n_files}')
  (df.repartitionByRange(n_files, sort_col)
     .sortWithinPartitions(sort_col)
     .write.mode('overwrite').parquet(path))
