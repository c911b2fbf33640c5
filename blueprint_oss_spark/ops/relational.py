"""Relational query surface over the driver's TPC-H-ish tables.

These exercise the Spark relational shell the extraction pipeline rides on
(scan pruning, joins, window top-k).  Each query here is DuckDB-oracled by
__spark_entry__.oracle_sql().  Aggregates over doubles are computed in
DECIMAL and cast to DOUBLE at the end so both engines produce bit-equal
values regardless of summation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
  return spark.read.parquet(f'{sf_dir}/{name}.parquet')


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
  """TPC-H Q1-style pricing summary; decimal-exact aggregates."""
  li = _t(spark, sf_dir, 'lineitem')
  dec = lambda c: F.col(c).cast('decimal(18,2)')
  return (li
          .where(F.col('l_shipdate') <= F.lit('1998-09-02'))
          .groupBy('l_returnflag', 'l_linestatus')
          .agg(
              F.sum(dec('l_quantity')).cast('double').alias('sum_qty'),
              F.sum(dec('l_extendedprice')).cast('double')
              .alias('sum_base_price'),
              F.sum((dec('l_extendedprice')
                     * (F.lit(1).cast('decimal(18,2)')
                        - dec('l_discount'))).cast('decimal(28,4)'))
              .cast('double').alias('sum_disc_price'),
              F.count(F.lit(1)).alias('count_order'))
          .orderBy('l_returnflag', 'l_linestatus'))


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
  """TPC-H Q3-style: revenue of unshipped orders for a segment.

  No forced broadcast on orders/customer: both scale with the fact table
  (a date filter keeps ~half of orders), so a hint would force an OOM at
  100 TB.  AQE picks broadcast at small SF from runtime stats and falls
  back to shuffle joins at scale — verified in PLANS.md."""
  cust = _t(spark, sf_dir, 'customer').where(
      F.col('c_mktsegment') == 'BUILDING')
  orders = _t(spark, sf_dir, 'orders').where(
      F.col('o_orderdate') < F.lit('1995-03-15'))
  li = _t(spark, sf_dir, 'lineitem').where(
      F.col('l_shipdate') > F.lit('1995-03-15'))
  dec = lambda c: F.col(c).cast('decimal(18,2)')
  return (li
          .join(orders, li.l_orderkey == orders.o_orderkey)
          .join(cust, orders.o_custkey == cust.c_custkey)
          .groupBy('l_orderkey', 'o_orderdate')
          .agg(F.sum((dec('l_extendedprice')
                      * (F.lit(1).cast('decimal(18,2)')
                         - dec('l_discount'))).cast('decimal(28,4)'))
               .cast('double').alias('revenue'))
          .orderBy(F.desc('revenue'), 'l_orderkey')
          .limit(10)
          .select('l_orderkey',
                  F.date_format('o_orderdate', 'yyyy-MM-dd')
                  .alias('orderdate'),
                  'revenue'))


def top_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
  """Window top-k: 3 highest-value events per user (deterministic
  tie-break on event_id)."""
  ev = _t(spark, sf_dir, 'events')
  w = Window.partitionBy('user_id').orderBy(
      F.desc('value'), F.col('event_id'))
  return (ev
          .withColumn('rnk', F.row_number().over(w))
          .where(F.col('rnk') <= 3)
          .select('user_id', 'event_id', 'event_type', 'rnk')
          .orderBy('user_id', 'rnk'))


def orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
  """Grouping-sets rollup over order status x priority (counts only —
  exact)."""
  o = _t(spark, sf_dir, 'orders')
  return (o
          .rollup('o_orderstatus', 'o_orderpriority')
          .agg(F.count(F.lit(1)).alias('n_orders'))
          .orderBy(F.col('o_orderstatus').asc_nulls_first(),
                   F.col('o_orderpriority').asc_nulls_first()))


def supplier_nation_join(spark: SparkSession, sf_dir: str) -> DataFrame:
  """Star join through nation/region (both broadcast)."""
  s = _t(spark, sf_dir, 'supplier')
  n = _t(spark, sf_dir, 'nation')
  r = _t(spark, sf_dir, 'region')
  return (s
          .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
          .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
          .groupBy('r_name', 'n_name')
          .agg(F.count(F.lit(1)).alias('n_suppliers'),
               F.sum(F.col('s_acctbal').cast('decimal(18,2)'))
               .cast('double').alias('total_acctbal'))
          .orderBy('r_name', 'n_name'))


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) \
    -> DataFrame:
  """TPC-H Q5-style: revenue by nation for one region-year where the
  supplier is local to the customer.  The true dimension chain
  (region→nation→supplier) broadcasts explicitly; orders/customer scale
  with the fact table, so they carry no hint — AQE broadcasts them at
  small SF and switches to shuffle joins at 100 TB (PLANS.md)."""
  region = _t(spark, sf_dir, 'region').where(F.col('r_name') == 'ASIA')
  nation = _t(spark, sf_dir, 'nation')
  supp = _t(spark, sf_dir, 'supplier')
  cust = _t(spark, sf_dir, 'customer')
  orders = _t(spark, sf_dir, 'orders').where(
      (F.col('o_orderdate') >= F.lit('1996-01-01'))
      & (F.col('o_orderdate') < F.lit('1997-01-01')))
  li = _t(spark, sf_dir, 'lineitem')
  dec = lambda c: F.col(c).cast('decimal(18,2)')
  dims = (supp
          .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
          .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
          .select('s_suppkey', 's_nationkey', 'n_name'))
  return (li
          .join(orders.select('o_orderkey', 'o_custkey'),
                li.l_orderkey == F.col('o_orderkey'))
          .join(cust.select('c_custkey', 'c_nationkey'),
                F.col('o_custkey') == F.col('c_custkey'))
          .join(F.broadcast(dims),
                (li.l_suppkey == dims.s_suppkey)
                & (F.col('c_nationkey') == dims.s_nationkey))
          .groupBy('n_name')
          .agg(F.sum((dec('l_extendedprice')
                      * (F.lit(1).cast('decimal(18,2)')
                         - dec('l_discount'))).cast('decimal(28,4)'))
               .cast('double').alias('revenue'))
          .orderBy(F.desc('revenue'), 'n_name'))


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
  """TPC-H Q6-style: pure scan + filter + global aggregate — the
  pushdown stress test (no joins, no grouping shuffle beyond the final
  partial-agg exchange)."""
  li = _t(spark, sf_dir, 'lineitem')
  dec = lambda c: F.col(c).cast('decimal(18,2)')
  return (li
          .where((F.col('l_shipdate') >= F.lit('1996-01-01'))
                 & (F.col('l_shipdate') < F.lit('1997-01-01'))
                 & (F.col('l_discount') >= 0.05)
                 & (F.col('l_discount') <= 0.07)
                 & (F.col('l_quantity') < 24))
          .agg(F.sum((dec('l_extendedprice') * dec('l_discount'))
                     .cast('decimal(28,4)'))
               .cast('double').alias('revenue'),
               F.count(F.lit(1)).alias('n_items')))


def events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
  """CUBE over (event_type, day-of-week): all four grouping-set
  combinations in one pass — partial aggregation happens map-side per
  grouping set, so the shuffle carries one row per (set x group x
  partition).  Counts + exact distinct users (the distinct forces the
  classic two-phase expand/aggregate plan)."""
  ev = _t(spark, sf_dir, 'events')
  return (ev
          .withColumn('dow', F.dayofweek('ts'))
          .cube('event_type', 'dow')
          .agg(F.count(F.lit(1)).alias('n_events'),
               F.countDistinct('user_id').alias('n_users'),
               F.sum(F.col('value').cast('decimal(18,6)'))
               .cast('double').alias('total_value'))
          .orderBy(F.col('event_type').asc_nulls_first(),
                   F.col('dow').asc_nulls_first()))


def churned_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
  """Set operation: customers with a 1995 order but none in 1996
  (EXCEPT over projected keys — both sides prune to one column at the
  scan, and the anti-semantics shuffle only distinct keys)."""
  o = _t(spark, sf_dir, 'orders')
  in_1995 = o.where((F.col('o_orderdate') >= F.lit('1995-01-01'))
                    & (F.col('o_orderdate') < F.lit('1996-01-01'))) \
      .select('o_custkey')
  in_1996 = o.where((F.col('o_orderdate') >= F.lit('1996-01-01'))
                    & (F.col('o_orderdate') < F.lit('1997-01-01'))) \
      .select('o_custkey')
  # subtract = EXCEPT DISTINCT (set semantics, matching the SQL
  # EXCEPT); exceptAll would keep multiset surplus copies
  return in_1995.subtract(in_1996).orderBy('o_custkey')


def events_asof_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
  """AS-OF join: each event picks the customer's most recent order with
  o_orderdate <= event ts (ties on date broken by max o_orderkey).

  Spark has no ASOF JOIN operator; the scalable composition is the
  tagged-UNION + window pattern: stamp both streams onto one (key,
  time) axis, sort within key, and carry the last-seen order forward
  with last(..., ignorenulls) over an unbounded-preceding frame.  ONE
  shuffle on the join key — never the range-join O(rows_l x rows_r
  per key) explosion a naive `ON key = key AND t_r <= t_l` inequality
  join produces, and per-key processing is a streaming sort pass, so
  skewed keys degrade linearly, not quadratically."""
  ev = _t(spark, sf_dir, 'events').select(
      'event_id', 'user_id', 'ts', 'event_type')
  od = _t(spark, sf_dir, 'orders').select(
      'o_custkey', 'o_orderkey', 'o_orderdate')

  left = ev.select(
      F.col('user_id').alias('k'), F.col('ts').alias('t'),
      F.lit(1).alias('is_ev'), 'event_id', 'event_type',
      F.lit(None).cast('long').alias('_okey'),
      F.lit(None).cast('timestamp').alias('_odate'))
  right = od.select(
      F.col('o_custkey').alias('k'),
      F.col('o_orderdate').alias('t'),
      F.lit(0).alias('is_ev'),
      F.lit(None).cast('long').alias('event_id'),
      F.lit(None).cast('string').alias('event_type'),
      F.col('o_orderkey').alias('_okey'),
      F.col('o_orderdate').alias('_odate'))

  # at equal t, orders (is_ev=0) sort before events so an event sees
  # same-instant orders; within tied order dates, ascending o_orderkey
  # makes last() pick the max key — the oracle's tie-break
  w = (Window.partitionBy('k')
       .orderBy('t', 'is_ev', '_okey')
       .rowsBetween(Window.unboundedPreceding, Window.currentRow))
  joined = (left.unionByName(right)
            .withColumn('asof_orderkey',
                        F.last('_okey', ignorenulls=True).over(w))
            .withColumn('asof_orderdate',
                        F.last('_odate', ignorenulls=True).over(w))
            .where(F.col('is_ev') == 1))
  return (joined.select(
      'event_id', F.col('k').alias('user_id'), 'event_type',
      'asof_orderkey',
      F.date_format('asof_orderdate', 'yyyy-MM-dd')
      .alias('asof_orderdate'))
      .orderBy('event_id'))


def recent_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
  """RANGE join: per event, how many earlier events the same user fired
  within the preceding hour (bot/burst detection shape).

  Spark's optimizer turns a naive `ON user AND t-w <= t2 < t` predicate
  into a per-key cross product (O(events² per user)).  The scalable
  composition is the BIN join: bucket time into window-sized bins, join
  only (user, bin) ∪ (user, bin−1) — every in-window pair shares one of
  those two bins — then apply the exact microsecond inequality to the
  tiny candidate set.  One equi-shuffle on (user, bin); candidate fanout
  is bounded by per-user events-per-2-windows, not per-user totals.
  A source event lands in exactly one bin while the target probes two,
  so no pair is double-counted."""
  ev = _t(spark, sf_dir, 'events').select(
      'event_id', 'user_id', 'ts',
      F.unix_micros(F.col('ts').cast('timestamp')).alias('us'))
  win_us = 3600 * 1_000_000
  binned = ev.withColumn('bin', F.floor(F.col('us') / win_us))
  src = binned.select(F.col('user_id').alias('s_user'),
                      F.col('us').alias('s_us'),
                      F.col('bin').alias('s_bin'))
  tgt = binned.select(
      'event_id', 'user_id', 'ts', 'us',
      F.explode(F.array(F.col('bin'), F.col('bin') - 1)).alias('probe'))
  j = tgt.join(src, (tgt.user_id == src.s_user)
               & (tgt.probe == src.s_bin), 'left')
  hit = F.when((F.col('s_us') < F.col('us'))
               & (F.col('s_us') >= F.col('us') - win_us), 1) \
      .otherwise(0)
  return (j.groupBy('event_id', 'user_id')
          .agg(F.sum(hit).alias('n_recent'))
          .orderBy('event_id'))


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
  """Gap-based sessionization: split each user's event stream into
  sessions wherever the inactivity gap exceeds 30 minutes, then
  aggregate per session (start/end, duration, event + click counts,
  decimal-exact value total).

  The classic log-pipeline operator (GA/Snowplow semantics).  Scale
  shape: ONE data shuffle on user_id — the lag flag and the running-sum
  session numbering share a single (partitionBy user_id, orderBy ts)
  window sort, and the per-session groupBy keys (user_id, session_id)
  are clustered by the existing hashpartitioning(user_id), so Spark's
  EnsureRequirements inserts no second hash Exchange; the only other
  Exchange is the rangepartitioning for the final presentation orderBy
  (pinned by tests/test_sessionize.py).  Per-user work is a streaming sort
  pass, so skewed users degrade linearly.  All arithmetic is integer
  microseconds, derived timezone-free from the TIMESTAMP_NTZ column
  (timestamp_diff vs the NTZ epoch == DuckDB's epoch_us on the same
  naive value — no session-timezone or DST dependence).
  """
  gap_us = 30 * 60 * 1_000_000
  epoch = F.lit('1970-01-01 00:00:00').cast('timestamp_ntz')
  ev = _t(spark, sf_dir, 'events').select(
      'user_id', 'event_id', 'event_type',
      F.col('value').cast('decimal(18,6)').alias('value'),
      F.timestamp_diff('MICROSECOND', epoch, F.col('ts'))
      .alias('ts_us'))
  w = Window.partitionBy('user_id').orderBy('ts_us', 'event_id')
  prev = F.lag('ts_us').over(w)
  is_new = F.when(prev.isNull()
                  | ((F.col('ts_us') - prev) > gap_us), 1).otherwise(0)
  run = (Window.partitionBy('user_id').orderBy('ts_us', 'event_id')
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
  numbered = (ev.withColumn('is_new', is_new)
              .withColumn('session_id', F.sum('is_new').over(run)))
  return (numbered
          .groupBy('user_id', 'session_id')
          .agg(F.min('ts_us').alias('start_us'),
               F.max('ts_us').alias('end_us'),
               F.count(F.lit(1)).alias('n_events'),
               F.sum(F.when(F.col('event_type') == 'click', 1)
                     .otherwise(0)).alias('n_clicks'),
               F.sum('value').cast('double').alias('total_value'))
          .withColumn('duration_us',
                      F.col('end_us') - F.col('start_us'))
          .select('user_id', 'session_id', 'start_us', 'end_us',
                  'duration_us', 'n_events', 'n_clicks', 'total_value')
          .orderBy('user_id', 'session_id'))


def funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
  """Ordered-funnel analysis per user: the earliest `view`, the
  earliest `click` STRICTLY AFTER that view, and the earliest
  `purchase` strictly after that click, plus the stage reached (0–3).

  The ordering constraint is what makes this non-trivial: a click
  before any view must not count.  The self-join-free composition is
  conditional running minima over ONE `(partitionBy user_id, orderBy
  ts)` window — `run_view` at a row is the earliest view so far, so a
  click qualifies iff `ts > run_view`; the earliest qualifying click
  (`run_click`) gates purchases the same way — followed by a
  conditional groupBy aggregation on the same user_id clustering.
  Exactly one hash shuffle; per-user work is a streaming sort pass
  (skewed users degrade linearly).  Timestamps are timezone-free
  integer microseconds as in sessionize.
  """
  epoch = F.lit('1970-01-01 00:00:00').cast('timestamp_ntz')
  ev = _t(spark, sf_dir, 'events').select(
      'user_id', 'event_id', 'event_type',
      F.timestamp_diff('MICROSECOND', epoch, F.col('ts'))
      .alias('ts_us'))
  s1, s2, s3 = 'view', 'click', 'purchase'
  w = (Window.partitionBy('user_id').orderBy('ts_us', 'event_id')
       .rowsBetween(Window.unboundedPreceding, Window.currentRow))
  run_view = F.min(F.when(F.col('event_type') == s1,
                          F.col('ts_us'))).over(w)
  ev = ev.withColumn(
      'click_ok',
      F.when((F.col('event_type') == s2) & run_view.isNotNull()
             & (F.col('ts_us') > run_view), F.col('ts_us')))
  run_click = F.min('click_ok').over(w)
  ev = ev.withColumn(
      'purchase_ok',
      F.when((F.col('event_type') == s3) & run_click.isNotNull()
             & (F.col('ts_us') > run_click), F.col('ts_us')))
  agg = (ev.groupBy('user_id')
         .agg(F.min(F.when(F.col('event_type') == s1, F.col('ts_us')))
              .alias('first_view_us'),
              F.min('click_ok').alias('first_click_us'),
              F.min('purchase_ok').alias('first_purchase_us')))
  stage = (F.when(F.col('first_purchase_us').isNotNull(), 3)
           .when(F.col('first_click_us').isNotNull(), 2)
           .when(F.col('first_view_us').isNotNull(), 1)
           .otherwise(0))
  return (agg.select('user_id', 'first_view_us', 'first_click_us',
                     'first_purchase_us',
                     stage.cast('int').alias('stage_reached'))
          .orderBy('user_id'))


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
  """Cohort retention matrix: users are cohorted by the ISO-epoch week
  of their FIRST event; each cell counts distinct users of cohort week
  C active in week C + offset.

  Week indices are pure integer arithmetic on timezone-free epoch
  microseconds (`floor(ts_us / week_us)`), so both engines compute
  identical keys with no calendar/timezone semantics to reconcile.
  Plan shape: attaching each user's first-event week is a whole-
  partition `min over (partitionBy user_id)` window — one hash shuffle
  on user_id, no sort needed for an unbounded frame — and the matrix
  is a `groupBy(cohort_week, week_offset)` exact count-distinct whose
  re-keying is the second, irreducible shuffle (distinct users must
  meet per cell).  Both stages do map-side partial work; per-user and
  per-cell state is O(1).
  """
  week_us = 7 * 24 * 3600 * 1_000_000
  epoch = F.lit('1970-01-01 00:00:00').cast('timestamp_ntz')
  ev = _t(spark, sf_dir, 'events').select(
      'user_id',
      F.timestamp_diff('MICROSECOND', epoch, F.col('ts'))
      .alias('ts_us'))
  w = Window.partitionBy('user_id')
  ev = (ev
        .withColumn('week', F.floor(F.col('ts_us') / week_us))
        .withColumn('cohort_week', F.min(F.floor(F.col('ts_us')
                                                 / week_us)).over(w)))
  return (ev
          .groupBy('cohort_week',
                   (F.col('week') - F.col('cohort_week'))
                   .alias('week_offset'))
          .agg(F.countDistinct('user_id').alias('n_active'))
          .orderBy('cohort_week', 'week_offset'))


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
  """TPC-H Q10-style: revenue lost to returned items per customer for
  one quarter, top 20.  Shape: fact-fact join (lineitem x orders)
  left to AQE, customer joined on the grouped key, nation broadcast
  (true dimension); the top-k is a global sort of an already tiny
  aggregate.  Deterministic tiebreak on c_custkey so LIMIT 20 is
  stable cross-engine."""
  li = _t(spark, sf_dir, 'lineitem').where(F.col('l_returnflag') == 'R')
  orders = _t(spark, sf_dir, 'orders').where(
      (F.col('o_orderdate') >= F.lit('1996-01-01'))
      & (F.col('o_orderdate') < F.lit('1996-04-01')))
  cust = _t(spark, sf_dir, 'customer')
  nation = _t(spark, sf_dir, 'nation')
  dec = lambda c: F.col(c).cast('decimal(18,2)')
  rev = (li.join(orders.select('o_orderkey', 'o_custkey'),
                 li.l_orderkey == F.col('o_orderkey'))
         .groupBy('o_custkey')
         .agg(F.sum((dec('l_extendedprice')
                     * (F.lit(1).cast('decimal(18,2)')
                        - dec('l_discount'))).cast('decimal(28,4)'))
              .cast('double').alias('revenue')))
  return (rev
          .join(cust, rev.o_custkey == cust.c_custkey)
          .join(F.broadcast(nation),
                cust.c_nationkey == nation.n_nationkey)
          .select('c_custkey', 'c_name', 'revenue',
                  F.col('c_acctbal').cast('double').alias('acctbal'),
                  'n_name')
          .orderBy(F.desc('revenue'), 'c_custkey')
          .limit(20))


def q4_priority_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
  """TPC-H Q4-style order-priority check, expressed as a LEFT SEMI
  join: count orders in one quarter having at least one large-quantity
  lineitem.  The semi join is the right physical shape for EXISTS —
  the probe side never duplicates rows, so no post-join distinct, and
  the build side carries only l_orderkey (column-pruned at the
  scan)."""
  orders = _t(spark, sf_dir, 'orders').where(
      (F.col('o_orderdate') >= F.lit('1996-01-01'))
      & (F.col('o_orderdate') < F.lit('1996-04-01')))
  big = _t(spark, sf_dir, 'lineitem') \
      .where(F.col('l_quantity') >= 45).select('l_orderkey')
  return (orders
          .join(big, orders.o_orderkey == big.l_orderkey, 'left_semi')
          .groupBy('o_orderpriority')
          .agg(F.count(F.lit(1)).alias('n_orders'))
          .orderBy('o_orderpriority'))


def q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
  """TPC-H Q18-style: customers whose single orders exceed a quantity
  threshold (groupBy + HAVING on the fact table, then enrich).  The
  HAVING filter runs on the aggregated (tiny) side before any join, so
  only qualifying orders join back to customer — the
  aggregate-then-join ordering is the 100 TB-correct shape (joining
  first would shuffle the whole lineitem-orders product)."""
  li = _t(spark, sf_dir, 'lineitem')
  orders = _t(spark, sf_dir, 'orders')
  cust = _t(spark, sf_dir, 'customer')
  big = (li.groupBy('l_orderkey')
         .agg(F.sum(F.col('l_quantity').cast('decimal(18,2)'))
              .alias('sum_qty'))
         .where(F.col('sum_qty') >= 150))
  return (big
          .join(orders, big.l_orderkey == orders.o_orderkey)
          .join(cust, orders.o_custkey == cust.c_custkey)
          .select('c_custkey', 'c_name', 'o_orderkey',
                  F.col('o_totalprice').cast('double')
                  .alias('totalprice'),
                  F.col('sum_qty').cast('double').alias('sum_qty'))
          .orderBy(F.desc('totalprice'), 'o_orderkey')
          .limit(20))


# ---------------------------------------------------------------------------
# Incremental rollup maintenance — the continuous-aggregate /
# materialized-view shape (TimescaleDB continuous aggregates, Druid
# rollup segments, streaming MV engines): the aggregate table is kept
# as MERGEABLE per-group STATE, so a new day's events update it by
# merging partial states instead of rescanning history.
# ---------------------------------------------------------------------------

def rollup_events(spark: SparkSession, sf_dir: str, *,
                  events: DataFrame = None) -> DataFrame:
  """Mergeable per-(day, event_type) aggregate state over the events
  table: (day, event_type, n_events, value_micro, regs).

  Every column is chosen for MERGEABILITY — the property that makes a
  rollup incrementally maintainable: counts and exact-integer value
  sums merge by addition (value_micro = Σ CAST(trunc toward zero of
  value·1e6) AS LONG, summed in decimal(38,0) — order-free, the
  kmeans/pca discipline, and trunc is the double→int contract both
  engines share); the distinct-user sketch merges by element-wise MAX
  because it is the 64-register HyperLogLog state of
  `profiling.hll_distinct` (same 60-bit-md5 / rho formulas, so the
  DuckDB oracle recomputes the registers from scratch).  An exact
  countDistinct would NOT merge from partials — which is precisely
  why production rollups store sketches (the Druid/ClickHouse
  AggregatingMergeTree shape).

  Scale shape: one groupBy keyed (day, type, bucket) for register
  maxima — group count is bounded by 64 × the rollup's own
  cardinality, never the event count, and MAX combines map-side — and
  one groupBy keyed (day, type) for counts/sums/register assembly.
  Both shuffles carry rollup-sized row counts regardless of event
  volume."""
  ev = (events if events is not None
        else _t(spark, sf_dir, 'events')) \
      .select(F.date_format('ts', 'yyyy-MM-dd').alias('day'),
              'event_type', 'user_id', 'value')
  h = F.conv(F.substring(F.md5(F.col('user_id').cast('string')),
                         1, 15), 16, 10).cast('long')
  rest = F.shiftright(h, 6)
  rho = F.when(rest == 0, F.lit(55)) \
      .otherwise(55 - F.length(F.bin(rest)))
  hashed = ev.select('day', 'event_type',
                     F.pmod(h, F.lit(64)).alias('bucket'),
                     rho.alias('rho'),
                     F.expr('CAST(value * 1000000.0 AS BIGINT)')
                     .alias('vm'))
  regs = (hashed.groupBy('day', 'event_type', 'bucket')
          .agg(F.max('rho').alias('r')))
  reg_arr = (regs.groupBy('day', 'event_type')
             .agg(F.map_from_entries(
                 F.collect_list(F.struct('bucket', 'r'))).alias('m'))
             .select('day', 'event_type',
                     F.transform(
                         F.sequence(F.lit(0), F.lit(63)),
                         lambda b: F.coalesce(
                             F.element_at('m', b.cast('long')),
                             F.lit(0)).cast('int')).alias('regs')))
  sums = (hashed.groupBy('day', 'event_type')
          .agg(F.count(F.lit(1)).alias('n_events'),
               F.sum(F.col('vm').cast('decimal(38,0)')).cast('long')
               .alias('value_micro')))
  return sums.join(reg_arr, ['day', 'event_type'])


def merge_rollups(a: DataFrame, b: DataFrame) -> DataFrame:
  """Merge two rollup states (the incremental-maintenance step): a
  full-outer join on the group key — bounded by the rollup's own
  cardinality — with additive merge for counts/sums and element-wise
  MAX for the HLL registers.  merge(rollup(X), rollup(Y)) ≡
  rollup(X ∪ Y) exactly (integer sums are associative, MAX is a
  semilattice) — asserted bitwise in tests and in the gate."""
  zero_regs = F.transform(F.sequence(F.lit(0), F.lit(63)),
                          lambda _: F.lit(0).cast('int'))
  an = a.select('day', 'event_type',
                F.col('n_events').alias('n_a'),
                F.col('value_micro').alias('v_a'),
                F.col('regs').alias('r_a'))
  bn = b.select('day', 'event_type',
                F.col('n_events').alias('n_b'),
                F.col('value_micro').alias('v_b'),
                F.col('regs').alias('r_b'))
  j = an.join(bn, ['day', 'event_type'], 'full_outer')
  return j.select(
      'day', 'event_type',
      (F.coalesce('n_a', F.lit(0)) + F.coalesce('n_b', F.lit(0)))
      .alias('n_events'),
      (F.coalesce('v_a', F.lit(0)) + F.coalesce('v_b', F.lit(0)))
      .alias('value_micro'),
      F.zip_with(F.coalesce('r_a', zero_regs),
                 F.coalesce('r_b', zero_regs),
                 lambda x, y: F.greatest(x, y)).alias('regs'))


def rollup_report(state: DataFrame) -> DataFrame:
  """Render a rollup state for consumption: exact counts/sums plus
  the register-derived distinct-user columns — n_zero_regs,
  reg_checksum (Σ (bucket+1)·rho, an exact order-free integer that
  pins every register), and the transcendental-free raw HLL estimate
  (pinned bucket-ascending fold of exact powers of two, the
  hll_distinct contract)."""
  regs = F.col('regs')
  checksum = F.aggregate(
      F.zip_with(regs, F.sequence(F.lit(1), F.lit(64)),
                 lambda r, i: r.cast('long') * i.cast('long')),
      F.lit(0).cast('long'), lambda acc, x: acc + x)
  n_zero = F.size(F.filter(regs, lambda r: r == 0))
  # the python F.shiftleft wrapper wants an int literal (the
  # hll_distinct lesson) — the column-by-column shift goes via expr
  denom = F.expr(
      'aggregate(transform(regs, r -> CAST(1.0 AS DOUBLE) / '
      'CAST(shiftleft(CAST(1 AS BIGINT), r) AS DOUBLE)), '
      'CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)')
  est = F.round(F.lit(0.709) * 64.0 * 64.0 / denom, 6)
  return (state.select('day', 'event_type', 'n_events', 'value_micro',
                       n_zero.cast('long').alias('n_zero_regs'),
                       checksum.alias('reg_checksum'),
                       est.alias('hll_est'))
          .orderBy('day', 'event_type'))


def incremental_rollup(spark: SparkSession, sf_dir: str, *,
                       split_day: str = '2024-01-21') -> DataFrame:
  """The incremental-maintenance harness: rebuild the rollup as
  merge(rollup(history), rollup(new batch)) with the event table
  split at `split_day` — the daily-crawl / late-arriving-facts shape
  (history state is read back, ONLY the delta is scanned in
  production; here both halves derive from the same table so the
  DuckDB oracle can recompute everything).  Returns the merged
  report; equality with the full-scan rollup is asserted bitwise in
  tests and by the gate (both sections hash against the same oracle
  rows)."""
  ev = _t(spark, sf_dir, 'events')
  old = ev.where(F.date_format('ts', 'yyyy-MM-dd') < split_day)
  new = ev.where(F.date_format('ts', 'yyyy-MM-dd') >= split_day)
  merged = merge_rollups(rollup_events(spark, sf_dir, events=old),
                         rollup_events(spark, sf_dir, events=new))
  return rollup_report(merged)
