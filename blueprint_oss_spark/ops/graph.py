"""Distributed graph helpers for dedup pipelines.

`connected_components` turns near-duplicate candidate PAIRS (from
minhash/LSH banding, exact n-gram Jaccard, or embedding blocking) into
dedup GROUPS — the step a keep-one-representative dedup actually needs.

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14), expressed as
DataFrame groupBy/agg rounds:

  * large-star: per node u over the SYMMETRIC adjacency, attach every
    strictly-larger neighbor v to m = min(N(u) ∪ {u});
  * small-star: per node u over edges oriented large→small, attach every
    smaller neighbor and u itself to m = min(N(u)).

Each round is one groupBy-shuffle over node ids; the edge set collapses
toward star graphs rooted at each component's minimum id in O(log n)
rounds.  The fixpoint edge set *is* the (node → component-min) map.

Scale notes (100 TB / 10^9-node regime):
  * NO per-node arrays: each star step is a min-aggregate plus a join
    back onto the edge list (never `collect_set`, which would
    materialize a hub node's entire neighborhood in one reducer row —
    a memory bomb on giant components).  The only per-key state is one
    running min; hub-key joins are plain shuffle joins that AQE's
    skew-join splitting handles;
  * large-star moves the whole heavy tail of a skewed node directly
    onto the component min, so components collapse in O(log n) rounds;
  * the driver loop is iterative by nature; `localCheckpoint` after
    every round truncates lineage so plan size stays O(1) in rounds
    (on a cluster use `checkpoint` to a reliable dir for fault
    tolerance — same call shape);
  * convergence is detected by set equality (distinct edge sets with
    equal counts and equal union count), two cheap count jobs per
    round on the already-checkpointed frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from blueprint_oss_spark.spark.sources import documents


def connected_components(edges: DataFrame, src: str = 'src',
                         dst: str = 'dst') -> DataFrame:
  """Connected components over an undirected edge list, in at most 30
  alternating large-star/small-star rounds.

  Returns a DataFrame (node, component) mapping every node that appears
  in `edges` — including each component's minimum node, which maps to
  itself — to its component's minimum node id.  Nodes with no edges
  simply don't appear — callers left-join and coalesce to self.
  """
  e = (edges
       .select(F.least(F.col(src), F.col(dst)).alias('dst'),
               F.greatest(F.col(src), F.col(dst)).alias('src'))
       .where(F.col('src') != F.col('dst'))
       .distinct()
       .localCheckpoint(eager=True))
  n_old = None  # lazily counted; carried across rounds (new == next old)

  for _ in range(30):
    # -- large-star: symmetric adjacency, larger neighbors -> min ------
    # m(u) = min(N(u) ∪ {u}) via a plain min-aggregate; emit (v, m(u))
    # for every neighbor v > u by joining the mins back onto the edges.
    sym = e.select('src', 'dst').union(
        e.select(F.col('dst').alias('src'), F.col('src').alias('dst')))
    mins = (sym.groupBy('src')
            .agg(F.min('dst').alias('_mn'))
            .select('src', F.least('_mn', F.col('src')).alias('m')))
    large = (sym.join(mins, 'src')
             .where(F.col('dst') > F.col('src'))
             .select(F.col('dst').alias('src'), F.col('m').alias('dst'))
             .where(F.col('src') != F.col('dst'))
             .distinct())
    # -- small-star: edges already oriented src > dst ------------------
    # m(u) = min over u's smaller neighbors; emit (v, m) for every
    # v ∈ N(u) ∪ {u} except m itself.
    mins2 = large.groupBy('src').agg(F.min('dst').alias('m'))
    small_nbrs = (large.join(mins2, 'src')
                  .select(F.col('dst').alias('src'),
                          F.col('m').alias('dst')))
    small_self = mins2.select('src', F.col('m').alias('dst'))
    small = (small_nbrs.union(small_self)
             .where(F.col('src') != F.col('dst'))
             .distinct())
    new_e = small.localCheckpoint(eager=True)
    # set equality: both sides distinct, so equal counts + equal
    # union-distinct count <=> equal sets.  The old count is carried
    # from the previous round (counting a checkpointed frame twice
    # would burn one fixed-overhead job per round for nothing).
    if n_old is None:
      n_old = e.count()
    n_new = new_e.count()
    if n_old == n_new and e.union(new_e).distinct().count() == n_new:
      e = new_e
      break
    e, n_old = new_e, n_new

  members = e.select(F.col('src').alias('node'),
                     F.col('dst').alias('component'))
  # at the fixpoint every dst IS a component min; give roots a
  # self-row so the mapping covers all nodes in the edge list
  roots = e.select(F.col('dst').alias('node'),
                   F.col('dst').alias('component')).distinct()
  # min-agg instead of dropDuplicates: deterministic even if the round
  # cap cut the loop before the sets became disjoint
  return (members.unionByName(roots)
          .groupBy('node').agg(F.min('component').alias('component')))


# --- link-graph quality (PageRank) -----------------------------------

#: PageRank fixed-point scale base: damping 17/20 with out-degrees
#: restricted (by synthesis) to divisors of 4 makes every per-edge
#: division by 20*out_deg exact when ranks carry S = 20*4 = 80 scale
#: factors — see `pagerank` for the induction.
_PR_SCALE = 80
#: Synthesized out-degree menu (all divide _PR_SCALE / 20).
_PR_DEGREES = (1, 2, 4)


def link_graph(docs: DataFrame, n_docs: int) -> DataFrame:
  """Deterministic synthesized web link graph over the documents table.

  The corpus has no hyperlink column, so — the same device as
  url_curation's synthesized URLs and pii_scrub's planted PII — edges
  are pure integer arithmetic on doc_id, reproducible byte-identically
  by the DuckDB oracle:

    * out_deg(i) = (1, 2, 4)[i % 3]  (all divide 4, see `pagerank`);
    * edge j in 1..out_deg(i) targets (i*31 + j*97) % n;
    * every fifth page's FIRST link instead points at the planted hub
      page (17 % n) — the hub's in-degree is ~n/5, the popular-page
      skew a real link graph always has;
    * a would-be self-link is remapped to the next page, so parallel
      edges can occur (kept — real anchor duplication) but loops
      cannot and every page keeps exactly out_deg(i) out-links
      (no dangling mass, so total rank is conserved exactly).

  Returns (src, dst, out_deg) with one row per link.  The synthesis is
  a zero-shuffle codegen projection + explode over the doc scan.
  """
  did = F.col('doc_id')
  if n_docs <= 0:
    # empty corpus: no edges (the Python-level 17 % n_docs below
    # would raise ZeroDivisionError at plan-build time)
    return docs.select(did.alias('src'),
                       did.alias('dst'),
                       F.lit(0).cast('long').alias('out_deg')).limit(0)
  deg = F.element_at(F.array(*[F.lit(k) for k in _PR_DEGREES]),
                     (did % 3 + 1).cast('int')).cast('long')
  e = (docs.select(did.alias('src'), deg.alias('out_deg'))
       .select('src', 'out_deg',
               F.explode(F.sequence(F.lit(1).cast('long'),
                                    F.col('out_deg'))).alias('j')))
  hub = F.lit(17 % n_docs).cast('long')
  t0 = F.when((F.col('src') % 5 == 0) & (F.col('j') == 1), hub) \
        .otherwise((F.col('src') * 31 + F.col('j') * 97) % n_docs)
  dst = F.when(t0 == F.col('src'), (t0 + 1) % n_docs).otherwise(t0)
  return e.select('src', dst.alias('dst'), 'out_deg')


def pagerank(spark: SparkSession, sf_dir: str, *,
             iterations: int = 6,
             docs: DataFrame = None,
             edges: DataFrame = None,
             seeds=None) -> DataFrame:
  """Exact-integer PageRank over the (synthesized) document link graph
  — the link-graph quality signal web curation pipelines rank crawl
  frontiers and weight domains with (the Common Crawl ranking shape;
  complements url_curation's per-URL verdicts).

  Bit-reproducibility WITHOUT a pinned-order float fold: ranks are
  BIGINT numerators over the fixed denominator n * S^T (S = 80,
  T = `iterations`), so the per-target reduction is an order-
  independent integer SUM — map-side combinable, which is what makes
  the planted hub page (in-degree ~n/5) safe: partial sums collapse
  the hub's contribution rows per map task before the shuffle.  A
  pinned-order double fold (lm_score's device) would instead need the
  hub's whole in-neighborhood collected and sorted in one reducer row
  — exactly the collect_set memory bomb `connected_components`'s
  header rules out.

  Exactness: with damping d = 17/20 the update is

      num'(u) = 3*S^T/20 + sum_{v->u} (17 * num(v)) DIV (20 * deg(v))

  and every division is exact on the synthesized graph: num(v) is
  divisible by S^(T-t) after t iterations (induction: the teleport
  term carries S^(T-1) >= S^(T-t) factors for t >= 1, each flow term
  keeps S^(T-t-1) of its source's S^(T-t) because 20*deg | 80 = S),
  so total rank mass is conserved to the last bit —
  sum(pr_num) == n * S^T, asserted by tests.  Through the `edges=`
  seam (arbitrary out-degrees) DIV floors: still deterministic and
  order-independent, merely <= 1/(n*S^T) mass lost per edge per
  iteration.

  Magnitudes: total mass n * 80^6 ~ 2.6e11 * n stays under int64 even
  at n = 10^7 docs per partition-group; the 17x intermediate adds one
  decimal digit.  (At 10^12 docs, shard the denominator per Iceberg
  partition or drop to S = 20, T = 4.)

  Scale shape per iteration: ranks ⋈ edges on src (both sides hash-
  partition on the join key; edges re-shuffles each round unless the
  caller pre-buckets by src — `spark/storage.py`'s bucketed layout
  co-locates it for free) → partial-SUM groupBy dst → left join back
  onto the node list.  `localCheckpoint` every 2 rounds bounds plan
  depth (the `connected_components` device), but
  LAZILY — an eager checkpoint per round costs a driver job barrier
  per iteration, measured at ~18% serial fraction in cluster-scaling
  runs; lazy periodic checkpoints let one action materialize the
  whole round chain while still truncating lineage for reuse.

  Returns one row per document:
    (doc_id, out_deg, in_deg, pr_num, pagerank)
  with pagerank = pr_num / (n * S^T) — a single BIGINT→DOUBLE division
  both engines perform identically (operands < 2^53 at the default
  config, so even exactly).

  TrustRank personalization (`seeds=`, Gyöngyi et al. 2004,
  "Combating Web Spam with TrustRank"): a list of doc_ids or a
  (doc_id) DataFrame restricts the teleport to the trusted seed set —
  rank then measures reachability-weighted proximity to the seeds
  (pages no seed's trust flows to converge to exactly 0), the
  white-list complement of url_curation's blocklists.  Ranks start AT
  the trust vector (the paper's d^* iteration): seeds get
  n·S^T DIV n_seeds, others 0; each round's teleport is
  3·n·S^T DIV (20·n_seeds) per seed.  Both divisions are exact —
  and total mass therefore conserved to the last bit, like the
  uniform case — whenever n_seeds divides 12·n·80^(T-1) (in
  particular whenever n_seeds | 4·n); otherwise DIV floors
  deterministically (documented mass loss < n_seeds + edges per
  round).  `seeds=` covering ALL nodes reproduces the uniform
  teleport bit-for-bit (asserted by tests).  The seed flag is a
  broadcast dimension; the per-round plan shape is unchanged.
  """
  d = (docs if docs is not None
       else documents(spark, sf_dir))
  nodes = d.select(F.col('doc_id').cast('long').alias('doc_id'))
  n = nodes.count()
  if edges is None:
    edges = link_graph(nodes, n)
  elif 'out_deg' not in edges.columns:
    deg = edges.groupBy('src').agg(F.count('*').alias('out_deg'))
    edges = edges.join(deg, 'src')
  edges = edges.select(F.col('src').cast('long').alias('src'),
                       F.col('dst').cast('long').alias('dst'),
                       F.col('out_deg').cast('long').alias('out_deg')) \
      .localCheckpoint(eager=True)

  s_pow = _PR_SCALE ** iterations          # S^T
  if seeds is None:
    teleport = 3 * s_pow // 20             # (1-d)/n at num scale
    base = nodes.select(F.col('doc_id').alias('node'),
                        F.lit(teleport).cast('long').alias('tele'))
    ranks = nodes.select(F.col('doc_id').alias('node'),
                         F.lit(s_pow).cast('long').alias('num'))
  else:
    seed_df = (seeds if isinstance(seeds, DataFrame)
               else spark.createDataFrame([(int(s),) for s in seeds],
                                          'doc_id long'))
    seed_df = (seed_df.select(F.col('doc_id').cast('long')
                              .alias('doc_id'))
               .distinct().withColumn('_s', F.lit(1)))
    n_seeds = seed_df.count()
    if n_seeds == 0:
      raise ValueError('seeds= must name at least one document')
    per_seed_tele = (3 * n * s_pow) // (20 * n_seeds)
    per_seed_init = (n * s_pow) // n_seeds
    flagged = nodes.join(F.broadcast(seed_df), 'doc_id', 'left')
    base = flagged.select(
        F.col('doc_id').alias('node'),
        F.when(F.col('_s') == 1, F.lit(per_seed_tele))
         .otherwise(F.lit(0)).cast('long').alias('tele'))
    ranks = flagged.select(
        F.col('doc_id').alias('node'),
        F.when(F.col('_s') == 1, F.lit(per_seed_init))
         .otherwise(F.lit(0)).cast('long').alias('num'))
  base = base.localCheckpoint(eager=True)
  for it in range(iterations):
    flows = (ranks.join(edges, ranks.node == edges.src)
             .select(F.col('dst').alias('node'),
                     F.expr('(num * 17L) DIV (20L * out_deg)')
                     .alias('c'))
             .groupBy('node').agg(F.sum('c').alias('flow')))
    ranks = (base
             .join(flows, 'node', 'left')
             .select('node',
                     (F.col('tele')
                      + F.coalesce(F.col('flow'), F.lit(0).cast('long')))
                     .alias('num')))
    if (it + 1) % 2 == 0:
      ranks = ranks.localCheckpoint(eager=False)

  out_degs = edges.select('src', 'out_deg').groupBy('src') \
      .agg(F.max('out_deg').alias('out_deg'))
  in_degs = edges.groupBy('dst').agg(F.count('*').alias('in_deg'))
  denom = float(n * s_pow)
  return (nodes
          .join(out_degs, nodes.doc_id == out_degs.src, 'left')
          .join(in_degs, nodes.doc_id == in_degs.dst, 'left')
          .join(ranks, nodes.doc_id == ranks.node)
          .select(nodes.doc_id,
                  F.coalesce('out_deg', F.lit(0).cast('long'))
                  .alias('out_deg'),
                  F.coalesce('in_deg', F.lit(0).cast('long'))
                  .alias('in_deg'),
                  F.col('num').alias('pr_num'),
                  (F.col('num') / F.lit(denom)).alias('pagerank')))


def hits(spark: SparkSession, sf_dir: str, *,
         docs: DataFrame = None, edges: DataFrame = None) -> DataFrame:
  """Exact-integer HITS (Kleinberg 1999, "Authoritative Sources in a
  Hyperlinked Environment", JACM 46(5)) — hubs & authorities after 4
  iterations over the (synthesized) link graph, the query-independent
  topic-distillation signal next to `pagerank`'s random-surfer one:

      auth'(i) = Σ_{j→i} hub(j)       (good pages are pointed AT
      hub'(j)  = Σ_{j→i} auth'(i)      by good hubs, and vice versa)

  with each half-step RENORMALIZED TO A FIXED INTEGER MASS
  (mass = 10^9): v ← v·mass DIV Σv.  Kleinberg normalizes in L2;
  L1-to-fixed-integer-mass is the documented deviation that keeps
  every quantity a BIGINT — the per-target reduction stays an
  order-independent integer SUM (map-side combinable, so the planted
  hub page's ~n/5 in-neighborhood collapses to partial sums per map
  task — the pagerank argument), and floor division is deterministic
  on every engine.  Rescaled mass is mass - r with r < |nonzero-score nodes|
  (floored remainders; asserted by tests).  The iteration-limit
  ranking is norm-independent, so hub/authority ORDER matches the
  textbook algorithm.

  Magnitudes: every product v·mass ≤ 10^18 stays in
  int64 (raw sums ≤ max_out_deg·mass = 4·10^9 on the synthesized
  graph); at 10^12-node scale lift the arithmetic to decimal(38,0)
  — the score granularity of 1e-9 of total mass is the trade.

  Scale shape per half-step: scores ⋈ edges + partial-SUM groupBy +
  the 1-row total crossJoined back as a broadcast (LAZY — a per-round
  driver collect would be the eager-checkpoint barrier the pagerank
  scaling model measured at ~18% serial); lazy periodic
  localCheckpoints (every 2 rounds) bound lineage.  Degenerate graphs degrade
  deterministically: a side whose total hits 0 stays all-zero.

  Returns one row per document:
    (doc_id, hub_num, auth_num, hub, auth)
  with hub = hub_num / mass (exact BIGINT→DOUBLE, operands < 2^53).
  """
  mass = 10 ** 9
  d = (docs if docs is not None
       else documents(spark, sf_dir))
  nodes = d.select(F.col('doc_id').cast('long').alias('doc_id'))
  n = nodes.count()
  if edges is None:
    edges = link_graph(nodes, n)
  edges = edges.select(F.col('src').cast('long').alias('src'),
                       F.col('dst').cast('long').alias('dst')) \
      .localCheckpoint(eager=True)
  # loud int64-overflow guard for the edges= seam: raw half-step sums
  # are bounded by max_out_deg * mass, and _rescale multiplies them by
  # mass again — real link graphs have degrees far above the
  # synthesized 4, where silent wraparound would corrupt every score
  max_deg = edges.groupBy('src').count() \
      .agg(F.max('count')).collect()[0][0] or 0
  if max_deg * mass * mass > 2 ** 62:
    raise ValueError(
        f'max out-degree {max_deg} * mass^2 would overflow int64; '
        f'lift the arithmetic to decimal(38,0) for this graph')

  per_node = mass // max(n, 1)
  hub = nodes.select(F.col('doc_id').alias('node'),
                     F.lit(per_node).cast('long').alias('v'))

  def _rescale(scores: DataFrame) -> DataFrame:
    tot = scores.agg(F.sum('v').alias('tot'))
    return (scores.crossJoin(F.broadcast(tot))
            .select('node',
                    F.when(F.col('tot') > 0,
                           F.expr(f'(v * {mass}L) DIV tot'))
                    .otherwise(F.lit(0)).cast('long').alias('v')))

  auth = None
  for it in range(4):
    raw_a = (hub.join(edges, hub.node == edges.src)
             .groupBy(F.col('dst').alias('node'))
             .agg(F.sum('v').alias('v')))
    auth = _rescale(raw_a)
    raw_h = (auth.join(edges, auth.node == edges.dst)
             .groupBy(F.col('src').alias('node'))
             .agg(F.sum('v').alias('v')))
    hub = _rescale(raw_h)
    if (it + 1) % 2 == 0:
      hub = hub.localCheckpoint(eager=False)
      auth = auth.localCheckpoint(eager=False)

  m = float(mass)
  return (nodes
          .join(hub.withColumnRenamed('v', 'hub_num'),
                nodes.doc_id == hub.node, 'left').drop('node')
          .join(auth.withColumnRenamed('v', 'auth_num'),
                nodes.doc_id == auth.node, 'left').drop('node')
          .select('doc_id',
                  F.coalesce('hub_num', F.lit(0).cast('long'))
                  .alias('hub_num'),
                  F.coalesce('auth_num', F.lit(0).cast('long'))
                  .alias('auth_num'))
          .select('doc_id', 'hub_num', 'auth_num',
                  (F.col('hub_num') / m).alias('hub'),
                  (F.col('auth_num') / m).alias('auth')))
