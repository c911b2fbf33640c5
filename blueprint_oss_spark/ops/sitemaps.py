"""Sitemap ingestion — the crawl-discovery step between robots.txt and
URL curation.

A production crawl (Common Crawl, RefinedWeb §3.1) discovers URLs both
by following links (`extract_links`) and by reading each site's
published sitemap (sitemaps.org protocol, referenced by RFC 9309 §2.3's
`Sitemap:` directive).  Sitemap membership + `<lastmod>` feed recrawl
scheduling and frontier prioritization, and "page the site itself never
listed" is a standard spam/orphan signal next to the robots verdict.

Three operators, mirroring the robots.txt family in `curation.py`:

  * `synth_sitemaps`   — deterministic sitemap XML per publishing
                         domain on url_curation's 53x5 site grid
                         (pure integer arithmetic, byte-identically
                         re-synthesizable by the DuckDB gate oracle);
  * `parse_sitemaps`   — XML -> one row per <url> entry;
  * `sitemap_coverage` — per-document membership verdict + lastmod /
                         changefreq / priority, joined to the curation
                         frontier.

Scale shape: sitemap FILES are per-domain (a dimension), but sitemap
ENTRIES scale with the page count — a billion-page site publishes a
billion <loc> rows — so the coverage join is a plain norm_url
equi-join (URL-cardinality key, the same no-skew key url_curation's
dedup window uses), never a broadcast assumption; at gate scale Spark's
auto-broadcast picks it up for free.  The parse itself is a pure map
over sitemap files (posexplode + per-block regexp on dimension-sized
blocks), zero corpus involvement, zero Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blueprint_oss_spark.ops.curation import (_URL_TLDS, _URL_WORDS,
                                              url_curation)
from blueprint_oss_spark.spark.sources import documents

_SM_HEADER = ('<?xml version="1.0" encoding="UTF-8"?>\n'
              '<urlset xmlns="http://www.sitemaps.org/schemas/'
              'sitemap/0.9">')
_SM_CHANGEFREQS = ('daily', 'weekly', 'monthly')
# one <url> block per listed page; all four fields present (core
# sitemaps.org grammar; parse_sitemaps tolerates absent optional
# fields per-block, see there)
_SM_BLOCK_PAT = r'(<url>[\s\S]*?</url>)'


def synth_sitemaps(spark: SparkSession) -> DataFrame:
  """Deterministic sitemap.xml per PUBLISHING domain of the 53x5
  site{s}{tld} grid url_curation's URLs live on (every s % 2 == 0
  site publishes one; odd sites model the no-sitemap case).

  Each domain hosts the canonical pages {uk in [0,350) :
  uk % 53 == s and uk % 5 == t} (1-2 pages per domain by CRT), and
  lists page uk iff uk % 3 != 0 — so the corpus exercises
  listed / unlisted-on-a-publishing-domain / domain-has-no-sitemap,
  plus publishing domains whose only page is unlisted (an EMPTY
  <urlset/>, the zero-entry parse case).  Per entry (all pure integer
  arithmetic on uk, byte-identically re-synthesizable in SQL):

    lastmod    2026-MM-DD with MM = uk % 12 + 1, DD = uk % 28 + 1
    changefreq (daily, weekly, monthly)[uk % 3 - 1]  (uk % 3 != 0)
    priority   0.(uk % 10)

  Returns (domain, sitemap_xml) — 135 rows, a broadcast dimension at
  gate scale; one file per domain at web scale.
  """
  g = spark.range(350).select(
      F.col('id').alias('uk'),
      (F.col('id') % 53).alias('s'),
      (F.col('id') % 5).alias('t'),
      (F.col('id') / 53).cast('int').alias('k'))
  tld = F.element_at(F.array(*[F.lit(x) for x in _URL_TLDS]),
                     (F.col('t') + 1).cast('int'))
  word = F.element_at(F.array(*[F.lit(w) for w in _URL_WORDS]),
                      (F.col('uk') % 8 + 1).cast('int'))
  domain = F.concat(F.lit('site'), F.col('s').cast('string'), tld)
  loc = F.concat(F.lit('https://'), domain, F.lit('/'), word,
                 F.lit('/p'), F.col('k').cast('string'))
  lastmod = F.concat(
      F.lit('2026-'),
      F.lpad((F.col('uk') % 12 + 1).cast('string'), 2, '0'),
      F.lit('-'),
      F.lpad((F.col('uk') % 28 + 1).cast('string'), 2, '0'))
  changefreq = F.element_at(
      F.array(*[F.lit(c) for c in _SM_CHANGEFREQS]),
      (F.col('uk') % 3).cast('int'))  # uk % 3 in {1,2} when listed
  priority = F.concat(F.lit('0.'), (F.col('uk') % 10).cast('string'))
  entry = F.concat(
      F.lit('  <url>\n    <loc>'), loc,
      F.lit('</loc>\n    <lastmod>'), lastmod,
      F.lit('</lastmod>\n    <changefreq>'), changefreq,
      F.lit('</changefreq>\n    <priority>'), priority,
      F.lit('</priority>\n  </url>'))
  staged = (g.where(F.col('s') % 2 == 0)
            .select(domain.alias('domain'),
                    F.when(F.col('uk') % 3 != 0,
                           F.struct(F.col('uk').alias('uk'),
                                    entry.alias('entry')))
                    .alias('e')))
  # collect_list drops the NULL structs (unlisted pages) but the
  # groupBy still sees every publishing domain's rows, so zero-entry
  # domains keep a row and publish an empty urlset
  agg = (staged.groupBy('domain')
         .agg(F.sort_array(F.collect_list('e')).alias('es')))
  body = F.array_join(F.transform('es', lambda x: x.entry), '\n')
  return (agg.select(
      'domain',
      F.concat_ws('\n', F.lit(_SM_HEADER),
                  F.when(F.size('es') > 0, body),
                  F.lit('</urlset>')).alias('sitemap_xml')))


def parse_sitemaps(spark: SparkSession, *,
                   sitemaps: DataFrame = None) -> DataFrame:
  """Parse (domain, sitemap_xml) into one row per <url> entry:
  (domain, entry_pos, loc, lastmod, changefreq, priority).

  Grammar: <url>...</url> blocks in document order (non-greedy
  [\\s\\S]*? — multiline and attribute-noise tolerant), then per-block
  field extraction, so entries MISSING an optional field (lastmod /
  changefreq / priority are optional per sitemaps.org; loc is not)
  yield NULL for that field instead of shifting alignment the way
  parallel whole-document field scans would.  Blocks without a <loc>
  drop out (malformed per the protocol).

  Scale shape: a pure codegen map over sitemap files — posexplode of
  the block array, regexp_extract per block substring (each regex
  scans only its own block, not the file).  Zero shuffles, zero
  Python; output rows scale with total listed URLs.
  """
  sm = sitemaps if sitemaps is not None else synth_sitemaps(spark)
  blocks = sm.select(
      'domain',
      F.posexplode(F.regexp_extract_all('sitemap_xml',
                                        F.lit(_SM_BLOCK_PAT), 1))
      .alias('entry_pos', 'block'))

  def field(name: str):
    v = F.regexp_extract('block', f'<{name}>([^<]*)</{name}>', 1)
    return F.when(v != '', v).alias(name)

  return (blocks
          .select('domain', F.col('entry_pos').cast('int').alias('entry_pos'),
                  field('loc'), field('lastmod'), field('changefreq'),
                  field('priority'))
          .where(F.col('loc').isNotNull()))


def sitemap_coverage(spark: SparkSession, sf_dir: str, *,
                     urls: DataFrame = None) -> DataFrame:
  """Per-document sitemap membership verdict over the curation
  frontier: does the site's published sitemap list this page, and
  with what recrawl metadata?

    (doc_id, norm_url, domain, has_sitemap, sm_listed,
     sm_lastmod, sm_changefreq, sm_priority)

  has_sitemap = the domain publishes a sitemap at all; sm_listed = 1
  iff this page's canonical URL appears in it (always 0 without a
  sitemap); the sm_* metadata is NULL for unlisted pages.  Listed-ness
  keys on norm_url — sitemaps list canonical URLs, which is exactly
  what URL normalization recovers from the raw crawl URL.

  Scale shape: the publishing-domain flag is a true dimension
  (one row per domain — broadcast), but the ENTRY join deliberately
  is not: entries scale with page count, so it is a plain norm_url
  equi-join on the URL-cardinality key (no skew — one entry matches
  one page), auto-broadcast at gate scale only because the gate grid
  is tiny.  The frontier side adds no other shuffle.
  """
  u = (urls if urls is not None
       else url_curation(documents(spark, sf_dir))
       .select('doc_id', 'norm_url', 'domain'))
  sm = synth_sitemaps(spark)
  pub = sm.select('domain').withColumn('has_sitemap', F.lit(1))
  entries = (parse_sitemaps(spark, sitemaps=sm)
             .select(F.col('loc').alias('norm_url'),
                     F.lit(1).alias('sm_listed'),
                     F.col('lastmod').alias('sm_lastmod'),
                     F.col('changefreq').alias('sm_changefreq'),
                     F.col('priority').alias('sm_priority')))
  return (u.join(F.broadcast(pub), 'domain', 'left')
          .join(entries, 'norm_url', 'left')
          .select('doc_id', 'norm_url', 'domain',
                  F.coalesce('has_sitemap', F.lit(0)).alias('has_sitemap'),
                  F.coalesce('sm_listed', F.lit(0)).alias('sm_listed'),
                  'sm_lastmod', 'sm_changefreq', 'sm_priority')
          .orderBy('doc_id'))
