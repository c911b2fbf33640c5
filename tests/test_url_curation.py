"""url_curation — RefinedWeb-style URL-level curation (Penedo et al.
2023 §3.1): normalization, domain/word blocklists, exact URL dedup,
per-domain cap.

Verification strategy (same as test_c4_line_clean): a FULL pure-python
recomputation — synthesize the same deterministic per-doc URL, apply
the same normalization regex pipeline with python `re`, recompute
blocklist / dedup-rank / domain-cap verdicts sequentially — and compare
every column of every row.  Plus every-rule-fires coverage (each
verdict type must actually trigger on the corpus, otherwise the oracle
proves nothing) and the `docs=` seam with a caller-supplied real url
column.
"""

import re

import pytest
from pyspark.sql import functions as F

from blueprint_oss_spark.ops.curation import url_curation
from blueprint_oss_spark.spark.sources import documents

# sf0.01 (500 docs, the driver's gate scale): the smallest scale at
# which every rule fires — at sf0.001's 60 docs no domain accumulates
# more than domain_cap eligible docs, so the cap-overflow branch would
# be vacuously untested.
SF_DIR = '/root/testdata/sf0.01'


_WORDS = ('news', 'blog', 'shop', 'casino',
          'forum', 'wiki', 'games', 'poker')
_TLDS = ('.com', '.org', '.net', '.io', '.edu')


def _synth_url(did: int) -> str:
  uk = did % 350
  site = uk % 53
  page_no = (uk - site) // 53
  word = _WORDS[uk % 8]
  tld = _TLDS[uk % 5]
  host = ('www.' if did % 3 == 0 else '') + f'site{site}{tld}'
  if did % 7 == 0:
    host = host.upper()
  parts = []
  if did % 2 == 0:
    parts.append(f'utm_source=u{did}')
  if did % 11 == 0:
    parts.append(f'page={did % 3}')
  if did % 3 == 1:
    parts.append(f'sid={did}')
  params = '&'.join(parts)
  return ('https://' + host
          + (':443' if did % 23 == 0 else '')
          + f'/{word}/p{page_no}'
          + ('/' if did % 19 == 0 else '')
          + (f'?{params}' if params else '')
          + (f'#s{did % 4}' if did % 13 == 0 else ''))


def _normalize(url: str) -> str:
  n = url.lower()
  n = re.sub(r'#.*$', '', n)
  n = re.sub(r'(utm_[a-z]+|sid)=[^&#]*&', '', n)
  n = re.sub(r'[?&](utm_[a-z]+|sid)=[^&#]*$', '', n)
  n = re.sub(r':443/', '/', n)
  n = re.sub(r'/\?', '?', n)
  n = re.sub(r'/$', '', n)
  n = re.sub(r'^https://www\.', 'https://', n)
  return n


def _python_verdicts(doc_ids):
  """Sequential recomputation of every url_curation verdict column."""
  blocked_hosts = {f'site{s}{t}' for s in range(0, 53, 13) for t in _TLDS}
  rows = []
  for did in sorted(doc_ids):
    url = _synth_url(did)
    norm = _normalize(url)
    m = re.match(r'^https://([^/?]+)', norm)
    domain = m.group(1) if m else ''
    m = re.match(r'^https://[^/]+/([a-z]+)/', norm)
    word = m.group(1) if m else ''
    rows.append(dict(doc_id=did, url=url, norm_url=norm, domain=domain,
                     blocked_domain=int(domain in blocked_hosts),
                     blocked_word=int(word in ('casino', 'poker'))))
  seen_urls, domain_counts = {}, {}
  for r in rows:
    r['url_rank'] = seen_urls[r['norm_url']] = \
        seen_urls.get(r['norm_url'], 0) + 1
    eligible = (r['blocked_domain'] == 0 and r['blocked_word'] == 0
                and r['url_rank'] == 1)
    if eligible:
      r['domain_rank'] = domain_counts[r['domain']] = \
          domain_counts.get(r['domain'], 0) + 1
      r['kept'] = int(r['domain_rank'] <= 2)
    else:
      r['domain_rank'] = None
      r['kept'] = 0
  return {r['doc_id']: r for r in rows}


@pytest.fixture(scope='module')
def result(spark):
  return [r.asDict() for r in url_curation(documents(spark, SF_DIR)).collect()]


def test_matches_pure_python_recomputation(spark, result):
  doc_ids = [r[0] for r in spark.read.parquet(
      f'{SF_DIR}/documents.parquet').select('doc_id').collect()]
  expect = _python_verdicts(doc_ids)
  assert len(result) == len(expect)
  for row in result:
    exp = expect[row['doc_id']]
    assert row == exp, (row, exp)


def test_every_rule_fires(result):
  """Each verdict type must actually trigger on the gate corpus —
  otherwise the recomputation equality above is vacuous for that rule."""
  assert any(r['blocked_domain'] == 1 for r in result)
  assert any(r['blocked_word'] == 1 for r in result)
  assert any(r['url_rank'] > 1 for r in result)          # URL dups exist
  assert any(r['domain_rank'] is not None and r['domain_rank'] > 2
             for r in result)                            # cap overflows
  assert any(r['kept'] == 1 for r in result)
  # normalization actually converges distinct raw urls: some group of
  # docs shares a norm_url while their raw urls differ
  by_norm = {}
  for r in result:
    by_norm.setdefault(r['norm_url'], set()).add(r['url'])
  assert any(len(v) > 1 for v in by_norm.values())
  # and the blocklist join stayed broadcast-shaped: every blocked
  # domain row is also ineligible for the domain cap
  assert all(r['domain_rank'] is None for r in result
             if r['blocked_domain'] == 1)


def test_keep_only_window_group_limit_path(spark, result):
  """The keep_only production path: (a) its plan carries Partial+Final
  WindowGroupLimit for BOTH rank filters — the hub-domain skew defense,
  each map task pre-prunes to the group limit before the shuffle — and
  (b) it returns exactly the kept==1 docs of the full verdict surface
  (legal because block verdicts are constant within a norm_url group)."""
  fast = url_curation(documents(spark, SF_DIR), keep_only=True)
  plan = fast._jdf.queryExecution().executedPlan().toString()
  wgl = [ln for ln in plan.splitlines() if 'WindowGroupLimit' in ln]
  assert sum('Partial' in ln for ln in wgl) == 2, plan
  assert sum('Final' in ln for ln in wgl) == 2, plan
  got = {r['doc_id'] for r in fast.collect()}
  want = {r['doc_id'] for r in result if r['kept'] == 1}
  assert got == want and got


def test_docs_seam_real_url_column(spark):
  """A caller-supplied frame with a real `url` column bypasses
  synthesis entirely; normalization and the cap work unchanged."""
  d = spark.createDataFrame(
      [(1, 'https://WWW.Example.com:443/a/p1/?utm_source=x&q=2#frag'),
       (2, 'https://example.com/a/p1?q=2'),
       (3, 'https://casino-hub.net/casino/p9/'),
       (4, 'https://site13.org/news/p1')],
      'doc_id long, url string')
  rows = {r['doc_id']: r.asDict()
          for r in url_curation(d).collect()}
  # 1 and 2 normalize to the same canonical url; 1 wins the dedup
  assert rows[1]['norm_url'] == rows[2]['norm_url'] \
      == 'https://example.com/a/p1?q=2'
  assert rows[1]['kept'] == 1 and rows[2]['kept'] == 0
  assert rows[2]['url_rank'] == 2
  assert rows[3]['blocked_word'] == 1 and rows[3]['kept'] == 0
  assert rows[4]['blocked_domain'] == 1 and rows[4]['kept'] == 0


def test_opt_out_domains_seam(spark):
  """The robots/AI-opt-out seam: a (domain) frame unioned into the
  broadcast blocklist — listed domains' docs become blocked_domain=1
  and never count toward URL dedup winners or domain caps."""
  from blueprint_oss_spark.ops.curation import url_curation
  rows = [
      (1, 'https://example.com/a/p1'),
      (2, 'https://optout.org/a/p2'),
      (3, 'https://OPTOUT.org/a/p3'),   # normalizer lowercases
      (4, 'https://fine.net/a/p4'),
  ]
  docs = spark.createDataFrame(rows, 'doc_id long, url string')
  opt = spark.createDataFrame([('optout.org',)], 'domain string')
  out = {r['doc_id']: r for r in
         url_curation(docs, opt_out_domains=opt).collect()}
  assert out[2]['blocked_domain'] == 1 and out[2]['kept'] == 0
  assert out[3]['blocked_domain'] == 1 and out[3]['kept'] == 0
  assert out[1]['blocked_domain'] == 0 and out[1]['kept'] == 1
  assert out[4]['blocked_domain'] == 0 and out[4]['kept'] == 1
  # without the seam the same frame passes
  base = {r['doc_id']: r for r in
          url_curation(docs).collect()}
  assert base[2]['kept'] == 1
