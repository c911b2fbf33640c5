"""Seeded fuzz parity for the web-ops parsers.

One deterministic random corpus per test (the repo's seeded-fuzz
convention — no per-example Spark jobs), compared row-for-row against
straightforward sequential python references that mirror the
documented semantics: robots grammar + RFC 9309 group selection +
longest-match/allow-tie verdicts + delay fallback, and the link
extraction regex over hostile HTML-ish soup.
"""

import random
import re

from pyspark.sql import functions as F

from blueprint_oss_spark.ops.curation import (crawl_schedule,
                                              parse_robots,
                                              robots_verdicts)
from blueprint_oss_spark.ops.html_extract import _LINK_PAT, extract_links

_AGENTS = ['*', 'bot', 'mybot', 'crawler']
_SEGS = ['a', 'bb', 'ccc', 'x/y', 'news', 'p1', '']


def _gen_robots(rng):
  lines = []
  for _ in range(rng.randint(0, 14)):
    kind = rng.randint(0, 9)
    if kind <= 2:
      lines.append(f'User-agent: {rng.choice(_AGENTS)}')
    elif kind <= 5:
      d = rng.choice(['Disallow', 'Allow'])
      lines.append(f'{d}: /{rng.choice(_SEGS)}')
    elif kind == 6:
      lines.append('Disallow:')          # empty value: allow-all no-op
    elif kind == 7:
      v = rng.choice(['3', '10', 'fast', ''])
      lines.append(f'Crawl-delay: {v}')
    elif kind == 8:
      lines.append(rng.choice(['# comment', '', 'garbage no colon',
                               'Disallow /missing-colon',
                               'User-agent:', 'Unknown: /x']))
    else:
      lines.append(f'  User-agent: {rng.choice(_AGENTS)}')  # indented:
      # not grammar (anchored regex) — must be ignored
  return '\n'.join(lines)


def _py_parse(txt):
  """Sequential mirror of parse_robots: anchored grammar, rules before
  any User-agent line dropped, agent carried forward."""
  rows, agent = [], None
  for pos, line in enumerate(txt.split('\n')):
    m = re.match(r'^User-agent:\s*(\S+)\s*$', line)
    if m:
      agent = m.group(1)
      continue
    m = re.match(r'^(Disallow|Allow|Crawl-delay):\s*(\S*)\s*$', line)
    if m and agent is not None:
      rows.append((agent, m.group(1), m.group(2), pos))
  return rows


def _py_verdict(path, rows, agent):
  has_spec = any(a == agent for a, _, _, _ in rows)
  pick = agent if has_spec else '*'
  cand = [(len(v), int(d == 'Allow'), v) for a, d, v, _ in rows
          if a == pick and d in ('Allow', 'Disallow') and len(v) > 0
          and path.startswith(v)]
  if not cand:
    return 0, None
  ln, allow, rule = max(cand)
  return int(allow == 0), rule


def _py_delay(rows, agent, default):
  cand = [(int(a != agent), int(v)) for a, d, v, _ in rows
          if a in (agent, '*') and d == 'Crawl-delay'
          and re.fullmatch('[0-9]+', v)]
  if not cand:
    return default
  return min(cand)[1]


def test_fuzz_robots_parse_verdicts_delays(spark):
  rng = random.Random(4242)
  n_dom = 120
  doms = [f'd{i}.com' for i in range(n_dom)]
  texts = {d: _gen_robots(rng) for d in doms}
  robots = spark.createDataFrame(list(texts.items()),
                                 'domain string, robots_txt string')
  parsed = parse_robots(robots)

  # 1. parse parity, every row
  got_rows = {}
  for r in parsed.collect():
    got_rows.setdefault(r['domain'], []).append(
        (r['agent'], r['directive'], r['value'], r['pos']))
  for d in doms:
    assert sorted(got_rows.get(d, [])) == sorted(_py_parse(texts[d])), d

  # 2. verdict parity for a specific agent over random urls
  urls = []
  for i in range(400):
    d = rng.choice(doms)
    path = '/' + rng.choice(_SEGS) + rng.choice(['', '/q', '1'])
    urls.append((i, f'https://{d}{path}', d, path))
  udf_ = spark.createDataFrame([(i, u, d) for i, u, d, _ in urls],
                               'doc_id long, norm_url string, '
                               'domain string')
  out = {r['doc_id']: (r['robots_blocked'], r['robots_rule'])
         for r in robots_verdicts(udf_, parsed,
                                  agent='mybot').collect()}
  hit = 0
  for i, _, d, path in urls:
    expect = _py_verdict(path, _py_parse(texts[d]), 'mybot')
    assert out[i] == expect, (i, d, path)
    hit += expect[0]
  assert hit > 0  # the fuzz corpus must actually exercise blocking

  # 3. delay parity (fallback preference + malformed filtering)
  sched = {r['domain']: r['crawl_delay']
           for r in crawl_schedule(
               spark.createDataFrame(list(enumerate(doms)),
                                     'doc_id long, domain string'),
               parsed, agent='mybot', default_delay=9).collect()}
  for d in doms:
    assert sched[d] == _py_delay(_py_parse(texts[d]), 'mybot', 9), d


def test_fuzz_extract_links_vs_re(spark):
  rng = random.Random(1337)
  frag = ['<a href="/ok">fine</a>', '<a href="/x" rel="n">y</a>',
          '<a href="broken', '</a>', '<a href="/n"><b>no</b></a>',
          'plain text', '<p>para</p>', '"quote"', '<a href="">empty</a>',
          '\n', '<a href="/nl">line\nbreak</a>', '&lt;a href="/esc"&gt;']
  rows = []
  for i in range(300):
    html = ''.join(rng.choice(frag) for _ in range(rng.randint(0, 12)))
    rows.append((i, html))
  docs = spark.createDataFrame(rows, 'doc_id long, html string')
  got = {}
  for r in extract_links(spark, '', docs=docs).collect():
    got.setdefault(r['doc_id'], []).append(
        (r['link_pos'], r['href'], r['anchor_text']))
  for i, html in rows:
    expect = [(p, h, a) for p, (h, a)
              in enumerate(re.findall(_LINK_PAT, html))]
    assert sorted(got.get(i, [])) == expect, i
