"""robots.txt parsing + crawl-permission verdicts.

Verification: full python recomputation of every doc's verdict from
the synthesis formulas (url arithmetic + per-domain rule derivation),
plus parser sectioning/grammar units, Google-REP longest-match and
allow-on-tie semantics, the badbot section, and the corpus-side
no-shuffle plan pin.
"""

import pytest
from pyspark.sql import functions as F

from blueprint_oss_spark.ops.curation import (_URL_TLDS, _URL_WORDS,
                                              parse_robots,
                                              robots_verdicts,
                                              synth_robots_table,
                                              url_curation)
from blueprint_oss_spark.spark.sources import documents

SF_DIR = '/root/testdata/sf0.001'


def _gate_verdicts(spark, **kw):
  """robots_verdicts over the gate's inputs: the synthesized URL grid
  and robots.txt table."""
  urls = url_curation(documents(spark, SF_DIR)) \
      .select('doc_id', 'norm_url', 'domain')
  return robots_verdicts(
      urls, parse_robots(synth_robots_table(spark)), **kw)


def _py_rules(s: int):
  """'*'-agent (value, allow) rules for grid site index s."""
  w1 = _URL_WORDS[(s + 5) % 8]
  w2 = _URL_WORDS[(s + 2) % 8]
  rules = [('/private/', 0)]
  if s % 4 == 0:
    rules += [(f'/{w1}/', 0), (f'/{w2}/', 0)]
  if s % 12 == 0:
    rules.append((f'/{w1}/p1', 1))
  return rules


def _py_verdict(doc_id: int):
  key = doc_id % 350
  s = key % 53
  word = _URL_WORDS[key % 8]
  page = (key - s) // 53
  # RFC 9309 matches rules against path + query; the only query param
  # surviving url_curation's normalization is the non-tracking page=
  path = f'/{word}/p{page}'
  if doc_id % 11 == 0:
    path += f'?page={doc_id % 3}'
  matched = [(len(v), a, v) for v, a in _py_rules(s)
             if path.startswith(v)]
  if not matched:
    return path, 0, None
  ln, allow, rule = max(matched)
  return path, int(allow == 0), rule


def test_matches_python_recomputation(spark):
  rows = _gate_verdicts(spark).collect()
  n = documents(spark, SF_DIR).count()
  assert len(rows) == n
  hit_block = hit_allow_override = 0
  for r in rows:
    path, blocked, rule = _py_verdict(int(r['doc_id']))
    assert (r['path'], r['robots_blocked'], r['robots_rule']) \
        == (path, blocked, rule), r['doc_id']
    hit_block += blocked
    hit_allow_override += int(rule is not None and not blocked)
  # both outcomes must actually occur on the corpus
  assert hit_block > 0
  assert hit_allow_override > 0


def test_parser_sectioning_and_grammar(spark):
  txt = ('Disallow: /orphan\n'          # before any agent: ignored
         'User-agent: *\n'
         'Disallow: /a/\n'
         'Crawl-delay: 7\n'
         '# comment line\n'
         'garbage without colon\n'
         '\n'
         'User-agent: botty\n'
         'Allow: /a/b\n'
         'Disallow: /\n')
  r = spark.createDataFrame([('d.com', txt)],
                            'domain string, robots_txt string')
  got = {(x['agent'], x['directive'], x['value'])
         for x in parse_robots(r).collect()}
  assert got == {('*', 'Disallow', '/a/'),
                 ('*', 'Crawl-delay', '7'),
                 ('botty', 'Allow', '/a/b'),
                 ('botty', 'Disallow', '/')}


def test_longest_match_and_allow_tie(spark):
  rules = spark.createDataFrame(
      [('d.com', '*', 'Disallow', '/x/', 1),
       ('d.com', '*', 'Allow', '/x/y', 2),      # longer: carve-out
       ('d.com', '*', 'Disallow', '/t/a', 3),
       ('d.com', '*', 'Allow', '/t/b', 4),      # same length, disjoint
       ('e.com', '*', 'Allow', '/z/', 1),
       ('e.com', '*', 'Disallow', '/z/', 2)],   # exact tie: allow wins
      'domain string, agent string, directive string, value string, '
      'pos int')
  urls = spark.createDataFrame(
      [(1, 'https://d.com/x/q', 'd.com'),   # disallowed by /x/
       (2, 'https://d.com/x/yq', 'd.com'),  # allow carve-out (longer)
       (3, 'https://d.com/t/a1', 'd.com'),  # /t/a disallow
       (4, 'https://d.com/other', 'd.com'), # no match -> allowed
       (5, 'https://e.com/z/p', 'e.com'),   # tie -> allow
       (6, 'https://f.com/w', 'f.com')],    # no rules at all
      'doc_id long, norm_url string, domain string')
  got = {r['doc_id']: (r['robots_blocked'], r['robots_rule'])
         for r in robots_verdicts(urls, rules).collect()}
  assert got == {1: (1, '/x/'), 2: (0, '/x/y'), 3: (1, '/t/a'),
                 4: (0, None), 5: (0, '/z/'), 6: (0, None)}


def test_badbot_blocked_everywhere(spark):
  urls = url_curation(documents(spark, SF_DIR)) \
      .select('doc_id', 'norm_url', 'domain').limit(50)
  out = robots_verdicts(urls, parse_robots(synth_robots_table(spark)),
                        agent='badbot').collect()
  assert len(out) == 50
  assert all(r['robots_blocked'] == 1 and r['robots_rule'] == '/'
             for r in out)


def test_corpus_side_shuffle_free(spark):
  urls = spark.createDataFrame(
      [(1, 'https://site0.com/news/p0', 'site0.com')],
      'doc_id long, norm_url string, domain string')
  plan = robots_verdicts(urls, parse_robots(synth_robots_table(spark))) \
      ._jdf.queryExecution().executedPlan().toString()
  # the corpus side must not shuffle: rules ride a broadcast join,
  # the only hashpartitioning is the dimension-sized rule aggregation
  assert 'BroadcastHashJoin' in plan
  assert 'hashpartitioning(doc_id' not in plan


def test_synth_covers_grid(spark):
  rows = synth_robots_table(spark).collect()
  assert len(rows) == 53 * 5
  doms = {r['domain'] for r in rows}
  assert f'site0{_URL_TLDS[0]}' in doms and f'site52{_URL_TLDS[4]}' in doms


def test_crawl_schedule_matches_python(spark):
  from blueprint_oss_spark.ops.curation import crawl_schedule
  kept = url_curation(documents(spark, SF_DIR), keep_only=True) \
      .select('doc_id', 'domain').collect()
  by_dom = {}
  for r in kept:
    by_dom.setdefault(r['domain'], []).append(int(r['doc_id']))
  expect = {}
  for dom, ids in by_dom.items():
    s = int(dom[4:].split('.')[0])
    delay = s % 9
    for slot, did in enumerate(sorted(ids)):
      expect[did] = (dom, slot, delay, slot * delay)
  got = {int(r['doc_id']): (r['domain'], r['slot'], r['crawl_delay'],
                            r['fetch_offset_s'])
         for r in crawl_schedule(
             url_curation(documents(spark, SF_DIR), keep_only=True),
             parse_robots(synth_robots_table(spark))).collect()}
  assert got == expect
  assert len(got) == len(kept)


def test_crawl_schedule_seams_and_malformed_delay(spark):
  from blueprint_oss_spark.ops.curation import crawl_schedule
  urls = spark.createDataFrame(
      [(3, 'a.com'), (1, 'a.com'), (2, 'a.com'), (9, 'b.com'),
       (5, 'c.com')],
      'doc_id long, domain string')
  rules = spark.createDataFrame(
      [('a.com', '*', 'Crawl-delay', '10', 1),
       ('b.com', '*', 'Crawl-delay', 'fast', 1),   # malformed -> default
       ('c.com', 'badbot', 'Crawl-delay', '99', 1)],  # wrong agent
      'domain string, agent string, directive string, value string, '
      'pos int')
  got = {int(r['doc_id']): (r['slot'], r['crawl_delay'],
                            r['fetch_offset_s'])
         for r in crawl_schedule(urls, rules,
                                 default_delay=2).collect()}
  assert got == {1: (0, 10, 0), 2: (1, 10, 10), 3: (2, 10, 20),
                 9: (0, 2, 0), 5: (0, 2, 0)}


def test_empty_disallow_is_allow_all(spark):
  # RFC 9309: 'Disallow:' with no value permits everything — it must
  # not become a match-everything '' prefix (review fix)
  r = spark.createDataFrame(
      [('d.com', 'User-agent: *\nDisallow:\nDisallow: /x/\n')],
      'domain string, robots_txt string')
  urls = spark.createDataFrame(
      [(1, 'https://d.com/ok', 'd.com'), (2, 'https://d.com/x/q', 'd.com')],
      'doc_id long, norm_url string, domain string')
  got = {r2['doc_id']: r2['robots_blocked']
         for r2 in robots_verdicts(urls, parse_robots(r)).collect()}
  assert got == {1: 0, 2: 1}


def test_agent_fallback_to_star(spark):
  # an agent with no named group anywhere gets the '*' group (RFC
  # 9309 group selection), so verdicts equal the '*' run
  base = {(r['doc_id'], r['robots_blocked'], r['robots_rule'])
          for r in _gate_verdicts(spark).collect()}
  other = {(r['doc_id'], r['robots_blocked'], r['robots_rule'])
           for r in _gate_verdicts(spark, agent='somebot').collect()}
  assert base == other


def test_specific_group_replaces_star_entirely(spark):
  # a group naming the agent REPLACES '*' even when it carries only a
  # Crawl-delay — its (empty) path-rule set applies, not '*'s
  rules = spark.createDataFrame(
      [('d.com', '*', 'Disallow', '/x/', 1),
       ('d.com', 'mybot', 'Crawl-delay', '5', 2)],
      'domain string, agent string, directive string, value string, '
      'pos int')
  urls = spark.createDataFrame([(1, 'https://d.com/x/q', 'd.com')],
                               'doc_id long, norm_url string, '
                               'domain string')
  got = robots_verdicts(urls, rules, agent='mybot').collect()
  assert got[0]['robots_blocked'] == 0 and got[0]['robots_rule'] is None


def test_crawl_schedule_agent_fallback_and_override(spark):
  from blueprint_oss_spark.ops.curation import crawl_schedule
  urls = spark.createDataFrame([(1, 'a.com'), (2, 'b.com')],
                               'doc_id long, domain string')
  rules = spark.createDataFrame(
      [('a.com', '*', 'Crawl-delay', '3', 1),
       ('b.com', '*', 'Crawl-delay', '3', 1),
       ('b.com', 'mybot', 'Crawl-delay', '7', 2)],
      'domain string, agent string, directive string, value string, '
      'pos int')
  got = {int(r['doc_id']): r['crawl_delay']
         for r in crawl_schedule(urls, rules, agent='mybot').collect()}
  # a.com: no mybot delay -> inherits '*' (conservative politeness);
  # b.com: mybot's own delay wins over '*'
  assert got == {1: 3, 2: 7}


def test_crawl_schedule_one_corpus_shuffle(spark):
  from blueprint_oss_spark.ops.curation import crawl_schedule
  urls = spark.createDataFrame([(1, 'a.com'), (2, 'a.com')],
                               'doc_id long, domain string')
  rules = spark.createDataFrame(
      [('a.com', '*', 'Crawl-delay', '3', 1)],
      'domain string, agent string, directive string, value string, '
      'pos int')
  plan = crawl_schedule(urls, rules) \
      ._jdf.queryExecution().executedPlan().toString()
  # the url side pays exactly the one window shuffle on domain; the
  # delay dimension rides a broadcast join
  assert plan.count('hashpartitioning(domain') >= 1
  assert 'BroadcastHashJoin' in plan
  assert 'hashpartitioning(doc_id' not in plan
