"""HTML main-content extraction (boilerplate strip / DOM heuristics):
the extractor must recover the article text from boilerplate-heavy
pages — synthetic wrappers, hand-written adversarial layouts, and
malformed HTML — and the Spark op's ground truth is the original text
column (the same equality the DuckDB oracle re-checks per round)."""

import pyarrow.parquet as pq

from blueprint_oss_spark.ops.html_extract import (
    extract_main_content, html_main_content, wrap_in_boilerplate)
from tests.conftest import REPO_ROOT


def test_wrapped_corpus_recovers_exactly():
  t = pq.read_table('/root/testdata/sf0.001/documents.parquet') \
      .to_pandas()
  for i, (d, txt) in enumerate(zip(t.doc_id, t.text)):
    page = wrap_in_boilerplate(str(d), txt, i % 3)
    assert extract_main_content(page) == ' '.join(txt.split()), d


def test_handwritten_adversarial_layouts():
  art = ('The quick brown fox jumped over the lazy dog while the '
         'committee debated the annual budget for nearly three hours '
         'before reaching a unanimous decision on the proposal.')
  # link-farm sidebar longer (by tag count) than the article; nested
  # divs; inline markup inside the article; entities
  page = f'''<html><body>
    <div id="menu"><a href="/a">aaaa aaaa aaaa</a><a href="/b">bbbb
    bbbb bbbb</a><a href="/c">cccc cccc cccc</a><a href="/d">dddd dddd
    dddd dddd</a></div>
    <div id="wrap"><div id="art"><p>{art[:90]}<b>bold</b>
    {art[90:]} &amp; more</p></div></div>
    <div id="footer"><a href="/t">Terms of service and privacy
    policy</a> <a href="/c">Contact our team</a></div>
    </body></html>'''
  got = extract_main_content(page)
  assert 'committee' in got and 'unanimous' in got
  assert 'Terms of service' not in got
  assert 'aaaa' not in got
  assert '& more' in got  # entity decoded

  # script/style/nav content never leaks
  page2 = ('<body><script>var x = "SECRET";</script>'
           '<style>.x{color:red}</style>'
           f'<nav>Home Products Pricing</nav><main><p>{art}</p></main>'
           '</body>')
  got2 = extract_main_content(page2)
  assert got2 == art
  assert 'SECRET' not in got2

  # malformed: unclosed tags, stray close tags — must not crash
  page3 = f'<div><p>{art}<div><b>x</p></span></html>'
  assert 'committee' in extract_main_content(page3)
  assert extract_main_content('') == ''
  assert extract_main_content('<body><a href="/x">only links'
                              '</a></body>') in ('', 'only links')


def test_spark_op_matches_original_text(spark):
  out = html_main_content(spark, '/root/testdata/sf0.001').collect()
  src = {r['doc_id']: r['text'] for r in
         spark.read.parquet(
             '/root/testdata/sf0.001/documents.parquet').collect()}
  assert len(out) == len(src)
  for r in out:
    assert r['main_text'] == ' '.join(src[r['doc_id']].split())


def test_main_content_from_spans_interleave_and_order(spark):
  """The spans pipeline: out-of-order offsets are re-ranked into a
  dense order, HTML spans are boilerplate-stripped, plain text spans
  whitespace-normalized, media spans pass through untouched — the
  north rule's (kind, text, media_ref, order) span-sequence contract."""
  from blueprint_oss_spark.ops.html_extract import (
      main_content_from_spans, wrap_in_boilerplate,
  )
  from blueprint_oss_spark.spark.pipeline import SPANS_SCHEMA

  page = wrap_in_boilerplate('d1', 'Hello   main\ncontent world', 1)
  rows = [(
      'd1',
      [  # deliberately NOT offset-sorted
          {'kind': 'media', 'text': None, 'media_ref': 'm/d1/0',
           'offset': 5},
          {'kind': 'html', 'text': page, 'media_ref': None,
           'offset': 2},
          {'kind': 'text', 'text': '  plain\t\ttext  span ',
           'media_ref': None, 'offset': 9},
      ])]
  df = spark.createDataFrame(rows, SPANS_SCHEMA)
  out = main_content_from_spans(df).collect()
  assert len(out) == 1
  r = out[0]
  assert r['n_html'] == 1
  got = [(s['kind'], s['text'], s['media_ref'], s['order'])
         for s in r['out_spans']]
  assert got == [
      ('text', 'Hello main content world', None, 0),
      ('media', None, 'm/d1/0', 1),
      ('text', 'plain text span', None, 2),
  ]


def test_main_content_from_spans_plan_has_no_shuffle(spark):
  """Scan → MapInPandas, zero Exchange — same embarrassingly-parallel
  shape as blueprint extraction (the 10^12-doc scale argument)."""
  from blueprint_oss_spark.ops.html_extract import (
      interleaved_html_table, main_content_from_spans,
  )
  df = interleaved_html_table(spark, '/root/testdata/sf0.001')
  plan = main_content_from_spans(df)._jdf.queryExecution() \
      .executedPlan().toString()
  assert 'Exchange' not in plan


def test_interleaved_table_shape(spark):
  """Synthesized input matches the input hint exactly: every doc has
  html spans at offsets 0/2, a media span at 1, and doc_id % 3 == 0
  docs a second media span at 3."""
  from blueprint_oss_spark.ops.html_extract import interleaved_html_table

  rows = interleaved_html_table(spark, '/root/testdata/sf0.001') \
      .collect()
  assert len(rows) == 500
  for r in rows[:50]:
    did = int(r['doc_id'])
    spans = sorted(r['spans'], key=lambda s: s['offset'])
    kinds = [s['kind'] for s in spans]
    expect = (['html', 'media', 'html']
              + (['media'] if did % 3 == 0 else [])
              + (['pdf'] if did % 2 == 0 else []))
    assert kinds == expect, (r['doc_id'], kinds)
    assert spans[1]['media_ref'] == f"media/{r['doc_id']}/0"
    assert all(s['text'] is None for s in spans if s['kind'] == 'media')
    assert all(s['media_ref'] is None for s in spans
               if s['kind'] in ('html', 'pdf'))
    if did % 2 == 0:
      assert spans[-1]['text'].startswith('%PDF-')


def test_cli_run_main_content(spark, tmp_path):
  """spark-submit surface: python -m blueprint_oss_spark
  run_main_content over a spans parquet dir writes the reassembled
  span-sequence table with lineage."""
  import json
  import subprocess
  import sys

  from blueprint_oss_spark.ops.html_extract import interleaved_html_table

  inp = str(tmp_path / 'spans_in')
  interleaved_html_table(spark, '/root/testdata/sf0.001') \
      .limit(30).write.parquet(inp)

  out = str(tmp_path / 'out')
  r = subprocess.run(
      [sys.executable, '-m', 'blueprint_oss_spark', 'run_main_content',
       '--input', inp, '--output', out, '--master', 'local[2]',
       '--groups', '2'],
      capture_output=True, text=True, cwd=REPO_ROOT, timeout=300,
      env={**__import__('os').environ, 'PYTHONPATH': str(REPO_ROOT)})
  assert r.returncode == 0, r.stderr
  info = json.loads(r.stdout.strip().splitlines()[-1])
  assert info['groups_processed'] == 2
  rows = spark.read.parquet(out).collect()
  assert len(rows) == 30
  assert all(any(s['kind'] == 'media' for s in row['out_spans'])
             for row in rows)


def test_main_content_pdf_span_and_malformed(spark):
  """PDF spans layout-parse to their reading-order text; a malformed
  PDF degrades to an empty text span instead of failing the doc."""
  from blueprint_oss_spark.ops.html_extract import main_content_from_spans
  from blueprint_oss_spark.spark.pdf import CHAR_ADVANCE, write_simple_pdf
  from blueprint_oss_spark.spark.pipeline import SPANS_SCHEMA

  size, x, y = 10.0, 20.0, 50.0
  words = []
  for w in 'alpha beta gamma'.split():
    x1 = x + CHAR_ADVANCE * size * len(w)
    words.append((w, x, x1, y, y + size))
    x = x1 + CHAR_ADVANCE * size
  pdf = write_simple_pdf(
      [{'width': 612.0, 'height': 792.0, 'words': words}])

  rows = [
      ('ok', [{'kind': 'pdf', 'text': pdf.decode('latin-1'),
               'media_ref': None, 'offset': 0}]),
      ('bad', [{'kind': 'pdf', 'text': '%PDF-1.4 garbage \x00\x01',
                'media_ref': None, 'offset': 0}]),
  ]
  df = spark.createDataFrame(rows, SPANS_SCHEMA)
  out = {r['doc_id']: r['out_spans'] for r in
         main_content_from_spans(df).collect()}
  assert [(s['kind'], s['text']) for s in out['ok']] == \
      [('text', 'alpha beta gamma')]
  assert [(s['kind'], s['text']) for s in out['bad']] == [('text', '')]


def test_class_hint_penalty_beats_long_comments():
  """A prose comment thread LONGER than the article must lose to the
  article: the comment/sidebar class penalty propagates to descendant
  blocks (without it, text_len·(1−ld)² alone would pick the thread)."""
  art = 'Short article about the committee budget decision today.'
  comments = ''.join(
      f'<div><p>Commenter {i} writes a long and thoughtful paragraph '
      f'weighing the budget arguments, the amendments, and the likely '
      f'outcome of the final committee vote in extensive detail.</p>'
      f'</div>' for i in range(6))
  page = (f'<body><main><article><p>{art}</p></article></main>'
          f'<div class="comments">{comments}</div></body>')
  got = extract_main_content(page)
  assert got == art, got

  # positive hint: text directly inside a content-classed div beats a
  # LONGER unclassed digression (boost applies at the hinted node, so
  # the text must be its direct content, not a child <p>'s)
  a = 'alpha ' * 30
  b = 'bravo ' * 45  # 1.5x longer; 2x boost must still win
  page2 = (f'<body><div class="post-content">{a}</div>'
           f'<div>{b}</div></body>')
  got2 = extract_main_content(page2)
  assert got2 == a.strip(), got2
  # ...and without the hint the longer digression wins (sanity check
  # that the assertion above is the boost, not ordering)
  page3 = f'<body><div class="x">{a}</div><div>{b}</div></body>'
  assert extract_main_content(page3) == b.strip()


def test_main_content_html_degrades_on_extractor_failure(monkeypatch):
  """The HTML branch carries the same degradation contract as the PDF
  branch: via the run_main_content CLI the input is arbitrary user
  parquet, so a pathological page that makes the extractor raise must
  degrade to an empty text span, not abort the Spark task.  The
  extractor is forced to raise here (no known organic crasher — the
  guard is the contract)."""
  from blueprint_oss_spark.ops import html_extract as H

  def boom(_html):
    raise RuntimeError('pathological page')

  monkeypatch.setattr(H, 'extract_main_content', boom)
  out, n_html = H.main_content_doc([
      {'kind': 'html', 'text': '<html><body>x</body></html>',
       'media_ref': None, 'offset': 0},
      {'kind': 'media', 'text': None, 'media_ref': 'm/1', 'offset': 1},
  ])
  assert n_html == 1
  assert [(s['kind'], s['text'], s['media_ref'], s['order'])
          for s in out] == [('text', '', None, 0), ('media', None, 'm/1', 1)]
