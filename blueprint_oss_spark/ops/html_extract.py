"""HTML main-content extraction: boilerplate stripping via DOM
heuristics (north rule: "HTML boilerplate strip, ... DOM heuristics").

A readability-lite block scorer over the package's one HTML tokenizer
(ops/html_events: html.parser's event stream, event for event, at a
fraction of its per-document CPU) — no external libs:

  * the DOM is segmented into BLOCKS at block-level container
    boundaries (div/article/section/main/p/td/li/...);
  * hard boilerplate containers (script/style/nav/header/footer/aside/
    form/noscript/iframe/button/svg) are skipped subtree-wide;
  * every block scores text_len · (1 − link_density)² · class_weight —
    long low-link-density prose wins, menus/footers (all-link, short)
    lose, and readability-style class/id hints re-weight containers
    (comment/sidebar/ad-ish names ×0.1 with the penalty propagating to
    descendants, so a long prose comment thread cannot outscore the
    article; article/content-ish names ×2 at the node itself);
  * the winning CONTAINER is the parent owning the best direct block,
    and its contiguous text is returned.

The Spark operator wraps the `documents` table's text into deterministic
boilerplate-heavy page templates (menu/nav/sidebar/ads/footer) and
strips it back — so the ground truth IS the original text column and
the DuckDB oracle is `SELECT doc_id, text AS main_text FROM documents`:
a from-scratch, engine-independent oracle for the whole
wrap→parse→strip loop.
"""

from __future__ import annotations

import html as html_mod
from typing import Iterator, List

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, StringType, StructField, StructType,
)

from .html_events import DATA, ENDTAG, STARTTAG, html_events

_SKIP_SUBTREE = {'script', 'style', 'nav', 'header', 'footer', 'aside',
                 'form', 'noscript', 'iframe', 'button', 'svg',
                 'template'}
_BLOCK_TAGS = {'div', 'article', 'section', 'main', 'p', 'td', 'li',
               'blockquote', 'pre', 'body', 'ul', 'ol', 'table', 'tr',
               'h1', 'h2', 'h3', 'h4', 'h5', 'h6'}


import re as _re

# Readability-style class/id hints: a container whose class/id names a
# known boilerplate role is down-weighted (and the penalty propagates
# to its descendants — a long prose comment must not outscore a short
# article); content-ish names and the semantic article/main tags get a
# mild boost at the node itself (boosts do NOT propagate).
_NEG_HINT = _re.compile(
    r'comment|sidebar|share|related|promo|banner|advert|sponsor'
    r'|widget|breadcrumb|pager|popup|\bads?\b', _re.I)
_POS_HINT = _re.compile(
    r'article|\bmain\b|content|story|\bpost\b', _re.I)
_NEG_WEIGHT, _POS_WEIGHT = 0.1, 2.0


def _hint_weight(tag: str, attrs, parent_weight: float) -> float:
  """A block container's score multiplier from its tag and class/id."""
  if parent_weight == _NEG_WEIGHT:
    return _NEG_WEIGHT                  # penalties propagate down
  hints = ' '.join([tag] + [v for k, v in attrs
                            if k in ('class', 'id') and v])
  if _NEG_HINT.search(hints):
    return _NEG_WEIGHT
  if _POS_HINT.search(hints):
    return _POS_WEIGHT                  # boosts apply at the node only
  return 1.0


def extract_main_content(html: str) -> str:
  """Boilerplate-stripped main text of an HTML page (DOM-heuristic
  block scoring; deterministic, stdlib-only).

  Reads the page through ops/html_events, whose events equal, event for
  event, the running interpreter's `html.parser`
  (HTMLParser(convert_charrefs=True), a self-closing tag read as its
  start and end tag).  A page that html.parser cannot tokenize (an
  unknown `<![` marked section) yields ''."""
  skip = link = 0
  stack = [(0, 1.0)]   # open block containers: (id, weight)
  next_id = 1
  block = None         # [container id, weight, texts, link texts] of the
  blocks = []          # current run of text; all runs in page order
  try:
    for kind, tag, attrs in html_events(html, _BLOCK_TAGS):
      if kind == DATA:
        if skip or not tag.strip():
          continue
        if block is None:
          block = [*stack[-1], [], []]
          blocks.append(block)
        block[2].append(tag)
        if link:
          block[3].append(tag)
      # a self-closing tag acts as its start tag then its end tag,
      # which nets out to a block boundary or to nothing
      elif tag in _SKIP_SUBTREE:
        if kind == STARTTAG:
          skip += 1
        elif kind == ENDTAG:
          skip = max(0, skip - 1)
      elif skip:
        continue
      elif tag == 'a':
        if kind == STARTTAG:
          link += 1
        elif kind == ENDTAG:
          link = max(0, link - 1)
      elif tag in _BLOCK_TAGS:
        if kind == STARTTAG:
          stack.append((next_id, _hint_weight(tag, attrs, stack[-1][1])))
          next_id += 1
        elif kind == ENDTAG:
          if len(stack) == 1:
            continue
          stack.pop()
        # text after a block boundary starts a fresh run of the
        # container then open
        block = None
  except AssertionError:  # html.parser's verdict on an unknown `<![`
    return ''
  best_cid, best_score = None, -1.0
  per_container: dict = {}
  for cid, weight, texts, links in blocks:
    t = ''.join(texts)
    entry = per_container.setdefault(cid, [0, 0, [], weight])
    entry[0] += len(t.strip())
    entry[1] += len(''.join(links).strip())
    entry[2].append(t)
  for cid, (n, nl, _, weight) in per_container.items():
    score = n * (1.0 - nl / n) ** 2 * weight
    if score > best_score:
      best_score, best_cid = score, cid
  if best_cid is None:
    return ''
  return ' '.join(''.join(per_container[best_cid][2]).split())


# ---------------------------------------------------------------------------
# Deterministic boilerplate templates (derived per doc_id).
# ---------------------------------------------------------------------------

_MENUS = [
    ['Home', 'Products', 'Pricing', 'About us', 'Contact', 'Careers'],
    ['News', 'Sports', 'Tech', 'Science', 'Opinion', 'Archive'],
    ['Login', 'Register', 'Help', 'Terms', 'Privacy'],
]


def wrap_in_boilerplate(doc_id: str, text: str, variant: int) -> str:
  """Wrap text in a boilerplate-heavy page: nav menus, link-farm
  sidebar, ad blocks, footers — everything a main-content extractor
  must strip.  Deterministic per (doc_id, variant)."""
  menu = _MENUS[variant % len(_MENUS)]
  nav = ''.join(f'<li><a href="/{m.lower()}">{m}</a></li>' for m in menu)
  related = ''.join(
      f'<p><a href="/story/{i}">Related story number {i} about '
      f'{menu[i % len(menu)]}</a></p>' for i in range(5))
  # prose comment thread (low link density, real sentences): only the
  # class-hint penalty keeps it from outscoring short articles — the
  # oracle's exact-recovery check exercises that heuristic on every doc
  comments = ''.join(
      f'<div class="comment"><p>User {i} says this piece about '
      f'{menu[i % len(menu)]} raises a fair point worth another read. '
      f'<a href="/user/{i}">reply to thread {i}</a></p></div>'
      for i in range(2))
  body = html_mod.escape(text)
  return f'''<!DOCTYPE html>
<html><head><title>{html_mod.escape(doc_id)}</title>
<style>.ad {{color: red}}</style>
<script>var tracker = "{doc_id}";</script></head>
<body>
<header><h1><a href="/">Example Site</a></h1>
<nav><ul>{nav}</ul></nav></header>
<div class="ad"><a href="/buy">BUY NOW limited offer</a></div>
<main><article><p>{body}</p></article></main>
<aside><h3>Related</h3>{related}</aside>
<div class="comments"><h3>Comments</h3>{comments}</div>
<div class="ad"><a href="/subscribe">Subscribe for more</a></div>
<footer><p>© 2026 Example Site — <a href="/terms">Terms</a>
<a href="/privacy">Privacy</a> <a href="/contact">Contact</a></p>
</footer></body></html>'''


def html_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
  """documents.text → boilerplate-heavy HTML (deterministic template
  per doc) → DOM-heuristic strip back to main text.  Arrow-batched
  mapInPandas; ground truth is the original text column, so the DuckDB
  oracle recomputes the expected output engine-independently."""
  docs = spark.read.parquet(f'{sf_dir}/documents.parquet') \
      .select('doc_id', 'text') \
      .withColumn('variant',
                  F.pmod(F.xxhash64('doc_id'), F.lit(3)).cast('int'))
  id_type = docs.schema['doc_id'].dataType

  out_schema = StructType([
      StructField('doc_id', id_type),
      StructField('main_text', StringType()),
  ])

  def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
      outs = []
      for doc_id, text, variant in zip(pdf['doc_id'], pdf['text'],
                                       pdf['variant']):
        page = wrap_in_boilerplate(str(doc_id), text, int(variant))
        outs.append(extract_main_content(page))
      yield pd.DataFrame({'doc_id': pdf['doc_id'], 'main_text': outs})

  return docs.mapInPandas(run, out_schema).orderBy('doc_id')


# ---------------------------------------------------------------------------
# North-rule pipeline: main-content extraction over the interleaved
# text+media spans table — input shape exactly
# (doc_id:string, spans:array<struct<kind,text,media_ref,offset:int>>),
# output the reassembled span sequence (kind, text, media_ref, order).
# ---------------------------------------------------------------------------


def interleaved_html_table(spark: SparkSession, sf_dir: str) -> DataFrame:
  """Deterministic synthesis of the north-rule input table from the
  documents corpus: each doc becomes an interleaved sequence of
  boilerplate-heavy HTML spans and opaque media spans —

    offset 0: HTML page wrapping 'Document <id> part 0. <text>'
    offset 1: media span media/<id>/0 (binary payload lives elsewhere;
              the span carries the reference, per the input hint)
    offset 2: HTML page wrapping a closing section
    offset 3: second media span for every doc_id % 3 == 0
    offset 4: a real single-page PDF (spark/pdf.write_simple_pdf,
              FlateDecode content stream, latin-1-coded into the
              string span) for every doc_id % 2 == 0 — exercising the
              pipeline's PDF/layout-parse branch

  Everything is derived from (doc_id, text) by pure formulas, so the
  expected OUTPUT of the main-content pipeline is recomputable in SQL
  from the raw documents table — the recoverable-ground-truth design
  the flat html_main_content operator already uses."""
  from ..spark.pdf import CHAR_ADVANCE, write_simple_pdf
  from ..spark.pipeline import SPANS_SCHEMA

  docs = spark.read.parquet(f'{sf_dir}/documents.parquet') \
      .select(F.col('doc_id').cast('string').alias('doc_id'), 'text') \
      .withColumn('variant',
                  F.pmod(F.xxhash64('doc_id'), F.lit(3)).cast('int'))

  def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
      out_ids, out_spans = [], []
      for doc_id, text, variant in zip(pdf['doc_id'], pdf['text'],
                                       pdf['variant']):
        v = int(variant)
        spans = [
            {'kind': 'html', 'media_ref': None, 'offset': 0,
             'text': wrap_in_boilerplate(
                 doc_id, f'Document {doc_id} part 0. {text}', v)},
            {'kind': 'media', 'text': None, 'offset': 1,
             'media_ref': f'media/{doc_id}/0'},
            {'kind': 'html', 'media_ref': None, 'offset': 2,
             'text': wrap_in_boilerplate(
                 doc_id,
                 f'Document {doc_id} closing section part 1.', v + 1)},
        ]
        if int(doc_id) % 3 == 0:
          spans.append({'kind': 'media', 'text': None, 'offset': 3,
                        'media_ref': f'media/{doc_id}/1'})
        if int(doc_id) % 2 == 0:
          size, x, y = 12.0, 36.0, 100.0
          words = []
          for w in f'PDF appendix for document {doc_id}'.split():
            x1 = x + CHAR_ADVANCE * size * len(w)
            words.append((w, x, x1, y, y + size))
            x = x1 + CHAR_ADVANCE * size
          pdf_bytes = write_simple_pdf(
              [{'width': 612.0, 'height': 792.0, 'words': words}])
          spans.append({'kind': 'pdf', 'media_ref': None, 'offset': 4,
                        'text': pdf_bytes.decode('latin-1')})
        out_ids.append(doc_id)
        out_spans.append(spans)
      yield pd.DataFrame({'doc_id': out_ids, 'spans': out_spans})

  return docs.mapInPandas(run, SPANS_SCHEMA)


def main_content_from_spans(df: DataFrame) -> DataFrame:
  """The north-rule main-content pipeline over an interleaved spans
  table: HTML spans are boilerplate-stripped to their main text (DOM
  block scoring, extract_main_content), PDF spans are layout-parsed
  (spark/pdf.parse_pdf; latin-1-coded bytes in the string span) and
  their words joined in reading order (page, then top-to-bottom, then
  left-to-right), plain-text spans are whitespace-normalized, media
  spans pass through untouched, and the output preserves the
  interleave as (kind, text, media_ref, order) with order = rank in
  the offset-sorted input sequence.  A PDF span that fails to parse
  yields an empty text span (documented degradation — the pipeline
  has no error column; tested).

  Plan shape: Scan → MapInPandas — ZERO shuffles, embarrassingly
  parallel over doc_id like the blueprint extraction path (pinned by
  tests/test_html_extract.py); at 10^12 docs the only lever is
  executor count.  Arrow-batched; no per-row Python."""
  from ..spark.pipeline import OUT_SPAN_STRUCT, pin_spark_zip_importers

  out_schema = StructType([
      StructField('doc_id', df.schema['doc_id'].dataType),
      StructField('out_spans', ArrayType(OUT_SPAN_STRUCT)),
      StructField('n_html', IntegerType()),
  ])

  def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    pin_spark_zip_importers()
    for pdf in batches:
      ids, outs, n_htmls = [], [], []
      for doc_id, spans in zip(pdf['doc_id'], pdf['spans']):
        out, n_html = main_content_doc(spans)
        ids.append(doc_id)
        outs.append(out)
        n_htmls.append(n_html)
      yield pd.DataFrame({'doc_id': ids, 'out_spans': outs,
                          'n_html': n_htmls})

  return df.mapInPandas(run, out_schema)


def main_content_doc(spans) -> tuple:
  """The per-document kernel of main_content_from_spans (spans dicts →
  (out_spans dicts, n_html)); module-level so property tests exercise
  the exact code the Arrow batches run."""
  ordered = sorted(spans, key=lambda s: s['offset'])
  out, n_html = [], 0
  for order, s in enumerate(ordered):
    if s['kind'] == 'media':
      out.append({'kind': 'media', 'text': None,
                  'media_ref': s['media_ref'], 'order': order})
    elif s['kind'] == 'html':
      n_html += 1
      # same degradation contract as the PDF branch: via the
      # run_main_content CLI the input is arbitrary user parquet, and
      # one pathological page must not abort the whole Spark task — it
      # degrades to an empty text span instead (tested)
      try:
        text = extract_main_content(s['text'] or '')
      except Exception:
        text = ''
      out.append({'kind': 'text', 'text': text,
                  'media_ref': None, 'order': order})
    elif s['kind'] == 'pdf':
      from ..spark.pdf import parse_pdf
      try:
        pages = parse_pdf((s['text'] or '').encode('latin-1'))
        words = [w[0] for p in pages
                 for w in sorted(p['words'],
                                 key=lambda w: (w[3], w[1]))]
        text = ' '.join(' '.join(words).split())
      except Exception:
        text = ''
      out.append({'kind': 'text', 'text': text,
                  'media_ref': None, 'order': order})
    else:  # plain text span: normalize whitespace only
      out.append({'kind': 'text',
                  'text': ' '.join((s['text'] or '').split()),
                  'media_ref': None, 'order': order})
  return out, n_html


# ---------------------------------------------------------------------------
# Anchor / link extraction — the link-graph and anchor-text-corpus
# front door (anchor text is a classic relevance / quality training
# signal; hrefs feed the crawl frontier, url_curation, and
# ops/graph.pagerank through its edges= seam).
# ---------------------------------------------------------------------------

_LINK_PAT = r'<a href="([^"]*)"[^>]*>([^<]*)</a>'


def extract_links(spark: SparkSession, sf_dir: str, *,
                  docs: DataFrame = None) -> DataFrame:
  """Harvest (href, anchor_text) pairs from HTML pages in document
  order.

  Default input: the documents corpus wrapped in the same
  boilerplate-heavy template as `html_main_content`, but with
  variant = doc_id % 3 instead of pmod(xxhash64(doc_id), 3) — the menu
  hrefs ARE variant-dependent here (unlike main-content output, which
  is variant-independent), and % 3 keeps the expected link list
  recomputable in ANSI SQL by the DuckDB gate oracle (xxhash64 is
  Spark-only).  Through the `docs=` seam any (doc_id, html) frame —
  e.g. parse_warc_records output — skips the synthesis entirely.

  The OPERATOR is two `regexp_extract_all` passes (href group, anchor
  group) + arrays_zip + posexplode: one whole-stage-codegen projection
  with ZERO shuffles and zero Python (the default path's synthesis
  mapInPandas is the test harness, not the operator).  The two regex
  passes are projected as their own columns first — interpreted HOFs
  get no CSE, and a per-element regexp_extract over full matches would
  re-scan the page per link.  At 10^12 pages this is a pure map over
  the page scan; the only lever is executor count.

  Returns (doc_id, link_pos, href, anchor_text) with link_pos = 0-based
  rank of the anchor in page order.  Pages with no anchors contribute
  no rows (matching the SQL template-join oracle).
  """
  if docs is None:
    base = spark.read.parquet(f'{sf_dir}/documents.parquet') \
        .select('doc_id', 'text') \
        .withColumn('variant', (F.col('doc_id') % 3).cast('int'))
    id_type = base.schema['doc_id'].dataType
    syn_schema = StructType([
        StructField('doc_id', id_type),
        StructField('html', StringType()),
    ])

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
      for pdf in batches:
        pages = [wrap_in_boilerplate(str(d), t, int(v))
                 for d, t, v in zip(pdf['doc_id'], pdf['text'],
                                    pdf['variant'])]
        yield pd.DataFrame({'doc_id': pdf['doc_id'], 'html': pages})

    docs = base.mapInPandas(synth, syn_schema)

  staged = docs.select(
      'doc_id',
      F.regexp_extract_all('html', F.lit(_LINK_PAT), 1).alias('hrefs'),
      F.regexp_extract_all('html', F.lit(_LINK_PAT), 2).alias('anchors'))
  return (staged
          .select('doc_id',
                  F.posexplode(F.arrays_zip('hrefs', 'anchors'))
                  .alias('link_pos', 'z'))
          .select('doc_id',
                  F.col('link_pos').cast('int').alias('link_pos'),
                  F.col('z.hrefs').alias('href'),
                  F.col('z.anchors').alias('anchor_text')))


def anchor_stats(spark: SparkSession, sf_dir: str, *,
                 links: DataFrame = None) -> DataFrame:
  """Anchor-text corpus aggregation over extract_links output — the
  DQ-style per-target summary (how many pages link here, with what
  text) used for link-graph quality features and anchor-text training
  corpora.

  Scale shape: two word-count-shaped aggregation TREES over the same
  link table — anchor-keyed (top anchor + totals) and doc-keyed
  (distinct linking docs) — joined on the href dimension.  Each
  groupBy carries a map-side partial count, which is what absorbs hub
  targets ('/' is linked from EVERY page) before any shuffle; the top
  anchor is a deterministic max(struct(n, anchor_text)), never a
  collect_list of a hub's anchors.  When this function builds the
  link table itself it localCheckpoints it first — the two trees
  would otherwise re-run the page synthesis and both full-page regex
  passes (the dominant cost) once each; a caller-supplied `links=`
  frame is left untouched so the caller controls persistence.

  Returns (href, n_links, n_docs, top_anchor, top_anchor_n).
  """
  l = links if links is not None else \
      extract_links(spark, sf_dir).localCheckpoint(eager=True)
  per_anchor = (l.groupBy('href', 'anchor_text')
                .agg(F.count('*').alias('n')))
  tops = (per_anchor.groupBy('href')
          .agg(F.sum('n').cast('long').alias('n_links'),
               F.max(F.struct(F.col('n').alias('n'),
                              F.col('anchor_text').alias('a')))
               .alias('t')))
  docs = l.groupBy('href').agg(F.count_distinct('doc_id')
                               .cast('long').alias('n_docs'))
  return (tops.join(docs, 'href')
          .select('href', 'n_links', 'n_docs',
                  F.col('t.a').alias('top_anchor'),
                  F.col('t.n').cast('long').alias('top_anchor_n'))
          .orderBy('href'))


# ---------------------------------------------------------------------------
# jusText-style paragraph classification (Pomikálek 2011, "Removing
# boilerplate and duplicate content from web corpora") — the second
# published main-content algorithm next to the readability-style
# scorer above.  Where extract_main_content picks ONE winning
# container, jusText classifies EVERY paragraph-block
# (good / near-good / short / bad) from link density, length and
# stop-word density, then revises context-sensitively so short and
# near-good blocks inherit their neighborhood's verdict.  Simplified
# faithfully (documented): no heading promotion pass, and the
# revision rule is: near-good → good iff EITHER nearest context-free
# good/bad anchor is good; short → good iff BOTH are (page edges count
# as bad) — the core of jusText's neighbor inheritance without its
# max_heading_distance machinery.
# ---------------------------------------------------------------------------

_JX_BLOCK_TAGS = {
    'p', 'h1', 'h2', 'h3', 'h4', 'h5', 'h6', 'li', 'div', 'td', 'th',
    'ul', 'ol', 'nav', 'aside', 'main', 'article', 'header', 'footer',
    'section', 'table', 'tr', 'blockquote', 'pre', 'body',
}
_JX_SKIP = {'head', 'script', 'style', 'noscript', 'svg', 'iframe'}

#: Gate stop list — jusText is stop-list-parameterized by language;
#: the synthetic corpus is 31-word uniform word soup, so the gate
#: list is keyed on that vocabulary (12 corpus words + the template
#: comment-thread prose words; 'a'/'the' are both) exactly like
#: TOPIC_LEXICONS: every density branch fires on real rows.  A
#: production deployment hands justext_page its language's real stop list.
JUSTEXT_GATE_STOPLIST = frozenset((
    'scan', 'column', 'window', 'order', 'sort', 'part', 'agg',
    'value', 'line', 'key', 'join', 'merge', 'a', 'the',
    'this', 'about', 'to', 'says', 'worth',
))


def _jx_blocks(html: str) -> List[tuple]:
  """Paragraph segmentation: text runs delimited by block-level tag
  boundaries; inline tags (<a>, <b>, ...) do not break blocks; skip
  subtrees contribute nothing.  Returns (normalized_text,
  normalized_link_text) per non-empty block."""
  blocks: List[tuple] = []
  text: List[str] = []
  link: List[str] = []
  skip = a = 0
  for kind, tag, _ in html_events(html, ()):
    if kind == DATA:
      if not skip:
        text.append(tag)
        if a:
          link.append(tag)
    # a self-closing tag acts as its start tag then its end tag, which
    # nets out to a block boundary or to nothing
    elif tag in _JX_SKIP:
      if kind == STARTTAG:
        skip += 1
      elif kind == ENDTAG:
        skip = max(0, skip - 1)
    elif skip:
      continue
    elif tag in _JX_BLOCK_TAGS:
      t = ' '.join(''.join(text).split())
      if t:
        blocks.append((t, ' '.join(''.join(link).split())))
      text, link = [], []
    elif tag == 'a':
      if kind == STARTTAG:
        a += 1
      elif kind == ENDTAG:
        a = max(0, a - 1)
  t = ' '.join(''.join(text).split())
  if t:
    blocks.append((t, ' '.join(''.join(link).split())))
  return blocks


def _jx_classify(text: str, link_text: str, stoplist) -> str:
  """Context-free jusText class from exact integer cross-multiplied
  density comparisons (no float thresholds — every engine agrees), at
  jusText's published length_low 70, stop-density 30/32 % and link
  density 20 %, and length_high 100 (jusText publishes 200; the
  synthetic gate documents are ~150 chars)."""
  n, nl = len(text), len(link_text)
  if nl * 100 > n * 20:
    return 'bad'
  if n < 70:
    return 'bad' if nl > 0 else 'short'
  words = text.split()
  stop = sum(1 for w in words if w.lower() in stoplist)
  wc = len(words)
  if stop * 100 > wc * 32:
    return 'good' if n > 100 else 'neargood'
  if stop * 100 > wc * 30:
    return 'neargood'
  return 'bad'


def justext_page(html: str, stoplist) -> dict:
  """Classify one page's blocks and return the kept main text plus the
  context-free class census:
    main_text (final-good blocks joined with \\n), n_blocks, n_good,
    n_neargood, n_short, n_bad (context-free counts), n_kept (final
    good count after the revision pass).

  Reads the page through ops/html_events, whose events equal, event for
  event, the running interpreter's `html.parser`
  (HTMLParser(convert_charrefs=True), a self-closing tag read as its
  start and end tag); a page html.parser cannot tokenize raises its
  AssertionError."""
  blocks = _jx_blocks(html)
  cf = [_jx_classify(t, lt, stoplist) for t, lt in blocks]
  n = len(cf)
  # nearest context-free good/bad anchor on each side; edges are bad
  prev_anchor, last = [], 'bad'
  for c in cf:
    prev_anchor.append(last)
    if c in ('good', 'bad'):
      last = c
  next_anchor, last = [None] * n, 'bad'
  for i in range(n - 1, -1, -1):
    next_anchor[i] = last
    if cf[i] in ('good', 'bad'):
      last = cf[i]
  final = []
  for i, c in enumerate(cf):
    if c == 'neargood':
      final.append('good' if 'good' in (prev_anchor[i], next_anchor[i])
                   else 'bad')
    elif c == 'short':
      final.append('good' if (prev_anchor[i], next_anchor[i])
                   == ('good', 'good') else 'bad')
    else:
      final.append(c)
  kept = [blocks[i][0] for i in range(n) if final[i] == 'good']
  return {
      'main_text': '\n'.join(kept),
      'n_blocks': n,
      'n_good': sum(c == 'good' for c in cf),
      'n_neargood': sum(c == 'neargood' for c in cf),
      'n_short': sum(c == 'short' for c in cf),
      'n_bad': sum(c == 'bad' for c in cf),
      'n_kept': len(kept),
  }


def justext_main_content(spark: SparkSession, sf_dir: str, *,
                         docs: DataFrame = None) -> DataFrame:
  """jusText-style main-content extraction over the same deterministic
  boilerplate templates as html_main_content, with the SQL-friendly
  variant rule doc_id % 3 (the extract_links device — NOT xxhash64 —
  precisely so the DuckDB oracle can recompute every block census and
  the main-paragraph classification from the template structure and
  the raw text column).  It classifies with the corpus-tuned
  JUSTEXT_GATE_STOPLIST and justext_page's length_high 100.

  On the gate templates the fixed blocks classify bad (header link,
  nav items, ads, link-farm sidebar, footer) / short (section
  headings) / near-good (the prose comment thread — which the
  REVISION pass then correctly demotes to bad, since its anchors are
  all bad: jusText's reason to exist), leaving the article paragraph
  as the only candidate; whether IT survives depends on its own
  stop-word density and length, so both keep and drop verdicts occur
  corpus-wide and the oracle recomputes each from the text column.

  Scale shape: Scan → MapInPandas (Arrow-batched, zero shuffles,
  pinned) — identical to the readability path; at 10^12 docs the only
  lever is executor count."""
  d = (docs if docs is not None
       else spark.read.parquet(f'{sf_dir}/documents.parquet')) \
      .select('doc_id', 'text') \
      .withColumn('variant',
                  F.pmod(F.col('doc_id').cast('long'),
                         F.lit(3)).cast('int'))
  id_type = d.schema['doc_id'].dataType
  out_schema = StructType([
      StructField('doc_id', id_type),
      StructField('main_text', StringType()),
      StructField('n_blocks', IntegerType()),
      StructField('n_good', IntegerType()),
      StructField('n_neargood', IntegerType()),
      StructField('n_short', IntegerType()),
      StructField('n_bad', IntegerType()),
      StructField('n_kept', IntegerType()),
  ])

  def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
      rows = []
      for doc_id, text, variant in zip(pdf['doc_id'], pdf['text'],
                                       pdf['variant']):
        page = wrap_in_boilerplate(
            str(doc_id), f'Document {doc_id} part 0. {text}',
            int(variant))
        r = justext_page(page, JUSTEXT_GATE_STOPLIST)
        rows.append((doc_id, r['main_text'], r['n_blocks'],
                     r['n_good'], r['n_neargood'], r['n_short'],
                     r['n_bad'], r['n_kept']))
      yield pd.DataFrame(rows, columns=list(out_schema.names))

  return d.mapInPandas(run, out_schema)
