"""WARC ingest: parse Common-Crawl-style WARC response records into
(uri, status, headers, HTML body) rows with pure JVM column
expressions — the web-scale front door of the extraction pipeline
(WARC → URL curation → main-content extraction).

The reference engine (instabase/blueprint-oss) ingests OCR/doc JSON
only; WARC ingest is a training-data-pipeline addition (SURVEY.md
"Beyond the reference"), same category as ops/curation.py.  The
record grammar implemented here is the public ISO 28500 / WARC 1.0
layout used by Common Crawl: WARC header block, blank line, HTTP
response block (status line + headers), blank line, payload.

Everything is substring_index / regexp_extract / length arithmetic in
the Java∩RE2 dialect, so a DuckDB oracle re-synthesizes the records
and re-parses them from scratch engine-independently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

CRLF = '\r\n'


def synth_warc_records(docs: DataFrame) -> DataFrame:
  """Deterministic WARC/1.0 response records over the documents
  corpus `docs` (doc_id, record:string) — the same synthesis device as
  c4_line_clean's lines / url_curation's URLs, so the DuckDB oracle
  rebuilds byte-identical records from the raw table:

    * payload: the doc text wrapped in a minimal HTML page; every
      doc_id % 29 == 0 becomes a 404 with a fixed error body;
    * truncation plant: every doc_id % 37 == 0 record loses the last
      20 payload bytes AFTER Content-Length was computed, so its
      declared length no longer matches (the mid-flight-truncated
      fetch every crawl batch contains);
    * URI: the url_curation-style site{k}.com identity so the parsed
      output composes with the URL-curation dimension.

  Record = WARC header block + CRLFCRLF + HTTP block (status line,
  headers, CRLFCRLF, payload); Content-Length headers are computed
  with length() arithmetic on the SAME expressions, never hardcoded."""
  did = F.col('doc_id')
  is404 = did % 29 == 0
  payload = F.when(
      is404, F.lit('<html><body>Not Found</body></html>')) \
      .otherwise(F.concat(
          F.lit('<html><head><title>Doc '), did.cast('string'),
          F.lit('</title></head><body><p>'), F.col('text'),
          F.lit('</p></body></html>')))
  status_line = F.when(is404, F.lit('HTTP/1.1 404 Not Found')) \
      .otherwise(F.lit('HTTP/1.1 200 OK'))
  http_block = F.concat(
      status_line, F.lit(CRLF),
      F.lit('Content-Type: text/html; charset=utf-8' + CRLF),
      F.lit('Content-Length: '), F.length(payload).cast('string'),
      F.lit(CRLF + CRLF), payload)
  uri = F.concat(F.lit('https://site'), (did % 53).cast('string'),
                 F.lit('.com/p'), did.cast('string'))
  record = F.concat(
      F.lit('WARC/1.0' + CRLF),
      F.lit('WARC-Type: response' + CRLF),
      F.lit('WARC-Record-ID: <urn:uuid:'), did.cast('string'),
      F.lit('>' + CRLF),
      F.lit('WARC-Date: 2026-01-01T00:00:00Z' + CRLF),
      F.lit('WARC-Target-URI: '), uri, F.lit(CRLF),
      F.lit('Content-Type: application/http; msgtype=response' + CRLF),
      F.lit('Content-Length: '), F.length(http_block).cast('string'),
      F.lit(CRLF + CRLF), http_block)
  # truncation AFTER the length headers were computed: the declared
  # lengths describe the untruncated record, as in a cut-off fetch
  record = F.when(did % 37 == 0,
                  F.substring(record, 1, F.length(record) - F.lit(20))
                  ).otherwise(record)
  return docs.select('doc_id', record.alias('record'))


def parse_warc_records(records: DataFrame) -> DataFrame:
  """Parse WARC response `records` (doc_id, record) into structured
  rows:
    doc_id, target_uri, warc_type, status (int), content_type,
    declared_len (the HTTP Content-Length header), body_len (actual),
    length_ok (1 iff they agree — truncated fetches fail this),
    main_text (tag-stripped whitespace-normalized body text).

  Pure codegen scan — substring_index splits the three blocks on the
  CRLFCRLF separators, regexp_extract pulls the header fields
  (Java∩RE2 patterns), and the tag-strip is two regexp_replace
  passes; zero shuffles, zero Python, filters push to the parquet
  scan.  At 100 TB this is the map stage in front of url_curation
  (target_uri) and the main-content extractor (body), and malformed
  records degrade to length_ok = 0 rows instead of failing the task
  (the crawl-batch resilience contract).

  The gate's input is the deterministic corpus synth_warc_records
  synthesizes, which the DuckDB oracle rebuilds from scratch."""
  # one regex split into the three blocks; limit=3 keeps any CRLFCRLF
  # inside a real-world payload intact (the synthesized corpus has
  # none, which is what lets the DuckDB oracle split without a limit)
  parts = F.split(F.col('record'), r'\r\n\r\n', 3)
  warc_hdrs = F.element_at(parts, 1)
  # try_element_at: a garbage record may lack blocks, and
  # Spark 4's ANSI mode makes plain element_at THROW on short arrays —
  # the resilience contract wants a length_ok=0 row, not a dead task
  http_hdrs = F.coalesce(F.try_element_at(parts, F.lit(2)), F.lit(''))
  body = F.coalesce(F.try_element_at(parts, F.lit(3)), F.lit(''))
  strip = F.trim(F.regexp_replace(
      F.regexp_replace(body, '<[^>]*>', ' '), r'\s+', ' '))
  declared = F.regexp_extract(http_hdrs,
                              r'Content-Length: ([0-9]+)', 1)
  return (records.select(
      'doc_id',
      F.regexp_extract(warc_hdrs, r'WARC-Target-URI: (\S+)', 1)
      .alias('target_uri'),
      F.regexp_extract(warc_hdrs, r'WARC-Type: (\S+)', 1)
      .alias('warc_type'),
      F.when(F.regexp_extract(http_hdrs, r'HTTP/1\.1 ([0-9]+)', 1)
             != '',
             F.regexp_extract(http_hdrs, r'HTTP/1\.1 ([0-9]+)', 1))
      .cast('int').alias('status'),
      F.regexp_extract(http_hdrs, r'Content-Type: ([^\r]+)', 1)
      .alias('content_type'),
      F.when(declared != '', declared).cast('long')
      .alias('declared_len'),
      F.length(body).cast('long').alias('body_len'),
      F.when(declared != '',
             (F.length(body) == declared.cast('long')).cast('int'))
      .otherwise(F.lit(0)).alias('length_ok'),
      strip.alias('main_text'))
      .orderBy('doc_id'))
