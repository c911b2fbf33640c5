"""PDF stream /Length handling: an indirect `/Length N 0 R` names
object N's integer, not an N-byte stream."""

import zlib

from blueprint_oss_spark.spark.pdf import (
    CHAR_ADVANCE, parse_pdf, write_simple_pdf)


def _words(doc_id):
  size, x, y = 12.0, 36.0, 100.0
  words = []
  for w in f'PDF appendix for document {doc_id}'.split():
    x1 = x + CHAR_ADVANCE * size * len(w)
    words.append((w, x, x1, y, y + size))
    x = x1 + CHAR_ADVANCE * size
  return words


def _indirect_length_pdf(words, width=612.0, height=792.0):
  """write_simple_pdf's one-page layout, except that the content
  stream's /Length is an indirect reference to a trailing integer
  object (as many real writers emit it)."""
  runs = [f'BT /F1 {y1 - y0:g} Tf {x0:g} {height - y1:g} Td ({t}) Tj ET'
          for (t, x0, x1, y0, y1) in words]
  stream = zlib.compress('\n'.join(runs).encode('latin-1'))
  objs = [
      b'<< /Type /Catalog /Pages 2 0 R >>',
      b'<< /Type /Pages /Kids [3 0 R] /Count 1 >>',
      (f'<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {width:g} '
       f'{height:g}] /Contents 4 0 R /Resources << /Font << /F1 5 0 R '
       f'>> >> >>').encode(),
      (b'<< /Filter /FlateDecode /Length 6 0 R >>\nstream\n' + stream
       + b'\nendstream'),
      b'<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>',
      str(len(stream)).encode(),
  ]
  buf = bytearray(b'%PDF-1.4\n')
  offsets = []
  for i, obj in enumerate(objs, start=1):
    offsets.append(len(buf))
    buf += f'{i} 0 obj\n'.encode() + obj + b'\nendobj\n'
  xref_at = len(buf)
  buf += f'xref\n0 {len(objs) + 1}\n0000000000 65535 f \n'.encode()
  for off in offsets:
    buf += f'{off:010d} 00000 n \n'.encode()
  buf += (f'trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n'
          f'startxref\n{xref_at}\n%%EOF\n').encode()
  return bytes(buf), stream


def test_indirect_length_with_0x0d_tail_parses_like_direct_length():
  """Doc id 10000016's compressed stream ends in 0x0D, which the
  `\\r?\\nendstream` scan truncates: only a resolved indirect /Length
  parses it, to the same words as the direct-length file."""
  words = _words(10000016)
  indirect, stream = _indirect_length_pdf(words)
  assert stream[-1:] == b'\r'
  assert b'/Length 6 0 R' in indirect
  direct = parse_pdf(write_simple_pdf([{'width': 612.0, 'height': 792.0,
                                        'words': words}]))
  got = parse_pdf(indirect)
  assert got == direct
  assert [w[0] for w in got[0]['words']] == \
      'PDF appendix for document 10000016'.split()


def test_unresolvable_indirect_length_falls_back_to_endstream_scan():
  """A reference to a missing or non-integer object is no byte count:
  the stream is still found by the endstream scan (no 0x0D tail
  here, so the scan is exact)."""
  words = _words(7)
  pdf, stream = _indirect_length_pdf(words)
  assert stream[-1:] != b'\r'
  want = [w[0] for w in words]
  for ref in (b'/Length 9 0 R', b'/Length 5 0 R', b'/Length 6 1 R'):
    bad = pdf.replace(b'/Length 6 0 R', ref)
    assert [w[0] for w in parse_pdf(bad)[0]['words']] == want, ref


def test_length_authoritative_stream_extraction():
  """Round-5 sf1 regression: FlateDecode data ending in 0x0D (~1/256
  of compressed streams) had its last byte eaten by the legacy
  `...\\r?\\nendstream` scan — /Length is now authoritative.  Doc id
  10000016 is a known 0x0D-tail case; the fuzz sweep covers both
  digit widths."""
  from blueprint_oss_spark.spark.pdf import (
      CHAR_ADVANCE, parse_pdf, write_simple_pdf)

  def roundtrip(doc_id):
    size, x, y = 12.0, 36.0, 100.0
    words = []
    for w in f'PDF appendix for document {doc_id}'.split():
      x1 = x + CHAR_ADVANCE * size * len(w)
      words.append((w, x, x1, y, y + size))
      x = x1 + CHAR_ADVANCE * size
    b = write_simple_pdf([{'width': 612.0, 'height': 792.0,
                           'words': words}])
    got = [w[0] for p in parse_pdf(b) for w in p['words']]
    assert got == f'PDF appendix for document {doc_id}'.split(), doc_id

  import zlib
  for doc_id in (10000016, 10000034, 10000052):
    # prove the fixture still has the 0x0D tail the bug needs
    runs = []
    size, x = 12.0, 36.0
    for w in f'PDF appendix for document {doc_id}'.split():
      runs.append(f'BT /F1 {size:g} Tf {x:g} {792.0-100.0-size:g} Td '
                  f'({w}) Tj ET')
      x += CHAR_ADVANCE * size * (len(w) + 1)
    assert zlib.compress('\n'.join(runs).encode('latin-1'))[-1:] \
        == b'\r'
    roundtrip(doc_id)
  for doc_id in range(0, 300):
    roundtrip(doc_id)
    roundtrip(10000000 + doc_id)


def test_no_length_falls_back_to_endstream_scan():
  from blueprint_oss_spark.spark.pdf import parse_pdf, write_simple_pdf
  import re
  b = write_simple_pdf(
      [{'width': 200.0, 'height': 100.0,
        'words': [('hi', 10.0, 10.0 + 0.6 * 12.0 * 2, 5.0, 17.0)]}],
      compress=False)
  # strip the /Length entry: the legacy endstream scan must still work
  b2 = re.sub(rb'/Length \d+ ', b'', b)
  got = [w[0] for p in parse_pdf(b2) for w in p['words']]
  assert got == ['hi']
