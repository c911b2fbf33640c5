"""hOCR: general-Tesseract format hardening (reference:
bp/hocr_file.py:38-80)."""


_TESSERACT_HOCR = """<?xml version="1.0" encoding="UTF-8"?>
<html xmlns="http://www.w3.org/1999/xhtml">
 <body>
  <div class='ocr_page' id='page_1'
       title='image "a.png"; bbox 0 0 1200 1600; ppageno 0'>
   <div class='ocr_carea' id='block_1_1' title="bbox 90 100 700 220">
    <p class='ocr_par' id='par_1_1' lang='eng' title="bbox 90 100 700 160">
     <span class='ocr_line' id='line_1_1'
           title="bbox 90 100 700 130; baseline 0 -3">
      <span class='ocrx_word' title='bbox 90 100 180 130; x_wconf 96'>
        Hello</span>
      <span class='ocrx_word extra-class'
            title='x_wconf 91; bbox 200 100 320 130'>
        wor<strong>l</strong>d</span>
      <span class='ocrx_word' title='x_wconf 12'>NO-BBOX</span>
      <span class='ocrx_word' title='bbox 340 100 360 130'>  </span>
     </span>
     <span class='ocr_line' id='line_1_2' title="bbox 90 140 700 160">
      <span class='ocrx_word' title='bbox 90 140 200 160'>line&amp;two
      </span>
     </span>
    </p>
   </div>
  </div>
  <div class='ocr_page' id='page_2' title='image "b.png"'>
   <span class='ocrx_word' title='bbox 10 20 110 50'>second<br/>page</span>
  </div>
 </body>
</html>
"""


def test_parse_hocr_general_tesseract_format():
  from blueprint_oss_spark.spark.sources import parse_hocr
  pages = parse_hocr(_TESSERACT_HOCR)
  assert len(pages) == 2
  p1, p2 = pages
  assert (p1['page_number'], p1['width'], p1['height']) == (1, 1200.0,
                                                            1600.0)
  # nested <strong> merges into one word; no-bbox and whitespace-only
  # words are skipped; entity refs decode
  assert [w[0] for w in p1['words']] == ['Hello', 'world', 'line&two']
  assert p1['words'][1][1:] == (200.0, 320.0, 100.0, 130.0)
  # page 2 has no bbox in its title → extent derived from its words;
  # <br/> inside a word does not split it
  assert p2['words'] == [('second page', 10.0, 110.0, 20.0, 50.0)]
  assert (p2['width'], p2['height']) == (110.0, 50.0)


def test_parse_hocr_malformed_inputs_do_not_crash():
  from blueprint_oss_spark.spark.sources import parse_hocr
  assert parse_hocr('') == []
  assert parse_hocr('not html at all') == []
  # words before any page are dropped, not crashed on
  assert parse_hocr(
      "<span class='ocrx_word' title='bbox 0 0 5 5'>orphan</span>") == []
  # truncated file: open word is flushed at close
  pages = parse_hocr(
      "<div class='ocr_page' title='bbox 0 0 100 100'>"
      "<span class='ocrx_word' title='bbox 1 2 30 12'>cut-off")
  assert pages[0]['words'] == [('cut-off', 1.0, 30.0, 2.0, 12.0)]
