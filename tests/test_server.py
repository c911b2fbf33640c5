"""Studio backend parity (reference server/py/bp_server/__main__.py
route /gen_bp_doc) — the emitted doc JSON loads in the reference loader,
driven over real HTTP against the stdlib server (the other routes:
test_server_routes.py)."""

import json

from .refshim import _ensure_reference_loaded  # noqa: F401
from .test_server_routes import _post, server_url  # noqa: F401 (fixture)

GOOGLE_OCR = '/root/reference/examples/paystubs/ocr/sample_paystub_1.jpg.json'


def test_gen_bp_doc_google(server_url):
  from bp.document import load_doc_from_json
  with open(GOOGLE_OCR) as f:
    ocr = json.load(f)
  out = _post(server_url, '/gen_bp_doc', {'google_ocr': ocr})
  doc = out['doc']
  assert doc['entities']
  # the emitted doc JSON parses in the reference loader
  ref_doc = load_doc_from_json(doc)
  assert len(ref_doc.entities) == len(doc['entities'])

