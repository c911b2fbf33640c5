"""CLI gen_bp_doc parity (reference bp/cli/gen_bp_doc.py): OCR →
reference-format Document JSON, loadable by the reference engine."""

import json
import subprocess
import sys

from tests.conftest import REPO_ROOT

GOOGLE_OCR = '/root/reference/examples/paystubs/ocr/sample_paystub_1.jpg.json'


def test_gen_bp_doc_roundtrips_through_reference(tmp_path):
  out = tmp_path / 'doc.json'
  r = subprocess.run(
      [sys.executable, '-m', 'blueprint_oss_spark', 'gen_bp_doc',
       '-g', GOOGLE_OCR, '-o', str(out)],
      capture_output=True, text=True, cwd=REPO_ROOT, timeout=300)
  assert r.returncode == 0, r.stderr
  info = json.loads(r.stdout.strip().splitlines()[-1])
  assert info['docs'] == 1

  from .refshim import _ensure_reference_loaded  # noqa: F401
  from bp.document import load_doc_from_json
  blob = json.loads(out.read_text())
  ref_doc = load_doc_from_json(blob)
  assert len(ref_doc.entities) > 500  # sample_paystub_1 is dense

  # and it matches what our engine builds in-process from the same OCR
  from blueprint_oss_spark.engine.entity_gen import build_doc_pool
  from blueprint_oss_spark.spark.sources import parse_google_ocr
  pages = parse_google_ocr(json.load(open(GOOGLE_OCR)))
  pool = build_doc_pool('x', pages)
  assert len(blob['entities']) == pool.n_entities + len(pool.page_number)


def test_gen_bp_doc_glob(tmp_path):
  outdir = tmp_path / 'docs'
  r = subprocess.run(
      [sys.executable, '-m', 'blueprint_oss_spark', 'gen_bp_doc',
       '--input', '/root/reference/examples/paystubs/ocr/*.json',
       '-o', str(outdir)],
      capture_output=True, text=True, cwd=REPO_ROOT, timeout=300)
  assert r.returncode == 0, r.stderr
  info = json.loads(r.stdout.strip().splitlines()[-1])
  assert info['docs'] == 2
  assert len(list(outdir.glob('*.bpdoc.json'))) == 2
