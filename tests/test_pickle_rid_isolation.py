"""Regression: rule-id (rid) uniqueness across pickle boundaries.

A compiled blueprint pickled on the driver and unpickled in a fresh
executor process must not collide with rules created *in* that process
(per-document binding injects AreDisjoint atoms, bp/tree.py:736-743
semantics).  Before the fix, a fresh process's rule counter restarted at
1, colliding with low-rid unpickled atoms and cross-wiring the rid-keyed
rule-score caches — extraction scores silently diverged from the
reference (observed: 0.9158/0.9182 vs the correct 0.9719 on
readme corpus seed 9001).

The failure mode only shows when the blueprint is built early in its
process (low rids), so both compile and solve run in fresh subprocesses.
"""

import subprocess
import sys
import textwrap

from tests.conftest import REPO_ROOT


def _run(code: str) -> str:
  out = subprocess.run(
      [sys.executable, '-c', textwrap.dedent(code)],
      capture_output=True, text=True, timeout=300, cwd=REPO_ROOT)
  assert out.returncode == 0, out.stderr
  return out.stdout.strip()


def test_fresh_process_unpickle_matches_in_process(tmp_path):
  payload = tmp_path / 'payload.pkl'
  compile_code = f"""
      from blueprint_oss_spark.spark.pipeline import compile_blueprint
      from blueprint_oss_spark.fixtures import readme_blueprint
      open({str(payload)!r}, 'wb').write(
          compile_blueprint(readme_blueprint()))
  """
  _run(compile_code)

  solve_code = f"""
      import pickle
      from blueprint_oss_spark.engine.runner import run_doc
      from blueprint_oss_spark.fixtures import readme_corpus
      tree = pickle.loads(open({str(payload)!r}, 'rb').read())
      docs = dict(readme_corpus(5, seed=9001))
      r = run_doc('readme-00000', docs['readme-00000'], tree,
                  pre_optimized=True)
      print(repr(r['score']), sorted(r['fields'].items()))
  """
  results = {_run(solve_code) for _ in range(3)}
  assert len(results) == 1, f'fresh-process solves disagree: {results}'

  # in-process ground truth (verified against the reference engine in
  # test_extraction_parity)
  in_proc = _run(f"""
      from blueprint_oss_spark.engine.runner import run_doc
      from blueprint_oss_spark.fixtures import readme_blueprint, \\
          readme_corpus
      docs = dict(readme_corpus(5, seed=9001))
      r = run_doc('readme-00000', docs['readme-00000'],
                  readme_blueprint())
      print(repr(r['score']), sorted(r['fields'].items()))
  """)
  assert results == {in_proc}
