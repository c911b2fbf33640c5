"""The spark-submit job of scripts/cluster_scaling.py is Python source
held in a string (`JOB`), and no tier-1 test runs it.  Every call it
makes to a blueprint_oss_spark function is bound here to that
function's live signature, so a stale call shape fails in the test
suite instead of on a cluster."""

import ast
import importlib
import inspect
import pathlib

SCRIPT = (pathlib.Path(__file__).resolve().parent.parent
          / 'scripts' / 'cluster_scaling.py')


def _job():
  for node in ast.parse(SCRIPT.read_text()).body:
    if (isinstance(node, ast.Assign)
        and [t.id for t in node.targets] == ['JOB']):
      return ast.parse(node.value.value)
  raise AssertionError('no JOB string in scripts/cluster_scaling.py')


def _package_functions(tree):
  """Local name -> function for every `from blueprint_oss_spark...
  import f` in the job."""
  out = {}
  for node in ast.walk(tree):
    if (isinstance(node, ast.ImportFrom) and node.module
        and node.module.startswith('blueprint_oss_spark')):
      module = importlib.import_module(node.module)
      for alias in node.names:
        obj = getattr(module, alias.name)
        if inspect.isfunction(obj):
          out[alias.asname or alias.name] = obj
  return out


def test_job_calls_bind_to_live_signatures():
  tree = _job()
  fns = _package_functions(tree)
  calls = [c for c in ast.walk(tree)
           if isinstance(c, ast.Call) and isinstance(c.func, ast.Name)
           and c.func.id in fns]
  # the corpus operators the job drives must all be seen
  assert {c.func.id for c in calls} >= {
      'url_curation', 'minhash_shingles', 'dedup_paragraphs',
      'bpe_train', 'bpe_encode', 'bloom_decontaminate',
      'pack_interleaved_sequences'}
  stale = []
  for c in calls:
    placeholder = object()
    try:
      inspect.signature(fns[c.func.id]).bind(
          *[placeholder] * len(c.args),
          **{k.arg: placeholder for k in c.keywords if k.arg})
    except TypeError as e:
      stale.append(f'JOB line {c.lineno}: {ast.unparse(c)}: {e}')
  assert not stale, '\n'.join(stale)
