"""One operator shape: a corpus operator is a DataFrame -> DataFrame
transform.  It takes the frames it consumes as parameters, reads no
file, and takes neither `sf_dir` nor `spark` (it uses
`df.sparkSession` where it needs a session).  Reading the corpus is
`spark/sources.documents`' job alone.

CONVERTED lists the ops modules already in this shape; a module joins
it when its operators are migrated."""

import ast
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / 'blueprint_oss_spark'
CONVERTED = ('textops', 'curation', 'unigram', 'warc')


def _tree(module):
  return ast.parse((PACKAGE / 'ops' / f'{module}.py').read_text())


def _public_functions(module):
  return [n for n in _tree(module).body
          if isinstance(n, ast.FunctionDef) and not n.name.startswith('_')]


def _params(fn):
  a = fn.args
  return a.posonlyargs + a.args + a.kwonlyargs


def _is_frame(param):
  return (param.annotation is not None
          and 'DataFrame' in ast.unparse(param.annotation))


@pytest.mark.parametrize('module', CONVERTED)
def test_no_sf_dir_parameter(module):
  bad = [fn.name for fn in _public_functions(module)
         if any(p.arg == 'sf_dir' for p in _params(fn))]
  assert not bad, f'{module}: {bad} take sf_dir'


@pytest.mark.parametrize('module', CONVERTED)
def test_no_frame_and_spark_parameters_together(module):
  bad = [fn.name for fn in _public_functions(module)
         if any(p.arg == 'spark' for p in _params(fn))
         and any(_is_frame(p) for p in _params(fn))]
  assert not bad, (f'{module}: {bad} take a DataFrame and spark; use '
                   'the frame\'s sparkSession')


@pytest.mark.parametrize('module', CONVERTED)
def test_reads_no_file(module):
  bad = [f'line {n.lineno}: {ast.unparse(n)}'
         for n in ast.walk(_tree(module))
         if (isinstance(n, ast.Attribute)
             and n.attr in ('read', 'readStream'))
         or (isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
             and n.func.id == 'open')]
  assert not bad, f'{module} reads a file:\n' + '\n'.join(bad)


def test_documents_table_named_once():
  naming = sorted(p.relative_to(PACKAGE).as_posix()
                  for p in PACKAGE.rglob('*.py')
                  if 'documents.parquet' in p.read_text())
  assert naming == ['spark/sources.py'], naming
