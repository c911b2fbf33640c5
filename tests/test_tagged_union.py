"""One way to compose a multi-section gate row.

A gate row that carries several operators is a union of method-tagged
sections, and `_tagged_union` is the one place in `__spark_entry__.py`
that unions them: each section selects only its own columns, and a
column a section lacks comes out NULL, typed by the sections that have
it.  A hand-written union elsewhere would bring back the per-section
NULL padding that restates every other section's columns."""

import ast
import pathlib

ENTRY = pathlib.Path(__file__).resolve().parent.parent / '__spark_entry__.py'


def test_only_tagged_union_calls_union_by_name():
  tree = ast.parse(ENTRY.read_text())
  inside = set()
  for fn in tree.body:
    if isinstance(fn, ast.FunctionDef) and fn.name == '_tagged_union':
      inside = {id(n) for n in ast.walk(fn)}
  assert inside, '_tagged_union is gone from __spark_entry__.py'
  outside = [n.lineno for n in ast.walk(tree)
             if isinstance(n, ast.Attribute) and n.attr == 'unionByName'
             and id(n) not in inside]
  assert not outside, (f'unionByName outside _tagged_union at lines '
                       f'{outside}: compose sections with _tagged_union')


def test_missing_columns_are_typed_nulls(spark):
  from pyspark.sql import functions as F

  import __spark_entry__ as E
  a = spark.range(2).select(F.lit('a').alias('method'),
                            F.col('id').cast('int').alias('x'))
  b = spark.range(1).select(F.lit('b').alias('method'),
                            F.col('id').alias('y'))
  u = E._tagged_union(a, b)
  assert dict(u.dtypes) == {'method': 'string', 'x': 'int', 'y': 'bigint'}
  assert sorted(tuple(r) for r in u.collect()) == [
      ('a', 0, None), ('a', 1, None), ('b', None, 0)]
