"""Values derived from a blueprint spec have one home, model/rules.py.

Specs (predicates, rules, nodes) are frozen dataclasses.  A value
derived from one is cached on the instance either as a
`functools.cached_property` or through `rules.derived`, and
`rules.Spec.__getstate__` keeps every such value out of pickles.  A
cache written with `object.__setattr__` or through the instance
`__dict__` anywhere else is a second mechanism that pickling, tests and
per-process state have to know about (a tree pickled after solving once
shipped its memos that way).  So under model/ and engine/, only
`rules.Spec` and `rules.derived` touch `__dict__`, and nothing calls
`__setattr__` or `vars()`."""

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent \
    / 'blueprint_oss_spark'
DIRS = ('model', 'engine')

#: (module, top-level definition) allowed to touch an instance __dict__
ALLOWED = {
    ('model/rules.py', 'Spec'),
    ('model/rules.py', 'derived'),
}


def _accesses():
  """(module, top-level definition, line, what) for every `__dict__` or
  `__setattr__` reference and `vars()` call under model/ and engine/."""
  for d in DIRS:
    for path in sorted((PACKAGE / d).rglob('*.py')):
      mod = path.relative_to(PACKAGE).as_posix()
      tree = ast.parse(path.read_text(), filename=str(path))
      for top in tree.body:
        owner = getattr(top, 'name', '<module>')
        for node in ast.walk(top):
          if (isinstance(node, ast.Attribute)
              and node.attr in ('__dict__', '__setattr__')):
            yield mod, owner, node.lineno, node.attr
          elif (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == 'vars'):
            yield mod, owner, node.lineno, 'vars()'


def test_no_adhoc_cache_on_specs():
  found = [f'{mod}:{line} in {owner}: {what} — cache a derived value '
           f'with functools.cached_property or model.rules.derived'
           for mod, owner, line, what in _accesses()
           if (mod, owner) not in ALLOWED or what != '__dict__']
  assert not found, found


def test_allowlist_has_no_stale_entries():
  live = {(mod, owner) for mod, owner, _, _ in _accesses()}
  assert ALLOWED <= live, ALLOWED - live
