"""Every operator option has a caller.

A defaulted parameter of a public module-level function in ops/ or
spark/ is an option.  An option that no call sets has exactly one
value, so it is a constant spelled as a parameter: one more thing to
document, to carry across a refactor and to keep in step with the
oracle SQL, for nothing.  Write it as a literal at its use, or as one
module-level constant when several functions must agree on it.

A call sets an option by keyword, by position, or by a `**NAME` splat
of a module-level dict literal; a function that splats its own
`**kwargs` into a call passes on every keyword its callers set, and a
call through the variable of `for op in (f, g, ...)` calls each of
f, g, ..., and a call through an import alias (`from m import f as g`)
calls f.
Calls are searched in the package, scripts/, tests/, perfbench/,
__spark_entry__.py and bench.py — and in module-level strings of
Python source there, like the job that scripts/cluster_scaling.py
hands to spark-submit — and are matched to functions by name (a name
shared by two functions counts a call for both).  A DataFrame-typed
parameter (an input seam such as `docs=`) is held to the same rule: a
seam no call passes is a second input path nothing exercises.
An option kept on purpose without a caller is allowlisted below with
its reason."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / 'blueprint_oss_spark'
OPERATOR_DIRS = (PACKAGE / 'ops', PACKAGE / 'spark')
CALLER_FILES = (sorted(PACKAGE.rglob('*.py'))
                + sorted((ROOT / 'scripts').glob('*.py'))
                + sorted((ROOT / 'tests').glob('*.py'))
                + sorted((ROOT / 'perfbench').glob('*.py'))
                + [ROOT / '__spark_entry__.py', ROOT / 'bench.py'])

_SORT = ("the presented() contract: sort=False hands the frame back "
         'unsorted for composition, as on the operators '
         'test_sort_optout.py drives')
_HUB_CAP = ('hub cap, off (0) by default until exact adaptive '
            'replication replaces it')
_MAX_FILES = 'stream deployment setting: files admitted per micro-batch'
_WATERMARK = 'stream deployment setting: how late an event may arrive'

#: module.function.option -> why it stays an option without a caller
ALLOWED = {
    'curation.decontaminate_spans.sort': _SORT,
    'textops.pack_interleaved_sequences.sort': _SORT,
    'textops.minhash_calibration.max_bucket_size': _HUB_CAP,
    'textops.dedup_groups.max_bucket_size': _HUB_CAP,
    'textops.ngram_jaccard_pairs.max_shingle_df': _HUB_CAP,
    'multimodal.media_quality_verdicts.broadcast_dim':
        'fallback for a dimension table too large to broadcast',
    'streaming.start_extraction_stream.max_files_per_trigger': _MAX_FILES,
    'streaming.start_incremental_dedup_stream.max_files_per_trigger':
        _MAX_FILES,
    'streaming.start_validation_stream.max_files_per_trigger': _MAX_FILES,
    'streaming.windowed_extraction_metrics.watermark': _WATERMARK,
    'streaming.sessionized_doc_activity.watermark': _WATERMARK,
    'streaming.start_attribution_join_stream.watermark': _WATERMARK,
}


def _options():
  """module.function.option -> (function name, positional index or
  None) for every defaulted parameter of a public module-level
  function under ops/ and spark/."""
  out = {}
  for d in OPERATOR_DIRS:
    for path in sorted(d.glob('*.py')):
      for fn in ast.parse(path.read_text()).body:
        if (not isinstance(fn, ast.FunctionDef)
            or fn.name.startswith('_')):
          continue
        a = fn.args
        positional = a.posonlyargs + a.args
        defaulted = [(p, i) for i, p in enumerate(positional)
                     if i >= len(positional) - len(a.defaults)]
        defaulted += [(p, None) for p, dflt
                      in zip(a.kwonlyargs, a.kw_defaults)
                      if dflt is not None]
        for p, idx in defaulted:
          out[f'{path.stem}.{fn.name}.{p.arg}'] = (fn.name, idx)
  return out


def _module_dicts(tree):
  """name -> keys of every module-level `NAME = {...}` / `dict(...)`
  literal."""
  out = {}
  for node in tree.body:
    if not (isinstance(node, ast.Assign) and len(node.targets) == 1
            and isinstance(node.targets[0], ast.Name)):
      continue
    v = node.value
    if isinstance(v, ast.Dict):
      keys = {k.value for k in v.keys if isinstance(k, ast.Constant)}
    elif (isinstance(v, ast.Call) and isinstance(v.func, ast.Name)
          and v.func.id == 'dict' and not v.args):
      keys = {k.arg for k in v.keywords if k.arg}
    else:
      continue
    out[node.targets[0].id] = keys
  return out


def _caller_trees():
  """Each caller file's AST, then the AST of every module-level string
  constant in it that parses as Python (a job shipped as source)."""
  for path in CALLER_FILES:
    tree = ast.parse(path.read_text())
    yield tree
    for node in tree.body:
      if (isinstance(node, ast.Assign)
          and isinstance(node.value, ast.Constant)
          and isinstance(node.value.value, str)):
        try:
          yield ast.parse(node.value.value)
        except SyntaxError:
          pass


def _callee(call):
  f = call.func
  return f.id if isinstance(f, ast.Name) else \
      f.attr if isinstance(f, ast.Attribute) else None


def _aliases(tree):
  """alias -> imported name for every `from m import name as alias`."""
  return {a.asname: a.name for node in ast.walk(tree)
          if isinstance(node, ast.ImportFrom)
          for a in node.names if a.asname}


def _loop_callees(tree):
  """id(call) -> the functions a call through a loop variable reaches:
  in `for op in (f, g, ...): op(...)` each call to `op` calls f, g,
  ..."""
  out = {}
  for loop in ast.walk(tree):
    if not (isinstance(loop, ast.For) and isinstance(loop.target, ast.Name)
            and isinstance(loop.iter, (ast.Tuple, ast.List))):
      continue
    fns = [e.id if isinstance(e, ast.Name) else e.attr
           for e in loop.iter.elts
           if isinstance(e, (ast.Name, ast.Attribute))]
    for stmt in loop.body:
      for c in ast.walk(stmt):
        if isinstance(c, ast.Call) and _callee(c) == loop.target.id:
          out[id(c)] = fns
  return out


def _set_by_calls():
  """function name -> (keywords set, highest positional index set)."""
  seen = {}
  forwards = []  # (function, callee it splats its own **kwargs into)
  for tree in _caller_trees():
    dicts = _module_dicts(tree)
    via_loop = _loop_callees(tree)
    aliases = _aliases(tree)
    for node in ast.walk(tree):
      if isinstance(node, ast.FunctionDef) and node.args.kwarg:
        forwards += [
            (node.name, _callee(c)) for c in ast.walk(node)
            if isinstance(c, ast.Call) and _callee(c) and any(
                k.arg is None and isinstance(k.value, ast.Name)
                and k.value.id == node.args.kwarg.arg
                for k in c.keywords)]
      if not isinstance(node, ast.Call) or _callee(node) is None:
        continue
      for fn in via_loop.get(id(node), [_callee(node)]):
        fn = aliases.get(fn, fn)
        kws, npos = seen.setdefault(fn, (set(), [0]))
        for k in node.keywords:
          if k.arg is not None:
            kws.add(k.arg)
          elif isinstance(k.value, ast.Name) and k.value.id in dicts:
            kws |= dicts[k.value.id]
        starred = any(isinstance(a, ast.Starred) for a in node.args)
        npos[0] = max(npos[0], 1 << 30 if starred else len(node.args))
  changed = True
  while changed:
    changed = False
    for outer, callee in forwards:
      passed = seen.get(outer, (set(), [0]))[0]
      kws = seen.setdefault(callee, (set(), [0]))[0]
      if not passed <= kws:
        kws |= passed
        changed = True
  return seen


def _uncalled():
  seen = _set_by_calls()
  out = []
  for key, (fn, idx) in _options().items():
    kws, npos = seen.get(fn, (set(), [0]))
    option = key.rsplit('.', 1)[1]
    if option in kws or (idx is not None and idx < npos[0]):
      continue
    out.append(key)
  return out


def test_every_option_is_set_by_a_caller():
  found = [f'{key}: no call sets it — make it a literal at its use, '
           f'or one module-level constant'
           for key in _uncalled() if key not in ALLOWED]
  assert not found, f'{len(found)} options without a caller:\n' + \
      '\n'.join(found)


def test_allowlist_has_no_stale_entries():
  stale = set(ALLOWED) - set(_uncalled())
  assert not stale, stale
