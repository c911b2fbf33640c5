"""Blueprint targets files: ground-truth labels for accuracy scoring.

Parity surface: bp/targets.py (the JSON format + validation, 1:1 field
names so files round-trip through the reference's
`load_targets_from_json`) and
bp/synthesis/targets.py:26-70 (`generate_target_extraction` — locate the
labeled entity for each field in a document's entity pool).

Accuracy methodology mirrors the reference's VLDB'22 evaluation
(vldb22.md:34-47): per-field exact text match between the engine's best
extraction and the target value; a None target text means the field must
be unassigned.  `accuracy_dataframe` runs the comparison distributed
(one row per (doc, field), groupBy field — Spark built-ins only).
"""

from __future__ import annotations

from dataclasses import asdict, dataclass, field as dc_field
from typing import Any, Dict, List, Optional, Tuple

from ..engine.docmodel import DocPool

Field = str


@dataclass(frozen=True)
class TargetWord:
  text: str
  # bbox in PERCENTAGES of doc width/height (bp/targets.py:18-25)
  x0: float
  x1: float
  y0: float
  y1: float


@dataclass(frozen=True)
class TargetValue:
  text: Optional[str] = None
  words: Optional[Tuple[TargetWord, ...]] = None
  geometry_validated: bool = False


@dataclass(frozen=True)
class TargetAssignment:
  field: str
  value: TargetValue


@dataclass(frozen=True)
class DocTargets:
  doc_name: str
  assignments: Tuple[TargetAssignment, ...]
  doc_tags: Tuple[str, ...] = ()
  notes: Optional[str] = None

  @property
  def fields(self) -> Tuple[str, ...]:
    return tuple(a.field for a in self.assignments)


@dataclass(frozen=True)
class Entry:
  field: str
  type: str
  is_label: bool


@dataclass(frozen=True)
class Slice:
  description: str
  include_doc_tags: Tuple[str, ...] = ()
  require_doc_tags: Tuple[str, ...] = ()
  exclude_doc_tags: Tuple[str, ...] = ()
  notes: Optional[str] = None


@dataclass(frozen=True)
class OutputConfig:
  doc_tags: Tuple[str, ...] = ()
  field_groups: Tuple[str, ...] = ()
  slices: Dict[str, Slice] = dc_field(default_factory=dict)


@dataclass(frozen=True)
class FieldGroup:
  fields: Tuple[str, ...] = ()
  description: str = ''


@dataclass(frozen=True)
class Targets:
  doc_targets: Tuple[DocTargets, ...]
  schema: Tuple[Entry, ...]
  output_config: OutputConfig = OutputConfig()
  doc_tags: Dict[str, str] = dc_field(default_factory=dict)
  field_groups: Dict[str, FieldGroup] = dc_field(default_factory=dict)

  def get_by_doc_name(self, doc_name: str) -> DocTargets:
    for dt in self.doc_targets:
      if dt.doc_name == doc_name:
        return dt
    raise ValueError(f'doc {doc_name} missing from targets')


def schema_type_map(schema: Tuple[Entry, ...]) -> Dict[str, str]:
  return {e.field: e.type for e in schema}


# ---------------------------------------------------------------------------
# JSON (reference bp/targets.py format — bbox as {ix:{a,b},iy:{a,b}})
# ---------------------------------------------------------------------------

def _bbox_json(w: TargetWord) -> Dict[str, Any]:
  return {'ix': {'a': w.x0, 'b': w.x1}, 'iy': {'a': w.y0, 'b': w.y1}}


def _word_from_json(blob: Dict[str, Any]) -> TargetWord:
  b = blob['bbox']
  return TargetWord(blob['text'],
                    float(b['ix']['a']), float(b['ix']['b']),
                    float(b['iy']['a']), float(b['iy']['b']))


def load_targets_from_json(blob: Dict[str, Any],
                           silent: bool = True) -> Targets:
  def value(v: Dict[str, Any]) -> TargetValue:
    words = v.get('words')
    return TargetValue(
        text=v.get('text'),
        words=None if words is None
        else tuple(_word_from_json(w) for w in words),
        geometry_validated=bool(v.get('geometry_validated', False)))

  doc_targets = tuple(
      DocTargets(
          doc_name=dt['doc_name'],
          assignments=tuple(
              TargetAssignment(a['field'], value(a['value']))
              for a in dt.get('assignments') or ()),
          doc_tags=tuple(dt.get('doc_tags') or ()),
          notes=dt.get('notes'))
      for dt in blob.get('doc_targets') or ())
  schema = tuple(Entry(e['field'], e['type'], bool(e['is_label']))
                 for e in blob.get('schema') or ())
  oc = blob.get('output_config') or {}
  output_config = OutputConfig(
      doc_tags=tuple(oc.get('doc_tags') or ()),
      field_groups=tuple(oc.get('field_groups') or ()),
      slices={k: Slice(s['description'],
                       tuple(s.get('include_doc_tags') or ()),
                       tuple(s.get('require_doc_tags') or ()),
                       tuple(s.get('exclude_doc_tags') or ()),
                       s.get('notes'))
              for k, s in (oc.get('slices') or {}).items()})
  field_groups = {k: FieldGroup(tuple(g.get('fields') or ()),
                                g.get('description', ''))
                  for k, g in (blob.get('field_groups') or {}).items()}
  targets = Targets(doc_targets, schema, output_config,
                    dict(blob.get('doc_tags') or {}), field_groups)
  return validate(targets, silent=silent)


def targets_to_json(targets: Targets) -> Dict[str, Any]:
  """Emit the reference's exact on-disk shape (bp/targets.py asdict of
  its dataclass tree — lists for tuples, nested bbox dicts)."""
  def value_json(v: TargetValue) -> Dict[str, Any]:
    return {
        'text': v.text,
        'words': None if v.words is None
        else [{'text': w.text, 'bbox': _bbox_json(w)} for w in v.words],
        'geometry_validated': v.geometry_validated,
    }

  blob = asdict(targets)
  blob['doc_targets'] = [{
      'doc_name': dt.doc_name,
      'assignments': [{'field': a.field, 'value': value_json(a.value)}
                      for a in dt.assignments],
      'doc_tags': list(dt.doc_tags),
      'notes': dt.notes,
  } for dt in targets.doc_targets]
  blob['schema'] = [asdict(e) for e in targets.schema]
  blob['output_config'] = {
      'doc_tags': list(targets.output_config.doc_tags),
      'field_groups': list(targets.output_config.field_groups),
      'slices': {k: asdict(s)
                 for k, s in targets.output_config.slices.items()},
  }
  blob['field_groups'] = {k: asdict(g)
                          for k, g in targets.field_groups.items()}
  return blob


def validate(targets: Targets, silent: bool = True) -> Targets:
  """Same hard errors as bp/targets.py:221-268 (warnings suppressed by
  default — bulk jobs have no stdout contract)."""
  schema_fields = {e.field for e in targets.schema}
  for dt in targets.doc_targets:
    for tag in dt.doc_tags:
      if tag not in targets.doc_tags:
        raise ValueError(
            f'unrecognized doc tag {tag} in doc {dt.doc_name} -- '
            f'please add a description for {tag}')
    for f in dt.fields:
      if f not in schema_fields:
        raise ValueError(
            f'field {f} in doc {dt.doc_name} is missing from schema')
  for tag in targets.output_config.doc_tags:
    if tag not in targets.doc_tags:
      raise ValueError(f'unrecognized doc tag {tag} in output config')
  for fg in targets.output_config.field_groups:
    if fg not in targets.field_groups:
      raise ValueError(f'unrecognized field group {fg} in output config')
  for slice_name, s in targets.output_config.slices.items():
    for tag in (tuple(s.include_doc_tags) + tuple(s.require_doc_tags)
                + tuple(s.exclude_doc_tags)):
      if tag not in targets.doc_tags:
        raise ValueError(
            f'unrecognized doc tag {tag} in output config slice '
            f'{slice_name}')
  return targets


# ---------------------------------------------------------------------------
# Target → entity resolution (bp/synthesis/targets.py:26-70)
# ---------------------------------------------------------------------------

def generate_target_extraction(
    doc_targets: DocTargets,
    schema: Tuple[Entry, ...],
    pool: DocPool) -> Optional[Dict[Field, int]]:
  """Find, for every target assignment, the pool entity whose word-text
  set equals the target's word set, whose type matches the schema, and
  whose bbox intersects the target's (percentage-space) region.  Returns
  None if any field cannot be resolved — same contract as the
  reference."""
  types = schema_type_map(schema)
  doc_w = pool.dx1 - pool.dx0
  doc_h = pool.dy1 - pool.dy0

  out: Dict[Field, int] = {}
  for a in doc_targets.assignments:
    tv = a.value
    if not tv.words:
      return None
    x0 = min(w.x0 for w in tv.words) * doc_w + pool.dx0
    x1 = max(w.x1 for w in tv.words) * doc_w + pool.dx0
    y0 = min(w.y0 for w in tv.words) * doc_h + pool.dy0
    y1 = max(w.y1 for w in tv.words) * doc_h + pool.dy0
    want_texts = frozenset(w.text for w in tv.words)
    want_type = types[a.field]
    found = None
    for eid in range(pool.n_entities):
      if pool.etype[eid] != want_type:
        continue
      # bbox intersects the target region (closed intervals,
      # bp/geometry.py intersect semantics)
      if (pool.ex1[eid] < x0 or pool.ex0[eid] > x1
          or pool.ey1[eid] < y0 or pool.ey0[eid] > y1):
        continue
      texts = frozenset(pool.word_text[w] for w in pool.ewords[eid])
      if texts == want_texts:
        found = eid
        break
    if found is None:
      return None
    out[a.field] = found
  return out


def targets_from_extractions(
    docs: List[Tuple[str, Dict[str, str]]],
    schema: Tuple[Entry, ...]) -> Targets:
  """Build a text-only targets file from (doc_name, field→text) rows —
  the shape produced when labels come from a prior engine run or a
  human-labeled CSV (text-only targets carry no word geometry, so
  geometry_validated=False, bp/targets.py:36-47)."""
  return Targets(
      doc_targets=tuple(
          DocTargets(doc_name=name,
                     assignments=tuple(
                         TargetAssignment(f, TargetValue(text=t))
                         for f, t in sorted(fields.items())))
          for name, fields in docs),
      schema=schema)


# ---------------------------------------------------------------------------
# Distributed accuracy (Spark built-ins; no Python in the compare path)
# ---------------------------------------------------------------------------

def targets_dataframe(spark, targets: Targets):
  """Targets → DataFrame (doc_id, field, target_text)."""
  rows = [(dt.doc_name, a.field, a.value.text)
          for dt in targets.doc_targets for a in dt.assignments]
  return spark.createDataFrame(rows, 'doc_id string, field string, '
                                     'target_text string')


def accuracy_dataframe(extractions, targets_df):
  """Per-field accuracy of an extraction output against targets.

  extractions: OUTPUT_SCHEMA DataFrame (doc_id, fields map, ...).
  targets_df:  (doc_id, field, target_text) rows.

  Match rule (vldb22.md:34-47): extracted text equals target text;
  a NULL target text requires the field to be unassigned.  Entirely
  JVM-side: join + null-safe equality + groupBy.
  """
  from pyspark.sql import functions as F

  ex = extractions.select('doc_id', 'fields')
  joined = targets_df.join(ex, 'doc_id', 'left')
  extracted = F.element_at(F.col('fields'), F.col('field'))
  match = extracted.eqNullSafe(F.col('target_text'))
  return (joined
          .select('field',
                  match.cast('int').alias('correct'))
          .groupBy('field')
          .agg(F.count('*').alias('n_docs'),
               F.sum('correct').alias('n_correct'))
          .withColumn('accuracy',
                      F.round(F.col('n_correct') / F.col('n_docs'), 6))
          .orderBy('field'))
