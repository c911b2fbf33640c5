"""Synthesis parity: a labeled example produces the same rule-set as the
reference synthesizer, and the synthesized model extracts the target on
fresh same-layout documents."""

from blueprint_oss_spark.engine.synthesis import synthesize_pattern_node
from blueprint_oss_spark.fixtures import labelvalue_corpus

from .refshim import reference_doc_from_spans
from .test_synthesis_fresh_docs import SCHEMA, _label_value_example


def test_synthesized_rules_match_reference():
  from bp.synthesis.synthesize import synthesize_pattern_node as ref_syn
  from bp.targets import Entry
  from bp.extraction import Extraction, ExtractionPoint

  docs = labelvalue_corpus(4, seed=310, with_media=False)
  doc_id, spans, pool, assign = _label_value_example(docs, 0)

  ours = synthesize_pattern_node(assign, SCHEMA, pool)

  # reference side: map our entity ids to reference entities
  ref_doc = reference_doc_from_spans(doc_id, spans)
  from .test_predicate_parity import _match_entities
  matched = dict(_match_entities(pool, ref_doc))
  ref_extraction = Extraction(tuple(
      ExtractionPoint(f, matched[e]) for f, e in sorted(assign.items())))
  ref_schema = tuple(Entry(e.field, e.type, e.is_label) for e in SCHEMA)
  ref_node = ref_syn(ref_extraction, ref_schema, ref_doc)

  def rule_sig(rules):
    out = []
    for r in rules:
      pred = getattr(r, 'predicate', None)
      name = getattr(pred, 'name', None) or type(r).__name__.lower()
      if hasattr(r, 'rules'):
        out.append((type(r).__name__.lower(), tuple(sorted(
            (getattr(x.predicate, 'name', ''), tuple(x.fields))
            for x in r.rules))))
      else:
        out.append((name, tuple(r.fields)))
    return sorted(map(repr, out))

  ours_sig = rule_sig(ours.rules)
  ref_sig = rule_sig(ref_node.rules)
  assert ours_sig == ref_sig, (ours_sig, ref_sig)

