"""The targets comparison report: per-document checkmarks against the
targets, rendered as a table."""

from blueprint_oss_spark.model.compare import (
    render_clusters, targets_comparison_clusters,
)
from blueprint_oss_spark.model.targets import (
    Entry, targets_from_extractions,
)


def test_targets_comparison_report():
  schema = (Entry('total', 'DollarAmount', False),
            Entry('date', 'Date', False))
  targets = targets_from_extractions(
      [('d1', {'total': '$5', 'date': 'Jan 1'}),
       ('d2', {'total': '$9', 'date': None})], schema)
  extracted = {'d1': {'total': '$5', 'date': 'Feb 2'},
               'd2': {'total': '$9'}}
  clusters, keys = targets_comparison_clusters(extracted, targets)
  assert keys == ('date', 'total')
  assert clusters[0].checkmarks == {'date': False, 'total': True}
  assert clusters[1].checkmarks == {'date': True, 'total': True}
  text = render_clusters(clusters, keys)
  assert 'date ✗' in text and 'total ✓' in text and 'd2' in text
