"""Comparison-table renderer parity (reference bp/compare.py)."""

import pytest

from blueprint_oss_spark.model.compare import (
    Cluster, Row, draw_table, render_clusters, tabulate,
)

from .refshim import _ensure_reference_loaded  # noqa: F401


def _ref_modules():
  import bp.compare as rc
  return rc


ROWS = [
    ['doc name', 'invoice-1.pdf'],
    [],
    ['', 'total ✓', 'date ✗'],
    ['extracted', '$1,000.00', ''],
    ['targets', '$1,000.00', '2021-01-05'],
    [],
]


def test_tabulate_matches_reference():
  rc = _ref_modules()
  assert tabulate(ROWS) == rc.tabulate(ROWS)
  assert tabulate([]) == rc.tabulate([])
  assert tabulate([[], []]) == rc.tabulate([[], []])
  ragged = [['a'], ['bb', 'c', 'dd'], [None, 'x', 'y']]
  assert tabulate(ragged) == rc.tabulate(ragged)


def test_render_clusters_matches_reference():
  rc = _ref_modules()
  ours = (
      Cluster(heading=(('doc name', 'd1'), ('notes', 'n')),
              rows=(Row('extracted', {'a': '1', 'b': ''}),
                    Row('targets', {'a': '1', 'b': '2'})),
              checkmarks={'a': True, 'b': False}),
      Cluster(heading=(('doc name', 'd2'),),
              rows=(Row('extracted', {'a': 'x', 'b': 'y'}),
                    Row('targets', {'a': 'x', 'b': 'y'})),
              checkmarks={'a': True, 'b': True}),
  )
  theirs = tuple(
      rc.Cluster(heading=c.heading,
                 rows=tuple(rc.Row(r.name, r.dictionary)
                            for r in c.rows),
                 checkmarks=c.checkmarks)
      for c in ours)
  keys = ('a', 'b')
  assert render_clusters(ours, keys) == rc.render_clusters(theirs, keys)


def test_draw_table_matches_reference():
  rc = _ref_modules()
  rows = [['field', 'n', 'correct'],
          ['total', '100', '93'],
          ['date', '100', '7']]
  assert draw_table(rows) == rc.draw_table(rows)
  with pytest.raises(ValueError):
    draw_table([['a'], ['b', 'c']])
  with pytest.raises(ValueError):
    rc.draw_table([['a'], ['b', 'c']])

