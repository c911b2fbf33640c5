"""Fold a Spark event log (uncompressed, not rolling) into the
per-pass `spark`, `pipeline`, `scan` and `job` layer metrics.

Passes are matched to jobs by wall-clock interval: the benchmark runs
one pass at a time, so every job submitted inside a pass's interval
belongs to it.  Timestamps in the log and the pass bounds are both
epoch milliseconds of the same host clock.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field
from typing import Dict, List, Tuple

_MB = 2 ** 20


@dataclass
class Task:
  stage: int
  launch_ms: int
  finish_ms: int
  run_ms: int
  cpu_ns: int
  gc_ms: int
  input_bytes: int
  input_records: int
  shuffle_bytes: int
  sql: Dict[str, int]  # SQL metric name -> this task's update


@dataclass
class Log:
  jobs: Dict[int, Tuple[int, int, List[int]]] = field(default_factory=dict)
  tasks: List[Task] = field(default_factory=list)
  # top-level SQL execution id -> (start_ms, end_ms)
  sql: Dict[int, Tuple[int, int]] = field(default_factory=dict)
  sql_of_job: Dict[int, int] = field(default_factory=dict)


_PY_METRICS = ('time to initialize Python workers',
               'time to run Python workers',
               'data sent to Python workers',
               'data returned from Python workers')


def read_log(path: str) -> Log:
  log = Log()
  submit: Dict[int, Tuple[int, List[int]]] = {}
  sql_start: Dict[int, int] = {}
  with open(path) as f:
    for line in f:
      e = json.loads(line)
      kind = e['Event'].rsplit('.', 1)[-1]
      if kind == 'SparkListenerJobStart':
        submit[e['Job ID']] = (e['Submission Time'], e['Stage IDs'])
        sql_id = (e.get('Properties') or {}).get('spark.sql.execution.id')
        if sql_id is not None:
          log.sql_of_job[e['Job ID']] = int(sql_id)
      elif kind == 'SparkListenerJobEnd':
        t0, stages = submit.pop(e['Job ID'])
        log.jobs[e['Job ID']] = (t0, e['Completion Time'], stages)
      elif kind == 'SparkListenerTaskEnd':
        info, m = e['Task Info'], e.get('Task Metrics') or {}
        sh_r = m.get('Shuffle Read Metrics', {})
        log.tasks.append(Task(
            stage=e['Stage ID'],
            launch_ms=info['Launch Time'], finish_ms=info['Finish Time'],
            run_ms=m.get('Executor Run Time', 0),
            cpu_ns=m.get('Executor CPU Time', 0),
            gc_ms=m.get('JVM GC Time', 0),
            input_bytes=m.get('Input Metrics', {}).get('Bytes Read', 0),
            input_records=m.get('Input Metrics', {}).get('Records Read', 0),
            shuffle_bytes=(sh_r.get('Remote Bytes Read', 0)
                           + sh_r.get('Local Bytes Read', 0)
                           + m.get('Shuffle Write Metrics', {})
                           .get('Shuffle Bytes Written', 0)),
            sql={a['Name']: int(a['Update'])
                 for a in info.get('Accumulables', ())
                 if a.get('Name') in _PY_METRICS}))
      elif kind == 'SparkListenerSQLExecutionStart':
        if e.get('rootExecutionId', e['executionId']) == e['executionId']:
          sql_start[e['executionId']] = e['time']
      elif kind == 'SparkListenerSQLExecutionEnd':
        if e['executionId'] in sql_start:
          log.sql[e['executionId']] = (sql_start.pop(e['executionId']),
                                       e['time'])
  return log


def _covered_ms(intervals: List[Tuple[int, int]]) -> int:
  total, end = 0, None
  for a, b in sorted(intervals):
    if end is None or a > end:
      total += b - a
      end = b
    elif b > end:
      total += b - end
      end = b
  return total


def fold_pass(log: Log, t0_ms: int, t1_ms: int, k: int) -> dict:
  """Layer metrics of the pass that ran from t0_ms to t1_ms on k slots."""
  jobs = {j: v for j, v in log.jobs.items() if t0_ms <= v[0] <= t1_ms}
  stages = {s for (_, _, ss) in jobs.values() for s in ss}
  tasks = [t for t in log.tasks if t.stage in stages]
  wall_ms = max(t1_ms - t0_ms, 1)
  covered = _covered_ms([(max(a, t0_ms), min(b, t1_ms))
                         for (a, b, _) in jobs.values()])
  durs = sorted(t.finish_ms - t.launch_ms for t in tasks)
  groups = sorted({log.sql_of_job[j] for j in jobs if j in log.sql_of_job})
  group_s = [(log.sql[g][1] - log.sql[g][0]) / 1000.0
             for g in groups if g in log.sql]

  def py(name: str) -> int:
    return sum(t.sql.get(name, 0) for t in tasks)

  return {
      'spark.jobs': len(jobs),
      'spark.tasks': len(tasks),
      'spark.task_run_s': sum(t.run_ms for t in tasks) / 1000.0,
      'spark.task_cpu_s': sum(t.cpu_ns for t in tasks) / 1e9,
      'spark.gc_s': sum(t.gc_ms for t in tasks) / 1000.0,
      'spark.shuffle_mb': sum(t.shuffle_bytes for t in tasks) / _MB,
      'spark.driver_gap_s': (wall_ms - covered) / 1000.0,
      'spark.slot_busy_ratio': sum(durs) / (k * wall_ms),
      'spark.task_skew': (durs[-1] / max(statistics.median(durs), 1)
                          if durs else 0.0),
      'pipeline.py_init_s': py(_PY_METRICS[0]) / 1000.0,
      'pipeline.py_run_s': py(_PY_METRICS[1]) / 1000.0,
      'pipeline.arrow_in_mb': py(_PY_METRICS[2]) / _MB,
      'pipeline.arrow_out_mb': py(_PY_METRICS[3]) / _MB,
      'scan.input_mb': sum(t.input_bytes for t in tasks) / _MB,
      'scan.records': sum(t.input_records for t in tasks),
      'job.group_s.median': statistics.median(group_s) if group_s else 0.0,
      'job.group_s.max': max(group_s, default=0.0),
      'job.groups_seen': len(group_s),
  }
