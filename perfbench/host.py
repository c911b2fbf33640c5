"""Host state and process-tree accounting read from /proc.

The benchmark's process tree is this Python driver, the Spark JVM it
launches and the Python workers the JVM forks.  CPU and resident memory
are summed over that tree, so work Spark moves between the JVM and its
Python workers shows in the same number.
"""

from __future__ import annotations

import os
import threading
from typing import Dict, List, Tuple

_TICK = os.sysconf('SC_CLK_TCK')
_PAGE = os.sysconf('SC_PAGE_SIZE')


def _stat_fields(pid: int) -> List[str]:
  with open(f'/proc/{pid}/stat') as f:
    raw = f.read()
  # the command name may hold spaces; the fields after it never do
  return raw[raw.rindex(')') + 2:].split()


def tree_pids(root: int) -> List[int]:
  """`root` and every live descendant."""
  children: Dict[int, List[int]] = {}
  for name in os.listdir('/proc'):
    if not name.isdigit():
      continue
    try:
      ppid = int(_stat_fields(int(name))[1])
    except (OSError, ValueError, IndexError):
      continue  # exited while listing
    children.setdefault(ppid, []).append(int(name))
  out, todo = [], [root]
  while todo:
    pid = todo.pop()
    out.append(pid)
    todo.extend(children.get(pid, ()))
  return out


def tree_cpu_s(root: int) -> float:
  """User+system CPU seconds of the tree, including reaped children."""
  total = 0
  for pid in tree_pids(root):
    try:
      f = _stat_fields(pid)
    except OSError:
      continue
    # utime stime cutime cstime are fields 14-17 of stat(5); the slice
    # starts at field 3
    total += sum(int(x) for x in f[11:15])
  return total / _TICK


def tree_rss_mb(root: int) -> float:
  """Summed RSS of `root`, its direct children (the JVM) and every
  Python process below them (Spark's daemon and workers).  Short-lived
  helpers the JVM spawns are left out: Hadoop's local file system runs
  `chmod` through a vfork, and for that instant the child reports the
  whole JVM's pages as its own."""
  total = 0
  for pid in tree_pids(root):
    try:
      if pid != root and int(_stat_fields(pid)[1]) != root:
        with open(f'/proc/{pid}/comm') as fh:
          if not fh.read().startswith('python'):
            continue
      with open(f'/proc/{pid}/statm') as fh:
        total += int(fh.read().split()[1])
    except (OSError, ValueError, IndexError):
      continue  # exited while sampling
  return total * _PAGE / 2 ** 20


class RssSampler:
  """Samples the tree's summed RSS on a thread; `peak_mb` after stop."""

  def __init__(self, root: int, interval_s: float = 0.1):
    self._root = root
    self._interval = interval_s
    self._stop = threading.Event()
    self._thread = threading.Thread(target=self._run, daemon=True)
    self.peak_mb = 0.0
    self.samples = 0

  def _run(self) -> None:
    while True:
      self.peak_mb = max(self.peak_mb, tree_rss_mb(self._root))
      self.samples += 1
      if self._stop.wait(self._interval):
        return

  def __enter__(self) -> 'RssSampler':
    self._thread.start()
    return self

  def __exit__(self, *exc) -> None:
    self._stop.set()
    self._thread.join()
    self.peak_mb = max(self.peak_mb, tree_rss_mb(self._root))
    self.samples += 1


def become_subreaper() -> None:
  """Have orphaned descendants re-parent to this process rather than to
  init, so `reap_children` can wait for them: Spark's Python daemon and
  workers outlive the JVM that forked them by a moment."""
  import ctypes
  pr_set_child_subreaper = 36
  ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def reap_children(grace_s: float = 20.0, kill_wait_s: float = 10.0) -> None:
  """Wait until every descendant has exited.  The spawn context's
  resource tracker is told to stop first (it ignores SIGTERM); whatever
  is still alive after `grace_s` is killed."""
  import signal
  import time
  from multiprocessing import resource_tracker
  stop = getattr(resource_tracker._resource_tracker, '_stop', None)
  if stop is not None:
    stop()
  deadline = time.monotonic() + grace_s
  killed = False
  while True:
    try:
      pid, _ = os.waitpid(-1, os.WNOHANG)
    except ChildProcessError:
      return  # no children left
    if pid:
      continue
    if time.monotonic() > deadline:
      if killed:
        return
      for p in tree_pids(os.getpid())[1:]:
        try:
          os.kill(p, signal.SIGKILL)
        except OSError:
          pass
      killed, deadline = True, time.monotonic() + kill_wait_s
    time.sleep(0.02)


def cpu_times() -> Tuple[int, int]:
  """(steal, total) jiffies of the host's aggregate cpu line."""
  with open('/proc/stat') as f:
    vals = [int(x) for x in f.readline().split()[1:]]
  # user nice system idle iowait irq softirq steal [guest guest_nice];
  # guest time is already inside user/nice
  return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def steal_share(before: Tuple[int, int], after: Tuple[int, int]) -> float:
  d_total = after[1] - before[1]
  return (after[0] - before[0]) / d_total if d_total > 0 else 0.0


def loadavg() -> List[float]:
  with open('/proc/loadavg') as f:
    return [float(x) for x in f.read().split()[:3]]
