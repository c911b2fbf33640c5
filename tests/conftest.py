import pathlib

import pytest

#: root of the checkout these tests run from: subprocesses and script
#: imports use it, so a copy of the repository tests its own package
REPO_ROOT = pathlib.Path(__file__).resolve().parent.parent


@pytest.fixture(scope='session')
def spark():
  from pyspark.sql import SparkSession
  s = (SparkSession.builder
       .master('local[4]')
       .appName('blueprint-oss-spark-tests')
       .config('spark.sql.shuffle.partitions', '8')
       .config('spark.sql.adaptive.enabled', 'true')
       .config('spark.sql.execution.arrow.pyspark.enabled', 'true')
       .config('spark.ui.enabled', 'false')
       .config('spark.driver.memory', '4g')
       .getOrCreate())
  yield s
  s.stop()


@pytest.fixture
def uncommit_last_batch():
  """Simulate a crash after a micro-batch's sink write and before its
  checkpoint commit: delete the checkpoint's last commits/<n> file, so
  that a restart replays batch n.  Returns n."""
  def uncommit(checkpoint_dir: str) -> int:
    commits = pathlib.Path(checkpoint_dir) / 'commits'
    last = max(int(p.name) for p in commits.iterdir() if p.name.isdigit())
    (commits / str(last)).unlink()
    (commits / f'.{last}.crc').unlink(missing_ok=True)
    return last
  return uncommit
