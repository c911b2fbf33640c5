"""The pure-Python replica of Spark's xxhash64 (verification-side:
scripts/spark_xxhash64.py) must match the engine bit-for-bit — it is
what makes the minhash/simhash snapshot oracles independently
recomputable (scripts/build_oracles.py)."""

import random
import string
import sys

from pyspark.sql import functions as F

from tests.conftest import REPO_ROOT

sys.path.insert(0, str(REPO_ROOT / 'scripts'))

from spark_xxhash64 import spark_xxhash64  # noqa: E402


def test_matches_spark_on_random_inputs(spark):
  rng = random.Random(99)
  alphabet = string.printable[:94] + 'αβγδε漢字の'
  rows = []
  for n in [0, 1, 3, 4, 7, 8, 9, 15, 16, 31, 32, 33, 64, 100]:
    rows.append((''.join(rng.choice(alphabet) for _ in range(n)),
                 rng.randrange(-2**31, 2**31),
                 rng.randrange(-2**62, 2**62)))
  df = spark.createDataFrame(rows, 'a string, b int, c long')
  got = df.select(
      F.xxhash64('a').alias('h_str'),
      F.xxhash64('b').alias('h_int'),
      F.xxhash64('c').alias('h_long'),
      F.xxhash64('a', 'b', 'c').alias('h_chain')).collect()
  for (a, b, c), r in zip(rows, got):
    assert spark_xxhash64(a) == r['h_str'], repr(a)
    assert spark_xxhash64(('int', b)) == r['h_int']
    assert spark_xxhash64(('long', c)) == r['h_long']
    assert spark_xxhash64(a, ('int', b), ('long', c)) == r['h_chain']
