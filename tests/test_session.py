"""The engine session's Python workers: they run under the engine's daemon
(`pyworker`), and they find it from any working directory."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

import pandas as pd
from pyspark.sql.functions import pandas_udf

from setsm_postprocessing_python_spark import pyworker

from .conftest import REPO

# The script finds the engine through sys.path only; the UDF is defined in
# __main__, so it is pickled by value and the workers need the package
# only to start the daemon.
_OUTSIDE_SCRIPT = f"""
import sys
sys.path.insert(0, {str(REPO)!r})
import pandas as pd
from pyspark.sql.functions import pandas_udf
from setsm_postprocessing_python_spark.session import get_spark

spark = get_spark(parallelism=2, app_name="outside", shuffle_partitions=2)

@pandas_udf("long")
def plus_one(x: pd.Series) -> pd.Series:
    return x + 1

print("ROWS", sorted(r[0] for r in spark.range(6).select(plus_one("id"))
                     .collect()))
spark.stop()
"""


def test_udf_runs_outside_the_checkout_without_pythonpath():
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    with tempfile.TemporaryDirectory() as cwd:
        done = subprocess.run([sys.executable, "-c", _OUTSIDE_SCRIPT],
                              cwd=cwd, env=env, capture_output=True,
                              text=True, timeout=300)
    assert done.returncode == 0, done.stderr[-3000:]
    assert "ROWS [1, 2, 3, 4, 5, 6]" in done.stdout


def test_workers_keep_their_zip_directories(spark):
    @pandas_udf("string")
    def invalidator(x: pd.Series) -> pd.Series:
        import zipimport

        return x.map(lambda _: zipimport.zipimporter.invalidate_caches
                     .__module__)

    got = {r[0] for r in spark.range(4).repartition(2)
           .select(invalidator("id")).collect()}
    assert got == {pyworker.__name__}
