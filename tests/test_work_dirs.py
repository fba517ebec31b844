"""Work dirs and driver sizing: the directories queries make under
TMPDIR are gone once the interpreter exits, and the default driver heap
follows the host's memory."""

from __future__ import annotations

import os
import subprocess
import sys

from nyc_taxi_data_prediction_pyspark_spark.session import driver_memory

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RUN = """
import sys
import __spark_entry__ as e
from nyc_taxi_data_prediction_pyspark_spark.session import get_spark

spark = get_spark("work-dirs", cores=2)
spark.sparkContext.setLogLevel("ERROR")
for q in (e.q104_streaming_corpus_ingest, e.q150_snapshot_time_travel):
    q(spark, sys.argv[1]).collect()
spark.stop()
"""


def test_query_work_dirs_are_removed_at_exit(sf_dir, tmp_path):
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = dict(
        os.environ,
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(tmp_path / "local"),
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYTHONPATH=ROOT,
    )
    subprocess.run([sys.executable, "-c", _RUN, sf_dir], env=env, cwd=str(tmp_path),
                   check=True, capture_output=True, timeout=600)
    assert sorted(os.listdir(tmp)) == []


def test_driver_memory_follows_host():
    gib = 2**30
    assert driver_memory(128 * gib) == "48g"
    assert driver_memory(15 * gib) == "7g"
    assert driver_memory(1 * gib) == "1g"
