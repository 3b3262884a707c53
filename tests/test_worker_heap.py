"""Importing the engine freezes the heap of a reused PySpark worker, once,
so the daemon's ``gc.collect()`` after every task skips the long-lived
import objects; the driver's heap is left alone."""
import gc
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SPARK_PROBE = r"""
import json
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false").getOrCreate())


def probe(batches):
    import gc
    import os
    import pyarrow as pa
    import oroch_spark.engine  # noqa: F401  (as every engine closure does)

    frozen = gc.get_freeze_count()
    gc.collect()
    tracked = len(gc.get_objects())  # what the daemon's collect walks
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict(
        {"pid": [os.getpid()], "frozen": [frozen], "tracked": [tracked]})


rows = []
for _ in range(2):
    df = spark.range(0, 1, 1, numPartitions=1).mapInArrow(
        probe, "pid long, frozen long, tracked long")
    rows.append(df.collect()[0].asDict())
print(json.dumps(rows))
spark.stop()
"""


def test_reused_worker_heap_is_frozen(tmp_path):
    env = dict(os.environ, PYTHONPATH=REPO)
    r = subprocess.run([sys.executable, "-c", _SPARK_PROBE],
                       capture_output=True, text=True, timeout=600,
                       env=env, cwd=str(tmp_path))
    assert r.returncode == 0, r.stderr[-3000:]
    first, second = json.loads(r.stdout.strip().splitlines()[-1])
    assert second["pid"] == first["pid"], "worker was not reused"
    assert second["frozen"] > 0
    assert second["tracked"] < 10_000, second


def test_driver_heap_is_not_frozen():
    assert "SPARK_REUSE_WORKER" not in os.environ
    import oroch_spark.engine  # noqa: F401

    assert gc.get_freeze_count() == 0
