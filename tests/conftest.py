import contextlib
import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("oroch-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture
def jobs(spark):
    """``jobs(run)``: the number of Spark jobs that calling ``run()``
    starts."""
    sc = spark.sparkContext

    def count(run):
        group = f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture
def split_below(spark):
    """``with split_below(scan):`` no row group of the bare scan ``scan``
    fits one input split (``spark.sql.files.maxPartitionBytes`` is one
    byte under the smallest one's block columns), so every builder
    reads its kept blocks in a Spark job, as on a table too large to
    read on the driver."""
    from oroch_spark import engine

    conf = "spark.sql.files.maxPartitionBytes"

    @contextlib.contextmanager
    def below(scan):
        ix = engine._BlockIndex.scanned(scan, desc=False)
        spark.conf.set(conf, str(min(g[3] for g in ix._groups) - 1))
        try:
            yield
        finally:
            spark.conf.unset(conf)

    return below
