import os
import shutil
import tempfile

import pytest
from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = (SparkSession.builder
         .master("local[4]")
         .appName("incubator-hudi-spark-tests")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "4g")
         .config("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
         .getOrCreate())
    yield s
    s.stop()


@pytest.fixture()
def tmp_table_path():
    d = tempfile.mkdtemp(prefix="hudi_py_")
    yield os.path.join(d, "tbl")
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def lineitem(spark):
    return spark.read.parquet(f"{SF_DIR}/lineitem.parquet")


@pytest.fixture(scope="session")
def orders(spark):
    return spark.read.parquet(f"{SF_DIR}/orders.parquet")


@pytest.fixture(scope="session")
def events(spark):
    from incubator_hudi_spark.functions.io import load_table
    return load_table(spark, SF_DIR, "events")


@pytest.fixture()
def spark_jobs(spark):
    """``spark_jobs(fn)`` calls ``fn`` under a fresh job group and returns
    how many Spark jobs it ran (``statusTracker().getJobIdsForGroup``)."""
    import uuid
    sc = spark.sparkContext

    def count(fn):
        group = f"job-count-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job count")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))
    return count


@pytest.fixture()
def timeline_listings(monkeypatch):
    """``timeline_listings(fn)`` calls ``fn`` and returns how many
    active-timeline listings (``Timeline.instants`` calls) it made."""
    from incubator_hudi_spark.timeline import Timeline
    listed = [0]
    instants = Timeline.instants

    def counting(self):
        listed[0] += 1
        return instants(self)
    monkeypatch.setattr(Timeline, "instants", counting)

    def count(fn):
        before = listed[0]
        fn()
        return listed[0] - before
    return count
