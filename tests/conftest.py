from __future__ import annotations

import sys
import uuid
from contextlib import contextmanager
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parents[1]
if str(REPO_ROOT) not in sys.path:
    sys.path.insert(0, str(REPO_ROOT))

from airflow_courier_payout_ledger_pipeline_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture
def spark_jobs(spark):
    """Counts the Spark jobs a block starts, through a job group::

        with spark_jobs() as jobs:
            df.collect()
        assert jobs() <= 3
    """
    sc = spark.sparkContext

    @contextmanager
    def count():
        group = f"spark-jobs-{uuid.uuid4().hex}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        # the group id alone tags the jobs; setJobGroup would also leave a
        # description and a cancel flag on every later job of the session
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)

    return count


@pytest.fixture
def codegen_compiles(spark):
    """Counts the classes whole-stage codegen compiles in a block (the JVM's
    ``CodegenMetrics`` compile-time histogram counts one per class)::

        with codegen_compiles() as compiled:
            df.collect()
        assert compiled() <= 20
    """
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def total() -> int:
        return metrics.METRIC_COMPILATION_TIME().getCount()

    @contextmanager
    def count():
        before = total()
        yield lambda: total() - before

    return count
