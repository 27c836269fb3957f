"""Shared fixtures.

The session fixture is deliberately a VANILLA SparkSession — not
``session.get_spark`` — because the driver's correctness gate builds its
own session with no factory confs; round 1 failed exactly that way
(VERDICT.md item 1). Anything that only works under ``get_spark`` is a bug.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_etl_automation_spark import session  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"


def spark_work(spark, fn) -> dict:
    """Run ``fn`` and read the Spark work of the jobs it submitted
    (``session.spark_work``): jobs, completed tasks, call-site names and
    stage metrics. Unlike walls, host load cannot move these counts."""
    first = session.next_job_id(spark)
    fn()
    return session.spark_work(spark, first, session.next_job_id(spark))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    import tempfile

    s = (
        SparkSession.builder.master("local[4]")
        .appName("kea-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        # spark_work reads every stage of the jobs it counts from the status
        # store, which past 1000 stages evicts skipped stages first — those
        # of the call being counted included, which it would then count as
        # evicted instead of reading
        .config("spark.ui.retainedStages", "100000")
        .config("spark.driver.memory", "8g")
        # saveAsTable targets (bucketing tests) land in a temp warehouse,
        # never in the repo
        .config("spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="kea_wh_"))
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture()
def tmp_root(tmp_path):
    return str(tmp_path)
