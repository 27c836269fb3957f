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

SF_SMALL = "/root/testdata/sf0.001"


def spark_work(spark, fn) -> dict:
    """Run ``fn`` and count the jobs it submitted, their completed tasks
    (skipped stages excluded) and their call-site names, from the status
    store: unlike walls, host load cannot move these counts."""
    jsc = spark.sparkContext._jsc.sc()
    first = int(jsc.dagScheduler().numTotalJobs())
    fn()
    end = int(jsc.dagScheduler().numTotalJobs())
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    stage_ids: set[int] = set()
    names = []
    for j in range(first, end):
        job = store.job(j)
        names.append(job.name())
        ids = job.stageIds()
        stage_ids.update(ids.apply(i) for i in range(ids.size()))
    tasks = 0
    for sid in stage_ids:
        st = store.lastStageAttempt(sid)
        if st.status().toString() != "SKIPPED":
            tasks += st.numCompleteTasks()
    return {"jobs": end - first, "tasks": tasks, "names": names}


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
        # of the call being counted included
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
