"""The status-store reader (``session.spark_work``) behind the job budgets,
the bench sidecar's per-query profiles and the checker's spill column."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from kafka_etl_automation_spark import session
from tests.conftest import spark_work


def test_reader_reports_a_shuffle_query_that_spills(spark):
    """A window over a shuffle whose row buffer is forced to spill."""
    w = Window.partitionBy(F.col("id") % 3).orderBy("id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    frame = spark.range(20000).select(F.sum("id").over(w).alias("total"))
    confs = {
        "spark.sql.windowExec.buffer.in.memory.threshold": "64",
        "spark.sql.windowExec.buffer.spill.threshold": "2000",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        work = spark_work(spark, frame.collect)
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert work["jobs"] >= 1 and work["stages"] >= 1 and work["tasks"] >= 1, work
    assert work["exec_run_s"] >= 0 and work["spill_mb"] > 0, work
    assert work["shuffle_write_mb"] > 0 and work["shuffle_read_mb"] > 0, work
    assert len(work["names"]) == work["jobs"] and all(work["names"]), work
    assert work["evicted"] == 0, work


def test_reading_schedules_no_job(spark):
    first = session.next_job_id(spark)
    spark.range(100).groupBy((F.col("id") % 3).alias("k")).count().collect()
    end = session.next_job_id(spark)
    session.spark_work(spark, first, end)
    assert session.next_job_id(spark) == end


def test_jobs_missing_from_the_store_are_counted_not_raised(spark):
    ahead = session.next_job_id(spark) + 1_000_000
    work = session.spark_work(spark, ahead, ahead + 2)
    assert (work["jobs"], work["evicted"], work["stages"], work["names"]) == (2, 2, 0, [])
