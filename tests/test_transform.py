"""End-to-end incremental loader tests (the conform->staging lifecycle)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kafka_etl_automation_spark import quality, scd
from kafka_etl_automation_spark.control import JobRegistry
from kafka_etl_automation_spark.transform import incremental_load

from tests.conftest import spark_work


def _src_runs(reg, n):
    for _ in range(n):
        r = reg.start_run("conform")
        reg.finish_run("conform", r, status=1)


def test_second_hop_restamps_upstream_lineage(spark, tmp_root):
    """A source already carrying create_job_run_id (output of a previous
    hop) must be restamped to THIS run — upstream run ids in {1,2} with new
    run id 1 previously scattered the batch across upstream partitions and
    broke landed-row accounting (code-review r02)."""
    reg = JobRegistry(spark, os.path.join(tmp_root, "ctl"))
    upstream = spark.range(20).select(
        F.col("id"), (F.col("id") % 2 + 1).alias("create_job_run_id")
    )
    _src_runs(reg, 2)
    r = incremental_load(
        spark, reg, "mart", "conform", upstream, "create_job_run_id",
        os.path.join(tmp_root, "mart"),
    )
    assert r is not None and r.dq_passed and r.records == 20
    dim = scd.read_dim(spark, os.path.join(tmp_root, "mart"))
    # all rows under THIS run's partition; upstream lineage preserved renamed
    assert dim.select("create_job_run_id").distinct().collect()[0][0] == r.run_id
    assert set(x.src_job_run_id for x in dim.select("src_job_run_id").distinct().collect()) == {1, 2}


def test_empty_window_takes_the_common_path(spark, tmp_root):
    """A successful source run with zero matching rows takes the path of
    any window: the write lands no partition, the landed recount reads 0
    and the DQ audit logs two 0/0 PASS rows; the run finishes with status
    1 and 0 records and consumes the window."""
    reg = JobRegistry(spark, os.path.join(tmp_root, "ctl"))
    source = spark.range(10).select(
        F.col("id"), F.lit(99).cast("long").alias("job_run_id")  # never in window
    )
    _src_runs(reg, 1)
    staging, audit = os.path.join(tmp_root, "staging"), os.path.join(tmp_root, "audit")
    r = incremental_load(
        spark, reg, "stg", "conform", source, "job_run_id", staging, audit
    )
    assert r is not None and r.dq_passed and r.records == 0
    run = reg.control().filter(F.col("job_name") == "stg").first()
    assert (run.job_run_status, run.records_processed) == (1, 0)
    assert not [p for p in os.listdir(staging) if p.startswith("create_job_run_id=")]
    got = sorted(
        (x.status, x.metric_a, x.metric_b) for x in spark.read.parquet(audit).collect()
    )
    assert got == [("PASS", 0, 0), ("PASS", 0, 0)]
    # window consumed: next call short-circuits
    assert (
        incremental_load(spark, reg, "stg", "conform", source, "job_run_id",
                         os.path.join(tmp_root, "staging"))
        is None
    )


def test_failed_dq_does_not_advance_hwm(spark, tmp_root, monkeypatch):
    """A load whose DQ suite fails must record status 2 and leave the
    high-water mark untouched, so the next attempt retries the SAME window
    (the reference's failed-run-not-consumed semantics)."""
    from kafka_etl_automation_spark import transform as tf

    reg = JobRegistry(spark, os.path.join(tmp_root, "ctl"))
    source = spark.range(10).select(
        F.col("id"), F.lit(1).cast("long").alias("job_run_id")
    )
    _src_runs(reg, 1)

    real_append_run = tf.scd.append_run

    def lossy_append_run(df, path, run_id):
        # a writer that drops a row: the landed recount must catch it
        real_append_run(df.filter(F.col("id") != 0), path, run_id)

    monkeypatch.setattr(tf.scd, "append_run", lossy_append_run)
    r1 = tf.incremental_load(
        spark, reg, "stg", "conform", source, "job_run_id",
        os.path.join(tmp_root, "staging"),
    )
    assert r1 is not None and not r1.dq_passed
    assert reg.run_status("stg", r1.run_id) == 2  # failed
    monkeypatch.setattr(tf.scd, "append_run", real_append_run)

    # retry sees the SAME window and succeeds
    r2 = tf.incremental_load(
        spark, reg, "stg", "conform", source, "job_run_id",
        os.path.join(tmp_root, "staging"),
    )
    assert r2 is not None and r2.dq_passed
    assert (r2.window.min_run_id, r2.window.max_run_id) == (
        r1.window.min_run_id,
        r1.window.max_run_id,
    )
    # the failed run's partition was deleted: rows present exactly once
    dim = scd.read_dim(spark, os.path.join(tmp_root, "staging"))
    assert dim.count() == 10
    assert dim.select("id").distinct().count() == 10


def test_two_loads_consume_disjoint_windows(spark, tmp_root):
    reg = JobRegistry(spark, os.path.join(tmp_root, "ctl"))
    source = spark.range(100).select(
        F.col("id"), (F.col("id") % 4 + 1).alias("job_run_id")
    )
    staging = os.path.join(tmp_root, "staging")
    audit = os.path.join(tmp_root, "audit")

    _src_runs(reg, 2)
    r1 = incremental_load(
        spark, reg, "stg", "conform", source, "job_run_id", staging, audit
    )
    assert r1 is not None and r1.dq_passed
    assert (r1.window.min_run_id, r1.window.max_run_id) == (1, 2)
    assert r1.records == 50  # ids with run 1 or 2

    _src_runs(reg, 1)
    r2 = incremental_load(
        spark, reg, "stg", "conform", source, "job_run_id", staging, audit
    )
    assert (r2.window.min_run_id, r2.window.max_run_id) == (3, 3)
    assert r2.records == 25

    # short-circuit when nothing new
    assert (
        incremental_load(spark, reg, "stg", "conform", source, "job_run_id", staging)
        is None
    )

    # staged data: no overlap between load partitions, totals conserved
    dim = scd.read_dim(spark, staging)
    assert dim.count() == 75
    assert dim.select("id").distinct().count() == 75
    # DQ audit rows landed with run ids
    log = spark.read.parquet(audit)
    assert log.filter("status = 'PASS'").count() == log.count() and log.count() == 4


def test_one_window_job_budget(spark, tmp_root):
    """One window costs the write and ONE DQ aggregate over the batch and
    the landed partition; the audit is written from the collected rows
    with no job. 13 jobs when the suite ran twice (collect, then the audit
    write) and the landed partition's schema was inferred; 4 while an
    emptiness probe ran before the write."""
    reg = JobRegistry(spark, os.path.join(tmp_root, "ctl"))
    source = spark.range(100).select(
        F.col("id"), (F.col("id") % 4 + 1).alias("job_run_id")
    )
    _src_runs(reg, 2)
    loads = []
    work = spark_work(
        spark,
        lambda: loads.append(
            incremental_load(
                spark, reg, "stg", "conform", source, "job_run_id",
                os.path.join(tmp_root, "staging"), os.path.join(tmp_root, "audit"),
            )
        ),
    )
    assert loads[0] is not None and loads[0].dq_passed and loads[0].records == 50
    assert work["jobs"] <= 3, work


def test_audit_rows_match_the_lazy_suite(spark, tmp_root):
    """The audit written from the collected rows holds what append_audit
    writes for the lazy count_check + null_check suite over the same
    frames: same schema, same rows apart from audit_ts."""
    reg = JobRegistry(spark, os.path.join(tmp_root, "ctl"))
    source = spark.range(40).select(
        F.col("id"), (F.col("id") % 2 + 1).alias("job_run_id")
    )
    staging = os.path.join(tmp_root, "staging")
    _src_runs(reg, 2)
    r = incremental_load(
        spark, reg, "stg", "conform", source, "job_run_id", staging,
        os.path.join(tmp_root, "audit"),
    )
    assert r is not None and r.dq_passed

    landed = scd.read_dim(spark, staging).filter(F.col("create_job_run_id") == r.run_id)
    lazy = quality.run_suite(
        [
            quality.count_check(source, landed, f"stg_run{r.run_id}_count"),
            quality.null_check(landed, ["job_run_id"], f"stg_run{r.run_id}_runcol_notnull"),
        ]
    )
    quality.append_audit(lazy, os.path.join(tmp_root, "lazy_audit"), r.run_id)
    got = spark.read.parquet(os.path.join(tmp_root, "audit"))
    want = spark.read.parquet(os.path.join(tmp_root, "lazy_audit"))
    assert got.schema == want.schema
    assert sorted(got.drop("audit_ts").collect()) == sorted(want.drop("audit_ts").collect())
    assert got.filter(F.col("audit_ts").isNull()).isEmpty()


def test_non_local_audit_path_rejected_before_the_run(spark, tmp_root):
    """The DQ audit is written by pyarrow: a cluster-scheme audit path
    raises before a run is started or a row lands."""
    import pytest

    reg = JobRegistry(spark, os.path.join(tmp_root, "ctl"))
    source = spark.range(10).select(F.col("id"), F.lit(1).cast("long").alias("job_run_id"))
    _src_runs(reg, 1)
    staging = os.path.join(tmp_root, "staging")
    with pytest.raises(ValueError, match="local files"):
        incremental_load(
            spark, reg, "stg", "conform", source, "job_run_id", staging,
            "hdfs://nn:8020/dq_audit",
        )
    assert reg.run_status("stg", 1) is None
    assert not os.path.exists(staging)


_REAL_LANDING_CHECKS = quality.landing_checks


def _failing_dq_aggregate(*args):
    # the aggregate job itself fails, after the batch has landed
    checks = _REAL_LANDING_CHECKS(*args)
    return checks.select(F.raise_error(F.lit("dq aggregate failed")))


def _failing_audit_write(*args):
    raise OSError("audit write failed")


@pytest.mark.parametrize(
    "step, fake, error",
    [
        ("landing_checks", _failing_dq_aggregate, "dq aggregate failed"),
        ("append_audit_rows", _failing_audit_write, "audit write failed"),
    ],
    ids=["dq_aggregate", "audit_write"],
)
def test_raising_step_fails_the_run_and_deletes_its_rows(
    spark, tmp_root, monkeypatch, step, fake, error
):
    """A step that raises after the run started and the batch landed (the
    DQ aggregate, the audit write) re-raises its error, leaves the run at
    status 2 and no landed partition, and the retry loads the same window
    exactly once."""
    reg = JobRegistry(spark, os.path.join(tmp_root, "ctl"))
    source = spark.range(40).select(
        F.col("id"), (F.col("id") % 2 + 1).alias("job_run_id")
    )
    staging = os.path.join(tmp_root, "staging")
    audit = os.path.join(tmp_root, "audit")
    _src_runs(reg, 2)

    monkeypatch.setattr(quality, step, fake)
    load = ("stg", "conform", source, "job_run_id", staging, audit)
    with pytest.raises(Exception, match=error):
        incremental_load(spark, reg, *load)
    assert reg.run_status("stg", 1) == 2
    assert not os.path.exists(os.path.join(staging, "create_job_run_id=1"))
    monkeypatch.undo()

    r = incremental_load(spark, reg, *load)
    assert r is not None and r.dq_passed and r.run_id == 2
    assert (r.window.min_run_id, r.window.max_run_id) == (1, 2)
    dim = scd.read_dim(spark, staging)
    assert dim.count() == 40 and dim.select("id").distinct().count() == 40
    runs = dim.select("create_job_run_id").distinct().collect()
    assert [x.create_job_run_id for x in runs] == [2]


def test_cleanup_error_is_chained_to_the_load_error(spark, tmp_root, monkeypatch):
    """When failing the run raises too, the load's error still propagates,
    with the cleanup error as its cause."""
    reg = JobRegistry(spark, os.path.join(tmp_root, "ctl"))
    source = spark.range(10).select(
        F.col("id"), F.lit(1).cast("long").alias("job_run_id")
    )
    _src_runs(reg, 1)

    def delete_fails(*args, **kwargs):
        raise RuntimeError("delete failed")

    monkeypatch.setattr(quality, "append_audit_rows", _failing_audit_write)
    monkeypatch.setattr(scd, "delete_run", delete_fails)
    with pytest.raises(OSError, match="audit write failed") as info:
        incremental_load(
            spark, reg, "stg", "conform", source, "job_run_id",
            os.path.join(tmp_root, "staging"), os.path.join(tmp_root, "audit"),
        )
    assert isinstance(info.value.__cause__, RuntimeError)
    assert str(info.value.__cause__) == "delete failed"
    assert reg.run_status("stg", 1) == 2
