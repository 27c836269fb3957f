"""Control-plane tests: registry lifecycle, HWM windows, short-circuit."""

from __future__ import annotations

import os

import pytest

from kafka_etl_automation_spark.control import HwmWindow, JobRegistry, apply_window


def test_run_allocation_and_status(spark, tmp_root):
    reg = JobRegistry(spark, tmp_root)
    r1 = reg.start_run("job_a")
    assert r1 == 1
    assert reg.run_status("job_a", r1) == 0  # running
    reg.finish_run("job_a", r1, status=1, records=42)
    assert reg.run_status("job_a", r1) == 1
    assert reg.latest_success("job_a") == 1
    r2 = reg.start_run("job_a")
    assert r2 == 2
    reg.finish_run("job_a", r2, status=2)  # failed
    assert reg.latest_success("job_a") == 1  # failed run not 'latest success'


def test_hwm_windows_consume_disjoint(spark, tmp_root):
    reg = JobRegistry(spark, tmp_root)
    for status in (1, 1):
        r = reg.start_run("src")
        reg.finish_run("src", r, status=status)

    w1 = reg.hwm_window("stg", "src")
    assert (w1.min_run_id, w1.max_run_id) == (1, 2) and not w1.empty
    s = reg.start_run("stg")
    reg.record_consumed("stg", s, "src", w1)

    # nothing new -> 0,0 short-circuit
    w2 = reg.hwm_window("stg", "src")
    assert w2.empty

    r3 = reg.start_run("src")
    reg.finish_run("src", r3, status=1)
    w3 = reg.hwm_window("stg", "src")
    assert (w3.min_run_id, w3.max_run_id) == (3, 3)
    # windows never overlap
    assert w3.min_run_id > w1.max_run_id


def test_failed_source_runs_not_consumed(spark, tmp_root):
    reg = JobRegistry(spark, tmp_root)
    r1 = reg.start_run("src")
    reg.finish_run("src", r1, status=2)  # failed
    assert reg.hwm_window("stg", "src").empty


def test_mark_reprocess(spark, tmp_root):
    reg = JobRegistry(spark, tmp_root)
    r1 = reg.start_run("job_a")
    reg.finish_run("job_a", r1, status=1)
    reg.mark_reprocess("job_a", r1)
    row = reg.control().filter("job_run_id = 1").first()
    assert row.reprocess_flag == 1


def test_apply_window_prunes(spark):
    df = spark.range(10).withColumnRenamed("id", "job_run_id")
    out = apply_window(df, HwmWindow(3, 5))
    assert sorted(r.job_run_id for r in out.collect()) == [3, 4, 5]
    # the window filter must be pushdown-able (appears as a Filter on scan)
    assert "job_run_id" in out._jdf.queryExecution().optimizedPlan().toString()


def test_registry_lock_blocks_and_times_out(spark, tmp_root):
    """A held .registry.lock makes a second mutator wait; a stale one
    surfaces as a loud TimeoutError instead of corrupted lineage."""
    import os

    import pytest

    reg = JobRegistry(spark, tmp_root)
    reg.LOCK_TIMEOUT = 0.3
    lock = os.path.join(tmp_root, ".registry.lock")
    with open(lock, "w") as f:
        f.write("9999")  # simulate another orchestrator holding the lock
    with pytest.raises(TimeoutError, match="registry lock"):
        reg.start_run("job_a")
    os.unlink(lock)
    assert reg.start_run("job_a") == 1  # lock released -> proceeds
    assert not os.path.exists(lock)  # and cleans up after itself


def test_registry_root_is_a_local_path(spark, tmp_root, monkeypatch):
    """The control tables are written by pyarrow: a ``file:`` URI root
    lands at its path, and a cluster scheme raises before any file is
    created, rather than a local directory named after the URI."""
    monkeypatch.chdir(tmp_root)  # where a URI taken as a relative path lands
    root = os.path.join(tmp_root, "ctl")
    reg = JobRegistry(spark, "file://" + root)
    reg.finish_run("job_a", reg.start_run("job_a"), status=1)
    assert os.path.isfile(os.path.join(root, "job_process_control.parquet"))
    assert reg.latest_success("job_a") == 1
    with pytest.raises(ValueError, match="local files"):
        JobRegistry(spark, "hdfs://nn:8020/ctl")
    assert os.listdir(tmp_root) == ["ctl"]
