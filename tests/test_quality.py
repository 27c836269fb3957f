"""DQ combinator tests (Q1-Q4) + audit sink (S9/F5)."""

from __future__ import annotations

import os

from pyspark.sql import types as T

from kafka_etl_automation_spark import quality


def test_count_check(spark):
    a = spark.range(10)
    b = spark.range(9)
    ok = quality.count_check(a, a).first()
    assert (ok.status, ok.metric_a, ok.metric_b) == ("PASS", 10, 10)
    bad = quality.count_check(a, b).first()
    assert (bad.status, bad.metric_a, bad.metric_b) == ("FAIL", 10, 9)


def test_data_diff_distinct_semantics(spark):
    """Oracle MINUS is distinct-based: duplicated rows on one side only do
    not fail the diff when the distinct sets match."""
    a = spark.createDataFrame([(1,), (1,), (2,)], "k int")
    b = spark.createDataFrame([(1,), (2,)], "k int")
    assert quality.data_diff(a, b).first().status == "PASS"
    c = spark.createDataFrame([(1,), (3,)], "k int")
    r = quality.data_diff(a, c).first()
    assert (r.status, r.metric_a, r.metric_b) == ("FAIL", 1, 1)


def test_dup_check(spark):
    df = spark.createDataFrame([(1, "x"), (1, "x"), (2, "y")], "k int, v string")
    r = quality.dup_check(df).first()
    assert (r.status, r.metric_a, r.metric_b) == ("FAIL", 1, 1)
    assert quality.dup_check(df, ["k", "v"]).first().status == "FAIL"
    clean = spark.createDataFrame([(1,), (2,)], "k int")
    assert quality.dup_check(clean).first().status == "PASS"
    groups = quality.duplicate_rows(df).collect()
    assert len(groups) == 1 and groups[0].cnt == 2


def test_null_check_schema_driven(spark):
    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), nullable=False),
            T.StructField("v", T.StringType(), nullable=True),
        ]
    )
    df = spark.createDataFrame([(1, None), (2, "x")], schema)
    assert quality.not_null_columns(df) == ["k"]
    # schema-driven: only k checked -> PASS despite null v
    assert quality.null_check(df).first().status == "PASS"
    # explicit cols: v has a null -> FAIL with 1 offender of 2 rows
    r = quality.null_check(df, ["v"]).first()
    assert (r.status, r.metric_a, r.metric_b) == ("FAIL", 1, 2)
    assert quality.null_offenders(df, ["v"]).count() == 1


def test_run_config_validations(spark):
    """Config-table-driven validation loop (FACT_AUTOMATION §3.2): one
    matching pair PASSes both checks, a drifted pair FAILs both."""
    spark.range(10).createOrReplaceTempView("cfg_src")
    spark.range(8).createOrReplaceTempView("cfg_tgt")
    config = spark.createDataFrame(
        [
            ("self", "SELECT id FROM cfg_src", "SELECT id FROM cfg_src"),
            ("drift", "SELECT id FROM cfg_src WHERE id >= :lo",
             "SELECT id FROM cfg_tgt WHERE id >= :lo"),
        ],
        "check_name string, source_sql string, target_sql string",
    )
    out = {r.check_name: r.status
           for r in quality.run_config_validations(
               spark, config, params={"lo": 0}).collect()}
    assert out == {
        "self_count": "PASS", "self_diff": "PASS",
        "drift_count": "FAIL", "drift_diff": "FAIL",
    }


def test_artifact_check(spark, tmp_root):
    assert quality.artifact_check(spark, tmp_root).first().status == "PASS"
    missing = quality.artifact_check(spark, tmp_root + "/nope", "f1").first()
    assert (missing.status, missing.check_name) == ("FAIL", "f1")


def test_suite_and_audit_sink(spark, tmp_root):
    a = spark.range(5)
    suite = quality.run_suite(
        [quality.count_check(a, a, "c1"), quality.dup_check(a, name="d1")]
    )
    assert suite.count() == 2
    path = os.path.join(tmp_root, "audit")
    quality.append_audit(suite, path, run_id=7)
    quality.append_audit(suite, path, run_id=8)  # append, not overwrite
    log = spark.read.parquet(path)
    assert log.count() == 4
    row = log.first()
    assert row.audit_ts is not None  # F5 timestamp stamped
    assert set(r.job_run_id for r in log.collect()) == {7, 8}


def test_artifact_check_file_uri(spark, tmp_root):
    """A ``file://`` URI resolves through the Hadoop FileSystem: an
    existing directory passes, a missing one fails."""
    found = quality.artifact_check(spark, "file://" + tmp_root).first()
    assert (found.status, found.metric_a) == ("PASS", 1)
    missing = quality.artifact_check(spark, "file://" + tmp_root + "/nope").first()
    assert (missing.status, missing.metric_a) == ("FAIL", 0)


def test_landing_checks_match_the_separate_checks(spark):
    """landing_checks gives count_check's and null_check's rows, in that
    order, from one aggregate."""
    src = spark.createDataFrame([(1, "a"), (2, None), (3, "c")], "k long, v string")
    tgt = src.filter("k < 3")
    got = quality.landing_checks(src, tgt, ["v"], "c", "n").collect()
    want = quality.run_suite(
        [quality.count_check(src, tgt, "c"), quality.null_check(tgt, ["v"], "n")]
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert [tuple(r) for r in got] == [("c", "FAIL", 3, 2), ("n", "FAIL", 1, 2)]


def test_audit_rows_need_a_local_path(tmp_root):
    """Collected audit rows are written by pyarrow: a ``file:`` URI
    lands in its directory, a cluster scheme raises instead of creating a
    local directory named after the URI."""
    import pytest

    row = {"check_name": "c", "status": "PASS", "metric_a": 1, "metric_b": 1}
    quality.append_audit_rows([row], "file://" + os.path.join(tmp_root, "a"), 3)
    assert len(os.listdir(os.path.join(tmp_root, "a"))) == 1
    with pytest.raises(ValueError, match="local files"):
        quality.append_audit_rows([row], "hdfs://nn:8020/audit", 3)
