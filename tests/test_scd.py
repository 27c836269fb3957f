"""SCD merge + idempotent re-run tests (M1-M4)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kafka_etl_automation_spark import scd


def snap(spark, rows):
    return spark.createDataFrame(rows, "k long, seg string")


def state(df):
    return {
        (r.k, r.record_status): (r.seg, r.create_job_run_id, r.update_job_run_id)
        for r in df.collect()
    }


def test_initial_load(spark):
    d = scd.scd_merge(None, snap(spark, [(1, "A"), (2, "B")]), ["k"], "2", run_id=1)
    s = state(d)
    assert s == {(1, "1"): ("A", 1, 1), (2, "1"): ("B", 1, 1)}


def test_type2_close_and_open(spark):
    d1 = scd.scd_merge(None, snap(spark, [(1, "A"), (2, "B")]), ["k"], "2", 1)
    d2 = scd.scd_merge(d1, snap(spark, [(1, "A"), (2, "C"), (3, "N")]), ["k"], "2", 2)
    s = state(d2)
    assert s[(1, "1")] == ("A", 1, 1)  # unchanged untouched
    assert s[(2, "0")] == ("B", 1, 2)  # old version closed by run 2
    assert s[(2, "1")] == ("C", 2, 2)  # new current version
    assert s[(3, "1")] == ("N", 2, 2)  # brand-new key
    # exactly one current row per key
    cur = scd.current_rows(d2).groupBy("k").count().filter("count > 1")
    assert cur.isEmpty()


def test_type2_null_safe_change_detection(spark):
    d1 = scd.scd_merge(None, snap(spark, [(1, None)]), ["k"], "2", 1)
    # null -> null is NOT a change
    d2 = scd.scd_merge(d1, snap(spark, [(1, None)]), ["k"], "2", 2)
    assert state(d2) == {(1, "1"): (None, 1, 1)}
    # null -> value IS a change
    d3 = scd.scd_merge(d2, snap(spark, [(1, "X")]), ["k"], "2", 3)
    s = state(d3)
    assert s[(1, "0")] == (None, 1, 3) and s[(1, "1")] == ("X", 3, 3)


def test_type2_null_business_key_no_fabricated_rows(spark):
    """NULL business-key rows must not fabricate all-NULL ghost rows
    (code-review r02: key-null presence checks misread NULL keys as
    'row absent')."""
    d1 = scd.scd_merge(None, snap(spark, [(None, "A"), (1, "B")]), ["k"], "2", 1)
    assert d1.count() == 2
    d2 = scd.scd_merge(d1, snap(spark, [(None, "A"), (1, "B")]), ["k"], "2", 2)
    rows = d2.collect()
    # NULL keys never equi-match, so the null row closes nothing and the
    # incoming null row inserts — but NO all-null ghost rows appear
    assert all(r.seg is not None for r in rows)
    assert not any(r.k is None and r.seg is None for r in rows)


@pytest.mark.parametrize("scd_type", ["static", "1", "2"])
def test_duplicate_incoming_keys_keep_the_greatest_row(spark, scd_type):
    """A snapshot repeating a key with different attributes keeps the row
    with the greatest attribute struct, whatever the snapshot's order or
    partitioning (``dropDuplicates`` kept whichever row came first)."""
    dim = scd.scd_merge(None, snap(spark, [(1, "A"), (2, "B"), (3, "C")]), ["k"], "2", 1)
    rows = [(1, "Z"), (1, None), (1, "M"), (2, "B"), (2, "A"), (4, "P"), (4, "Q")]
    rows += [(None, "N1"), (None, "N2"), (5, None), (5, None)]
    incoming = snap(spark, rows)
    shuffled = incoming.orderBy(F.rand(7))
    merged = [
        sorted(map(tuple, scd.scd_merge(dim, frame, ["k"], scd_type, 2).collect()), key=repr)
        for frame in (incoming.coalesce(1), shuffled.repartition(7), shuffled.coalesce(1))
    ]
    assert merged[0] == merged[1] == merged[2]
    current = {
        r.k: r.seg
        for r in scd.scd_merge(dim, shuffled.repartition(7), ["k"], scd_type, 2).collect()
        if r.record_status == "1" and r.create_job_run_id == 2
    }
    if scd_type == "static":
        assert current == {4: "Q", None: "N2", 5: None}
    elif scd_type == "2":
        assert current == {1: "Z", 4: "Q", None: "N2", 5: None}


def test_append_run_always_restamps(spark, tmp_root):
    path = os.path.join(tmp_root, "dim")
    df = spark.range(5).withColumn("create_job_run_id", F.lit(42).cast("long"))
    scd.append_run(df, path, 7)
    out = scd.read_dim(spark, path)
    assert set(r.create_job_run_id for r in out.select("create_job_run_id").distinct().collect()) == {7}


def test_type1_overwrite_in_place(spark):
    d1 = scd.scd_merge(None, snap(spark, [(1, "A"), (2, "B")]), ["k"], "1", 1)
    d2 = scd.scd_merge(d1, snap(spark, [(2, "C"), (3, "N")]), ["k"], "1", 2)
    s = state(d2)
    assert s[(1, "1")] == ("A", 1, 1)  # untouched key keeps lineage
    assert s[(2, "1")] == ("C", 1, 2)  # attrs replaced, create preserved
    assert s[(3, "1")] == ("N", 2, 2)
    assert len(s) == 3  # no history rows in type 1


def test_static_ignores_updates(spark):
    d1 = scd.scd_merge(None, snap(spark, [(1, "A")]), ["k"], "static", 1)
    d2 = scd.scd_merge(d1, snap(spark, [(1, "CHANGED"), (2, "N")]), ["k"], "static", 2)
    s = state(d2)
    assert s[(1, "1")] == ("A", 1, 1)  # static: existing row immutable
    assert s[(2, "1")] == ("N", 2, 2)  # new key still inserts


def test_bad_scd_type_rejected(spark):
    with pytest.raises(ValueError):
        scd.scd_merge(None, snap(spark, [(1, "A")]), ["k"], "7", 1)


def test_append_run_idempotent_rerun(spark, tmp_root):
    """M3: re-running a run id fully replaces its partition, leaves others."""
    path = os.path.join(tmp_root, "dim")
    df1 = spark.range(5).withColumn("v", F.lit("v1"))
    df2 = spark.range(3).withColumn("v", F.lit("r2"))
    scd.append_run(df1, path, 1)
    scd.append_run(df2, path, 2)
    # re-run run 1 with different content
    scd.append_run(spark.range(4).withColumn("v", F.lit("v2")), path, 1)
    out = scd.read_dim(spark, path)
    by_run = {
        (r.create_job_run_id, r.v): r["count"]
        for r in out.groupBy("create_job_run_id", "v").count().collect()
    }
    assert by_run == {(1, "v2"): 4, (2, "r2"): 3}  # zero stale v1 rows


def test_delete_run(spark, tmp_root):
    path = os.path.join(tmp_root, "dim")
    scd.append_run(spark.range(5), path, 1)
    scd.append_run(spark.range(3), path, 2)
    scd.delete_run(spark, path, 1)
    out = scd.read_dim(spark, path)
    assert set(r.create_job_run_id for r in out.select("create_job_run_id").distinct().collect()) == {2}
