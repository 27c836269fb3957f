"""Small-file compaction: fewer files, identical data, partition layout
preserved."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from kafka_etl_automation_spark import maintenance


def test_compact_flat_table(spark, tmp_root):
    path = os.path.join(tmp_root, "t")
    # 20 tiny files
    spark.range(2000).repartition(20).write.parquet(path)
    before_rows = sorted(r.id for r in spark.read.parquet(path).collect())
    b, a = maintenance.compact(spark, path, target_mb=256)
    assert b == 20 and a < b
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == before_rows


def test_compact_autodetects_partition_layout(spark, tmp_root):
    """Compacting a hive-partitioned table WITHOUT naming the partition
    column must preserve the layout, not flatten it (code-review r02)."""
    path = os.path.join(tmp_root, "t")
    df = spark.range(90).select(F.col("id"), (F.col("id") % 3).alias("run"))
    df.repartition(6).write.partitionBy("run").parquet(path)
    maintenance.compact(spark, path, target_mb=256)  # no partition_col
    assert sorted(
        d for d in os.listdir(path) if d.startswith("run=")
    ) == ["run=0", "run=1", "run=2"]
    assert spark.read.parquet(path).count() == 90


def test_compact_rejects_wrong_partition_col(spark, tmp_root):
    import pytest

    path = os.path.join(tmp_root, "t")
    spark.range(10).select(F.col("id"), (F.col("id") % 2).alias("run")).write.partitionBy("run").parquet(path)
    with pytest.raises(ValueError, match="partitioned by 'run'"):
        maintenance.compact(spark, path, partition_col="other")


def test_compact_partitioned_table(spark, tmp_root):
    path = os.path.join(tmp_root, "t")
    df = spark.range(300).select(
        F.col("id"), (F.col("id") % 3).alias("run")
    )
    df.repartition(10).write.partitionBy("run").parquet(path)
    b, a = maintenance.compact(spark, path, target_mb=256, partition_col="run")
    assert a < b
    back = spark.read.parquet(path)
    assert back.count() == 300
    # partition dirs survive (pruning layout intact)
    assert sorted(
        d for d in os.listdir(path) if d.startswith("run=")
    ) == ["run=0", "run=1", "run=2"]


def test_compact_recovers_stranded_table(spark, tmp_root):
    """Crash between the two swap renames leaves data under __precompact;
    recover() (called by compact) restores it before anything else."""
    import os

    from kafka_etl_automation_spark import maintenance

    path = os.path.join(tmp_root, "t")
    spark.range(100).write.parquet(path)
    os.rename(path, path + "__precompact")  # simulate the crash window
    assert maintenance.recover(path) is True
    assert spark.read.parquet(path).count() == 100
    # and compact itself self-heals when called on a stranded table
    os.rename(path, path + "__precompact")
    b, a = maintenance.compact(spark, path, target_mb=256)
    assert spark.read.parquet(path).count() == 100


def test_compact_file_uri(spark, tmp_root):
    """A ``file://`` table path compacts like the plain path: the local
    filesystem steps (layout detection, sizing, swap) use its path."""
    path = os.path.join(tmp_root, "t")
    spark.range(200).select(
        F.col("id"), (F.col("id") % 2).alias("run")
    ).repartition(8).write.partitionBy("run").parquet(path)
    b, a = maintenance.compact(spark, "file://" + path, target_mb=256)
    assert a < b
    assert sorted(d for d in os.listdir(path) if d.startswith("run=")) == [
        "run=0",
        "run=1",
    ]
    assert not [d for d in os.listdir(tmp_root) if d != "t"]  # no leftovers
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == list(range(200))


def test_compact_job_budget(spark, tmp_root):
    """The rewrite counts its own rows (an observed metric), and the new
    copy is read back with the source's schema: the schema read, the write
    and the recount, 5 jobs (8 when the rows were counted by a separate
    job and the copy's schema inferred)."""
    from tests.conftest import spark_work

    path = os.path.join(tmp_root, "t")
    spark.range(2000).select(
        F.col("id"), (F.col("id") % 3).alias("run")
    ).repartition(12).write.partitionBy("run").parquet(path)
    work = spark_work(spark, lambda: maintenance.compact(spark, path, target_mb=256))
    assert work["jobs"] <= 5, work
    assert spark.read.parquet(path).count() == 2000


def test_compact_without_observed_count(spark, tmp_root, monkeypatch):
    """When the observed metric does not arrive, the row count before the
    swap falls back to a count of the source."""
    path = os.path.join(tmp_root, "t")
    spark.range(500).repartition(5).write.parquet(path)
    monkeypatch.setattr(maintenance.runtime, "observed", lambda obs: None)
    b, a = maintenance.compact(spark, path, target_mb=256)
    assert (b, a) == (5, 1)
    assert spark.read.parquet(path).count() == 500
