"""Batch sources and sinks beyond the parquet catalog.

- S8 delimited config source: the reference drives everything from
  ``:``-separated config/query files
  (/root/reference/FACT_AUTOMATION_FILE.sh:116-132,
   /root/reference/sample.sh:4-23) -> ``spark.read.option("sep", ...)``.
- S3 text scan: line-oriented part files of one (topic, partition, run)
  directory (/root/reference/Kafka_ArrivalToConform.sh:349-374) ->
  ``spark.read.text``.
- S4 per-run file sink with empty-batch suppression (T4): processed data
  lands in ``{topic}_{partition}_{run}/part-*`` and a zero-record batch
  must leave NO directory
  (/root/reference/Kafka_ArrivalToConform.sh:286-318, naming :317).
  ``write_dir`` is the one sink for this shape, shared by
  ``write_run_dir`` and the streaming bronze micro-batches: the row count
  (and any further aggregate, such as the offset range) is observed on
  the write job itself, and a rowless directory is removed again through
  the Hadoop FileSystem, so any scheme behaves as Spark's writer resolved
  it.
- S5 conformed sink: lineage-stamped, partitioned by create_date /
  source_file_name (/root/reference/Kafka_ArrivalToConform.sh:481,536-539).
  The reference writes Avro into Hive; Spark's Avro writer lives in the
  external ``spark-avro`` module, so the format is a parameter — parquet by
  default here, ``format="avro"`` on clusters that ship the module.
- S9 audit sink lives in quality.append_audit; ``append_rows`` is the
  job-free writer the collected audits share: each audit table states its
  columns once, as a Spark ``StructType``.

Scale: every sink is a straight ``df.write`` — parallel, no driver
collects. The per-run directory naming gives the same idempotency unit the
reference uses: a rerun re-creates its own directory only.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_etl_automation_spark import runtime


def read_delimited(
    spark: SparkSession,
    path: str,
    sep: str = ":",
    names: list[str] | None = None,
    header: bool = False,
) -> DataFrame:
    """S8: delimited config/query file -> DataFrame (columns named
    ``names`` when given, else _c0.._cN)."""
    df = spark.read.option("sep", sep).option("header", str(header).lower()).csv(path)
    if names:
        df = df.toDF(*names)
    return df


def read_text_dir(spark: SparkSession, path: str) -> DataFrame:
    """S3: line-oriented scan of a run directory (``value: string``)."""
    return spark.read.text(path)


def fs_path(path: str) -> str:
    """The local filesystem path behind ``path`` for ``os``: a
    ``file:`` URI's path component, any other string as given (parsing a
    plain path as a URI would cut it at a ``#`` or ``?``)."""
    parsed = urlparse(path)
    return parsed.path if parsed.scheme == "file" else path


def local_path(path: str) -> str:
    """:func:`fs_path` for a table this process writes itself with
    pyarrow, such as an audit or the control tables: a plain path or a
    ``file:`` URI. Any other scheme raises, rather than the write landing
    in a local directory named after the URI."""
    if urlparse(path).scheme not in ("", "file"):
        raise ValueError(f"audit and control tables are local files; got {path!r}")
    return fs_path(path)


def hadoop_path(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path`` through the Hadoop FileSystem
    API, which resolves the path's scheme (file://, hdfs://, s3a://) the
    way Spark's own readers and writers do."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def append_rows(rows, schema: T.StructType, path: str, prefix: str) -> None:
    """Append ``rows`` (dicts or Rows with ``schema``'s field names) to the
    parquet directory ``path`` as one new uniquely named file, written by
    pyarrow with ``schema``'s Arrow form: a metadata-sized write (an audit
    row) needs no Spark job, and ``spark.read`` sees the same columns as
    in ``schema``. This process writes it, so ``path`` must be a
    :func:`local_path`."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    table = pa.table({f.name: [r[f.name] for r in rows] for f in arrow}, schema=arrow)
    local = local_path(path)
    os.makedirs(local, exist_ok=True)
    pq.write_table(table, os.path.join(local, f"{prefix}-{uuid.uuid4().hex}.parquet"))


def remove_dir(spark: SparkSession, path: str, prune_to: str | None = None) -> None:
    """Delete the directory ``path`` through the Hadoop FileSystem (see
    :func:`hadoop_path`), then, when ``prune_to`` is given, each parent
    this left empty, up to but not including ``prune_to``."""
    fs, hpath = hadoop_path(spark, path)
    fs.delete(hpath, True)
    if prune_to is None:
        return
    stop = fs.makeQualified(hadoop_path(spark, prune_to)[1])
    cur = fs.makeQualified(hpath).getParent()
    while cur is not None and not cur.equals(stop) and len(fs.listStatus(cur)) == 0:
        fs.delete(cur, False)
        cur = cur.getParent()


def write_dir(df: DataFrame, path: str, base: str, fmt: str = "parquet", *aggs) -> dict:
    """S4 + T4 in one job: write ``df`` to the directory ``path`` and
    return its row count ``n``, plus the named aggregates ``aggs``,
    observed on the write itself (:func:`runtime.run_observed`). When
    ``n`` is 0 the rowless directory is removed again, with the parents
    it emptied up to ``base`` (:func:`remove_dir`): a zero-record batch
    leaves no directory (Kafka_ArrivalToConform.sh:286-318)."""
    vals = runtime.run_observed(
        df,
        lambda d: d.write.mode("overwrite").format(fmt).save(path),
        F.count(F.lit(1)).alias("n"),
        *aggs,
    )
    if vals["n"] == 0:
        remove_dir(df.sparkSession, path, base)
    return vals


def run_dir(base: str, topic: str, partition: int | str, run_id: int) -> str:
    """F7: the reference's ``{topic}_{partition}_{run_id}`` naming
    (Kafka_ArrivalToConform.sh:317)."""
    return os.path.join(base, f"{topic}_{partition}_{run_id}")


def write_run_dir(
    df: DataFrame,
    base: str,
    topic: str,
    partition: int | str,
    run_id: int,
    fmt: str = "parquet",
) -> str | None:
    """S4 + T4: write one batch to its per-run directory under ``base``
    with :func:`write_dir`, one job; a zero-record batch leaves no
    directory (the reference asserts this,
    Kafka_ArrivalToConform.sh:286-309).

    Returns the directory written, or None when suppressed.
    """
    target = run_dir(base, topic, partition, run_id)
    return target if write_dir(df, target, base, fmt)["n"] else None


def write_conformed(
    df: DataFrame,
    path: str,
    run_id: int,
    source_file_name: str = "unknown",
    fmt: str = "parquet",
    create_date: str | None = None,
) -> None:
    """S5: conformed-layer sink with lineage stamping and the reference's
    partition layout ``create_date=.../source_file_name=...``
    (Kafka_ArrivalToConform.sh:536-539). Dynamic partition overwrite makes
    re-running a (date, file) pair idempotent.

    ``create_date`` should come from the run's control record (stable per
    run id): the wall-clock default means a retry that crosses midnight
    lands in a NEW date partition and duplicates the data instead of
    replacing it — pass the original run's date when re-running.
    """
    date_col = (
        F.to_date(F.lit(create_date)) if create_date else F.current_date()
    )
    (
        df.withColumn("create_job_run_id", F.lit(run_id).cast("long"))
        .withColumn("create_date", date_col)
        .withColumn("source_file_name", F.lit(source_file_name))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("create_date", "source_file_name")
        .format(fmt)
        .save(path)
    )


def jdbc_reader(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
    fetch_size: int = 10_000,
    predicate: str | None = None,
    properties: dict[str, str] | None = None,
):
    """S7 relational scan over JDBC — the reference reads its staging and
    dim tables from 4 Oracle connections (Kafka_MultipleTables.sh:204,
    Kafka_3NF.sh:234); this dev environment has no database, so the builder
    is CONSTRUCTED and option-tested but executed only on clusters with a
    JDBC driver on the classpath (same pattern as the Kafka source
    builders in streaming/ingest.py).

    Returns an un-loaded ``DataFrameReader`` — call ``.load()`` where a
    database exists. Scale notes baked into the options:

    - ``partitionColumn``/bounds/``numPartitions`` split the scan into
      parallel range queries (without them a JDBC read is ONE task — the
      classic single-connection bottleneck);
    - ``fetchsize`` batches row transfer (Oracle's default 10 rows would
      round-trip per-row at 100 TB);
    - a pushed ``predicate`` lands in the generated WHERE clause
      database-side, mirroring Catalyst's filter pushdown on parquet.
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", f"({predicate}) src" if predicate else table)
        .option("fetchsize", str(fetch_size))
    )
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError(
                "partition_column requires lower_bound and upper_bound"
            )
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader


def jdbc_writer(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batch_size: int = 10_000,
    num_partitions: int | None = None,
    properties: dict[str, str] | None = None,
):
    """S7 relational sink over JDBC (the reference's conform->staging Oracle
    loads, KafkaScript_ConformToStaging.sh). Returns an un-saved
    ``DataFrameWriter`` — call ``.save()`` where a database exists.

    ``batchsize`` controls rows per INSERT round-trip; ``num_partitions``
    caps concurrent connections (a 1000-executor write would otherwise open
    1000 sessions against the database)."""
    out = df.coalesce(num_partitions) if num_partitions else df
    writer = (
        out.write.format("jdbc")
        .mode(mode)
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batch_size))
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    return writer
