"""Data-quality combinator suite — the reference's signature capability.

Each combinator takes arbitrary DataFrames and returns a LAZY one-row
result frame ``(check_name, status, metric_a, metric_b)`` — PASS/FAIL
computed inside the plan, no driver actions — mirroring the reference's
validation queries, which log a PASS/FAIL row per check:

- count_check: source vs target row counts
  (/root/reference/Kafka_MultipleTables.sh:229-268,
   /root/reference/FACT_AUTOMATION.sh:221-263)
- data_diff: symmetric MINUS, both directions must be empty
  (/root/reference/FACT_AUTOMATION.sh:182-220)
- dup_check: group-by-all-columns HAVING count>1
  (/root/reference/fact_dim_merging.sh:361-413)
- null_check: NOT-NULL constraint audit, column list derived from the
  schema exactly as the reference derives it from ``all_tab_columns ...
  nullable='N'`` (/root/reference/fact_dim_merging.sh:282-358)
- audit sink: append results + timestamp to a parquet log table, the
  ``*_TEST_LOG`` pattern (/root/reference/fact_dim_merging.sh:107-110) (S9)

Scale notes: every combinator is a single lazy plan. count_check is ONE
aggregate over both inputs, tagged by side and unioned (no join);
landing_checks adds the target's NULL count to that same aggregate, so a
landed batch is recounted and NULL-audited in one scan of each side;
data_diff's ``except`` pair shuffles each input twice (inherent to exact
set-diff — the reference pays the same via MINUS); dup_check is one hash
aggregation; null_check is a filtered count with the OR-of-nulls pushed
to the scan.
"""

from __future__ import annotations

from collections.abc import Iterable
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_etl_automation_spark.io import append_rows, hadoop_path

PASS, FAIL = "PASS", "FAIL"

# The DQ audit table: a suite's result columns, then what the audit stamps.
AUDIT_SCHEMA = T.StructType(
    [
        T.StructField("check_name", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("metric_a", T.LongType()),
        T.StructField("metric_b", T.LongType()),
        T.StructField("audit_ts", T.TimestampType()),
        T.StructField("job_run_id", T.LongType()),
    ]
)


def _result(name: str, ok, metric_a, metric_b) -> list:
    return [
        F.lit(name).alias("check_name"),
        F.when(ok, F.lit(PASS)).otherwise(F.lit(FAIL)).alias("status"),
        metric_a.cast("long").alias("metric_a"),
        metric_b.cast("long").alias("metric_b"),
    ]


def _count_result(name: str, ca, cb) -> list:
    return _result(name, ca == cb, ca, cb)


def _null_result(name: str, bad, total) -> list:
    return _result(name, bad == 0, bad, total)


def _any_null(cols: list[str]) -> F.Column:
    """OR of ``IS NULL`` over ``cols``; FALSE for an empty list."""
    return reduce(lambda a, c: a | F.col(c).isNull(), cols, F.lit(False))


def _side_counts(source: DataFrame, target: DataFrame, target_flag=None) -> DataFrame:
    """One aggregate over source rows tagged TRUE unioned with target rows
    tagged FALSE: ``ca`` source rows, ``cb`` target rows and ``flagged``,
    the target rows where ``target_flag`` holds. One shuffle-free partial
    aggregate per input partition, one tiny final merge."""
    tagged = source.select(
        F.lit(True).alias("_src"), F.lit(False).alias("_flag")
    ).unionAll(
        target.select(
            F.lit(False).alias("_src"),
            (F.lit(False) if target_flag is None else target_flag).alias("_flag"),
        )
    )
    src = F.col("_src")
    return tagged.agg(
        F.count_if(src).alias("ca"),
        F.count_if(~src).alias("cb"),
        F.count_if(F.col("_flag")).alias("flagged"),
    )


def count_check(source: DataFrame, target: DataFrame, name: str = "count_check") -> DataFrame:
    """Q1: row-count equality. metric_a=source count, metric_b=target."""
    return _side_counts(source, target).select(
        *_count_result(name, F.col("ca"), F.col("cb"))
    )


def landing_checks(
    source: DataFrame,
    target: DataFrame,
    cols: Iterable[str],
    count_name: str,
    null_name: str,
) -> DataFrame:
    """count_check(source, target, count_name) followed by
    null_check(target, cols, null_name) — the same two result rows — from
    ONE aggregate over both inputs, so a landed batch is recounted and
    NULL-audited in a single scan of each side."""
    counts = _side_counts(source, target, _any_null(list(cols)))
    ca, cb = F.col("ca"), F.col("cb")
    rows = F.array(
        F.struct(*_count_result(count_name, ca, cb)),
        F.struct(*_null_result(null_name, F.col("flagged"), cb)),
    )
    return counts.select(F.explode(rows).alias("_r")).select("_r.*")


def data_diff(source: DataFrame, target: DataFrame, name: str = "data_diff") -> DataFrame:
    """Q2: exact set equality via MINUS both directions (Oracle MINUS is
    distinct-based -> ``except``). metric_a=|src∖tgt|, metric_b=|tgt∖src|."""
    fwd = source.select(*sorted(source.columns)).subtract(
        target.select(*sorted(target.columns))
    ).agg(F.count(F.lit(1)).alias("ca"))
    rev = target.select(*sorted(target.columns)).subtract(
        source.select(*sorted(source.columns))
    ).agg(F.count(F.lit(1)).alias("cb"))
    return fwd.crossJoin(rev).select(
        *_result(
            name,
            (F.col("ca") == 0) & (F.col("cb") == 0),
            F.col("ca"),
            F.col("cb"),
        )
    )


def dup_check(
    df: DataFrame, cols: Iterable[str] | None = None, name: str = "dup_check"
) -> DataFrame:
    """Q3: duplicate rows over ``cols`` (default: all columns, as the
    reference builds the list from the catalog). metric_a=# duplicated
    groups, metric_b=# surplus rows."""
    cols = list(cols) if cols is not None else list(df.columns)
    groups = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("cnt")).filter(
        F.col("cnt") > 1
    )
    agg = groups.agg(
        F.coalesce(F.count(F.lit(1)), F.lit(0)).alias("ng"),
        F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0)).alias("surplus"),
    )
    return agg.select(
        *_result(name, F.col("ng") == 0, F.col("ng"), F.col("surplus"))
    )


def duplicate_rows(df: DataFrame, cols: Iterable[str] | None = None) -> DataFrame:
    """The offending groups themselves (reference fetches them after the
    count, fact_dim_merging.sh:384-392)."""
    cols = list(cols) if cols is not None else list(df.columns)
    return (
        df.groupBy(*cols).agg(F.count(F.lit(1)).alias("cnt")).filter(F.col("cnt") > 1)
    )


def not_null_columns(df: DataFrame) -> list[str]:
    """Schema-driven NOT-NULL column list — the Spark analog of
    ``all_tab_columns ... nullable='N'`` (fact_dim_merging.sh:283-287)."""
    return [f.name for f in df.schema.fields if not f.nullable]


def null_check(
    df: DataFrame, cols: Iterable[str] | None = None, name: str = "null_check"
) -> DataFrame:
    """Q4: count rows violating NOT-NULL constraints (OR over columns).
    Default column list comes from the schema's nullability; pass ``cols``
    to check a declared constraint set instead. metric_a=# offending rows,
    metric_b=total rows."""
    cols = list(cols) if cols is not None else not_null_columns(df)
    agg = df.agg(
        F.count_if(_any_null(cols)).alias("bad"),
        F.count(F.lit(1)).alias("total"),
    )
    return agg.select(*_null_result(name, F.col("bad"), F.col("total")))


def null_offenders(df: DataFrame, cols: Iterable[str] | None = None) -> DataFrame:
    """The offending rows (reference fetches them, fact_dim_merging.sh:322-358)."""
    cols = list(cols) if cols is not None else not_null_columns(df)
    return df.filter(_any_null(cols))


def run_suite(checks: Iterable[DataFrame]) -> DataFrame:
    """Union the one-row results of several combinators into one frame —
    still a single lazy plan."""
    checks = list(checks)
    return reduce(lambda a, b: a.unionByName(b), checks[1:], checks[0])


def run_config_validations(
    spark,
    config: DataFrame,
    name_col: str = "check_name",
    source_col: str = "source_sql",
    target_col: str = "target_sql",
    params: dict | None = None,
) -> DataFrame:
    """The reference's FACT_AUTOMATION core loop
    (/root/reference/FACT_AUTOMATION.sh:116-263): a config table of
    (check name, source query, target query) rows drives count validation +
    symmetric-MINUS data validation per pair, all results in one frame.

    The config is control-plane metadata (the reference reads it from the
    ``TESTING_QUERIES`` table) — iterating it driver-side is the intended
    shape; each validation's data-plane work is a lazy Spark plan. ``params``
    are bound into the query text via parameterized spark.sql (F9), never
    string substitution.

    A row's source/target fields may each hold MULTIPLE ``;``-separated
    statements — the reference splits both on ``;`` and loops index-paired
    sub-queries (Kafka_3NF.sh:195-215's ``IFS=';'`` arrays). Multi-statement
    rows emit per-pair checks named ``{name}_{i}``; a source/target
    statement-count mismatch is an error here (the reference would silently
    validate against an empty string).
    """
    rows = config.select(name_col, source_col, target_col).collect()
    results = []
    for r in rows:
        src_stmts = [s.strip() for s in r[source_col].split(";") if s.strip()]
        tgt_stmts = [s.strip() for s in r[target_col].split(";") if s.strip()]
        if len(src_stmts) != len(tgt_stmts):
            raise ValueError(
                f"{r[name_col]}: {len(src_stmts)} source statements vs "
                f"{len(tgt_stmts)} target statements"
            )
        multi = len(tgt_stmts) > 1
        for i, (s_sql, t_sql) in enumerate(zip(src_stmts, tgt_stmts), 1):
            nm = f"{r[name_col]}_{i}" if multi else r[name_col]
            src = spark.sql(s_sql, args=params or {})
            tgt = spark.sql(t_sql, args=params or {})
            results.append(count_check(src, tgt, f"{nm}_count"))
            results.append(data_diff(src, tgt, f"{nm}_diff"))
    return run_suite(results)


def artifact_check(spark, path: str, name: str = "artifact_check") -> DataFrame:
    """Q6: artifact-existence validation — the reference asserts expected
    HDFS dirs/files exist by name (Kafka_ArrivalToConform.sh:311-332,
    KafkaScript_ConformToStaging.sh:151-153). metric_a=1 if present.
    ``path`` resolves through the Hadoop FileSystem, so ``file:`` URIs and
    cluster schemes are checked where Spark would read them."""
    fs, hpath = hadoop_path(spark, path)
    exists = bool(fs.exists(hpath))
    return spark.range(1).select(
        F.lit(name).alias("check_name"),
        F.lit(PASS if exists else FAIL).alias("status"),
        F.lit(1 if exists else 0).cast("long").alias("metric_a"),
        F.lit(0).cast("long").alias("metric_b"),
    )


def append_audit(results: DataFrame, path: str, run_id: int | None = None) -> None:
    """S9 audit-log sink: append PASS/FAIL rows stamped with the current
    timestamp (F5 ``sysdate``) and the run id — the ``*_TEST_LOG`` tables
    (Kafka_ArrivalToConform.sh:170-181). Append-mode parquet: each audit is
    a tiny immutable file, safe for concurrent readers at any scale."""
    (
        results.withColumn("audit_ts", F.current_timestamp())
        .withColumn("job_run_id", F.lit(run_id).cast("long"))
        .write.mode("append")
        .parquet(path)
    )


def append_audit_rows(rows: Iterable, path: str, run_id: int | None = None) -> None:
    """:func:`append_audit` for result rows already collected: the same
    columns, written as one small parquet file by pyarrow, with no Spark
    job (and so no second run of the suite that produced them)."""
    import datetime

    now = datetime.datetime.now(datetime.timezone.utc)
    stamp = {"audit_ts": now, "job_run_id": run_id}
    result_cols = [c for c in AUDIT_SCHEMA.fieldNames() if c not in stamp]
    stamped = [{c: r[c] for c in result_cols} | stamp for r in rows]
    append_rows(stamped, AUDIT_SCHEMA, path, "dq")
