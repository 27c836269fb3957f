"""Table catalog over the warehouse parquet layers.

The reference discovers schemas dynamically from Oracle's ``all_tab_columns``
and Hive ``limit 0`` probes (/root/reference/fact_dim_merging.sh:283-287,
/root/reference/Kafka_ArrivalToConform.sh:473-477); here the catalog is
``spark.read.parquet`` + ``df.schema`` — schema-on-read with explicit
StructTypes available from the parquet footers.

Correctness-critical confs are set HERE, at runtime, on whatever session the
caller hands us — never rely on the session factory having run: the harness
(and any production deployment) builds its own SparkSession.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Runtime SQL confs every read path needs, independent of who built the
# session.  nanosAsLong: testdata's events.ts is parquet TIMESTAMP(NANOS),
# which Spark's reader rejects outright without it (PARQUET_TYPE_ILLEGAL).
# UTC session tz keeps timestamp-derived values engine-independent vs the
# DuckDB oracle (DuckDB timestamps are naive/UTC).
_RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
}


def ensure_confs(spark: SparkSession) -> None:
    """Apply correctness-critical runtime confs to an existing session."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            spark.conf.set(k, v)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Timestamp columns whose physical parquet encoding has drifted between
# testdata vintages; normalize every vintage to TimestampType here so no
# downstream operator ever sees the difference:
#   - TIMESTAMP(NANOS): read as long via spark.sql.legacy.parquet.nanosAsLong,
#     then convert with integer division (ns -> us) — `div`, not `/`, because
#     epoch-nanos exceed double's 53-bit mantissa.
#   - TIMESTAMP(MICROS, isAdjustedToUTC=false): a vanilla session infers
#     TIMESTAMP_NTZ (inferTimestampNTZ default true); cast to TimestampType —
#     the session tz is pinned UTC by ensure_confs, so values are identical.
_TS_COLUMNS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def _normalize_ts(df: DataFrame, name: str) -> DataFrame:
    from pyspark.sql import functions as F, types as T

    for col in _TS_COLUMNS.get(name, ()):
        if col not in df.columns:
            continue
        dt = df.schema[col].dataType
        if isinstance(dt, T.LongType):
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
        elif isinstance(dt, T.TimestampNTZType):
            df = df.withColumn(col, F.col(col).cast(T.TimestampType()))
    return df


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    buckets: int = 32,
    sort: bool = True,
) -> None:
    """Persist a table bucketed (and sorted) by its join key.

    Two tables bucketed the same way join with NO exchange — at 100 TB this
    converts the nightly fact/dim join from a full shuffle into a local
    zipper per bucket (the reference's Oracle equivalent is hash-clustered
    staging tables). Bucket count should be sized so bucket x file ~
    128-256 MB at the target scale.
    """
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        buckets, *bucket_cols
    )
    if sort:
        writer = writer.sortBy(*bucket_cols)
    writer.saveAsTable(table)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one warehouse table. Parquet scan => Catalyst gets predicate
    pushdown + column pruning for free; never cache here (tables are the
    100 TB side at scale)."""
    ensure_confs(spark)
    return _normalize_ts(spark.read.parquet(table_path(sf_dir, name)), name)


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    names: Iterable[str] | None = None,
    register_views: bool = True,
) -> dict[str, DataFrame]:
    """Load the requested warehouse tables (default: all that exist),
    optionally registering temp views so the SQL surface (spark.sql) sees
    the same names the DuckDB oracle does.

    Callers SHOULD pass ``names``: it scopes I/O and failure blast-radius to
    the tables a query actually touches — one unreadable file must never
    sink unrelated queries (round-1 postmortem, VERDICT.md item 2).
    """
    ensure_confs(spark)
    out: dict[str, DataFrame] = {}
    for name in names if names is not None else TABLE_NAMES:
        path = table_path(sf_dir, name)
        if not os.path.exists(path):
            continue
        df = _normalize_ts(spark.read.parquet(path), name)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
