"""Slowly-changing-dimension merge + idempotent re-run, parquet-native.

Re-expresses the reference's dimensional-load core (M1-M4):

- SCD dispatch static / Type-1 / Type-2
  (/root/reference/rerunnability.sh:47-77: table type from
  ``DIM_mapping_summary.csv``, branch on Static / 'Type 1' / else Type-2)
- idempotent delete-then-reload per run id
  (/root/reference/rerunnability.sh:91-181: after a re-run, rows with
  ``create_job_run_id=$PRE or update_job_run_id=$PRE`` must be gone)
- lineage stamping ``create_job_run_id`` / ``update_job_run_id``
  (/root/reference/Kafka_ArrivalToConform.sh:481)

Design: ``scd_merge`` is a pure DataFrame -> DataFrame transform (current
dim state + incoming snapshot -> new dim state), so Catalyst owns the
physical plan. Type 2 runs in one pass: a single full outer join of the
whole dimension (history included) with the snapshot, matched on open
rows only, then one ``explode`` that emits each joined row's surviving
versions: the current side (closed when its attributes changed) and the
incoming side (when new or changed). One join means one shuffle of each
input and one plan to compile; the earlier shape referenced the join five
times and unioned six branches (perfbench's cold ``scd`` span, two merges
and their writes: 13 Spark jobs then, 7 now). A full outer join does not
broadcast: it sort-merges, or AQE turns it into a shuffled hash join when
the measured build side is small. Static and Type 1 join on the business
key the same way, as anti/inner joins that broadcast a small side.
Persistence is plain parquet partitioned by ``create_job_run_id`` with
dynamic partition overwrite: re-writing a run id replaces exactly that
partition (M3) without a table-format dependency.

Type-2 current-row convention matches the reference: ``record_status='1'``
current / ``'0'`` closed (the flagship query filters RECORD_STATUS='1',
/root/reference/query.txt:1).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_etl_automation_spark.io import hadoop_path

LINEAGE_COLS = ("create_job_run_id", "update_job_run_id", "record_status")


def _stamp_new(df: DataFrame, run_id: int) -> DataFrame:
    return (
        df.withColumn("create_job_run_id", F.lit(run_id).cast("long"))
        .withColumn("update_job_run_id", F.lit(run_id).cast("long"))
        .withColumn("record_status", F.lit("1"))
    )


def _attrs(df: DataFrame, keys: Sequence[str]) -> list[str]:
    return [c for c in df.columns if c not in keys and c not in LINEAGE_COLS]


def _changed(attrs: Sequence[str]) -> F.Column:
    """Null-safe any-attribute-differs predicate (<=> negated)."""
    cond = F.lit(False)
    for a in attrs:
        cond = cond | ~F.col(f"cur.{a}").eqNullSafe(F.col(f"inc.{a}"))
    return cond


def _one_row_per_key(incoming: DataFrame, keys: list[str]) -> DataFrame:
    """One row per key (NULL keys group together): the row whose non-key
    columns, as a struct in column order, are greatest. One aggregation,
    like the ``dropDuplicates`` it replaces, whose survivor among
    differing duplicates depended on row order. A single non-key column
    takes a plain max (the same row): a struct buffer would turn a
    fixed-width snapshot's hash aggregate into a sort-based one."""
    rest = [c for c in incoming.columns if c not in keys]
    if not rest:
        return incoming.dropDuplicates(keys)
    if len(rest) == 1:
        top = [F.max(rest[0]).alias(rest[0])]
    else:
        top = [F.max(F.struct(*rest)).alias("_row")]
        rest = ["_row.*"]
    return incoming.groupBy(*keys).agg(*top).select(*keys, *rest).select(*incoming.columns)


def scd_merge(
    current: DataFrame | None,
    incoming: DataFrame,
    keys: Sequence[str],
    scd_type: str,
    run_id: int,
) -> DataFrame:
    """Merge an incoming snapshot into the current dimension state.

    scd_type: 'static' | '1' | '2' (reference branch rerunnability.sh:64-77).

    - static: existing rows are immutable; only never-seen keys insert.
    - type 1: matched rows take the incoming attributes in place
      (update_job_run_id advances; create lineage preserved).
    - type 2: matched+changed rows close the old version (record_status '0',
      update_job_run_id=run) and insert a new current version; unchanged
      rows pass through untouched; new keys insert.

    Keys present in the dim but absent from the incoming snapshot stay
    OPEN (their last version remains current): source omission is not a
    delete — matching the reference, where deletes arrive as explicit
    reprocess/delete flows (rerunnability.sh), never inferred from a feed.

    A snapshot that repeats a key keeps one row for it: the greatest of
    its non-key columns compared as a struct, in column order, NULL below
    any value (:func:`_one_row_per_key`). The result is the same however
    the snapshot is ordered or partitioned.

    Returns the complete new dim state (history included for type 2).
    """
    scd_type = str(scd_type).lower().lstrip("type").strip() or "2"
    if scd_type not in {"static", "1", "2"}:
        raise ValueError(f"scd_type must be static/1/2, got {scd_type!r}")
    keys = list(keys)
    incoming = _stamp_new(_one_row_per_key(incoming, keys), run_id)

    if current is None or not current.columns:
        return incoming

    attrs = _attrs(incoming, keys)
    cur = current.alias("cur")
    inc = incoming.alias("inc")
    on = [F.col(f"cur.{k}") == F.col(f"inc.{k}") for k in keys]

    if scd_type == "static":
        new_keys = inc.join(cur.filter(F.col("record_status") == "1"), on, "left_anti")
        return current.unionByName(new_keys)

    if scd_type == "1":
        # Matched: take incoming attrs, keep create lineage, advance update.
        merged_cols = (
            [F.col(f"cur.{k}").alias(k) for k in keys]
            + [F.col(f"inc.{a}").alias(a) for a in attrs]
            + [
                F.col("cur.create_job_run_id").alias("create_job_run_id"),
                F.lit(run_id).cast("long").alias("update_job_run_id"),
                F.col("cur.record_status").alias("record_status"),
            ]
        )
        matched = cur.join(inc, on, "inner").select(*merged_cols)
        unmatched_cur = cur.join(inc, on, "left_anti")
        new_keys = inc.join(cur, on, "left_anti")
        return unmatched_cur.unionByName(matched).unionByName(new_keys)

    # type 2, one pass: a single full outer join of the WHOLE dimension
    # with the snapshot, matching open rows only (closed history never
    # matches and passes through unchanged), then one two-slot row per
    # joined row: [current side, closed when changed; incoming side, kept
    # when new or changed], NULL slots dropped. Side presence is tracked
    # with explicit marker columns, not key-null checks: a legitimately
    # NULL business-key value on either side would otherwise register as
    # "row absent" and fabricate spurious all-NULL rows (code-review
    # finding r02). NULL keys never match under ``=``: a current row with
    # one passes through, an incoming row with one inserts.
    cur = current.withColumn("_cur_present", F.lit(True)).alias("cur")
    inc = incoming.withColumn("_inc_present", F.lit(True)).alias("inc")
    joined = cur.join(inc, on + [F.col("cur.record_status") == "1"], "full_outer")
    cur_present = F.col("_cur_present").isNotNull()
    inc_present = F.col("_inc_present").isNotNull()
    changed = cur_present & inc_present & _changed(attrs)
    closing = {
        "update_job_run_id": F.when(changed, F.lit(run_id).cast("long")).otherwise(
            F.col("cur.update_job_run_id")
        ),
        "record_status": F.when(changed, F.lit("0")).otherwise(
            F.col("cur.record_status")
        ),
    }
    cur_row = F.when(
        cur_present,
        F.struct(*[closing.get(c, F.col(f"cur.{c}")).alias(c) for c in current.columns]),
    )
    inc_row = F.when(
        inc_present & (changed | ~cur_present),
        F.struct(*[F.col(f"inc.{c}").alias(c) for c in current.columns]),
    )
    return (
        joined.select(F.explode(F.array(cur_row, inc_row)).alias("_row"))
        .filter(F.col("_row").isNotNull())
        .select("_row.*")
    )


# ---------------------------------------------------------------------------
# Persistence: per-run partitioned parquet with idempotent re-run (M1/M3)
# ---------------------------------------------------------------------------


def append_run(df: DataFrame, path: str, run_id: int, run_col: str = "create_job_run_id") -> None:
    """M1 INSERT-append of one run's rows, idempotently: the frame is
    partitioned by run id and written with dynamic partition overwrite, so
    re-running the same run id replaces its own partition and leaves every
    other run untouched (M3, rerunnability.sh:91-131). At 100 TB this is a
    metadata-only swap of one partition directory.

    ``run_col`` is ALWAYS (re)stamped to ``run_id`` — "this batch IS run
    N". A source frame carrying an upstream layer's lineage column would
    otherwise scatter the batch across the upstream's run partitions,
    breaking the landed-rows filter and the failure-cleanup delete
    (code-review finding r02). Preserve upstream lineage by renaming it
    (e.g. ``src_job_run_id``) before the hop."""
    df = df.withColumn(run_col, F.lit(run_id).cast("long"))
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(run_col)
        .parquet(path)
    )


def delete_run(spark: SparkSession, path: str, run_id: int, run_col: str = "create_job_run_id") -> None:
    """Remove one run's partition (the 'delete' half of delete-then-reload).
    Partition-pruned read + dynamic overwrite of an empty frame would not
    drop the directory; partition dirs are addressable directly, so the
    delete goes through the Hadoop FileSystem API — it resolves the path's
    scheme (file://, hdfs://, s3a://), so the failed-run cleanup that
    backs the no-duplicate-on-retry guarantee (rerunnability.sh:91-131)
    works identically on local disk and on cluster storage (a local-FS
    rmtree would silently no-op off local disk — ADVICE r02)."""
    fs, hpath = hadoop_path(spark, os.path.join(path, f"{run_col}={run_id}"))
    if fs.exists(hpath):
        fs.delete(hpath, True)


def read_dim(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def current_rows(dim: DataFrame) -> DataFrame:
    """The reference's consumers read current state as RECORD_STATUS='1'
    (query.txt:1)."""
    return dim.filter(F.col("record_status") == "1")


def cdc_apply(
    base: DataFrame,
    changelog: DataFrame,
    keys: Sequence[str],
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Apply an I/U/D changelog to a base snapshot — MERGE semantics over
    plain DataFrames, the batch analog of the reference's conform-layer
    upsert flow (Kafka_ArrivalToConform.sh:392-470 stages arrivals then
    merges into conformed by business key).

    ``changelog`` rows carry (keys..., seq_col, op_col in {'I','U','D'},
    payload...); ``seq_col`` must be unique per key (a Kafka offset, a CDC
    LSN). Per key only the HIGHEST-seq change wins:

    - last op 'D'      -> key absent from the result;
    - last op 'I'/'U'  -> key present with that change's payload
      (an update for an unseen key upserts, like MERGE WHEN NOT MATCHED);
    - key not in the changelog -> base row passes through untouched.

    Scale design: the changelog compacts FIRST with a max_by(struct, seq)
    aggregation — partial-aggregable, so map-side combine collapses
    redelivery storms before the shuffle; the base is touched by exactly
    one anti-join on the (already tiny, one row per changed key) compacted
    frame, which Catalyst broadcasts when small. The base is never sorted
    or windowed — the copy-on-write merge shape of Delta/Hudi.
    """
    attrs = [c for c in changelog.columns if c not in (*keys, seq_col, op_col)]
    latest = (
        changelog.groupBy(*keys)
        .agg(
            F.max_by(
                F.struct(F.col(op_col).alias("__op"), *attrs), F.col(seq_col)
            ).alias("__r")
        )
        .select(*keys, "__r.*")
    )
    unchanged = base.join(latest.select(*keys), list(keys), "anti")
    upserts = (
        latest.filter(F.col("__op") != "D")
        .drop("__op")
        .select(*keys, *attrs)
    )
    return unchanged.select(*keys, *attrs).unionByName(upserts)
