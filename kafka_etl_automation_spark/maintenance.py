"""Table maintenance: small-file compaction.

Streaming ingest and per-run partitioned writes (scd.append_run, the
bronze sink) produce many small files over time; at 100 TB, scan
performance degrades with file count (driver listing, task scheduling,
row-group overhead). ``compact`` rewrites a parquet directory into
~target-sized files and swaps it in (two renames with crash recovery — see
``compact``'s docstring for the exact guarantees), preserving the data
byte-for-byte (it is a pure re-layout; verified by the row-count check
before the swap). The rewrite counts its own rows, so a compaction costs
the schema read, the write and the recount of the new copy.
"""

from __future__ import annotations

import math
import os
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from kafka_etl_automation_spark import runtime
from kafka_etl_automation_spark.io import fs_path, remove_dir


def dir_stats(path: str) -> tuple[int, int]:
    """(total bytes, data file count) under a table directory."""
    total, files = 0, 0
    for root, _, names in os.walk(fs_path(path)):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def recover(path: str) -> bool:
    """Restore a table stranded by a crash mid-swap: if ``path`` is absent
    but ``<path>__precompact`` exists, rename it back. Returns True when a
    recovery happened. Safe to call unconditionally (no-op otherwise)."""
    local = fs_path(path).rstrip("/")
    old = local + "__precompact"
    if not os.path.exists(local) and os.path.exists(old):
        os.rename(old, local)
        return True
    return False


def compact(
    spark: SparkSession,
    path: str,
    target_mb: int = 256,
    partition_col: str | None = None,
) -> tuple[int, int]:
    """Rewrite ``path`` into ceil(bytes / target_mb) files (per partition
    directory when ``partition_col`` is given, preserving the partition
    layout). Returns (files_before, files_after). ``path`` is a local
    table: a plain path or a ``file:`` URI.

    Safety: the compacted copy is written beside the original and only
    swapped in after a row-count equality check — a failed rewrite leaves
    the table untouched. The rows before are counted by the rewrite job
    itself (an observed metric), the rows after by an independent read of
    the new copy. The swap itself is TWO renames, not atomic: a
    crash between them leaves the table absent at ``path`` with the data
    intact under ``<path>__precompact``; the next ``compact`` call (or
    ``recover``) detects the lingering dir and restores it before doing
    anything else. Concurrent readers during the swap window can fail —
    schedule compaction in a maintenance window, as the reference does for
    its rebuild jobs.
    """
    recover(path)
    local = fs_path(path).rstrip("/")
    # A hive-partitioned layout (name=value dirs) compacted WITHOUT
    # partitionBy would silently flatten the directory structure —
    # breaking partition pruning and scd.delete_run afterwards. Detect the
    # layout and derive the partition column rather than trusting the
    # caller to remember (code-review finding r02).
    part_dirs = [
        d
        for d in os.listdir(local)
        if os.path.isdir(os.path.join(local, d)) and "=" in d
    ]
    if part_dirs:
        detected = sorted({d.split("=", 1)[0] for d in part_dirs})
        if len(detected) > 1:
            raise ValueError(
                f"multi-level partition layout {detected} not supported"
            )
        if partition_col is None:
            partition_col = detected[0]
        elif partition_col != detected[0]:
            raise ValueError(
                f"table is partitioned by {detected[0]!r}, got "
                f"partition_col={partition_col!r}"
            )

    bytes_total, files_before = dir_stats(local)
    n_files = max(1, math.ceil(bytes_total / (target_mb * 1024 * 1024)))

    df = spark.read.parquet(path)
    suffix = f"__compact_{uuid.uuid4().hex[:8]}"
    tmp, local_tmp = path.rstrip("/") + suffix, local + suffix

    def rewrite(counted):
        if partition_col:
            # one sized write per partition value, keeping pruning intact
            (
                counted.repartition(n_files, partition_col)
                .write.mode("overwrite")
                .partitionBy(partition_col)
                .parquet(tmp)
            )
        else:
            counted.repartition(n_files).write.mode("overwrite").parquet(tmp)

    before = int(runtime.run_observed(df, rewrite, F.count(F.lit(1)).alias("n"))["n"])

    after = spark.read.schema(df.schema).parquet(tmp).count()
    if after != before:
        remove_dir(spark, tmp)
        raise RuntimeError(
            f"compaction row mismatch ({before} -> {after}); original kept"
        )
    old, local_old = path.rstrip("/") + "__precompact", local + "__precompact"
    if os.path.exists(local_old):
        # previous compact crashed AFTER its swap completed (path exists)
        # but before cleanup — the lingering dir is superseded data
        remove_dir(spark, old)
    os.rename(local, local_old)
    os.rename(local_tmp, local)
    remove_dir(spark, old)
    _, files_after = dir_stats(local)
    return files_before, files_after
