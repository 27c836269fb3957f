"""Input partitioning for the corpus operators, decided without a Spark job.

Two decisions, both read from the driver's view of a frame:

- the partition floor: ``scale_partition_floor`` sizes the corpus-scale
  caches from the input's file-source scan (``local_input_bytes``, a
  driver-side listing), and ``by_id`` keys a signature input on its id;
- the fan-out: ``fan_out`` repartitions a narrow input to the cluster's
  core count before a CPU-multiplying stage, reading the input's partition
  count from its physical plan (``plan_num_partitions``).
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

# Scale-adaptive partition floor (guide §2: partitioning must derive from
# input size, not a constant tuned for either local mode or the cluster).
# ~2 MiB of source parquet per partition anchors to the measured working
# point: the 2700x octave's 1.2 GB documents table ran the canonical
# pipelines at 32 GB heap with 512 partitions (r11, BENCH_SCALE.md) = 2.3
# MiB/partition, while 32 partitions — the local default — OOMs the
# pass-2 corpus materialization at that octave (r12, measured: Java heap
# space in the corpus pool's runtime.persist). Gate/bench SFs sit far
# below the threshold (sf0.1 documents ≈ 0.6 MB). Past it (a floor of 2+
# partitions, ~4 MiB of source) the corpus operators repartition the
# inputs of their corpus-scale caches to scale_partition_floor's count;
# AQE never coalesces such an exchange, so each cache keeps that count
# and its per-task state stays bounded.
_SCALE_BYTES_PER_PARTITION = 2 * 1024 * 1024
_SCALE_PARTITION_CAP = 2048


def local_input_bytes(df: DataFrame) -> int | None:
    """Total stat-able local file bytes behind ``df``'s scan, or None when
    the frame has no trustworthy local file source (in-memory relations,
    RDD-backed plans, remote schemes). Driver-side listing only — zero
    Spark jobs. Shared by scale_partition_floor and the collapse's
    small-source fast path."""
    total = 0
    try:
        for uri in df.inputFiles():
            parsed = urlparse(uri)
            if parsed.scheme in ("file", ""):
                try:
                    total += os.path.getsize(unquote(parsed.path))
                except OSError:
                    pass
            else:
                return None  # non-local scheme: no trustworthy size
    except Exception:
        return None
    return total if total > 0 else None


def partition_floor(input_bytes: int, cur_partitions: int) -> int | None:
    """Pure sizing rule: partitions the input's heavy shuffles want, or
    None when the current setting already suffices. Never lowers."""
    want = min(_SCALE_PARTITION_CAP, input_bytes // _SCALE_BYTES_PER_PARTITION)
    return int(want) if want > cur_partitions else None


def scale_partition_floor(df: DataFrame) -> int | None:
    """Partitions for the corpus-scale caches built from ``df``: the floor
    derived from ``df``'s file-source scan size, never below the session's
    ``spark.sql.shuffle.partitions`` (read, never written). None below the
    threshold (a floor of at most one partition), where the caches keep
    the session's plan.

    The corpus operators (minhash_lsh_pairs, canonical_keep_list,
    decontaminate_canonical_lsh) call this before their first wide stage
    and apply the count as an explicit ``repartition(n, *keys)`` where a
    cache's input is exchanged anyway, so per-task cache state (signature
    unroll, join builds, sort runs) shrinks with corpus growth while the
    session's confs, and so every later query's plan, stay as they were.
    Input size comes from the driver-side file listing (``df.inputFiles``
    + stat for ``file:`` URIs — zero Spark jobs). Frames with no stat-able
    local file source (in-memory relations, RDD-backed plans, remote
    schemes) get None: Catalyst's fallback ``sizeInBytes`` is NOT a usable
    proxy here — it defaults to ``Long.MaxValue`` for RDD-backed plans and
    multiplies children for joins, so trusting it once sized a
    2048-partition floor for a test session's in-memory frame.
    """
    total = local_input_bytes(df)
    if total is None or total // _SCALE_BYTES_PER_PARTITION <= 1:
        return None
    try:
        # a non-numeric or unreadable session value degrades to the
        # no-floor answer, not an error out of the operator (ADVICE r12)
        cur = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        return None
    return partition_floor(total, cur) or cur


def by_id(df: DataFrame, id_col: str, parts: int | None) -> DataFrame:
    """``df`` as the input of a signed frame: repartitioned on ``id_col``
    to the partition floor ``parts``, or to the core count below it. The
    gram explode never splits a document across partitions, so
    signature_sets' per-doc aggregation then needs no exchange of its own:
    the documents ride this one instead of the per-doc partial aggregates
    (64-bit hash sets, which compress poorly), the gram rows ride none, and
    the signed frame keeps the count. At the core count it is also the
    fan-out the gram explode wants."""
    n = parts or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, id_col)


def plan_num_partitions(plan) -> int | None:
    """Output partition count of a JVM physical plan, read without
    running it, or None when only running it can tell. AQE changes a
    count only by coalescing a shuffle's output, so the walk answers just
    for plans whose output path crosses no shuffle: down an adaptive
    plan's current physical plan (exchanges inserted), unary nodes and a
    broadcast hash join's streamed side to a leaf (its RDD: file splits, a
    driver-side listing, no job) or a loaded cache (its block count) or an
    explicit ``repartition(n, ...)`` (AQE never changes its count). Nodes
    on the way that report a partition count (a coalesce, a
    single-partition operator) cap it. Any other shuffle (exchange, query
    stage or shuffle read), an unloaded cache (its RDD would build the
    cache) or another multi-child node (unions, other joins) answer None.

    PRIVATE API (the physical plan classes), pinned against pyspark
    4.1.x; fan_out treats a walk that raises as one that cannot answer."""
    cap = None
    while True:
        cls = plan.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            plan = plan.executedPlan()
            continue
        if (
            cls == "ShuffleExchangeExec"
            and plan.shuffleOrigin().toString() == "REPARTITION_BY_NUM"
        ):
            count = plan.outputPartitioning().numPartitions()
            break
        if "Exchange" in cls or "QueryStage" in cls or cls == "AQEShuffleReadExec":
            return None
        n = plan.outputPartitioning().numPartitions()
        if n > 0:
            cap = n if cap is None else min(cap, n)
        if cls == "BroadcastHashJoinExec":
            plan = plan.streamedPlan()
        elif cls == "InMemoryTableScanExec":
            builder = plan.relation().cacheBuilder()
            if not builder.isCachedColumnBuffersLoaded():
                return None
            count = builder.cachedColumnBuffers().getNumPartitions()
            break
        else:
            kids = plan.children()
            if kids.size() == 1:
                plan = kids.apply(0)
            elif kids.size() == 0:
                count = plan.execute().getNumPartitions()
                break
            else:
                return None
    return count if cap is None else min(cap, count)


def fan_out(df: DataFrame) -> DataFrame:
    """Scale parallelism UP before a CPU-multiplying stage (shingle/token
    explode ~100x the row count and hashes every shingle). A small parquet
    input scans as few partitions (one file => one task), which would
    single-thread the whole pipeline; round-robin repartition to the
    cluster's core count first. Guarded: never reduces partitioning, so a
    100 TB corpus that already scans wide passes through untouched.

    Decided from the plan alone (:func:`plan_num_partitions`), so it runs
    no Spark job. Where the walk cannot answer (a shuffle-topped input,
    whose count after AQE's coalescing is only known once it runs; an
    unloaded cache) or raises, the input fans out."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        nparts = plan_num_partitions(df._jdf.queryExecution().executedPlan())
    except Exception:
        nparts = None
    if nparts is None or nparts < target:
        return df.repartition(target)
    return df
