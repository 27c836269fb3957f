"""SparkSession factory tuned for the engine.

Local-mode testing uses local[$SPARK_GRAFT_CPUS]; the configs below are the
ones that transfer to a real multi-executor cluster (AQE, skew-join handling,
Arrow for the Pandas-UDF slow path). On a 1000-executor / 100 TB deployment
only the master URL and memory sizing change — the plan-shaping configs stay.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kafka-etl-automation-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Defaults follow the driver contract: ``local[$SPARK_GRAFT_CPUS]`` (32),
    shuffle partitions ``max(cpus, 32)``, raised per input by the
    corpus-scale pipelines (``dedup.scale_partition_floor``) — at 100 TB
    you would size shuffle partitions to keep post-shuffle partitions
    ~128-256 MB and let AQE coalesce, which is exactly what these settings
    do at any scale.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        # Shuffle/spill codec: lz4 (Spark's default) for the CPU-bound
        # gate/bench workloads; the octave ladders set
        # SPARK_GRAFT_IO_CODEC=zstd — the r11 once-per-pair LSH verify
        # shuffles ~1.3e9 narrow candidate rows at 2700x, and on a
        # single-disk local box the ~2x better ratio is the difference
        # between completing and ENOSPC (on a cluster the same knob
        # trades a little CPU for half the network bytes).
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**sql_confs(max(cpus, 32)), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Derby (bundled with pyspark; used by the embedded-JDBC tests and a
    # Hive metastore if one is ever enabled) writes derby.log at CWD the
    # first time it boots unless told otherwise — point its error stream
    # at tmp BEFORE any connection can boot it, so a stray derby.log never
    # lands in the repo (VERDICT r08 housekeeping #3). Reads the property
    # at engine boot, so setting it on an already-running JVM is safe as
    # long as no Derby connection has been opened yet; tests that care
    # about the db location still override derby.system.home themselves.
    try:
        jsys = spark.sparkContext._jvm.java.lang.System
        if jsys.getProperty("derby.stream.error.file") is None:
            # Per-process path (ADVICE r09): a fixed /tmp/derby.log breaks
            # on shared hosts (another user's file is unopenable; parallel
            # sessions contend on one stream) — key it by pid under the
            # platform tempdir instead.
            import tempfile

            jsys.setProperty(
                "derby.stream.error.file",
                os.path.join(tempfile.gettempdir(), f"derby-{os.getpid()}.log"),
            )
    except Exception:
        pass  # py4j internals drift -> cosmetic guard only, never fatal
    return spark


def sql_confs(shuffle_partitions: int) -> dict[str, str]:
    """The engine's runtime-settable SQL confs: the plan-shaping half of
    :func:`get_spark`, which also sets the master, memory and codec. A
    caller can scope these onto an existing session (``spark.conf.set``)
    to plan exactly as an engine session does."""
    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Cached-partitioning policy: let AQE coalesce inside cached plans
        # too. Spark's default (false) keeps every persisted intermediate
        # (the dedup collapse maps, signature and band frames, curation's
        # corpus caches) at all shuffle partitions, so each stage scanning
        # one runs that many near-empty tasks at gate/bench scale (the LSH
        # keep-list: ~500 tasks per call on 1,000 documents, ~40 with
        # this). Spark reads the conf when a frame is persisted. The
        # exception is corpus scale: dedup.scale_partition_floor (any
        # file-backed input past its threshold, ~4 MiB, raised or not) and
        # the LSH flood escalation pin this back to false until
        # dedup.restore_shuffle_partitions, because there the partitions
        # bound per-task cache state. Vanilla sessions keep Spark's
        # default and produce the same outputs.
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        # Broadcast policy (r09): static threshold stays enabled — small
        # dims and EAGERLY-MATERIALIZED caches (whose InMemoryRelation
        # stats are measured, not estimated) broadcast as usual — but any
        # frame whose size the static planner can only ESTIMATE through a
        # Generate must never reach a broadcast build side: Catalyst does
        # not multiply row counts through explode, so corpus-sized frames
        # "look" tiny (caught live at the 2700x octave: the containment
        # check's ~600M-row gram set overflowed driver maxResultSize).
        # Those sites carry explicit shuffle_hash hints / eager cache
        # materialization; tools/audit_plans.py's BroadcastOverGenerate
        # check guards the class structurally. The adaptive threshold adds
        # runtime-measured conversions for shuffle-stage inputs.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.adaptive.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Let AQE demote sort-merge to shuffled-hash when the MEASURED
        # per-partition build side fits comfortably in task memory
        # (default 0 = never). This replaces static shuffle_hash hints on
        # scale-variant joins (the r11 once-per-pair LSH verify join):
        # a forced SHJ build OOMs when the build side outgrows the heap
        # (SHJ builds cannot spill — seen at 2700x/32g), while unhinted
        # sort-merge stays spillable and AQE restores the fast hash join
        # whenever the runtime stats say it is safe. The threshold
        # compares COMPRESSED map-output bytes, which understate the
        # UnsafeHashedRelation's in-memory size ~10x (zstd + hash-map
        # overhead) — 16m compressed => ~160 MB of build per task, ~5 GB
        # across 32 concurrent tasks, safe inside even a 32g heap's
        # execution pool (a 128m setting OOM'd exactly that way at
        # 2700x/512 partitions).
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": str(16 * 1024 * 1024),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        # testdata's events.ts is parquet TIMESTAMP(NANOS), which Spark's
        # vectorized reader rejects; read as long and let the catalog
        # convert (see catalog._NANO_TS_COLUMNS).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
    }
