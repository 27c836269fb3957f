"""Task and job budgets of the LSH keep-list under the engine's confs.

``session.get_spark`` lets AQE coalesce inside cached plans, so the
keep-list's persisted intermediates shrink to the partitions their bytes
need instead of keeping every shuffle partition; an input past the
partition floor's threshold (``dedup.scale_partition_floor``) pins cached
partitioning so caches built afterwards keep the session's count. Task and job counts are read from the status
store: unlike walls, host load cannot move them.

The engine's SQL confs are scoped onto the shared vanilla test session
and restored afterwards, so later tests still see a vanilla session.
"""

from __future__ import annotations

from contextlib import contextmanager

import pytest

from kafka_etl_automation_spark import runtime
from kafka_etl_automation_spark.catalog import load_tables
from kafka_etl_automation_spark.operators import dedup
from kafka_etl_automation_spark.session import sql_confs

from tests.conftest import SF_SMALL

SHUFFLE_PARTITIONS = 32
# the parent of this policy ran ~500 tasks per keep-list call on 1,000
# documents; with coalescing in cached plans a call runs ~40
MAX_TASKS = 80
MAX_JOBS = 45


@contextmanager
def _scoped_confs(spark, confs: dict[str, str]):
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _keep_list(docs, out: str) -> None:
    dedup.canonical_keep_list(
        docs,
        pair_source=lambda reps: dedup.minhash_lsh_pairs(
            reps, n=3, num_hashes=64, bands=16, threshold=0.5,
            collapse_exact=False, candidate_scope="star", max_bucket=1000,
        ),
    ).write.parquet(out)


def _spark_work(spark, fn) -> dict:
    """Run ``fn`` and count the jobs it submitted, their completed tasks
    (skipped stages excluded) and their call-site names."""
    jsc = spark.sparkContext._jsc.sc()
    first = int(jsc.dagScheduler().numTotalJobs())
    fn()
    end = int(jsc.dagScheduler().numTotalJobs())
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    stage_ids: set[int] = set()
    names = []
    for j in range(first, end):
        job = store.job(j)
        names.append(job.name())
        ids = job.stageIds()
        stage_ids.update(ids.apply(i) for i in range(ids.size()))
    tasks = 0
    for sid in stage_ids:
        st = store.lastStageAttempt(sid)
        if st.status().toString() != "SKIPPED":
            tasks += st.numCompleteTasks()
    return {"jobs": end - first, "tasks": tasks, "names": names}


def _collapse_group_cache():
    """The exact-collapse's per-text group frame (grp): its cache sits
    behind a shuffle, so its partition count shows the cache policy."""
    (grp,) = [c for c in runtime._POOLS["collapse"] if "_kl" in c.columns]
    return grp


@pytest.fixture()
def docs(spark):
    yield load_tables(spark, SF_SMALL, names=("documents",))["documents"]
    dedup.release_collapse_caches()
    spark.catalog.clearCache()


def test_keep_list_task_and_job_budget(spark, docs, tmp_path):
    engine = sql_confs(SHUFFLE_PARTITIONS)
    with _scoped_confs(spark, engine):
        work = _spark_work(spark, lambda: _keep_list(docs, str(tmp_path / "keep")))
        grp_parts = _collapse_group_cache().rdd.getNumPartitions()
    assert work["tasks"] <= MAX_TASKS, work
    assert work["jobs"] <= MAX_JOBS, work
    # the partition probe before the signature explode plans, never runs:
    # an executing probe shows as a job named after Dataset.rdd
    assert not [n for n in work["names"] if n.startswith("rdd at")], work["names"]
    # the cached group frame coalesced below the shuffle partitions
    assert grp_parts < SHUFFLE_PARTITIONS

    # same keep-list as the vanilla session computes
    dedup.release_collapse_caches()
    spark.catalog.clearCache()
    _keep_list(docs, str(tmp_path / "keep_vanilla"))
    engine_rows = sorted(spark.read.parquet(str(tmp_path / "keep")).collect())
    vanilla_rows = sorted(spark.read.parquet(str(tmp_path / "keep_vanilla")).collect())
    assert engine_rows == vanilla_rows and engine_rows


@pytest.mark.parametrize(
    "session_partitions, floor",
    [
        (SHUFFLE_PARTITIONS, 48),  # the floor raises the conf
        (40, 24),  # the session already exceeds the floor: no raise
    ],
)
def test_partition_floor_pins_cached_partitioning(
    spark, docs, tmp_path, monkeypatch, session_partitions, floor
):
    """An input past the floor threshold pins cached partitioning, raised
    or not: caches built afterwards keep the session's partition count."""
    size = dedup._local_input_bytes(docs)
    assert size is not None
    monkeypatch.setattr(dedup, "_SCALE_BYTES_PER_PARTITION", size // floor)
    engine = sql_confs(session_partitions)
    want = max(floor, session_partitions)
    app = spark.sparkContext.applicationId
    runtime._SNAPSHOTS.pop(app, None)
    try:
        with _scoped_confs(spark, engine):
            _keep_list(docs, str(tmp_path / "keep"))
            assert spark.conf.get("spark.sql.shuffle.partitions") == str(want)
            assert spark.conf.get(dedup._CACHED_PARTITIONING) == "false"
            # grp was persisted after the pin: it keeps the count
            assert _collapse_group_cache().rdd.getNumPartitions() == want
            # restoring undoes the raise and the pin together
            assert dedup.restore_shuffle_partitions(spark) == session_partitions
            assert spark.conf.get("spark.sql.shuffle.partitions") == str(
                session_partitions
            )
            assert spark.conf.get(dedup._CACHED_PARTITIONING) == "true"
    finally:
        runtime._SNAPSHOTS.pop(app, None)
    # outside the scope the vanilla session is back at Spark's default
    assert spark.conf.get(dedup._CACHED_PARTITIONING, None) is None
