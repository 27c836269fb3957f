"""Task and job budgets of the LSH keep-list and decontamination under the
engine's confs.

``session.get_spark`` lets AQE coalesce inside cached plans, so the
keep-list's persisted intermediates shrink to the partitions their bytes
need instead of keeping every shuffle partition; past the partition
floor's threshold (``partitioning.scale_partition_floor``) the corpus
operators repartition their caches' inputs, so those caches keep the
floor's count while the session's confs stay as they were. The signature
input is keyed by id at every size (``partitioning.by_id``), and no
partitioning decision runs a job. Task and job counts are read from the
status store: unlike walls, host load cannot move them.

The engine's SQL confs are scoped onto the shared vanilla test session
and restored afterwards, so later tests still see a vanilla session.
"""

from __future__ import annotations

import re
from contextlib import contextmanager

import pytest

from kafka_etl_automation_spark import runtime
from kafka_etl_automation_spark.catalog import load_tables
from kafka_etl_automation_spark.operators import curation, dedup, partitioning
from kafka_etl_automation_spark.session import next_job_id, sql_confs

from tests.conftest import SF_SMALL, spark_work

SHUFFLE_PARTITIONS = 32
# the parent of this policy ran ~500 tasks per keep-list call on 1,000
# documents; with coalescing in cached plans a call runs ~40
MAX_TASKS = 80
# a keep-list call runs 24 jobs since connected components label a small
# pair graph in one task; the round loop ran 37
MAX_JOBS = 28
MAX_DECON_JOBS = 44  # per decontaminate_canonical_lsh call


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


def _decontaminate(docs, out: str) -> None:
    curation.decontaminate_canonical_lsh(docs, max_bucket=1000).write.parquet(out)


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


def _count_decision_jobs(monkeypatch) -> list[tuple[str, int]]:
    """Wrap the partitioning decisions so that each call records the jobs
    scheduled while it ran (AQE stage jobs carry no call site, so only the
    job ids around the call can show them). The collapse's async member
    count is joined first, so its job is not counted as the call's."""
    calls = []
    for name in ("scale_partition_floor", "by_id", "fan_out"):
        def timed(*args, _f=getattr(partitioning, name), _name=name):
            runtime.settle()
            before = next_job_id(args[0].sparkSession)
            out = _f(*args)
            calls.append((_name, next_job_id(args[0].sparkSession) - before))
            return out

        monkeypatch.setattr(partitioning, name, timed)
    return calls


def test_keep_list_task_and_job_budget(spark, docs, tmp_path, monkeypatch):
    engine = sql_confs(SHUFFLE_PARTITIONS)
    decisions = _count_decision_jobs(monkeypatch)
    with _scoped_confs(spark, engine):
        work = spark_work(spark, lambda: _keep_list(docs, str(tmp_path / "keep")))
        grp_parts = _collapse_group_cache().rdd.getNumPartitions()
    assert work["tasks"] <= MAX_TASKS, work
    assert work["jobs"] <= MAX_JOBS, work
    # the partition decisions read plans and file listings, never run one
    assert {name for name, _ in decisions} == {"scale_partition_floor", "by_id"}
    assert not [c for c in decisions if c[1]], decisions
    # the cached group frame coalesced below the shuffle partitions
    assert grp_parts < SHUFFLE_PARTITIONS

    # same keep-list as the vanilla session computes
    dedup.release_collapse_caches()
    spark.catalog.clearCache()
    _keep_list(docs, str(tmp_path / "keep_vanilla"))
    engine_rows = sorted(spark.read.parquet(str(tmp_path / "keep")).collect())
    vanilla_rows = sorted(spark.read.parquet(str(tmp_path / "keep_vanilla")).collect())
    assert engine_rows == vanilla_rows and engine_rows


def _confs(spark) -> dict[str, str]:
    return dict(spark.conf.getAll)


def _cached(spark, seen: set[int]) -> dict[str, int]:
    """Partition count per cache materialized since ``seen`` (RDD ids),
    keyed by the first operator line of its plan."""
    out = {}
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        if info.id() not in seen:
            lines = info.name().splitlines()
            out[lines[min(1, len(lines) - 1)]] = info.numPartitions()
    return out


@pytest.mark.parametrize(
    "session_partitions, floor",
    [
        (SHUFFLE_PARTITIONS, 48),  # the floor exceeds the session's count
        (40, 24),  # the session already exceeds the floor
    ],
)
def test_partition_floor_repartitions_caches(
    spark, docs, tmp_path, monkeypatch, session_partitions, floor
):
    """An input past the floor threshold gets its corpus caches (the
    collapse's group frame, the signed frame and its bands) repartitioned
    to max(floor, session partitions), and leaves the confs alone."""
    size = partitioning.local_input_bytes(docs)
    assert size is not None
    monkeypatch.setattr(partitioning, "_SCALE_BYTES_PER_PARTITION", size // floor)
    want = max(floor, session_partitions)
    with _scoped_confs(spark, sql_confs(session_partitions)):
        before = _confs(spark)
        assert partitioning.scale_partition_floor(docs) == want
        seen = {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
        _keep_list(docs, str(tmp_path / "keep"))
        assert _confs(spark) == before
        assert _collapse_group_cache().rdd.getNumPartitions() == want
        cached = _cached(spark, seen)
        signed = {k: n for k, n in cached.items() if "collect_set" in k or "AS band" in k}
        assert len(signed) == 2 and set(signed.values()) == {want}, cached


@pytest.mark.parametrize("floor", [None, 48])
def test_signature_input_is_keyed_by_id(spark, docs, monkeypatch, floor):
    """The signed frame's input is repartitioned on the id at every size:
    to the core count below the floor, to the floor's count past it. Its
    plan has one exchange, under the per-document aggregation, and no
    round-robin fan-out."""
    want = spark.sparkContext.defaultParallelism
    if floor is not None:
        size = partitioning.local_input_bytes(docs)
        monkeypatch.setattr(partitioning, "_SCALE_BYTES_PER_PARTITION", size // floor)
        want = max(floor, SHUFFLE_PARTITIONS)
    with _scoped_confs(spark, sql_confs(SHUFFLE_PARTITIONS)):
        floored = partitioning.scale_partition_floor(docs)
        assert floored == (None if floor is None else want)
        dedup.minhash_lsh_pairs(docs, collapse_exact=False, max_bucket=1000)
        (signed,) = [c for c in runtime._POOLS["collapse"] if "mh0" in c.columns]
        plan = signed._jdf.queryExecution().executedPlan().toString()
    initial = plan.split("== Initial Plan ==")[-1].splitlines()
    exchanges = [i for i, line in enumerate(initial) if "Exchange" in line]
    assert len(exchanges) == 1, plan
    assert re.search(
        rf"Exchange hashpartitioning\(doc_id#\d+L?, {want}\), REPARTITION_BY_NUM",
        initial[exchanges[0]],
    ), plan
    assert any("Aggregate(keys=[id#" in line for line in initial[: exchanges[0]])
    assert "RoundRobinPartitioning" not in plan


def test_corpus_operators_leave_session_confs_unchanged(spark, docs, monkeypatch):
    """No corpus operator changes a session conf, with the partition floor
    and the LSH flood escalation both forced: every conf reads the same
    before and after each call and its output's action, and the forced
    repartitions leave the LSH pairs as they were."""
    with _scoped_confs(spark, sql_confs(SHUFFLE_PARTITIONS)):
        plain = sorted(dedup.minhash_lsh_pairs(docs, max_bucket=1000).collect())
    dedup.release_collapse_caches()
    size = partitioning.local_input_bytes(docs)
    monkeypatch.setattr(partitioning, "_SCALE_BYTES_PER_PARTITION", size // 48)
    monkeypatch.setattr(dedup, "_flood_escalation", lambda *a: ("raise_partitions", 64))
    calls = {
        "minhash_lsh_pairs": lambda: dedup.minhash_lsh_pairs(docs, max_bucket=1000),
        "canonical_keep_list": lambda: dedup.canonical_keep_list(docs),
        "decontaminate_canonical_lsh": lambda: curation.decontaminate_canonical_lsh(
            docs, max_bucket=1000
        ),
        "decontaminate_canonical": lambda: curation.decontaminate_canonical(docs),
        "simhash_near_pairs": lambda: dedup.simhash_near_pairs(docs),
    }
    with _scoped_confs(spark, sql_confs(SHUFFLE_PARTITIONS)):
        for name, call in calls.items():
            before = _confs(spark)
            rows = sorted(call().collect())
            assert _confs(spark) == before, name
            if name == "minhash_lsh_pairs":
                assert rows == plain and rows
            dedup.release_collapse_caches()
            runtime.release("corpus")


def test_decontamination_job_budget(spark, docs, tmp_path, monkeypatch):
    """Both passes' pair graphs are labelled in one task each: a call runs
    ~40 jobs; with the round loop it ran 54-55 (the collapse's async
    member count makes the count vary by one). Its partitioning decisions
    run no job."""
    decisions = _count_decision_jobs(monkeypatch)
    with _scoped_confs(spark, sql_confs(SHUFFLE_PARTITIONS)):
        work = spark_work(spark, lambda: _decontaminate(docs, str(tmp_path / "decon")))
    runtime.release("corpus")
    assert work["jobs"] <= MAX_DECON_JOBS, work
    assert "by_id" in {name for name, _ in decisions}
    assert not [c for c in decisions if c[1]], decisions
