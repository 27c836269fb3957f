"""The runtime module's construction-time state: the bounded observation
wait and its per-application breaker, and settling async counts on every
exit of an operator."""

from __future__ import annotations

import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from kafka_etl_automation_spark import runtime
from kafka_etl_automation_spark.catalog import load_tables
from kafka_etl_automation_spark.operators import dedup
from kafka_etl_automation_spark.streaming import ingest

from tests.conftest import SF_SMALL


class _GatedObservation:
    """Observation double: ``get`` raises ``exc`` if given, else blocks
    until ``gate`` is set and returns ``value``. Counts its reads."""

    def __init__(self, gate, value=None, exc=None):
        self.gate, self.value, self.exc, self.reads = gate, value, exc, 0

    @property
    def get(self):
        self.reads += 1
        if self.exc is not None:
            raise self.exc
        self.gate.wait()
        return self.value


def _observation_threads() -> list[threading.Thread]:
    return [t for t in threading.enumerate() if t.name == "graft-observation"]


@pytest.fixture()
def gate(spark, monkeypatch):
    """A closed gate for observation doubles, opened at teardown. The
    breaker starts empty here and is put back afterwards, so a trip in
    one test cannot switch observation off for later tests."""
    monkeypatch.setattr(runtime, "_NO_OBSERVATION", set())
    g = threading.Event()
    yield g
    g.set()
    for t in _observation_threads():
        t.join(timeout=10)
        assert not t.is_alive()


def test_observed_returns_none_after_the_bound(gate, monkeypatch):
    """A never-delivering observation returns None once the bound passes,
    so the caller falls back instead of hanging."""
    monkeypatch.setattr(runtime, "OBSERVE_WAIT_S", 0.5)
    t0 = time.monotonic()
    assert runtime.observed(_GatedObservation(gate)) is None
    assert 0.5 <= time.monotonic() - t0 < 10


def test_observed_breaker_skips_later_waits(spark, gate, monkeypatch):
    """After one timeout, later waits in the same application return None
    at once, start no thread and never read the observation."""
    monkeypatch.setattr(runtime, "OBSERVE_WAIT_S", 2)
    assert runtime.observed(_GatedObservation(gate)) is None
    assert spark.sparkContext.applicationId in runtime._NO_OBSERVATION
    threads = len(_observation_threads())
    second = _GatedObservation(gate, value={"n": 1})
    t0 = time.monotonic()
    assert runtime.observed(second) is None
    assert time.monotonic() - t0 < 1
    assert second.reads == 0
    assert len(_observation_threads()) == threads


def test_observed_raising_returns_none_without_waiting(spark, gate):
    """A raising ``obs.get`` falls back at once (the error sentinel), well
    inside the default bound, and does not trip the breaker."""
    assert runtime.OBSERVE_WAIT_S == 30
    t0 = time.monotonic()
    assert runtime.observed(_GatedObservation(gate, exc=RuntimeError("x"))) is None
    assert time.monotonic() - t0 < 5
    assert spark.sparkContext.applicationId not in runtime._NO_OBSERVATION
    # a delivering observation still reads through
    gate.set()
    assert runtime.observed(_GatedObservation(gate, value={"n": 3})) == {"n": 3}


def _spy_observed(monkeypatch) -> list:
    """Record every value runtime.observed hands to an operator."""
    seen: list = []
    real = runtime.observed
    monkeypatch.setattr(
        runtime, "observed", lambda obs: seen.append(real(obs)) or seen[-1]
    )
    return seen


def test_connected_components_with_the_breaker_tripped(spark, gate, monkeypatch):
    """With observation off for the application, every CC round takes the
    limit(1) count fallback and the labels do not change."""
    pairs = spark.createDataFrame(
        # chain 1..6 (several rounds), cycle 10-11-12
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11), (11, 12), (12, 10)],
        "id_a long, id_b long",
    )
    ids = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 5, 6, 10, 11, 12, 99)], "id long"
    )
    observed = sorted(dedup.connected_components(pairs, ids).collect())
    monkeypatch.setattr(
        runtime, "_NO_OBSERVATION", {spark.sparkContext.applicationId}
    )
    seen = _spy_observed(monkeypatch)
    stats: dict = {}
    fallback = sorted(dedup.connected_components(pairs, ids, stats=stats).collect())
    assert fallback == observed
    assert {r.cluster_id for r in fallback} == {1, 10, 99}
    assert len(seen) == stats["iterations"] >= 2 and not any(seen)


def test_file_ingest_with_the_breaker_tripped(spark, tmp_root, gate, monkeypatch):
    """With observation off for the application, every micro-batch takes
    the stats-job fallback and writes the same audit rows (an empty batch
    included) and bronze data."""
    src = os.path.join(tmp_root, "src")
    for lo, hi in ((0, 40), (40, 40), (40, 100)):
        spark.range(lo, hi).select(
            F.col("id").alias("event_id"), (F.col("id") * 2.0).alias("value")
        ).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    def run(name):
        root = os.path.join(tmp_root, name)
        res = ingest.run_file_ingest(
            spark,
            source_dir=src,
            schema=schema,
            bronze_base=os.path.join(root, "bronze"),
            audit_path=os.path.join(root, "audit"),
            checkpoint_dir=os.path.join(root, "ckpt"),
            topic="t",
            run_id=1,
        )
        audit = sorted(
            (r.batch_id, r.from_offset, r.until_offset, r.n_records,
             r.file_processing_status, os.path.relpath(r.file_name, root)
             if r.file_name else "")
            for r in ingest.read_audit(spark, os.path.join(root, "audit")).collect()
        )
        landed = sorted(spark.read.parquet(*res.bronze_dirs).collect())
        return res.n_records, audit, landed

    observed = run("observed")
    monkeypatch.setattr(
        runtime, "_NO_OBSERVATION", {spark.sparkContext.applicationId}
    )
    seen = _spy_observed(monkeypatch)
    fallback = run("fallback")
    assert fallback == observed
    assert observed[0] == 100 and any(a[3] == 0 for a in observed[1])
    assert len(seen) == len(observed[1]) and not any(seen)


def test_settle_on_exit_chains_a_count_failure_to_the_operator_error():
    """The operator's exception wins; a failed async count found while
    unwinding becomes its cause. On a clean exit the failure is raised."""

    class _FailingCount:
        def count(self):
            raise ValueError("count failed")

    @runtime.settle_on_exit()
    def operator(fail: bool):
        runtime.eager_count(_FailingCount(), overlap=True)
        if fail:
            raise RuntimeError("operator failed")

    with pytest.raises(RuntimeError, match="operator failed") as raised:
        operator(True)
    assert isinstance(raised.value.__cause__, ValueError)
    assert not runtime._PENDING
    with pytest.raises(ValueError, match="count failed"):
        operator(False)
    assert not runtime._PENDING


def test_flood_abort_settles_the_collapse_count(spark, monkeypatch):
    """The flood abort raises after the exact collapse started its
    overlapped member count; the count must not stay pending into the
    next query, whose settle would re-raise its error."""
    docs = load_tables(spark, SF_SMALL, names=("documents",))["documents"]
    monkeypatch.setattr(dedup, "_FLOOD_NARROW_ROWS", 0)
    monkeypatch.setattr(dedup, "_AUDIT_SKIP_MAX_WORST", 0)
    try:
        with pytest.raises(RuntimeError, match="ENOSPC"):
            dedup.minhash_lsh_pairs(docs, verify="grouped")
        assert not runtime._PENDING
        assert not [
            t for t in threading.enumerate()
            if t.name == "graft-async-count" and t.is_alive()
        ]
    finally:
        dedup.release_collapse_caches()
