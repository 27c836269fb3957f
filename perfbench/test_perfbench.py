"""The benchmark's own tests: every output check fails on a deliberately
wrong output, and the span tracer counts streaming and asynchronous jobs
in full.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import datagen  # noqa: E402

N = 100


def _put(path: str, table: pa.Table, name: str = "part-0.parquet") -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, name))


def _audit(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows))
    return pa.table({
        "topic": pa.array(["events"] * len(rows)),
        "partition": pa.array([0] * len(rows), pa.int32()),
        "batch_id": pa.array(cols[0], pa.int64()),
        "from_offset": pa.array(cols[1], pa.int64()),
        "until_offset": pa.array(cols[2], pa.int64()),
        "n_records": pa.array(cols[3], pa.int64()),
        "file_name": pa.array(cols[4]),
        "file_processing_status": pa.array(cols[5], pa.int32()),
        "batch_seconds": pa.array([0.1] * len(rows)),
    })


@pytest.fixture
def arrival(tmp_path):
    """A correct arrival_to_dim output layout: 100 events in two batches
    plus one empty batch, a Type-2 dimension over 10 users with user 3
    changed on day 2."""
    p = {k: str(tmp_path / k) for k in ("bronze", "audit", "conformed", "staging", "dim2")}
    ids = pa.table({"event_id": pa.array(np.arange(N), pa.int64())})
    bronze = os.path.join(p["bronze"], "events_0_1")
    _put(os.path.join(bronze, "batch_id=0"), ids.slice(0, 60))
    _put(os.path.join(bronze, "batch_id=2"), ids.slice(60, 40))
    _put(p["audit"], _audit([
        (0, 0, 59, 60, "b0", 1), (1, None, None, 0, "", 0), (2, 60, 99, 40, "b2", 1),
    ]))
    _put(p["conformed"], ids)
    _put(p["staging"], ids)
    users = list(range(10))
    _put(p["dim2"], pa.table({
        "user_id": pa.array(users + [3], pa.int64()),
        "n_events": pa.array([10] * 11, pa.int64()),
        "create_job_run_id": pa.array([1] * 3 + [2] + [1] * 6 + [1], pa.int64()),
        "update_job_run_id": pa.array([1] * 3 + [2] + [1] * 6 + [2], pa.int64()),
        "record_status": pa.array(["1"] * 10 + ["0"]),
    }))
    return dict(paths=p, file_rows=[60, 0, 40], ingest_records=N, load_ok=True,
                suite=[("dim_one_current", "PASS")], users=10)


def test_arrival_checks_pass_on_correct_output(arrival):
    assert checks.arrival_to_dim(**arrival) == []


def test_conservation_check_fails_on_a_lost_record(arrival):
    _put(arrival["paths"]["conformed"], pa.table(
        {"event_id": pa.array(np.arange(N - 1), pa.int64())}
    ))
    assert any("conservation: conformed" in f for f in checks.arrival_to_dim(**arrival))


def test_offset_check_fails_on_a_gap(arrival):
    _put(arrival["paths"]["audit"], _audit([
        (0, 0, 58, 60, "b0", 1), (1, None, None, 0, "", 0), (2, 60, 99, 40, "b2", 1),
    ]))
    assert any(f.startswith("offsets") for f in checks.arrival_to_dim(**arrival))


def test_empty_batch_check_fails_on_a_bronze_dir(arrival):
    os.makedirs(os.path.join(arrival["paths"]["bronze"], "events_0_1", "batch_id=1"))
    assert any(f.startswith("T4") for f in checks.arrival_to_dim(**arrival))


def test_dimension_check_fails_on_two_current_rows(arrival):
    dim = pq.read_table(os.path.join(arrival["paths"]["dim2"], "part-0.parquet"))
    status = dim.column("record_status").to_pylist()
    status[-1] = "1"
    _put(arrival["paths"]["dim2"], dim.set_column(
        dim.schema.get_field_index("record_status"), "record_status", pa.array(status)
    ))
    assert any("one current row" in f for f in checks.arrival_to_dim(**arrival))


def test_quality_suite_failure_is_reported(arrival):
    arrival["suite"] = [("dim_one_current", "FAIL")]
    assert checks.arrival_to_dim(**arrival) == ["quality: dim_one_current is FAIL"]


@pytest.fixture
def corpus(tmp_path):
    """documents with one exact duplicate, and a correct exact_dedup and
    keep-list output for them."""
    docs = str(tmp_path / "documents.parquet")
    texts = ["a b c", "d e f", "A  b c", "g h i"]
    pq.write_table(pa.table({
        "doc_id": pa.array(range(4), pa.int64()), "text": pa.array(texts),
    }), docs)
    import duckdb

    exact = duckdb.sql(
        f"SELECT md5({checks._NORM}) AS fingerprint, min(doc_id) AS canonical_id, "
        f"count(*) AS n_copies FROM read_parquet('{docs}') GROUP BY 1"
    ).arrow()
    root = str(tmp_path / "iter")
    _put(os.path.join(root, "exact"), exact)
    _put(os.path.join(root, "keep"), pa.table({
        "keep_id": pa.array([0, 1, 3], pa.int64()),
        "n_members": pa.array([2, 1, 1], pa.int64()),
    }))
    return root, docs


def test_corpus_checks_pass_and_repeat(corpus):
    root, docs = corpus
    failures, hashes = checks.corpus_curation(root, docs, {})
    assert failures == []
    assert checks.corpus_curation(root, docs, hashes) == ([], hashes)


def test_exact_dedup_check_fails_on_a_wrong_count(corpus):
    root, docs = corpus
    path = os.path.join(root, "exact", "part-0.parquet")
    exact = pq.read_table(path)
    pq.write_table(exact.set_column(2, "n_copies", pa.array([1] * exact.num_rows)), path)
    failures, _ = checks.corpus_curation(root, docs, {})
    assert any(f.startswith("exact_dedup") for f in failures)


def test_keep_list_check_fails_on_a_missing_cluster(corpus):
    root, docs = corpus
    _put(os.path.join(root, "keep"), pa.table({
        "keep_id": pa.array([0, 1], pa.int64()), "n_members": pa.array([2, 1], pa.int64()),
    }))
    failures, _ = checks.corpus_curation(root, docs, {})
    assert any(f.startswith("canonical_keep_list") for f in failures)


def test_keep_list_check_fails_when_output_does_not_repeat(corpus):
    root, docs = corpus
    _, hashes = checks.corpus_curation(root, docs, {})
    failures, _ = checks.corpus_curation(root, docs, {"keep": "0" * 16})
    assert failures and failures[0].startswith("keep: output hash")
    assert hashes["keep"] != "0" * 16


def test_decon_check_fails_when_output_does_not_repeat(corpus):
    root, docs = corpus
    _put(os.path.join(root, "decon"), pa.table({
        "eval_doc_id": pa.array([2], pa.int64()), "max_jaccard": pa.array([0.9]),
    }))
    failures, hashes = checks.corpus_curation(root, docs, {})
    assert failures == [] and "decon" in hashes
    failures, _ = checks.corpus_curation(root, docs, {**hashes, "decon": "0" * 16})
    assert failures and failures[0].startswith("decon: output hash")


@pytest.fixture
def orders(tmp_path):
    """An input dir with one orders table and an oracle over it."""
    pq.write_table(datagen.orders_table(np.random.default_rng(3), 200, 20),
                   str(tmp_path / "orders.parquet"))
    oracle = {"per_cust": "SELECT o_custkey, count(*) AS n, max(o_orderdate) AS last "
                          "FROM orders GROUP BY 1"}
    df = pq.read_table(str(tmp_path / "orders.parquet")).to_pandas()
    result = df.groupby("o_custkey").agg(
        n=("o_orderkey", "count"), last=("o_orderdate", "max")
    ).reset_index()
    return str(tmp_path), {"per_cust": result}, oracle


def test_analyst_check_passes_on_the_oracle_result(orders):
    assert checks.analyst_queries(*orders) == []


def test_analyst_check_fails_on_a_wrong_value(orders):
    input_dir, results, oracle = orders
    results["per_cust"].loc[0, "n"] += 1
    assert checks.analyst_queries(input_dir, results, oracle)[0].startswith(
        "per_cust: value hash"
    )


def test_analyst_check_fails_without_an_oracle(orders):
    input_dir, results, _ = orders
    assert checks.analyst_queries(input_dir, results, {}) == ["per_cust: no oracle"]


def test_inputs_repeat_for_a_seed(tmp_path):
    for make in (
        lambda rng: datagen.documents_table(rng, 50),
        lambda rng: datagen.orders_table(rng, 50, 5),
        lambda rng: datagen.embeddings_table(rng, 50),
    ):
        assert make(np.random.default_rng(7)).equals(make(np.random.default_rng(7)))
    rows = datagen.arrival_files(str(tmp_path / "a"), datagen.events_table(
        np.random.default_rng(7), 1000, 10), seed=7, n_files=8, n_empty=2)
    assert sum(rows) == 1000 and rows.count(0) == 2 and len(rows) == 8


# -- span attribution (needs a Spark session) --------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from kafka_etl_automation_spark.session import get_spark

    s = get_spark("perfbench-test", cpus=2, extra_conf={
        "spark.ui.showConsoleProgress": "false",
    })
    yield s
    s.stop()


def _store_jobs_between(spark, first: int, end: int) -> int:
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    return sum(1 for j in range(first, end) if jsc.statusStore().job(j) is not None)


def test_streaming_drain_is_counted_in_full(spark, tmp_path):
    from kafka_etl_automation_spark.streaming import ingest
    from spans import Tracer

    events = datagen.events_table(np.random.default_rng(1), 300, 5)
    src = str(tmp_path / "src")
    rows = datagen.arrival_files(src, events, seed=1, n_files=4, n_empty=1)
    schema = spark.read.parquet(src).schema
    tracer = Tracer(spark, traced=True)
    spark.sparkContext.setJobGroup("caller", "drain")
    with tracer.span("streaming.ingest") as drain:
        res = ingest.run_file_ingest(
            spark, source_dir=src, schema=schema,
            bronze_base=str(tmp_path / "bronze"), audit_path=str(tmp_path / "audit"),
            checkpoint_dir=str(tmp_path / "ckpt"), max_files_per_trigger=1,
        )
    with tracer.span("next") as after:
        pass
    tracer.collect()
    grouped = spark.sparkContext.statusTracker().getJobIdsForGroup("caller")
    spark.sparkContext.setJobGroup(None, None)
    assert res.n_records == sum(rows) and res.n_batches == len(rows)
    # every micro-batch runs on the stream's own thread, outside the job
    # group the caller set; the id window still sees each of its jobs
    assert len(grouped) < res.n_batches <= drain.jobs
    assert drain.jobs == _store_jobs_between(spark, drain.first_job, drain.end_job)
    assert after.jobs == 0


def test_async_count_is_late_work_of_its_call(spark):
    from kafka_etl_automation_spark.operators import dedup
    from spans import Tracer

    def slow(it):
        for pdf in it:
            time.sleep(1.0)
            yield pdf

    frame = spark.range(0, 4, 1, 2).mapInPandas(slow, schema="id long").cache()
    tracer = Tracer(spark, traced=True)
    jsc = spark.sparkContext._jsc.sc()
    with tracer.span("operators.dedup") as call:
        before = jsc.dagScheduler().numTotalJobs()
        dedup._eager_count(frame, overlap=True)  # graft-async-count thread
        deadline = time.monotonic() + 30
        while jsc.dagScheduler().numTotalJobs() == before and time.monotonic() < deadline:
            time.sleep(0.01)
    with tracer.span("next") as after:
        spark.range(10).count()
    dedup._settle_async_counts()
    tracer.collect()
    frame.unpersist()
    # the count's job was still running when its call returned: it is the
    # call's late work, and none of the next call's
    assert call.job_ids == [before] and call.late_jobs == 1
    assert after.jobs >= 1 and before not in after.job_ids and after.late_jobs == 0


def test_tree_clock_counts_a_child_process():
    """CPU burnt by a child of the watched process counts, and a lap
    counts only what was used since the last one."""
    import subprocess

    import run

    burn = ("import sys, time\n"
            "t = time.process_time()\n"
            "while time.process_time() - t < 0.5: pass\n"
            "sys.stdin.read()\n")
    parent = subprocess.Popen(
        [sys.executable, "-c",
         f"import subprocess, sys; subprocess.run([sys.executable, '-c', {burn!r}])"],
        stdin=subprocess.PIPE,
    )
    try:
        clock = run.TreeClock(parent.pid)
        time.sleep(2.0)
        used = clock.lap()
        assert 0.3 < used < 2.5
        assert clock.lap() < 0.2
    finally:
        parent.stdin.close()
        parent.wait(timeout=30)


def test_run_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, run.py exits non-zero
    and prints no result."""
    import subprocess

    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "arrival_to_dim",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
