"""Streaming-contract tests: S2 offsets, T2 contiguity, T3 conservation,
T4 empty-batch suppression — on a micro-batch file stream with availableNow."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from kafka_etl_automation_spark.plans import lifecycle
from kafka_etl_automation_spark.plans.lifecycle import run_bounded
from kafka_etl_automation_spark.streaming import ingest


def _write_batch_file(spark, src, lo, hi, name):
    (
        spark.range(lo, hi)
        .select(F.col("id").alias("event_id"), (F.col("id") * 2.0).alias("value"))
        .coalesce(1)
        .write.mode("append")
        .parquet(src)
    )


def _run(spark, root, src):
    schema = "event_id long, value double"
    from pyspark.sql.types import _parse_datatype_string

    return ingest.run_file_ingest(
        spark,
        source_dir=src,
        schema=_parse_datatype_string(schema),
        bronze_base=os.path.join(root, "bronze"),
        audit_path=os.path.join(root, "audit"),
        checkpoint_dir=os.path.join(root, "ckpt"),
        topic="t",
        run_id=1,
    )


def test_ingest_contract(spark, tmp_root):
    src = os.path.join(tmp_root, "src")
    _write_batch_file(spark, src, 0, 100, "a")
    _write_batch_file(spark, src, 100, 250, "b")
    res = _run(spark, tmp_root, src)

    assert res.n_records == 250
    assert res.n_batches >= 1
    audit = ingest.read_audit(spark, os.path.join(tmp_root, "audit"))
    # S2: offsets recorded per batch
    assert audit.filter("n_records > 0").count() == len(res.bronze_dirs)
    # T2: offset ranges tile [0, 250) without gap/overlap
    assert ingest.contiguity_violations(audit, order_col="from_offset").isEmpty()
    # T3: sum(until-from+1) == audited == landed
    cons = ingest.conservation_check(spark, audit, res.bronze_dirs).first()
    assert cons.status == "PASS"
    assert cons.landed_rows == 250
    # T1: batch wall-clock recorded
    assert all(r.batch_seconds > 0 for r in audit.collect())


def test_empty_batch_suppression(spark, tmp_root):
    """T4: zero-record batch -> no bronze dir, status 0, empty file name."""
    src = os.path.join(tmp_root, "src")
    # a parquet file with zero rows
    spark.range(0).select(
        F.col("id").alias("event_id"), F.lit(0.0).alias("value")
    ).coalesce(1).write.parquet(src)
    res = _run(spark, tmp_root, src)

    assert res.n_records == 0
    assert res.bronze_dirs == []
    bronze = os.path.join(tmp_root, "bronze")
    assert not os.path.exists(bronze) or os.listdir(bronze) == []
    audit = ingest.read_audit(spark, os.path.join(tmp_root, "audit"))
    rows = audit.collect()
    assert all(r.file_processing_status == 0 and r.file_name == "" for r in rows)


def test_empty_batch_suppression_file_uri_bronze(spark, tmp_root):
    """T4 holds for a ``file:///`` bronze base too: the rowless dir a
    zero-record batch writes must be removed through the URI's path."""
    from pyspark.sql.types import _parse_datatype_string

    src = os.path.join(tmp_root, "src")
    _write_batch_file(spark, src, 0, 20, "a")
    spark.range(0).select(
        F.col("id").alias("event_id"), F.lit(0.0).alias("value")
    ).coalesce(1).write.mode("append").parquet(src)
    bronze = os.path.join(tmp_root, "bronze")
    res = ingest.run_file_ingest(
        spark,
        source_dir=src,
        schema=_parse_datatype_string("event_id long, value double"),
        bronze_base="file://" + bronze,
        audit_path=os.path.join(tmp_root, "audit"),
        checkpoint_dir=os.path.join(tmp_root, "ckpt"),
        topic="t",
        run_id=1,
    )
    assert res.n_records == 20
    assert len(res.bronze_dirs) == 1
    # only the non-empty batch's dir is left under the run dir
    (run,) = os.listdir(bronze)
    assert os.listdir(os.path.join(bronze, run)) == [
        os.path.basename(res.bronze_dirs[0])
    ]
    audit = ingest.read_audit(spark, os.path.join(tmp_root, "audit")).collect()
    assert sorted(r.file_processing_status for r in audit) == [0, 1]


def test_audit_dedupes_replayed_batches(spark, tmp_root):
    """A crash-replayed foreachBatch appends a second audit row for the
    same batch; read_audit must collapse it so T2/T3 stay exact."""
    src = os.path.join(tmp_root, "src")
    _write_batch_file(spark, src, 0, 30, "a")
    res = _run(spark, tmp_root, src)
    assert res.n_records == 30
    audit_path = os.path.join(tmp_root, "audit")
    # simulate the replay: duplicate one audit file
    import shutil

    f = next(
        os.path.join(audit_path, n)
        for n in os.listdir(audit_path)
        if n.endswith(".parquet")
    )
    shutil.copy(f, f.replace(".parquet", "_replay.parquet"))
    audit = ingest.read_audit(spark, audit_path)
    assert audit.count() == 1  # deduped
    cons = ingest.conservation_check(spark, audit, res.bronze_dirs).first()
    assert cons.status == "PASS" and cons.audited_records == 30


def test_progress_listener_records_offsets(spark, tmp_root):
    """S2 engine-level bookkeeping: the StreamingQueryListener lands one
    progress row per micro-batch with source offsets and rows."""
    src = os.path.join(tmp_root, "src")
    _write_batch_file(spark, src, 0, 40, "a")
    audit = os.path.join(tmp_root, "progress")
    lst = ingest.ProgressAuditListener(audit).attach(spark)
    try:
        res = _run(spark, tmp_root, src)
        assert res.n_records == 40
        import time

        deadline = time.time() + 20
        rows = []
        while time.time() < deadline:
            if os.path.exists(audit):
                rows = spark.read.parquet(audit).collect()
                if any(r.num_input_rows >= 40 for r in rows):
                    break
            time.sleep(1)
        # numInputRows is the ENGINE's per-trigger source-row metric: each
        # action inside foreachBatch re-reads the file batch, so it arrives
        # as a multiple of the true 40 (the exact count lives in the
        # foreachBatch audit; this listener adds engine-side offsets/timings)
        assert any(r.num_input_rows >= 40 and r.num_input_rows % 40 == 0 for r in rows)
        assert all(r.duration_ms >= 0 for r in rows)
        assert any(r.end_offset for r in rows if r.num_input_rows > 0)
    finally:
        lst.detach(spark)


def test_progress_listener_logs_a_failed_audit_row(spark, tmp_root, caplog):
    """A progress row that cannot be written (here: a non-local audit
    path, which io.local_path refuses) is logged as a WARNING naming the
    query and batch, and the stream still drains."""
    import logging
    import re
    import time

    src = os.path.join(tmp_root, "src")
    _write_batch_file(spark, src, 0, 40, "a")
    lst = ingest.ProgressAuditListener("hdfs://namenode/progress").attach(spark)
    logger = "kafka_etl_automation_spark.streaming.ingest"
    try:
        with caplog.at_level(logging.WARNING, logger=logger):
            res = _run(spark, tmp_root, src)
            assert res.n_records == 40 and res.n_batches == 1
            # listener callbacks run on the listener-bus thread
            deadline, hits = time.time() + 20, []
            while not hits and time.time() < deadline:
                hits = [
                    r for r in caplog.records
                    if r.name == logger and "progress audit row" in r.getMessage()
                ]
                time.sleep(0.5)
    finally:
        lst.detach(spark)
    assert hits and all(r.levelno == logging.WARNING for r in hits)
    assert re.search(
        r"query [0-9a-f-]{36} batch \d+ not written to hdfs://namenode/progress",
        hits[0].getMessage(),
    ), hits[0].getMessage()


def test_kafka_shape_roundtrip_and_corrupt_records(spark):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -2.0)], "event_id long, kind string, v double"
    )
    wire = ingest.to_kafka_shape(
        df.withColumn("ts", F.current_timestamp()),
        key_col="event_id", topic="t", offset_col="event_id", ts_col="ts",
    )
    assert set(wire.columns) == {"key", "value", "topic", "partition", "offset", "timestamp"}
    back = ingest.parse_kafka_records(wire, df.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    # corrupt value bytes -> NULL struct row, not a job failure
    corrupt = wire.withColumn("value", F.lit(b"not json"))
    parsed = ingest.parse_kafka_records(corrupt, df.schema)
    assert parsed.filter("event_id IS NULL").count() == 2


def test_kafka_source_option_shape():
    """S1 builder options (the part of the real-broker story testable
    without a broker or the kafka connector jar): exactly the option keys
    Spark's Kafka connector documents, values passed through verbatim.
    Guards against a typo'd option key silently ignored by the connector
    (Kafka options are stringly-typed; 'startingOffset' would not error,
    it would just read from 'latest')."""
    assert ingest.kafka_stream_options("b1:9092,b2:9092", "events") == {
        "kafka.bootstrap.servers": "b1:9092,b2:9092",
        "subscribe": "events",
        "startingOffsets": "earliest",
    }
    window = ingest.kafka_batch_options(
        "b1:9092", "events",
        '{"events":{"0":42}}', '{"events":{"0":99}}',
    )
    assert window == {
        "kafka.bootstrap.servers": "b1:9092",
        "subscribe": "events",
        "startingOffsets": '{"events":{"0":42}}',
        "endingOffsets": '{"events":{"0":99}}',
    }


def test_checkpoint_no_reprocessing(spark, tmp_root):
    """S2/T2: a second drain over the same checkpoint consumes nothing new
    until new files arrive — Structured Streaming's offset bookkeeping."""
    src = os.path.join(tmp_root, "src")
    _write_batch_file(spark, src, 0, 50, "a")
    r1 = _run(spark, tmp_root, src)
    assert r1.n_records == 50
    r2 = _run(spark, tmp_root, src)  # same checkpoint, no new files
    assert r2.n_records == 0
    _write_batch_file(spark, src, 50, 80, "b")
    r3 = _run(spark, tmp_root, src)
    assert r3.n_records == 30  # only the new file
    audit = ingest.read_audit(spark, os.path.join(tmp_root, "audit"))
    assert ingest.contiguity_violations(audit, order_col="from_offset").isEmpty()


def test_contract_summary_json_fmt(spark, tmp_root):
    """streaming_contract_summary threads fmt through to the bronze re-read
    (a json ingest must not be re-read as parquet) and reports T1/T4."""
    from pyspark.sql.types import _parse_datatype_string

    src = os.path.join(tmp_root, "src")
    (
        spark.range(0, 40)
        .select(F.col("id").alias("event_id"), (F.col("id") * 2.0).alias("value"))
        .coalesce(1)
        .write.mode("append")
        .json(src)
    )
    spark.range(0).select(
        F.col("id").alias("event_id"), F.lit(0.0).alias("value")
    ).coalesce(1).write.mode("append").json(src)
    res = ingest.run_file_ingest(
        spark,
        source_dir=src,
        schema=_parse_datatype_string("event_id long, value double"),
        bronze_base=os.path.join(tmp_root, "bronze"),
        audit_path=os.path.join(tmp_root, "audit"),
        checkpoint_dir=os.path.join(tmp_root, "ckpt"),
        topic="t",
        run_id=1,
        fmt="json",
    )
    audit = ingest.read_audit(spark, os.path.join(tmp_root, "audit"))
    row = ingest.streaming_contract_summary(
        spark, audit, res.bronze_dirs, fmt="json"
    ).first()
    assert row.status == "PASS" and row.landed_rows == 40
    assert row.n_empty_batches >= 1
    assert row.t1_durations == "PASS" and row.t4_suppression == "PASS"


def test_exactly_once_dedup_drops_redeliveries(spark, tmp_root):
    """At-least-once redeliveries (same event_id in a later micro-batch,
    inside the watermark) must reach the sink exactly once."""
    from datetime import datetime

    src = os.path.join(tmp_root, "eo_src")
    rows1 = [(1, datetime(2024, 1, 1, 0, 0), 1.0), (2, datetime(2024, 1, 1, 0, 1), 1.0)]
    rows2 = [  # redelivery of 2 + new 3, one minute later
        (2, datetime(2024, 1, 1, 0, 1), 1.0),
        (3, datetime(2024, 1, 1, 0, 2), 1.0),
    ]
    schema = "event_id long, ts timestamp, value double"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    out = ingest.exactly_once_dedup(stream, ("event_id",), "ts", "10 minutes")
    sink, _ = run_bounded(out, tmp_root)
    got = sorted(r.event_id for r in sink.select("event_id").collect())
    assert got == [1, 2, 3]


def test_run_bounded_stops_a_stream_that_stops_progressing(
    spark, tmp_root, monkeypatch
):
    """A rows target the stream never reaches: once the sink has not grown
    for STREAM_IDLE_BUDGET_S, run_bounded raises and leaves no query
    running. The sessionizer's 30-minute processing-time timeout keeps
    the availableNow query alive after its one closed session lands."""
    from datetime import datetime

    from kafka_etl_automation_spark.operators import sessions

    monkeypatch.setattr(lifecycle, "STREAM_IDLE_BUDGET_S", 3.0)
    src = os.path.join(tmp_root, "src")
    schema = "user_id long, ts timestamp"
    spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 0, 0)), (1, datetime(2024, 1, 1, 2, 0))], schema
    ).coalesce(1).write.parquet(src)
    out = sessions.stream_sessionize(
        spark.readStream.schema(schema).parquet(src), gap_minutes=30
    )
    with pytest.raises(RuntimeError, match="no progress for 3.0s"):
        run_bounded(out, tmp_root, rows=2)
    assert spark.streams.active == []


def test_run_bounded_raises_the_stream_error_at_once(spark, tmp_root):
    """A stream whose UDF raises surfaces that exception as soon as the
    query dies, without waiting out the idle budget."""
    import time

    from pyspark.errors import StreamingQueryException

    src = os.path.join(tmp_root, "src")
    spark.range(3).coalesce(1).write.parquet(src)

    @F.udf("long")
    def fail(x):
        raise ValueError("a row the stream cannot take")

    out = spark.readStream.schema("id long").parquet(src).select(fail("id").alias("x"))
    t0 = time.monotonic()
    with pytest.raises(StreamingQueryException, match="a row the stream cannot take"):
        run_bounded(out, tmp_root)
    assert time.monotonic() - t0 < lifecycle.STREAM_IDLE_BUDGET_S / 10
    assert spark.streams.active == []


def test_interval_join_stream_stream(spark, tmp_root):
    """Watermarked stream-stream interval join: a click joins its
    impression iff it lands within the [imp_ts, imp_ts + lead] window;
    late clicks beyond the window never match."""
    from datetime import datetime

    from kafka_etl_automation_spark.streaming import enrich

    imp_src = os.path.join(tmp_root, "ssj_imp")
    clk_src = os.path.join(tmp_root, "ssj_clk")
    imp_schema = "ad_id long, imp_ts timestamp, campaign string"
    clk_schema = "ad_id long, clk_ts timestamp, click_id long"
    t0 = datetime(2024, 1, 1, 0, 0)

    spark.createDataFrame(
        [
            (1, t0, "c1"),
            (2, datetime(2024, 1, 1, 0, 5), "c2"),
            (3, datetime(2024, 1, 1, 0, 10), "c3"),
        ],
        imp_schema,
    ).coalesce(1).write.parquet(imp_src)
    spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 0, 30), 100),   # inside 1h window
            (2, datetime(2024, 1, 1, 2, 0), 200),    # outside -> no match
            (3, datetime(2024, 1, 1, 0, 9), 300),    # BEFORE imp -> no match
        ],
        clk_schema,
    ).coalesce(1).write.parquet(clk_src)

    imps = spark.readStream.schema(imp_schema).parquet(imp_src)
    clks = spark.readStream.schema(clk_schema).parquet(clk_src)
    out = enrich.interval_join(
        imps, clks, on=["ad_id"], left_ts="imp_ts", right_ts="clk_ts",
        lead="1 hour", watermark="10 minutes",
    )
    sink, _ = run_bounded(out, tmp_root)
    got = {(r.ad_id, r.click_id) for r in sink.select("ad_id", "click_id").collect()}
    assert got == {(1, 100)}


def test_interval_join_rejects_ambiguous_columns(spark):
    from datetime import datetime

    from kafka_etl_automation_spark.streaming import enrich

    a = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), "x")], "k long, ts timestamp, v string"
    )
    b = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), "y")], "k long, ts2 timestamp, v string"
    )
    with pytest.raises(ValueError, match="ambiguous"):
        enrich.interval_join(a, b, ["k"], "ts", "ts2")
    with pytest.raises(ValueError, match="must differ"):
        enrich.interval_join(a, a, ["k"], "ts", "ts")


def test_interval_join_chunked_sources_bound_state(spark, tmp_root):
    """The interval join's 100 TB deployment shape (BENCH_SCALE.md r08,
    measured at 300x with 16 chunks): event-time-aligned chunk files +
    maxFilesPerTrigger=1 make the watermark advance between
    micro-batches, so the derived eviction watermark expires old
    state — peak join state is bounded by chunk size, not stream length —
    while output stays identical to a static join with the same interval
    condition (including matches that straddle a chunk boundary)."""
    import time as _time
    from datetime import datetime, timedelta

    from kafka_etl_automation_spark.streaming import enrich

    imp_src = os.path.join(tmp_root, "cij_imp")
    clk_src = os.path.join(tmp_root, "cij_clk")
    imp_schema = "ad_id long, imp_ts timestamp, campaign string"
    clk_schema = "ad_id long, clk_ts timestamp, click_id long"
    t0 = datetime(2024, 1, 1, 0, 0)

    # 3 chunks, each a 1h window of events, chunk starts 3h apart (gap >
    # lead 1h + watermark 10min, so chunk k's state is evictable once
    # chunk k+1 is seen). 200 impressions per chunk; every 2nd gets a
    # click 30min later (in-window match). Impression #199 of each chunk
    # sits at the chunk's END (t0+59min); its click lands 30min later —
    # INSIDE the next chunk's file for chunks 0/1 via the boundary shift
    # below — the straddle case chunking must not lose.
    per = 200
    rows_imp, rows_clk = [], []
    for c in range(3):
        base = t0 + timedelta(hours=3 * c)
        for i in range(per):
            ad = c * per + i
            ts = base + timedelta(seconds=i * (3540 // per))
            rows_imp.append((ad, ts, f"camp{c}"))
            if i % 2 == 0:
                rows_clk.append((ad, ts + timedelta(minutes=30), 1000 + ad))
    imp_df = spark.createDataFrame(rows_imp, imp_schema)
    clk_df = spark.createDataFrame(rows_clk, clk_schema)

    # static ground truth: same interval condition, no watermark
    expect = {
        (r.ad_id, r.click_id)
        for r in imp_df.alias("l")
        .join(
            clk_df.alias("r"),
            (F.col("l.ad_id") == F.col("r.ad_id"))
            & (F.col("r.clk_ts") >= F.col("l.imp_ts"))
            & (
                F.col("r.clk_ts")
                <= F.col("l.imp_ts") + F.expr("INTERVAL 1 HOUR")
            ),
        )
        .select("l.ad_id", "r.click_id")
        .collect()
    }
    assert len(expect) == 300  # every even impression matched

    # chunk boundaries shifted +5min past each chunk's start so the
    # straddling clicks (imp at :59, click at :29 of the NEXT window's
    # file) land in the later file — arrival order stays event-time order
    bounds = [t0 + timedelta(hours=3 * c, minutes=75) for c in range(1, 3)]

    for idx in range(3):  # interleave so mod-times pair up per chunk
        for df, ts_col, path in (
            (imp_df, "imp_ts", imp_src),
            (clk_df, "clk_ts", clk_src),
        ):
            part = df
            if idx > 0:
                part = part.filter(F.col(ts_col) >= bounds[idx - 1])
            if idx < 2:
                part = part.filter(F.col(ts_col) < bounds[idx])
            part.coalesce(1).write.mode("append").parquet(path)
        _time.sleep(0.05)  # distinct mod-times: chunk k replays before k+1

    out = enrich.interval_join(
        spark.readStream.schema(imp_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(imp_src),
        spark.readStream.schema(clk_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(clk_src),
        on=["ad_id"], left_ts="imp_ts", right_ts="clk_ts",
        lead="1 hour", watermark="10 minutes",
    )
    sink, q = run_bounded(out, tmp_root)
    progresses = [p for p in q.recentProgress if p["numInputRows"] > 0]
    got = {(r.ad_id, r.click_id) for r in sink.select("ad_id", "click_id").collect()}
    assert got == expect  # chunking is value-preserving, straddles included

    # one micro-batch per chunk file, and the state PLATEAUS: with 600
    # impressions + 300 clicks total, the single-batch shape would hold
    # all 900 rows at once — bounded eviction must keep the peak under
    # two chunks' worth (2 * (200 + 100) = 600)
    assert len(progresses) >= 3
    peaks = [
        p["stateOperators"][0]["numRowsTotal"] for p in progresses
        if p.get("stateOperators")
    ]
    assert max(peaks) < 600, peaks
    assert sum(p["numInputRows"] for p in progresses) == 900


def test_progress_listener_reconciles_with_foreachbatch_audit(spark, tmp_root):
    """VERDICT r09 #5: the engine-level listener offsets and the synthetic
    foreachBatch audit must tell ONE story per micro-batch, with no
    production-code divergence between the two offset sources:

    - identical batch_id sets (every audited batch has a progress row);
    - per batch, the listener's numInputRows is a positive multiple of the
      audit's n_records (each action inside foreachBatch re-reads the file
      batch, so the engine metric is k x the landed count — k >= 1);
    - the file source's engine offsets (endOffset JSON logOffset) advance
      by exactly one file batch per micro-batch in batch order — the same
      contiguity contract T2 checks over the synthetic from/until offsets.
    """
    import json
    import time

    src = os.path.join(tmp_root, "src")
    for i, (lo, hi) in enumerate([(0, 30), (30, 75), (75, 100)]):
        _write_batch_file(spark, src, lo, hi, f"f{i}")
    progress_path = os.path.join(tmp_root, "progress")
    lst = ingest.ProgressAuditListener(progress_path).attach(spark)
    try:
        res = ingest.run_file_ingest(
            spark,
            source_dir=src,
            schema=__import__(
                "pyspark.sql.types", fromlist=["_parse_datatype_string"]
            )._parse_datatype_string("event_id long, value double"),
            bronze_base=os.path.join(tmp_root, "bronze"),
            audit_path=os.path.join(tmp_root, "audit"),
            checkpoint_dir=os.path.join(tmp_root, "ckpt"),
            topic="t",
            run_id=1,
        )
        assert res.n_records == 100 and res.n_batches == 3
        audit = {
            r.batch_id: r
            for r in ingest.read_audit(
                spark, os.path.join(tmp_root, "audit")
            ).collect()
        }
        # listener rows land asynchronously on the listener-bus thread
        deadline, prog = time.time() + 30, {}
        while time.time() < deadline:
            if os.path.exists(progress_path):
                rows = spark.read.parquet(progress_path).collect()
                prog = {r.batch_id: r for r in rows}
                if set(prog) >= set(audit):
                    break
            time.sleep(1)
        assert set(prog) == set(audit), (sorted(prog), sorted(audit))
        for bid, arow in audit.items():
            prow = prog[bid]
            assert arow.n_records > 0
            assert prow.num_input_rows >= arow.n_records
            assert prow.num_input_rows % arow.n_records == 0, (
                bid, prow.num_input_rows, arow.n_records,
            )
        # engine offsets advance one file batch per micro-batch, in order
        logoff = {
            bid: json.loads(prow.end_offset)["logOffset"]
            for bid, prow in prog.items()
        }
        ordered = [logoff[b] for b in sorted(logoff)]
        assert ordered == list(range(ordered[0], ordered[0] + len(ordered))), logoff
    finally:
        lst.detach(spark)


def _ingest_mixed(spark, root):
    """Ingest two data files and two zero-row files, one micro-batch
    each; returns the result and the Spark work of the ingest alone."""
    from tests.conftest import spark_work

    src = os.path.join(root, "src")
    for lo, hi in [(0, 40), (40, 40), (40, 90), (90, 90)]:
        _write_batch_file(spark, src, lo, hi, "x")
    got = []
    work = spark_work(spark, lambda: got.append(_run(spark, root, src)))
    return got[0], work


def _audit_values(spark, root):
    audit = ingest.read_audit(spark, os.path.join(root, "audit"))
    return sorted(
        (r.batch_id, r.from_offset, r.until_offset, r.n_records,
         os.path.relpath(r.file_name, root) if r.file_name else "",
         r.file_processing_status)
        for r in audit.collect()
    )


def test_ingest_runs_one_job_per_micro_batch(spark, tmp_root):
    """The bronze write observes its own offset range and row count, so
    every micro-batch, empty or not, is exactly one Spark job, and an
    empty batch leaves no bronze dir (T4)."""
    res, work = _ingest_mixed(spark, tmp_root)
    assert (res.n_batches, res.n_records) == (4, 90)
    assert work["jobs"] == res.n_batches, work
    (run,) = os.listdir(os.path.join(tmp_root, "bronze"))
    assert sorted(os.listdir(os.path.join(tmp_root, "bronze", run))) == [
        "batch_id=0", "batch_id=2",
    ]
    assert _audit_values(spark, tmp_root) == [
        (0, 0, 39, 40, "bronze/t_0_1/batch_id=0", 1),
        (1, None, None, 0, "", 0),
        (2, 40, 89, 50, "bronze/t_0_1/batch_id=2", 1),
        (3, None, None, 0, "", 0),
    ]


def test_ingest_without_observed_metric(spark, tmp_root, monkeypatch):
    """When the observed metric does not arrive, each micro-batch counts
    its offsets in one more aggregation over the same frame (two jobs:
    AQE runs its shuffle-map stage as a job of its own): the same audit
    rows, the same empty-batch suppression."""
    from kafka_etl_automation_spark import runtime

    monkeypatch.setattr(runtime, "observed", lambda obs: None)
    res, work = _ingest_mixed(spark, tmp_root)
    assert work["jobs"] == 3 * res.n_batches, work
    (run,) = os.listdir(os.path.join(tmp_root, "bronze"))
    assert sorted(os.listdir(os.path.join(tmp_root, "bronze", run))) == [
        "batch_id=0", "batch_id=2",
    ]
    assert _audit_values(spark, tmp_root) == [
        (0, 0, 39, 40, "bronze/t_0_1/batch_id=0", 1),
        (1, None, None, 0, "", 0),
        (2, 40, 89, 50, "bronze/t_0_1/batch_id=2", 1),
        (3, None, None, 0, "", 0),
    ]
