"""Evicting-shape streaming bench (VERDICT r05 #2).

All prior 100x/300x streaming numbers came from single availableNow batches
where the watermark never advances mid-run — the no-eviction worst case.
This tool measures the DEPLOYMENT shape: the source is written as K
time-ordered parquet files (ascending mtimes, so FileStreamSource drains
them in event-time order) and the query runs with maxFilesPerTrigger=1, so
the watermark advances every micro-batch and state-eviction — the mechanism
the 100 TB claim rests on — actually executes under load. Per-batch
stateOperators metrics (numRowsTotal, memoryUsedBytes) are recorded to show
state PLATEAUS while cumulative input grows; each run also asserts output
equality against its batch twin, so the eviction path is value-checked, not
just clocked.

Reference contract being proven: T2/T3 offset/conservation semantics under
sustained flow (/root/reference/Kafka_ArrivalToConform.sh:221-251) — replays
within the watermark are suppressed by carried state while old state drains.

Usage: python tools/stream_state_bench.py [SF_DIR] [--chunks K]
       [--queries interval_join,dedup,sessionize,windowed_counts]
Prints one JSON line per query plus a trailing summary JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from datetime import timedelta

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_etl_automation_spark.plans.lifecycle import run_bounded  # noqa: E402


def write_time_chunks(df, ts_col: str, path: str, k: int) -> int:
    """Write df as k single-file parquet chunks in ascending event-time
    order with strictly ascending mtimes (FileStreamSource processes files
    in mtime order, which is what makes the watermark advance per batch)."""
    from pyspark.sql import functions as F

    lo, hi = df.agg(F.min(ts_col), F.max(ts_col)).first()
    span = (hi - lo).total_seconds() + 1.0
    step = span / k
    written = 0
    for i in range(k):
        a = lo + timedelta(seconds=i * step)
        b = lo + timedelta(seconds=(i + 1) * step)
        cond = (F.col(ts_col) >= a) & (F.col(ts_col) < b)
        if i == k - 1:
            cond = F.col(ts_col) >= a
        df.filter(cond).coalesce(1).write.mode("append").parquet(path)
        written += 1
        time.sleep(0.05)  # distinct mtimes (ms resolution on ext4)
    return written


def _progress_metrics(q):
    out = []
    for p in q.recentProgress:
        if isinstance(p, str):
            p = json.loads(p)
        ops = p.get("stateOperators") or []
        st = ops[0] if ops else {}
        out.append(
            {
                "batch": p.get("batchId"),
                "input_rows": p.get("numInputRows"),
                "state_rows": st.get("numRowsTotal"),
                "state_mem": st.get("memoryUsedBytes"),
                "evicted": st.get("numRowsRemoved"),
                "watermark": (p.get("eventTime") or {}).get("watermark"),
            }
        )
    return out


def run_interval_join(spark, sf_dir, chunks, root):
    from pyspark.sql import functions as F

    from kafka_etl_automation_spark.catalog import load_table
    from kafka_etl_automation_spark.streaming import enrich

    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purch_ts"),
        F.col("value").alias("purch_value"),
    )
    # aligned chunk files: click chunk i and purchase chunk i land in the
    # same micro-batch position of their respective sources
    clk, pur = os.path.join(root, "clk"), os.path.join(root, "pur")
    lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
    span, step = (hi - lo).total_seconds() + 1.0, None
    step = span / chunks
    for i in range(chunks):
        a = lo + timedelta(seconds=i * step)
        b = lo + timedelta(seconds=(i + 1) * step)
        cc = (F.col("click_ts") >= a) & (F.col("click_ts") < b)
        pc = (F.col("purch_ts") >= a) & (F.col("purch_ts") < b)
        if i == chunks - 1:
            cc, pc = F.col("click_ts") >= a, F.col("purch_ts") >= a
        clicks.filter(cc).coalesce(1).write.mode("append").parquet(clk)
        purchases.filter(pc).coalesce(1).write.mode("append").parquet(pur)
        time.sleep(0.05)

    expected = (
        clicks.alias("c")
        .join(
            purchases.alias("p"),
            (F.col("c.user_id") == F.col("p.user_id"))
            & (F.col("p.purch_ts") >= F.col("c.click_ts"))
            & (F.col("p.purch_ts") <= F.col("c.click_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .count()
    )
    out = enrich.interval_join(
        spark.readStream.schema(clicks.schema)
        .option("maxFilesPerTrigger", "1").parquet(clk),
        spark.readStream.schema(purchases.schema)
        .option("maxFilesPerTrigger", "1").parquet(pur),
        on=["user_id"], left_ts="click_ts", right_ts="purch_ts",
        lead="1 hour", watermark="10 minutes",
    )
    t0 = time.time()
    sink, q = run_bounded(out, root)
    wall = time.time() - t0
    emitted = sink.count()
    return {
        "query": "stream_interval_join", "wall_sec": round(wall, 1),
        "emitted": emitted, "expected": expected,
        "equal": emitted == expected, "metrics": _progress_metrics(q),
    }


def run_dedup(spark, sf_dir, chunks, root):
    from pyspark.sql import functions as F

    from kafka_etl_automation_spark.catalog import load_table
    from kafka_etl_automation_spark.streaming import ingest as s_ingest

    events = load_table(spark, sf_dir, "events")
    src = os.path.join(root, "src")
    lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo).total_seconds() + 1.0
    step = span / chunks
    wm_days = 7
    n_src = events.count()
    for i in range(chunks):
        a = lo + timedelta(seconds=i * step)
        b = lo + timedelta(seconds=(i + 1) * step)
        cond = (F.col("ts") >= a) & (F.col("ts") < b)
        if i == chunks - 1:
            cond = F.col("ts") >= a
        chunk = events.filter(cond)
        chunk.coalesce(1).write.mode("append").parquet(src)
        # broker-style replays of the chunk's last <wm tail (within the
        # watermark at replay time, so carried STATE must suppress them —
        # older replays are the idempotent-sink layer's contract, not this
        # operator's)
        hi_b = b if i < chunks - 1 else hi + timedelta(seconds=1)
        chunk.filter(
            (F.col("event_id") % 7 == 0)
            & (F.col("ts") >= hi_b - timedelta(days=wm_days - 1))
        ).coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.05)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    out = s_ingest.exactly_once_dedup(
        stream, key_cols=("event_id",), ts_col="ts", watermark=f"{wm_days} days"
    )
    t0 = time.time()
    sink, q = run_bounded(out, root)
    wall = time.time() - t0
    emitted = sink.count()
    return {
        "query": "stream_dedup", "wall_sec": round(wall, 1),
        "emitted": emitted, "expected": n_src,
        "equal": emitted == n_src, "metrics": _progress_metrics(q),
    }


def run_sessionize(spark, sf_dir, chunks, root):
    from pyspark.sql import functions as F

    from kafka_etl_automation_spark.catalog import load_table
    from kafka_etl_automation_spark.operators import sessions

    events = load_table(spark, sf_dir, "events")
    trunc = events.withColumn("ts", F.timestamp_seconds(F.unix_timestamp("ts")))
    expected = sessions.sessionize(trunc, gap_minutes=30).count()
    src = os.path.join(root, "src")
    write_time_chunks(events, "ts", src, chunks)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    # 30s processing-time timeout: inflated corpora keep every user active
    # in every chunk, so state resets each batch and the flush only fires
    # after the drain — the gate's 2s value could flush mid-drain here
    out = sessions.stream_sessionize(stream, gap_minutes=30, timeout_seconds=30)
    t0 = time.time()
    # availableNow + applyInPandasWithState does not self-terminate while
    # processing-time timeouts are pending: run the sink to expected
    sink, q = run_bounded(out, root, rows=expected)
    wall = time.time() - t0
    emitted = sink.count()
    return {
        "query": "stream_sessionize", "wall_sec": round(wall, 1),
        "emitted": emitted, "expected": expected,
        "equal": emitted == expected, "metrics": _progress_metrics(q),
    }


def run_windowed_counts(spark, sf_dir, chunks, root):
    from pyspark.sql import functions as F

    from kafka_etl_automation_spark.catalog import load_table
    from kafka_etl_automation_spark.operators import sessions

    events = load_table(spark, sf_dir, "events")
    src = os.path.join(root, "src")
    write_time_chunks(events, "ts", src, chunks)
    # append mode emits a window only once the watermark passes its end;
    # expected = hourly buckets finalized at the terminal watermark
    # (max ts - 120 min). The terminal boundary window may legitimately
    # sit either side of Spark's ms-quantized watermark — accept both.
    hi = events.agg(F.max("ts")).first()[0]
    wm = hi - timedelta(minutes=120)
    buckets = events.select(
        F.window("ts", "60 minutes").alias("w")
    ).select("w.end").distinct()
    exp_lo = buckets.filter(F.col("end") < wm).count()
    exp_hi = buckets.filter(F.col("end") <= wm).count()

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    out = sessions.stream_windowed_counts(
        stream, window_minutes=60, watermark_minutes=120
    )
    t0 = time.time()
    sink, q = run_bounded(out, root)
    wall = time.time() - t0
    emitted = sink.count()
    return {
        "query": "stream_windowed_counts", "wall_sec": round(wall, 1),
        "emitted": emitted, "expected": [exp_lo, exp_hi],
        "equal": exp_lo <= emitted <= exp_hi,
        "metrics": _progress_metrics(q),
    }


RUNNERS = {
    "interval_join": run_interval_join,
    "dedup": run_dedup,
    "sessionize": run_sessionize,
    "windowed_counts": run_windowed_counts,
}


def main() -> int:
    argv = list(sys.argv[1:])
    chunks = 24
    queries = list(RUNNERS)
    if "--chunks" in argv:
        i = argv.index("--chunks")
        chunks = int(argv[i + 1])
        del argv[i : i + 2]
    if "--queries" in argv:
        i = argv.index("--queries")
        queries = argv[i + 1].split(",")
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.1"

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("stream-state-bench")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "48g")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    results, all_equal = [], True
    # one root for the run's source chunks and checkpoints, removed when
    # main returns
    tmp = tempfile.TemporaryDirectory(prefix="ssb_")
    for qn in queries:
        r = RUNNERS[qn](spark, sf_dir, chunks, os.path.join(tmp.name, qn))
        # compact the trajectory for the summary line: batches, peak/last
        m = [x for x in r["metrics"] if x.get("state_rows") is not None]
        total_in = sum(x["input_rows"] or 0 for x in r["metrics"])
        r_summary = {
            "query": r["query"], "chunks": chunks,
            "batches": len(r["metrics"]), "input_rows": total_in,
            "emitted": r["emitted"], "expected": r["expected"],
            "equal": r["equal"], "wall_sec": r["wall_sec"],
            "state_rows_peak": max((x["state_rows"] for x in m), default=None),
            "state_rows_last": m[-1]["state_rows"] if m else None,
            "state_mem_peak_mb": round(
                max((x["state_mem"] or 0 for x in m), default=0) / 1e6, 1
            ),
        }
        print(json.dumps(r_summary))
        results.append({**r_summary, "trajectory": m})
        all_equal = all_equal and r["equal"]
        spark.catalog.clearCache()
    out_path = os.environ.get("SSB_OUT", "/tmp/stream_state_bench.json")
    with open(out_path, "w") as f:
        json.dump({"sf_dir": sf_dir, "chunks": chunks, "results": results}, f, indent=1)
    print(json.dumps({"all_equal": all_equal, "detail": out_path}))
    return 0 if all_equal else 1


if __name__ == "__main__":
    sys.exit(main())
