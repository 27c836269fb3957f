"""Attribute stream_interval_join's scale wall: join vs gate sink
(VERDICT r07 #3).

The 300x correctness sweep measured stream_interval_join at 865.7s —
by far the heaviest engine wall on the scale board — but that number
mixes three costs: the stateful interval join itself, the in-memory
gate sink (rows materialized on the driver so the DuckDB oracle can see
them — a HARNESS shape, production uses the parquet per-run-dir sink),
and the driver-side collection the digest pass does afterwards. This
tool runs the IDENTICAL source layout + join twice — once into the
streaming noop sink (join executes fully, zero materialization) and
once into the memory sink (the gate shape) — and prints per-batch
``durationMs``/state metrics from query progress, so the wall has an
owner.

``--chunks N`` measures the production mitigation instead: both sources
are written as N time-range-aligned files (sequential writes, so the
file-stream source's mod-time ordering replays them in event-time
order) and read with ``maxFilesPerTrigger=1`` — the watermark advances
between micro-batches, the interval condition's derived eviction
watermark expires old click state, and per-batch ``numRowsTotal`` shows
the plateau instead of the single-batch 12M-row peak.

Run EXCLUSIVELY (no concurrent local[32] JVM).
Usage: python tools/stream_ij_attrib.py [SF_DIR] [--sinks noop,memory]
                                        [--chunks N]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main() -> int:
    argv = sys.argv[1:]
    sinks = ["noop", "memory"]
    if "--sinks" in argv:
        i = argv.index("--sinks")
        sinks = argv[i + 1].split(",")
        del argv[i : i + 2]
    chunks = 1
    if "--chunks" in argv:
        i = argv.index("--chunks")
        chunks = int(argv[i + 1])
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/tmp/sf30.0"

    from kafka_etl_automation_spark.catalog import load_table
    from kafka_etl_automation_spark.plans.lifecycle import (
        _await_bounded,
        _parquet_num_rows,
        _scoped_shuffle_partitions,
        _stream_partitions,
    )
    from kafka_etl_automation_spark.session import get_spark
    from kafka_etl_automation_spark.streaming import enrich

    spark = get_spark("stream-ij-attrib")
    events = load_table(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="sij_attrib_")
    clk_src = os.path.join(root, "clicks")
    pur_src = os.path.join(root, "purchases")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("purch_ts"),
        F.col("value").alias("purch_value"),
    )
    t0 = time.time()
    if chunks > 1:
        # aligned event-time boundaries for BOTH sources, from the events
        # frame itself (one approxQuantile pass); sequential per-chunk
        # appends give monotonically increasing file mod-times, which is
        # the order the file-stream source replays them in
        probs = [i / chunks for i in range(1, chunks)]
        bounds = events.select(F.col("ts").cast("double").alias("t")
                               ).approxQuantile("t", probs, 0.001)
        clicks = clicks.persist()
        purchases = purchases.persist()
        for idx in range(chunks):
            lo = bounds[idx - 1] if idx > 0 else None
            hi = bounds[idx] if idx < chunks - 1 else None
            for df, ts, path in (
                (clicks, "click_ts", clk_src),
                (purchases, "purch_ts", pur_src),
            ):
                part = df
                if lo is not None:
                    part = part.filter(F.col(ts).cast("double") >= lo)
                if hi is not None:
                    part = part.filter(F.col(ts).cast("double") < hi)
                part.coalesce(1).write.mode("append").parquet(path)
            time.sleep(0.05)  # distinct mod-times across chunk files
        clicks.unpersist()
        purchases.unpersist()
    else:
        clicks.coalesce(1).write.parquet(clk_src)
        purchases.coalesce(1).write.parquet(pur_src)
    t_source = time.time() - t0

    results = []
    for sink in sinks:
        t0 = time.time()
        with _scoped_shuffle_partitions(
            spark, _stream_partitions(_parquet_num_rows(sf_dir, "events"))
        ):
            def _reader(schema, path):
                r = spark.readStream.schema(schema)
                if chunks > 1:
                    r = r.option("maxFilesPerTrigger", 1)
                return r.parquet(path)

            out = enrich.interval_join(
                _reader(clicks.schema, clk_src),
                _reader(purchases.schema, pur_src),
                on=["user_id"],
                left_ts="click_ts",
                right_ts="purch_ts",
                lead="1 hour",
                watermark="10 minutes",
            )
            writer = (
                out.writeStream.outputMode("append")
                .option(
                    "checkpointLocation", os.path.join(root, f"ckpt_{sink}")
                )
                .trigger(availableNow=True)
            )
            if sink == "memory":
                name = "sij_attrib_mem"
                q = writer.format("memory").queryName(name).start()
            else:
                q = writer.format("noop").start()
            _await_bounded(q)
        wall = time.time() - t0
        progress = []
        for p in q.recentProgress:
            if isinstance(p, str):
                p = json.loads(p)
            if not p.get("numInputRows"):
                continue
            progress.append(
                {
                    "batchId": p.get("batchId"),
                    "numInputRows": p.get("numInputRows"),
                    "durationMs": p.get("durationMs"),
                    "stateRows": [
                        s.get("numRowsTotal")
                        for s in p.get("stateOperators", [])
                    ],
                }
            )
        rows = None
        t_count = None
        if sink == "memory":
            t1 = time.time()
            rows = spark.table("sij_attrib_mem").count()
            t_count = round(time.time() - t1, 1)
        rec = {
            "sink": sink,
            "wall_sec": round(wall, 1),
            "rows": rows,
            "count_sec": t_count,
            "batches": progress,
        }
        print(json.dumps(rec), flush=True)
        results.append(rec)

    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "chunks": chunks,
                "t_source_write": round(t_source, 1),
                "walls": {r["sink"]: r["wall_sec"] for r in results},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
