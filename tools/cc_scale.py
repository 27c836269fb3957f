"""Time connected components on an LSH-shaped synthetic pair graph.

The graph is ``rows / 8`` disjoint 9-node chains (8 pair rows each) whose
ids are spread over 2**40 by a multiplicative bijection, so the id order
along a chain is random, as in the candidate chains LSH banding emits.
The pairs and the id list are checkpointed before the clock starts; the
clock covers ``connected_components`` and one no-op write of its result.

    SPARK_GRAFT_DRIVER_MEM=4g python tools/cc_scale.py --rows 1048576 \
        --cpus 2 --bound 0

``--bound`` patches the one-task bound (0 sends every non-empty graph
through the round loop); without it the shipped bound decides. One JSON
line on stdout: ``cpu_s`` (this process, the JVM and its Python workers),
``wall_s``, ``jobs`` (status store), ``peak_rss_mb`` (the summed RSS of
that process tree, sampled every 0.1 s), ``rounds`` and ``jumps`` (the
loop's, where the checkout reports them), ``path`` and ``ok`` (every
chain came out as one component). Run it from the root of
a checkout: it imports that checkout's engine.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from kafka_etl_automation_spark.session import get_spark, next_job_id  # noqa: E402

MULT = 0x9E3779B97F4A7C15 % (1 << 40) | 1  # odd: a bijection mod 2**40


def _tree(root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(pid))
    out, todo = set(), [root]
    while todo:
        p = todo.pop()
        out.add(p)
        todo.extend(children.get(p, []))
    return out


def _read(pids: set[int], path: str, parse) -> dict[int, float]:
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/{path}") as fh:
                out[pid] = parse(fh.read())
        except (OSError, StopIteration, ValueError):
            continue
    return out


def _cpu(text: str) -> float:
    return sum(int(x) for x in text.rsplit(")", 1)[1].split()[11:15])


def _rss_mb(text: str) -> float:
    return next(int(ln.split()[1]) for ln in text.splitlines() if ln.startswith("VmRSS:")) / 1024


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rows", type=int, default=1 << 20, help="pair rows (multiple of 8)")
    ap.add_argument("--cpus", type=int, default=2)
    ap.add_argument("--bound", type=int, default=None, help="patched one-task bound")
    args = ap.parse_args(argv)

    try:
        from kafka_etl_automation_spark.operators import components as cc
    except ImportError:  # checkouts that kept CC in dedup
        from kafka_etl_automation_spark.operators import dedup as cc
    if args.bound is not None:
        cc._CC_ONE_TASK_MAX_EDGES = args.bound

    spark = get_spark(f"cc-scale-{args.rows}", cpus=args.cpus)
    chains = args.rows // 8

    def node(i):
        return ((i * F.lit(MULT)) % F.lit(1 << 40)).cast("long")

    r = spark.range(chains * 8)
    at = (r.id / 8).cast("long") * 9 + r.id % 8
    pairs = r.select(node(at).alias("id_a"), node(at + 1).alias("id_b")).localCheckpoint()
    ids = spark.range(chains * 9).select(node(F.col("id")).alias("id")).localCheckpoint()

    jvm = spark.sparkContext._gateway.proc.pid
    tick = os.sysconf("SC_CLK_TCK")
    peak, done = [0.0], threading.Event()

    def sample():
        while not done.wait(0.1):
            peak[0] = max(peak[0], sum(_read(_tree(jvm) | {os.getpid()}, "status", _rss_mb).values()))

    sampler = threading.Thread(target=sample, daemon=True)
    jobs0 = next_job_id(spark)
    cpu0 = _read(_tree(jvm) | {os.getpid()}, "stat", _cpu)
    t0 = time.monotonic()
    sampler.start()
    stats: dict = {}
    out = cc.connected_components(pairs, ids, stats=stats)
    out.write.format("noop").mode("overwrite").save()
    wall = time.monotonic() - t0
    cpu1 = _read(_tree(jvm) | {os.getpid()}, "stat", _cpu)
    done.set()
    sampler.join()
    jobs = next_job_id(spark) - jobs0
    clusters = out.agg(F.countDistinct("cluster_id")).first()[0]
    print(json.dumps({
        "rows": args.rows, "cpus": args.cpus, "bound": args.bound,
        "heap": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"),
        "cpu_s": round(sum(v - cpu0.get(p, 0.0) for p, v in cpu1.items()) / tick, 1),
        "wall_s": round(wall, 1), "jobs": jobs, "peak_rss_mb": round(peak[0]),
        "rounds": stats.get("iterations"), "jumps": stats.get("jumps"),
        "path": stats.get("path"),
        "ok": clusters == chains,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
