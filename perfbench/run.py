"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload arrival_to_dim --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``.perfbench_work/`` and removed at exit; a traced run also writes
its spans to ``.perfbench_out/``. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import subprocess
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 2
HEAP = "1g"


def _args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--cores", type=int, default=0,
                    help="session cores (default: half the host's); --cores 1 "
                         "--trace 1 gives the single-threaded baseline of every layer")
    return ap.parse_args(argv)


def _isolate(work: str, cores: int) -> None:
    """Keep every file Spark, the JVM, DuckDB and the engine write inside
    the run's work dir, and size the session."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=HEAP,
    )
    import tempfile

    tempfile.tempdir = tmp


def _session_conf(work: str, traced: bool, cores: int) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a fixed-size heap keeps the JVM's resident size from tracking
        # when G1 happens to grow the heap; GC and JIT threads are sized to
        # the session, so that together with its task threads the JVM stays
        # within the host's vCPUs
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} -XX:ParallelGCThreads={cores} -XX:ConcGCThreads=1 "
            f"-XX:CICompilerCount=2 -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if traced:
        # keep every job and stage of the run in the status store
        conf.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    return conf


def _other_spark_jvms(own: set[int]) -> list[int]:
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if b"org.apache.spark" in cmd and int(pid) not in own:
            pids.append(int(pid))
    return pids


def _tree(root_pid: int) -> set[int]:
    """``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(pid))
    out, todo = set(), [root_pid]
    while todo:
        p = todo.pop()
        out.add(p)
        todo.extend(children.get(p, []))
    return out


def _cpu_s(pids: set[int]) -> dict[int, float]:
    """CPU seconds (user + system, reaped children included) of each of
    ``pids``. Time the hypervisor steals from the host's vCPUs is not
    counted."""
    tick = os.sysconf("SC_CLK_TCK")
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[pid] = sum(int(x) for x in fields[11:15]) / tick
    return out


class TreeClock:
    """CPU seconds used by this process, the JVM and the JVM's children
    (the Python workers) between two readings."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.last = self._read()

    def _read(self) -> dict[int, float]:
        return _cpu_s(_tree(self.jvm_pid) | {os.getpid()})

    def lap(self) -> float:
        now = self._read()
        used = sum(v - self.last.get(pid, 0.0) for pid, v in now.items())
        self.last = now
        return used


def _peak_rss_mb(pids: set[int]) -> dict[int, float]:
    """Peak RSS (VmHWM) in MB of this process and of the given ones."""
    peaks = {os.getpid(): resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0}
    for pid in pids - {os.getpid()}:
        try:
            with open(f"/proc/{pid}/status") as fh:
                peaks[pid] = next(
                    int(line.split()[1]) for line in fh if line.startswith("VmHWM:")
                ) / 1024.0
        except (OSError, StopIteration):
            continue
    return peaks


def _steal_s() -> float:
    """Seconds the hypervisor has run other guests on this host's vCPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _host_probe(cores: int) -> float:
    """Wall of a fixed CPU-bound, data-free task: ``cores`` threads each
    hash 128 MiB (``hashlib`` drops the GIL on large buffers), median of
    three. It runs no Spark and reads no engine state, so it shows the
    host only: with two threads it reads ~0.12 s on an idle 4-vCPU host
    and rises when other tenants take the cores. Recorded as host context; no metric is
    divided by it."""
    buf = bytes(16 * 1024 * 1024)

    def work():
        for _ in range(8):
            hashlib.sha256(buf).digest()

    walls = []
    for _ in range(3):
        threads = [threading.Thread(target=work) for _ in range(cores)]
        t0 = time.perf_counter()
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def _setup(workload, work: str, traced: bool, cores: int, repeats: int):
    """Session set-up, repeated: each repetition builds the engine session,
    warms the Arrow worker pool and loads the workload's catalog tables.
    The first also imports the engine and launches the JVM. Returns the
    session and the per-repetition times."""
    reps = []
    spark = None
    for i in range(repeats):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        if i == 0:
            import __spark_entry__  # noqa: F401  (the registry import)
            from kafka_etl_automation_spark.session import get_spark
        t1 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=_session_conf(work, traced, cores))
        t2 = time.perf_counter()
        spark.range(32).mapInPandas(lambda it: it, schema="id long").write.format(
            "noop"
        ).mode("overwrite").save()
        t3 = time.perf_counter()
        from kafka_etl_automation_spark.catalog import load_tables

        tables = load_tables(spark, workload.input_dir, workload.catalog_tables)
        for df in tables.values():
            df.limit(1).collect()
        t4 = time.perf_counter()
        reps.append(dict(total=t4 - t0, imports=t1 - t0, session=t2 - t1,
                         arrow=t3 - t2, catalog=t4 - t3))
    return spark, reps


def _quiesce(spark, limit_s: float = 20.0) -> float:
    """Between iterations, untimed: a full GC, then wait until the JIT has
    compiled what the last iteration queued (its total compilation time
    stops moving), so that each iteration starts from the same JVM state
    instead of paying for the backlog of the one before. Returns the
    seconds waited."""
    t0 = time.perf_counter()
    mgmt = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    mgmt.getMemoryMXBean().gc()
    jit = mgmt.getCompilationMXBean()
    last, still = jit.getTotalCompilationTime(), 0
    while still < 2 and time.perf_counter() - t0 < limit_s:
        time.sleep(0.25)
        now = jit.getTotalCompilationTime()
        still = still + 1 if now == last else 0
        last = now
    return time.perf_counter() - t0


def _measure(workload, spark, tracer, clock, seconds: float, min_warm: int):
    """A cold iteration, then warm iterations until ``seconds`` of iteration
    wall have passed, at least ``min_warm``."""
    runs = []
    attempted = failed = 0
    window = 0.0
    index = 0
    while index <= min_warm or window < seconds:
        cold = index == 0
        n_spans = len(tracer.spans)
        trace_s = tracer.overhead_s
        quiet_s = _quiesce(spark)
        clock.lap()  # drops the previous iteration's checks
        steal = _steal_s()
        t0 = time.perf_counter()
        try:
            failures, check_s, cpu = workload.run_iteration(spark, tracer, index, clock)
        except Exception as exc:  # a raised call: count it, stop the loop
            print(f"# iteration {index} raised {type(exc).__name__}: {exc}",
                  file=sys.stderr)
            attempted += len(tracer.spans) - n_spans + 1
            failed += 1
            break
        wall = time.perf_counter() - t0 - check_s
        steal = _steal_s() - steal
        spans = tracer.spans[n_spans:]
        attempted += len(spans)
        failed += len(failures)
        for f in failures:
            print(f"# iteration {index} check failed: {f}", file=sys.stderr)
        runs.append(dict(index=index, cold=cold, wall=sum(s.wall_s for s in spans),
                         iter_wall=wall, cpu=cpu, steal=steal, quiet=quiet_s, trace_s=tracer.overhead_s - trace_s,
                         spans=spans))
        if not cold:
            window += wall
        index += 1
    return runs, attempted, failed


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import layers
    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    nproc = os.cpu_count() or 1
    # half the host's cores: the inputs are small and the calls driver-bound,
    # and a session as wide as the host measures its other tenants
    cores = args.cores or max(1, len(os.sched_getaffinity(0)) // 2)
    traced = bool(args.trace)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _isolate(work, cores)
    host = {"nproc": nproc, "cores": cores, "loadavg_before": _loadavg()}
    spark = None
    try:
        workload = WORKLOADS[args.workload](work, args.seed, deep=traced)
        workload.prepare()
        spark, setup_reps = _setup(workload, work, traced, cores, SETUP_REPEATS)
        from pyspark import SparkContext

        jvm_tree = _tree(SparkContext._gateway.proc.pid)
        others = _other_spark_jvms(jvm_tree | {os.getpid()})
        host["other_spark_jvms"] = others
        if others:
            print(f"# WARNING: {len(others)} other Spark JVM(s) running "
                  f"(pids {others}); timings inflate under CPU contention",
                  file=sys.stderr)
        tracer = Tracer(spark, traced)
        workload.start(spark)
        probes = [_host_probe(cores)]
        # a traced run needs two warm iterations to show that job and stage
        # counts repeat
        min_warm = 2 if traced else 1
        clock = TreeClock(SparkContext._gateway.proc.pid)
        runs, attempted, failed = _measure(
            workload, spark, tracer, clock, args.seconds, min_warm
        )
        tracer.collect()
        probes.append(_host_probe(cores))
        host["probes_s"] = probes
        probe_s = statistics.fmean(probes)
        peaks = _peak_rss_mb(_tree(SparkContext._gateway.proc.pid))
        host["peak_rss_mb"] = {str(k): round(v) for k, v in peaks.items()}
        host["loadavg_after"] = _loadavg()
        host["iterations"] = [round(r["wall"], 3) for r in runs]
        host["iteration_cpu_s"] = [round(r["cpu"], 2) for r in runs]
        host["iteration_steal_s"] = [round(r["steal"], 2) for r in runs]
        host["quiesce_s"] = [round(r["quiet"], 2) for r in runs]
        host["setup"] = [round(r["total"], 3) for r in setup_reps]
        print("# host: " + json.dumps(host), file=sys.stderr)

        if traced:
            metrics = layers.per_layer(runs, setup_reps, cores, probe_s)
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            out = os.path.join(ROOT, ".perfbench_out",
                               f"{args.workload}-seed{args.seed}-cores{cores}.json")
            with open(out, "w") as fh:
                json.dump(layers.span_dump(tracer, runs, host, setup_reps), fh, indent=1)
        else:
            metrics = layers.end_to_end(runs, setup_reps, sum(peaks.values()))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(os.path.dirname(work)) and not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))


if __name__ == "__main__":
    sys.exit(main())
