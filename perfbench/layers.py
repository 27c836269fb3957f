"""Metric tables: what the untraced run reports end to end, and what the
traced run reports per layer.

A layer is an engine module; its spans are the public calls into it, and
the spans of its sub-layers (``operators.similarity`` holds
``operators.similarity.ivf_topk``). Per layer, the traced run reports the
median over its warm iterations of the per-iteration sums over the
layer's spans. Layers a workload does not call report 0.
"""

from __future__ import annotations

import statistics

SPARK_COLUMNS = ("wall_s", "jobs", "stages", "exec_run_s", "core_util",
                 "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "late_jobs")

# layer -> the metrics reported for it
LAYERS: dict[str, tuple[str, ...]] = {
    "streaming.ingest": ("wall_s", "jobs", "stages", "exec_run_s", "core_util",
                         "batch_ms_p50", "add_batch_ms_p50",
                         "trigger_overhead_ms_p50", "batches",
                         "empty_batches", "late_jobs"),
    "io": ("wall_s", "jobs", "files_written", "mb_written"),
    "control": ("wall_s", "jobs"),
    "transform": ("wall_s", "jobs", "stages", "shuffle_write_mb"),
    "scd": ("wall_s", "jobs", "shuffle_write_mb", "spill_mb"),
    "quality": ("wall_s", "jobs"),
    "maintenance": ("wall_s", "jobs", "files_before", "files_after"),
    "operators.curation.score_and_filter": ("wall_s", "jobs", "exec_run_s",
                                            "core_util"),
    "operators.dedup.exact_dedup": ("wall_s", "jobs", "shuffle_write_mb"),
    "operators.dedup.canonical_keep_list": (
        "wall_s", "jobs", "stages", "exec_run_s", "core_util", "shuffle_write_mb",
        "shuffle_read_mb", "spill_mb", "rows_out", "late_jobs",
    ),
    "operators.curation.decontaminate_canonical_lsh": (
        "wall_s", "jobs", "stages", "exec_run_s", "core_util", "shuffle_write_mb",
        "shuffle_read_mb", "spill_mb", "rows_out", "late_jobs",
    ),
    **{
        layer: ("wall_s", "jobs", "stages", "exec_run_s", "core_util",
                "shuffle_write_mb")
        for layer in ("plans.relational", "plans.extensions", "operators.sessions",
                      "operators.joins", "operators.skew", "operators.similarity")
    },
    "operators.similarity.ivf_topk": ("wall_s", "jobs"),
}
UNITS = {
    "wall_s": "s", "exec_run_s": "s", "core_util": "ratio", "jobs": "count",
    "stages": "count", "late_jobs": "count", "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB", "spill_mb": "MB", "mb_written": "MB",
    "rows_out": "count", "batches": "count", "empty_batches": "count",
    "files_written": "count", "files_before": "count", "files_after": "count",
    "batch_ms_p50": "ms", "add_batch_ms_p50": "ms", "trigger_overhead_ms_p50": "ms",
}
EXTRA = {
    "session.wall_s": "s",
    "catalog.wall_s": "s",
    "trace.overhead_pct": "%",
    "trace.counts_repeat": "bool",
    "host.probe_s": "s",
}


def setup_s(setup_reps: list[dict]) -> float:
    """The registry import (paid once per process) plus the median of the
    session set-ups (session, Arrow pool, catalog): the first launches the
    JVM, the next restart the session in it. Of two, the median is the
    mean."""
    return setup_reps[0]["imports"] + statistics.median(
        r["session"] + r["arrow"] + r["catalog"] for r in setup_reps
    )


def _pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in 0..100."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def end_to_end(runs: list[dict], setup_reps: list[dict], peak_rss_mb: float) -> dict:
    cold = next(r for r in runs if r["cold"])
    m = {
        "setup_s": (setup_s(setup_reps), "s"),
        "cold_cpu_s": (cold["cpu"], "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def _layer_iteration(spans, cores: int) -> dict:
    """Per-iteration sums over one layer's spans."""
    row = {c: 0.0 for c in SPARK_COLUMNS}
    for s in spans:
        row["wall_s"] += s.wall_s
        row["jobs"] += s.jobs
        row["stages"] += s.stages
        row["exec_run_s"] += s.exec_run_s
        row["shuffle_write_mb"] += s.shuffle_write_mb
        row["shuffle_read_mb"] += s.shuffle_read_mb
        row["spill_mb"] += s.spill_mb
        row["late_jobs"] += s.late_jobs
        for k, v in s.counters.items():
            if isinstance(v, (int, float)):
                row[k] = row.get(k, 0) + v
        progress = s.counters.get("progress")
        if progress:
            row["batch_ms"] = [b["trigger_s"] * 1000 for b in progress]
            row["add_batch_ms"] = [b["add_batch_s"] * 1000 for b in progress]
            row["overhead_ms"] = [
                (b["trigger_s"] - b["add_batch_s"]) * 1000 for b in progress
            ]
    row["core_util"] = row["exec_run_s"] / (row["wall_s"] * cores) if row["wall_s"] else 0.0
    return row


def per_layer(runs: list[dict], setup_reps: list[dict], cores: int,
              probe_s: float) -> dict:
    warm = [r for r in runs if not r["cold"]]
    out: dict[str, dict] = {}
    repeat = True
    for layer, metrics in LAYERS.items():
        rows = [
            _layer_iteration([s for s in r["spans"]
                              if s.layer == layer or s.layer.startswith(layer + ".")],
                             cores)
            for r in warm
        ]
        rows = [r for r in rows if r["wall_s"]]
        # job and stage counts must repeat over the warm iterations that
        # ran the layer
        repeat = repeat and len({(r["jobs"], r["stages"]) for r in rows}) <= 1
        for name in metrics:
            if not rows:
                value = 0.0
            elif name == "batch_ms_p50":
                value = _pct([x for r in rows for x in r["batch_ms"]], 50)
            elif name == "add_batch_ms_p50":
                value = _pct([x for r in rows for x in r["add_batch_ms"]], 50)
            elif name == "trigger_overhead_ms_p50":
                value = _pct([x for r in rows for x in r["overhead_ms"]], 50)
            elif name == "late_jobs":
                value = max(r["late_jobs"] for r in rows)
            else:
                value = statistics.median(r.get(name, 0.0) for r in rows)
            out[f"{layer}.{name}"] = {"value": value, "unit": UNITS[name]}

    # the tracer's bookkeeping against the iteration wall it would have had
    # without tracing
    overhead = statistics.median(
        100.0 * r["trace_s"] / (r["iter_wall"] - r["trace_s"]) for r in warm
    )
    extra = {
        "session.wall_s": statistics.median(r["session"] for r in setup_reps),
        "catalog.wall_s": statistics.median(r["catalog"] for r in setup_reps),
        "trace.overhead_pct": overhead,
        "trace.counts_repeat": 1 if repeat else 0,
        "host.probe_s": probe_s,
    }
    out.update({k: {"value": v, "unit": EXTRA[k]} for k, v in extra.items()})
    return out


def span_dump(tracer, runs: list[dict], host: dict, setup_reps: list[dict]) -> dict:
    """Every span of the run, for reading a traced run after the fact."""
    return {
        "host": host,
        "setup": setup_reps,
        "iterations": [
            {k: r[k] for k in ("index", "cold", "wall", "iter_wall", "trace_s")}
            for r in runs
        ],
        "spans": [
            {
                "layer": s.layer, "iteration": s.iteration, "wall_s": s.wall_s,
                "jobs": s.jobs, "job_ids": s.job_ids, "late_jobs": s.late_jobs,
                "stages": s.stages, "exec_run_s": s.exec_run_s,
                "shuffle_write_mb": s.shuffle_write_mb,
                "shuffle_read_mb": s.shuffle_read_mb, "spill_mb": s.spill_mb,
                "counters": s.counters,
            }
            for s in tracer.spans
        ],
    }
