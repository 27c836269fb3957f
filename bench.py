"""Headline benchmark: wall-clock per query at $SPARK_GRAFT_SF_DIR (sf0.1).

Prints ONE JSON line:
  {"metric": "total_wall_sec", "value": N, "unit": "sec",
   "queries": {name: sec, ...}, "sf": 0.1, "calib_sec": C, "cpus": P}

"calib_sec" (VERDICT r10 #4) is a host-calibration constant: the warm
minimum wall of a fixed, data-free, CPU-bound hash aggregation
(range(2e9) -> xxhash64 -> 1024-key bit_xor groupBy). It depends only on
the host, so round-over-round query ratios should be read as
(wall_new/calib_new) / (wall_old/calib_old) — host drift cancels.

Query set: the flagship dim build, the heaviest relational operators, the
scale-path dedup/similarity/text extensions, SCD merge, multimodal
mapInPandas, and the streaming ingest contract — the data-plane surface.
Control-plane registry round-trips (m2/ctl) are excluded: they measure tiny
metadata writes, not engine throughput.

Each query is forced end-to-end with the noop sink (full materialization,
no driver collect, no disk write skew).

Methodology: after a one-time session warm-up (JVM codegen + Arrow worker
pool), every query runs TWICE and the reported number is the MINIMUM of
the two (timeit-style) — the first run pays per-plan codegen/classloading/
shuffle-file setup that a long-lived cluster amortizes away (inflating r02
numbers 3-20x), and single later runs carry GC/scheduler noise big enough
to read slower than their cold predecessor (observed 3x on ext_ivf_topk in
r04). First-run timings are kept in "queries_cold" inside
BENCH_DETAIL.json for visibility. Workflow queries (m4/pipelines/stream)
materialize fresh state on BOTH runs, so their number still contains their
real write cost.

Profiles: BENCH_DETAIL.json's "profiles" holds, per query, one entry per
run that splits the run at the moment ``fn(spark, sf_dir)`` returns into
"construct" (the jobs run while building the frame: eager counts, audits,
CC checkpoints) and "write" (the noop write of the final plan). Each half
has its wall and, from the status store (``session.spark_work``: no event
log, no extra job), its jobs and their call-site names, stages, tasks,
executor seconds, shuffle read/write MB and spill MB.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    "flagship_dim_customer",
    "a3_pricing_summary",
    "a6_dup_finder",
    "a9_count_minus",
    "w1_latest_per_group",
    "e1_minus_symdiff",
    "j2_constant_on_pred",
    "f8_clean_strings",
    "t6_incremental_window",
    "m4_scd2_merge",
    "q2_data_diff",
    "pipeline_incremental_load",
    "pipeline_arrival_to_dim",
    "ext_exact_dedup",
    "ext_boilerplate",
    "ext_minhash_lsh",
    # the deployable documents-linear dedup pipeline (collapse -> LSH ->
    # CC -> keep-list); its exact twin ext_dedup_canonical stays gate-only
    # with the other quadratic-verifier family members
    "ext_dedup_canonical_lsh",
    # NOT ext_decontamination_lsh: quarantined off the board in r08 after
    # the 900x-documents octave MEASURED its pair-report contract
    # un-runnable — 4.94e9 in-bucket cross-label candidates survive the
    # max_bucket=1000 cap (dup-family buckets sit UNDER the cap while
    # their cross products grow quadratically; the cap removes only 22%
    # of the bulk), and the run ENOSPC'd a 250 GB disk. It stays
    # registered as the gate-SF pair-report verifier, like
    # ext_decontamination/ext_minhash_lsh. The deployable shape is below.
    # decontaminate against the DEDUPED train corpus (keep-list first) —
    # the documents-linear contract, sublinear at FOUR measured octaves
    # (BENCH_SCALE.md r08); exact twin is gate-only
    "ext_decontamination_canonical_lsh",
    # exact 8-gram containment decontamination (GPT-3/PaLM-style passage
    # overlap): documents-linear, fully oracle-checked at any SF — the
    # deterministic complement to the Jaccard shapes above
    "ext_ngram_overlap_decontamination",
    # its segment-sharded bloom production shape (r09): per-task state
    # bounded by construction, zero false negatives; at bench SF the
    # Python-worker fixed costs dominate (~2.3s solo) — the octave story
    # is in BENCH_SCALE.md
    "ext_ngram_overlap_decontamination_bloom",
    "ext_simhash_pairs",
    "ext_text_stats",
    "ext_quality_score",
    "ext_cosine_topk",
    "ext_lsh_cosine_topk",
    # NOT ext_embedding_near_dup: the exact all-pairs verifier is O(N^2) by
    # design (correctness gate only); the deployable scale path is below.
    "ext_lsh_embedding_near_dup",
    "ext_ivf_topk",
    "ext_token_counts",
    "ext_curation_pipeline",
    "ext_top_terms",
    "ext_sessionize",
    "ext_windowed_counts",
    "ext_asof_join",
    "ext_range_join",
    "ext_window_analytics",
    "ext_funnel",
    "ext_cohort_retention",
    "ext_knn_label_agreement",
    "ext_gapfill",
    "ext_rolling_counts",
    "ext_sliding_windows",
    "ext_session_window",
    "ext_rollup",
    "ext_grouping_sets",
    "ext_quantiles",
    # NOT ext_dedup_clusters: built on the quadratic exact-pair verifier
    "ext_salted_agg",
    "ext_hash_split",
    "mm_image_features",
    "mm_frame_sample",
    "mm_audio_windows",
    "ext_pivot",
    "ext_quantile_sketch",
    "ext_cdc_apply",
    "ext_incremental_rollup",
    "ext_source_cap",
    "ext_approx_cardinality",
    "stream_file_ingest",
]


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = None

    import __spark_entry__ as entry_mod
    from kafka_etl_automation_spark.session import get_spark, next_job_id, spark_work

    # the profiles read every stage of a run from the status store, so keep
    # the whole board's jobs and stages there (Spark keeps 1000 of each)
    spark = get_spark(
        "bench",
        extra_conf={
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    qs = entry_mod.queries()

    # Warm the JVM/codegen paths AND the Arrow Python-worker pool once so
    # per-query numbers measure the queries, not session/worker startup
    # (first mapInPandas pays ~6s of worker spinup).
    qs["a1_minmax_nvl"](spark, sf_dir).collect()
    spark.range(32).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    # Host-calibration constant (VERDICT r10 #4): one fixed, data-free,
    # CPU-bound hash aggregation over range(2e9) — seeded literals only,
    # so its cost is a pure function of the host's CPU/scheduler, never
    # of this repo's code or the SF dir. Cross-round comparisons divide
    # query walls by calib_sec to separate host drift from real
    # regressions (r10 burned a round proving a 52->80s headline was a
    # ~1.5x-slower host via same-day re-runs of r09 code; this constant
    # makes that a lookup). One discarded cold run (codegen/classload,
    # ~4x the steady state), then min-of-two warm runs — measured spread
    # of the warm minimum is under 10% on this host (~2.4s).
    def _calibrate() -> float:
        from pyspark.sql import functions as F

        t0 = time.time()
        (
            spark.range(0, 2_000_000_000, 1, 32)
            .groupBy((F.xxhash64("id") % 1024).alias("k"))
            .agg(F.expr("bit_xor(xxhash64(id, 7L))").alias("s"))
            .write.format("noop").mode("overwrite").save()
        )
        return round(time.time() - t0, 3)

    _calibrate()  # discard: per-plan codegen/classloading
    calib_sec = min(_calibrate(), _calibrate())
    print(f"# calib_sec: {calib_sec:.2f}s", file=sys.stderr)

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    errors: dict[str, str] = {}
    profiles: dict[str, list[dict]] = {}

    def profile(first: int, end: int, wall_s: float) -> dict:
        work = spark_work(spark, first, end)
        names = Counter(work.pop("names"))
        return {
            "wall_s": round(wall_s, 3),
            **{k: round(v, 3) for k, v in work.items()},
            "names": dict(names),
        }

    def run_once(fn, name: str) -> float | None:
        j0 = next_job_id(spark)
        t0 = time.time()
        try:
            frame = fn(spark, sf_dir)
            t1, j1 = time.time(), next_job_id(spark)
            frame.write.format("noop").mode("overwrite").save()
            j2 = next_job_id(spark)
        except Exception as exc:  # one bad query must not zero the bench
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)
            return None
        finally:
            # every query starts cold: the operators' bounded cache pools
            # would otherwise carry one query's frames (the collapse maps
            # of the same documents, say) into the next one's timing
            spark.catalog.clearCache()
        t2 = time.time()
        profiles.setdefault(name, []).append(
            {"construct": profile(j0, j1, t1 - t0), "write": profile(j1, j2, t2 - t1)}
        )
        return round(t2 - t0, 3)

    for name in BENCH_QUERIES:
        fn = qs.get(name)
        if fn is None:
            continue
        first = run_once(fn, name)
        if first is None:
            continue
        cold[name] = first
        second = run_once(fn, name)
        # min of the two runs (timeit-style): single-run numbers carry
        # GC/scheduler noise large enough to make a "warm" run slower than
        # its cold predecessor (observed 3x on ext_ivf_topk); the minimum
        # is the reproducible steady-state cost of the plan
        timings[name] = min(first, second) if second is not None else first
        print(
            f"# {name}: {timings[name]:.2f}s (cold {first:.2f}s)",
            file=sys.stderr,
        )

    # Optional scaling leg (VERDICT r12 #2): the sf0.1 board is fixed-cost
    # bound (44/57 queries sub-second), so per-query 8-vs-32-core ratios
    # are scheduler noise and a real parallelism regression is invisible.
    # When SPARK_GRAFT_SCALING_SF_DIR names a ~10x corpus, re-time the
    # heavyweight scale-path queries there — at that volume low/high-core
    # ratios are meaningful (see OPTIMIZATION_r13.md for the measured
    # legs). Additions-only: the driver never sets the env var, so the
    # stdout contract and the 57-query board are unchanged; the extra
    # timings land under distinct "scaling__" names in the same dict.
    scaling_dir = os.environ.get("SPARK_GRAFT_SCALING_SF_DIR")
    if scaling_dir:
        for name in (
            "ext_minhash_lsh",
            "ext_dedup_canonical_lsh",
            "ext_decontamination_canonical_lsh",
            "ext_ngram_overlap_decontamination",
            "ext_simhash_pairs",
        ):
            fn = qs.get(name)
            if fn is None:
                continue
            key = f"scaling__{name}"
            first = run_once(lambda s, _d, f=fn: f(s, scaling_dir), key)
            if first is None:
                continue
            cold[key] = first
            second = run_once(lambda s, _d, f=fn: f(s, scaling_dir), key)
            timings[key] = min(first, second) if second is not None else first
            print(f"# {key}: {timings[key]:.2f}s", file=sys.stderr)

    # "value" is the 57-query board only: the optional
    # scaling__ legs time a different corpus, so adding them would make
    # totals from runs with and without the env var incomparable; they
    # stay visible under "queries" and in BENCH_DETAIL.json.
    total = round(
        sum(v for k, v in timings.items() if not k.startswith("scaling__")), 3
    )
    # stdout carries ONLY the minimal machine-readable line (the driver's
    # parser choked on the r03 line that embedded queries_cold + errors —
    # VERDICT r03 #4); cold timings and errors go to a sidecar + stderr.
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    detail = {
        "metric": "total_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_cold": cold,
        "errors": errors,
        "profiles": profiles,
        "sf": sf,
        "calib_sec": calib_sec,
        "cpus": cpus,
    }
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_DETAIL.json"), "w"
        ) as fh:
            json.dump(detail, fh, indent=1)
    except OSError as exc:
        print(f"# could not write BENCH_DETAIL.json: {exc}", file=sys.stderr)
    if errors:
        print("# errors: " + json.dumps(errors), file=sys.stderr)
    # "cpus" (VERDICT r12 #2): echo the core count the session actually
    # ran with, so the driver's scaling analysis can self-check that
    # $SPARK_GRAFT_CPUS reached the JVM (the r12 heuristic mis-flagged
    # suspect_cpus_ignored; calib_sec already scales 2.85x across 8-vs-32
    # runs and proves it). Additions-only: same one-line contract.
    print(json.dumps({
        "metric": "total_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "calib_sec": calib_sec,
        "cpus": cpus,
    }))
    # always exit 0: the stdout JSON line is the contract, and a nonzero
    # exit must not void a board that still carries valid timings —
    # errors are signalled via stderr + BENCH_DETAIL.json "errors"
    return 0


if __name__ == "__main__":
    sys.exit(main())
