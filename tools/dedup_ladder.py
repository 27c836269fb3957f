"""Scale ladder for the deployable documents-linear dedup/decontam shape
(VERDICT r05 #4): times ext_dedup_canonical_lsh (collapse -> banded LSH ->
connected components -> keep-list) and ext_decontamination_lsh across the
inflated octaves, min-of-two per point, and prints one JSON line per
(query, octave) plus a trailing summary. Run EXCLUSIVELY (no concurrent
local[32] JVM) — walls feed BENCH_SCALE.md.

``--recall DIR`` (VERDICT r07 #4) additionally pins the LSH shapes'
OBSERVED recall/coverage against their exact twins at a SCALE dir, not
just the sf0.01 gate where dup families are small: merge-recall for the
canonical keep-list (fraction of the exact twin's dedup merges achieved)
and eval-coverage for canonical decontamination (fraction of the exact
twin's contaminated eval docs reported). Use an octave where the exact
O(pairs) twins still run (30x); the records land beside the walls.

``--cap-recall DIR`` (VERDICT r09 #2) isolates what the max_bucket=1000
cap alone discards, at octaves where the exact twins CANNOT run (at 300x
their inverted-index verify would shuffle ~400 GB — over this box's
disk): LSH candidates are exact-verified, so the UNCAPPED run's output
pairs are all TRUE pairs and capped-vs-uncapped measures exactly the
fraction of true pairs that lived in capped-out buckets — the silent
loss channel the r09 verdict flagged. Banding recall (the other loss
channel) stays pinned against the exact twins by ``--recall`` at 30x.
Emits cap merge-recall, cap eval-coverage, and the capped runs'
dropped_buckets / dropped_emissions stats.

Usage: python tools/dedup_ladder.py DIR [DIR...] [--queries a,b]
       [--runs 2] [--recall DIR] [--cap-recall DIR]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    argv = sys.argv[1:]
    runs = 2
    if "--runs" in argv:
        i = argv.index("--runs")
        runs = int(argv[i + 1])
        del argv[i : i + 2]
    qnames = [
        "ext_dedup_canonical_lsh",
        "ext_decontamination_canonical_lsh",
        "ext_decontamination_lsh",
    ]
    if "--queries" in argv:
        i = argv.index("--queries")
        qnames = argv[i + 1].split(",")
        del argv[i : i + 2]
    recall_dir = None
    if "--recall" in argv:
        i = argv.index("--recall")
        recall_dir = argv[i + 1]
        del argv[i : i + 2]
    cap_recall_dir = None
    if "--cap-recall" in argv:
        i = argv.index("--cap-recall")
        cap_recall_dir = argv[i + 1]
        del argv[i : i + 2]
    dirs = argv or ["/tmp/sf3.0", "/tmp/sf10.0", "/tmp/sf30.0"]

    import __spark_entry__ as entry_mod
    from kafka_etl_automation_spark.session import get_spark

    spark = get_spark("dedup-ladder")
    qs = entry_mod.queries()
    out = []
    # --runs 0 skips the timing ladder entirely — run ONLY the --recall /
    # --cap-recall measurement passes (they are expensive enough to want
    # their own solo invocation)
    for sf_dir in dirs if runs > 0 else []:
        for name in qnames:
            walls, rows = [], None
            for _ in range(runs):
                t0 = time.time()
                rows = qs[name](spark, sf_dir).count()
                walls.append(round(time.time() - t0, 1))
                spark.catalog.clearCache()
            rec = {
                "query": name,
                "sf_dir": sf_dir,
                "rows": rows,
                "wall_sec": min(walls),
                "runs": walls,
            }
            print(json.dumps(rec), flush=True)
            out.append(rec)

    if recall_dir:
        from kafka_etl_automation_spark.catalog import load_tables

        docs = load_tables(spark, recall_dir, names=("documents",))["documents"]
        n_docs = docs.count()

        # merge recall: fraction of the exact twin's (n_docs - n_clusters)
        # dedup merges the LSH keep-list achieves — same definition as
        # tests/test_operators.py::test_lsh_recall_floors, at scale SF
        lsh_k = qs["ext_dedup_canonical_lsh"](spark, recall_dir).count()
        spark.catalog.clearCache()
        exact_k = qs["ext_dedup_canonical"](spark, recall_dir).count()
        spark.catalog.clearCache()
        merge_recall = (
            (n_docs - lsh_k) / (n_docs - exact_k) if n_docs > exact_k else 1.0
        )
        rec = {
            "metric": "merge_recall",
            "sf_dir": recall_dir,
            "n_docs": n_docs,
            "keep_lsh": lsh_k,
            "keep_exact": exact_k,
            "value": round(merge_recall, 5),
        }
        print(json.dumps(rec), flush=True)
        out.append(rec)

        # eval coverage: fraction of the exact canonical twin's
        # contaminated eval docs the LSH twin reports
        lsh_ev = {
            r.eval_doc_id
            for r in qs["ext_decontamination_canonical_lsh"](
                spark, recall_dir
            ).collect()
        }
        spark.catalog.clearCache()
        exact_ev = {
            r.eval_doc_id
            for r in qs["ext_decontamination_canonical"](spark, recall_dir).collect()
        }
        spark.catalog.clearCache()
        cov = len(lsh_ev & exact_ev) / len(exact_ev) if exact_ev else 1.0
        rec = {
            "metric": "eval_coverage",
            "sf_dir": recall_dir,
            "evals_lsh": len(lsh_ev),
            "evals_exact": len(exact_ev),
            "value": round(cov, 5),
        }
        print(json.dumps(rec), flush=True)
        out.append(rec)

    if cap_recall_dir:
        from kafka_etl_automation_spark.catalog import load_tables
        from kafka_etl_automation_spark.operators import curation, dedup

        docs = load_tables(spark, cap_recall_dir, names=("documents",))[
            "documents"
        ]
        n_docs = docs.count()

        def keep_list(max_bucket, stats=None):
            return dedup.canonical_keep_list(
                docs,
                pair_source=lambda reps: dedup.minhash_lsh_pairs(
                    reps, n=3, num_hashes=64, bands=16, threshold=0.5,
                    collapse_exact=False, candidate_scope="star",
                    max_bucket=max_bucket, stats=stats,
                ),
            )

        # Three legs (r12): the determinism-pinned cap=1000 (what the
        # boarded queries run), the library DEFAULT max_bucket="auto"
        # (VERDICT r11 #1's done-criterion: >=0.99 merge recall under
        # defaults at the top octave), and explicit uncapped (truth — LSH
        # candidates are exact-verified, so every uncapped pair is true).
        st_cap: dict = {}
        k_cap = keep_list(1000, st_cap).count()
        spark.catalog.clearCache()
        st_auto: dict = {}
        k_auto = keep_list("auto", st_auto).count()
        spark.catalog.clearCache()
        k_uncap = keep_list(None).count()
        spark.catalog.clearCache()

        def _recall(k):
            return round(
                (n_docs - k) / (n_docs - k_uncap) if n_docs > k_uncap else 1.0,
                5,
            )

        for metric, k, st in (
            ("cap_merge_recall", k_cap, st_cap),
            ("default_merge_recall", k_auto, st_auto),
        ):
            rec = {
                "metric": metric,
                "sf_dir": cap_recall_dir,
                "n_docs": n_docs,
                "keep": k,
                "keep_uncapped": k_uncap,
                "effective_max_bucket": st.get("effective_max_bucket"),
                "dropped_buckets": st.get("dropped_buckets"),
                "dropped_emissions": st.get("dropped_emissions"),
                "value": _recall(k),
            }
            print(json.dumps(rec), flush=True)
            out.append(rec)

        def decon_evals(max_bucket):
            return {
                r.eval_doc_id
                for r in curation.decontaminate_canonical_lsh(
                    docs, max_bucket=max_bucket
                ).collect()
            }

        ev_cap = decon_evals(1000)
        spark.catalog.clearCache()
        ev_auto = decon_evals("auto")
        spark.catalog.clearCache()
        ev_uncap = decon_evals(None)
        spark.catalog.clearCache()
        for metric, ev in (
            ("cap_eval_coverage", ev_cap),
            ("default_eval_coverage", ev_auto),
        ):
            rec = {
                "metric": metric,
                "sf_dir": cap_recall_dir,
                "evals": len(ev),
                "evals_uncapped": len(ev_uncap),
                "value": round(
                    len(ev & ev_uncap) / len(ev_uncap) if ev_uncap else 1.0, 5
                ),
            }
            print(json.dumps(rec), flush=True)
            out.append(rec)

    print(json.dumps({"ladder": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
