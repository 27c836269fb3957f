"""Octave ladder + FP bound for the bloom containment variant (VERDICT
r08 #3): times ext_ngram_overlap_decontamination_bloom across the
inflated document octaves (min-of-N, noop sink, solo box required) and,
at one chosen octave, collects both variants' flagged sets to measure
the bloom's doc-level false-positive bound against the exact contract
(superset is guaranteed by construction; this measures HOW MUCH bigger).

Usage: python tools/bloom_ladder.py [DIR ...] [--runs 2] [--fp-dir DIR]
  (default dirs: /tmp/sf3.0 /tmp/sf10.0 /tmp/sf30.0 /tmp/sf90docs
   /tmp/sf270docs; default --fp-dir /tmp/sf30.0)

Prints one JSON line per (octave) plus an FP summary line — walls feed
BENCH_SCALE.md.
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
    fp_dir = "/tmp/sf30.0"
    if "--fp-dir" in argv:
        i = argv.index("--fp-dir")
        fp_dir = argv[i + 1]
        del argv[i : i + 2]
    dirs = argv or [
        "/tmp/sf3.0",
        "/tmp/sf10.0",
        "/tmp/sf30.0",
        "/tmp/sf90docs",
        "/tmp/sf270docs",
    ]

    from kafka_etl_automation_spark.catalog import load_tables
    from kafka_etl_automation_spark.operators import curation
    from kafka_etl_automation_spark.session import get_spark

    spark = get_spark("bloom-ladder")

    for sf_dir in dirs:
        docs = load_tables(spark, sf_dir, names=("documents",))["documents"]
        walls, rows = [], None
        for _ in range(runs):
            t0 = time.time()
            out = curation.ngram_overlap_decontamination_bloom(docs)
            out.write.format("noop").mode("overwrite").save()
            walls.append(round(time.time() - t0, 1))
            spark.catalog.clearCache()
        rows = curation.ngram_overlap_decontamination_bloom(docs).count()
        print(
            json.dumps(
                {
                    "query": "ext_ngram_overlap_decontamination_bloom",
                    "dir": sf_dir,
                    "wall_sec": min(walls),
                    "walls": walls,
                    "flagged": rows,
                }
            ),
            flush=True,
        )

    if fp_dir:
        docs = load_tables(spark, fp_dir, names=("documents",))["documents"]
        exact = {
            r.eval_doc_id: r.n_overlap
            for r in curation.ngram_overlap_decontamination(docs).collect()
        }
        bloom = {
            r.eval_doc_id: r.n_overlap
            for r in curation.ngram_overlap_decontamination_bloom(docs).collect()
        }
        assert set(exact) <= set(bloom), "superset violated"
        extra_docs = len(bloom) - len(exact)
        fp_grams = sum(bloom[k] - exact.get(k, 0) for k in bloom)
        # denominator for the per-gram FP rate (VERDICT r09 #3): every
        # distinct eval gram is probed against the filter exactly once
        from kafka_etl_automation_spark.operators import text as _text

        split = _text.hash_split("text", 90)
        probes = curation._gram_keys(
            docs.filter(split == "eval"), "text", "doc_id", 8
        ).count()
        print(
            json.dumps(
                {
                    "fp_check_dir": fp_dir,
                    "exact_flagged": len(exact),
                    "bloom_flagged": len(bloom),
                    "extra_flagged_docs": extra_docs,
                    "extra_flagged_frac": round(extra_docs / max(len(exact), 1), 6),
                    "fp_gram_hits": fp_grams,
                    "eval_grams_probed": probes,
                    "fp_gram_rate": round(fp_grams / max(probes, 1), 12),
                }
            ),
            flush=True,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
