"""Attribute the canonical-dedup ladder's wall across pipeline phases.

The r06 ladder (tools/dedup_ladder.py) showed ext_dedup_canonical_lsh
going 77.6s -> 507.9s for 3x data between the 100x and 300x octaves while
its keep-list output stayed linear. This probe splits that wall into the
pipeline's phases and prints the counters that explain each one:

  collapse   reps.count() after _exact_text_collapse
  candidates minhash_lsh_pairs' bucket self-join work (sum C(bucket,2)),
             distinct candidate count, max bucket size
  verify     verified rep-pair count (exact Jaccard over candidates)
  cc         connected_components wall + ITERATION count (min-label
             propagation is O(component diameter) rounds)

One JSON line per input dir. Probe-only instrumentation: the stats dicts
cost extra actions, so ladder walls are measured by dedup_ladder.py, not
here. Usage: python tools/dedup_probe.py DIR [DIR...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main() -> int:
    dirs = sys.argv[1:] or ["/tmp/sf10.0", "/tmp/sf30.0"]

    from kafka_etl_automation_spark.catalog import load_tables
    from kafka_etl_automation_spark.operators import dedup
    from kafka_etl_automation_spark.session import get_spark

    spark = get_spark("dedup-probe")
    for d in dirs:
        docs = load_tables(spark, d, names=("documents",))["documents"]
        n_docs = docs.count()

        t0 = time.time()
        reps, members = dedup._exact_text_collapse(docs, "text", "doc_id")
        n_reps = reps.count()
        t_collapse = time.time() - t0

        lsh_stats: dict = {}
        t0 = time.time()
        pairs = dedup.minhash_lsh_pairs(
            reps,
            n=3,
            num_hashes=64,
            bands=16,
            threshold=0.5,
            collapse_exact=False,
            stats=lsh_stats,
            # match the registered ext_dedup_canonical_lsh shape (r07:
            # star edges — linear candidate volume; probe with
            # SCOPE=all to reproduce the old self-join numbers)
            candidate_scope=os.environ.get("SCOPE", "star"),
        )
        t_cand = time.time() - t0  # bucket sizing + distinct-candidate count

        from pyspark import StorageLevel

        pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
        t0 = time.time()
        n_pairs = pairs.count()
        t_verify = time.time() - t0

        cc_stats: dict = {}
        t0 = time.time()
        comp = dedup.connected_components(
            pairs, reps.select(F.col("doc_id")), id_col="doc_id",
            stats=cc_stats,
        )
        n_keep = (
            comp.groupBy("cluster_id").count().count()
        )
        t_cc = time.time() - t0

        print(
            json.dumps(
                {
                    "sf_dir": d,
                    "n_docs": n_docs,
                    "n_reps": n_reps,
                    "bucket_join_work": lsh_stats.get("bucket_join_work"),
                    "max_bucket_size": lsh_stats.get("max_bucket_size"),
                    "candidates_distinct": lsh_stats.get(
                        "candidates_distinct"
                    ),
                    "verified_pairs": n_pairs,
                    "cc_iterations": cc_stats.get("iterations"),
                    "keep_rows": n_keep,
                    "t_collapse": round(t_collapse, 1),
                    "t_cand": round(t_cand, 1),
                    "t_verify": round(t_verify, 1),
                    "t_cc": round(t_cc, 1),
                }
            ),
            flush=True,
        )
        pairs.unpersist()
        dedup.release_collapse_caches()
        spark.catalog.clearCache()
    return 0


if __name__ == "__main__":
    sys.exit(main())
