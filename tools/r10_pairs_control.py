"""Same-day pairs-vs-grouped A/B control at an inflated octave (VERDICT
r09 #1/#7): re-runs a canonical pipeline with ``verify="pairs"`` — the
r09 per-pair verify-join shape — so the grouped default's octave walls
(measured by tools/dedup_ladder.py in its own solo process) have a
same-host, same-day control instead of a cross-round citation. One
process per invocation, min-of-two, same methodology as the ladder.

Usage: python tools/r10_pairs_control.py DIR QUERY [--runs 2]
  QUERY in {dedup, decon}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir, query = sys.argv[1], sys.argv[2]
    runs = int(sys.argv[4]) if len(sys.argv) > 4 and sys.argv[3] == "--runs" else 2

    from kafka_etl_automation_spark.catalog import load_tables
    from kafka_etl_automation_spark.operators import curation, dedup
    from kafka_etl_automation_spark.session import get_spark

    spark = get_spark("pairs-control")
    docs = load_tables(spark, sf_dir, names=("documents",))["documents"]

    def run():
        if query == "dedup":
            return dedup.canonical_keep_list(
                docs,
                pair_source=lambda reps: dedup.minhash_lsh_pairs(
                    reps, n=3, num_hashes=64, bands=16, threshold=0.5,
                    collapse_exact=False, candidate_scope="star",
                    verify="pairs",
                ),
            ).count()
        return curation.decontaminate_canonical_lsh(
            docs, verify="pairs"
        ).count()

    walls, rows = [], None
    for _ in range(runs):
        t0 = time.time()
        rows = run()
        walls.append(round(time.time() - t0, 1))
        spark.catalog.clearCache()
    print(
        json.dumps(
            {
                "control": f"{query}_verify_pairs",
                "sf_dir": sf_dir,
                "rows": rows,
                "wall_sec": min(walls),
                "runs": walls,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
